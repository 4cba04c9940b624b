"""Self-time arithmetic and the tracing shims.

Run: python3 -m pytest perfbench/tests -q
"""

import os
import sys
import types

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import spans  # noqa: E402


def test_self_time_subtracts_child_coverage():
    tree = [
        (0, -1, "A", 0.0, 10.0),
        (1, 0, "B", 1.0, 4.0),
        (2, 0, "C", 5.0, 9.0),
        (3, 2, "D", 6.0, 8.0),
        (4, -1, "A", 20.0, 22.0),
    ]
    st = spans.self_times(tree)
    assert st["A"] == pytest.approx((5.0, 2))
    assert st["B"] == pytest.approx((3.0, 1))
    assert st["C"] == pytest.approx((2.0, 1))
    assert st["D"] == pytest.approx((2.0, 1))
    # self times partition the roots' wall time
    assert sum(v[0] for v in st.values()) == pytest.approx(12.0)


def test_overlapping_and_overhanging_children_count_once():
    tree = [
        (0, -1, "P", 0.0, 10.0),
        (1, 0, "c", 1.0, 5.0),
        (2, 0, "c", 3.0, 7.0),
        (3, 0, "c", 9.0, 12.0),  # clipped to the parent's end
    ]
    assert spans.self_times(tree)["P"][0] == pytest.approx(10.0 - 6.0 - 1.0)


def test_patched_records_parents_and_restores():
    mod = types.SimpleNamespace()
    mod.inner = lambda x: x + 1
    mod.outer = lambda x: mod.inner(x) * 2
    original = (mod.inner, mod.outer)
    tracer = spans.Tracer()
    seen = []
    shims = [(mod, "outer", "m.outer", None),
             (mod, "inner", "m.inner", lambda t, out: seen.append(out))]
    with spans.patched(tracer, shims):
        assert mod.outer(1) == 4
        assert mod.outer(2) == 6
    assert (mod.inner, mod.outer) == original
    assert seen == [2, 3]
    names = [(s[2], s[1]) for s in tracer.spans]
    assert names == [("m.outer", -1), ("m.inner", 0), ("m.outer", -1), ("m.inner", 2)]
    assert all(s[3] <= s[4] for s in tracer.spans)


def test_shim_records_span_when_call_raises():
    tracer = spans.Tracer()

    def boom():
        raise ValueError("x")

    with pytest.raises(ValueError):
        tracer.wrap("boom", boom)()
    assert tracer.spans[0][2] == "boom" and tracer.spans[0][4] >= tracer.spans[0][3]
    assert tracer._stack == []
