"""In-memory span tracer and the kernel timing shims.

A span is (id, parent id, name, start, end); parent -1 marks a root.
Spans stay in memory while the benchmark runs and are written out once,
when the run ends. A layer's self time is its span's duration minus the
part of that interval its child spans cover.

``kernel_shims`` wraps the names the fused engine's callers look up at
call time (module attributes), so a traced pass over
``fused._extract_batch`` attributes time to each kernel without editing
the engine. The shims live only inside ``patched`` and only in this
process: Spark's Python workers never see them.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
from collections import defaultdict


class Tracer:
    def __init__(self) -> None:
        self.spans: list[tuple[int, int, str, float, float]] = []
        self.counts: dict[str, int] = defaultdict(int)
        self._stack: list[int] = []

    def wrap(self, name: str, fn, on_result=None):
        """``fn`` recording one span per call; ``on_result(tracer, out)``
        may add counts from the call's return value."""

        @functools.wraps(fn)
        def shim(*args, **kwargs):
            sid = len(self.spans)
            parent = self._stack[-1] if self._stack else -1
            self.spans.append((sid, parent, name, 0.0, 0.0))
            self._stack.append(sid)
            t0 = time.perf_counter()
            try:
                out = fn(*args, **kwargs)
            finally:
                t1 = time.perf_counter()
                self._stack.pop()
                self.spans[sid] = (sid, parent, name, t0, t1)
            if on_result is not None:
                on_result(self, out)
            return out

        return shim

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for sid, parent, name, t0, t1 in self.spans:
                f.write(json.dumps({"id": sid, "parent": parent, "name": name,
                                    "start": t0, "end": t1}) + "\n")


def _covered(lo: float, hi: float, intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, reach = 0.0, lo
    for s, e in sorted(intervals):
        s, e = max(s, reach), min(e, hi)
        if e > s:
            total += e - s
            reach = e
    return total


def self_times(spans) -> dict[str, tuple[float, int]]:
    """name -> (summed self time in s, calls)."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for _sid, parent, _name, t0, t1 in spans:
        if parent >= 0:
            children[parent].append((t0, t1))
    out: dict[str, list] = defaultdict(lambda: [0.0, 0])
    for sid, _parent, name, t0, t1 in spans:
        acc = out[name]
        acc[0] += (t1 - t0) - _covered(t0, t1, children.get(sid, []))
        acc[1] += 1
    return {k: (v[0], v[1]) for k, v in out.items()}


def _count_dets(tracer: Tracer, dets) -> None:
    tracer.counts["det_rows"] += len(dets)
    if len(dets):
        tracer.counts["formula_dets"] += int((dets["branch"] == 1).sum())


def kernel_shims():
    """(module, attribute looked up by the caller, span name, on_result)."""
    from sparkextract import fused, kernels, turnkernel

    return [
        (fused, "_parse_batch", "parse._parse_batch", _count_dets),
        (fused, "run_turn_arrays", "turnkernel.run_turn_arrays", None),
        (turnkernel, "ocr_page_arrays", "ocr.ocr_page_arrays", None),
        (turnkernel, "_fill_first_wins", "turnkernel._fill_first_wins", None),
        (kernels, "merge_para", "kernels.merge_para", None),
        (kernels, "latex_rm_whitespace", "kernels.latex_rm_whitespace", None),
        (kernels, "nms_keep", "kernels.nms_keep", None),
    ]


@contextlib.contextmanager
def patched(tracer: Tracer, shims):
    saved = [(mod, attr, getattr(mod, attr)) for mod, attr, _n, _r in shims]
    try:
        for mod, attr, name, on_result in shims:
            setattr(mod, attr, tracer.wrap(name, getattr(mod, attr), on_result))
        yield tracer
    finally:
        for mod, attr, fn in saved:
            setattr(mod, attr, fn)
