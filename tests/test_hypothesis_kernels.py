"""Property-based (hypothesis) parity: engine kernels == oracle on
generated inputs. Pure-Python/numpy — no Spark session needed."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

import oracle
from sparkextract import kernels

coord = st.floats(min_value=0, max_value=2000, allow_nan=False, width=32)


@st.composite
def bboxes(draw, max_n=12):
    n = draw(st.integers(min_value=0, max_value=max_n))
    out = []
    for _ in range(n):
        x0, y0 = draw(coord), draw(coord)
        w = draw(st.floats(min_value=1, max_value=300, allow_nan=False))
        h = draw(st.floats(min_value=1, max_value=80, allow_nan=False))
        out.append([x0, y0, x0 + w, y0 + h])
    return out


@given(bboxes())
@settings(max_examples=200, deadline=None)
def test_bubble_pass_prop(boxes):
    want = oracle.sorted_boxes([list(b) for b in boxes])
    rows = [[float(v) for v in b] for b in boxes]
    got = [rows[i] for i in kernels.bubble_pass(rows)]
    assert got == want


@given(bboxes())
@settings(max_examples=200, deadline=None)
def test_merge_det_boxes_prop(boxes):
    srt = oracle.sorted_boxes([list(b) for b in boxes])
    want = oracle.merge_det_boxes([list(b) for b in srt])
    got = kernels.merge_det_boxes([[float(v) for v in b] for b in srt])
    assert got == want


@given(bboxes(max_n=8), bboxes(max_n=4))
@settings(max_examples=200, deadline=None)
def test_split_by_masks_prop(boxes, masks):
    want = oracle.update_det_boxes(
        [list(b) for b in boxes], [list(m) for m in masks]
    )
    got = kernels.split_by_masks([[float(v) for v in b] for b in boxes],
                                 [[float(v) for v in m] for m in masks])
    assert got == want


span_type = st.sampled_from(["text", "inline", "isolated", "footnote", "ignore-formula"])
content = st.text(
    alphabet=st.characters(
        codec="utf-8", categories=("L", "N", "P", "S", "Z"), max_codepoint=0x9FFF
    ),
    max_size=20,
)


@st.composite
def spans(draw, max_n=10):
    n = draw(st.integers(min_value=0, max_value=max_n))
    out = []
    for _ in range(n):
        x0 = draw(coord)
        y0 = draw(st.sampled_from([100.0, 104.0, 140.0, 141.0, 180.0]))
        out.append(
            {
                "type": draw(span_type),
                "bbox": [x0, y0, x0 + draw(st.floats(1, 200, allow_nan=False)),
                         y0 + draw(st.sampled_from([20.0, 25.0, 30.0]))],
                "content": draw(content),
            }
        )
    return out


@given(spans(), st.booleans())
@settings(max_examples=200, deadline=None)
def test_merge_para_prop(sp, interline):
    blk = {"type": "isolate_formula" if interline else "plain text",
           "spans": [dict(s, bbox=list(s["bbox"])) for s in sp]}
    want = oracle.merge_para_with_text(oracle.fix_block(blk))
    got = kernels.merge_para(
        [s["type"] for s in sp],
        [s["content"] for s in sp],
        np.array([s["bbox"] for s in sp], dtype=float).reshape(-1, 4),
        np.arange(len(sp)),
        is_interline=interline,
    )
    assert got == want


@given(st.text(max_size=60))
@settings(max_examples=300, deadline=None)
def test_latex_and_escape_prop(s):
    assert kernels.latex_rm_whitespace(s) == oracle.latex_rm_whitespace(s)
    assert kernels.md_escape(s) == oracle.md_escape(s)
    assert ("zh" if kernels.is_zh(s) else "en") == oracle.detect_lang(s)


@given(
    st.integers(1, 24), st.integers(1, 24), st.sampled_from([1, 2, 3, 4]),
    st.integers(0, 2**32 - 1),
)
@settings(max_examples=60, deadline=None)
def test_png_roundtrip_prop(h, w, ch, seed):
    from sparkextract import multimodal

    rng = np.random.default_rng(seed)
    arr = rng.integers(0, 256, size=(h, w, ch), dtype=np.uint8)
    assert (multimodal.decode_png(multimodal.encode_png(arr)) == arr).all()


@given(st.lists(st.text(max_size=30), max_size=8))
@settings(max_examples=200, deadline=None)
def test_angle_cls_prop(contents):
    from sparkextract.ocr import angle_cls

    got = angle_cls(contents)
    for raw, out in zip(contents, got):
        assert out == oracle.angle_cls(raw)
        if not raw.startswith("@rot180 "):
            assert out == raw


@given(st.integers(1, 20), st.integers(1, 20), st.integers(0, 2**32 - 1))
@settings(max_examples=40, deadline=None)
def test_gif_roundtrip_prop(h, w, seed):
    from sparkextract import multimodal

    rng = np.random.default_rng(seed)
    g = rng.integers(0, 256, size=(h, w), dtype=np.uint8)
    got = multimodal.decode_gif(multimodal.encode_gif_gray(g))
    assert (got[:, :, 0] == g).all()
