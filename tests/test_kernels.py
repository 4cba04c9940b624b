"""Kernel ↔ oracle parity on the sequential-fold pieces (no Spark).

The engine kernels (sparkextract/kernels.py, numpy) and the oracle
(tests/oracle.py, row-at-a-time) are independent implementations of the
same cited reference semantics; these tests pin them to each other on
handcrafted edge cases and seeded random boxes.
"""

import random

import numpy as np

import oracle
from sparkextract import kernels


def rand_boxes(rng, n, w=1000, h=1000, min_side=5, max_side=120):
    out = []
    for _ in range(n):
        x0 = rng.uniform(0, w)
        y0 = rng.uniform(0, h)
        out.append([x0, y0, x0 + rng.uniform(min_side, max_side),
                    y0 + rng.uniform(min_side, max_side)])
    return out


def test_latex_rm_whitespace_samples():
    samples = [
        "E = m c ^ { 2 }",
        "\\sum _ { i = 0 } ^ { n } x _ i",
        "\\mathrm { d } x \\, / \\mathrm { d } t",
        "\\operatorname {argmax} _ x f ( x )",
        "a  +  b",
        "x \\ y  z",
        "\\text {hello world} + 1",
        "\\mathbf {A B} \\mathrm {cd}  + 2",
        "",
        "   ",
        "a b c",
    ]
    for s in samples:
        assert kernels.latex_rm_whitespace(s) == oracle.latex_rm_whitespace(s), s


def test_md_escape_and_lang():
    for s in ["a*b `c` ~d~ $e$", "plain", "混合 mixed 文本", ""]:
        assert kernels.md_escape(s) == oracle.md_escape(s)
        assert ("zh" if kernels.is_zh(s) else "en") == oracle.detect_lang(s)


def test_sorted_boxes_bubble():
    rng = random.Random(1)
    for trial in range(50):
        boxes = rand_boxes(rng, rng.randint(0, 15))
        # inject near-ties (dy < 10) to exercise the bubble pass
        if boxes and rng.random() < 0.8:
            b = list(boxes[0])
            boxes.append([b[0] - 50, b[1] + rng.uniform(0, 9), b[2] - 50, b[3]])
        want = oracle.sorted_boxes([list(b) for b in boxes])
        rows = [[float(v) for v in b] for b in boxes]
        got = [rows[i] for i in kernels.bubble_pass(rows)]
        assert got == want, trial


def test_merge_det_boxes():
    rng = random.Random(2)
    for trial in range(50):
        boxes = rand_boxes(rng, rng.randint(0, 20), max_side=200)
        srt = oracle.sorted_boxes([list(b) for b in boxes])
        want = oracle.merge_det_boxes([list(b) for b in srt])
        got = kernels.merge_det_boxes([[float(v) for v in b] for b in srt])
        assert got == want, trial


def test_update_det_boxes():
    rng = random.Random(3)
    for trial in range(50):
        boxes = rand_boxes(rng, rng.randint(1, 10), max_side=300)
        masks = rand_boxes(rng, rng.randint(0, 5), max_side=80)
        want = oracle.update_det_boxes([list(b) for b in boxes],
                                       [list(m) for m in masks])
        got = kernels.split_by_masks([[float(v) for v in b] for b in boxes],
                                     [[float(v) for v in m] for m in masks])
        assert got == want, trial


def test_merge_intervals_remove():
    rng = random.Random(4)
    for _ in range(100):
        masks = [[a := rng.uniform(0, 100), a + rng.uniform(1, 30)] for _ in range(rng.randint(0, 6))]
        lo, hi = 10.0, 90.0
        want = oracle.remove_intervals([lo, hi], [list(m) for m in masks])
        got = [list(t) for t in kernels.subtract_intervals(lo, hi, [tuple(m) for m in masks])]
        assert got == want


def _rand_spans(rng, n):
    spans = []
    for i in range(n):
        t = rng.choices(
            ["text", "inline", "isolated", "footnote", "ignore-formula"],
            weights=[60, 15, 10, 10, 5],
        )[0]
        x0 = rng.uniform(0, 800)
        y0 = rng.choice([100, 103, 140, 180, 181])  # force y-overlap clusters
        c = rng.choice(
            ["hello *world*", "数据 引擎", "$x+y$", "a `b` c", "  pad  ", "",
             "x^2", "$$a^b$$", "2"]
        )
        spans.append({"type": t, "bbox": [x0, y0, x0 + rng.uniform(10, 200),
                                          y0 + rng.choice([20, 25, 30])],
                      "content": c})
    return spans


def test_merge_para_parity():
    rng = random.Random(5)
    for trial in range(100):
        spans = _rand_spans(rng, rng.randint(0, 12))
        for interline in (False, True):
            blk = {"type": "isolate_formula" if interline else "plain text",
                   "spans": [dict(s, bbox=list(s["bbox"])) for s in spans]}
            want = oracle.merge_para_with_text(oracle.fix_block(blk))
            got = kernels.merge_para(
                [s["type"] for s in spans],
                [s["content"] for s in spans],
                np.array([s["bbox"] for s in spans], dtype=float).reshape(-1, 4),
                np.arange(len(spans)),
                is_interline=interline,
            )
            assert got == want, (trial, interline)


def test_nms_parity():
    rng = random.Random(6)
    for trial in range(50):
        dets = [{"idx": i, "category": "c", "score": round(rng.uniform(0.26, 0.99), 2),
                 "bbox": b} for i, b in enumerate(rand_boxes(rng, rng.randint(0, 12),
                                                             w=300, h=300, max_side=150))]
        want = [d["idx"] for d in oracle.nms([dict(d) for d in dets])]
        if dets:
            arr = np.array([d["bbox"] for d in dets], dtype=float)
            order = sorted(range(len(dets)),
                           key=lambda i: (-dets[i]["score"], dets[i]["idx"]))
            got = list(kernels.nms_keep(arr, np.array(order), 0.45))
        else:
            got = []
        assert got == want, trial


def test_angle_cls_hook_changes_output():
    """M7: the rotation hook must be live — disabling it changes the
    content join for marked payloads, enabling it matches the oracle."""
    from sparkextract.ocr import ocr_page_arrays

    regions = np.array([[0.0, 0.0, 700.0, 100.0]])
    masks = np.empty((0, 4))
    raws = np.array([[15.0, 20.0, 300.0, 60.0], [320.0, 20.0, 600.0, 60.0]])
    scores = np.array([0.8, 0.8])
    contents = ["@rot180 nwod edispu", "normal"]
    _, _, on, _ = ocr_page_arrays(regions, masks, raws, scores, contents,
                                  use_angle_cls=True)
    _, _, off, _ = ocr_page_arrays(regions, masks, raws, scores, contents,
                                   use_angle_cls=False)
    assert on != off
    assert any("upside down" in c for c in on)
    assert any("@rot180" in c for c in off)
