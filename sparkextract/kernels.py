"""Per-page numpy kernels used inside vectorized (Arrow-batched) UDFs.

These are the sequential-fold pieces that are *not* relational
(SURVEY.md §7.5): greedy NMS, the 10px bubble pass, line sessionization,
interval subtraction, and byte-exact paragraph assembly. Each runs on a
single page's (or block's) handful of boxes inside mapInPandas /
applyInPandas — per-group cardinality is tiny, total work is linear.
``segment_pairs`` is the batch-wide counterpart: it lays out the
same-page pairs that the containment and fill tests compare.

Semantics are pinned in DESIGN.md with reference file:line citations.
"""

from __future__ import annotations

import re

import numpy as np

# ---------- scalar kernels ----------

_PROT = re.compile(r"(\\(operatorname|mathrm|text|mathbf)\s?\*? {.*?})")
_R1 = re.compile(r"(?!\\ )([\W_^\d])\s+?([\W_^\d])")
_R2 = re.compile(r"(?!\\ )([\W_^\d])\s+?([a-zA-Z])")
_R3 = re.compile(r"([a-zA-Z])\s+?([\W_^\d])")


def latex_rm_whitespace(s: str) -> str:
    """F1 (pdf2markdown.py:23-39): fixpoint whitespace removal."""
    keep = [m[0].replace(" ", "") for m in _PROT.findall(s)]
    s = _PROT.sub(lambda _m: str(keep.pop(0)), s)
    prev = None
    while prev != s:
        prev = s
        s = _R3.sub(r"\1\2", _R2.sub(r"\1\2", _R1.sub(r"\1\2", prev)))
    return prev


def md_escape(s: str) -> str:
    """F3 (merge_blocks_and_spans.py:207-215)."""
    for ch in ("*", "`", "~", "$"):
        s = s.replace(ch, "\\" + ch)
    return s


_CJK = re.compile("[一-鿿]")


def is_zh(s: str) -> bool:
    """F2 (merge_blocks_and_spans.py:195-205)."""
    return _CJK.search(s) is not None


# ---------- geometry kernels (vectorized) ----------

def segment_pairs(a_seg: np.ndarray, b_seg: np.ndarray,
                  n_seg: int) -> tuple[np.ndarray, np.ndarray]:
    """All (i, j) with ``a_seg[i] == b_seg[j]``, i-major and j ascending.

    ``b_seg`` must be sorted (each segment's b rows contiguous). Only
    same-segment pairs are built — the sum of per-segment products, never
    a len(a) × len(b) matrix — from per-segment counts with ``np.repeat``."""
    b_cnt = np.bincount(b_seg, minlength=n_seg)
    b_start = np.cumsum(b_cnt) - b_cnt
    reps = b_cnt[a_seg]
    run_start = np.cumsum(reps) - reps
    ia = np.repeat(np.arange(len(a_seg)), reps)
    ib = np.repeat(b_start[a_seg] - run_start, reps) + np.arange(len(ia))
    return ia, ib


def nms_keep(boxes: np.ndarray, order: np.ndarray, iou_thres: float) -> np.ndarray:
    """M3 greedy NMS. ``order`` = candidate indices pre-sorted by
    (score DESC, det_idx ASC); suppress IoU > iou_thres. Returns kept indices
    in ``order`` sequence. (layout_detection/models/yolo.py:74-80 semantics)
    """
    if len(order) == 0:
        return order
    if len(order) == 2:
        # two-candidate fast path (the common payload shape): identical
        # IEEE arithmetic on Python floats, no numpy dispatch
        i, j = int(order[0]), int(order[1])
        bi, bj = boxes[i].tolist(), boxes[j].tolist()
        ai = (bi[2] - bi[0]) * (bi[3] - bi[1])
        aj = (bj[2] - bj[0]) * (bj[3] - bj[1])
        iw = min(bi[2], bj[2]) - max(bi[0], bj[0])
        ih = min(bi[3], bj[3]) - max(bi[1], bj[1])
        inter = (iw if iw > 0 else 0.0) * (ih if ih > 0 else 0.0)
        union = aj + ai - inter
        iou = inter / max(union, 1e-12) if union > 0 else 0.0
        keep2 = [i] if iou > iou_thres else [i, j]
        return np.asarray(keep2, dtype=np.int64)
    areas = (boxes[:, 2] - boxes[:, 0]) * (boxes[:, 3] - boxes[:, 1])
    kept: list[int] = []
    for i in order:
        if kept:
            k = np.asarray(kept)
            xl = np.maximum(boxes[i, 0], boxes[k, 0])
            yt = np.maximum(boxes[i, 1], boxes[k, 1])
            xr = np.minimum(boxes[i, 2], boxes[k, 2])
            yb = np.minimum(boxes[i, 3], boxes[k, 3])
            inter = np.clip(xr - xl, 0, None) * np.clip(yb - yt, 0, None)
            union = areas[i] + areas[k] - inter
            iou = np.where(union > 0, inter / np.maximum(union, 1e-12), 0.0)
            if (iou > iou_thres).any():
                continue
        kept.append(int(i))
    return np.asarray(kept, dtype=np.int64)


def bubble_pass(rows: list) -> list[int]:
    """O2 (paddle_ocr.py:57-78): stable (y0,x0) sort + 10px adjacent-swap
    pass over [x0,y0,x1,y1] rows of Python floats (identical IEEE doubles,
    no numpy dispatch per compare); returns the row order."""
    idx = sorted(range(len(rows)), key=lambda i: (rows[i][1], rows[i][0]))  # stable
    for i in range(len(rows) - 1):
        for j in range(i, -1, -1):
            a, b = idx[j], idx[j + 1]
            if abs(rows[b][1] - rows[a][1]) < 10 and rows[b][0] < rows[a][0]:
                idx[j], idx[j + 1] = b, a
            else:
                break
    return idx


def y_overlap_gt(b1, b2, thr=0.8) -> bool:
    """F8 (paddle_ocr.py:81-91 / merge_blocks_and_spans.py:7-17).
    Pinned contract (DESIGN §3): min box height <= 0 → no overlap (the
    reference would ZeroDivisionError; tests/oracle.py pins the same
    guard so degenerate payload boxes are defined, not engine-dependent)."""
    ov = min(b1[3], b2[3]) - max(b1[1], b2[1])
    if ov < 0.0:
        ov = 0.0
    den = min(b1[3] - b1[1], b2[3] - b2[1])
    if den <= 0:
        return False
    return ov / den > thr


def merge_det_boxes(rows: list) -> list[list[float]]:
    """O7 (paddle_ocr.py:250-289): y-sessionize into lines (O3 fold) then
    union x-touching boxes per line (O6 fold), on Python-float rows."""
    if not rows:
        return []
    order = sorted(range(len(rows)), key=lambda i: rows[i][1])  # stable
    lines: list[list[int]] = [[order[0]]]
    for i in order[1:]:
        if y_overlap_gt(rows[i], rows[lines[-1][-1]]):
            lines[-1].append(i)
        else:
            lines.append([i])
    out = []
    for line in lines:
        line = sorted(line, key=lambda i: rows[i][0])  # stable x0 sort
        first = rows[line[0]]
        cur = [first[0], first[1], first[2], first[3]]
        for i in line[1:]:
            b = rows[i]
            if cur[2] >= b[0]:  # x-touch → envelope union (paddle_ocr.py:233)
                cur[0], cur[1] = min(cur[0], b[0]), min(cur[1], b[1])
                cur[2], cur[3] = max(cur[2], b[2]), max(cur[3], b[3])
            else:
                out.append(cur)
                cur = [b[0], b[1], b[2], b[3]]
        out.append(cur)
    return out


def subtract_intervals(lo: float, hi: float, masks: list[tuple[float, float]]):
    """O5 + interval subtraction (paddle_ocr.py:108-153)."""
    masks = sorted(masks)
    merged: list[list[float]] = []
    for m0, m1 in masks:
        if merged and merged[-1][1] >= m0:
            merged[-1][1] = max(merged[-1][1], m1)
        else:
            merged.append([m0, m1])
    out = []
    for m0, m1 in merged:
        if m0 > hi or m1 < lo:
            continue
        if lo < m0:
            out.append((lo, m0 - 1))
        lo = max(m1 + 1, lo)
    if lo <= hi:
        out.append((lo, hi))
    return out


def split_by_masks(rows: list, masks: list) -> list:
    """J2 (paddle_ocr.py:156-172): subtract x-intervals of y-overlapping
    formula masks from each text box, on Python-float rows."""
    if not masks:
        return rows
    out = []
    for b in rows:
        xiv = [(m[0], m[2]) for m in masks if y_overlap_gt(b, m)]
        for lo, hi in subtract_intervals(b[0], b[2], xiv):
            out.append([lo, b[1], hi, b[3]])
    return out


# ---------- paragraph assembly (A2) ----------

def merge_para(types: list[str], contents: list[str], boxes: np.ndarray,
               pool_order: np.ndarray, is_interline: bool) -> str:
    """O3 + O4 + A2 for one block (merge_blocks_and_spans.py:19-88,228-268).

    ``pool_order`` is the span-pool position standing in for Python list
    order (the stable-sort tiebreak, SURVEY.md §7.5).
    """
    n = len(types)
    if n == 0:
        return ""
    if not is_interline:  # fix_text_block: isolated → inline (:71-80)
        types = ["inline" if t == "isolated" else t for t in types]
    rows = boxes.tolist()
    porder = pool_order.tolist()
    order = sorted(range(n), key=lambda i: (rows[i][1], porder[i]))  # stable y0
    lines: list[list[int]] = [[order[0]]]
    for i in order[1:]:
        cur = lines[-1]
        if types[i] == "isolated" or any(types[j] == "isolated" for j in cur):
            lines.append([i])
        elif y_overlap_gt(rows[i], rows[cur[-1]]):
            cur.append(i)
        else:
            lines.append([i])
    out = ""
    for line in lines:
        # O4: stable x0 sort over the line's y-order sequence (:54-58)
        line = [line[k] for k in
                sorted(range(len(line)), key=lambda k: (rows[line[k]][0], k))]
        joined = "".join(contents[i].strip() for i in line if types[i] == "text")
        zh = bool(joined) and is_zh(joined)
        for i in line:
            t, c = types[i], ""
            if t == "text":
                c = md_escape(contents[i])
            elif t in ("inline", "ignore-formula"):
                c = f" ${contents[i].strip('$')}$ "
            elif t == "isolated":
                c = f"\n$$\n{contents[i].strip('$')}\n$$\n"
            elif t == "footnote":
                body = contents[i].strip("$")
                c = f" ${body}$ " if "^" in body else f" $^{body}$ "
            if c != "":
                out += c.strip() if zh else c.strip() + " "
    return out
