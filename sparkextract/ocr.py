"""Stage 2 — per-page OCR merge layer (M6-M9, O2, O7, J2, P3).

The reference runs OCR per cropped layout region with formula masks
(pdf2markdown.py:195-256 + paddle_ocr.py:388-450). The det-box geometry
pipeline — (y0,x0) sort + 10px bubble pass (O2), line merge (O7), formula
mask x-interval subtraction (J2) — is a sequential fold per region; the
containment tests around it are not. ``ocr_page_arrays`` runs both for
many pages at once: region×raw and box×raw containment over same-page
pair arrays, the folds per region. The staged pipeline calls it once per
``applyInPandas`` group, the fused batch kernel once per Arrow batch.
One implementation, two call sites.

Output: the final ``text`` span rows, with ``det_order`` continuing after
the page's model detections — the reference's layout_dets append order
(pdf2markdown.py:251-256).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import kernels, schema

_PAD = float(schema.OCR_PAD)

ROT_MARK = "@rot180 "


def angle_cls(contents: list[str]) -> list[str]:
    """M7 angle classification (paddle_ocr.py:428-433: use_angle_cls flips
    180°-rotated crops before recognition). Deterministic stand-in: the
    payload marks rotated content with ``@rot180 `` + the reversed string;
    the classifier detects the marker and un-rotates (strip + reverse)."""
    return [
        c[len(ROT_MARK):][::-1] if c.startswith(ROT_MARK) else c
        for c in contents
    ]


def _seq_segment_sum(vals: np.ndarray, starts: np.ndarray,
                     counts: np.ndarray) -> np.ndarray:
    """Left-to-right float sum of each segment ``vals[s:s+c]`` — the
    reference's ``sum()`` to the last bit (``np.add.reduceat`` and
    ``np.mean`` may sum pairwise). One vector step per segment position:
    segments sorted longest first, so step k adds to a prefix."""
    order = np.argsort(-counts, kind="stable")
    cnt, st = counts[order], starts[order]
    acc = np.zeros(len(counts))
    for k in range(int(cnt[0]) if len(cnt) else 0):
        n = int(np.searchsorted(-cnt, -k, side="left"))  # segments longer than k
        acc[:n] += vals[st[:n] + k]
    out = np.empty(len(counts))
    out[order] = acc
    return out


def ocr_page_arrays(
    region_boxes: np.ndarray,  # (n,4) OCR-able regions, by page then det_order
    masks: np.ndarray,  # (m,4) formula masks (int coords as float), by page
    raw_boxes: np.ndarray,  # (r,4) raw text dets, by page then det_idx
    raw_scores: np.ndarray,  # (r,)
    raw_contents,  # r strings
    use_angle_cls: bool = True,
    region_page: np.ndarray | None = None,  # page id per row; omitted = one page
    mask_page: np.ndarray | None = None,
    raw_page: np.ndarray | None = None,
) -> tuple[np.ndarray, list, list, np.ndarray]:
    """OCR merge for every page of a batch in one pass →
    (boxes (k,4) [x0,y0,x1,y1], scores, contents, page ids), in emission
    order: by page, region, then merged line box.

    Centre containment (region × raw) and the ``cons`` step (merged box ×
    region raw: centre containment, (centre_x, det_idx) order,
    sequential-sum mean score, ``DROP_SCORE`` cut) run over same-page pair
    arrays; only the sequential folds — bubble pass, line merge, mask
    split — run per region."""
    def pages(seg, n):
        return np.zeros(n, np.int64) if seg is None else np.asarray(seg, np.int64)

    region_page = pages(region_page, len(region_boxes))
    mask_page = pages(mask_page, len(masks))
    raw_page = pages(raw_page, len(raw_boxes))
    none = (np.empty((0, 4)), [], [], np.empty(0, np.int64))
    if len(raw_boxes) == 0 or len(region_boxes) == 0:
        return none
    n_pages = int(max(region_page.max(), raw_page.max(),
                      mask_page.max() if len(mask_page) else 0)) + 1
    contents = list(raw_contents)
    if use_angle_cls:
        contents = angle_cls(contents)
    rb = region_boxes

    # region × raw centre containment, in page coordinates
    pr, pw = kernels.segment_pairs(region_page, raw_page, n_pages)
    cx = (raw_boxes[pw, 0] + raw_boxes[pw, 2]) / 2.0
    cy = (raw_boxes[pw, 1] + raw_boxes[pw, 3]) / 2.0
    hit = (rb[pr, 0] <= cx) & (cx <= rb[pr, 2]) & (rb[pr, 1] <= cy) & (cy <= rb[pr, 3])
    pr, pw = pr[hit], pw[hit]  # region-major, raws in det_idx order
    if len(pr) == 0:
        return none
    shift = rb[:, [0, 1, 0, 1]] - _PAD
    crop = raw_boxes[pw] - shift[pr]

    # masks in crop space, dropped when wholly outside the padded crop
    mr, mm = kernels.segment_pairs(region_page, mask_page, n_pages)
    adj = masks[mm] - shift[mr]
    nw = rb[:, 2] - rb[:, 0] + 2 * _PAD
    nh = rb[:, 3] - rb[:, 1] + 2 * _PAD
    ok = ~((adj[:, 2] < 0) | (adj[:, 3] < 0) | (adj[:, 0] > nw[mr]) | (adj[:, 1] > nh[mr]))
    adj, mr = adj[ok], mr[ok]

    # sequential folds, one region at a time, on Python-float rows
    regions = np.arange(len(rb) + 1)
    raw_at = np.searchsorted(pr, regions).tolist()
    mask_at = np.searchsorted(mr, regions).tolist()
    crop_rows, adj_rows = crop.tolist(), adj.tolist()
    merged: list = []
    merged_n: list[int] = []
    folded = np.unique(pr)
    for r in folded.tolist():
        rows = crop_rows[raw_at[r]:raw_at[r + 1]]
        boxes = kernels.merge_det_boxes([rows[i] for i in kernels.bubble_pass(rows)])
        # reference: `if mfd_res:` (paddle_ocr.py:414)
        boxes = kernels.split_by_masks(boxes, adj_rows[mask_at[r]:mask_at[r + 1]])
        merged += boxes
        merged_n.append(len(boxes))
    mreg = np.repeat(folded, merged_n)
    mb = np.array(merged, dtype=np.float64).reshape(-1, 4)

    # cons: the region's raws whose crop-space centre lies in the box
    ccx = (crop[:, 0] + crop[:, 2]) / 2.0
    ccy = (crop[:, 1] + crop[:, 3]) / 2.0
    bi, pi = kernels.segment_pairs(mreg, pr, len(rb))
    x, y = ccx[pi], ccy[pi]
    inside = (mb[bi, 0] <= x) & (x <= mb[bi, 2]) & (mb[bi, 1] <= y) & (y <= mb[bi, 3])
    bi, pi = bi[inside], pi[inside]
    o = np.lexsort((pi, ccx[pi], bi))  # (center_x, det_idx) within a box
    bi, pi = bi[o], pi[o]
    cnt = np.bincount(bi, minlength=len(mb))
    start = np.cumsum(cnt) - cnt
    total = _seq_segment_sum(raw_scores[pw[pi]], start, cnt)
    score = np.divide(total, cnt, out=np.zeros(len(mb)), where=cnt > 0)
    keep = ~(score < schema.DROP_SCORE)

    joined = [contents[j] for j in pw[pi].tolist()]
    out_contents = [
        " ".join(joined[s:s + c])
        for s, c in zip(start[keep].tolist(), cnt[keep].tolist())
    ]
    out_scores = [round(v, 2) for v in score[keep].tolist()]
    out_boxes = mb[keep] + shift[mreg[keep]]
    return out_boxes, out_scores, out_contents, region_page[mreg[keep]]


def _ocr_group(pdf: pd.DataFrame) -> pd.DataFrame:
    """applyInPandas kernel over a salted-conversation group: one
    ``ocr_page_arrays`` pass over all of the group's (turn, page) slices
    (one pandas frame per GROUP is applyInPandas' own overhead — keep
    groups coarse, work in arrays)."""
    cols = [f.name for f in schema.DETECTIONS.fields]
    srt = pdf.sort_values(
        ["turn_idx", "page_seq", "branch", "det_idx"], kind="stable"
    )
    turn = srt["turn_idx"].to_numpy(np.int64)
    pseq = srt["page_seq"].to_numpy(np.int64)
    branch = srt["branch"].to_numpy(np.int64)
    dord = srt["det_order"].to_numpy(np.int64)
    boxes = srt[["x0", "y0", "x1", "y1"]].to_numpy(np.float64)
    score = srt["score"].to_numpy(np.float64)
    content = srt["content"].to_numpy(object)
    cat = srt["category"].to_numpy(object)
    if len(turn) == 0:
        return pd.DataFrame(columns=cols)
    first = np.r_[True, (turn[1:] != turn[:-1]) | (pseq[1:] != pseq[:-1])]
    page = np.cumsum(first) - 1
    first = np.flatnonzero(first)

    regions = np.flatnonzero((branch == 0) & np.isin(cat, schema.OCR_REGION_CLASSES))
    regions = regions[np.lexsort((dord[regions], page[regions]))]
    # within a page rows are sorted by (branch, det_idx): raws come in
    # det_idx order as the fake detector requires (DESIGN.md §2)
    masks = np.flatnonzero(branch == 1)
    raws = np.flatnonzero(branch == 2)
    tboxes, tscores, tcontents, tpage = ocr_page_arrays(
        boxes[regions], boxes[masks], boxes[raws], score[raws],
        content[raws].tolist(),
        region_page=page[regions], mask_page=page[masks], raw_page=page[raws],
    )
    if len(tpage) == 0:
        return pd.DataFrame(columns=cols)
    # OCR spans continue det_order after the page's model dets
    offset = np.full(len(first), -1, np.int64)
    model = branch < 2
    np.maximum.at(offset, page[model], dord[model])
    nth = np.arange(len(tpage)) - np.searchsorted(tpage, tpage)
    row = srt.iloc[first[tpage]]
    return pd.DataFrame({
        "conv_id": pdf["conv_id"].iat[0],
        "turn_idx": row["turn_idx"].to_numpy(np.int64),
        "page_seq": row["page_seq"].to_numpy(np.int64),
        "page_no": row["page_no"].to_numpy(np.int64),
        "page_w": row["page_w"].to_numpy(np.float64),
        "page_h": row["page_h"].to_numpy(np.float64),
        "det_idx": -1,
        "det_order": offset[tpage] + 1 + nth,
        "branch": 2,
        "category": "text",
        "score": tscores,
        "x0": tboxes[:, 0], "y0": tboxes[:, 1], "x1": tboxes[:, 2], "y1": tboxes[:, 3],
        "content": tcontents,
    })[cols]


def ocr_crop_assign(detections: DataFrame) -> DataFrame:
    """P1 region crop + the region×raw center-containment join
    (pdf2markdown.py:195-226 + paddle_ocr shape): for every OCR-able
    region, the raw text dets whose center falls inside it, with their
    crop-space coordinates (shifted by the region origin, padded 25px).
    This is the SQL-expressible prefix of the OCR merge stage — pure
    Catalyst theta join, DuckDB-twinned (tasks.ocr_crop_assign_sql);
    the sequential bubble/merge folds stay in ``ocr_page_arrays``."""
    pad = F.lit(_PAD)
    regions = detections.filter(
        (F.col("branch") == 0) & F.col("category").isin(schema.OCR_REGION_CLASSES)
    ).select(
        "conv_id", "turn_idx", "page_seq",
        F.col("det_order").alias("region_order"),
        F.col("x0").alias("rx0"), F.col("y0").alias("ry0"),
        F.col("x1").alias("rx1"), F.col("y1").alias("ry1"),
    )
    raws = detections.filter(F.col("branch") == 2).select(
        F.col("conv_id").alias("r_conv"), F.col("turn_idx").alias("r_turn"),
        F.col("page_seq").alias("r_page"),
        F.col("det_idx").alias("raw_idx"), "x0", "y0", "x1", "y1", "score",
    )
    cx = (F.col("x0") + F.col("x1")) / 2
    cy = (F.col("y0") + F.col("y1")) / 2
    joined = regions.join(
        raws,
        (F.col("r_conv") == F.col("conv_id"))
        & (F.col("r_turn") == F.col("turn_idx"))
        & (F.col("r_page") == F.col("page_seq"))
        & cx.between(F.col("rx0"), F.col("rx1"))
        & cy.between(F.col("ry0"), F.col("ry1")),
    )
    return joined.select(
        "conv_id", "turn_idx", "page_seq", "region_order", "raw_idx",
        (F.col("x0") - F.col("rx0") + pad).alias("crop_x0"),
        (F.col("y0") - F.col("ry0") + pad).alias("crop_y0"),
        (F.col("x1") - F.col("rx0") + pad).alias("crop_x1"),
        (F.col("y1") - F.col("ry0") + pad).alias("crop_y1"),
        "score",
    )


def ocr_text_spans(detections: DataFrame, salt: int = 16) -> DataFrame:
    """detections → final OCR text span rows (branch 2, DETECTIONS schema).

    Catalyst pre-filter shrinks the shuffle to exactly the rows the kernel
    needs: OCR-able regions (pdf2markdown.py:209), formula masks, raw dets.
    Grouping key = (conv_id, salted turn bucket): coarse enough to
    amortize per-group overhead, salted so one huge conversation spreads
    over ``salt`` groups (pages never split — page ⊂ turn ⊂ bucket)."""
    need = detections.filter(
        (F.col("branch") == 2)
        | (F.col("branch") == 1)
        | ((F.col("branch") == 0) & F.col("category").isin(schema.OCR_REGION_CLASSES))
    ).withColumn("salt", F.pmod(F.hash("turn_idx"), F.lit(salt)))
    return (
        need.groupBy("conv_id", "salt")
        .applyInPandas(lambda pdf: _ocr_group(pdf), schema=schema.DETECTIONS)
    )
