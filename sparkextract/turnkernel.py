"""Batch extraction kernel for the fused pipeline (fused.py).

Runs the post-detection stages — MFR (F1), OCR merge (O2/O7/J2), span→block
fill (J1), line/paragraph assembly (O3/A2), reading order (O1), markdown
emit (A3/A4) — for EVERY turn of one Arrow batch in one pass over plain
numpy arrays. Per-turn and per-page calls would repeat dozens of tiny
numpy dispatches ~3k times per batch, which costs more than the work, so:

- one lexsort of all detection rows by (conv, turn, page_no, page_seq,
  det order) gives the turn and page segments;
- F1 runs once per distinct formula string of the batch;
- OCR containment, the J1 fill and the O1 keys compare same-page pair
  arrays built from per-page counts (``kernels.segment_pairs``), never a
  dense matrix across the batch;
- only the genuinely sequential folds run per group: bubble pass, line
  merge and mask split per OCR region (``ocr.ocr_page_arrays``), and
  paragraph assembly per block (``kernels.merge_para``).

Why this exists: every turn is independent (SURVEY.md §3.1), so the
scale-optimal plan is parse+extract fused in one narrow mapInPandas —
zero shuffles before the final (conv_id, turn_idx) ordering window. The
staged pipeline (pipeline.extract) keeps each operator as a first-class
relational op and shares ``ocr_page_arrays``; this kernel is the
production fast path. Both must match tests/oracle.py exactly.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from . import kernels, schema
from .ocr import ocr_page_arrays

_SPAN_CATS = frozenset(["inline", "text", "isolated"])
_FIX = frozenset(schema.FIX_BLOCK_TYPES)
_OCR_REGION = frozenset(schema.OCR_REGION_CLASSES)
_PLAIN = frozenset(["plain text", "figure_caption", "table_caption"])


def _fill_first_wins(sboxes: np.ndarray, span_page: np.ndarray,
                     bboxes: np.ndarray, block_page: np.ndarray,
                     n_pages: int) -> np.ndarray:
    """J1 (merge_blocks_and_spans.py:111-155) for a whole batch: for each
    span, the index into ``bboxes`` of the earliest same-page block with
    overlap_area/span_area > FILL_RATIO, else -1. ``block_page`` must be
    sorted; blocks keep their page order."""
    out = np.full(len(sboxes), -1, dtype=np.int64)
    si, bi = kernels.segment_pairs(span_page, block_page, n_pages)
    s, b = sboxes[si], bboxes[bi]
    ox = np.minimum(s[:, 2], b[:, 2]) - np.maximum(s[:, 0], b[:, 0])
    oy = np.minimum(s[:, 3], b[:, 3]) - np.maximum(s[:, 1], b[:, 1])
    inter = np.where((ox >= 0) & (oy >= 0), ox * oy, 0.0)
    area = (s[:, 2] - s[:, 0]) * (s[:, 3] - s[:, 1])
    ratio = np.divide(inter, area, out=np.zeros_like(inter), where=area > 0)
    hit = ratio > schema.FILL_RATIO
    si, bi = si[hit], bi[hit]
    # pairs are span-major with blocks ascending: a span's first hit is
    # its lowest qualifying block
    first = np.r_[True, si[1:] != si[:-1]] if len(si) else np.zeros(0, bool)
    out[si[first]] = bi[first]
    return out


def _in(cats: np.ndarray, members) -> np.ndarray:
    """Category membership: one hash pass, then a lookup per distinct value."""
    codes, uniq = pd.factorize(cats)
    return np.array([u in members for u in uniq], dtype=bool)[codes]


def _bounds(sorted_ids: np.ndarray, n: int) -> list[int]:
    """Start offsets of ids 0..n in a sorted id array (n+1 entries)."""
    return np.searchsorted(sorted_ids, np.arange(n + 1)).tolist()


def run_turn_arrays(
    conv: np.ndarray,  # object; per parsed row, any row order
    turn: np.ndarray,
    page_no: np.ndarray,
    page_seq: np.ndarray,
    branch: np.ndarray,  # -1 = @page marker row
    det_order: np.ndarray,
    det_idx: np.ndarray,  # payload order — raw-det tiebreak (paddle_ocr.py)
    category: np.ndarray,  # object
    score: np.ndarray,
    boxes: np.ndarray,  # (n,4)
    content: np.ndarray,  # object
) -> tuple[list, list, list[str], list[list[dict]]]:
    """One batch's parsed detection rows → per turn (conv_ids, turn_idxs,
    main_texts, spans), spans as lists of dicts with keys type, x0, y0,
    x1, y1, content, score."""
    if len(branch) == 0:
        return [], [], [], []
    # --- segments: rows by (conv, turn, A4 page order, det order); raws
    # by det_idx, the order ocr_page_arrays requires. A page's marker
    # (det_order -1) sorts first, so counting markers numbers the pages.
    conv_code = pd.factorize(conv, sort=True)[0]
    is_raw = branch == 2
    o = np.lexsort((np.where(is_raw, det_idx, det_order), is_raw,
                    page_seq, page_no, turn, conv_code))
    conv, turn, branch = conv[o], turn[o], branch[o]
    category, score, boxes, content = category[o], score[o], boxes[o], content[o]
    conv_code = conv_code[o]
    marker = branch == -1
    page = np.cumsum(marker) - 1
    n_pages = int(marker.sum())
    newturn = np.r_[True, (conv_code[1:] != conv_code[:-1]) | (turn[1:] != turn[:-1])]
    turn_of_page = (np.cumsum(newturn) - 1)[marker]
    n_turns = int(newturn.sum())

    # --- F1 (MFR) once per distinct formula string of the batch
    formula = np.flatnonzero(branch == 1)
    if len(formula):
        vals = content[formula].tolist()
        memo = {s: kernels.latex_rm_whitespace(s) for s in dict.fromkeys(vals)}
        content = content.copy()
        content[formula] = np.array([memo[s] for s in vals], dtype=object)

    # --- OCR merge: regions = OCR-able layout dets (pdf2markdown.py:209)
    region = np.flatnonzero((branch == 0) & _in(category, _OCR_REGION))
    mask = formula
    raw = np.flatnonzero(branch == 2)
    tboxes, tscores, tcontents, tpage = ocr_page_arrays(
        boxes[region], boxes[mask], boxes[raw], score[raw], content[raw],
        region_page=page[region], mask_page=page[mask], raw_page=page[raw],
    )

    # --- final page dets: model dets in det_order, then OCR text spans
    model = np.flatnonzero((branch == 0) | (branch == 1))
    n_ocr = len(tpage)
    fpage = np.r_[page[model], tpage]
    fo = np.argsort(fpage, kind="stable")
    fpage = fpage[fo]
    fcat = np.r_[category[model], np.full(n_ocr, "text", dtype=object)][fo]
    fbox = np.concatenate([boxes[model], tboxes.reshape(-1, 4)])[fo]
    fcontent = np.r_[content[model], np.array(tcontents, dtype=object)][fo]
    fscore = np.r_[score[model], np.asarray(tscores, dtype=np.float64)][fo]

    # spans pool + block list (pdf2markdown.py:272-298); a row's position
    # in this final order is its span-pool order
    iso = fcat == "isolated"
    span_row = _in(fcat, _SPAN_CATS)
    spans = np.flatnonzero(span_row)
    blocks = np.flatnonzero(~span_row | iso)
    bcat = fcat[blocks].copy()
    bcat[iso[blocks]] = "isolate_formula"
    bfix = _in(bcat, _FIX)
    fixed = blocks[bfix]

    # --- J1 fill, then A2 paragraph text per fixed block
    assign = _fill_first_wins(fbox[spans], fpage[spans], fbox[fixed],
                              fpage[fixed], n_pages)
    got = assign >= 0
    by_block = np.argsort(assign[got], kind="stable")
    mine = spans[got][by_block]
    at = _bounds(assign[got][by_block], len(fixed))
    m_cat, m_content = fcat[mine].tolist(), fcontent[mine].tolist()
    m_box = fbox[mine]
    interline = (bcat[bfix] == "isolate_formula").tolist()
    fixed_text = [""] * len(fixed)
    for k in np.flatnonzero(np.diff(at)).tolist():
        s, e = at[k], at[k + 1]
        fixed_text[k] = kernels.merge_para(
            m_cat[s:e], m_content[s:e], m_box[s:e], mine[s:e],
            is_interline=interline[k],
        )
    btext = np.full(len(blocks), "", dtype=object)
    btext[bfix] = np.array(fixed_text, dtype=object)

    # --- O1 reading order: untouched before fixed on ties, then pool
    # order (DESIGN §3); one lexsort for every block of the batch
    bbox = fbox[blocks]
    key = bbox[:, 1] * schema.READ_ORDER_W + bbox[:, 0]
    bpage = fpage[blocks]
    ro = np.lexsort((blocks, bfix, key, bpage))
    cats = bcat[ro].tolist()
    texts = btext[ro].tolist()
    bpage = bpage[ro]

    # --- A3 page markdown, A4 "\n\n" page join per turn
    piece = [
        "\n# " + t + "\n" if c == "title"
        else "\n" + t + "\n" if c == "isolate_formula"
        else " " + t + " " if c in _PLAIN
        else ""
        for c, t in zip(cats, texts)
    ]
    pat = _bounds(bpage, n_pages)
    page_md = ["".join(piece[pat[p]:pat[p + 1]]) for p in range(n_pages)]
    tat = _bounds(turn_of_page, n_turns)
    main_text = ["\n\n".join(page_md[tat[t]:tat[t + 1]]) for t in range(n_turns)]

    x0, y0, x1, y1 = bbox[ro].T.tolist()
    recs = [
        {"type": c, "x0": a, "y0": b, "x1": d, "y1": e, "content": t, "score": sc}
        for c, a, b, d, e, t, sc in zip(cats, x0, y0, x1, y1, texts,
                                        fscore[blocks][ro].tolist())
    ]
    bat = [pat[p] for p in tat]  # turn t's blocks: pages tat[t]..tat[t+1]
    turn_spans = [recs[bat[t]:bat[t + 1]] for t in range(n_turns)]
    first = np.flatnonzero(newturn)
    return conv[first].tolist(), turn[first].tolist(), main_text, turn_spans
