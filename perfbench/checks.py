"""Correctness checks against oracles independent of the engine.

Extraction output is compared per turn with ``tests/oracle.py`` (pure
Python, no Spark): ``turn_seq``, ``main_text`` and the canonical span
rendering of ``__spark_entry__._canonical_extract`` (md5 over
``type|x0|y0|x1|y1|content|score`` with coordinates in truncated
centi-units and the score rounded half-up, spans joined by chr(31)).
Curation output is compared with its DuckDB twin as a multiset of rows,
columns matched by name, floats rounded to 9 places. The lineage
commit's row counts are compared with the input and the oracle.
"""

from __future__ import annotations

import hashlib
import importlib.util
import math
import os
from collections import Counter, defaultdict
from decimal import ROUND_HALF_UP, Decimal


def load_oracle(root: str):
    path = os.path.join(root, "tests", "oracle.py")
    spec = importlib.util.spec_from_file_location("sparkextract_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _half_up(v: float) -> int:
    return int(Decimal(repr(v)).quantize(Decimal(1), rounding=ROUND_HALF_UP))


def spans_fp(spans) -> str:
    rendered = []
    for sp in spans:
        fields = [sp["type"]] + [str(int(sp[k] * 100)) for k in ("x0", "y0", "x1", "y1")]
        if sp["content"] is not None:
            fields.append(sp["content"])
        fields.append(str(_half_up(sp["score"] * 100)))
        rendered.append("|".join(fields))
    return hashlib.md5("\x1f".join(rendered).encode()).hexdigest()


def expected_turns(oracle, transcripts) -> dict:
    """(conv_id, turn_idx) -> (turn_seq, main_text, spans_fp) per the oracle."""
    gold = oracle.extract_corpus(transcripts)
    by_conv = defaultdict(list)
    for conv, turn in gold:
        by_conv[conv].append(turn)
    seq = {}
    for conv, turns in by_conv.items():
        for i, t in enumerate(sorted(turns)):
            seq[(conv, t)] = i + 1
    return {k: (seq[k], v["main_text"], spans_fp(v["spans"])) for k, v in gold.items()}


def extracted_mismatches(expected: dict, got) -> int:
    """Turns missing, extra or different in ``got`` (a frame of
    conv_id, turn_idx, turn_seq, main_text, spans_fp)."""
    seen = {}
    for r in got.itertuples(index=False):
        seen[(r.conv_id, int(r.turn_idx))] = (int(r.turn_seq), r.main_text, r.spans_fp)
    bad = len(set(expected) ^ set(seen))
    bad += sum(1 for k, v in seen.items() if k in expected and expected[k] != v)
    return bad


def kernel_mismatches(expected: dict, batches) -> int:
    """Like ``extracted_mismatches`` for ``fused._extract_batch`` output
    frames (no ``turn_seq``: the ordering window runs in Spark)."""
    seen = {}
    for b in batches:
        for r in b.itertuples(index=False):
            seen[(r.conv_id, int(r.turn_idx))] = (r.main_text, spans_fp(r.spans))
    want = {k: v[1:] for k, v in expected.items()}
    bad = len(set(want) ^ set(seen))
    bad += sum(1 for k, v in seen.items() if k in want and want[k] != v)
    return bad


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9)
    return v


def table_mismatches(got, want) -> int:
    """Rows of one arrow table missing from the other, as multisets with
    columns matched by name; every row when the column sets differ."""
    if sorted(got.column_names) != sorted(want.column_names):
        return max(got.num_rows, want.num_rows, 1)
    cols = sorted(want.column_names)

    def rows(tbl) -> Counter:
        return Counter(tuple(_norm(d[c]) for c in cols) for d in tbl.to_pylist())

    a, b = rows(got), rows(want)
    return sum(((a - b) + (b - a)).values())
