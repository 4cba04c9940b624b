"""The fused batch kernel against the oracle, without Spark: one Arrow batch
mixing synth turns of three seeds with every hand-written edge payload
must extract exactly as the row-at-a-time oracle does, and each turn's
output must not depend on which turns share its batch or on row order.
Every segment boundary of the batch pass is exercised: empty pages,
det-less turns, pages without OCR regions, turns whose only page is empty
and rows without a payload. The oversized case pushes one turn of ~1,000
pages, one page of ~500 raw dets and a ~1 MB text line through both the
batch kernel and Spark."""

import random

import pandas as pd
import pytest

import oracle
from sparkextract import fused, schema, synth
from sparkextract.fused import extract_fused
from test_edge_payloads import EDGE_TURNS, TS

SEEDS = (7, 123, 2024)

# segment-boundary payloads the synth generator does not produce
BOUNDARY_TURNS = [
    ("only-page-empty", "@page 0 800 600", None),
    ("detless-pages", "@page 1 800 600\n@page 0 800 600", None),
    ("no-regions", "@page 0 800 600\n@det figure|0.9|10|10|700|300|\n"
     "@det table|0.9|10|400|700|500|\n@det text|0.8|20|20|600|60|orphan raw\n"
     "@det inline|0.9|50|420|90|440|q", None),
    ("empty-then-full", "@page 0 800 600\n@page 1 800 600\n"
     "@det plain text|0.9|10|10|700|100|\n@det text|0.8|15|20|600|60|late page",
     None),
    ("no-payload", "just chatter", None),
    # O1 tie: a fixed block earlier in det order than an untouched block
    # at the same reading-order key still emits after it
    ("o1-fixed-tie", "@page 0 800 600\n@det title|0.95|10|10|500|60|\n"
     "@det figure|0.9|10|10|400|300|\n@det text|0.8|12|14|400|52|heading", None),
    # a formula mask below the padded crop is dropped even where it
    # y-overlaps the merged line box: kept, it would split off the
    # low-score raw and drop "wide" from the caption text
    ("mask-outside-crop", "@page 0 800 600\n@det formula_caption|0.95|0|0|800|400|\n"
     "@det plain text|0.9|100|10|700|100|\n@det text|0.3|110|0|600|190|wide\n"
     "@det text|0.9|120|0|200|190|bee\n@det inline|0.9|300|130|340|190|m", None),
]


def _hand_rows(turns, prefix):
    return [
        {"conv_id": f"{prefix}-{name}", "turn_idx": i, "text": text, "tool": tool}
        for i, (name, text, tool) in enumerate(turns)
    ]


def _mixed_batch() -> pd.DataFrame:
    parts = []
    for seed in SEEDS:
        pdf = synth.gen_transcripts(n_convs=10, seed=seed, skew_conv_turns=8)
        pdf["conv_id"] = f"s{seed}-" + pdf["conv_id"]
        parts.append(pdf[["conv_id", "turn_idx", "text", "tool"]])
    parts.append(pd.DataFrame(_hand_rows(EDGE_TURNS, "edge")))
    parts.append(pd.DataFrame(_hand_rows(BOUNDARY_TURNS, "bound")))
    return pd.concat(parts, ignore_index=True)


def _as_dict(frames) -> dict:
    out = {}
    for f in frames:
        for r in f.itertuples(index=False):
            key = (r.conv_id, int(r.turn_idx))
            assert key not in out, key
            out[key] = {"main_text": r.main_text, "spans": [dict(s) for s in r.spans]}
    return out


def test_mixed_batch_covers_the_payload_features():
    pdf = _mixed_batch()
    payload = pdf["text"].fillna("") + "\n" + pdf["tool"].fillna("")
    assert payload.str.contains("@rot180 ").any()
    assert payload.str.contains("@det isolated|").any()
    assert payload.str.contains("@det inline|").any()
    assert payload.str.contains("[一-鿿]").any()
    assert (payload.str.count("@page ") >= 3).any()
    assert pdf["conv_id"].str.extract(r"^(s\d+)-")[0].nunique() == len(SEEDS)


def test_batch_equals_oracle():
    pdf = _mixed_batch()
    assert _as_dict([fused._extract_batch(pdf)]) == oracle.extract_corpus(pdf)


def test_batch_invariant_to_batching_and_row_order():
    pdf = _mixed_batch()
    whole = _as_dict([fused._extract_batch(pdf)])
    one_per_batch = _as_dict(
        [fused._extract_batch(pdf.iloc[[i]].reset_index(drop=True)) for i in range(len(pdf))]
    )
    shuffled = _as_dict(
        [fused._extract_batch(pdf.sample(frac=1.0, random_state=5).reset_index(drop=True))]
    )
    assert one_per_batch == whole
    assert shuffled == whole


def _oversized() -> pd.DataFrame:
    rng = random.Random(11)
    # ~1,000 pages in one turn: a region with one raw det, every 7th page empty
    pages = []
    for p in range(1000):
        pages.append(f"@page {p % 97} 800 600")
        if p % 7:
            pages.append("@det plain text|0.9|10|10|700|100|")
            pages.append(f"@det text|0.8|15|20|600|60|page {p}")
    many_pages = "\n".join(pages)
    # ~540 raw dets over four regions (and some outside all of them)
    dets = ["@page 0 1654 2339"]
    for r in range(4):
        dets.append(f"@det plain text|0.9|50|{100 + r * 500}|1600|{500 + r * 500}|")
    dets.append("@det inline|0.9|300|120|420|150|x ^ { 2 }")
    for k in range(500):
        x = rng.choice([60, 200, 400, 700, 1000, 1300])
        y = 100 + (k % 100) * 20 + rng.choice([0, 3, 8])
        score = rng.choice([0.4, 0.55, 0.7, 0.85, 0.9])
        dets.append(f"@det text|{score}|{x}|{y}|{x + rng.randint(40, 300)}|{y + 18}|w{k}")
    for k in range(40):  # one merged line box over 40 raws: a long score sum
        x = 60 + 38 * k
        dets.append(f"@det text|{[0.55, 0.7, 0.85, 0.9, 0.4][k % 5]}|{x}|1950|{x + 40}|1968|l{k}")
    many_dets = "\n".join(dets)
    # one ~1 MB text line
    big_line = ("@page 0 800 600\n@det plain text|0.9|10|10|700|100|\n"
                "@det text|0.8|15|20|600|60|" + "ab 中 " * 200_000)
    return pd.DataFrame({
        "conv_id": ["big-pages", "big-dets", "big-line"],
        "turn_idx": [0, 0, 0],
        "text": [many_pages, many_dets, big_line],
        "tool": [None, None, None],
    })


@pytest.fixture(scope="module")
def oversized():
    pdf = _oversized()
    return pdf, oracle.extract_corpus(pdf)


def test_oversized_payload_batch(oversized):
    pdf, golden = oversized
    assert len(golden[("big-pages", 0)]["main_text"].split("\n\n")) == 1000
    assert len(pdf.loc[2, "text"]) > 1_000_000
    assert _as_dict([fused._extract_batch(pdf)]) == golden


def test_oversized_payload_fused(spark, oversized):
    pdf, golden = oversized
    pdf = pdf.assign(role="assistant", ts=TS)[schema.TRANSCRIPTS.fieldNames()]
    sdf = spark.createDataFrame(pdf, schema=schema.TRANSCRIPTS)  # columns map by position
    assert sdf.count() == 3
    got = {
        (r.conv_id, r.turn_idx): {"main_text": r.main_text,
                                  "spans": [s.asDict() for s in r.spans]}
        for r in extract_fused(sdf).collect()
    }
    assert got == golden
