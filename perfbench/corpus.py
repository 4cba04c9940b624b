"""Seeded benchmark inputs.

Every table the benchmark reads is generated here from ``--seed`` and
written under the work directory, so a run needs nothing outside its
checkout. ``gen_documents`` follows the shape of the repository's test-data
``documents`` table in the columns the engine reads: doc_id, text of
10-100 words over a 30-word vocabulary, source = ``src<doc_id % 20>``;
every 20th document is a near-duplicate of an earlier one with `` dup``
appended, so near-duplicate search has pairs to find.
"""

from __future__ import annotations

import random

import numpy as np
import pandas as pd

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
N_SOURCES = 20


def gen_documents(n: int, seed: int) -> pd.DataFrame:
    rng = random.Random(seed)
    texts: list[str] = []
    for i in range(n):
        if i % 20 == 19:  # a fixed 5 % share, so every seed has the same work
            texts.append(texts[rng.randrange(i)] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB) for _ in range(rng.randint(10, 100))))
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "source": [f"src{i % N_SOURCES}" for i in range(n)],
        }
    )


def write_parquet(pdf: pd.DataFrame, path: str) -> str:
    pdf = pdf.copy()
    if "ts" in pdf:
        # Spark cannot read TIMESTAMP(NANOS) parquet
        pdf["ts"] = pdf["ts"].astype("datetime64[us, UTC]")
    pdf.to_parquet(path, index=False)
    return path
