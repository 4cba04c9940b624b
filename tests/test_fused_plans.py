"""Physical plan regression tests for the fused engine and its sorted
sink (the plan *shape* is a deliverable at 100 TB: exchange counts,
column pruning — SURVEY.md §4)."""

import oracle
from sparkextract import schema, synth
from sparkextract.fused import extract_fused


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_fused_plan_single_exchange(spark, tmp_path):
    pdf = synth.gen_transcripts(n_convs=4, seed=3)
    src = str(tmp_path / "t")
    spark.createDataFrame(pdf, schema=schema.TRANSCRIPTS).write.parquet(src)
    df = extract_fused(spark.read.parquet(src))
    plan = _plan(df)
    # production path: exactly one exchange (the O8 ordering window);
    # formatted plans name each node twice (tree + details) → count tree edges
    tree = plan.split("\n\n")[0]
    assert tree.count("- Exchange") == 1, tree
    assert tree.count("- MapInPandas") == 1, tree


def test_fused_plan_column_pruning(spark, tmp_path):
    pdf = synth.gen_transcripts(n_convs=4, seed=3)
    src = str(tmp_path / "t2")
    spark.createDataFrame(pdf, schema=schema.TRANSCRIPTS).write.parquet(src)
    df = extract_fused(spark.read.parquet(src))
    plan = _plan(df)
    scan = plan[plan.index("Scan parquet"):]
    readschema = scan[scan.index("ReadSchema"): scan.index("\n", scan.index("ReadSchema"))]
    # role/ts never reach the scan (nested-column pruning of the payload)
    assert "role" not in readschema and "ts" not in readschema, readschema


def test_sorted_write_sink(spark, tmp_path):
    """write_extracted_sorted: every output file holds conversations
    contiguously, turns ascending — no global sort needed by readers."""
    import glob

    import pandas as pd

    from sparkextract.emit import write_extracted_sorted

    pdf = synth.gen_transcripts(n_convs=10, seed=13)
    out = str(tmp_path / "sorted_out")
    write_extracted_sorted(
        extract_fused(spark.createDataFrame(pdf, schema=schema.TRANSCRIPTS)),
        out, buckets=4,
    )
    files = glob.glob(f"{out}/bucket=*/*.parquet")
    assert files
    seen_convs = set()
    n_rows = 0
    for f in files:
        part = pd.read_parquet(f, columns=["conv_id", "turn_idx"])
        n_rows += len(part)
        keys = list(zip(part["conv_id"], part["turn_idx"]))
        assert keys == sorted(keys), f  # within-file (conv, turn) order
        for c in part["conv_id"].unique():
            assert c not in seen_convs  # conversations never split
            seen_convs.add(c)
    golden = oracle.extract_corpus(pdf)
    assert n_rows == len(golden)
