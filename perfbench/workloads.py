"""The benchmark workloads.

Each workload generates its inputs from the seed (``build_inputs``),
binds them to a Spark session (``bind``), warms the session up, then
repeats one timed ``job``. A job returns its timings and the checks it
made; ``check`` runs the untimed oracle comparison after the last job.
``layer_pass`` runs once, in the traced run only, over the same inputs:
the curation queries on ``extract_docs`` and the CLI's lineage commit
and read-back on ``extract_synth``. Jobs are labelled
``<workload>/<module.function>`` so Spark's event log attributes every
stage to the engine function that planned it.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import time

import checks
import corpus

EXTRACT_DOCS = 500  # x8 replicas = 4,000 turns, one 16-detection page each
REPLICATE = 8
# One partition per local[4] core. At 8 (two per core, as bench.py sizes
# repartition) the extra per-task cost in the Python workers made
# extract_synth's turns_per_s spread 0.09-0.16 over ten seeds; at 4 it was
# 0.07-0.08, and the jobs ran ~20 % faster.
PARTITIONS = 4
SYNTH_CONVS = 1000  # synth.gen_transcripts conversations ...
SYNTH_HOT_TURNS = 800  # ... plus one hot conversation of this many turns,
SYNTH_TURNS = 4000  # cut to this many turns, hot ones included, so every seed
# does about the same work
CLI_BUCKETS = 256  # cli run defaults: --buckets 256 --repartition 0
CLI_FORMULA_LENGTH_BUCKETS = 8  # --formula-length-buckets 8


@contextlib.contextmanager
def label(spark, workload: str, name: str):
    sc = spark.sparkContext
    sc.setJobDescription(f"{workload}/{name}")
    try:
        yield
    finally:
        sc.setJobDescription(None)


def _noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


def curation_pass(spark, wl) -> tuple[dict, list]:
    """textops.lsh_candidate_pairs and textops.dsir_select over the
    workload's documents x8 (source = doc_id % 20), each collected once
    and compared with its DuckDB twin over a ``documents`` view that
    replicates the same parquet file the way replicate_documents does."""
    import duckdb
    from pyspark.sql import functions as F

    import __spark_entry__
    from sparkextract import textops
    from sparkextract.docsource import replicate_documents

    b = replicate_documents(spark.read.parquet(wl.path), REPLICATE).repartition(
        PARTITIONS).withColumn(
            "source", F.concat(F.lit("src"), (F.col("doc_id") % 20).cast("string")))
    queries = {
        "textops.lsh_candidate_pairs": (
            lambda: textops.lsh_candidate_pairs(b),
            __spark_entry__.oracle_sql()["lsh_candidate_pairs"]),
        "textops.dsir_select": (
            lambda: textops.dsir_select(b, b.where("source = 'src0'")),
            textops.dsir_select_sql()),
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT d.doc_id * {r} + r.r AS doc_id, d.text, "
        "'src' || CAST((d.doc_id * {r} + r.r) % 20 AS VARCHAR) AS source "
        "FROM read_parquet('{p}') d, (SELECT range AS r FROM range({r})) r"
        .format(r=REPLICATE, p=wl.path))
    found = []
    for q, (build, sql) in queries.items():
        with label(spark, wl.name, q):
            got = build().toArrow()
        found.append((q + "_vs_duckdb", checks.table_mismatches(got, con.execute(sql).arrow())))
    con.close()
    return {}, found


def lineage_pass(spark, wl) -> tuple[dict, list]:
    """The job ``cli run`` ships: lineage.run_with_lineage with the CLI's
    defaults (staged pipeline.extract, 256 buckets) into a fresh output
    directory, then lineage.read_snapshot of the committed snapshot in
    full, checked against the oracle turn by turn."""
    from __spark_entry__ import _canonical_extract
    from sparkextract import lineage

    out = os.path.join(wl.ctx.work, "lineage-out")
    shutil.rmtree(out, ignore_errors=True)
    tr = spark.read.parquet(wl.path)
    with label(spark, wl.name, "lineage.run_with_lineage"):
        summary = lineage.run_with_lineage(
            spark, tr, out, buckets=CLI_BUCKETS, repartition=0,
            formula_length_buckets=CLI_FORMULA_LENGTH_BUCKETS)
    with label(spark, wl.name, "lineage.committed_buckets"):
        committed_s, done = _timed(
            lambda: lineage.committed_buckets(spark, out, summary["snapshot"]))
    with label(spark, wl.name, "lineage.read_snapshot"):
        got = _canonical_extract(lineage.read_snapshot(spark, out)).toPandas()
    data = [os.path.join(d, f)
            for d, _dirs, files in os.walk(os.path.join(out, lineage.DATA_DIR))
            for f in files if f.endswith(".parquet")]
    metrics = {
        "lineage.run_with_lineage.files_written": float(len(data)),
        "lineage.run_with_lineage.bytes_written": float(sum(map(os.path.getsize, data))),
        "lineage.committed_buckets.s": committed_s,
    }
    found = [
        ("read_snapshot_vs_oracle", checks.extracted_mismatches(wl.expected, got)),
        ("lineage_rows_in_vs_input", abs(summary["rows_in"] - len(wl.transcripts))),
        ("lineage_rows_out_vs_oracle", abs(summary["rows_out"] - len(wl.expected))),
        ("committed_buckets", CLI_BUCKETS - len(done)),
    ]
    return metrics, found


class ExtractDocs:
    """fused.extract_fused over documents_as_transcripts(docs x8), noop
    sink. Every turn is one page of the same geometry
    (docsource.PAYLOAD_TEMPLATE). Its traced run adds the curation
    queries over the same documents."""

    name = "extract_docs"
    queries = ("fused.extract_fused", "textops.lsh_candidate_pairs", "textops.dsir_select")
    layer_pass = staticmethod(curation_pass)

    def __init__(self, ctx):
        self.ctx = ctx
        self.path = os.path.join(ctx.work, "documents.parquet")
        self.rows = EXTRACT_DOCS * REPLICATE
        self.transcripts = None
        self.expected = None
        self.gen_s = 0.0

    def build_inputs(self, spark) -> None:
        corpus.write_parquet(corpus.gen_documents(EXTRACT_DOCS, self.ctx.seed), self.path)

    def bind(self, spark) -> None:
        from sparkextract.docsource import documents_as_transcripts, replicate_documents

        docs = spark.read.parquet(self.path)
        self.tr = documents_as_transcripts(
            replicate_documents(docs, REPLICATE).repartition(PARTITIONS))

    def warmup(self, spark) -> None:
        for _ in range(2):  # the second job still runs partly on unoptimized JVM code
            self.job(spark, tag="@warmup")

    def job(self, spark, tag: str = ""):
        from sparkextract.fused import extract_fused

        with label(spark, self.name, "fused.extract_fused" + tag):
            t, _ = _timed(lambda: _noop(extract_fused(self.tr)))
        return {"job_s": t}, []

    def turns(self, spark):
        """The corpus as the pandas transcripts frame the oracle reads."""
        if self.transcripts is None:
            with label(spark, self.name, "check"):
                self.transcripts = self.tr.select(
                    "conv_id", "turn_idx", "text", "tool").toPandas()
        if self.expected is None:
            self.expected = checks.expected_turns(self.ctx.oracle, self.transcripts)
        return self.transcripts

    def check(self, spark):
        from __spark_entry__ import _canonical_extract
        from sparkextract.fused import extract_fused

        self.turns(spark)
        with label(spark, self.name, "check"):
            got = _canonical_extract(extract_fused(self.tr)).toPandas()
        return [("extract_fused_vs_oracle", checks.extracted_mismatches(self.expected, got))]

    def input_stats(self) -> dict:
        t = self.transcripts
        return {"turns": len(t) if t is not None else None, "turns_with_payload": self.rows,
                "text_bytes": int(t.text.str.len().sum()) if t is not None else None}


class ExtractSynth(ExtractDocs):
    """fused.extract_fused over a seeded synth.gen_transcripts corpus, noop
    sink: 1-3 pages per turn, variable detection counts, zh text, formulas,
    NMS duplicates and rotated lines, so a shortcut tuned to the docs
    template cannot pass; one hot conversation skews the conv_id window.
    Its traced run adds the CLI's lineage commit and read-back over the
    same turns."""

    name = "extract_synth"
    queries = ("fused.extract_fused", "lineage.run_with_lineage", "lineage.read_snapshot")
    layer_pass = staticmethod(lineage_pass)

    def __init__(self, ctx):
        super().__init__(ctx)
        self.path = os.path.join(ctx.work, "transcripts.parquet")

    def build_inputs(self, spark) -> None:
        from sparkextract import synth

        convs = SYNTH_CONVS
        t0 = time.perf_counter()
        while len(pdf := synth.gen_transcripts(
                n_convs=convs, seed=self.ctx.seed, skew_conv_turns=SYNTH_HOT_TURNS)) < SYNTH_TURNS:
            convs *= 2
        self.gen_s = time.perf_counter() - t0
        # Rows come out shuffled, so the cut is a seeded sample of turns. It
        # keeps the whole hot conversation, so every seed has the same skew.
        hot = pdf.conv_id == pdf.conv_id.value_counts().index[0]
        keep = hot | ((~hot).cumsum() <= SYNTH_TURNS - SYNTH_HOT_TURNS)
        self.transcripts = pdf[keep].reset_index(drop=True)
        corpus.write_parquet(self.transcripts, self.path)
        has = self.transcripts.text.str.contains("@page ", regex=False) | (
            self.transcripts.tool.fillna("").str.contains("@page ", regex=False))
        self.rows = int(has.sum())

    def bind(self, spark) -> None:
        self.tr = spark.read.parquet(self.path).repartition(PARTITIONS)

    def input_stats(self) -> dict:
        t = self.transcripts
        return {"turns": len(t), "turns_with_payload": self.rows,
                "text_bytes": int(t.text.str.len().sum() + t.tool.fillna("").str.len().sum()),
                "hot_conv_share": round(float(t.conv_id.value_counts().iloc[0]) / len(t), 4)}


WORKLOADS = {w.name: w for w in (ExtractDocs, ExtractSynth)}
