"""sparkextract benchmark: one workload per run, closed loop, one client.

    python3 perfbench/run.py --workload extract_docs --seed 1 --seconds 24 --trace 0

Run from the repository root. ``--trace 0`` times the workload with the
event log and the kernel shims off and prints the end-to-end metrics;
``--trace 1`` runs the workload once with Spark's event log on, then its
layer pass (the curation queries, or the CLI's lineage commit and
read-back), one job at ``local[1]``, and an offline one-core pass of the
fused kernel under timing shims, and prints the per-layer metrics. Every
run checks the engine's output against an oracle that does not share its
code (``checks.py``). Human-readable lines come first; the last line of
stdout is the JSON result.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback
from collections import defaultdict

import checks
import eventlog
import spans
from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MB = 1e6

# name -> (unit, better)
END_TO_END = {
    "setup_s": ("s", "lower"),
    "turns_per_s": ("turns/s", "higher"),
    "peak_rss_mb": ("MB", "lower"),
}

KERNEL_METRICS = {
    "parse._parse_batch.self_s": ("s", "lower"),
    "parse._parse_batch.det_rows": ("count", "lower"),
    "kernels.nms_keep.self_s": ("s", "lower"),
    "kernels.nms_keep.calls": ("count", "lower"),
    "kernels.latex_rm_whitespace.self_s": ("s", "lower"),
    "kernels.latex_rm_whitespace.calls": ("count", "lower"),
    "kernels.merge_para.self_s": ("s", "lower"),
    "kernels.merge_para.calls": ("count", "lower"),
    "ocr.ocr_page_arrays.self_s": ("s", "lower"),
    "ocr.ocr_page_arrays.calls": ("count", "lower"),
    "turnkernel._fill_first_wins.self_s": ("s", "lower"),
    "turnkernel._fill_first_wins.calls": ("count", "lower"),
    "turnkernel.run_turn_arrays.self_s": ("s", "lower"),
    "turnkernel.f1_memo_hit_ratio": ("ratio", "higher"),
    "fused._extract_batch.self_s": ("s", "lower"),
    "fused._extract_batch.batches": ("count", "lower"),
    "fused.kernel_turns_per_s_core": ("turns/s", "higher"),
}
SCALING_METRICS = {
    "fused.extract_fused.turns_per_s_1core": ("turns/s", "higher"),
    "fused.extract_fused.scaling_eff": ("ratio", "higher"),
}
# every query a traced run labels, in the order BENCHMARK.json lists them
QUERIES = ("fused.extract_fused", "lineage.run_with_lineage", "lineage.read_snapshot",
           "textops.lsh_candidate_pairs", "textops.dsir_select")
WRITE_SETUP_METRICS = {
    "lineage.run_with_lineage.files_written": ("count", "lower"),
    "lineage.run_with_lineage.bytes_written": ("B", "lower"),
    "lineage.committed_buckets.s": ("s", "lower"),
    "session.build_session.s": ("s", "lower"),
    "synth.gen_transcripts.s": ("s", "lower"),
    "spans.overhead_ratio": ("ratio", "lower"),
}
KERNEL_BATCH_ROWS = 4096  # spark.sql.execution.arrow.maxRecordsPerBatch in session.py


def per_layer_metrics() -> dict[str, tuple[str, str]]:
    """Per-layer metric -> (unit, better): the fused kernel, the local[1]
    scaling pass, the event-log group of every labelled query, the lineage
    write and set-up. Every traced run prints all of them; a layer the
    workload does not run reads 0 and is named in the readable lines."""
    m = dict(KERNEL_METRICS)
    m.update(SCALING_METRICS)
    for q in QUERIES:
        for k in eventlog.QUERY_METRICS:
            m[f"{q}.{k}"] = (eventlog.QUERY_UNITS.get(k, "MB" if k.endswith("_mb") else "s"),
                             "lower")
    m.update(WRITE_SETUP_METRICS)
    return m


def not_run(wl) -> list[str]:
    """Per-layer metric groups the workload does not exercise."""
    out = [q for q in QUERIES if q not in wl.queries]
    if "lineage.run_with_lineage" not in wl.queries:
        out += ["lineage.run_with_lineage.files_written", "lineage.run_with_lineage.bytes_written",
                "lineage.committed_buckets.s"]
    if not wl.gen_s:
        out.append("synth.gen_transcripts.s")
    return out


class Ctx:
    def __init__(self, args):
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = os.path.join(HERE, ".work", args.workload)
        self.eventlog = os.path.join(self.work, "eventlog")
        self.oracle = None


class PeakRss(threading.Thread):
    """Peak resident memory of the processes Spark runs for this process
    (the Spark JVM and its Python workers), sampled from /proc. The
    benchmark process itself is left out: it also holds the oracles."""

    def __init__(self, period: float = 0.2):
        super().__init__(daemon=True)
        self.period = period
        self.peak = 0
        self.done = threading.Event()
        self.page = os.sysconf("SC_PAGE_SIZE")

    def sample(self) -> int:
        parent, rss = {}, {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    stat = f.read()
                with open(f"/proc/{d}/statm") as f:
                    rss[int(d)] = int(f.read().split()[1]) * self.page
            except OSError:
                continue
            parent[int(d)] = int(stat[stat.rindex(")") + 2:].split()[1])
        tree, frontier = {os.getpid()}, [os.getpid()]
        children = defaultdict(list)
        for pid, ppid in parent.items():
            children[ppid].append(pid)
        while frontier:
            for c in children.get(frontier.pop(), []):
                if c not in tree:
                    tree.add(c)
                    frontier.append(c)
        return sum(rss.get(p, 0) for p in tree - {os.getpid()})

    def run(self):
        while not self.done.wait(self.period):
            self.peak = max(self.peak, self.sample())



def open_session(ctx, master: str):
    from sparkextract.session import build_session

    extra = {
        "spark.local.dir": os.path.join(ctx.work, "spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(ctx.work, 'tmp')}",
        "spark.sql.warehouse.dir": os.path.join(ctx.work, "warehouse"),
    }
    if ctx.trace:
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + ctx.eventlog,
            "spark.eventLog.compress": "false",
        })
    spark = build_session(app=f"perfbench-{ctx.workload}", master=master, extra=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Stop the py4j gateway and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin pipe closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Ops:
    """Attempted and failed operations: timed jobs, layer passes and
    oracle checks."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.lines: list[str] = []

    def checks(self, found, where: str) -> None:
        for name, bad in found:
            self.attempted += 1
            self.failed += int(bad != 0)
            self.lines.append(f"check {name} [{where}]: {bad} mismatches")

    def error(self, what: str) -> None:
        self.failed += 1
        self.lines.append(f"FAILED {what}: {traceback.format_exc().splitlines()[-1]}")
        traceback.print_exc(file=sys.stderr)


def run_timed(ctx, wl, ops: Ops) -> tuple[dict, list[str]]:
    t0 = time.perf_counter()
    spark = open_session(ctx, "local[4]")
    wl.build_inputs(spark)
    wl.bind(spark)
    wl.warmup(spark)
    setup_s = time.perf_counter() - t0
    samples: dict[str, list] = defaultdict(list)
    start = time.perf_counter()
    while True:
        t = time.perf_counter()
        ops.attempted += 1
        try:
            timings, found = wl.job(spark)
            for k, v in timings.items():
                samples[k].append(v)
            ops.checks(found, "local[4]")
        except Exception:
            ops.error(f"{wl.name} job")
        # stop before a further job would overrun the measuring time
        now = time.perf_counter()
        if now - start + (now - t) > ctx.seconds or ops.failed > 3:
            break
    try:
        ops.checks(wl.check(spark), "local[4]")
    except Exception:
        ops.attempted += 1
        ops.error(f"{wl.name} check")
    spark.stop()
    med = {k: statistics.median(v) for k, v in samples.items()}
    metrics = {"setup_s": setup_s, "turns_per_s": wl.rows / med["job_s"]}
    lines = [f"jobs at local[4] (s): {[round(v, 3) for v in samples['job_s']]}"]
    return metrics, lines


def kernel_pass(turns, traced: bool):
    """fused._extract_batch over the turns, in session-sized batches, on
    this one core. Returns (wall s, tracer or None, output frames, turns)."""
    from sparkextract import fused

    has = turns["text"].fillna("").str.contains("@page ", regex=False) | turns[
        "tool"].fillna("").str.contains("@page ", regex=False)
    doc = turns.loc[has, ["conv_id", "turn_idx", "text", "tool"]].reset_index(drop=True)
    batches = [doc.iloc[i:i + KERNEL_BATCH_ROWS].reset_index(drop=True)
               for i in range(0, len(doc), KERNEL_BATCH_ROWS)]
    tracer = spans.Tracer() if traced else None
    run = tracer.wrap("fused._extract_batch", fused._extract_batch) if traced else fused._extract_batch
    with spans.patched(tracer, spans.kernel_shims()) if traced else contextlib.nullcontext():
        t0 = time.perf_counter()
        outs = [run(b) for b in batches]
        wall = time.perf_counter() - t0
    return wall, tracer, outs, len(doc)


def kernel_metrics(ctx, wl, turns, ops: Ops) -> tuple[dict, list[str]]:
    kernel_pass(turns, traced=False)  # imports, regex compiles, allocator warm-up
    plain_wall, _t, outs, n_turns = kernel_pass(turns, traced=False)
    wall, tracer, _outs, _n = kernel_pass(turns, traced=True)
    ops.checks([("extract_batch_vs_oracle", checks.kernel_mismatches(wl.expected, outs))],
               "offline")
    tracer.write(os.path.join(ctx.work, "spans.jsonl"))
    st = spans.self_times(tracer.spans)
    m = {}
    for name in KERNEL_METRICS:
        base, _, field = name.rpartition(".")
        if field == "self_s":
            m[name] = st.get(base, (0.0, 0))[0]
        elif field in ("calls", "batches"):
            m[name] = float(st.get(base, (0.0, 0))[1])
    m["parse._parse_batch.det_rows"] = float(tracer.counts["det_rows"])
    formulas = tracer.counts["formula_dets"]
    m["turnkernel.f1_memo_hit_ratio"] = (
        1.0 - m["kernels.latex_rm_whitespace.calls"] / formulas if formulas else 0.0)
    m["fused.kernel_turns_per_s_core"] = n_turns / plain_wall
    m["spans.overhead_ratio"] = wall / plain_wall - 1.0
    accounted = sum(v[0] for v in st.values())
    lines = [f"kernel pass: {n_turns} turns, untraced {plain_wall:.3f} s, traced {wall:.3f} s, "
             f"self times sum {accounted:.3f} s ({accounted / wall:.1%} of traced wall)"]
    return m, lines


def run_traced(ctx, wl, ops: Ops) -> tuple[dict, list[str]]:
    os.makedirs(ctx.eventlog, exist_ok=True)
    m = {name: 0.0 for name in per_layer_metrics()}
    lines = []
    t0 = time.perf_counter()
    spark = open_session(ctx, "local[4]")
    m["session.build_session.s"] = time.perf_counter() - t0
    wl.build_inputs(spark)
    wl.bind(spark)
    wl.warmup(spark)
    ops.attempted += 1
    try:
        timings, found = wl.job(spark)
        ops.checks(found, "local[4]")
    except Exception:
        ops.error(f"{wl.name} job at local[4]")
        timings = {}
    try:
        ops.checks(wl.check(spark), "local[4]")
    except Exception:
        ops.attempted += 1
        ops.error(f"{wl.name} check at local[4]")
    turns = wl.turns(spark)
    ops.attempted += 1
    try:
        lm, found = wl.layer_pass(spark, wl)
        m.update(lm)
        ops.checks(found, "layer pass")
    except Exception:
        ops.error(f"{wl.name} layer pass")
    m["synth.gen_transcripts.s"] = wl.gen_s
    spark.stop()
    if "job_s" in timings:
        # the paper's N -> 4N scaling criterion, as local[1] -> local[4]
        spark = open_session(ctx, "local[1]")
        wl.bind(spark)
        wl.warmup(spark)
        one, _ = wl.job(spark, tag="@local[1]")
        spark.stop()
        tps1 = wl.rows / one["job_s"]
        m["fused.extract_fused.turns_per_s_1core"] = tps1
        m["fused.extract_fused.scaling_eff"] = wl.rows / timings["job_s"] / (4 * tps1)
    per_query = eventlog.query_metrics(eventlog.read_events(ctx.eventlog))
    for q in wl.queries:
        for k, v in per_query.get(f"{wl.name}/{q}", {}).items():
            m[f"{q}.{k}"] = v
    km, kl = kernel_metrics(ctx, wl, turns, ops)
    m.update(km)
    lines += kl
    lines.append(f"not run on {wl.name} (reported as 0): {', '.join(not_run(wl))}")
    return m, lines


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [p for p in ("sparkextract/__init__.py", "tests/oracle.py", "__spark_entry__.py")
               if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: program files missing under {ROOT}: {missing}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    ctx = Ctx(args)
    shutil.rmtree(ctx.work, ignore_errors=True)
    os.makedirs(os.path.join(ctx.work, "tmp"))
    # everything Spark, the JVM and the Python workers write stays in the checkout
    os.environ["TMPDIR"] = os.path.join(ctx.work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ.setdefault("SPARK_DRIVER_MEM", "1g")
    ctx.oracle = checks.load_oracle(ROOT)
    wl = WORKLOADS[args.workload](ctx)

    rss = PeakRss()
    rss.start()
    ops = Ops()
    try:
        if ctx.trace:
            metrics, lines = run_traced(ctx, wl, ops)
            units = per_layer_metrics()
        else:
            metrics, lines = run_timed(ctx, wl, ops)
            units = END_TO_END
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        stop_jvm()
        rss.done.set()
        rss.join()
    if not ctx.trace:
        metrics["peak_rss_mb"] = rss.peak / MB
    print(f"perfbench {wl.name} seed={ctx.seed} seconds={ctx.seconds:g} trace={int(ctx.trace)}")
    print(f"input: {json.dumps(wl.input_stats())}")
    for line in lines + ops.lines:
        print(line)
    if not ctx.trace:
        print(f"peak_rss_mb = {metrics['peak_rss_mb']:.1f} MB")
        print(f"failed_ops_ratio = {ops.failed / max(ops.attempted, 1):.4f} ratio "
              f"({ops.failed}/{ops.attempted})")
    print(json.dumps({
        "correct": ops.failed == 0,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, (u, _b) in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
