"""Per-query Spark metrics from Spark's own event log.

Every job the benchmark submits carries a job description
``<workload>/<module.function>`` (``SparkContext.setJobDescription``).
Spark copies it into each job's properties and into the description of
the SQL execution, so a task is attributed through
task -> stage -> job -> label, and a plan through execution -> label.

Task-level numbers come from ``SparkListenerTaskEnd``: the task metrics
(run, CPU and GC time, shuffle bytes, spill) and the SQL accumulables
the Python operators add ("time to run Python workers", "data sent to
Python workers", "data returned from Python workers"). Plan shape comes
from the last ``sparkPlanInfo`` Spark logged for each execution (the
final adaptive plan): shuffle and broadcast ``Exchange`` nodes, and the
shuffle exchanges to ``SinglePartition``.
"""

from __future__ import annotations

import json
import os
import re
import statistics
from collections import defaultdict

QUERY_METRICS = (
    "stages", "tasks", "exec_run_s", "exec_cpu_s", "gc_s", "python_run_s",
    "python_in_mb", "python_out_mb", "shuffle_write_mb", "shuffle_read_mb",
    "spill_mb", "task_s_max", "task_s_p50", "exchanges",
    "single_partition_exchanges",
)
QUERY_UNITS = {
    "stages": "count", "tasks": "count", "exchanges": "count",
    "single_partition_exchanges": "count",
}
_MB = 1e6
_SQL_PREFIX = "org.apache.spark.sql.execution.ui."


def event_files(log_dir: str) -> list[str]:
    """Event files under ``log_dir`` in write order. Spark's rolling log
    is a directory ``eventlog_v2_<app>`` of ``events_<n>_<app>`` files;
    a non-rolling log is one file per application."""
    out: list[str] = []
    for name in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, name)
        if os.path.isdir(path) and name.startswith("eventlog_v2_"):
            parts = [
                (int(m.group(1)), f)
                for f in os.listdir(path)
                if (m := re.match(r"events_(\d+)_", f))
            ]
            out.extend(os.path.join(path, f) for _n, f in sorted(parts))
        elif os.path.isfile(path) and not name.startswith("."):
            out.append(path)
    return out


def read_events(log_dir: str):
    for path in event_files(log_dir):
        with open(path) as f:
            for line in f:
                if not line.strip():
                    continue
                try:
                    yield json.loads(line)
                except json.JSONDecodeError:  # a log cut mid-line
                    continue


def _plan_counts(node: dict) -> tuple[int, int]:
    exchanges = single = 0
    if node.get("nodeName") in ("Exchange", "BroadcastExchange"):
        exchanges = 1
        single = int(node["nodeName"] == "Exchange"
                     and "SinglePartition" in node.get("simpleString", ""))
    for child in node.get("children", []):
        e, s = _plan_counts(child)
        exchanges += e
        single += s
    return exchanges, single


def query_metrics(events) -> dict[str, dict[str, float]]:
    """label -> {metric: value} for every labelled job in ``events``."""
    stage_label: dict[int, str] = {}
    plans: dict[int, dict] = {}
    exec_label: dict[int, str] = {}
    acc: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    durations: dict[str, list[float]] = defaultdict(list)
    for ev in events:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            label = (ev.get("Properties") or {}).get("spark.job.description")
            if label:
                for sid in ev.get("Stage IDs", []):
                    stage_label[sid] = label
        elif kind == "SparkListenerStageCompleted":
            label = stage_label.get(ev["Stage Info"]["Stage ID"])
            if label:
                acc[label]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            label = stage_label.get(ev.get("Stage ID"))
            info = ev.get("Task Info", {})
            if not label or info.get("Failed"):
                continue
            a = acc[label]
            a["tasks"] += 1
            durations[label].append((info["Finish Time"] - info["Launch Time"]) / 1e3)
            m = ev.get("Task Metrics") or {}
            a["exec_run_s"] += m.get("Executor Run Time", 0) / 1e3
            a["exec_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            a["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            a["spill_mb"] += (m.get("Memory Bytes Spilled", 0)
                              + m.get("Disk Bytes Spilled", 0)) / _MB
            sr = m.get("Shuffle Read Metrics") or {}
            a["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0)
                                     + sr.get("Local Bytes Read", 0)) / _MB
            sw = m.get("Shuffle Write Metrics") or {}
            a["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / _MB
            for u in info.get("Accumulables", []):
                name, upd = u.get("Name"), u.get("Update")
                if upd is None:
                    continue
                if name == "time to run Python workers":
                    a["python_run_s"] += float(upd) / 1e3
                elif name == "data sent to Python workers":
                    a["python_in_mb"] += float(upd) / _MB
                elif name == "data returned from Python workers":
                    a["python_out_mb"] += float(upd) / _MB
        elif kind == _SQL_PREFIX + "SparkListenerSQLExecutionStart":
            exec_label[ev["executionId"]] = ev.get("description", "")
            plans[ev["executionId"]] = ev.get("sparkPlanInfo") or {}
        elif kind == _SQL_PREFIX + "SparkListenerSQLAdaptiveExecutionUpdate":
            plans[ev["executionId"]] = ev.get("sparkPlanInfo") or {}
    for eid, plan in plans.items():
        label = exec_label.get(eid)
        if label in acc:
            e, s = _plan_counts(plan)
            acc[label]["exchanges"] += e
            acc[label]["single_partition_exchanges"] += s
    out = {}
    for label, a in acc.items():
        d = durations[label]
        row = {k: float(a.get(k, 0.0)) for k in QUERY_METRICS}
        row["task_s_max"] = max(d) if d else 0.0
        row["task_s_p50"] = statistics.median(d) if d else 0.0
        out[label] = row
    return out
