"""BENCHMARK.json names exactly what run.py prints, with the same unit and
direction.

Run: python3 -m pytest perfbench/tests -q
"""

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import run  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

with open(os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")) as f:
    BJ = json.load(f)


def test_workloads_exist():
    assert {w["name"] for w in BJ["workloads"]} <= set(WORKLOADS)


def test_end_to_end_match():
    assert {m["name"]: (m["unit"], m["better"]) for m in BJ["end_to_end"]} == run.END_TO_END


def test_per_layer_match():
    assert {m["name"]: (m["unit"], m["better"]) for m in BJ["per_layer"]} == (
        run.per_layer_metrics())


def test_every_labelled_query_runs_on_some_workload():
    ran = {q for wl in WORKLOADS.values() for q in wl.queries}
    assert ran == set(run.QUERIES)
