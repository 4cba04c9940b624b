"""The event-log reader on a canned fragment of Spark 4.1's rolling log.

Run: python3 -m pytest perfbench/tests -q
"""

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import eventlog  # noqa: E402

DATA = os.path.join(HERE, "data")


@pytest.fixture(scope="module")
def metrics():
    return eventlog.query_metrics(eventlog.read_events(DATA))


def test_rolling_files_read_in_index_order(tmp_path):
    d = tmp_path / "eventlog_v2_app"
    d.mkdir()
    for n in (10, 2, 1):
        (d / f"events_{n}_app").write_text("")
    (d / "appstatus_app").write_text("")
    names = [os.path.basename(p) for p in eventlog.event_files(str(tmp_path))]
    assert names == ["events_1_app", "events_2_app", "events_10_app"]


def test_jobs_attributed_by_label(metrics):
    # the unlabelled job's task (stage 3) belongs to no query
    assert sorted(metrics) == ["wl/fused.extract_fused", "wl/textops.dsir_select"]
    m = metrics["wl/fused.extract_fused"]
    assert m["stages"] == 2  # stage 2 was planned but never ran
    assert m["tasks"] == 3  # the failed attempt is not counted
    assert m["exec_run_s"] == pytest.approx(3.2)
    assert m["exec_cpu_s"] == pytest.approx(2.9)
    assert m["gc_s"] == pytest.approx(0.025)
    assert m["shuffle_write_mb"] == pytest.approx(4.0)
    assert m["shuffle_read_mb"] == pytest.approx(4.0)
    assert m["spill_mb"] == pytest.approx(1.5)
    assert m["task_s_max"] == pytest.approx(2.0)
    assert m["task_s_p50"] == pytest.approx(1.0)


def test_python_worker_accumulables_sum_updates_not_values(metrics):
    m = metrics["wl/fused.extract_fused"]
    assert m["python_run_s"] == pytest.approx(2.0)
    assert m["python_in_mb"] == pytest.approx(3.0)
    assert m["python_out_mb"] == pytest.approx(0.5)


def test_exchanges_counted_in_final_adaptive_plan(metrics):
    m = metrics["wl/fused.extract_fused"]
    assert m["exchanges"] == 3  # hash + SinglePartition + broadcast
    assert m["single_partition_exchanges"] == 1


def test_truncated_last_line_is_skipped(metrics):
    m = metrics["wl/textops.dsir_select"]
    assert m["tasks"] == 1
    assert m["stages"] == 1
    assert m["task_s_max"] == pytest.approx(0.25)
    assert m["exchanges"] == 0
    assert set(m) == set(eventlog.QUERY_METRICS)
