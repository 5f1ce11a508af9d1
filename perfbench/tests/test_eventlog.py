"""Event-log parsing against a small checked-in fixture.

    python3 -m pytest perfbench/tests -q
"""

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import eventlog  # noqa: E402

FIXTURE = os.path.join(HERE, "fixtures", "events_small.jsonl")


@pytest.fixture(scope="module")
def summary():
    return eventlog.summarize(eventlog.read_events(FIXTURE))


def test_jobs_attributed_by_qid_property_then_job_group(summary):
    per, jobs = summary
    # job 0 carries the query-id property (its job group is a streaming run
    # id), job 1 only a job group, job 2 neither and is dropped
    assert sorted(per) == ["q-a", "q-b"]
    assert jobs == [("q-a", 1000.0), ("q-b", 1002.5)]
    assert per["q-a"]["jobs"] == 1 and per["q-b"]["jobs"] == 1


def test_stage_and_task_rollup(summary):
    a = summary[0]["q-a"]
    assert a["stages"] == 2
    assert a["tasks"] == 2
    assert a["empty_tasks"] == 1  # stage 1's task read no input or shuffle rows
    assert a["task_run_s"] == pytest.approx(0.100)
    assert a["task_cpu_s"] == pytest.approx(0.050)
    assert a["task_gc_s"] == pytest.approx(0.003)
    # task 0: deser 10 + ser 5 + scheduler delay (100 - 60 - 10 - 5) = 40 ms
    # task 1: deser 2 + ser 0 + scheduler delay (50 - 40 - 2) = 10 ms
    assert a["task_overhead_s"] == pytest.approx(0.050)
    assert a["spill_bytes"] == 10
    assert a["scan_bytes"] == 1000 and a["scan_rows"] == 10
    assert a["shuffle_read_bytes"] == 300
    assert a["fetch_wait_s"] == pytest.approx(0.004)
    assert a["shuffle_write_bytes"] == 0


def test_python_boundary_metrics(summary):
    a = summary[0]["q-a"]
    assert a["py_bytes_sent"] == 300
    assert a["py_bytes_returned"] == 40
    assert a["py_run_s"] == pytest.approx(0.012)
    assert a["py_start_s"] == pytest.approx(0.007)  # start + initialize
    b = summary[0]["q-b"]
    assert b["py_bytes_sent"] == 0
    assert b["shuffle_write_bytes"] == 500


def test_event_files_finds_rolling_logs(tmp_path):
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    (d / "events_1_local-1").write_text('{"Event": "SparkListenerLogStart"}\n')
    (d / "appstatus_local-1").write_text("")
    assert eventlog.event_files(str(tmp_path)) == [str(d / "events_1_local-1")]
    assert [e["Event"] for e in eventlog.read_events(str(tmp_path))] == ["SparkListenerLogStart"]
