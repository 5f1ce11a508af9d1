"""Read Spark's uncompressed JSON event log and roll task metrics up by query.

Each job carries the runner's query id as a local property (``QID_PROPERTY``,
falling back to the job group), so stages and tasks are attributed to the
query that launched them, including jobs run on a streaming query's own
thread, which inherits the property.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict
from collections.abc import Iterable, Iterator

QID_PROPERTY = "perfbench.qid"

# task-level SQL metrics of the Python/Arrow boundary (sizes in bytes, times in ms)
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"
PY_RUN = "time to run Python workers"
PY_START = ("time to start Python workers", "time to initialize Python workers")

FIELDS = (
    "jobs", "stages", "tasks", "empty_tasks",
    "task_run_s", "task_cpu_s", "task_gc_s", "task_overhead_s", "spill_bytes",
    "shuffle_write_bytes", "shuffle_read_bytes", "fetch_wait_s",
    "scan_bytes", "scan_rows",
    "py_bytes_sent", "py_bytes_returned", "py_run_s", "py_start_s",
)


def event_files(path: str) -> list[str]:
    """The event files under ``path``: the file itself, or every
    ``events_*`` file of the (rolling, v2) log directories below it."""
    if os.path.isfile(path):
        return [path]
    found = []
    for root, _dirs, files in os.walk(path):
        found += [os.path.join(root, f) for f in files if f.startswith("events_")]
    return sorted(found)


def read_events(path: str) -> Iterator[dict]:
    for name in event_files(path):
        with open(name, encoding="utf-8") as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


def _number(value) -> float:
    return float(value) if value not in (None, "") else 0.0


def summarize(events: Iterable[dict]) -> tuple[dict[str, dict[str, float]], list[tuple[str, float]]]:
    """Per-query totals of :data:`FIELDS`, and every job as
    ``(qid, submission time in epoch seconds)``.

    Tasks of stages whose job carries no query id are dropped."""
    stage_qid: dict[int, str] = {}
    jobs: list[tuple[str, float]] = []
    per = defaultdict(lambda: dict.fromkeys(FIELDS, 0.0))
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            qid = props.get(QID_PROPERTY) or props.get("spark.jobGroup.id")
            if not qid:
                continue
            for sid in ev.get("Stage IDs", []):
                stage_qid[sid] = qid
            jobs.append((qid, ev.get("Submission Time", 0) / 1000.0))
            per[qid]["jobs"] += 1
        elif kind == "SparkListenerStageCompleted":
            qid = stage_qid.get(ev["Stage Info"]["Stage ID"])
            if qid:
                per[qid]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            qid = stage_qid.get(ev.get("Stage ID"))
            if qid:
                _add_task(per[qid], ev)
    return dict(per), jobs


def _add_task(acc: dict[str, float], ev: dict) -> None:
    info = ev.get("Task Info", {})
    m = ev.get("Task Metrics") or {}
    shuffle_r = m.get("Shuffle Read Metrics", {})
    shuffle_w = m.get("Shuffle Write Metrics", {})
    inp = m.get("Input Metrics", {})
    run_ms = m.get("Executor Run Time", 0)
    deser_ms = m.get("Executor Deserialize Time", 0)
    ser_ms = m.get("Result Serialization Time", 0)
    wall_ms = info.get("Finish Time", 0) - info.get("Launch Time", 0)
    sched_ms = max(0, wall_ms - run_ms - deser_ms - ser_ms - info.get("Getting Result Time", 0))
    acc["tasks"] += 1
    rows_in = inp.get("Records Read", 0) + shuffle_r.get("Total Records Read", 0)
    acc["empty_tasks"] += rows_in == 0
    acc["task_run_s"] += run_ms / 1e3
    acc["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    acc["task_gc_s"] += m.get("JVM GC Time", 0) / 1e3
    acc["task_overhead_s"] += (deser_ms + ser_ms + sched_ms) / 1e3
    acc["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    acc["shuffle_write_bytes"] += shuffle_w.get("Shuffle Bytes Written", 0)
    acc["shuffle_read_bytes"] += shuffle_r.get("Remote Bytes Read", 0) + shuffle_r.get(
        "Local Bytes Read", 0
    )
    acc["fetch_wait_s"] += shuffle_r.get("Fetch Wait Time", 0) / 1e3
    acc["scan_bytes"] += inp.get("Bytes Read", 0)
    acc["scan_rows"] += inp.get("Records Read", 0)
    for a in info.get("Accumulables", []):
        name, update = a.get("Name"), _number(a.get("Update"))
        if name == PY_SENT:
            acc["py_bytes_sent"] += update
        elif name == PY_RETURNED:
            acc["py_bytes_returned"] += update
        elif name == PY_RUN:
            acc["py_run_s"] += update / 1e3
        elif name in PY_START:
            acc["py_start_s"] += update / 1e3
