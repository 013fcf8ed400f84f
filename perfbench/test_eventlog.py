"""Tiny-input tests of the event-log parser and span arithmetic (no Spark).

Run with:  python3 -m pytest perfbench/test_eventlog.py -q
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from eventlog import SQL, STREAM, phase_counters, read_events, tag  # noqa: E402
from tracing import Tracer, self_times, union_length  # noqa: E402

T0 = 1_700_000_000.0  # epoch seconds of the fake run


def _ms(offset_s: float) -> int:
    return int((T0 + offset_s) * 1000)


def _task(stage: int, launch: float, finish: float, run_ms: int, accums=(), reason="Success") -> dict:
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task End Reason": {"Reason": reason},
        "Task Info": {
            "Launch Time": _ms(launch), "Finish Time": _ms(finish), "Getting Result Time": 0,
            "Accumulables": [
                {"ID": i, "Name": "x", "Update": str(v), "Metadata": "sql"} for i, v in accums
            ],
        },
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": 5_000_000,
            "Result Serialization Time": 0, "Disk Bytes Spilled": 0, "Memory Bytes Spilled": 64,
            "Input Metrics": {"Bytes Read": 1000, "Records Read": 10},
            "Output Metrics": {"Bytes Written": 0},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 300, "Shuffle Records Written": 3},
            "Shuffle Read Metrics": {"Local Bytes Read": 200, "Remote Bytes Read": 0,
                                     "Fetch Wait Time": 4},
        },
    }


PLAN = {
    "nodeName": "MapInPandas",
    "metrics": [
        {"name": "number of output rows", "accumulatorId": 10, "metricType": "sum"},
        {"name": "time to run Python workers", "accumulatorId": 11, "metricType": "timing"},
        {"name": "data sent to Python workers", "accumulatorId": 12, "metricType": "size"},
    ],
    "children": [{
        "nodeName": "Project", "metrics": [],
        "children": [{
            "nodeName": "Scan parquet ",
            "metrics": [
                {"name": "number of output rows", "accumulatorId": 20, "metricType": "sum"},
                {"name": "number of files read", "accumulatorId": 21, "metricType": "sum"},
            ],
            "children": [],
        }],
    }],
}

EVENTS = [
    # q1 build: one tagged job with one stage and two tasks.
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": _ms(0.1), "Stage IDs": [0],
     "Properties": {"spark.job.description": tag("q1", "0", "build")}},
    {"Event": SQL + "SparkListenerSQLExecutionStart", "executionId": 0, "time": _ms(0.1),
     "description": tag("q1", "0", "build"), "sparkPlanInfo": PLAN},
    _task(0, 0.2, 0.5, 200, accums=[(10, 7), (11, 30), (12, 2048), (20, 5)]),
    _task(0, 0.2, 0.6, 300, accums=[(10, 3), (20, 5)], reason="ExceptionFailure"),
    {"Event": SQL + "SparkListenerDriverAccumUpdates", "executionId": 0,
     "accumUpdates": [[21, 2]]},
    {"Event": "SparkListenerStageCompleted", "Stage Info": {
        "Stage ID": 0, "RDD Info": [
            {"RDD ID": 5, "Storage Level": {"Use Memory": True, "Use Disk": False}},
            {"RDD ID": 6, "Storage Level": {"Use Memory": False, "Use Disk": False}},
        ]}},
    {"Event": "SparkListenerBlockUpdated", "Block Updated Info": {
        "Block ID": "rdd_5_0", "Memory Size": 4096, "Disk Size": 0}},
    {"Event": "SparkListenerBlockUpdated", "Block Updated Info": {
        "Block ID": "broadcast_1", "Memory Size": 999, "Disk Size": 0}},
    {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": _ms(0.7)},
    # q1 action: an untagged streaming micro-batch job, attributed by time.
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": _ms(1.2), "Stage IDs": [1],
     "Properties": {"spark.job.description": "\nid = x\nrunId = y\nbatch = 0"}},
    _task(1, 1.2, 1.4, 100),
    {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1, "RDD Info": []}},
    {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": _ms(1.5)},
    {"Event": STREAM + "QueryStartedEvent", "timestamp": "2023-11-14T22:13:21.100Z"},
    {"Event": STREAM + "QueryProgressEvent", "progress": {
        "timestamp": "2023-11-14T22:13:21.300Z",
        "durationMs": {"addBatch": 120, "commitOffsets": 15, "walCommit": 5}}},
    # A job outside every phase span is not attributed.
    {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": _ms(9.0), "Stage IDs": [2],
     "Properties": {}},
]

PHASES = [
    (T0 + 0.0, T0 + 1.0, ("q1", "0", "build")),
    (T0 + 1.0, T0 + 2.0, ("q1", "0", "action")),
]


def test_phase_counters_attribute_tagged_and_untagged_jobs():
    c = phase_counters(EVENTS, PHASES)
    assert set(c) == {("q1", "0", "build"), ("q1", "0", "action")}
    b, a = c[("q1", "0", "build")], c[("q1", "0", "action")]
    assert list(b["jobs"]) == [0] and list(a["jobs"]) == [1]
    assert b["jobs"][0] == [T0 + 0.1, T0 + 0.7]
    assert (b["tasks"], b["task_failures"], b["stages"]) == (2, 1, 1)
    assert b["run_ms"] == 500 and b["cpu_ns"] == 10_000_000
    # sched wait = task duration - run time: (300 - 200) + (400 - 300)
    assert b["sched_wait_ms"] == 200
    assert (b["read_bytes"], b["shuffle_write_bytes"], b["shuffle_read_bytes"]) == (2000, 600, 400)
    assert (b["fetch_wait_ms"], b["spill_mem_bytes"]) == (8, 128)


def test_sql_metrics_python_rows_files_and_checkpoints():
    b = phase_counters(EVENTS, PHASES)[("q1", "0", "build")]
    assert b["py_rows_out"] == 10 and b["py_rows_in"] == 10
    assert b["py_run_ms"] == 30 and b["py_bytes_in"] == 2048
    assert b["files_read"] == 2
    assert b["persisted_rdds"] == 1 and b["block_bytes"] == 4096


def test_streaming_progress_follows_time():
    a = phase_counters(EVENTS, PHASES)[("q1", "0", "action")]
    assert (a["stream_passes"], a["stream_batches"]) == (1, 1)
    assert a["stream_add_batch_ms"] == 120 and a["stream_commit_ms"] == 20


def test_read_events_orders_rolling_files(tmp_path):
    d = tmp_path / "eventlog_v2_app"
    d.mkdir()
    (d / "appstatus_app.inprogress").write_text("")
    (d / "events_2_app").write_text(json.dumps({"Event": "B"}) + "\n")
    (d / "events_1_app").write_text(json.dumps({"Event": "A"}) + "\n\n")
    assert [e["Event"] for e in read_events(str(tmp_path))] == ["A", "B"]


def test_union_and_self_times():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([]) == 0
    tr = Tracer()
    with tr.span("outer") as outer:
        with tr.span("inner") as inner:
            pass
    st = self_times(tr.spans)
    assert inner["parent"] == outer["id"]
    total = outer["end"] - outer["start"]
    assert abs(st[outer["id"]] + st[inner["id"]] - total) < 1e-9
