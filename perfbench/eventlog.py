"""Spark event-log parser: per-phase counters for the traced run.

Every job is attributed to one phase key ``(query, pass, phase)``. The
benchmark tags its jobs with ``setJobDescription("perfbench|<query>|<pass>|
<phase>")``; jobs whose description is not a tag (streaming micro-batches
set their own) are attributed by time to the phase span that contains
their submission, which is unambiguous because the benchmark runs one
query at a time. Tasks, SQL metrics, block updates and streaming progress
follow their job, SQL execution or log position to the same key.
"""

from __future__ import annotations

import json
import os
from bisect import bisect_right
from collections import defaultdict
from datetime import datetime

TAG = "perfbench"
SQL = "org.apache.spark.sql.execution.ui."
STREAM = "org.apache.spark.sql.streaming.StreamingQueryListener$"
PYTHON_NODES = ("Python", "InPandas", "InArrow")

Key = tuple  # (query, pass, phase)


def tag(query: str, pass_id: str, phase: str) -> str:
    return f"{TAG}|{query}|{pass_id}|{phase}"


def parse_tag(desc: str | None) -> Key | None:
    parts = (desc or "").split("|")
    if len(parts) == 4 and parts[0] == TAG:
        return tuple(parts[1:])
    return None


def read_events(log_dir: str) -> list[dict]:
    """All events of every (rolling or single-file) uncompressed log."""
    files = []
    for root, _dirs, names in os.walk(log_dir):
        for name in names:
            if not name.startswith(("appstatus", ".")):
                files.append(os.path.join(root, name))

    def order(path: str):
        parts = os.path.basename(path).split("_")
        return (os.path.dirname(path), int(parts[1]) if parts[0] == "events" else 0, path)

    events = []
    for path in sorted(files, key=order):
        with open(path, errors="replace") as f:
            for line in f:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    return events


class _Phases:
    """Time lookup: epoch seconds -> the phase key whose span contains it."""

    def __init__(self, phases: list[tuple[float, float, Key]]) -> None:
        self.phases = sorted(phases)
        self.starts = [p[0] for p in self.phases]

    def at(self, t: float) -> Key | None:
        i = bisect_right(self.starts, t) - 1
        if i >= 0 and t <= self.phases[i][1]:
            return self.phases[i][2]
        return None


def _plan_metrics(node: dict, meta: dict[int, tuple[str, str, str]], rows_in: dict[int, int]) -> None:
    """Fill accumulator id -> (node, metric, type), and Python node
    'number of output rows' id -> the id of the rows feeding it."""
    for m in node.get("metrics", []):
        meta[m["accumulatorId"]] = (node["nodeName"], m["name"], m["metricType"])
    if any(p in node["nodeName"] for p in PYTHON_NODES):
        out_id = next((m["accumulatorId"] for m in node.get("metrics", [])
                       if m["name"] == "number of output rows"), None)
        child = (node.get("children") or [None])[0]
        while child is not None and out_id is not None:
            in_id = next((m["accumulatorId"] for m in child.get("metrics", [])
                          if m["name"] == "number of output rows"), None)
            if in_id is not None:
                rows_in[out_id] = in_id
                break
            child = (child.get("children") or [None])[0]
    for c in node.get("children", []):
        _plan_metrics(c, meta, rows_in)


def _epoch(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def phase_counters(events: list[dict], phases: list[tuple[float, float, Key]]) -> dict[Key, dict]:
    """Key -> raw counters (see ``_new``) for every attributed phase."""
    lookup = _Phases(phases)
    out: dict[Key, dict] = defaultdict(_new)
    job_key: dict[int, Key] = {}
    stage_key: dict[int, Key] = {}
    exec_key: dict[int, Key] = {}
    meta: dict[int, tuple[str, str, str]] = {}
    rows_in: dict[int, int] = {}
    accums: dict[Key, dict[int, float]] = defaultdict(lambda: defaultdict(float))
    seen_rdds: set[int] = set()
    last_key: Key | None = None
    for ev in events:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            t = ev["Submission Time"] / 1000.0
            key = parse_tag(ev.get("Properties", {}).get("spark.job.description")) or lookup.at(t)
            if key is None:
                continue
            job_key[ev["Job ID"]] = last_key = key
            out[key]["jobs"][ev["Job ID"]] = [t, t]
            for sid in ev.get("Stage IDs", []):
                stage_key[sid] = key
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in job_key:
            out[job_key[ev["Job ID"]]]["jobs"][ev["Job ID"]][1] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            key = stage_key.get(si["Stage ID"])
            if key is None:
                continue
            out[key]["stages"] += 1
            for rdd in si.get("RDD Info", []):
                lvl = rdd.get("Storage Level", {})
                if (lvl.get("Use Memory") or lvl.get("Use Disk")) and rdd["RDD ID"] not in seen_rdds:
                    seen_rdds.add(rdd["RDD ID"])
                    out[key]["persisted_rdds"] += 1
        elif kind == "SparkListenerTaskEnd":
            key = stage_key.get(ev["Stage ID"])
            if key is None:
                continue
            _add_task(out[key], ev)
            for a in ev["Task Info"].get("Accumulables", []):
                if a.get("Metadata") == "sql" and "Update" in a:
                    accums[key][a["ID"]] += float(a["Update"])
        elif kind == "SparkListenerBlockUpdated":
            info = ev["Block Updated Info"]
            if last_key is not None and info["Block ID"].startswith("rdd_"):
                out[last_key]["block_bytes"] += info["Memory Size"] + info["Disk Size"]
        elif kind in (SQL + "SparkListenerSQLExecutionStart", SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
            _plan_metrics(ev["sparkPlanInfo"], meta, rows_in)
            if kind.endswith("ExecutionStart"):
                key = parse_tag(ev.get("description")) or lookup.at(ev["time"] / 1000.0)
                if key is not None:
                    exec_key[ev["executionId"]] = key
        elif kind == SQL + "SparkListenerDriverAccumUpdates":
            key = exec_key.get(ev["executionId"])
            if key is not None:
                for acc_id, val in ev["accumUpdates"]:
                    accums[key][acc_id] += val
        elif kind == STREAM + "QueryStartedEvent":
            key = lookup.at(_epoch(ev["timestamp"]))
            if key is not None:
                out[key]["stream_passes"] += 1
        elif kind == STREAM + "QueryProgressEvent":
            prog = ev["progress"]
            key = lookup.at(_epoch(prog["timestamp"]))
            if key is not None:
                dur = prog.get("durationMs", {})
                out[key]["stream_batches"] += 1
                out[key]["stream_add_batch_ms"] += dur.get("addBatch", 0)
                out[key]["stream_commit_ms"] += dur.get("commitOffsets", 0) + dur.get("walCommit", 0)
    for key, by_id in accums.items():
        _add_sql(out[key], by_id, meta, rows_in)
    return dict(out)


def _new() -> dict:
    return {
        "jobs": {}, "stages": 0, "tasks": 0, "task_failures": 0, "sched_wait_ms": 0,
        "run_ms": 0, "cpu_ns": 0, "read_bytes": 0, "read_rows": 0, "write_bytes": 0,
        "shuffle_write_bytes": 0, "shuffle_read_bytes": 0, "shuffle_records": 0,
        "fetch_wait_ms": 0, "spill_disk_bytes": 0, "spill_mem_bytes": 0,
        "files_read": 0, "files_written": 0, "py_rows_in": 0, "py_rows_out": 0,
        "py_bytes_in": 0, "py_run_ms": 0, "persisted_rdds": 0, "block_bytes": 0,
        "stream_passes": 0, "stream_batches": 0, "stream_add_batch_ms": 0,
        "stream_commit_ms": 0,
    }


def _add_task(c: dict, ev: dict) -> None:
    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
    c["tasks"] += 1
    if ev.get("Task End Reason", {}).get("Reason") != "Success":
        c["task_failures"] += 1
    run = m.get("Executor Run Time", 0)
    getting = info["Finish Time"] - info["Getting Result Time"] if info.get("Getting Result Time") else 0
    # Scheduler delay plus deserialization: the task's time not spent
    # running, serializing its result or shipping it back.
    c["sched_wait_ms"] += max(
        0, info["Finish Time"] - info["Launch Time"] - run - m.get("Result Serialization Time", 0) - getting
    )
    c["run_ms"] += run
    c["cpu_ns"] += m.get("Executor CPU Time", 0)
    c["read_bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
    c["read_rows"] += m.get("Input Metrics", {}).get("Records Read", 0)
    c["write_bytes"] += m.get("Output Metrics", {}).get("Bytes Written", 0)
    sw, sr = m.get("Shuffle Write Metrics", {}), m.get("Shuffle Read Metrics", {})
    c["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    c["shuffle_records"] += sw.get("Shuffle Records Written", 0)
    c["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    c["fetch_wait_ms"] += sr.get("Fetch Wait Time", 0)
    c["spill_disk_bytes"] += m.get("Disk Bytes Spilled", 0)
    c["spill_mem_bytes"] += m.get("Memory Bytes Spilled", 0)


def _add_sql(c: dict, by_id: dict[int, float], meta: dict, rows_in: dict[int, int]) -> None:
    for acc_id, val in by_id.items():
        node, name, mtype = meta.get(acc_id, ("", "", ""))
        if name == "number of files read" and node.startswith("Scan"):
            c["files_read"] += val
        elif name == "number of written files":
            c["files_written"] += val
        elif any(p in node for p in PYTHON_NODES):
            if name == "number of output rows":
                c["py_rows_out"] += val
                c["py_rows_in"] += by_id.get(rows_in.get(acc_id, -1), 0)
            elif name == "data sent to Python workers":
                c["py_bytes_in"] += val
            elif name == "time to run Python workers":
                c["py_run_ms"] += val / 1e6 if mtype == "nsTiming" else val
