"""Check each workload's claimed dominant layer against traced runs.

Reads the newest ``perfbench/.work/trace-<workload>-s*.json`` of every
workload (written by ``run.py --trace 1``) and checks the predictions the
workloads were chosen for:

  * Python-worker time is ~0 on sql_sf01 and largest on mr_ingest;
  * loop jobs and checkpointed RDDs per query are largest on graph_dedup;
  * bytes written by the sources layer are non-zero only on mr_ingest.

Usage:  python3 perfbench/check_predictions.py     (exit 1 if any fails)
"""

from __future__ import annotations

import glob
import json
import os
import sys

WORK = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".work")
WORKLOADS = ("sql_sf01", "mr_ingest", "graph_dedup")


def latest_traces() -> dict[str, dict]:
    out = {}
    for wl in WORKLOADS:
        paths = sorted(glob.glob(os.path.join(WORK, f"trace-{wl}-s*.json")), key=os.path.getmtime)
        if paths:
            with open(paths[-1]) as f:
                out[wl] = json.load(f)
    return out


def checks(traces: dict[str, dict]) -> list[tuple[bool, str]]:
    m = {wl: {k: v["value"] for k, v in t["summary"]["metrics"].items()} for wl, t in traces.items()}
    per_q = {wl: {k: v / len(traces[wl]["queries"]) for k, v in m[wl].items()} for wl in m}
    others = [wl for wl in WORKLOADS if wl != "mr_ingest"]
    py = {wl: m[wl]["python.eval_s"] for wl in WORKLOADS}
    res = [
        (py["sql_sf01"] < 0.01 and m["sql_sf01"]["python.rows_out"] == 0,
         f"python.* ~ 0 on sql_sf01 (python.eval_s {py['sql_sf01']:.3f} s)"),
        (all(py["mr_ingest"] > py[wl] for wl in others),
         "python.eval_s largest on mr_ingest ("
         + ", ".join(f"{wl} {py[wl]:.3f} s" for wl in WORKLOADS) + ")"),
    ]
    for metric in ("llm.loop_jobs", "checkpoint.rdds"):
        vals = {wl: per_q[wl][metric] for wl in WORKLOADS}
        res.append((
            all(vals["graph_dedup"] > vals[wl] for wl in WORKLOADS if wl != "graph_dedup"),
            f"{metric} per query largest on graph_dedup ("
            + ", ".join(f"{wl} {v:.2f}" for wl, v in vals.items()) + ")",
        ))
    writes = {wl: m[wl]["sources.write_mb"] for wl in WORKLOADS}
    res.append((
        writes["mr_ingest"] > 0 and all(writes[wl] == 0 for wl in others),
        "sources.write_mb non-zero only on mr_ingest ("
        + ", ".join(f"{wl} {v:.3f} MB" for wl, v in writes.items()) + ")",
    ))
    return res


def main() -> int:
    traces = latest_traces()
    missing = [wl for wl in WORKLOADS if wl not in traces]
    if missing:
        print(f"no traced run of {missing}: run perfbench/run.py --trace 1 on each workload first")
        return 2
    results = checks(traces)
    for ok, text in results:
        print(f"{'PASS' if ok else 'FAIL'}  {text}")
    return 0 if all(ok for ok, _ in results) else 1


if __name__ == "__main__":
    sys.exit(main())
