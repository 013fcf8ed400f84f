"""Per-layer metrics of a traced run, from the spans and the event log.

Every metric is per measured pass (totals over the measured passes divided
by their number), except the ratios and the set-up times. The same
function gives the workload totals and each query's own record.
"""

from __future__ import annotations

from collections import defaultdict

from eventlog import phase_counters, read_events
from tracing import union_length

MB = 1024.0 * 1024.0
SELFCHECK_LIMIT = 0.10

UNITS = {
    "session.build_s": "s", "session.warmup_s": "s", "memory.peak_rss_mb": "MB",
    "query.p50_s": "s",
    "registry.build_s": "s", "registry.eager_jobs": "count",
    "driver.idle_s": "s", "driver.collect_s": "s", "driver.result_rows": "rows",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.sched_wait_s": "s", "spark.task_failures": "count",
    "spark.run_s": "s", "spark.cpu_s": "s", "spark.gc_s": "s",
    "sources.read_mb": "MB", "sources.read_rows": "rows", "sources.read_files": "count",
    "sources.write_mb": "MB", "sources.write_files": "count", "sources.write_amp": "ratio",
    "shuffle.write_mb": "MB", "shuffle.read_mb": "MB", "shuffle.records": "count",
    "shuffle.fetch_wait_s": "s",
    "spill.disk_mb": "MB", "spill.mem_mb": "MB",
    "python.rows_in": "rows", "python.rows_out": "rows", "python.mb_in": "MB",
    "python.eval_s": "s",
    "mapreduce.calls": "count",
    "llm.loop_s": "s", "llm.loop_jobs": "count",
    "checkpoint.rdds": "count", "checkpoint.mb": "MB",
    "streaming.passes": "count", "streaming.batches": "count",
    "streaming.add_batch_s": "s", "streaming.commit_s": "s",
    "trace.overhead": "ratio", "trace.selfcheck_err": "ratio",
}


def _outermost(spans: list[dict], prefix: str) -> list[dict]:
    by_id = {s["id"]: s for s in spans}

    def nested(s: dict) -> bool:
        p = s["parent"]
        while p is not None:
            if by_id[p]["name"].startswith(prefix):
                return True
            p = by_id[p]["parent"]
        return False

    return [s for s in spans if s["name"].startswith(prefix) and not nested(s)]


def _sum(counters: list[dict], field: str) -> float:
    return sum(c[field] for c in counters)


def execution_layers(ex: dict, counters: dict, spans: list[dict], input_bytes: int) -> dict:
    """Layer totals and the self-check error of one measured execution."""
    key = (ex["query"], ex["pass"])
    build = counters.get((*key, "build"))
    action = counters.get((*key, "action"))
    cs = [c for c in (build, action) if c is not None]
    jobs = [iv for c in cs for iv in c["jobs"].values()]
    start, end, wall = ex["start"], ex["end"], ex["wall"]
    clipped = [(max(s, start), min(e, end)) for s, e in jobs if e > start and s < end]
    busy_clipped, busy = union_length(clipped), union_length(jobs)
    action_jobs = list(action["jobs"].values()) if action else []
    last_end = max((e for _s, e in action_jobs), default=end - ex["action"])
    mine = [s for s in spans if start <= s["start"] and s["end"] <= end]
    loops = _outermost(mine, "llm.")
    loop_jobs = sum(
        1 for s, _e in jobs for lp in loops if lp["start"] <= s <= lp["end"]
    )
    write_bytes = _sum(cs, "write_bytes")
    return {
        "registry.build_s": ex["build"],
        "registry.eager_jobs": len(build["jobs"]) if build else 0,
        "driver.idle_s": wall - busy_clipped,
        "driver.collect_s": max(0.0, end - last_end),
        "driver.result_rows": ex["rows"],
        "spark.jobs": len(jobs),
        "spark.stages": _sum(cs, "stages"),
        "spark.tasks": _sum(cs, "tasks"),
        "spark.sched_wait_s": _sum(cs, "sched_wait_ms") / 1e3,
        "spark.task_failures": _sum(cs, "task_failures"),
        "spark.run_s": _sum(cs, "run_ms") / 1e3,
        "spark.cpu_s": _sum(cs, "cpu_ns") / 1e9,
        "spark.gc_s": ex["gc_s"],
        "sources.read_mb": _sum(cs, "read_bytes") / MB,
        "sources.read_rows": _sum(cs, "read_rows"),
        "sources.read_files": _sum(cs, "files_read"),
        "sources.write_mb": write_bytes / MB,
        "sources.write_files": _sum(cs, "files_written"),
        "sources.write_amp": write_bytes / input_bytes,
        "shuffle.write_mb": _sum(cs, "shuffle_write_bytes") / MB,
        "shuffle.read_mb": _sum(cs, "shuffle_read_bytes") / MB,
        "shuffle.records": _sum(cs, "shuffle_records"),
        "shuffle.fetch_wait_s": _sum(cs, "fetch_wait_ms") / 1e3,
        "spill.disk_mb": _sum(cs, "spill_disk_bytes") / MB,
        "spill.mem_mb": _sum(cs, "spill_mem_bytes") / MB,
        "python.rows_in": _sum(cs, "py_rows_in"),
        "python.rows_out": _sum(cs, "py_rows_out"),
        "python.mb_in": _sum(cs, "py_bytes_in") / MB,
        "python.eval_s": _sum(cs, "py_run_ms") / 1e3,
        "mapreduce.calls": len(_outermost(mine, "mapreduce.")),
        "llm.loop_s": sum(s["end"] - s["start"] for s in loops),
        "llm.loop_jobs": loop_jobs,
        "checkpoint.rdds": _sum(cs, "persisted_rdds"),
        "checkpoint.mb": _sum(cs, "block_bytes") / MB,
        "streaming.passes": _sum(cs, "stream_passes"),
        "streaming.batches": _sum(cs, "stream_batches"),
        "streaming.add_batch_s": _sum(cs, "stream_add_batch_ms") / 1e3,
        "streaming.commit_s": _sum(cs, "stream_commit_ms") / 1e3,
        # Self-check: the build and action spans cover the query's wall,
        # and the event log's job intervals lie inside it, so busy time
        # plus driver idle time reproduces the wall.
        "_selfcheck": max(
            abs(ex["build"] + ex["action"] - wall), abs(busy - busy_clipped)
        ) / wall,
    }


def layer_metrics(bench, overhead: float):
    """(workload metrics, units, per-query records, printable check lines)."""
    counters = phase_counters(read_events(bench.log_dir), bench.phases)
    spans = [s for s in bench.tracer.spans if s["end"] is not None]
    n_pass = len(bench.passes)
    rows = [
        (ex["query"], execution_layers(ex, counters, spans, bench.input_bytes))
        for ex in bench.executions if "wall" in ex
    ]
    fields = [k for k in UNITS if not k.startswith(("session.", "memory.", "query.", "trace."))]

    def per_pass(subset: list[dict]) -> dict:
        return {f: sum(r[f] for r in subset) / n_pass for f in fields}

    by_query: dict[str, list[dict]] = defaultdict(list)
    for q, r in rows:
        by_query[q].append(r)
    per_query = {q: per_pass(rs) for q, rs in by_query.items()}
    selfcheck = max(r["_selfcheck"] for _q, r in rows)
    metrics = {
        "session.build_s": bench.session_build_s,
        "session.warmup_s": bench.warmup_s,
        "memory.peak_rss_mb": bench.peak_rss_mb,
        "query.p50_s": bench.query_p50_s,
        **per_pass([r for _q, r in rows]),
        "trace.overhead": overhead,
        "trace.selfcheck_err": selfcheck,
    }
    verdict = "PASS" if selfcheck <= SELFCHECK_LIMIT else "FAIL"
    checks = [
        f"trace self-check {verdict}: max error {selfcheck:.4f} over {len(rows)} query "
        f"executions (limit {SELFCHECK_LIMIT})",
        f"tracing overhead: traced wall_s / untraced wall_s = {overhead:.3f}",
    ]
    return metrics, UNITS, per_query, checks
