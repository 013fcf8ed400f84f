"""The repo benchmark: seeded workloads through the registry, checked and timed.

Usage (from the repository root):

    python3 perfbench/run.py --workload sql_sf01 --seed 1 --seconds 7 --trace 0

One run generates the workload's inputs from ``--seed`` (an sf-style
directory plus a tiny warmup twin), computes the DuckDB oracle hashes on
them (cached per seed), builds a session with ``get_spark``, runs one
warmup pass on the twin, then runs full passes of the workload's queries,
one query at a time (closed loop, one client): at least two, and until
``--seconds`` of query time have been measured. Each query is ``registry fn`` (plan build
plus any eager jobs) followed by ``toPandas()``; its result is hashed with
``tools/check_oracle.py``'s canonicalizer after the timer stops and
compared with the oracle.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` first runs the
untraced benchmark in a child process (for the tracing overhead), then
repeats the run with Spark's event log, block-update logging and the
engine-function wrappers on, and prints the per-layer metrics. The last
stdout line is one JSON object: ``correct``, ``attempted``, ``failed``,
``metrics``. Run records and traces go to ``perfbench/.work/``.
"""

from __future__ import annotations

import argparse
import hashlib
import importlib.util
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import inputs  # noqa: E402
from eventlog import tag  # noqa: E402
from tracing import Tracer, install_wrappers, self_times  # noqa: E402
from workloads import TINY_SCALE, WORKLOADS  # noqa: E402

# wall_s is the median pass, so every run measures at least two.
MIN_PASSES = 2
RESOLVED_CONFS = (
    "spark.sql.shuffle.partitions",
    "spark.driver.memory",
    "spark.cleaner.periodicGC.interval",
)


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def load_check_oracle():
    """Import tools/check_oracle.py (and through it ``__spark_entry__``)."""
    path = os.path.join(ROOT, "tools", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def oracle_hashes(co, sf_dir: str, sqls: dict[str, str], cache_key: str) -> dict[str, list]:
    """Query -> [rows, sorted columns, value hash] of the DuckDB oracle."""
    import duckdb  # noqa: PLC0415

    path = os.path.join(WORK, "oracle", f"{cache_key}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    con = duckdb.connect()
    try:
        for t in inputs.TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        out = {}
        for name, sql in sqls.items():
            odf = con.sql(sql).df()
            cols, _kinds, h = co.canon(odf)
            out[name] = [len(odf), cols, h]
    finally:
        con.close()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(out, f)
    return out


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class GcClock:
    """Total JVM GC time (all collectors) via JMX, in seconds."""

    def __init__(self, spark) -> None:
        self.beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()

    def read(self) -> float:
        return sum(max(0, b.getCollectionTime()) for b in self.beans) / 1000.0


class Bench:
    """One run of one workload: inputs, session, warmup and timed passes."""

    def __init__(self, args: argparse.Namespace) -> None:
        self.args = args
        self.wl = WORKLOADS[args.workload]
        self.tracer = Tracer()
        self.executions: list[dict] = []
        self.phases: list[tuple[float, float, tuple]] = []
        self.gc: GcClock | None = None
        self.run_dir = os.path.join(WORK, f"{self.wl.name}-s{args.seed}-p{os.getpid()}")

    # -- inputs -------------------------------------------------------
    def make_inputs(self) -> None:
        self.sf_dir = os.path.join(self.run_dir, "sf")
        self.tiny_dir = os.path.join(self.run_dir, "tiny")
        self.input_rows = inputs.write_sf_dir(self.sf_dir, self.args.seed, self.wl.scale)
        inputs.write_sf_dir(self.tiny_dir, self.args.seed + 1, TINY_SCALE)
        self.input_bytes = sum(
            os.path.getsize(os.path.join(self.sf_dir, f)) for f in os.listdir(self.sf_dir)
        )

    def load_registry(self) -> None:
        if self.args.trace:
            self.wrapped = install_wrappers(self.tracer)
        else:
            self.wrapped = []
        self.co = load_check_oracle()
        queries, sqls = self.co.entrymod.queries(), self.co.entrymod.oracle_sql()
        missing = [q for q in self.wl.queries if q not in sqls]
        if missing:
            raise SystemExit(f"queries without a DuckDB oracle: {missing}")
        self.fns = {q: queries[q] for q in self.wl.queries}
        with open(inputs.__file__, "rb") as f:
            gen_src = f.read()
        key_src = json.dumps([self.args.seed, self.wl.scale, [sqls[q] for q in self.wl.queries]])
        cache_key = hashlib.sha256(gen_src + key_src.encode()).hexdigest()[:20]
        self.oracle = oracle_hashes(
            self.co, self.sf_dir, {q: sqls[q] for q in self.wl.queries},
            f"{self.wl.name}-s{self.args.seed}-{cache_key}",
        )

    # -- session ------------------------------------------------------
    def session_conf(self) -> dict[str, str]:
        local = os.path.join(self.run_dir, "spark-local")
        conf = {
            "spark.local.dir": local,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local} -XX:-UsePerfData",
        }
        if self.args.trace:
            self.log_dir = os.path.join(self.run_dir, "eventlog")
            os.makedirs(self.log_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.logBlockUpdates.enabled": "true",
            })
        return conf

    def start_session(self):
        from python_mapreduce_spark.session import get_spark  # noqa: PLC0415

        nproc = len(os.sched_getaffinity(0))
        with self.tracer.span("session.get_spark") as s:
            spark = get_spark(
                f"perfbench-{self.wl.name}", master=f"local[{nproc}]", extra_conf=self.session_conf()
            )
        self.session_build_s = s["end"] - s["start"]
        if self.args.trace:
            self.gc = GcClock(spark)
        return spark

    # -- one query ----------------------------------------------------
    def run_query(self, spark, query: str, pass_id: str, sf_dir: str) -> dict:
        sc = spark.sparkContext
        self.tracer.query = query
        rec = {"query": query, "pass": pass_id, "ok": False, "error": None}
        gc0 = self.gc.read() if self.gc else 0.0
        try:
            with self.tracer.span("query") as q:
                sc.setJobDescription(tag(query, pass_id, "build"))
                with self.tracer.span("registry.build") as b:
                    df = self.fns[query](spark, sf_dir)
                sc.setJobDescription(tag(query, pass_id, "action"))
                with self.tracer.span("action.toPandas") as a:
                    pdf = df.toPandas()
        except Exception as e:  # noqa: BLE001 - a failed query is a counted result
            rec["error"] = f"{type(e).__name__}: {str(e)[:300]}"
            return rec
        finally:
            sc.setJobDescription(None)
            self.tracer.query = None
        rec.update(
            wall=q["end"] - q["start"], build=b["end"] - b["start"], action=a["end"] - a["start"],
            rows=len(pdf), span=q["id"], start=q["start"], end=q["end"],
            gc_s=(self.gc.read() - gc0) if self.gc else 0.0,
        )
        self.phases.append((b["start"], b["end"], (query, pass_id, "build")))
        self.phases.append((a["start"], a["end"], (query, pass_id, "action")))
        if sf_dir == self.sf_dir:
            cols, _kinds, h = self.co.canon(pdf)
            rec["ok"] = [len(pdf), cols, h] == self.oracle[query]
            if not rec["ok"]:
                rec["error"] = f"result {len(pdf)} rows {h} != oracle {self.oracle[query]}"
        else:
            rec["ok"] = True
        return rec

    # -- the run ------------------------------------------------------
    def run(self) -> dict:
        self.make_inputs()
        self.load_registry()
        t0 = time.time()
        spark = self.start_session()
        try:
            with self.tracer.span("session.warmup") as w:
                self.warm = [self.run_query(spark, q, "warmup", self.tiny_dir) for q in self.wl.queries]
            self.setup_s = time.time() - t0
            self.warmup_s = w["end"] - w["start"]
            self.passes: list[list[dict]] = []
            measured = 0.0
            while len(self.passes) < MIN_PASSES or measured < self.args.seconds:
                start = time.time()
                pass_id = str(len(self.passes))
                self.passes.append(
                    [self.run_query(spark, q, pass_id, self.sf_dir) for q in self.wl.queries]
                )
                measured += time.time() - start
            self.executions = [r for p in self.passes for r in p]
            self.fingerprint = fingerprint(spark)
            self.peak_rss_mb = vm_hwm_mb(spark.sparkContext._gateway.proc.pid) + vm_hwm_mb("self")
        finally:
            stop_session(spark)
        return self.end_to_end()

    def end_to_end(self) -> dict[str, float]:
        walls = [r["wall"] for r in self.executions if "wall" in r]
        pass_walls = [sum(r.get("wall", 0.0) for r in p) for p in self.passes]
        passed = sum(r["ok"] for r in self.executions)
        self.query_p50_s, _, p75 = statistics.quantiles(walls, n=4)
        return {
            "setup_s": self.setup_s,
            "wall_s": statistics.median(pass_walls),
            "qpm": passed / (sum(pass_walls) / 60.0),
            "query_p75_s": p75,
        }


def fingerprint(spark) -> dict:
    import pyspark  # noqa: PLC0415

    sc = spark.sparkContext
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal:")).split()[1])
    conf = {k: spark.conf.get(k, None) or sc.getConf().get(k, None) for k in RESOLVED_CONFS}
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_gb": round(mem_kb / 1024 / 1024, 1),
        "java": sc._jvm.System.getProperty("java.version"),
        "pyspark": pyspark.__version__,
        "master": sc.master,
        **conf,
    }


def stop_session(spark) -> None:
    """Stop Spark, then end the gateway JVM and wait for it to exit."""
    from pyspark import SparkContext  # noqa: PLC0415

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def untraced_wall_s(args: argparse.Namespace) -> float:
    """wall_s of an untraced run with the same arguments (child process)."""
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
    res = subprocess.run(cmd, capture_output=True, text=True, timeout=170, check=True)
    return json.loads(res.stdout.strip().splitlines()[-1])["metrics"]["wall_s"]["value"]


def setup_env(run_dir: str) -> None:
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    # Python workers import the engine from the checkout.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    import tempfile  # noqa: PLC0415

    tempfile.tempdir = tmp
    sys.path.insert(0, ROOT)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not (os.path.isdir(os.path.join(ROOT, "python_mapreduce_spark"))
            and os.path.isfile(os.path.join(ROOT, "tools", "check_oracle.py"))):
        print(f"perfbench: no engine checkout at {ROOT}", file=sys.stderr)
        return 2
    bench = Bench(args)
    setup_env(bench.run_dir)
    overhead_base = untraced_wall_s(args) if args.trace else None
    try:
        e2e = bench.run()
        record = report(bench, e2e, overhead_base)
    finally:
        shutil.rmtree(bench.run_dir, ignore_errors=True)
    print(json.dumps(record["summary"]))
    return 0


def report(bench: Bench, e2e: dict, overhead_base: float | None) -> dict:
    wl, args = bench.wl, bench.args
    attempted = len(bench.executions) + len(bench.warm)
    failures = [r for r in bench.warm + bench.executions if not r["ok"]]
    for r in failures:
        print(f"FAILED {r['query']} pass {r['pass']}: {r['error']}")
    if args.trace:
        from layers import layer_metrics  # noqa: PLC0415

        metrics, units, per_query, checks = layer_metrics(bench, e2e["wall_s"] / overhead_base)
        for line in checks:
            print(line)
    else:
        metrics = e2e
        units = {"setup_s": "s", "wall_s": "s", "qpm": "queries/min", "query_p75_s": "s"}
        per_query = None
    info = {
        "workload": wl.name, "why": wl.why, "seed": args.seed, "scale": wl.scale,
        "input_rows": bench.input_rows, "input_bytes": bench.input_bytes,
        "queries": list(wl.queries), "passes": len(bench.passes),
        "executions": len(bench.executions), "failed_frac": len(failures) / attempted,
        "peak_rss_mb": bench.peak_rss_mb, "query_p50_s": bench.query_p50_s,
        "fingerprint": bench.fingerprint,
    }
    print("run " + json.dumps(info))
    for name, value in metrics.items():
        print(f"{wl.name} {name} = {value:.6g} {units[name]}")
    summary = {
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    record = {**info, "summary": summary, "executions": bench.executions}
    if per_query is not None:
        spans = [s for s in bench.tracer.spans if s["end"] is not None]
        selfs = self_times(spans)
        record.update(wrapped=bench.wrapped, per_query=per_query, spans=[{**s, "self_s": selfs[s["id"]]} for s in spans])
    os.makedirs(WORK, exist_ok=True)
    name = f"{'trace' if args.trace else 'result'}-{wl.name}-s{args.seed}.json"
    with open(os.path.join(WORK, name), "w") as f:
        json.dump(record, f, default=str)
    return record


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
