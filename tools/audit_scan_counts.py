"""Duplicate-subtree audit: parquet-scan and Python-eval counts per query.

Builds every HEADLINE query's DataFrame and counts `Scan parquet`,
`ArrowEvalPython`/`BatchEvalPython`/`MapInPandas`/`MapInArrow`/
`FlatMapGroupsInPandas`/`FlatMapGroupsInArrow`
nodes in explain("formatted"). A query whose plan scans the same table
many more times than it references distinct tables is re-running a
shared subtree per consumer (Catalyst shares none) — the round-10
optimization target. Lazy localCheckpoints hide their upstream in an
ExistingRDD leaf, so post-fix queries legitimately report low counts.

Usage: python tools/audit_scan_counts.py [--sf DIR] [--min N]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE  # noqa: E402
from python_mapreduce_spark.registry import all_queries  # noqa: E402
from python_mapreduce_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf = "/root/testdata/sf0.01"
    min_scans = 3
    for a in sys.argv[1:]:
        if a.startswith("--sf="):
            sf = a.split("=", 1)[1]
        elif a.startswith("--min="):
            min_scans = int(a.split("=", 1)[1])
    spark = get_spark("audit_scan_counts")
    registry = all_queries()
    rows = []
    for name in HEADLINE:
        if name not in registry:
            continue
        try:
            df = registry[name].fn(spark, sf)
            txt = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as e:  # noqa: BLE001
            print(f"ERR   {name}: {e}", flush=True)
            continue
        scans = len(re.findall(r"Scan parquet", txt))
        tables = len(set(re.findall(r"InMemoryFileIndex \[([^\]]+)\]", txt)))
        pyeval = len(
            re.findall(
                r"ArrowEvalPython|BatchEvalPython|MapIn(Pandas|Arrow)|FlatMapGroupsIn(Pandas|Arrow)",
                txt,
            )
        )
        rows.append((name, scans, tables, pyeval))
    rows.sort(key=lambda r: -(r[1] - r[2]))
    print(f"{'query':<36} scans tables pyeval  (sorted by scans-tables)")
    for name, scans, tables, pyeval in rows:
        flag = " <-- duplicate subtree?" if scans - max(tables, 1) >= min_scans - 1 else ""
        print(f"{name:<36} {scans:>5} {tables:>6} {pyeval:>6}{flag}", flush=True)


if __name__ == "__main__":
    main()
