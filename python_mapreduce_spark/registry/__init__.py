"""Query registry: the operator inventory the driver verifies.

Each entry pairs a Spark implementation (a callable ``(spark, sf_dir) ->
DataFrame``) with an equivalent ANSI-SQL oracle that DuckDB runs over the
same parquet tables. ``sql=None`` marks the few operators whose result is
not SQL-expressible (approximate ANN result sets, IVF centroids, zlib
ratios, file extents). Those get a weaker rows-only check, and each has
an oracle-checked twin (pinned in tests/test_core_queries.py).

One module per family: core, extra, tpch2, tpch3 (relational), joins,
windows, stats (statistical tests and sketches), llm (text, dedup,
graph, retrieval, ANN), mr (the mapreduce facade) and streaming.
``all_queries()`` merges them; the order carries no meaning.

Conventions that make the hash comparison work (see __spark_entry__.py):
  * every computed column is aliased identically on both sides;
  * double aggregates are rounded (2-4 decimals) on both sides so float
    summation order can't flip a bit;
  * timestamps are emitted as formatted strings;
  * any query whose row *identity* depends on order (top-k) carries a
    total-order tiebreak.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class Query:
    """One verified operator: Spark impl + DuckDB oracle (or rows-only)."""

    fn: Callable[[SparkSession, str], DataFrame]
    sql: str | None
    doc: str = ""


def all_queries() -> dict[str, Query]:
    """Merge every family module's QUERIES dict; a name may appear once."""
    from python_mapreduce_spark.registry import (  # noqa: PLC0415 - lazy, avoids import cycles
        core,
        extra,
        joins,
        llm,
        mr,
        stats,
        streaming,
        tpch2,
        tpch3,
        windows,
    )

    merged: dict[str, Query] = {}
    for mod in (core, extra, tpch2, tpch3, joins, windows, stats, llm, mr, streaming):
        for name, q in mod.QUERIES.items():
            if name in merged:
                raise ValueError(f"duplicate query name: {name}")
            merged[name] = q
    return merged
