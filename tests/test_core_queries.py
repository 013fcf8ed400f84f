"""Every registered query, built once: plan and schema audit, then the
DuckDB oracle comparison at sf0.001.

The comparison is the one ``tools/check_oracle.py`` runs (row count +
name-sorted columns + order-insensitive value hash). Before it runs, the
same DataFrame's physical plan and schema are audited for the patterns
that break scale or the comparison itself (row-at-a-time Python, an
unconditioned cross join, a single-partition window, complex-typed or
wide-decimal columns). Both checks live in ``conftest.QueryChecks``,
which memoizes them per query for every test that asserts on them.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod

# Rows-only queries (no DuckDB oracle): their result is not
# SQL-expressible. Each maps to the oracle-checked twin that pins it.
ROWS_ONLY_TWINS = {
    "q_compression_ratio": "q_compression_ratio_eval",  # DuckDB has no zlib
    "q_dedup_embedding_precluster": "q_dedup_embedding_precluster_eval",  # IVF centroids
    "q_sim_ann_ivf": "q_sim_ann_ivf_recall",  # approximate top-k sets
    "q_sim_ann_ivf_pq": "q_sim_ann_ivf_pq_recall",
    "q_sim_ann_lsh": "q_sim_ann_lsh_recall",
    "q_zorder_layout": "q_zorder_code",  # file extents follow range-partitioner sampling
}


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "sum_qty" in df.columns


def test_queries_have_oracles_or_reason():
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    assert set(oracles) <= set(qs)
    assert set(qs) - set(oracles) == set(ROWS_ONLY_TWINS)
    assert set(ROWS_ONLY_TWINS.values()) <= set(oracles)


@pytest.mark.parametrize("name", sorted(entrymod.queries()))
def test_query_matches_oracle(name, query_checks):
    problems = query_checks.audit(name)
    assert not problems, problems
    problems = query_checks.oracle(name)
    assert not problems, problems


def test_bench_summary_line_stays_tail_window_safe():
    # The driver parses the LAST stdout line from a bounded tail
    # capture; the full record overflowed it at 117 queries
    # (BENCH_r05 "parsed": null). Pin that the summary form stays
    # small and driver-schema-complete at ANY registry size.
    import json

    from bench import make_summary_line

    record = {
        "metric": "headline_queries_total_runtime",
        "value": 123.456,
        "unit": "sec",
        "queries": {f"q_{'x' * 30}_{i:04d}": i / 7.0 for i in range(500)},
        "sf": 0.1,
        "value_normalized": 120.0,
        "calibration": {"drift": 1.234},
    }
    line = make_summary_line(record)
    assert len(line) < 1500, len(line)
    parsed = json.loads(line)
    assert parsed["metric"] == "headline_queries_total_runtime"
    assert {"value", "unit", "queries", "sf"} <= set(parsed)
    assert len(parsed["queries"]) == 10
    assert parsed["n_queries"] == 500
    # the inlined queries are exactly the 10 heaviest
    assert min(parsed["queries"].values()) >= 499 / 7.0 - 10
