"""Sinks (rotation/compression/partitioning roundtrips) and plan
assertions (pushdown, pruning, broadcast) — the scale contracts that
small-data value checks can't see."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def lineitem(spark, sf_dir):
    from python_mapreduce_spark.sources.readers import load_table

    return load_table(spark, sf_dir, "lineitem")


def test_json_roundtrip_with_gzip(spark, lineitem, tmp_path):
    from python_mapreduce_spark.sources.readers import read_jsonl
    from python_mapreduce_spark.sources.sinks import write_json

    out = str(tmp_path / "j")
    df = lineitem.select("l_orderkey", "l_quantity", "l_returnflag")
    write_json(df, out, compression="gzip")
    assert glob.glob(os.path.join(out, "*.json.gz"))
    back = read_jsonl(spark, out)
    assert back.count() == df.count()
    assert set(back.columns) >= {"l_orderkey", "l_quantity", "l_returnflag"}


def test_rotation_caps_records_per_file(lineitem, tmp_path):
    from python_mapreduce_spark.sources.sinks import write_parquet

    out = str(tmp_path / "rot")
    df = lineitem.limit(1000).coalesce(1)
    write_parquet(df, out, max_records_per_file=100)
    files = glob.glob(os.path.join(out, "*.parquet"))
    assert len(files) >= 10  # 1000 rows / 100 per file


def test_partitioned_layout_enables_pruning(spark, lineitem, tmp_path):
    from python_mapreduce_spark.plans.explain import formatted_plan
    from python_mapreduce_spark.sources.sinks import write_parquet

    out = str(tmp_path / "part")
    write_parquet(lineitem.limit(2000), out, partition_by=["l_returnflag"])
    assert glob.glob(os.path.join(out, "l_returnflag=*"))
    scan = spark.read.parquet(out).filter(F.col("l_returnflag") == "A")
    # Partition filter must prune directories, not filter rows post-scan.
    assert "PartitionFilters" in formatted_plan(scan)


def test_filter_and_projection_reach_the_scan(spark, sf_dir):
    from python_mapreduce_spark.plans.explain import pushed_filters, read_schema_columns
    from python_mapreduce_spark.registry.core import q_filter_project

    df = q_filter_project(spark, sf_dir)
    pushed = " ".join(pushed_filters(df))
    assert "l_quantity" in pushed and "l_discount" in pushed
    cols = read_schema_columns(df)
    # Column pruning: the scan reads only what the query needs.
    assert set(cols) == {
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        "l_extendedprice",
        "l_discount",
    }


def test_star_join_goes_broadcast(spark, sf_dir):
    from python_mapreduce_spark.plans.explain import has_broadcast_join
    from python_mapreduce_spark.registry.joins import q_join_broadcast

    assert has_broadcast_join(q_join_broadcast(spark, sf_dir))


def test_topk_plans_without_global_sort(spark, sf_dir):
    from python_mapreduce_spark.plans.explain import formatted_plan
    from python_mapreduce_spark.registry.core import q_topk_orders

    plan = formatted_plan(q_topk_orders(spark, sf_dir))
    # orderBy+limit must become TakeOrderedAndProject, not a full Sort.
    assert "TakeOrderedAndProject" in plan


def test_global_row_number_no_window_no_extra_shuffle(spark, tables):
    # The distributed global-rank operator costs one range exchange (paid
    # inside the eager checkpoint — the materialization that keeps the
    # counting and numbering passes on identical partitions) and nothing
    # after it: no single-partition Window (the thing it replaces) and no
    # second shuffle on partition id (the naive Window.partitionBy(pid)
    # formulation's hidden cost — it re-clusters the whole table).
    from python_mapreduce_spark.operators.windows import global_row_number
    from python_mapreduce_spark.plans.explain import formatted_plan

    plan = formatted_plan(
        global_row_number(tables["customer"], ["c_acctbal", "c_custkey"])
    )
    assert "Window" not in plan
    assert "Exchange" not in plan, plan  # post-checkpoint: pure map stage
    assert "SinglePartition" not in plan


@pytest.mark.parametrize("qname", ["q11_revenue_share", "q15_top_supplier"])
def test_scalar_subquery_shapes_reuse_exchange(spark, sf_dir, qname):
    # Q11/Q15 compute a global scalar (total / max) over the same rollup
    # they filter. The branch-join form relies on Catalyst's
    # ReuseExchange to share the partial-agg shuffle, so the fact table
    # is scanned ONCE and no single task sees the whole rollup (the
    # unpartitioned-window alternative is a single-task funnel — see
    # the plan audit in tests/test_core_queries.py).
    from python_mapreduce_spark.plans.explain import single_partition_windows
    from python_mapreduce_spark.registry import tpch2, tpch3

    q = {**tpch2.QUERIES, **tpch3.QUERIES}[qname]
    df = q.fn(spark, sf_dir)
    assert single_partition_windows(df) == []
    df.collect()  # AQE finalizes the plan; reuse is visible after run
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in plan, f"{qname}: partial-agg shuffle not shared"


def test_tfidf_and_vocab_explode_corpus_once(spark, sf_dir):
    # tfidf_topk / vocab_coverage consume their doc-term frame from two
    # branches; the lazy localCheckpoint must keep the corpus
    # regex-explode to a single pass. Without it Catalyst column-prunes
    # the second branch into a different subtree (no ReuseExchange) and
    # re-explodes the whole corpus — at 100 TB that doubles the
    # dominant stage.
    import re

    from python_mapreduce_spark.llm.text import tfidf_topk, vocab_coverage
    from python_mapreduce_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents")

    df = tfidf_topk(docs, "doc_id", "text", k=3)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    # one corpus scan feeds the checkpoint upstream; the only parquet
    # scans left in the final plan are the pruned 1-row count branch
    assert len(re.findall(r"Scan parquet", plan)) <= 2, plan
    assert "explode" not in plan.lower()

    df = vocab_coverage(docs, "doc_id", "text", "lang", vocab_size=10)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Scan parquet" not in plan, plan
    assert "explode" not in plan.lower()


def test_crossdoc_coverage_explodes_corpus_once(spark, sf_dir):
    # Same dual-consumption hazard as tfidf: the (id, gram) frame feeds
    # both the document-frequency branch and the join-back branch; the
    # lazy cut must keep the corpus regex-explode to a single pass.
    from python_mapreduce_spark.llm.dedup import crossdoc_dup_coverage
    from python_mapreduce_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents")
    df = crossdoc_dup_coverage(docs, "doc_id", "text")
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Scan parquet" not in plan, plan
    assert "explode" not in plan.lower()


def test_replication_audit_plans_broadcast_screen_and_partial_digest(spark, sf_dir):
    from python_mapreduce_spark.operators.relational import replication_audit
    from python_mapreduce_spark.plans.explain import formatted_plan
    from python_mapreduce_spark.registry.core import q_table_checksum

    # The digest is a map-side-combined agg: only (group, 3 numbers)
    # per partition may cross the exchange.
    plan = formatted_plan(q_table_checksum(spark, sf_dir))
    assert "partial_sum" in plan and "Exchange" in plan

    a = spark.createDataFrame(
        [("g", 1, "x"), ("h", 2, "y")], "grp string, id long, v string"
    )
    b = spark.createDataFrame(
        [("g", 1, "x"), ("h", 2, "z")], "grp string, id long, v string"
    )
    p2 = formatted_plan(replication_audit(a, b, "id", ["v"], group_by="grp"))
    # Phase 2's divergent-group screen must be a broadcast hash join —
    # never a shuffle of the big sides against a tiny list, and the
    # null-safe group equality must not degrade to a nested loop.
    assert "BroadcastHashJoin" in p2
    assert "CartesianProduct" not in p2
    assert "BroadcastNestedLoop" not in p2
