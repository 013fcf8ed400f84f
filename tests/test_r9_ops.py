"""Replay tests for the sketch, resampling and ANN operators behind
registered queries: KMV distinct sketch (+ set operations), the RNG-free
Poisson-bootstrap CI and the IVF-PQ index. Everything
here is DETERMINISTIC by construction (md5-derived), so the tests pin
exact invariants — merge laws, partitioning invariance, estimator
accuracy on fixed data — not statistical tolerances."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from python_mapreduce_spark.operators.aggregates import (
    bootstrap_diff_ci,
    bootstrap_mean_ci,
    kmv_distinct_estimate,
    kmv_intersect_estimate,
    kmv_sketch,
)
from python_mapreduce_spark.plans.explain import (
    formatted_plan,
    single_partition_windows,
)


def _vals(spark, ids, col="v"):
    return spark.createDataFrame([(int(i),) for i in ids], f"{col} long")


def test_kmv_sketch_shape_determinism_and_exact_small(spark):
    df = _vals(spark, range(100))
    sk = kmv_sketch(df, "v", k=16)
    rows = sorted(r.h for r in sk.collect())
    assert len(rows) == 16
    # partitioning/order invariance: the sketch is a pure set function
    again = sorted(
        r.h for r in kmv_sketch(df.repartition(7).orderBy(F.rand(1)), "v", k=16).collect()
    )
    assert rows == again
    # below-k set: sketch holds every distinct hash, estimate is EXACT
    small = _vals(spark, [1, 2, 3, 2, 1])  # dups + all below k
    est = kmv_distinct_estimate(kmv_sketch(small, "v", k=16), k=16).collect()[0]
    assert est.n_kmv == 3.0 and est.sketch_full is False
    # NULL values are excluded like countDistinct
    withnull = spark.createDataFrame([(1,), (None,), (2,)], "v long")
    est2 = kmv_distinct_estimate(kmv_sketch(withnull, "v", k=16), k=16).collect()[0]
    assert est2.n_kmv == 2.0


def test_kmv_estimate_accuracy_and_grouping(spark):
    # k=64 over 5000 distinct values: rel err ~ 1/sqrt(k-2) ~ 13%;
    # deterministic, so a 30% gate is a stable regression pin.
    n = 5000
    df = _vals(spark, range(n))
    est = kmv_distinct_estimate(kmv_sketch(df, "v", k=64), k=64).collect()[0]
    assert est.sketch_full is True
    assert abs(est.n_kmv - n) / n < 0.30
    # grouped: per-group sketches are independent single-group sketches
    g = spark.createDataFrame(
        [(i % 2, i) for i in range(200)], "g long, v long"
    )
    per = {
        r.g: r.n_kmv
        for r in kmv_distinct_estimate(
            kmv_sketch(g, "v", group_by=["g"], k=64), group_by=["g"], k=64
        ).collect()
    }
    solo = {
        gg: kmv_distinct_estimate(
            kmv_sketch(g.filter(F.col("g") == gg), "v", k=64), k=64
        ).collect()[0].n_kmv
        for gg in (0, 1)
    }
    assert per == solo


def test_kmv_union_merge_law_and_intersection(spark):
    # A = 0..599, B = 400..999 -> |A|=600, |B|=600, |A∩B|=200, |A∪B|=1000
    a, b = _vals(spark, range(600)), _vals(spark, range(400, 1000))
    ska, skb = kmv_sketch(a, "v", k=64), kmv_sketch(b, "v", k=64)
    # merge law: k smallest of (sketch(A) ∪ sketch(B)) == sketch(A ∪ B)
    direct = sorted(r.h for r in kmv_sketch(a.unionByName(b), "v", k=64).collect())
    merged = sorted(
        set(r.h for r in ska.collect()) | set(r.h for r in skb.collect())
    )[:64]
    assert direct == merged
    est = kmv_intersect_estimate(ska, skb, k=64).collect()[0]
    assert abs(est.n_union_kmv - 1000) / 1000 < 0.30
    assert est.jaccard_kmv is not None and 0.05 < est.jaccard_kmv < 0.45  # truth 0.2
    assert abs(est.n_intersect_kmv - 200) / 200 < 0.75  # jaccard*union compounds
    # disjoint sets: zero observed overlap exactly
    dis = kmv_intersect_estimate(
        kmv_sketch(_vals(spark, range(100)), "v", k=64),
        kmv_sketch(_vals(spark, range(1000, 1100)), "v", k=64),
        k=64,
    ).collect()[0]
    assert dis.jaccard_kmv == 0.0 and dis.n_intersect_kmv == 0.0
    # empty sketches: NULL jaccard/intersection (0/0 guard), union 0
    empty = spark.createDataFrame([], "v long")
    e = kmv_intersect_estimate(
        kmv_sketch(empty, "v", k=64), kmv_sketch(empty, "v", k=64), k=64
    ).collect()[0]
    assert e.n_union_kmv == 0.0 and e.jaccard_kmv is None and e.n_intersect_kmv is None


def test_kmv_plans_are_scale_safe(spark):
    df = _vals(spark, range(100))
    # ungrouped k-cut must be TakeOrderedAndProject, never a keyless window
    plan = formatted_plan(kmv_sketch(df, "v", k=16))
    assert "TakeOrderedAndProject" in plan
    assert not single_partition_windows(kmv_sketch(df, "v", k=16))
    grouped = kmv_sketch(
        spark.createDataFrame([(i % 3, i) for i in range(100)], "g long, v long"),
        "v",
        group_by=["g"],
        k=16,
    )
    assert not single_partition_windows(grouped)
    with pytest.raises(ValueError, match=">= 2"):
        kmv_sketch(df, "v", k=1)


def test_bootstrap_ci_deterministic_brackets_mean_and_edge_cases(spark):
    rows = [(i, 100.0 + (i % 7)) for i in range(500)]
    df = spark.createDataFrame(rows, "id long, x double")
    r1 = bootstrap_mean_ci(df, "x", "id", replicates=40).collect()[0]
    # deterministic under repartition (pure function of (id, value) set)
    r2 = bootstrap_mean_ci(
        df.repartition(11).orderBy(F.rand(7)), "x", "id", replicates=40
    ).collect()[0]
    assert (r1.n_rows, r1.mean_full, r1.ci_lo, r1.ci_hi) == (
        r2.n_rows,
        r2.mean_full,
        r2.ci_lo,
        r2.ci_hi,
    )
    true_mean = sum(x for _, x in rows) / len(rows)
    assert r1.n_rows == 500
    assert abs(r1.mean_full - true_mean) < 0.01
    assert r1.ci_lo <= true_mean <= r1.ci_hi
    # interval width sane for sd~2, n=500: a few tenths, not zero/huge
    assert 0.01 < r1.ci_hi - r1.ci_lo < 2.0
    # empty input: one row of NULLs with n_rows=0
    empty = spark.createDataFrame([], "id long, x double")
    e = bootstrap_mean_ci(empty, "x", "id", replicates=40).collect()[0]
    assert e.n_rows == 0 and e.mean_full is None and e.ci_lo is None
    with pytest.raises(ValueError, match="replicates"):
        bootstrap_mean_ci(df, "x", "id", replicates=1)


def test_bootstrap_diff_ci_verdicts_and_one_sided_groups(spark):
    # clearly-separated segments: significant=True, CI brackets the
    # true difference and excludes zero
    rows = [(i, "a", 200.0 + (i % 5)) for i in range(300)] + [
        (i + 1000, "b", 100.0 + (i % 5)) for i in range(300)
    ]
    df = spark.createDataFrame(rows, "id long, g string, x double")
    r = bootstrap_diff_ci(df, "x", "id", "g", "a", "b", replicates=40).collect()[0]
    assert (r.n_a, r.n_b) == (300, 300)
    assert r.ci_lo <= 100.0 <= r.ci_hi  # true diff = 100
    assert r.significant is True and r.ci_lo > 0.0
    assert abs(r.diff_full - 100.0) < 0.01
    # determinism under repartition
    r2 = bootstrap_diff_ci(
        df.repartition(9).orderBy(F.rand(3)), "x", "id", "g", "a", "b", replicates=40
    ).collect()[0]
    assert (r.diff_full, r.ci_lo, r.ci_hi, r.significant) == (
        r2.diff_full,
        r2.ci_lo,
        r2.ci_hi,
        r2.significant,
    )
    # identical segments: interval straddles zero -> not significant
    same = spark.createDataFrame(
        [(i, "a" if i % 2 == 0 else "b", 50.0 + (i % 11)) for i in range(400)],
        "id long, g string, x double",
    )
    s = bootstrap_diff_ci(same, "x", "id", "g", "a", "b", replicates=40).collect()[0]
    assert s.significant is False and s.ci_lo < 0.0 < s.ci_hi
    # one group absent: NULL diff/CI/verdict, counts still report
    only_a = df.filter(F.col("g") == "a")
    o = bootstrap_diff_ci(only_a, "x", "id", "g", "a", "b", replicates=40).collect()[0]
    assert o.n_a == 300 and o.n_b == 0
    assert o.diff_full is None and o.ci_lo is None and o.significant is None


def test_ivf_pq_recall_floor_determinism_and_compressed_index(spark, sf_dir):
    from python_mapreduce_spark.llm.similarity import (
        ann_topk_ivf_pq,
        cosine_topk,
    )
    from python_mapreduce_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk(emb, q, "vec_id", "embedding", k=5).collect()
    }
    # bits/refine omitted: exercises the corpus-adaptive pq_dials path
    # (resolves to the measured small-corpus (4, 40) here)
    dials = dict(k=5, iters=3, m=16, pq_iters=2)
    got = ann_topk_ivf_pq(emb, q, "vec_id", "embedding", **dials).collect()
    approx = {(r.query_id, r.neighbor_id) for r in got}
    # the registry floor, with the sf0.001-measured 0.94 as margin pin
    assert len(approx & exact) / len(exact) >= 0.8
    # emitted scores are EXACT cosines (re-rank contract): every hit's
    # cos matches the brute-force score for the same pair
    ex_scores = {
        (r.query_id, r.neighbor_id): r.cos
        for r in cosine_topk(emb, q, "vec_id", "embedding", k=5).collect()
    }
    for r in got:
        if (r.query_id, r.neighbor_id) in ex_scores:
            assert abs(r.cos - ex_scores[(r.query_id, r.neighbor_id)]) < 1e-9
    # deterministic under repartition (seedless xxhash64 init + fixed
    # Lloyd rounds)
    again = {
        (r.query_id, r.rn, r.neighbor_id)
        for r in ann_topk_ivf_pq(
            emb.repartition(13), q, "vec_id", "embedding", **dials
        ).collect()
    }
    assert again == {(r.query_id, r.rn, r.neighbor_id) for r in got}
    # m must divide dim
    with pytest.raises(ValueError, match="not divisible"):
        ann_topk_ivf_pq(emb, q, "vec_id", "embedding", k=5, m=7).collect()
