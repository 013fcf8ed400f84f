"""Operator-level unit tests: bucketed co-located joins, approximate
sketches, as-of semantics on hand-built micro-data, file sampling."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_bucketed_join_eliminates_shuffle(spark, tables):
    from python_mapreduce_spark.plans.explain import formatted_plan
    from python_mapreduce_spark.sources.sinks import write_bucketed_table

    write_bucketed_table(
        tables["lineitem"].select("l_orderkey", "l_quantity"),
        "li_bucketed",
        buckets=4,
        key="l_orderkey",
    )
    write_bucketed_table(
        tables["orders"].select("o_orderkey", "o_totalprice"),
        "o_bucketed",
        buckets=4,
        key="o_orderkey",
    )
    li, o = spark.table("li_bucketed"), spark.table("o_bucketed")

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = li.join(o, li.l_orderkey == o.o_orderkey)
        plan = formatted_plan(joined)
        assert "SortMergeJoin" in plan
        # Bucketed-on-key tables co-locate: no shuffle on either side.
        assert "Exchange" not in plan
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_approx_count_distinct_within_5pct(tables):
    li = tables["lineitem"]
    exact = {
        r.l_returnflag: r.n
        for r in li.groupBy("l_returnflag").agg(F.countDistinct("l_partkey").alias("n")).collect()
    }
    approx = {
        r.l_returnflag: r.n
        for r in li.groupBy("l_returnflag")
        .agg(F.approx_count_distinct("l_partkey", 0.05).alias("n"))
        .collect()
    }
    for k, n in exact.items():
        assert abs(approx[k] - n) / n < 0.05


def test_asof_join_on_known_micro_data(spark):
    from python_mapreduce_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [(1, 10, 100), (1, 25, 101), (2, 5, 102)], "k long, t long, lid long"
    ).select("k", F.timestamp_micros("t").alias("ts"), "lid")
    right = spark.createDataFrame(
        [(1, 10, 900), (1, 20, 901), (2, 9, 902)], "k long, t long, rid long"
    ).select("k", F.timestamp_micros("t").alias("ts"), "rid")
    out = {
        r.lid: r.rid_asof
        for r in asof_join(
            left, right, key="k", left_ts="ts", right_ts="ts", right_cols=["rid"]
        ).collect()
    }
    # lid 100 at t=10 matches rid 900 AT the same instant (<= semantics);
    # lid 101 at t=25 takes the latest earlier (901); lid 102 at t=5 has
    # no earlier right row -> null.
    assert out == {100: 900, 101: 901, 102: None}


def test_sample_files_is_deterministic():
    from python_mapreduce_spark.sources.readers import sample_files

    paths = [f"f{i}" for i in range(1000)]
    s1 = sample_files(paths, 0.1, seed=7)
    s2 = sample_files(paths, 0.1, seed=7)
    assert s1 == s2
    assert 50 < len(s1) < 200  # Bernoulli around 10%


def test_rdd_pair_surface_roundtrip(spark, tables):
    from python_mapreduce_spark.mapreduce import pairs_to_df, to_pairs

    nation = tables["nation"]
    pairs = to_pairs(nation, "n_regionkey", ["n_nationkey", "n_name"])
    # imperative pair-level logic (the reference's native surface)
    counted = pairs.mapValues(lambda v: 1).reduceByKey(lambda a, b: a + b)
    back = pairs_to_df(counted.map(lambda kv: (kv[0], (kv[1],))), "regionkey int, n long")
    expected = {r.n_regionkey: r.n for r in nation.groupBy("n_regionkey").count().withColumnRenamed("count", "n").collect()}
    got = {r.regionkey: r.n for r in back.collect()}
    assert got == expected


def test_union_all_by_name(spark):
    from python_mapreduce_spark.operators.relational import union_all

    a = spark.createDataFrame([(1, "x")], "id long, v string")
    b = spark.createDataFrame([("y", 2)], "v string, id long")  # reordered cols
    out = union_all([a, b]).collect()
    assert sorted((r.id, r.v) for r in out) == [(1, "x"), (2, "y")]


def test_salted_join_matches_plain_join(tables):
    # Salting changes the physical layout, never the result: the salted
    # equi-join must equal the plain join on every row (skew toolkit,
    # complements AQE skew splitting — see operators/joins.py).
    from python_mapreduce_spark.operators.joins import salted_join

    li = tables["lineitem"].select(F.col("l_suppkey").alias("k"), "l_quantity")
    s = tables["supplier"].select(F.col("s_suppkey").alias("k"), "s_name")
    plain = (
        li.join(s, "k")
        .groupBy("k", "s_name")
        .agg(F.sum("l_quantity").alias("q"), F.count(F.lit(1)).alias("n"))
    )
    salted = (
        salted_join(li, s, "k", salt_buckets=8)
        .groupBy("k", "s_name")
        .agg(F.sum("l_quantity").alias("q"), F.count(F.lit(1)).alias("n"))
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))
    # outer flavor: left rows with no match survive exactly once per row
    lonely = li.limit(50).withColumn("k", F.col("k") + 1000)
    left = salted_join(lonely, s, "k", salt_buckets=4, how="left")
    assert left.count() == 50
    assert left.filter(F.col("s_name").isNull()).count() == 50


def test_repartition_and_sort_partition_contract(tables):
    # Reference semantics (O8+O14): same key -> same partition; keys
    # non-decreasing within a partition; no global order promised.
    from python_mapreduce_spark.operators.relational import repartition_and_sort

    li = tables["lineitem"].select("l_suppkey", "l_quantity")
    out = repartition_and_sort(li, "l_suppkey", num_partitions=8)
    rows = out.select(
        F.spark_partition_id().alias("pid"), "l_suppkey"
    ).collect()
    by_pid: dict[int, list] = {}
    for r in rows:
        by_pid.setdefault(r.pid, []).append(r.l_suppkey)
    # within-partition key order
    for ks in by_pid.values():
        assert ks == sorted(ks)
    # key -> exactly one partition
    owner = {}
    for pid, ks in by_pid.items():
        for k in set(ks):
            assert owner.setdefault(k, pid) == pid
    assert len(by_pid) > 1


def test_stratified_sample_modes(tables):
    from python_mapreduce_spark.operators.relational import stratified_sample

    li = tables["lineitem"]
    fr = {"A": 0.5, "N": 0.1}

    # production path: seeded Bernoulli per stratum
    s = stratified_sample(li, "l_returnflag", fr, seed=7)
    flags = {r.l_returnflag for r in s.select("l_returnflag").distinct().collect()}
    assert flags <= {"A", "N"}  # stratum 'R' absent from fractions -> dropped
    n_a = s.filter(F.col("l_returnflag") == "A").count()
    tot_a = li.filter(F.col("l_returnflag") == "A").count()
    assert 0 < n_a < tot_a
    # seed-stable
    assert stratified_sample(li, "l_returnflag", fr, seed=7).count() == s.count()

    # deterministic path: exact key-mod inclusion, engine-independent
    d = stratified_sample(li, "l_returnflag", fr, key="l_orderkey")
    exp = li.filter(
        ((F.col("l_returnflag") == "A") & (F.pmod("l_orderkey", F.lit(2)) == 0))
        | ((F.col("l_returnflag") == "N") & (F.pmod("l_orderkey", F.lit(10)) == 0))
    )
    assert d.exceptAll(exp).count() == 0 and exp.exceptAll(d).count() == 0


def test_unpivot_roundtrips_counts(tables):
    from python_mapreduce_spark.operators.relational import unpivot
    from python_mapreduce_spark.plans.explain import formatted_plan

    li = tables["lineitem"]
    long = unpivot(li, ["l_orderkey"], ["l_quantity", "l_discount"])
    assert long.columns == ["l_orderkey", "measure", "value"]
    assert long.count() == 2 * li.count()
    # Expand in the scan stage, no shuffle introduced by the melt itself
    assert "Expand" in formatted_plan(long)
    back = long.groupBy("measure").count().collect()
    assert {r.measure: r["count"] for r in back} == {
        "l_quantity": li.count(),
        "l_discount": li.count(),
    }


def test_reduce_groups_streaming_matches_agg(spark, tables):
    import datetime
    import math
    import pickle
    import warnings

    from python_mapreduce_spark.mapreduce import flat_map, reduce_groups
    from python_mapreduce_spark.plans.explain import formatted_plan

    li = tables["lineitem"].select("l_returnflag", "l_quantity", "l_extendedprice")

    def fn(key, rows, aux):
        # consume the group strictly incrementally (never materialize)
        n = 0
        s = 0.0
        for qty, _price in rows:
            n += 1
            s += qty
        return [(key[0], n, aux["scale"] * s)]

    exp = li.groupBy(F.col("l_returnflag").alias("flag")).agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum("l_quantity") * 2.0).alias("scaled"),
    )
    e = {r.flag: (r.n, round(r.scaled, 4)) for r in exp.collect()}
    # groups larger than one Arrow batch must stream across batches
    assert max(n for n, _ in e.values()) > 500
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "500")
    try:
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            got = reduce_groups(
                li,
                "l_returnflag",
                fn,
                "flag string, n long, scaled double",
                aux={"scale": 2.0},
            )
        assert not [w for w in caught if "Cannot infer the eval type" in str(w.message)]
        assert "FlatMapGroupsInArrow" in formatted_plan(got)
        g = {r.flag: (r.n, round(r.scaled, 4)) for r in got.collect()}
    finally:
        spark.conf.set(conf, old)
    assert g == e

    # Row contract: fn sees each row's non-key values as the same Python
    # values collect() gives (timestamps as the same instant, tz-aware),
    # a null bigint as None, not nan.
    df = spark.sql(
        """SELECT * FROM VALUES
        ('a', 1L, 1.5D, CAST(1.25 AS DECIMAL(10,2)), DATE'2020-01-02',
         TIMESTAMP'2020-01-02 03:04:05', 'x', true, array(1, 2)),
        ('a', CAST(NULL AS BIGINT), CAST('NaN' AS DOUBLE), CAST(-3.5 AS DECIMAL(10,2)),
         DATE'2020-01-02', TIMESTAMP'1999-12-31 23:59:59.5', NULL, NULL, array()),
        ('b', 7L, CAST(NULL AS DOUBLE), NULL, DATE'2021-06-30', NULL, 'z', false, NULL)
        AS t(k, i, d, dec, dt, ts, s, flag, arr)"""
    )

    def norm(v):
        if isinstance(v, float) and math.isnan(v):
            return "nan"
        if isinstance(v, datetime.datetime):
            return v.astimezone(datetime.timezone.utc)
        return v

    def decoded(rows):
        return sorted((r.k, repr(tuple(map(norm, pickle.loads(r.row))))) for r in rows)

    def echo(key, rows, aux):
        return [(key[0], pickle.dumps(row)) for row in rows]

    exp_rows = sorted((r.k, repr(tuple(map(norm, tuple(r)[1:])))) for r in df.collect())
    seen = reduce_groups(df, "k", echo, "k string, row binary").collect()
    assert decoded(seen) == exp_rows

    # The map phase decodes the same way. One-row batches give the first
    # row's columns null-free (numpy branch) and the second row's nulls
    # a batch of their own; one 3-row batch has nulls in most columns.
    mapped = flat_map(
        df.coalesce(1), lambda row, aux: [(row[0], pickle.dumps(row[1:]))], "k string, row binary"
    )
    assert "MapInArrow" in formatted_plan(mapped)
    for size in ("1", old):
        spark.conf.set(conf, size)
        try:
            rows = mapped.collect()
        finally:
            spark.conf.set(conf, old)
        assert decoded(rows) == exp_rows
        assert None in {pickle.loads(r.row)[0] for r in rows}  # the null bigint

    # A two-column key arrives as Python natives; a group may emit
    # nothing, and an all-None output column keeps its declared type.
    def keyed(key, rows, aux):
        if key[0] == "b":
            return []
        kinds = ",".join(type(k).__name__ for k in key)
        return [(key[0], key[1], kinds, sum(1 for _ in rows), None)]

    out = reduce_groups(
        df, ["k", "dt"], keyed, "k string, dt date, kinds string, n long, nothing double"
    ).collect()
    assert [tuple(r) for r in out] == [("a", datetime.date(2020, 1, 2), "str,date", 2, None)]

    # With no value columns every row still arrives, as an empty tuple.
    counts = reduce_groups(
        df.select("k"), "k", lambda key, rows, aux: [(key[0], len(list(rows)))], "k string, n long"
    ).collect()
    assert sorted(map(tuple, counts)) == [("a", 2), ("b", 1)]


def test_approx_percentile_close_to_exact(tables):
    li = tables["lineitem"]
    approx = {
        r.l_returnflag: r.pq
        for r in li.groupBy("l_returnflag")
        .agg(
            F.percentile_approx("l_extendedprice", [0.25, 0.5, 0.75], 10000).alias("pq")
        )
        .collect()
    }
    exact = {
        r.l_returnflag: r.pq
        for r in li.groupBy("l_returnflag")
        .agg(F.percentile("l_extendedprice", F.lit([0.25, 0.5, 0.75])).alias("pq"))
        .collect()
    }
    assert approx.keys() == exact.keys()
    for flag, a in approx.items():
        for got, want in zip(a, exact[flag]):
            assert abs(got - want) / max(abs(want), 1e-9) < 0.02, (flag, got, want)


def test_bucketed_range_join_equals_nlj_and_avoids_nested_loop(spark, tables):
    # The big-big range-join rewrite must be result-identical to the
    # broadcast-NLJ form and must plan as a hash equi-join on the bucket
    # grid — no nested loop, which is what dies at 100 TB.
    from python_mapreduce_spark.operators.joins import bucketed_range_join, range_join
    from python_mapreduce_spark.plans.explain import formatted_plan

    e = tables["events"].select("event_id", "value")
    tiers = spark.createDataFrame(
        [(0.0, 50.0, "low"), (50.0, 200.0, "mid"), (200.0, 1000.0, "high")],
        "lo double, hi double, tier string",
    )
    nlj = {
        (r.event_id, r.tier)
        for r in range_join(e, tiers, "value", "lo", "hi").collect()
    }
    # width deliberately misaligned with tier bounds to exercise the
    # residual filter on edge buckets
    bucketed = {
        (r.event_id, r.tier)
        for r in bucketed_range_join(
            e, tiers, "value", "lo", "hi", bucket_width=37.0
        ).collect()
    }
    assert bucketed == nlj and nlj

    plan = formatted_plan(
        bucketed_range_join(e, tiers, "value", "lo", "hi", bucket_width=37.0)
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_global_row_number_dense_under_partial_sampling(spark):
    # Regression: Spark's range exchange draws a fresh random sample per
    # job, so with input large enough that the sample is partial, the
    # counting pass and numbering pass could land rows in different
    # partitions — corrupting offsets into duplicate/missing ranks. The
    # eager checkpoint pins one physical partitioning for both passes;
    # numbering must be a dense 1..n permutation.
    from pyspark.sql import functions as F

    from python_mapreduce_spark.operators.windows import global_row_number

    df = spark.range(20000).select(
        (F.col("id") * 2654435761 % 1000003).alias("v"), "id"
    )
    out = global_row_number(df, ["v", "id"], num_partitions=16)
    rns = [r.rn for r in out.select("rn").collect()]
    assert sorted(rns) == list(range(1, 20001))


def test_resolve_function_by_name_with_hot_reload(tmp_path):
    # The reference's dynamic function registry (mapper.py:44-53):
    # functions are picked from a project module BY NAME, and the module
    # is re-imported per job so on-disk edits take effect without
    # restarting anything. Write a module, resolve, edit it, resolve
    # again — the second resolve must see the new code.
    from python_mapreduce_spark.mapreduce import resolve_function

    proj = tmp_path / "proj"
    proj.mkdir()
    mod = proj / "user_fns.py"
    mod.write_text("def scale(x, aux=None):\n    return x * 2\n")

    f1 = resolve_function("user_fns:scale", project_dir=str(proj))
    assert f1(21) == 42

    mod.write_text("def scale(x, aux=None):\n    return x * 10\n")
    f2 = resolve_function("user_fns:scale", project_dir=str(proj))
    assert f2(21) == 210

    # reload=False keeps the cached module
    f3 = resolve_function("user_fns:scale", project_dir=str(proj), reload=False)
    assert f3(21) == 210

    with pytest.raises(ValueError):
        resolve_function("nomodule")


def test_run_mapreduce_accepts_function_names(spark, tmp_path):
    # Whole-job O7 parity: map/reduce hooks given as 'module:function'
    # strings resolved from a project dir, reference project layout.
    import sys
    from decimal import Decimal

    from python_mapreduce_spark.mapreduce import run_mapreduce

    proj = tmp_path / "proj2"
    proj.mkdir()
    (proj / "wc_fns.py").write_text(
        "from decimal import Decimal\n"
        "def map_words(line, aux):\n"
        "    return [(w, 1, Decimal('0.25')) for w in line.split()]\n"
        "def reduce_count(key, rows, aux):\n"
        "    ns, ws = zip(*rows)\n"
        "    return [(key[0], sum(ns), sum(ws))]\n"
    )
    df = spark.createDataFrame([("a b a",), ("b a",)], "line string")
    # Decimal columns in both schemas: a type with a comma in it.
    out = run_mapreduce(
        df,
        "wc_fns:map_words",
        "word string, n long, w decimal(10,2)",
        "wc_fns:reduce_count",
        "word string, total long, weight decimal(10,2)",
        project_dir=str(proj),
    )
    assert {tuple(r) for r in out.collect()} == {
        ("a", 3, Decimal("0.75")),
        ("b", 2, Decimal("0.50")),
    }
    assert str(proj) not in sys.path  # path cleaned up after resolution


def test_global_running_sum_matches_single_partition_window(spark):
    # The distributed running sum (range exchange + per-range-partition
    # window + broadcast offsets) must equal the demo-form
    # SUM() OVER (ORDER BY ...) exactly, including at partition
    # boundaries, and its plan must carry no single-partition Window.
    from pyspark.sql.window import Window as W

    from python_mapreduce_spark.operators.windows import global_running_sum
    from python_mapreduce_spark.plans.explain import single_partition_windows

    df = spark.createDataFrame(
        [(i, (i * 37) % 11 + 1) for i in range(2000)], "k long, w long"
    )
    out = global_running_sum(df, ["k"], "w", out="cum", num_partitions=7)
    expect = df.withColumn(
        "cum",
        F.sum("w").over(
            W.orderBy("k").rowsBetween(W.unboundedPreceding, W.currentRow)
        ).cast("long"),
    )
    got = {(r.k, r.cum) for r in out.collect()}
    want = {(r.k, r.cum) for r in expect.collect()}
    assert got == want
    assert not single_partition_windows(out)


def test_group_quantile_filter_median(spark):
    from python_mapreduce_spark.operators.aggregates import group_quantile_filter

    df = spark.createDataFrame(
        [
            # odd group: median is the middle element (20) -> keep 20, 30
            ("a", 1, 10.0), ("a", 2, 20.0), ("a", 3, 30.0),
            # even group: interpolated median 15 -> keep 20, 40
            ("b", 4, 10.0), ("b", 5, 20.0), ("b", 6, 40.0), ("b", 7, 10.0),
        ],
        "grp string, id long, v double",
    )
    kept = {(r.grp, r.id) for r in group_quantile_filter(df, "grp", "v", 0.5).collect()}
    assert kept == {("a", 2), ("a", 3), ("b", 5), ("b", 6)}
    low = {(r.grp, r.id) for r in group_quantile_filter(df, "grp", "v", 0.5, keep="lower").collect()}
    assert low == {("a", 1), ("b", 4), ("b", 7)}
    # upper + lower partition the input exactly
    assert kept | low == {(r.grp, r.id) for r in df.collect()} and not (kept & low)
    import pytest as _pt

    with _pt.raises(ValueError, match="q must be"):
        group_quantile_filter(df, "grp", "v", 1.5)
    with _pt.raises(ValueError, match="keep must be"):
        group_quantile_filter(df, "grp", "v", 0.5, keep="middle")


def test_weighted_sample_extremes_rate_and_monotonicity(spark):
    from pyspark.sql import functions as F

    from python_mapreduce_spark.operators.relational import weighted_sample

    ids = spark.range(4000).withColumnRenamed("id", "doc_id")
    # weight >= 1 keeps everything; <= 0 drops everything
    assert weighted_sample(ids.withColumn("w", F.lit(1.0)), "doc_id", "w").count() == 4000
    assert weighted_sample(ids.withColumn("w", F.lit(0.0)), "doc_id", "w").count() == 0
    # w = 0.5 keeps about half, deterministically
    half = weighted_sample(ids.withColumn("w", F.lit(0.5)), "doc_id", "w")
    n = half.count()
    assert abs(n / 4000 - 0.5) < 0.03
    assert {r.doc_id for r in half.collect()} == {
        r.doc_id
        for r in weighted_sample(ids.withColumn("w", F.lit(0.5)), "doc_id", "w").collect()
    }
    # monotone per row: every id kept at w=0.3 is also kept at w=0.6
    k3 = {r.doc_id for r in weighted_sample(ids.withColumn("w", F.lit(0.3)), "doc_id", "w").collect()}
    k6 = {r.doc_id for r in weighted_sample(ids.withColumn("w", F.lit(0.6)), "doc_id", "w").collect()}
    assert k3 <= k6


def test_group_reservoir_draws_exact_k(spark):
    from pyspark.sql import functions as F

    from python_mapreduce_spark.operators.relational import group_reservoir

    df = spark.range(300).select(
        F.col("id").alias("doc_id"), (F.col("id") % 3).cast("string").alias("grp")
    )
    out = group_reservoir(df, "grp", "doc_id", 7)
    counts = {r.grp: r.n for r in out.groupBy("grp").agg(F.count("*").alias("n")).collect()}
    assert counts == {"0": 7, "1": 7, "2": 7}
    assert set(out.select("rk").distinct().toPandas()["rk"]) == set(range(1, 8))
    # deterministic across runs; salt re-deals the draw
    base = {(r.grp, r.doc_id) for r in out.collect()}
    assert base == {(r.grp, r.doc_id) for r in group_reservoir(df, "grp", "doc_id", 7).collect()}
    redealt = {
        (r.grp, r.doc_id)
        for r in group_reservoir(df, "grp", "doc_id", 7, salt="v2").collect()
    }
    assert redealt != base
    # groups smaller than k return whole group
    tiny = spark.createDataFrame([(1, "a"), (2, "a")], "doc_id long, grp string")
    assert group_reservoir(tiny, "grp", "doc_id", 7).count() == 2


def test_sketch_rollup_union_stays_in_bounds(spark):
    from pyspark.sql import functions as F

    from python_mapreduce_spark.operators.aggregates import sketch_distinct_rollup

    # 3 coarse groups x 7 fine cells, values overlapping across cells
    df = spark.range(5000).select(
        (F.col("id") % 3).alias("grp"),
        (F.col("id") % 7).alias("day"),
        (F.col("id") % 911).alias("user"),
    )
    roll = {
        r.grp: r
        for r in sketch_distinct_rollup(df, "grp", "day", "user").collect()
    }
    exact = {
        r.grp: r.n
        for r in df.groupBy("grp").agg(F.countDistinct("user").alias("n")).collect()
    }
    for g in (0, 1, 2):
        assert roll[g].n_cells == 7
        # union-of-cell-sketches stays within the lgk=12 error bound of
        # exact (it may differ from a direct one-shot sketch: sparse
        # coupon sketches are promoted to dense registers by the union)
        assert abs(roll[g].approx_distinct - exact[g]) / exact[g] <= 0.05
    # deterministic: same registers, same estimate, every run
    rerun = {
        r.grp: r.approx_distinct
        for r in sketch_distinct_rollup(df, "grp", "day", "user").collect()
    }
    assert rerun == {g: roll[g].approx_distinct for g in roll}


def test_repeat_sample_multiplicities(spark):
    from pyspark.sql import functions as F

    from python_mapreduce_spark.operators.relational import repeat_sample

    ids = spark.range(4000).withColumnRenamed("id", "doc_id")
    # Integer weights repeat exactly: every row 3 times, copies numbered 1..3
    tripled = repeat_sample(ids.withColumn("w", F.lit(3.0)), "doc_id", "w")
    assert tripled.count() == 12000
    assert tripled.groupBy("doc_id").count().filter("count != 3").count() == 0
    assert {r.copy for r in tripled.filter("doc_id = 7").collect()} == {1, 2, 3}
    # Fractional part adds a deterministic Bernoulli extra: E[mult] = 1.5
    mixed = repeat_sample(ids.withColumn("w", F.lit(1.5)), "doc_id", "w")
    n = mixed.count()
    assert abs(n / 4000 - 1.5) < 0.05
    assert n == repeat_sample(ids.withColumn("w", F.lit(1.5)), "doc_id", "w").count()
    # Every row survives at w >= 1 (floor guarantees one copy)
    assert mixed.select("doc_id").distinct().count() == 4000
    # w < 1 degenerates to weighted_sample's keep set (same rows, copy = 1)
    from python_mapreduce_spark.operators.relational import weighted_sample

    frac = repeat_sample(ids.withColumn("w", F.lit(0.4)), "doc_id", "w")
    assert {r.doc_id for r in frac.collect()} == {
        r.doc_id
        for r in weighted_sample(ids.withColumn("w", F.lit(0.4)), "doc_id", "w").collect()
    }
    # NULL / non-positive weights drop the row
    assert repeat_sample(ids.withColumn("w", F.lit(None).cast("double")), "doc_id", "w").count() == 0
    assert repeat_sample(ids.withColumn("w", F.lit(-2.0)), "doc_id", "w").count() == 0


def test_temperature_sample_flattens_toward_uniform(spark):
    from pyspark.sql import functions as F

    from python_mapreduce_spark.operators.relational import temperature_sample

    # 100 'big' rows vs 25 'small': alpha=0.5 keeps small whole and
    # thins big to ~sqrt(25/100) = 50%
    df = spark.range(125).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 100, "big").otherwise("small").alias("dom"),
    )
    kept = temperature_sample(df, "dom", "doc_id")
    counts = {r.dom: r.n for r in kept.groupBy("dom").agg(F.count("*").alias("n")).collect()}
    assert counts["small"] == 25
    assert 35 <= counts["big"] <= 65
    # deterministic across runs
    assert kept.count() == temperature_sample(df, "dom", "doc_id").count()
    # helper columns do not leak into the output schema
    assert kept.columns == ["dom", "doc_id"]


def test_group_quantile_filter_null_values_drop_from_both_sides(spark):
    from python_mapreduce_spark.operators.aggregates import group_quantile_filter

    df = spark.createDataFrame(
        [("a", 1, 10.0), ("a", 2, 20.0), ("a", 3, None), ("b", 4, None)],
        "grp string, id long, v double",
    )
    up = {r.id for r in group_quantile_filter(df, "grp", "v", 0.5).collect()}
    low = {r.id for r in group_quantile_filter(df, "grp", "v", 0.5, keep="lower").collect()}
    # NULL-valued rows are in neither side; the all-NULL group vanishes
    assert up == {2} and low == {1}
    assert 3 not in up | low and 4 not in up | low


def test_deterministic_shuffle_is_a_reproducible_permutation(spark):
    from python_mapreduce_spark.operators.windows import deterministic_shuffle

    ids = spark.range(1000).withColumnRenamed("id", "doc_id")
    a = {r.doc_id: r.shuffle_order for r in deterministic_shuffle(ids, "doc_id").collect()}
    # a permutation of 1..N
    assert sorted(a.values()) == list(range(1, 1001))
    # not the identity order (md5 actually scrambles)
    assert any(a[i] != i + 1 for i in range(1000))
    # reproducible across runs; re-dealt by the salt
    b = {r.doc_id: r.shuffle_order for r in deterministic_shuffle(ids, "doc_id").collect()}
    assert a == b
    c = {r.doc_id: r.shuffle_order for r in deterministic_shuffle(ids, "doc_id", salt="ep2").collect()}
    assert any(a[i] != c[i] for i in a)


def test_sketch_topk_rollup_exact_within_max_items(spark):
    from pyspark.sql import functions as F

    from python_mapreduce_spark.operators.aggregates import sketch_topk_rollup

    # 2 coarse groups x 5 fine cells, 50 distinct items (< max_items),
    # skewed counts: item frequency ~ id % 50 with a planted heavy hitter
    df = spark.range(4000).select(
        (F.col("id") % 2).alias("grp"),
        (F.col("id") % 5).alias("day"),
        F.when(F.col("id") % 10 == 0, F.lit("hot"))
        .otherwise(F.concat(F.lit("i"), (F.col("id") % 50).cast("string")))
        .alias("item"),
    )
    got = sketch_topk_rollup(df, "grp", "day", "item", k=3, max_items=256)
    rows = got.collect()
    exact = {
        (r.grp, r.item): r.c
        for r in df.groupBy("grp", "item").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    # per group: rank 1 must be the planted heavy hitter with its exact count
    by_grp = {}
    for r in rows:
        by_grp.setdefault(r.grp, []).append(r)
    for g, rs in by_grp.items():
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == [1, 2, 3]
        if g == 0:
            # ids with id % 10 == 0 are all even -> "hot" lives in grp 0 only
            assert rs[0].item == "hot"
        for r in rs:
            # counts are exact whenever distinct items fit in max_items
            assert r.est_count == exact[(g, r.item)]
        # deterministic tie-break: (count desc, item asc) is a total order
        keys = [(-r.est_count, r.item) for r in rs]
        assert keys == sorted(keys)


def test_sketch_quantile_rollup_rank_within_bound(spark):
    from pyspark.sql import functions as F

    from python_mapreduce_spark.operators.aggregates import sketch_quantile_rollup

    df = spark.range(6000).select(
        (F.col("id") % 3).alias("grp"),
        (F.col("id") % 7).alias("day"),  # 7 coprime with 3: every group spans 7 cells
        (F.col("id") * 37 % 1000).cast("double").alias("v"),
    )
    roll = {r.grp: r for r in sketch_quantile_rollup(df, "grp", "day", "v").collect()}
    vals = {
        g: sorted(r.v for r in df.filter(F.col("grp") == g).select("v").collect())
        for g in (0, 1, 2)
    }
    for g in (0, 1, 2):
        assert roll[g].n_cells == 7
        n = len(vals[g])
        for p, col in ((0.25, "q_025"), (0.5, "q_05"), (0.75, "q_075")):
            est = getattr(roll[g], col)
            # KLL k=200 guarantees ~1.65% rank error; gate at 5%
            rank = sum(1 for v in vals[g] if v <= est) / n
            assert abs(rank - p) <= 0.05, (g, p, est, rank)


def test_numeric_histogram_buckets_edges_and_overflow(spark):
    from pyspark.sql import functions as F

    from python_mapreduce_spark.operators.aggregates import numeric_histogram

    vals = [-5.0, 0.0, 0.9, 1.0, 4.99, 5.0, 9.99, 10.0, 27.3, None]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    got = {r.bucket: r for r in numeric_histogram(df, "v", 0.0, 10.0, 10).collect()}
    assert got[-1].n == 1 and got[-1].lo_edge is None          # -5.0
    assert got[0].n == 2 and got[0].lo_edge == 0.0 and got[0].hi_edge == 1.0
    assert got[1].n == 1                                        # 1.0
    assert got[4].n == 1                                        # 4.99
    assert got[5].n == 1                                        # 5.0 (left-closed)
    assert got[9].n == 1 and got[9].hi_edge == 10.0             # 9.99
    assert got[10].n == 2 and got[10].lo_edge is None           # 10.0, 27.3
    assert sum(r.n for r in got.values()) == 9                  # NULL skipped
    import pytest as _pytest
    with _pytest.raises(ValueError):
        numeric_histogram(df, "v", 0.0, 10.0, 0)
    with _pytest.raises(ValueError):
        numeric_histogram(df, "v", 10.0, 10.0, 5)


def test_table_profile_one_pass_stats(spark):
    from python_mapreduce_spark.operators.aggregates import table_profile

    df = spark.createDataFrame(
        [(1, 2.0, "a"), (2, None, "b"), (3, 4.0, "a"), (None, 6.0, None)],
        "k long, v double, s string",
    )
    got = {r.column: r for r in table_profile(df, ["k", "v", "s"]).collect()}
    assert got["k"].n_rows == 4 and got["k"].n_nulls == 1 and got["k"].n_distinct == 3
    assert got["k"].min_v == 1.0 and got["k"].max_v == 3.0 and got["k"].mean_v == 2.0
    assert got["v"].n_nulls == 1 and got["v"].n_distinct == 3 and got["v"].mean_v == 4.0
    # string column: no numeric stats
    assert got["s"].n_distinct == 2 and got["s"].min_v is None and got["s"].mean_v is None


def test_zscore_outliers_flags_planted_anomaly(spark):
    from python_mapreduce_spark.operators.aggregates import zscore_outliers

    rows = [(i, "a", 10.0 + (i % 5) * 0.1) for i in range(40)]
    rows.append((99, "a", 500.0))          # planted outlier
    rows += [(200 + i, "b", 7.0) for i in range(10)]  # constant group: sd=0
    df = spark.createDataFrame(rows, "event_id long, k string, value double")
    got = zscore_outliers(df, ["k"], "event_id", "value", z=3.0).collect()
    assert [r.id for r in got] == [99]
    assert got[0].zscore > 3 and got[0].value == 500.0


def test_funnel_ordered_semantics(spark):
    from pyspark.sql import functions as F

    from python_mapreduce_spark.operators.events import funnel

    rows = [
        # u1 completes in order: view@1, click@2, buy@3
        (1, 1, "view"), (1, 2, "click"), (1, 3, "buy"),
        # u2 clicks BEFORE viewing: click must not count (strictly after)
        (2, 5, "click"), (2, 6, "view"),
        # u3 views only
        (3, 1, "view"),
        # u4 view@1, click@2, but buy BEFORE click -> no step 3
        (4, 1, "view"), (4, 0, "buy"), (4, 2, "click"),
        # u5 never views; clicks and buys don't enter the funnel
        (5, 1, "click"), (5, 2, "buy"),
        # u6 same-instant click as view: strict > excludes it
        (6, 7, "view"), (6, 7, "click"),
    ]
    df = spark.createDataFrame(rows, "user_id long, t long, step string").select(
        "user_id", F.timestamp_micros(F.col("t")).alias("ts"), "step"
    )
    got = {r.step: (r.step_name, r.n_users) for r in
           funnel(df, "user_id", "ts", "step", ["view", "click", "buy"]).collect()}
    assert got[1] == ("view", 5)      # u1 u2 u3 u4 u6
    assert got[2] == ("click", 2)     # u1, u4 (u2 pre-view, u6 same instant)
    assert got[3] == ("buy", 1)       # u1 only
    # within window: buy must land within 1s of the click time
    got_w = {r.step: r.n_users for r in
             funnel(df, "user_id", "ts", "step", ["view", "click", "buy"],
                    within_seconds=1).collect()}
    assert got_w[3] == 1  # u1: click@2us, buy@3us is within 1s
    import pytest as _pytest
    with _pytest.raises(ValueError):
        funnel(df, "user_id", "ts", "step", [])


def test_cohort_retention_day_horizons(spark):
    from pyspark.sql import functions as F

    from python_mapreduce_spark.operators.events import cohort_retention

    def ts(day, user):
        return (day, user)

    rows = [
        # cohort 2024-01-01: u1 returns day+1 and day+7; u2 returns day+7
        # only; u3 never returns
        ("2024-01-01", 1), ("2024-01-02", 1), ("2024-01-08", 1),
        ("2024-01-01", 2), ("2024-01-08", 2),
        ("2024-01-01", 3),
        # cohort 2024-01-05: u4 returns day+1
        ("2024-01-05", 4), ("2024-01-06", 4), ("2024-01-06", 4),
    ]
    df = spark.createDataFrame(rows, "d string, user_id long").select(
        F.to_timestamp("d").alias("ts"), "user_id"
    )
    got = {r.cohort.isoformat(): r for r in
           cohort_retention(df, "user_id", "ts").collect()}
    c1 = got["2024-01-01"]
    assert c1.n_users == 3 and c1.n_day1 == 1 and c1.n_day7 == 2
    assert abs(c1.ret_day1 - 0.3333) < 1e-9 and abs(c1.ret_day7 - 0.6667) < 1e-9
    c2 = got["2024-01-05"]
    assert c2.n_users == 1 and c2.n_day1 == 1 and c2.n_day7 == 0
    assert c2.ret_day1 == 1.0 and c2.ret_day7 == 0.0


def test_resample_locf_grid_and_forward_fill(spark):
    from pyspark.sql import functions as F

    from python_mapreduce_spark.operators.windows import resample_locf

    rows = [
        # key "a": observations in buckets 0 and 3 (60s grid); buckets
        # 1-2 must be generated and carry 1.0 forward
        ("a", 10_000, 1.0),
        ("a", 190_000, 4.0),
        # same bucket, later ms wins
        ("a", 15_000, 2.0),
        # key "b": single observation -> single-bucket grid, no fills
        ("b", 70_000, 9.0),
        # same key+bucket+millisecond: larger value is the tiebreak
        ("a", 190_000, 3.5),
    ]
    df = spark.createDataFrame(rows, "k string, ms long, v double").select(
        "k", F.timestamp_millis("ms").alias("ts"), "v"
    )
    out = resample_locf(df, ["k"], "ts", "v", interval_seconds=60)
    got = {
        (r.k, r.bucket_ts.isoformat()): (r.value, r.filled) for r in out.collect()
    }
    assert got[("a", "1970-01-01T00:00:00")] == (2.0, False)   # 15s beats 10s
    assert got[("a", "1970-01-01T00:01:00")] == (2.0, True)    # filled
    assert got[("a", "1970-01-01T00:02:00")] == (2.0, True)    # filled
    assert got[("a", "1970-01-01T00:03:00")] == (4.0, False)   # 4.0 > 3.5 tiebreak
    assert got[("b", "1970-01-01T00:01:00")] == (9.0, False)
    assert len(got) == 5  # no grid beyond each key's span
    import pytest as _pytest
    with _pytest.raises(ValueError):
        resample_locf(df, ["k"], "ts", "v", interval_seconds=0)


def test_counter_increase_reset_semantics(spark):
    from pyspark.sql import functions as F

    from python_mapreduce_spark.operators.windows import counter_increase

    rows = [
        # key a: 10 -> 15 -> 3 (RESET) -> 8
        ("a", 1000, 10.0), ("a", 2000, 15.0), ("a", 3000, 3.0), ("a", 4000, 8.0),
        # key b: flat counter -> zero increases
        ("b", 1000, 5.0), ("b", 2000, 5.0),
    ]
    df = spark.createDataFrame(rows, "k string, ms long, v double").select(
        "k", F.timestamp_millis("ms").alias("ts"), "v"
    )
    got = {
        (r.k, r.ts.timestamp()): r.increase
        for r in counter_increase(df, ["k"], "ts", "v").collect()
    }
    assert got[("a", 1.0)] is None          # first sample: no predecessor
    assert got[("a", 2.0)] == 5.0
    assert got[("a", 3.0)] == 3.0           # reset: new value IS the increase
    assert got[("a", 4.0)] == 5.0
    assert got[("b", 1.0)] is None and got[("b", 2.0)] == 0.0


def test_table_profile_empty_input_zero_not_null(spark):
    from python_mapreduce_spark.operators.aggregates import table_profile

    empty = spark.createDataFrame([], "k long, s string")
    got = {r.column: r for r in table_profile(empty, ["k", "s"]).collect()}
    for c in ("k", "s"):
        assert got[c].n_rows == 0 and got[c].n_nulls == 0 and got[c].n_distinct == 0


def test_scd2_history_intervals(spark):
    from pyspark.sql import functions as F

    from python_mapreduce_spark.operators.windows import scd2_history

    rows = [
        # user 1: A A B A  -> intervals A[1,3) B[3,4) A[4,)
        (1, 1000, 10, "A"), (1, 2000, 11, "A"), (1, 3000, 12, "B"), (1, 4000, 13, "A"),
        # user 2: NULL -> X is a change; X -> NULL is a change
        (2, 1000, 20, None), (2, 2000, 21, "X"), (2, 3000, 22, None),
        # same-ms tie broken by event_id: id 31 then 32 -> B wins as latest state
        (3, 1000, 31, "A"), (3, 1000, 32, "B"),
    ]
    df = spark.createDataFrame(rows, "u long, ms long, event_id long, a string").select(
        "u", F.timestamp_millis("ms").alias("ts"), "event_id", "a"
    )
    out = scd2_history(df, "u", "ts", "a", tiebreak="event_id").collect()
    by_user = {}
    for r in out:
        by_user.setdefault(r.key, []).append(
            (r.attr, r.valid_from.timestamp(), None if r.valid_to is None else r.valid_to.timestamp(), r.is_current)
        )
    for v in by_user.values():
        v.sort(key=lambda x: x[1])
    assert by_user[1] == [("A", 1.0, 3.0, False), ("B", 3.0, 4.0, False), ("A", 4.0, None, True)]
    assert by_user[2] == [(None, 1.0, 2.0, False), ("X", 2.0, 3.0, False), (None, 3.0, None, True)]
    assert by_user[3] == [("A", 1.0, 1.0, False), ("B", 1.0, None, True)]


def test_robust_scale_median_iqr_and_constant_group(spark):
    from python_mapreduce_spark.operators.aggregates import robust_scale

    rows = [("a", float(v)) for v in [1, 2, 3, 4, 5, 100]] + [("b", 7.0)] * 4
    df = spark.createDataFrame(rows, "k string, v double")
    got = robust_scale(df, ["k"], "v").collect()
    a = sorted((r.v, r.scaled) for r in got if r.k == "a")
    # group a: median=3.5, q1=2.25, q3=4.75 -> iqr=2.5
    assert a[0] == (1.0, -1.0)           # (1 - 3.5) / 2.5
    assert a[2] == (3.0, -0.2)
    assert a[5][0] == 100.0 and abs(a[5][1] - (100 - 3.5) / 2.5) < 1e-6
    # constant group: iqr 0 -> scaled 0.0, not a division crash
    assert all(r.scaled == 0.0 for r in got if r.k == "b")


def test_diff_tables_statuses(spark):
    from python_mapreduce_spark.operators.relational import diff_tables

    a = spark.createDataFrame(
        [(1, "x", 1.0), (2, "y", 2.0), (3, None, 3.0), (4, "gone", 4.0)],
        "id long, s string, v double",
    )
    b = spark.createDataFrame(
        [(1, "x", 1.0),        # same
         (2, "y", 99.0),       # changed (v)
         (3, None, 3.0),       # same (NULL == NULL null-safely)
         (5, "new", 5.0)],     # only_b
        "id long, s string, v double",
    )
    got = {r.id: r.status for r in diff_tables(a, b, "id", ["s", "v"]).collect()}
    assert got == {1: "same", 2: "changed", 3: "same", 4: "only_a", 5: "only_b"}
    # NULL vs value is a change, not equality
    a2 = spark.createDataFrame([(7, None)], "id long, s string")
    b2 = spark.createDataFrame([(7, "now-set")], "id long, s string")
    assert diff_tables(a2, b2, "id", ["s"]).collect()[0].status == "changed"


def test_target_encode_shrinkage_and_null_category(spark):
    import math

    from python_mapreduce_spark.operators.aggregates import target_encode

    rows = (
        [("a", 1.0)] * 8 + [("a", 0.0)] * 2      # big category, mean 0.8
        + [("b", 1.0)]                            # tiny category, mean 1.0
        + [(None, 0.0)] * 3                       # NULL category, mean 0.0
        + [("c", None)]                           # NULL label: excluded
    )
    df = spark.createDataFrame(rows, "cat string, label double")
    got = {r.cat: r.te for r in target_encode(df, "cat", "label", smoothing=10.0).collect()}
    prior = 9.0 / 14.0  # 14 non-null labels, 9 ones

    def r6(x):
        return math.floor(x * 1e6 + 0.5) / 1e6

    assert got["a"] == r6((8 + 10 * prior) / (10 + 10))
    # tiny category shrinks hard toward the prior, not to its own 1.0
    assert got["b"] == r6((1 + 10 * prior) / (1 + 10))
    assert abs(got["b"] - prior) < abs(1.0 - prior)
    assert got[None] == r6((0 + 10 * prior) / (3 + 10))
    # category with only NULL labels: n=0 -> exactly the prior
    assert got["c"] == r6((0 + 10 * prior) / (0 + 10))


def test_winsorize_clamps_tails_per_group(spark):
    import math

    from python_mapreduce_spark.operators.aggregates import winsorize

    vals = [float(v) for v in range(1, 11)] + [1000.0]  # heavy upper tail
    df = spark.createDataFrame([("g", v) for v in vals], "k string, v double")
    got = {r.v: r.clipped for r in winsorize(df, ["k"], "v", lo=0.1, hi=0.9).collect()}

    import numpy as np
    plo = math.floor(np.percentile(vals, 10, method="linear") * 1e6 + 0.5) / 1e6
    phi = math.floor(np.percentile(vals, 90, method="linear") * 1e6 + 0.5) / 1e6
    assert got[1000.0] == phi           # tail clamped to p90
    assert got[1.0] == plo              # low tail clamped to p10
    assert got[5.0] == 5.0              # interior untouched
    import pytest as _pytest
    with _pytest.raises(ValueError):
        winsorize(df, ["k"], "v", lo=0.9, hi=0.1)


def test_negative_samples_properties(spark):
    from python_mapreduce_spark.operators.windows import negative_samples

    df = spark.createDataFrame([(i,) for i in range(40)], "doc_id long")
    got = negative_samples(df, "doc_id", k=3).collect()
    # every anchor gets exactly k negatives, none of them itself
    per_anchor: dict[int, list] = {}
    for r in got:
        assert r.neg_id != r.anchor_id
        per_anchor.setdefault(r.anchor_id, []).append((r.j, r.neg_id))
    assert set(per_anchor) == set(range(40))
    assert all(len(v) == 3 for v in per_anchor.values())
    # negatives within an anchor are distinct (stride multiples differ mod n)
    for v in per_anchor.values():
        assert len({nid for _, nid in v}) == 3
    # deterministic: rerun identical; salt re-deals
    again = negative_samples(df, "doc_id", k=3).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, again))
    salted = negative_samples(df, "doc_id", k=3, salt="epoch2").collect()
    assert sorted(map(tuple, salted)) != sorted(map(tuple, got))
    import pytest as _pytest
    with _pytest.raises(ValueError):
        negative_samples(df, "doc_id", k=0)


def test_domain_cap_bounds_every_domain_deterministically(spark, tables):
    from pyspark.sql import functions as F

    from python_mapreduce_spark.operators.relational import domain_cap

    docs = tables["documents"].select("doc_id", "source")
    capped = domain_cap(docs, "source", "doc_id", 3)
    per = capped.groupBy("source").count()
    assert per.agg(F.max("count")).first()[0] <= 3
    # domains under the cap are untouched
    small = docs.groupBy("source").count().filter(F.col("count") <= 3).count()
    assert per.filter(F.col("count") < 3).count() <= small
    # deterministic: same survivors on re-run and under reordering
    again = domain_cap(docs.orderBy(F.desc("doc_id")), "source", "doc_id", 3)
    assert {r.doc_id for r in capped.collect()} == {r.doc_id for r in again.collect()}
    # salt re-deals
    other = domain_cap(docs, "source", "doc_id", 3, salt="epoch2")
    assert {r.doc_id for r in other.collect()} != {r.doc_id for r in capped.collect()}


def test_stratified_exact_split_proportions_are_exact(spark, tables):
    from pyspark.sql import functions as F

    from python_mapreduce_spark.operators.relational import stratified_exact_split

    docs = tables["documents"].select("doc_id", "lang")
    out = stratified_exact_split(docs, ["lang"], "doc_id")
    per = {
        (r.lang, r.split): r["count"]
        for r in out.groupBy("lang", "split").count().collect()
    }
    n_per = {r.lang: r["count"] for r in docs.groupBy("lang").count().collect()}
    for lang, n in n_per.items():
        train = per.get((lang, "train"), 0)
        val = per.get((lang, "val"), 0)
        test = per.get((lang, "test"), 0)
        assert train == int(0.8 * n)  # floor of the same double
        assert train + val == int((0.8 + 0.1) * n)
        assert train + val + test == n
    # every row assigned exactly once
    assert out.count() == docs.count()


def test_quality_quota_rescues_starved_groups(spark, tables):
    from pyspark.sql import functions as F

    from python_mapreduce_spark.operators.relational import quality_quota_select

    docs = tables["documents"].select("doc_id", "source", "n_chars")
    n = docs.count()
    out = quality_quota_select(
        docs, "source", "doc_id", "n_chars", frac=0.1, min_per_group=2
    ).cache()
    k = int(0.1 * n)
    assert out.filter(F.col("reason") == "global").count() == k
    # every group with >= 2 rows keeps at least 2
    eligible = docs.groupBy("source").count().filter(F.col("count") >= 2).count()
    kept_per = out.groupBy("source").count()
    assert kept_per.filter(F.col("count") >= 2).count() == eligible
    # global selection is the true top-k by (score desc, id)
    top = {
        r.doc_id
        for r in docs.orderBy(F.desc("n_chars"), "doc_id").limit(k).collect()
    }
    assert {r.doc_id for r in out.filter(F.col("reason") == "global").collect()} == top
    out.unpersist()


def test_token_budget_cut_is_best_first_prefix(spark, tables):
    from pyspark.sql import functions as F

    from python_mapreduce_spark.operators.windows import global_running_sum  # noqa: F401

    from python_mapreduce_spark.operators.relational import token_budget_cut

    docs = tables["documents"].select("doc_id", "n_chars")
    budget = 5000
    out = token_budget_cut(docs, "doc_id", "n_chars", "n_chars", budget).cache()
    rows = sorted(
        ((r.doc_id, r.n_chars, r.cum_tokens) for r in out.collect()),
        key=lambda t: t[2],
    )
    assert rows, "budget keeps at least the best doc"
    assert rows[-1][2] <= budget
    # replay: python prefix over the same order equals the kept set
    ordered = sorted(
        ((r.doc_id, r.n_chars) for r in docs.collect()),
        key=lambda t: (-t[1], t[0]),
    )
    acc, expect = 0, []
    for did, nc in ordered:
        acc += nc
        if acc > budget:
            break
        expect.append((did, nc, acc))
    assert rows == expect
    out.unpersist()


def test_embedding_covariance_forms_agree_and_are_symmetric_stats(spark, tables):
    import numpy as np

    from python_mapreduce_spark.llm.similarity import (
        embedding_covariance,
        embedding_covariance_blas,
    )

    emb = tables["embeddings"]
    a = embedding_covariance(emb, "embedding").toPandas().set_index(["i", "j"]).sort_index()
    b = (
        embedding_covariance_blas(emb, "embedding")
        .toPandas()
        .set_index(["i", "j"])
        .sort_index()
    )
    assert len(a) == 64 * 65 // 2 and len(b) == len(a)
    assert float((a["cov"] - b["cov"]).abs().max()) < 1e-8
    # unit-norm corpus: trace == 1 (sum of diagonal)
    diag = a.loc[[(i, i) for i in range(64)], "cov"].sum()
    assert abs(diag - 1.0) < 1e-6
    # numpy ground truth
    import pyarrow.parquet as pq  # noqa: F401

    pdf = emb.select("embedding").toPandas()
    x = np.stack(pdf["embedding"].values).astype(np.float64)
    g = (x.T @ x) / len(x)
    iu = [(i, j) for i in range(64) for j in range(i, 64)]
    truth = np.array([g[i, j] for i, j in iu])
    got = a.loc[iu, "cov"].to_numpy()
    assert float(np.abs(got - truth).max()) < 1e-7


def test_chunk_pack_partitions_the_token_stream_exactly(spark, tables):
    import collections

    from pyspark.sql import functions as F

    from python_mapreduce_spark.operators.windows import chunk_pack

    docs = tables["documents"].select("doc_id", "n_chars")
    rows = chunk_pack(docs, "doc_id", "n_chars", 256).collect()
    total = docs.agg(F.sum("n_chars")).first()[0]
    # conservation: every token lands in exactly one (doc, seq) span
    assert sum(r.n_tokens for r in rows) == total
    # every sequence but the last is exactly full
    seq = collections.Counter()
    for r in rows:
        seq[r.seq_id] += r.n_tokens
    vals = [seq[s] for s in sorted(seq)]
    assert all(v == 256 for v in vals[:-1])
    assert 0 < vals[-1] <= 256
    assert sorted(seq) == list(range(len(vals)))  # contiguous seq ids
    # per-doc spans chain: doc_offsets partition [0, n_chars)
    per = collections.defaultdict(list)
    for r in rows:
        per[r.id].append(r)
    for rs in per.values():
        rs.sort(key=lambda r: r.doc_offset)
        acc = 0
        for r in rs:
            assert r.doc_offset == acc
            assert 0 <= r.seq_offset < 256
            acc += r.n_tokens
    # salt re-deals the packing order
    other = chunk_pack(docs, "doc_id", "n_chars", 256, salt="e2").collect()
    assert {(r.id, r.seq_id) for r in other} != {(r.id, r.seq_id) for r in rows}


def test_equi_freq_bins_are_balanced_and_deterministic(spark, tables):
    from pyspark.sql import functions as F

    from python_mapreduce_spark.operators.aggregates import equi_freq_bins

    ev = tables["events"].select("event_type", "value")
    out = equi_freq_bins(ev, ["event_type"], "value", n_bins=4).cache()
    # bins are 1..4 and each holds ~25% of its group (continuous values)
    per = out.groupBy("event_type", "bin").count().collect()
    assert {r.bin for r in per} <= {1, 2, 3, 4}
    n_per = {r.event_type: r["count"] for r in ev.groupBy("event_type").count().collect()}
    for r in per:
        assert abs(r["count"] / n_per[r.event_type] - 0.25) < 0.05
    # monotone: higher values never get lower bins within a group
    joined = out.alias("a").join(
        out.alias("b"),
        (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("a.value") > F.col("b.value"))
        & (F.col("a.bin") < F.col("b.bin")),
    )
    assert joined.count() == 0
    out.unpersist()


def test_dq_audit_counts_planted_violations(spark):
    # NULL predicate = violation (NULL price fails the range rule);
    # uniqueness counts rows beyond the first occurrence and ignores
    # NULL keys; rules emit in declaration order.
    from pyspark.sql import functions as F

    from python_mapreduce_spark.operators.aggregates import dq_audit

    rows = [
        (1, 10.0, "O"),
        (1, 20.0, "F"),      # duplicate key
        (2, None, "O"),      # NULL price -> range violation
        (3, -5.0, "X"),      # range + set violations
        (None, 30.0, "O"),   # NULL key: uniqueness ignores it
    ]
    df = spark.createDataFrame(rows, "k long, price double, status string")
    out = dq_audit(
        df,
        [
            ("range(price)", F.col("price").between(0, 100)),
            ("in_set(status)", F.col("status").isin("O", "F")),
        ],
        unique_cols=["k"],
    ).collect()
    assert [r.rule for r in out] == ["range(price)", "in_set(status)", "unique(k)"]
    by = {r.rule: r for r in out}
    assert (by["range(price)"].n_checked, by["range(price)"].n_violations) == (5, 2)
    assert by["range(price)"].violation_rate == 0.4
    assert (by["in_set(status)"].n_checked, by["in_set(status)"].n_violations) == (5, 1)
    assert (by["unique(k)"].n_checked, by["unique(k)"].n_violations) == (4, 1)
    assert by["unique(k)"].violation_rate == 0.25


def test_conversion_lag_matches_replay(spark):
    # Exact percentile interpolation and the attach rate vs a direct
    # numpy replay on a planted click/purchase timeline.
    from datetime import datetime, timezone

    import numpy as np
    from pyspark.sql import functions as F

    from python_mapreduce_spark.operators.events import conversion_lag

    def t(minute):
        return datetime(2024, 1, 1, minute // 60, minute % 60, tzinfo=timezone.utc)

    # user 1: click@0, purchases @10 and @50 (lags 10, 50)
    # user 2: click@0, purchase @200 (outside the 120-min window)
    # user 3: purchase with no click at all
    rows = [
        (1, 1, "click", t(0)), (2, 1, "purchase", t(10)), (3, 1, "purchase", t(50)),
        (4, 2, "click", t(0)), (5, 2, "purchase", t(200)),
        (6, 3, "purchase", t(30)),
    ]
    df = spark.createDataFrame(rows, "event_id long, user_id long, event_type string, ts timestamp")
    conv = df.filter(F.col("event_type") == "purchase")
    tch = df.filter(F.col("event_type") == "click")
    [r] = conversion_lag(conv, tch, "user_id", "ts", "event_id", window_minutes=120).collect()
    assert (r.n_conversions, r.n_attributed) == (4, 2)
    assert r.attach_rate == 0.5
    p50, p90, p99 = np.percentile([10.0, 50.0], [50, 90, 99])
    assert (r.lag_p50, r.lag_p90, r.lag_p99) == (
        f"{p50:.4f}", f"{p90:.4f}", f"{p99:.4f}"
    )

    # zero conversions -> zero rows
    empty = conv.filter(F.lit(False))
    assert conversion_lag(empty, tch, "user_id", "ts", "event_id").count() == 0


def test_gap_report_counts_missing_days(spark):
    from datetime import datetime, timezone

    from python_mapreduce_spark.operators.events import gap_report

    def d(day, h=0):
        return datetime(2024, 1, day, h, tzinfo=timezone.utc)

    rows = [
        ("a", d(1)), ("a", d(1, 5)), ("a", d(3)), ("a", d(7)),   # 1..7: 3 of 7 days
        ("b", d(2)),                                              # single day
        (None, d(4)),                                             # NULL key excluded
        ("c", None),                                              # NULL ts excluded
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp")
    got = {r.key: r for r in gap_report(df, "k", "ts").collect()}
    assert set(got) == {"a", "b"}
    a = got["a"]
    assert (a.first_day, a.last_day) == ("2024-01-01", "2024-01-07")
    assert (a.n_expected, a.n_observed, a.n_missing) == (7, 3, 4)
    assert a.coverage == round(3 / 7, 6)
    b = got["b"]
    assert (b.n_expected, b.n_observed, b.n_missing, b.coverage) == (1, 1, 0, 1.0)


def test_correlation_matrix_matches_numpy(spark):
    import numpy as np
    from pyspark.sql import functions as F  # noqa: F401

    from python_mapreduce_spark.operators.aggregates import correlation_matrix

    rng = [
        (1.0, 2.0, 3.5), (2.0, 4.1, 1.0), (3.0, 6.2, 0.5),
        (4.0, 7.9, 2.2), (5.0, 10.1, None), (None, 1.0, 4.0),
    ]
    df = spark.createDataFrame(rng, "a double, b double, c double")
    got = {(r.col_a, r.col_b): r for r in correlation_matrix(df, ["a", "b", "c"]).collect()}
    assert set(got) == {("a", "b"), ("a", "c"), ("b", "c")}
    # a-b over their 5 complete rows: near-perfect positive correlation
    ab = got[("a", "b")]
    assert ab.n == 5
    exp = np.corrcoef([1, 2, 3, 4, 5], [2.0, 4.1, 6.2, 7.9, 10.1])[0, 1]
    assert abs(ab.corr - exp) < 1e-4
    assert got[("a", "c")].n == 4 and got[("b", "c")].n == 5

    # constant column -> NULL corr
    dfc = spark.createDataFrame([(1.0, 5.0), (2.0, 5.0)], "a double, b double")
    [r] = correlation_matrix(dfc, ["a", "b"]).collect()
    assert r.corr is None


def test_rfm_segments_scores_against_replay(spark):
    # 5 users with clearly separated R/F/M; bins=5 makes each user its
    # own quintile and scores fully determined.
    from datetime import datetime, timezone

    from pyspark.sql import functions as F  # noqa: F401

    from python_mapreduce_spark.operators.events import rfm_segments

    rows = []
    for u in range(1, 6):
        # user u: last active day u (fresher = bigger day), u events of value 10*u
        for i in range(u):
            rows.append((u, datetime(2024, 1, u, 6 + i, tzinfo=timezone.utc), 10.0 * u))
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    got = {(r.r_score, r.f_score, r.m_score): r.n_users for r in rfm_segments(
        df, "user_id", "ts", "value"
    ).collect()}
    # user 5: freshest (r=5), most frequent (f=5), highest spend (m=5)
    # user 1: stalest, least frequent, lowest spend -> (1,1,1)
    assert got[(5, 5, 5)] == 1 and got[(1, 1, 1)] == 1
    assert sum(got.values()) == 5
    # monotone diagonal: user u lands at (u, u, u)
    for u in range(1, 6):
        assert got[(u, u, u)] == 1


def test_session_stats_counts_and_durations(spark):
    from datetime import datetime, timezone

    from pyspark.sql import functions as F  # noqa: F401

    from python_mapreduce_spark.operators.events import session_stats

    def t(m):
        return datetime(2024, 1, 1, m // 60, m % 60, tzinfo=timezone.utc)

    # user 1: events at 0,10,20 (one 20-min session), then 120,125 (5-min)
    # user 2: single event (0-duration session)
    rows = [(1, t(0)), (1, t(10)), (1, t(20)), (1, t(120)), (1, t(125)), (2, t(30))]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    [r] = session_stats(df, "user_id", "ts", gap_ms=1_800_000).collect()
    assert (r.n_sessions, r.n_events) == (3, 6)
    assert r.events_per_session == 2.0
    import numpy as np

    p50, p90, p99 = np.percentile([20.0, 5.0, 0.0], [50, 90, 99])
    assert (r.dur_p50, r.dur_p90, r.dur_p99) == (
        f"{p50:.4f}", f"{p90:.4f}", f"{p99:.4f}"
    )


def test_global_running_sum_multi_weight_single_pass(spark):
    # Multiple weight columns ride ONE range exchange + window pass and
    # each cumulative column must equal its own single-column run — the
    # mechanism ks_statistic uses to carry both sides' counts without
    # bit-packing them into one long (ADVICE r5: the packed form
    # silently corrupted past 2^31 cumulative rows on the b side).
    from python_mapreduce_spark.operators.windows import global_running_sum

    df = spark.createDataFrame(
        [(i, (i * 37) % 11 + 1, (i * 13) % 5) for i in range(500)],
        "k long, wa long, wb long",
    )
    out = global_running_sum(
        df, ["k"], ["wa", "wb"], out=["ca", "cb"], num_partitions=5
    )
    got = {(r.k, r.ca, r.cb) for r in out.collect()}
    a = {(r.k, r.ca) for r in global_running_sum(df, ["k"], "wa", out="ca").collect()}
    b = {(r.k, r.cb) for r in global_running_sum(df, ["k"], "wb", out="cb").collect()}
    assert {(k, ca) for k, ca, _ in got} == a
    assert {(k, cb) for k, _, cb in got} == b


def test_psi_empty_side_reports_maximal_drift(spark):
    # A key whose current side has ZERO rows is the maximal-drift case
    # (population vanished); the eps floors can't save the 0/0 ratio, so
    # the contract is psi = NULL with drifted = TRUE — not the silent
    # NULL/NULL the NaN->decimal cast used to produce (ADVICE r5).
    from pyspark.sql import functions as F

    from python_mapreduce_spark.operators.aggregates import psi_from_bucket_counts

    counts = spark.createDataFrame(
        [("gone", 1, 10, 0), ("gone", 2, 10, 0),
         ("ok", 1, 10, 9), ("ok", 2, 10, 11)],
        "g string, __b int, __nr long, __nc long",
    )
    rows = {r.g: r for r in psi_from_bucket_counts(counts, ["g"]).collect()}
    assert rows["gone"].psi is None
    assert rows["gone"].drifted is True
    assert (rows["gone"].n_ref, rows["gone"].n_cur) == (20, 0)
    assert rows["ok"].psi is not None and rows["ok"].drifted is False
    # and the mirror case: the reference side vanished
    counts2 = counts.withColumn("__t", F.col("__nr")).select(
        "g", "__b", F.col("__nc").alias("__nr"), F.col("__t").alias("__nc")
    )
    rows2 = {r.g: r for r in psi_from_bucket_counts(counts2, ["g"]).collect()}
    assert rows2["gone"].psi is None and rows2["gone"].drifted is True


def test_last_touch_attribution_keeps_native_id_type(spark):
    # Non-numeric ids must survive: the old cast-to-long silently turned
    # string ids into NULL under ansi.enabled=false, collapsing every
    # touch onto one NULL id (ADVICE r5). Ties at one timestamp resolve
    # by max() in the id's native ordering.
    from datetime import datetime, timezone

    from python_mapreduce_spark.operators.events import last_touch_attribution

    def t(m):
        return datetime(2024, 1, 1, m // 60, m % 60, tzinfo=timezone.utc)

    conv = spark.createDataFrame(
        [("conv-a", 1, t(30))], "id string, user_id long, ts timestamp"
    )
    tch = spark.createDataFrame(
        [("click-x", 1, t(10)), ("click-y", 1, t(10)), ("click-old", 1, t(0))],
        "id string, user_id long, ts timestamp",
    )
    [r] = last_touch_attribution(conv, tch, "user_id", "ts", "id").collect()
    assert r.conv_id == "conv-a"
    assert r.touch_id == "click-y"  # max() over the tied (user, ts) pair
    assert r.attributed is True and r.mins_since == 20.0


def test_pr_curve_and_lift_gain_match_replay(spark):
    # One replay exercises the whole threshold sweep: per-threshold
    # precision/recall/f1 vs direct counting, and exact equal-size
    # lift buckets via the arithmetic rank rule.
    import math

    from python_mapreduce_spark.operators.aggregates import (
        auc_disparity,
        lift_gain,
        pr_curve,
    )

    def dr(x):
        return None if x is None else math.floor(x * 1e6 + 0.5) / 1e6

    rows = [
        (round((i * 37 % 23) / 23.0, 2), (i * 7 % 3 == 0), f"g{i % 2}")
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "score double, y boolean, g string")

    got = {
        r.threshold: (r.n_pred, r.tp, r.precision, r.recall, r.f1)
        for r in pr_curve(df, "score", "y").collect()
    }
    pos_total = sum(1 for _, y, _ in rows if y)
    assert set(got) == {s for s, _, _ in rows}
    for t in got:
        n_pred = sum(1 for s, _, _ in rows if s >= t)
        tp = sum(1 for s, y, _ in rows if s >= t and y)
        prec, rec = tp / n_pred, tp / pos_total
        f1 = 2 * prec * rec / (prec + rec) if prec + rec > 0 else None
        assert got[t] == (n_pred, tp, dr(prec), dr(rec), dr(f1)), t

    nb, n_all = 10, len(rows)
    stripes: dict[tuple, int] = {}
    for s, y, _ in rows:
        stripes[(s, int(y))] = stripes.get((s, int(y)), 0) + 1
    bucket_n, bucket_p = [0] * nb, [0] * nb
    r = 0
    for key in sorted(stripes, key=lambda k: (-k[0], k[1])):
        for _ in range(stripes[key]):
            b = (r * nb) // n_all
            bucket_n[b] += 1
            bucket_p[b] += key[1]
            r += 1
    gotl = {
        r.bucket: (r.n, r.n_pos, r.cum_pos, r.gain, r.lift)
        for r in lift_gain(df, "score", "y", n_buckets=nb).collect()
    }
    cum = 0
    for b in range(nb):
        cum += bucket_p[b]
        exp = (
            bucket_n[b],
            bucket_p[b],
            cum,
            dr(cum / pos_total),
            dr((bucket_p[b] / bucket_n[b]) / (pos_total / n_all)),
        )
        assert gotl[b] == exp, b

    # disparity: per-group auc minus overall, overall identical on rows
    disp = {r.g: r for r in auc_disparity(df, "score", "y", "g").collect()}
    assert len({r.auc_overall for r in disp.values()}) == 1
    for r in disp.values():
        assert r.auc_gap == dr(r.auc - r.auc_overall)

    # degenerate: single-class input -> NULL recall/f1 at every point,
    # NULL gain/lift, NULL aucs
    df1 = spark.createDataFrame([(0.5, False), (0.7, False)], "score double, y boolean")
    for r in pr_curve(df1, "score", "y").collect():
        assert r.recall is None and r.f1 is None and r.tp == 0
    for r in lift_gain(df1, "score", "y", n_buckets=2).collect():
        assert r.gain is None and r.lift is None


def test_sorted_neighborhood_pairs_exact_set(spark):
    from python_mapreduce_spark.operators.joins import sorted_neighborhood_pairs

    rows = [(i, f"k{(i * 3) % 5}", i % 4) for i in range(12)]
    df = spark.createDataFrame(rows, "id long, blk string, sub int")
    w = 3
    got = {(r.id_a, r.id_b, r.rank_gap) for r in sorted_neighborhood_pairs(
        df, "id", ["blk", "sub"], window=w
    ).collect()}
    order = [i for i, b, s in sorted(rows, key=lambda r: (r[1], r[2], r[0]))]
    want = {
        (order[i], order[i + g], g)
        for i in range(len(order))
        for g in range(1, w + 1)
        if i + g < len(order)
    }
    assert got == want
    n = len(rows)
    assert len(got) == n * w - w * (w + 1) // 2


def test_histogram2d_matches_direct_count(spark):
    from python_mapreduce_spark.operators.aggregates import histogram2d

    rows = [(float(i % 7) * 2 - 1, float(i % 5) * 3) for i in range(100)]
    rows += [(None, 1.0), (1.0, None), (99.0, 99.0)]
    df = spark.createDataFrame(rows, "x double, y double")
    got = {(r.x_bucket, r.y_bucket): r.n for r in histogram2d(
        df, "x", "y", x_range=(0.0, 10.0, 5), y_range=(0.0, 12.0, 4)
    ).collect()}
    import math

    want: dict[tuple, int] = {}
    for x, y in rows:
        if x is None or y is None:
            continue
        xb = -1 if x < 0 else (5 if x >= 10 else int(math.floor(x / 2.0)))
        yb = -1 if y < 0 else (4 if y >= 12 else int(math.floor(y / 3.0)))
        want[(xb, yb)] = want.get((xb, yb), 0) + 1
    assert got == want


def test_survival_curve_matches_lifelines_formula(spark):
    # Kaplan-Meier vs the canonical sequential computation, censoring
    # included; covers the d == n_risk tail (survival exactly 0.0).
    import math

    from python_mapreduce_spark.operators.events import survival_curve

    obs = [
        (1.0, True), (1.0, False), (2.0, True), (3.0, False),
        (4.0, True), (4.0, True), (5.0, False), (6.0, True),
        (6.0, True),  # at t=6 everyone left dies -> S drops to 0
    ]
    df = spark.createDataFrame(obs, "dur double, ev boolean")
    got = {r.duration: r for r in survival_curve(df, "dur", "ev").collect()}

    times = sorted({t for t, _ in obs})
    n_risk = len(obs)
    cln8 = 0
    for t in times:
        d = sum(1 for u, e in obs if u == t and e)
        c = sum(1 for u, e in obs if u == t and not e)
        if d == 0:
            term8 = 0
        elif d < n_risk:
            term8 = math.floor(math.log(1.0 - d / n_risk) * 1e8 + 0.5)
        else:
            term8 = -(10**12)
        cln8 += term8
        s = math.floor(math.exp(cln8 / 1e8) * 1e6 + 0.5) / 1e6
        r = got[t]
        assert (r.n_risk, r.n_events, r.n_censored) == (n_risk, d, c), t
        assert r.survival == s, t
        n_risk -= d + c
    assert got[6.0].survival == 0.0
    # NULLs excluded; empty input -> zero rows
    df2 = spark.createDataFrame([(None, True), (1.0, None)], "dur double, ev boolean")
    assert survival_curve(df2, "dur", "ev").count() == 0


def test_k_anonymity_and_missingness_match_counts(spark):
    from python_mapreduce_spark.operators.aggregates import (
        k_anonymity_audit,
        missingness_pattern,
    )

    rows = [
        ("a", 1, 10.0), ("a", 1, None), ("a", 1, 3.0),   # group of 3
        ("a", 2, None), ("b", None, None),               # two singletons
        ("b", 3, 1.0), ("b", 3, None),                   # pair
    ]
    df = spark.createDataFrame(rows, "g string, q int, v double")
    [r] = k_anonymity_audit(df, ["g", "q"], k=3).collect()
    # groups: (a,1)=3, (a,2)=1, (b,NULL)=1, (b,3)=2 -> 3 at risk, 4 rows
    assert (r.n_rows, r.n_groups, r.n_groups_at_risk, r.n_rows_at_risk) == (7, 4, 3, 4)
    assert r.k_anonymous is False
    assert abs(r.rows_at_risk_share - 4 / 7) < 2e-6
    # all-safe gate
    [r2] = k_anonymity_audit(df, ["g"], k=2).collect()
    assert r2.k_anonymous is True
    # empty input -> zero rows (grouped-agg convention)
    assert k_anonymity_audit(df.filter("1=0"), ["g"], k=2).count() == 0

    got = {(r.col_a, r.col_b): r for r in missingness_pattern(df, ["q", "v"]).collect()}
    r3 = got[("q", "v")]
    # q NULL once (row 5), v NULL 4x, both NULL once (row 5)
    assert (r3.n_rows, r3.nulls_a, r3.nulls_b, r3.nulls_both) == (7, 1, 4, 1)
    assert r3.jaccard == 0.25
    r4 = got[("v", "q")]
    assert (r4.nulls_a, r4.nulls_b, r4.nulls_both) == (4, 1, 1)


def test_ab_test_proportions_matches_formula(spark):
    import math

    from python_mapreduce_spark.operators.aggregates import ab_test_proportions

    rows = (
        [("ctl", True)] * 20 + [("ctl", False)] * 80
        + [("trt", True)] * 35 + [("trt", False)] * 65
        + [("flat", True)] * 21 + [("flat", False)] * 79
        + [("dead", False)] * 50            # zero conversions
        + [(None, True), ("trt", None)]     # excluded rows
    )
    df = spark.createDataFrame(rows, "variant string, ok boolean")
    got = {r.variant: r for r in ab_test_proportions(
        df, "variant", "ok", control="ctl"
    ).collect()}
    assert set(got) == {"trt", "flat", "dead"}

    def dr(x):
        return math.floor(x * 1e6 + 0.5) / 1e6

    def z_of(n, c):
        p = (c + 20) / (n + 100)
        se = math.sqrt(p * (1 - p) * (1 / n + 1 / 100))
        return dr((c / n - 0.2) / se)

    r = got["trt"]
    assert (r.n, r.conv, r.n_control, r.conv_control) == (100, 35, 100, 20)
    assert (r.rate, r.rate_control) == (0.35, 0.2)
    assert r.abs_lift == dr(0.15) and r.rel_lift == dr(0.75)
    assert r.z == z_of(100, 35) and r.significant is True  # z ~ 2.37
    assert got["flat"].significant is False
    # zero-conversion variant: defined z, rel_lift = -100%
    d = got["dead"]
    assert d.rel_lift == -1.0 and d.z == z_of(50, 0) and d.z < 0


def test_bloom_semi_join_equals_exact_semi_join(spark):
    from pyspark.sql import functions as F

    from python_mapreduce_spark.operators.joins import bloom_semi_join

    big = spark.createDataFrame([(i, i % 7) for i in range(2000)], "k long, v int")
    small = spark.createDataFrame([(i * 3,) for i in range(150)], "k long")
    got = {(r.k, r.v) for r in bloom_semi_join(big, small, "k", m_bits=1024, k=3).collect()}
    want = {(r.k, r.v) for r in big.join(small, "k", "left_semi").collect()}
    assert got == want and len(want) == 150
    # NULL keys never match
    bign = big.unionByName(spark.createDataFrame([(None, 9)], "k long, v int"))
    assert bloom_semi_join(bign, small, "k", m_bits=1024).count() == 150
    # the pre-filter actually prunes: with a tiny small side, far fewer
    # probe rows than |big| survive the bloom (false positives only)
    one = spark.createDataFrame([(77,)], "k long")
    from python_mapreduce_spark.operators.joins import bloom_semi_join as bsj
    assert bsj(big, one, "k", m_bits=4096, k=3).count() == 1
    import pytest as _pytest

    with _pytest.raises(ValueError):
        bloom_semi_join(big, small, "k", m_bits=100)


def test_time_weighted_avg_and_ohlc_match_replay(spark):
    import math
    from datetime import datetime, timezone

    from python_mapreduce_spark.operators.events import ohlc_bars, time_weighted_avg

    def t(m):
        return datetime(2024, 1, 1, m // 60, m % 60, tzinfo=timezone.utc)

    # gauge at 10 for 10min, 20 for 30min, 40 for 20min, last sample 0-weight
    rows = [("k", t(0), 10.0), ("k", t(10), 20.0), ("k", t(40), 40.0), ("k", t(60), 99.0)]
    df = spark.createDataFrame(rows, "g string, ts timestamp, v double")
    [r] = time_weighted_avg(df, ["g"], "ts", "v").collect()
    exp = (10 * 10 + 20 * 30 + 40 * 20) / 60
    assert (r.n_samples, r.span_ms) == (4, 3_600_000)
    assert abs(r.twavg - exp) < 2e-6
    # single sample: zero span, NULL twavg
    [r1] = time_weighted_avg(df.limit(1), ["g"], "ts", "v").collect()
    assert (r1.n_samples, r1.span_ms, r1.twavg) == (1, 0, None)
    # plain AVG would say 42.25 - the time weighting must disagree
    assert abs(r.twavg - 169.25 / 4) > 1

    # OHLC: ties at the open ts resolve to MIN, at the close ts to MAX
    rows2 = [
        ("k", t(0), 5.0), ("k", t(0), 3.0),      # open -> 3.0
        ("k", t(30), -1.0),                        # low
        ("k", t(59), 7.0), ("k", t(59), 9.0),     # close -> 9.0, high 9.0
    ]
    df2 = spark.createDataFrame(rows2, "g string, ts timestamp, v double")
    [b] = ohlc_bars(df2, ["g"], "ts", "v", bucket="1 hour").collect()
    assert b.bucket_start == "2024-01-01 00:00:00"
    assert (b.n, b.open, b.high, b.low, b.close) == (5, 3.0, 9.0, -1.0, 9.0)


def test_er_match_score_field_rules(spark):
    from python_mapreduce_spark.operators.joins import er_match_score

    recs = spark.createDataFrame(
        [
            (1, "alpha", 100),
            (2, "alphq", 100),   # 1 edit over 5 chars -> sim 0.8
            (3, None, 200),
            (4, None, 200),
            (5, "", 300),
        ],
        "id long, name string, size int",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (3, 4), (1, 3), (5, 5)], "id_a long, id_b long"
    )
    got = {(r.id_a, r.id_b): r for r in er_match_score(
        pairs, recs, "id", [("name", 3.0), ("size", 1.0)], threshold=0.8
    ).collect()}
    r = got[(1, 2)]
    assert r.sim_name == 0.8 and r.sim_size == 1.0
    assert r.score == round((3 * 0.8 + 1 * 1.0) / 4, 6) and r.matched is True
    # both-NULL agreement scores 1.0
    assert got[(3, 4)].sim_name == 1.0 and got[(3, 4)].score == 1.0
    # one-sided NULL scores 0.0
    assert got[(1, 3)].sim_name == 0.0 and got[(1, 3)].sim_size == 0.0
    # empty-vs-empty strings agree
    assert got[(5, 5)].sim_name == 1.0


def test_er_match_score_on_duplicate_ids_modes(spark):
    # VERDICT r6 stretch item 6: the duplicate-id fan-out contract gets
    # an explicit knob — fanout (join semantics), dedupe (deterministic
    # min-payload survivor), error (refuse on repeats).
    import pytest

    from python_mapreduce_spark.operators.joins import er_match_score

    recs = spark.createDataFrame(
        [(1, "alpha"), (1, "beta"), (2, "alpha")], "id long, name string"
    )
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    fields = [("name", 1.0)]

    fanout = er_match_score(pairs, recs, "id", fields).collect()
    assert len(fanout) == 2  # one row per payload combination

    dedup = er_match_score(
        pairs, recs, "id", fields, on_duplicate_ids="dedupe"
    ).collect()
    # min-struct survivor is 'alpha' (lexicographic), deterministically
    assert len(dedup) == 1 and dedup[0].sim_name == 1.0

    with pytest.raises(ValueError, match="duplicate"):
        er_match_score(pairs, recs, "id", fields, on_duplicate_ids="error")

    with pytest.raises(ValueError, match="on_duplicate_ids"):
        er_match_score(pairs, recs, "id", fields, on_duplicate_ids="drop")

    # unique ids: 'error' mode passes through and matches fanout
    uniq = recs.filter("name <> 'beta'")
    ok = er_match_score(
        pairs, uniq, "id", fields, on_duplicate_ids="error"
    ).collect()
    assert len(ok) == 1 and ok[0].sim_name == 1.0


def test_l_diversity_audit_readout(spark):
    from python_mapreduce_spark.operators.aggregates import l_diversity_audit

    df = spark.createDataFrame(
        [("A", 1), ("A", 1), ("B", 1), ("B", 2), ("C", None), ("C", None)],
        "grp string, sens int",
    )
    r = l_diversity_audit(df, ["grp"], "sens", l=2).collect()[0]
    # A has 1 distinct, C has 0 (NULLs ignored by count distinct)
    assert (r.n_rows, r.n_groups, r.min_distinct_sensitive) == (6, 3, 0)
    assert (r.n_groups_below_l, r.n_rows_below_l) == (2, 4)
    assert abs(r.rows_below_l_share - 4 / 6) < 1e-6
    assert r.l_diverse is False
    # empty input: zero rows (grouped-agg convention)
    assert l_diversity_audit(df.filter("1=0"), ["grp"], "sens").count() == 0


def test_referential_integrity_audit_counts(spark):
    from python_mapreduce_spark.operators.aggregates import referential_integrity_audit

    child = spark.createDataFrame([(1,), (2,), (3,), (None,)], "k int")
    parent = spark.createDataFrame([(1,), (2,), (2,)], "pk int")
    r = referential_integrity_audit(child, "k", parent, "pk", edge="c->p").collect()[0]
    assert (r.edge, r.n_child, r.n_null_keys, r.n_orphans) == ("c->p", 4, 1, 1)
    assert abs(r.orphan_share - 1 / 3) < 1e-6
    assert r.ok is False
    # clean edge
    ok = referential_integrity_audit(
        child.filter("k IS NOT NULL and k <= 2"), "k", parent, "pk"
    ).collect()[0]
    assert ok.n_orphans == 0 and ok.ok is True


def test_gini_concentration_rank_identity(spark):
    from python_mapreduce_spark.operators.aggregates import gini_concentration

    rows = [("a", 1.0), ("b", 2.0), ("c", 3.0), ("d", 4.0)]
    df = spark.createDataFrame(rows, "g string, x double")
    r = gini_concentration(df, ["g"], "x").collect()[0]
    # ascending x=[1,2,3,4]: G = 2*30/(4*10) - 5/4 = 0.25
    assert r.n_groups == 4 and r.total == 10.0 and r.gini == 0.25
    # perfectly even mass -> 0
    even = spark.createDataFrame([("a", 5.0), ("b", 5.0)], "g string, x double")
    assert gini_concentration(even, ["g"], "x").collect()[0].gini == 0.0
    # empty -> zero rows
    assert gini_concentration(df.filter("1=0"), ["g"], "x").count() == 0


def test_pareto_share_cutoffs(spark):
    from python_mapreduce_spark.operators.aggregates import pareto_share

    df = spark.createDataFrame(
        [(1, 10.0), (2, 5.0), (3, 3.0), (4, 2.0)], "id int, x double"
    )
    r = pareto_share(df, "id", "x", fractions=(0.25, 0.5)).collect()[0]
    # top-25% = ceil(1) = 1 row (x=10) -> 0.5; top-50% = 2 rows -> 0.75
    assert r.n_rows == 4 and r.total == 20.0
    assert r.share_top_25 == 0.5 and r.share_top_50 == 0.75
    assert pareto_share(df.filter("1=0"), "id", "x").count() == 0


def test_brier_score_decomposition(spark):
    from python_mapreduce_spark.operators.aggregates import brier_score

    df = spark.createDataFrame(
        [(1.0, True), (0.0, False), (0.5, True)], "p double, y boolean"
    )
    r = brier_score(df, "p", "y").collect()[0]
    assert r.n == 3
    assert abs(r.base_rate - 2 / 3) < 1e-6
    assert abs(r.brier - 0.25 / 3) < 1e-6
    assert abs(r.brier_ref - 2 / 9) < 1e-6
    assert abs(r.skill - 0.625) < 1e-6
    # single-class truth: no skill baseline
    one = spark.createDataFrame([(0.5, True)], "p double, y boolean")
    assert brier_score(one, "p", "y").collect()[0].skill is None


def test_bollinger_bands_warmup_and_outlier(spark):
    from python_mapreduce_spark.operators.events import bollinger_bands

    rows = [("k", f"d{i}", 1.0) for i in range(1, 8)] + [("k", "d8", 50.0)]
    df = spark.createDataFrame(rows, "key string, day string, v double")
    got = {r.day: r for r in bollinger_bands(df, ["key"], "day", "v", window=7).collect()}
    assert got["d6"].ma is None and got["d6"].outlier is False  # warmup
    assert got["d7"].ma == 1.0 and got["d7"].upper == 1.0
    r8 = got["d8"]
    # window rows d2..d8 = six 1.0s + 50.0: ma = 8,
    # sd = sqrt((6*49 + 42^2)/7) = sqrt(294)
    assert r8.ma == 8.0
    assert abs(r8.upper - (8.0 + 2 * 294 ** 0.5)) < 1e-5
    assert r8.outlier is True


def test_table_checksum_order_and_partition_invariant(spark):
    from python_mapreduce_spark.operators.aggregates import table_checksum

    rows = [(1, "a", 1.5), (2, "b", None), (3, None, 2.5), (4, "a", 0.0)]
    df = spark.createDataFrame(rows, "id long, s string, v double")
    cols = ["id", "s", "v"]
    base = table_checksum(df, cols).collect()[0]
    # shuffled row order + different partitioning -> identical digest
    perm = spark.createDataFrame(list(reversed(rows)), df.schema).repartition(7)
    again = table_checksum(perm, cols).collect()[0]
    assert (base.n_rows, base.checksum_hi, base.checksum_lo) == (
        again.n_rows,
        again.checksum_hi,
        again.checksum_lo,
    )
    assert base.n_rows == 4 and base.checksum_hi > 0


def test_table_checksum_detects_single_cell_change_and_null_vs_literal(spark):
    from python_mapreduce_spark.operators.aggregates import table_checksum

    a = spark.createDataFrame([(1, "x"), (2, "y")], "id long, s string")
    b = spark.createDataFrame([(1, "x"), (2, "z")], "id long, s string")
    ca, cb = (table_checksum(d, ["id", "s"]).collect()[0] for d in (a, b))
    assert ca.n_rows == cb.n_rows
    assert (ca.checksum_hi, ca.checksum_lo) != (cb.checksum_hi, cb.checksum_lo)
    # NULL is distinct from any real string, including the 'N' sentinel
    n1 = spark.createDataFrame([(1, None)], "id long, s string")
    n2 = spark.createDataFrame([(1, "N")], "id long, s string")
    c1, c2 = (table_checksum(d, ["id", "s"]).collect()[0] for d in (n1, n2))
    assert (c1.checksum_hi, c1.checksum_lo) != (c2.checksum_hi, c2.checksum_lo)


def test_table_checksum_empty_and_grouped(spark):
    from pyspark.sql import functions as F

    from python_mapreduce_spark.operators.aggregates import table_checksum

    empty = spark.createDataFrame([], "id long, s string")
    g = table_checksum(empty, ["id", "s"]).collect()[0]
    assert g.n_rows == 0 and g.checksum_hi == 0 and g.checksum_lo == 0
    # grouped digests: union of groups == whole-table digest (sum law)
    df = spark.createDataFrame(
        [(1, "a", "g1"), (2, "b", "g1"), (3, "c", "g2")], "id long, s string, grp string"
    )
    per = table_checksum(df, ["id", "s"], group_by=["grp"]).collect()
    assert {r.grp: r.n_rows for r in per} == {"g1": 2, "g2": 1}
    # cols default: every non-group column, schema order
    dflt = {r.grp: r for r in table_checksum(df, group_by=["grp"]).collect()}
    assert all(
        (dflt[r.grp].checksum_hi, dflt[r.grp].checksum_lo)
        == (r.checksum_hi, r.checksum_lo)
        for r in per
    )
    tot = table_checksum(df, ["id", "s"]).collect()[0]
    assert sum(r.checksum_hi for r in per) == tot.checksum_hi
    assert sum(r.checksum_lo for r in per) == tot.checksum_lo
    import pytest as _pytest

    with _pytest.raises(ValueError):
        table_checksum(df, [])


def test_replication_audit_verdicts_and_drilldown(spark):
    from python_mapreduce_spark.operators.relational import replication_audit

    a = spark.createDataFrame(
        [
            ("g1", 1, "x"), ("g1", 2, "y"),          # identical in b
            ("g2", 3, "p"), ("g2", 4, "q"),          # one row changed in b
            ("g3", 5, "r"),                           # group missing from b
            ("g4", 6, "s"), ("g4", 7, "t"),          # one row dropped in b
        ],
        "grp string, id long, v string",
    )
    b = spark.createDataFrame(
        [
            ("g1", 1, "x"), ("g1", 2, "y"),
            ("g2", 3, "p"), ("g2", 4, "CHANGED"),
            ("g4", 6, "s"),
            ("g5", 8, "u"),                           # group only in b
        ],
        "grp string, id long, v string",
    )
    got = {r.grp: r for r in replication_audit(a, b, "id", ["v"], group_by="grp").collect()}
    assert got["g1"].verdict == "match"
    assert (got["g1"].n_rows_a, got["g1"].n_row_same, got["g1"].n_row_changed) == (2, 2, 0)
    assert got["g2"].verdict == "mismatch"
    assert (got["g2"].n_row_changed, got["g2"].n_row_same) == (1, 1)
    assert got["g3"].verdict == "only_a"
    assert (got["g3"].n_rows_b, got["g3"].n_row_only_a) == (0, 1)
    assert got["g4"].verdict == "mismatch"
    assert (got["g4"].n_row_only_a, got["g4"].n_row_only_b, got["g4"].n_row_same) == (1, 0, 1)
    assert got["g5"].verdict == "only_b"
    assert (got["g5"].n_rows_a, got["g5"].n_row_only_b) == (0, 1)


def test_replication_audit_null_group_and_group_mover(spark):
    from python_mapreduce_spark.operators.relational import replication_audit

    # NULL group keys are buckets, not join-killers; a row that moved
    # groups is only_a in the old group and only_b in the new one.
    a = spark.createDataFrame(
        [(None, 1, "x"), ("gA", 2, "y")], "grp string, id long, v string"
    )
    b = spark.createDataFrame(
        [(None, 1, "x"), ("gB", 2, "y")], "grp string, id long, v string"
    )
    got = {r.grp: r for r in replication_audit(a, b, "id", ["v"], group_by="grp").collect()}
    assert got[None].verdict == "match"
    assert got["gA"].verdict == "only_a" and got["gA"].n_row_only_a == 1
    assert got["gB"].verdict == "only_b" and got["gB"].n_row_only_b == 1
    # identical tables -> all match regardless of partitioning
    same = replication_audit(a.repartition(5), a, "id", ["v"], group_by="grp")
    assert {r.verdict for r in same.collect()} == {"match"}
