"""Replay tests for the statistics, graph and retrieval operators behind
the registered ``stats.py`` / ``llm.py`` / ``streaming.py`` queries:
ANOVA, CUSUM, k-core, Welch, MAD, Fellegi-Sunter, streaming CUSUM and
more. Each is checked against a brute-force Python replay (the same
discipline as test_properties.py); the queries they back are checked by
the registry's oracle gate.
"""

from __future__ import annotations

import math
import random

from pyspark.sql import functions as F

from python_mapreduce_spark.llm.dedup import kcore
from python_mapreduce_spark.operators.aggregates import anova_oneway
from python_mapreduce_spark.operators.windows import cusum_changepoints


# ---------------------------------------------------------------- ANOVA


def _anova_replay(groups: dict[str, list[float]]):
    # Replays the operator's exact contract: per-group SSW terms
    # quantize to cents before the cross-group sum (see anova_oneway).
    k = len(groups)
    n = sum(len(v) for v in groups.values())
    grand = sum(sum(v) for v in groups.values()) / n
    ssb_true = sum(
        len(v) * (sum(v) / len(v) - grand) ** 2 for v in groups.values()
    )
    q2 = lambda x: math.floor(x * 100.0 + 0.5) / 100.0  # noqa: E731
    ssw = sum(
        q2(sum((x - sum(v) / len(v)) ** 2 for x in v))
        for v in groups.values()
    )
    sst = ssb_true + sum(
        sum((x - sum(v) / len(v)) ** 2 for x in v) for v in groups.values()
    )
    ssb = sst - ssw
    f = (ssb / (k - 1)) / (ssw / (n - k))
    return ssb, ssw, f


def test_anova_matches_replay(spark):
    rng = random.Random(7)
    # 2-decimal values: the operator quantizes to cents on entry.
    groups = {
        "a": [round(rng.gauss(10, 2), 2) for _ in range(40)],
        "b": [round(rng.gauss(11, 2), 2) for _ in range(35)],
        "c": [round(rng.gauss(10.5, 2), 2) for _ in range(50)],
    }
    rows = [(g, x) for g, xs in groups.items() for x in xs]
    df = spark.createDataFrame(rows, "g string, x double")
    got = anova_oneway(df, "g", "x").first()
    ssb, ssw, f = _anova_replay(groups)
    assert got.k_groups == 3 and got.n == 125
    # SS columns quantize at cent scale (long-floor overflow headroom).
    assert abs(got.ss_between - ssb) < 0.02
    assert abs(got.ss_within - ssw) < 0.02
    assert abs(got.f_stat - f) < 1e-4


def test_anova_degenerate_and_nulls(spark):
    # One group only: no between-variance to test; NULLs drop.
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("a", 3.0), (None, 9.0), ("a", None)],
        "g string, x double",
    )
    got = anova_oneway(df, "g", "x").first()
    assert got.k_groups == 1 and got.n == 3
    assert got.f_stat is None
    # Zero within-variance (constant values per group): F undefined.
    df2 = spark.createDataFrame(
        [("a", 1.0), ("a", 1.0), ("b", 2.0), ("b", 2.0)],
        "g string, x double",
    )
    assert anova_oneway(df2, "g", "x").first().f_stat is None


# --------------------------------------------------------------- CUSUM


def _cusum_replay(xs: list[float | None], target: float, k: float, h: float):
    sp = sn = 0.0
    out = []
    for x in xs:
        d = 0.0 if x is None else x - target
        sp = max(0.0, sp + d - k)
        sn = max(0.0, sn - d - k)
        out.append((sp, sn, sp > h or sn > h))
    return out


def test_cusum_matches_recurrence_replay(spark):
    rng = random.Random(3)
    xs = [rng.gauss(0, 1) for _ in range(60)] + [
        rng.gauss(2.5, 1) for _ in range(40)
    ]
    xs[10] = None  # NULL carries no evidence but keeps its row
    rows = [("k1", i, x) for i, x in enumerate(xs)]
    df = spark.createDataFrame(rows, "key string, i long, x double")
    got = (
        cusum_changepoints(
            df, ["key"], [F.col("i")], "x", target=0.0, allowance=0.5,
            threshold=5.0,
        )
        .orderBy("i")
        .collect()
    )
    want = _cusum_replay(xs, 0.0, 0.5, 5.0)
    for row, (sp, sn, alarm) in zip(got, want):
        assert abs(row.cusum_pos - sp) < 1e-4, row.i
        assert abs(row.cusum_neg - sn) < 1e-4, row.i
        assert row.alarm == alarm, row.i
    # The injected level shift must actually fire the positive side.
    assert any(r.alarm and r.i >= 60 for r in got)
    assert not any(r.alarm and r.i < 40 for r in got)


def test_cusum_default_target_is_per_key_mean(spark):
    rows = [("a", i, float(i % 5)) for i in range(20)] + [
        ("b", i, 100.0 + (i % 3)) for i in range(15)
    ]
    df = spark.createDataFrame(rows, "key string, i long, x double")
    got = cusum_changepoints(df, ["key"], [F.col("i")], "x").collect()
    # Each key is judged against its OWN mean: flat series, no alarms,
    # despite the 100-point level difference between the keys.
    assert not any(r.alarm for r in got)
    assert len(got) == 35


# -------------------------------------------------------------- k-core


def _kcore_replay(edge_list: list[tuple[int, int]], k: int):
    adj: dict[int, set[int]] = {}
    for a, b in edge_list:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    changed = True
    while changed:
        changed = False
        for n in [n for n, nb in adj.items() if len(nb) < k]:
            for m in adj[n]:
                adj[m].discard(n)
            del adj[n]
            changed = True
    return {n: len(nb) for n, nb in adj.items()}


def test_kcore_triangle_with_pendant(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], "id1 long, id2 long"
    )
    got = {r.node: r.degree for r in kcore(edges, 2).collect()}
    assert got == {1: 2, 2: 2, 3: 2}  # pendant 4 peeled, triangle stays
    assert kcore(edges, 3).count() == 0  # no 3-core in a triangle+tail


def test_kcore_matches_replay_on_random_graphs(spark):
    for seed in (1, 2, 3):
        rng = random.Random(seed)
        edge_list = list(
            {
                tuple(sorted((rng.randrange(30), rng.randrange(30))))
                for _ in range(70)
            }
        )
        edges = spark.createDataFrame(edge_list, "id1 long, id2 long")
        for k in (2, 3):
            got = {r.node: r.degree for r in kcore(edges, k).collect()}
            assert got == _kcore_replay(edge_list, k), (seed, k)


# ----------------------------------------------------------- Welch t


def _welch_replay(xa: list[float], xb: list[float]):
    na, nb = len(xa), len(xb)
    ma, mb = sum(xa) / na, sum(xb) / nb
    va = sum((x - ma) ** 2 for x in xa) / (na - 1)
    vb = sum((x - mb) ** 2 for x in xb) / (nb - 1)
    se2 = va / na + vb / nb
    t = (ma - mb) / math.sqrt(se2)
    dof = se2**2 / ((va / na) ** 2 / (na - 1) + (vb / nb) ** 2 / (nb - 1))
    return t, dof


def test_welch_matches_replay(spark):
    from python_mapreduce_spark.operators.aggregates import welch_ttest

    rng = random.Random(5)
    # 2-decimal values: the operator quantizes to cents on entry.
    xa = [round(rng.gauss(10, 1), 2) for _ in range(30)]
    xb = [round(rng.gauss(10.8, 3), 2) for _ in range(55)]
    rows = (
        [("a", x) for x in xa]
        + [("b", x) for x in xb]
        + [("c", 99.0), (None, 1.0), ("a", None)]  # ignored
    )
    df = spark.createDataFrame(rows, "seg string, x double")
    got = welch_ttest(df, "seg", "x", a="a", b="b").first()
    t, dof = _welch_replay(xa, xb)
    assert got.n_a == 30 and got.n_b == 55
    assert abs(got.t_stat - t) < 1e-4
    assert abs(got.dof - dof) < 1e-4


def test_welch_degenerate(spark):
    from python_mapreduce_spark.operators.aggregates import welch_ttest

    df = spark.createDataFrame(
        [("a", 1.0), ("b", 2.0), ("b", 3.0)], "seg string, x double"
    )
    got = welch_ttest(df, "seg", "x", a="a", b="b").first()
    assert got.n_a == 1 and got.t_stat is None and got.dof is None
    # Both sides constant: zero pooled SE, no t.
    df2 = spark.createDataFrame(
        [("a", 5.0)] * 3 + [("b", 7.0)] * 3, "seg string, x double"
    )
    got2 = welch_ttest(df2, "seg", "x", a="a", b="b").first()
    assert got2.t_stat is None and got2.mean_diff == -2.0


# ------------------------------------------------------- MAD outliers


def test_mad_outliers_matches_replay(spark):
    from python_mapreduce_spark.operators.aggregates import mad_outliers
    import statistics

    rng = random.Random(13)
    vals = [rng.gauss(50, 5) for _ in range(99)] + [500.0]
    rows = [("g", i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "g string, id long, v double")
    got = {r.id: r for r in mad_outliers(df, ["g"], "id", "v").collect()}
    med = statistics.median(vals)
    mad = statistics.median(abs(v - med) for v in vals)
    for i, v in enumerate(vals):
        z = 0.6745 * (v - med) / mad
        assert abs(got[i].robust_z - z) < 1e-4
        assert got[i].outlier == (abs(z) > 3.5)
    assert got[99].outlier  # the planted 500 flags
    # Crucially: the planted outlier does NOT drag the yardstick the
    # way stddev-z would (mean/std z of 500 here is ~9.7 but z of a
    # normal point stays ~0-2 under MAD).
    inlier_flags = [got[i].outlier for i in range(99)]
    assert sum(inlier_flags) <= 3


def test_mad_outliers_zero_mad_and_nulls(spark):
    from python_mapreduce_spark.operators.aggregates import mad_outliers

    df = spark.createDataFrame(
        [("g", 1, 5.0), ("g", 2, 5.0), ("g", 3, 5.0), ("g", 4, 9.0),
         ("g", 5, None)],
        "g string, id long, v double",
    )
    got = {r.id: r for r in mad_outliers(df, ["g"], "id", "v").collect()}
    # Median 5, MAD 0 -> no robust scale; all z NULL, no flags.
    assert all(got[i].robust_z is None for i in (1, 2, 3, 4))
    assert not any(got[i].outlier for i in (1, 2, 3, 4))
    assert got[5].robust_z is None and got[5].outlier is False


# --------------------------------------------------- Fellegi-Sunter


def test_fellegi_sunter_matches_replay(spark):
    from python_mapreduce_spark.operators.joins import fellegi_sunter_weights

    records = [
        (1, "ann", "york", "a@x.com"),
        (2, "ann", "york", "b@x.com"),
        (3, "bob", "york", None),
        (4, "cat", "rome", "c@x.com"),
        (5, "cat", "rome", "c@x.com"),
        (6, "dan", "york", "d@x.com"),
    ]
    rdf = spark.createDataFrame(records, "id long, name string, city string, email string")
    pairs = spark.createDataFrame(
        [(1, 2), (4, 5), (1, 3), (3, 6)], "id_a long, id_b long"
    )
    got = {
        (r.id_a, r.id_b): r
        for r in fellegi_sunter_weights(
            pairs, rdf, "id", ["name", "city", "email"], m=0.9
        ).collect()
    }

    # Python replay of the u estimate and the weight sum.
    def u_of(vals):
        vals = [v for v in vals if v is not None]
        n = len(vals)
        from collections import Counter

        return sum((c / n) ** 2 for c in Counter(vals).values())

    cols = list(zip(*records))
    us = [u_of(cols[1]), u_of(cols[2]), u_of(cols[3])]
    eps = 1e-9

    def w(pair_vals):
        total, agree, comp = 0.0, 0, 0
        for (va, vb), u in zip(pair_vals, us):
            u = min(max(u, eps), 1 - eps)
            if va is None or vb is None:
                continue
            comp += 1
            if va == vb:
                agree += 1
                total += math.log2(0.9 / u)
            else:
                total += math.log2(0.1 / (1 - u))
        return total, agree, comp

    by_id = {r[0]: r for r in records}
    for ia, ib in [(1, 2), (4, 5), (1, 3), (3, 6)]:
        ra, rb = by_id[ia], by_id[ib]
        total, agree, comp = w(list(zip(ra[1:], rb[1:])))
        row = got[(ia, ib)]
        assert abs(row.fs_weight - total) < 1e-4, (ia, ib)
        assert row.n_agree == agree and row.n_compared == comp
    # Rare-value agreement (cat/rome/email triple) outweighs the
    # common-value agreement pair (ann/york, emails differ).
    assert got[(4, 5)].fs_weight > got[(1, 2)].fs_weight
    # Missing email contributes nothing: pair (1,3) compares 2 fields.
    assert got[(1, 3)].n_compared == 2


def test_fellegi_sunter_typed_u(spark):
    # Pins the melted (one-job) u-estimation on NON-string fields: the
    # melt groups on cast-to-string values, which is injective per field
    # except floating signed zero (-0.0 and 0.0 stringify differently
    # but raw grouping — the r9 per-field-job form — merges them, as
    # does the scoring's == comparison). The operator normalizes -0.0,
    # so u must equal the raw-value frequency estimate exactly, NaN and
    # NULL included.
    from python_mapreduce_spark.operators.joins import fellegi_sunter_weights

    nan = float("nan")
    records = [
        (1, 0.0, 7),
        (2, -0.0, 7),
        (3, 0.0, 9),
        (4, 2.5, 9),
        (5, nan, 9),
        (6, nan, None),
        (7, None, 7),
    ]
    rdf = spark.createDataFrame(records, "id long, x double, k int")
    pairs = spark.createDataFrame([(1, 2), (3, 4), (5, 6)], "id_a long, id_b long")
    got = {
        (r.id_a, r.id_b): r
        for r in fellegi_sunter_weights(pairs, rdf, "id", ["x", "k"], m=0.9).collect()
    }

    # Raw-value reference: x has non-null values {0.0: 3 (+/-0 merged),
    # 2.5: 1, NaN: 2} over n=6; k has {7: 3, 9: 3} over n=6.
    u_x = (3 / 6) ** 2 + (1 / 6) ** 2 + (2 / 6) ** 2
    u_k = (3 / 6) ** 2 + (3 / 6) ** 2
    w_agree_x = math.log2(0.9 / u_x)
    w_agree_k = math.log2(0.9 / u_k)
    w_dis_x = math.log2(0.1 / (1 - u_x))
    w_dis_k = math.log2(0.1 / (1 - u_k))

    # (1,2): x agrees (0.0 == -0.0 in Spark), k agrees.
    assert got[(1, 2)].n_agree == 2
    assert abs(got[(1, 2)].fs_weight - (w_agree_x + w_agree_k)) < 1e-4
    # (3,4): x disagrees, k agrees.
    assert got[(3, 4)].n_agree == 1
    assert abs(got[(3, 4)].fs_weight - (w_dis_x + w_agree_k)) < 1e-4
    # (5,6): x NaN == NaN agrees under Spark semantics; k NULL skipped.
    assert got[(5, 6)].n_compared == 1
    assert abs(got[(5, 6)].fs_weight - w_agree_x) < 1e-4


# ----------------------------------------------- streaming CUSUM


def test_stateful_cusum_matches_batch_recurrence(spark, tmp_path):
    from python_mapreduce_spark.streaming.incremental import (
        file_stream,
        run_stream_to_memory,
    )
    from python_mapreduce_spark.streaming.windows import stateful_cusum

    rng = random.Random(21)
    series = {
        "m1": [rng.gauss(0, 1) for _ in range(40)]
        + [rng.gauss(3, 1) for _ in range(20)],  # shifts -> must alarm
        "m2": [rng.gauss(0, 1) for _ in range(60)],  # stable -> must not
    }
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    # Two micro-batches per key, split mid-series, landed in ts order.
    half = 30
    for part, sl in (("p1", slice(0, half)), ("p2", slice(half, None))):
        rows = [
            (k, i, x)
            for k, xs in series.items()
            for i, x in list(enumerate(xs))[sl]
        ]
        spark.createDataFrame(
            rows, "key string, ts long, x double"
        ).coalesce(1).write.mode("append").parquet(str(in_dir / part))

    stream = file_stream(spark, str(in_dir) + "/*", max_files_per_trigger=1)
    out = run_stream_to_memory(
        stateful_cusum(
            stream, "key", ["ts"], "x", target=0.0, allowance=0.5, threshold=5.0
        ),
        output_mode="update",
        checkpoint_dir=str(tmp_path / "ckpt"),
    ).toPandas()

    # One update row per key per micro-batch that carried its rows.
    assert set(out["key"]) == {"m1", "m2"}
    final = out.sort_values("rows_seen").groupby("key").last()
    for k, xs in series.items():
        want = _cusum_replay(xs, 0.0, 0.5, 5.0)[-1]
        assert abs(final.loc[k, "cusum_pos"] - want[0]) < 1e-9, k
        assert abs(final.loc[k, "cusum_neg"] - want[1]) < 1e-9, k
    assert final.loc["m1", "alarm"]
    assert not final.loc["m2", "alarm"]
    assert int(final.loc["m1", "rows_seen"]) == 60


# ------------------------------------------------------- Cramér's V


def test_cramers_v_matches_replay(spark):
    from collections import Counter

    from python_mapreduce_spark.operators.aggregates import cramers_v

    rng = random.Random(17)
    pairs = []
    for _ in range(400):
        a = rng.choice("wxyz")
        b = a.upper() if rng.random() < 0.6 else rng.choice("WXYZ")
        pairs.append((a, b))
    pairs += [(None, "W")] * 7  # NULL is its own category
    df = spark.createDataFrame(pairs, "a string, b string")
    got = cramers_v(df, "a", "b").first()

    n = len(pairs)
    jo, ma, mb = Counter(pairs), Counter(), Counter()
    for a, b in pairs:
        ma[a] += 1
        mb[b] += 1
    chi2 = sum(
        (jo.get((a, b), 0) - ma[a] * mb[b] / n) ** 2 / (ma[a] * mb[b] / n)
        for a in ma
        for b in mb
    )
    r, c = len(ma), len(mb)
    v = math.sqrt(chi2 / n / (min(r, c) - 1))
    phi2c = max(0.0, chi2 / n - (r - 1) * (c - 1) / (n - 1))
    kminc = min(r - (r - 1) ** 2 / (n - 1), c - (c - 1) ** 2 / (n - 1)) - 1
    vc = math.sqrt(phi2c / kminc)
    assert got.n == n and got.r == 5 and got.c == 4
    # Full-table chi2: zero cells contribute their E mass.
    assert abs(got.chi2 - chi2) < 0.01
    assert abs(got.v - v) < 1e-4
    assert abs(got.v_corrected - vc) < 1e-4


def test_cramers_v_extremes(spark):
    from python_mapreduce_spark.operators.aggregates import cramers_v

    # Perfect association: V == 1 (uncorrected).
    rows = [(c, c.upper()) for c in "aabbbcccc" * 20]
    got = cramers_v(
        spark.createDataFrame(rows, "a string, b string"), "a", "b"
    ).first()
    assert abs(got.v - 1.0) < 1e-6
    assert got.v_corrected is not None and got.v_corrected <= 1.0 + 1e-9
    # One-category side: no association to measure.
    got2 = cramers_v(
        spark.createDataFrame([("a", "k"), ("b", "k")], "a string, b string"),
        "a",
        "b",
    ).first()
    assert got2.v is None and got2.v_corrected is None


# ----------------------------------------------------- trimmed mean


def test_trimmed_mean_matches_replay(spark):
    from python_mapreduce_spark.operators.aggregates import trimmed_mean

    rng = random.Random(29)
    vals = [round(rng.gauss(50, 10), 2) for _ in range(97)] + [9999.0] * 3
    df = spark.createDataFrame(
        [("g", v) for v in vals], "g string, v double"
    )
    got = trimmed_mean(df, ["g"], "v", trim=0.1).first()
    s = sorted(vals)
    k = int(len(s) * 0.1)
    kept = s[k : len(s) - k]
    assert got.n == 100 and got.n_used == len(kept)
    assert abs(got.trimmed_mean - sum(kept) / len(kept)) < 1e-6
    assert abs(got.mean - sum(vals) / len(vals)) < 1e-6
    # The whales moved the mean but not the trimmed mean.
    assert got.mean > 300 and 45 < got.trimmed_mean < 55


def test_trimmed_mean_edges(spark):
    from python_mapreduce_spark.operators.aggregates import trimmed_mean

    import pytest as _pytest

    with _pytest.raises(ValueError, match="trim"):
        trimmed_mean(
            spark.createDataFrame([("g", 1.0)], "g string, v double"),
            ["g"], "v", trim=0.5,
        )
    # trim=0 is the plain mean; tiny group with trim cutting everything
    # except the middle; NULLs excluded from n.
    df = spark.createDataFrame(
        [("g", 1.0), ("g", 2.0), ("g", 3.0), ("g", None)],
        "g string, v double",
    )
    got = trimmed_mean(df, ["g"], "v", trim=0.34).first()
    assert got.n == 3 and got.n_used == 1
    assert got.trimmed_mean == 2.0
    got0 = trimmed_mean(df, ["g"], "v", trim=0.0).first()
    assert got0.n_used == 3 and abs(got0.trimmed_mean - 2.0) < 1e-9


# ----------------------------------------------------- Mann-Whitney U


def _mw_replay(xa: list[float], xb: list[float]):
    allv = sorted([(v, "a") for v in xa] + [(v, "b") for v in xb])
    n = len(allv)
    ranks: dict[int, float] = {}
    i = 0
    r_a = 0.0
    tie_sum = 0.0
    while i < n:
        j = i
        while j < n and allv[j][0] == allv[i][0]:
            j += 1
        t = j - i
        avg = (i + 1 + j) / 2.0
        r_a += avg * sum(1 for k in range(i, j) if allv[k][1] == "a")
        tie_sum += t**3 - t
        i = j
    na, nb = len(xa), len(xb)
    u_a = r_a - na * (na + 1) / 2.0
    u_b = na * nb - u_a
    mu = na * nb / 2.0
    sigma2 = na * nb / 12.0 * ((n + 1) - tie_sum / (n * (n - 1)))
    z = None
    if sigma2 > 0:
        z = (u_a - mu - 0.5 * math.copysign(1.0, u_a - mu) * (u_a != mu)) / math.sqrt(sigma2)
    return u_a, u_b, mu, sigma2, z


def test_mannwhitney_matches_replay(spark):
    from python_mapreduce_spark.operators.aggregates import mann_whitney_u

    rng = random.Random(13)
    # 1-decimal values force heavy ties (the avg-rank path must engage).
    xa = [round(rng.gauss(10, 2), 1) for _ in range(60)]
    xb = [round(rng.gauss(11, 2), 1) for _ in range(45)]
    rows = [("a", v) for v in xa] + [("b", v) for v in xb] + [
        ("c", 999.0),          # other segment: excluded
        ("a", None),           # NULL value: excluded
        (None, 5.0),           # NULL segment: excluded
    ]
    df = spark.createDataFrame(rows, "s string, x double")
    got = mann_whitney_u(df, "s", "x", a="a", b="b").first()
    u_a, u_b, mu, sigma2, z = _mw_replay(xa, xb)
    assert got.n_a == 60 and got.n_b == 45
    assert abs(got.u_a - u_a) < 1e-6
    assert abs(got.u_b - u_b) < 1e-6
    assert abs(got.mu_u - mu) < 1e-6
    assert abs(got.sigma_u - math.sqrt(sigma2)) < 1e-5
    assert abs(got.z - z) < 1e-5


def test_mannwhitney_degenerate(spark):
    from python_mapreduce_spark.operators.aggregates import mann_whitney_u

    # Empty side b: U/z undefined, counts still report.
    df = spark.createDataFrame([("a", 1.0), ("a", 2.0)], "s string, x double")
    got = mann_whitney_u(df, "s", "x", a="a", b="b").first()
    assert got.n_a == 2 and got.n_b == 0
    assert got.u_a is None and got.z is None
    # Fully tied sample: sigma = 0 -> z NULL, U still reported.
    df2 = spark.createDataFrame(
        [("a", 5.0)] * 3 + [("b", 5.0)] * 4, "s string, x double"
    )
    got2 = mann_whitney_u(df2, "s", "x", a="a", b="b").first()
    assert got2.n_a == 3 and got2.n_b == 4
    assert abs(got2.u_a - 6.0) < 1e-9  # all ranks tied at (n+1)/2
    assert got2.sigma_u is None and got2.z is None
    # Zero qualifying rows: the statistic does not exist -> zero rows.
    df3 = spark.createDataFrame([("c", 1.0)], "s string, x double")
    assert mann_whitney_u(df3, "s", "x", a="a", b="b").count() == 0


# ------------------------------------------------------- Spearman rho


def _spearman_replay(xs: list[float], ys: list[float]):
    def avg_ranks(vals):
        order = sorted(range(len(vals)), key=lambda i: vals[i])
        ranks = [0.0] * len(vals)
        i = 0
        while i < len(vals):
            j = i
            while j < len(vals) and vals[order[j]] == vals[order[i]]:
                j += 1
            avg = (i + 1 + j) / 2.0
            for k in range(i, j):
                ranks[order[k]] = avg
            i = j
        return ranks

    rx, ry = avg_ranks(xs), avg_ranks(ys)
    n = len(xs)
    mx, my = sum(rx) / n, sum(ry) / n
    cov = sum((a - mx) * (b - my) for a, b in zip(rx, ry))
    vx = sum((a - mx) ** 2 for a in rx)
    vy = sum((b - my) ** 2 for b in ry)
    return cov / math.sqrt(vx * vy)


def test_spearman_matches_replay(spark):
    from python_mapreduce_spark.operators.aggregates import spearman_corr

    rng = random.Random(29)
    # Monotone-ish with noise, 1-decimal grid for heavy ties.
    xs = [round(rng.uniform(0, 50), 1) for _ in range(120)]
    ys = [round(x * 0.3 + rng.gauss(0, 4), 1) for x in xs]
    rows = list(zip(xs, ys)) + [(None, 1.0), (2.0, None)]
    df = spark.createDataFrame(rows, "x double, y double")
    got = spearman_corr(df, "x", "y", x_scale=10.0, y_scale=10.0).first()
    rho = _spearman_replay(xs, ys)
    assert got.n == 120
    assert abs(got.spearman_rho - rho) < 1e-5
    t = rho * math.sqrt((120 - 2) / (1 - rho * rho))
    assert abs(got.t_stat - t) < 1e-4


def test_spearman_degenerate(spark):
    from python_mapreduce_spark.operators.aggregates import spearman_corr

    # Constant x: no rank variance -> rho NULL.
    df = spark.createDataFrame(
        [(1.0, float(i)) for i in range(5)], "x double, y double"
    )
    got = spearman_corr(df, "x", "y").first()
    assert got.n == 5 and got.spearman_rho is None and got.t_stat is None
    # Perfect monotone: rho = 1, t undefined -> NULL.
    df2 = spark.createDataFrame(
        [(float(i), float(i * 2)) for i in range(6)], "x double, y double"
    )
    got2 = spearman_corr(df2, "x", "y").first()
    assert abs(got2.spearman_rho - 1.0) < 1e-9 and got2.t_stat is None
    # All rows NULL on one side: statistic does not exist -> zero rows.
    df3 = spark.createDataFrame([(None, 1.0)], "x double, y double")
    assert spearman_corr(df3, "x", "y").count() == 0


# -------------------------------------------------- Brown-Forsythe


def _bf_replay(groups: dict[str, list[float]]):
    # Statistic on |y - group median|, medians interpolated like both
    # engines; plain-float ANOVA is fine for a tolerance check.
    def med(v):
        s = sorted(v)
        m = len(s) // 2
        return s[m] if len(s) % 2 else (s[m - 1] + s[m]) / 2.0

    z = {g: [abs(x - med(v)) for x in v] for g, v in groups.items()}
    k = len(z)
    n = sum(len(v) for v in z.values())
    grand = sum(sum(v) for v in z.values()) / n
    ssb = sum(len(v) * (sum(v) / len(v) - grand) ** 2 for v in z.values())
    ssw = sum(
        sum((x - sum(v) / len(v)) ** 2 for x in v) for v in z.values()
    )
    return (ssb / (k - 1)) / (ssw / (n - k))


def test_brown_forsythe_matches_replay(spark):
    from python_mapreduce_spark.operators.aggregates import brown_forsythe

    rng = random.Random(41)
    groups = {
        "a": [round(rng.gauss(10, 1), 2) for _ in range(50)],
        "b": [round(rng.gauss(10, 3), 2) for _ in range(40)],  # wider
        "c": [round(rng.gauss(10, 1), 2) for _ in range(45)],
    }
    rows = [(g, x) for g, xs in groups.items() for x in xs]
    df = spark.createDataFrame(rows, "g string, x double")
    got = brown_forsythe(df, "g", "x").first()
    f = _bf_replay(groups)
    assert got.k_groups == 3 and got.n == 135
    assert got.df1 == 2 and got.df2 == 132
    # SSW terms quantize at dollar^2 scale (1e-2): relative tolerance.
    assert abs(got.f_stat - f) / f < 1e-3


def test_brown_forsythe_large_magnitudes(spark):
    # Money-sized values (~$250k): at the half-cent grid the SS reach
    # ~1e14 per group — this is the regime where quantizing at the
    # wrong scale wrapped Spark's long-typed floor (caught at sf0.01).
    from python_mapreduce_spark.operators.aggregates import brown_forsythe

    rng = random.Random(43)
    groups = {
        "a": [round(rng.uniform(1e5, 4e5), 2) for _ in range(300)],
        "b": [round(rng.uniform(1.5e5, 3.5e5), 2) for _ in range(300)],
    }
    rows = [(g, x) for g, xs in groups.items() for x in xs]
    df = spark.createDataFrame(rows, "g string, x double")
    got = brown_forsythe(df, "g", "x").first()
    f = _bf_replay(groups)
    assert got.f_stat is not None and got.f_stat >= 0
    assert abs(got.f_stat - f) / max(f, 1e-9) < 1e-3


def test_brown_forsythe_degenerate(spark):
    from python_mapreduce_spark.operators.aggregates import brown_forsythe

    # One group: F undefined, counts still report.
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("a", 3.0)], "g string, x double"
    )
    got = brown_forsythe(df, "g", "x").first()
    assert got.k_groups == 1 and got.n == 3
    assert got.df1 is None and got.f_stat is None
    # Two single-constant groups: zero within-spread -> F NULL.
    df2 = spark.createDataFrame(
        [("a", 5.0), ("a", 5.0), ("b", 9.0), ("b", 9.0)],
        "g string, x double",
    )
    got2 = brown_forsythe(df2, "g", "x").first()
    assert got2.k_groups == 2 and got2.f_stat is None


# ---------------------------------------------------- Jarque-Bera


def _jb_replay(vals: list[float]):
    n = len(vals)
    m1 = sum(vals) / n
    m2 = sum((v - m1) ** 2 for v in vals) / n
    m3 = sum((v - m1) ** 3 for v in vals) / n
    m4 = sum((v - m1) ** 4 for v in vals) / n
    s = m3 / m2**1.5
    k = m4 / m2**2 - 3.0
    return m1, math.sqrt(m2), s, k, n / 6.0 * (s * s + k * k / 4.0)


def test_jarque_bera_matches_replay(spark):
    from python_mapreduce_spark.operators.aggregates import jarque_bera

    rng = random.Random(47)
    groups = {
        "gauss": [round(rng.gauss(20, 3), 2) for _ in range(200)],
        "heavy": [round(rng.expovariate(0.1), 2) for _ in range(150)],
    }
    rows = [(g, x) for g, xs in groups.items() for x in xs] + [
        ("gauss", None),
        (None, 7.0),
    ]
    df = spark.createDataFrame(rows, "g string, x double")
    got = {r.g: r for r in jarque_bera(df, "g", "x").collect()}
    assert set(got) == {"gauss", "heavy"}
    for g, xs in groups.items():
        m, sd, s, k, jb = _jb_replay(xs)
        r = got[g]
        assert r.n == len(xs)
        assert abs(r.mean - m) < 1e-5
        assert abs(r.stddev - sd) < 1e-5
        assert abs(r.skewness - s) < 1e-4
        assert abs(r.kurt_excess - k) < 1e-4
        assert abs(r.jb - jb) / max(jb, 1e-9) < 1e-3
    # The exponential group must read as decisively non-normal.
    assert got["heavy"].jb > 50 > got["gauss"].jb


def test_jarque_bera_degenerate(spark):
    from python_mapreduce_spark.operators.aggregates import jarque_bera

    df = spark.createDataFrame(
        [("one", 4.0), ("const", 2.0), ("const", 2.0), ("const", 2.0)],
        "g string, x double",
    )
    got = {r.g: r for r in jarque_bera(df, "g", "x").collect()}
    # Single row: mean reports, shape stats NULL.
    assert got["one"].n == 1 and got["one"].mean == 4.0
    assert got["one"].skewness is None and got["one"].jb is None
    # Zero variance: shape stats NULL, stddev NULL.
    assert got["const"].n == 3 and got["const"].stddev is None
    assert got["const"].jb is None


# ---------------------------------------------- forecast backtest


def test_forecast_backtest_matches_replay(spark):
    from python_mapreduce_spark.operators.windows import forecast_backtest

    rng = random.Random(53)
    # Seasonal series with period 4 + noise; horizon 4 = seasonal naive.
    season = [100.0, 150.0, 80.0, 120.0]
    actual = {
        p: round(season[p % 4] * (1 + 0.02 * (p // 4)) + rng.uniform(-5, 5), 2)
        for p in range(24)
    }
    rows = [("k", p, v) for p, v in actual.items()]
    df = spark.createDataFrame(rows, "g string, p long, x double")
    got = forecast_backtest(
        df, ["g"], "p", "x", horizon=4, baseline_lag=1
    ).first()
    # cent-quantized replay (the operator's exact contract)
    q = lambda v: math.floor(v * 100.0 + 0.5)  # noqa: E731
    ev = [(q(actual[p]), q(actual[p - 4])) for p in range(4, 24)]
    errs = [a - f for a, f in ev]
    mae = sum(abs(e) for e in errs) / len(ev) / 100.0
    bias = sum(errs) / len(ev) / 100.0
    rmse = math.sqrt(sum(e * e for e in errs) / len(ev)) / 100.0
    wape = sum(abs(e) for e in errs) / sum(abs(a) for a, _ in ev)
    smape = sum(2 * abs(a - f) / (abs(a) + abs(f)) for a, f in ev) / len(ev)
    base = [
        abs(q(actual[p]) - q(actual[p - 1])) for p in range(1, 24)
    ]
    mase = mae / (sum(base) / len(base) / 100.0)
    assert got.n_periods == 24 and got.n_eval == 20
    assert abs(got.mae - mae) < 1e-6
    assert abs(got.bias - bias) < 1e-6
    assert abs(got.rmse - rmse) < 1e-6
    assert abs(got.wape - wape) < 1e-6
    assert abs(got.smape - smape) < 1e-6
    assert abs(got.mase - mase) < 1e-6
    # Seasonal naive must beat the 1-step naive on a seasonal series.
    assert got.mase < 1.0


def test_forecast_backtest_gap_yields_null_not_misalignment(spark):
    from python_mapreduce_spark.operators.windows import forecast_backtest

    # Periods 0,1,2,4 (3 missing): with horizon 2, period 4's forecast
    # is period 2 (exists), period 2's is period 0 (exists), but a
    # POSITIONAL lag-2 would have compared period 4 against period 1.
    rows = [("k", 0, 10.0), ("k", 1, 20.0), ("k", 2, 30.0), ("k", 4, 50.0)]
    df = spark.createDataFrame(rows, "g string, p long, x double")
    got = forecast_backtest(df, ["g"], "p", "x", horizon=2).first()
    assert got.n_periods == 4
    assert got.n_eval == 2  # p=2 (vs p=0) and p=4 (vs p=2)
    # errors: |30-10|=20, |50-30|=20 -> mae 20
    assert abs(got.mae - 20.0) < 1e-9


def test_forecast_backtest_degenerate(spark):
    from python_mapreduce_spark.operators.windows import forecast_backtest

    # Too-short series: no forecastable period -> NULL metrics.
    df = spark.createDataFrame(
        [("k", 0, 5.0), ("k", 1, 6.0)], "g string, p long, x double"
    )
    got = forecast_backtest(df, ["g"], "p", "x", horizon=12).first()
    assert got.n_periods == 2 and got.n_eval == 0
    assert got.mae is None and got.mase is None
    # All-zero actuals in the eval span: wape NULL, smape defined (0).
    df2 = spark.createDataFrame(
        [("k", p, 0.0) for p in range(6)], "g string, p long, x double"
    )
    got2 = forecast_backtest(df2, ["g"], "p", "x", horizon=1).first()
    assert got2.wape is None and got2.smape == 0.0 and got2.mae == 0.0


# ------------------------------------------- concentration report


def test_concentration_matches_replay(spark):
    from python_mapreduce_spark.operators.aggregates import concentration_report

    weights = {"a": 50.0, "b": 30.0, "c": 10.0, "d": 6.0, "e": 4.0}
    rows = [("m1", p, w) for p, w in weights.items()]
    # m1's weights arrive split across rows (the roll-up must sum).
    rows += [("m1", "a", 0.0)]
    df = spark.createDataFrame(rows, "mkt string, p string, w double")
    got = concentration_report(df, ["mkt"], "p", "w").first()
    tot = sum(weights.values())
    shares = [w / tot for w in weights.values()]
    hhi = sum(s * s for s in shares)
    n = len(weights)
    assert got.n_players == n and abs(got.total - tot) < 1e-9
    assert abs(got.hhi - hhi) < 1e-6
    assert abs(got.hhi_norm - (hhi - 1 / n) / (1 - 1 / n)) < 1e-6
    assert abs(got.effective_n - 1 / hhi) < 1e-5
    assert abs(got.cr4 - (50 + 30 + 10 + 6) / tot) < 1e-6


def test_concentration_edge_cases(spark):
    from python_mapreduce_spark.operators.aggregates import concentration_report

    df = spark.createDataFrame(
        [("mono", "only", 9.0), ("zero", "x", 0.0), ("zero", "y", 0.0)],
        "mkt string, p string, w double",
    )
    got = {r.mkt: r for r in concentration_report(df, ["mkt"], "p", "w").collect()}
    # Monopoly: hhi 1, effective_n 1, cr4 1, hhi_norm undefined at n=1.
    m = got["mono"]
    assert m.n_players == 1 and m.hhi == 1.0 and m.effective_n == 1.0
    assert m.cr4 == 1.0 and m.hhi_norm is None
    # Zero-total market: counts report, indices NULL.
    z = got["zero"]
    assert z.n_players == 2 and z.total == 0.0 and z.hhi is None
    # CR_k ties broken by (w DESC, player ASC): deterministic cut.
    df2 = spark.createDataFrame(
        [("m", c, 10.0) for c in "abcdef"], "mkt string, p string, w double"
    )
    r2 = concentration_report(df2, ["mkt"], "p", "w", top_k=4).first()
    assert abs(r2.cr4 - 4.0 / 6.0) < 1e-6


# --------------------------------------------------- autocorrelation


def test_autocorrelation_matches_replay(spark):
    from python_mapreduce_spark.operators.windows import autocorrelation

    rng = random.Random(59)
    # Period-4 cycle: ACF must peak at lag 4, dip at lag 2.
    ys = [
        round(100 + 30 * math.sin(math.pi / 2 * t) + rng.uniform(-3, 3), 2)
        for t in range(40)
    ]
    df = spark.createDataFrame(
        [(t, v) for t, v in enumerate(ys)], "p long, x double"
    )
    got = {r.lag: r for r in autocorrelation(df, "p", "x", max_lag=5).collect()}
    cents = [math.floor(v * 100.0 + 0.5) for v in ys]
    mean = sum(cents) / len(cents)
    den = sum((c - mean) ** 2 for c in cents)
    for k in range(1, 6):
        num = sum(
            (cents[t] - mean) * (cents[t + k] - mean)
            for t in range(len(cents) - k)
        )
        assert got[k].n_pairs == len(cents) - k
        assert abs(got[k].acf - num / den) < 1e-4, k
    assert got[4].acf > 0.5 > got[2].acf  # the cycle signature


def test_autocorrelation_gaps_and_degenerate(spark):
    from python_mapreduce_spark.operators.windows import autocorrelation

    # Gap at p=2: lag-1 pairs only (0,1) and (3,4) — the calendar join
    # must NOT pair across the gap (positional lag would).
    df = spark.createDataFrame(
        [(0, 1.0), (1, 2.0), (3, 4.0), (4, 5.0)], "p long, x double"
    )
    got = {r.lag: r for r in autocorrelation(df, "p", "x", max_lag=2).collect()}
    assert got[1].n_pairs == 2
    # lag 2: only (1,3) exists — 0->2, 3->5, 4->6 all hit the gap/edge.
    assert got[2].n_pairs == 1
    # Constant series: zero variance -> acf NULL, pairs still counted.
    df2 = spark.createDataFrame([(p, 5.0) for p in range(6)], "p long, x double")
    got2 = autocorrelation(df2, "p", "x", max_lag=1).collect()
    assert got2[0].n_pairs == 5 and got2[0].acf is None
    # Empty input: no rows at all.
    df3 = spark.createDataFrame([], "p long, x double")
    assert autocorrelation(df3, "p", "x").count() == 0


# -------------------------------------------------------- BH FDR


def _bh_replay(ps: list[float], alpha: float):
    order = sorted(range(len(ps)), key=lambda i: ps[i])
    m = len(ps)
    kstar = 0
    for rank, i in enumerate(order, start=1):
        if ps[i] <= rank * alpha / m:
            kstar = rank
    rejected = [False] * m
    for rank, i in enumerate(order, start=1):
        if rank <= kstar:
            rejected[i] = True
    return rejected


def test_bh_fdr_matches_replay(spark):
    from python_mapreduce_spark.operators.aggregates import bh_fdr

    rng = random.Random(61)
    # A mix of strong signals, weak signals, and nulls-under-H0 —
    # including the classic BH quirk where a later rank rescues an
    # earlier p that fails its own critical value.
    ps = (
        [round(rng.uniform(0, 0.002), 6) for _ in range(5)]
        + [0.012, 0.013, 0.014]
        + [round(rng.uniform(0.2, 1.0), 6) for _ in range(12)]
    )
    rows = [(f"h{i:02d}", p) for i, p in enumerate(ps)]
    df = spark.createDataFrame(rows, "h string, p double")
    got = {r.h: r for r in bh_fdr(df, ["h"], "p", alpha=0.05).collect()}
    want = _bh_replay(ps, 0.05)
    assert len(got) == 20
    for i, rej in enumerate(want):
        assert got[f"h{i:02d}"].rejected == rej, (i, ps[i])
    assert got["h00"].m == 20
    # Ranks are a permutation of 1..m.
    assert sorted(r.p_rank for r in got.values()) == list(range(1, 21))


def test_bh_fdr_degenerate(spark):
    from python_mapreduce_spark.operators.aggregates import bh_fdr

    # No p below any critical value: nothing rejected.
    df = spark.createDataFrame(
        [("a", 0.9), ("b", 0.8), ("c", None)], "h string, p double"
    )
    got = bh_fdr(df, ["h"], "p").collect()
    assert len(got) == 2  # NULL p excluded
    assert not any(r.rejected for r in got)
    # All tiny: everything rejected.
    df2 = spark.createDataFrame(
        [(f"h{i}", 1e-6) for i in range(4)], "h string, p double"
    )
    assert all(r.rejected for r in bh_fdr(df2, ["h"], "p").collect())
    # Empty input: zero rows.
    df3 = spark.createDataFrame([], "h string, p double")
    assert bh_fdr(df3, ["h"], "p").count() == 0


# ------------------------------------------------ partial correlation


def test_partial_corr_matches_replay(spark):
    from python_mapreduce_spark.operators.aggregates import partial_correlation

    rng = random.Random(67)
    # x and y share the driver z: strong pairwise corr, weak partial.
    zs = [round(rng.gauss(0, 1), 4) for _ in range(300)]
    xs = [round(z * 2 + rng.gauss(0, 0.5), 4) for z in zs]
    ys = [round(z * 3 + rng.gauss(0, 0.5), 4) for z in zs]
    rows = list(zip(xs, ys, zs)) + [(None, 1.0, 1.0), (1.0, None, 1.0)]
    df = spark.createDataFrame(rows, "x double, y double, z double")
    got = partial_correlation(df, "x", "y", "z").first()

    def corr(a, b):
        n = len(a)
        ma, mb = sum(a) / n, sum(b) / n
        cov = sum((u - ma) * (v - mb) for u, v in zip(a, b))
        va = sum((u - ma) ** 2 for u in a)
        vb = sum((v - mb) ** 2 for v in b)
        return cov / math.sqrt(va * vb)

    rxy, rxz, ryz = corr(xs, ys), corr(xs, zs), corr(ys, zs)
    pr = (rxy - rxz * ryz) / math.sqrt((1 - rxz**2) * (1 - ryz**2))
    assert got.n == 300
    assert abs(got.r_xy - rxy) < 1e-4
    assert abs(got.partial_r - pr) < 1e-3
    # The shared driver explains most of the pairwise correlation.
    assert got.r_xy > 0.9 and abs(got.partial_r) < 0.5


def test_partial_corr_degenerate(spark):
    from python_mapreduce_spark.operators.aggregates import partial_correlation

    # Constant z: controlling edge undefined -> partial NULL, r_xy fine.
    df = spark.createDataFrame(
        [(float(i), float(2 * i + (i % 2)), 1.0) for i in range(10)],
        "x double, y double, z double",
    )
    got = partial_correlation(df, "x", "y", "z").first()
    assert got.r_xy is not None and got.r_xz is None
    assert got.partial_r is None and got.t_stat is None
    # Zero complete rows -> zero output rows.
    df2 = spark.createDataFrame(
        [(1.0, 2.0, None)], "x double, y double, z double"
    )
    assert partial_correlation(df2, "x", "y", "z").count() == 0


# ---------------------------------------------------- OLS influence


def _ols_influence_replay(pts: list[tuple[float, float]]):
    n = len(pts)
    sx = sum(p[0] for p in pts)
    sy = sum(p[1] for p in pts)
    xbar = sx / n
    sxx_c = sum((p[0] - xbar) ** 2 for p in pts)
    slope = sum((p[0] - xbar) * (p[1] - sy / n) for p in pts) / sxx_c
    icpt = sy / n - slope * xbar
    sse = sum((p[1] - icpt - slope * p[0]) ** 2 for p in pts)
    mse = sse / (n - 2)
    out = {}
    for x, y in pts:
        h = 1 / n + (x - xbar) ** 2 / sxx_c
        sr = (y - icpt - slope * x) / math.sqrt(mse * (1 - h))
        out[x] = (h, sr, sr * sr / 2 * (h / (1 - h)))
    return out


def test_ols_influence_matches_replay(spark):
    from python_mapreduce_spark.operators.aggregates import ols_influence

    rng = random.Random(71)
    pts = [(float(i), round(2.0 * i + 5 + rng.gauss(0, 0.5), 4)) for i in range(30)]
    pts[17] = (17.0, pts[17][1] + 12.0)  # one gross outlier mid-series
    rows = [("k", int(x), x, y) for x, y in pts]
    df = spark.createDataFrame(rows, "g string, id long, x double, y double")
    got = {r.id: r for r in ols_influence(df, ["g"], "id", "x", "y").collect()}
    want = _ols_influence_replay(pts)
    flagged = {int(x) for x, (h, sr, d) in want.items() if d > 4.0 / len(pts)}
    assert set(got) == flagged and 17 in flagged
    for i in flagged:
        h, sr, d = want[float(i)]
        assert abs(got[i].leverage - h) < 1e-5
        assert abs(got[i].std_resid - sr) < 1e-3
        assert abs(got[i].cooks_d - d) < 1e-3


def test_ols_influence_degenerate(spark):
    from python_mapreduce_spark.operators.aggregates import ols_influence

    # Perfect fit: MSE = 0 -> nothing can distort, nothing flagged.
    df = spark.createDataFrame(
        [("k", i, float(i), 3.0 * i + 1) for i in range(10)],
        "g string, id long, x double, y double",
    )
    assert ols_influence(df, ["g"], "id", "x", "y").count() == 0
    # n = 2: no residual df -> nothing flagged.
    df2 = spark.createDataFrame(
        [("k", 0, 0.0, 1.0), ("k", 1, 1.0, 9.0)],
        "g string, id long, x double, y double",
    )
    assert ols_influence(df2, ["g"], "id", "x", "y").count() == 0
    # Constant x: no fit at all.
    df3 = spark.createDataFrame(
        [("k", i, 5.0, float(i)) for i in range(6)],
        "g string, id long, x double, y double",
    )
    assert ols_influence(df3, ["g"], "id", "x", "y").count() == 0


# ------------------------------------------------------------ BM25


def _bm25_replay(docs: dict[int, str], query: list[str], k1=1.2, b=0.75):
    import re

    toks = {i: re.findall(r"[a-z]+", (t or "").lower()) for i, t in docs.items()}
    dl = {i: len(ts) for i, ts in toks.items() if ts}
    n = len(docs)
    avgdl = sum(dl.values()) / len(dl)
    df = {
        q: sum(1 for ts in toks.values() if q in ts) for q in query
    }
    scores = {}
    for i, ts in toks.items():
        s, m = 0.0, 0
        for q in query:
            tf = ts.count(q)
            if tf == 0:
                continue
            m += 1
            idf = math.log(1.0 + (n - df[q] + 0.5) / (df[q] + 0.5))
            s += idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl[i] / avgdl))
        if m:
            scores[i] = (s, m)
    return scores


def test_bm25_matches_replay(spark):
    from python_mapreduce_spark.llm.text import bm25_topk

    rng = random.Random(73)
    vocab = ["alpha", "beta", "gamma", "delta", "merge", "stream"]
    docs = {
        i: " ".join(rng.choices(vocab, k=rng.randint(3, 25)))
        for i in range(40)
    }
    docs[40] = None  # NULL text: the empty document, never matches
    df = spark.createDataFrame(
        list(docs.items()), "doc_id long, text string"
    )
    got = {
        r.id: r for r in bm25_topk(df, "doc_id", "text", ["merge", "stream"], k=8).collect()
    }
    want = _bm25_replay(docs, ["merge", "stream"])
    top = sorted(want.items(), key=lambda kv: (-kv[1][0], kv[0]))[:8]
    assert set(got) == {i for i, _ in top}
    for i, (s, m) in top:
        assert abs(got[i].score - s) < 1e-3, i
        assert got[i].matched_terms == m


def test_bm25_edges(spark):
    from python_mapreduce_spark.llm.text import bm25_topk

    # No doc contains any query term: empty result.
    df = spark.createDataFrame(
        [(1, "aaa bbb"), (2, "ccc")], "doc_id long, text string"
    )
    assert bm25_topk(df, "doc_id", "text", ["zzz"], k=5).count() == 0
    # Exact ties (identical docs): the k-cut keeps the smallest ids.
    df2 = spark.createDataFrame(
        [(i, "merge merge base") for i in range(6)], "doc_id long, text string"
    )
    got = bm25_topk(df2, "doc_id", "text", ["merge"], k=3).collect()
    assert sorted(r.id for r in got) == [0, 1, 2]


# ---------------------------------------------------- t-closeness


def _tvd_replay(rows: list[tuple[str, str]]):
    from collections import Counter

    total = Counter(s for _, s in rows)
    n = len(rows)
    out = {}
    for g in {g for g, _ in rows}:
        grp = Counter(s for gg, s in rows if gg == g)
        ng = sum(grp.values())
        cats = set(total) | set(grp)
        out[g] = 0.5 * sum(
            abs(grp.get(c, 0) / ng - total[c] / n) for c in cats
        )
    return out


def test_t_closeness_matches_replay(spark):
    from python_mapreduce_spark.operators.aggregates import t_closeness_audit

    rng = random.Random(79)
    rows = [
        ("bal", rng.choice(["x", "y", "z"])) for _ in range(200)
    ] + [("skewed", "x")] * 80 + [("skewed", "y")] * 5
    df = spark.createDataFrame(rows, "g string, s string")
    got = t_closeness_audit(df, ["g"], "s", t=0.25).first()
    want = _tvd_replay(rows)
    assert got.n_rows == 285 and got.n_groups == 2
    assert abs(got.max_tvd - max(want.values())) < 1e-6
    # The skewed group must be the violator (the skew also drags the
    # GLOBAL distribution, so the balanced group sits near ~0.18 —
    # the gate separates them at 0.25).
    assert want["skewed"] > 0.25 > want["bal"]
    assert got.n_groups_above_t == 1 and got.n_rows_above_t == 85
    assert not got.t_close


def test_t_closeness_nulls_are_distribution_mass(spark):
    from python_mapreduce_spark.operators.aggregates import t_closeness_audit

    # Group "a" is all-NULL sensitive, group "b" all 'v': each deviates
    # from the 50/50 global by TVD 0.5 — NULLs must count as a category
    # (a plain equi-join would drop them and report TVD 0 for "a").
    rows = [("a", None)] * 4 + [("b", "v")] * 4
    df = spark.createDataFrame(rows, "g string, s string")
    got = t_closeness_audit(df, ["g"], "s", t=0.2).first()
    assert got.n_rows == 8 and got.n_groups == 2
    assert abs(got.max_tvd - 0.5) < 1e-9
    assert got.n_groups_above_t == 2 and not got.t_close
    # NULL quasi-values are buckets too.
    rows2 = [(None, "x")] * 3 + [("g1", "x")] * 3
    df2 = spark.createDataFrame(rows2, "g string, s string")
    got2 = t_closeness_audit(df2, ["g"], "s", t=0.2).first()
    assert got2.n_groups == 2 and got2.n_rows == 6
    # Identical distributions everywhere: gate passes at any t.
    assert got2.max_tvd == 0.0 and got2.t_close


# ---------------------------------------------------------- Theil T


def _theil_replay(groups: dict[str, list[float]]):
    allv = [x for xs in groups.values() for x in xs]
    n = len(allv)
    mu = sum(allv) / n
    total = sum((x / mu) * math.log(x / mu) for x in allv) / n
    s_tot = sum(allv)
    within = between = 0.0
    for xs in groups.values():
        mug = sum(xs) / len(xs)
        sg = sum(xs) / s_tot
        tg = sum((x / mug) * math.log(x / mug) for x in xs) / len(xs)
        within += sg * tg
        between += sg * math.log(mug / mu)
    return total, within, between


def test_theil_matches_replay_and_decomposes(spark):
    from python_mapreduce_spark.operators.aggregates import theil_decomposition

    rng = random.Random(83)
    groups = {
        "low": [round(rng.uniform(8, 12), 2) for _ in range(60)],
        "high": [round(rng.uniform(80, 120), 2) for _ in range(40)],
        "spread": [round(rng.lognormvariate(3, 0.8), 2) for _ in range(50)],
    }
    rows = [(g, x) for g, xs in groups.items() for x in xs] + [
        ("low", 0.0),      # non-positive: excluded, counted
        ("low", None),     # NULL value: dropped entirely
    ]
    df = spark.createDataFrame(rows, "g string, x double")
    got = theil_decomposition(df, "g", "x").first()
    total, within, between = _theil_replay(groups)
    assert got.n == 150 and got.n_excluded == 1 and got.n_groups == 3
    assert abs(got.theil_total - total) < 1e-4
    assert abs(got.theil_within - within) < 1e-4
    assert abs(got.theil_between - between) < 1e-4
    # The decomposition identity (to term quantization).
    assert abs(got.theil_total - (got.theil_within + got.theil_between)) < 1e-5
    # Group means differ 10x: between must dominate here.
    assert got.between_share > 0.5


def test_theil_degenerate(spark):
    from python_mapreduce_spark.operators.aggregates import theil_decomposition

    # Perfect equality: all indices 0, between_share NULL (0/0).
    df = spark.createDataFrame(
        [("a", 5.0)] * 3 + [("b", 5.0)] * 4, "g string, x double"
    )
    got = theil_decomposition(df, "g", "x").first()
    assert got.theil_total == 0.0 and got.theil_within == 0.0
    assert got.between_share is None
    # All rows non-positive: the statistic does not exist -> zero rows.
    df2 = spark.createDataFrame([("a", 0.0), ("b", -1.0)], "g string, x double")
    assert theil_decomposition(df2, "g", "x").count() == 0


# -------------------------------------------------- Nelson-Aalen


def _na_replay(obs: list[tuple[float, bool]]):
    times = sorted({t for t, _ in obs})
    n_at_risk = len(obs)
    out = {}
    h = v = 0.0
    for u in times:
        d = sum(1 for t, e in obs if t == u and e)
        c = sum(1 for t, e in obs if t == u and not e)
        h += d / n_at_risk
        v += d / n_at_risk**2
        out[u] = (n_at_risk, d, c, h, v)
        n_at_risk -= d + c
    return out


def test_nelson_aalen_matches_replay(spark):
    from python_mapreduce_spark.operators.events import nelson_aalen

    rng = random.Random(89)
    obs = [
        (float(rng.randint(0, 12)), rng.random() < 0.7) for _ in range(120)
    ]
    rows = obs + [(None, True), (3.0, None)]  # excluded
    df = spark.createDataFrame(rows, "dur double, ev boolean")
    got = {r.duration: r for r in nelson_aalen(df, "dur", "ev").collect()}
    want = _na_replay(obs)
    assert set(got) == set(want)
    for u, (nr, d, c, h, v) in want.items():
        r = got[u]
        assert (r.n_risk, r.n_events, r.n_censored) == (nr, d, c), u
        assert abs(r.cum_hazard - h) < 1e-5, u
        assert abs(r.hazard_var - v) < 1e-6, u
        assert abs(r.na_survival - math.exp(-h)) < 1e-5, u
    # Breslow >= Kaplan-Meier everywhere (standard inequality).
    from python_mapreduce_spark.operators.events import survival_curve

    km = {r.duration: r.survival for r in survival_curve(df, "dur", "ev").collect()}
    for u in want:
        assert got[u].na_survival >= km[u] - 1e-9, u


def test_nelson_aalen_total_wipeout_is_finite(spark):
    from python_mapreduce_spark.operators.events import nelson_aalen

    # Everyone dies at the last time: d = n there, H adds exactly 1.0
    # (finite) where KM's ln would need its -inf sentinel.
    df = spark.createDataFrame(
        [(1.0, True)] * 3 + [(5.0, True)] * 4, "dur double, ev boolean"
    )
    got = {r.duration: r for r in nelson_aalen(df, "dur", "ev").collect()}
    assert abs(got[1.0].cum_hazard - 3 / 7) < 1e-6
    assert abs(got[5.0].cum_hazard - (3 / 7 + 1.0)) < 1e-6
    assert got[5.0].na_survival > 0.0  # finite, unlike KM's exact 0


# ------------------------------------------------- Kruskal-Wallis


def _kw_replay(groups: dict[str, list[float]]):
    allv = sorted(
        (v, g) for g, xs in groups.items() for v in xs
    )
    n = len(allv)
    ranks: list[tuple[str, float]] = []
    tie_sum = 0.0
    i = 0
    while i < n:
        j = i
        while j < n and allv[j][0] == allv[i][0]:
            j += 1
        t = j - i
        tie_sum += t**3 - t
        avg = (i + 1 + j) / 2.0
        ranks.extend((allv[k][1], avg) for k in range(i, j))
        i = j
    rsum: dict[str, float] = {}
    for g, r in ranks:
        rsum[g] = rsum.get(g, 0.0) + r
    h = 12.0 / (n * (n + 1)) * sum(
        rsum[g] ** 2 / len(groups[g]) for g in groups
    ) - 3.0 * (n + 1)
    hc = h / (1.0 - tie_sum / (n**3 - n))
    return h, hc


def test_kruskal_wallis_matches_replay(spark):
    from python_mapreduce_spark.operators.aggregates import kruskal_wallis

    rng = random.Random(97)
    # 1-decimal grid: heavy ties so the correction does real work.
    groups = {
        "a": [round(rng.gauss(10, 2), 1) for _ in range(50)],
        "b": [round(rng.gauss(12, 2), 1) for _ in range(40)],
        "c": [round(rng.gauss(10.5, 2), 1) for _ in range(45)],
    }
    rows = [(g, x) for g, xs in groups.items() for x in xs] + [
        (None, 3.0),
        ("a", None),
    ]
    df = spark.createDataFrame(rows, "g string, x double")
    got = kruskal_wallis(df, "g", "x").first()
    h, hc = _kw_replay(groups)
    assert got.k_groups == 3 and got.n == 135 and got.df == 2
    assert abs(got.h_stat - h) < 1e-4
    assert abs(got.h_corrected - hc) < 1e-4
    assert got.h_corrected >= got.h_stat  # correction only inflates


def test_kruskal_wallis_degenerate(spark):
    from python_mapreduce_spark.operators.aggregates import kruskal_wallis

    # All values tied: no rank information -> corrected NULL, H = 0-ish.
    df = spark.createDataFrame(
        [("a", 5.0)] * 3 + [("b", 5.0)] * 3, "g string, x double"
    )
    got = kruskal_wallis(df, "g", "x").first()
    assert got.h_corrected is None
    # One group: no between-group question exists -> df and H NULL.
    df2 = spark.createDataFrame([("a", float(i)) for i in range(5)], "g string, x double")
    got2 = kruskal_wallis(df2, "g", "x").first()
    assert got2.k_groups == 1 and got2.df is None and got2.h_stat is None
    # Empty input: zero rows.
    df3 = spark.createDataFrame([], "g string, x double")
    assert kruskal_wallis(df3, "g", "x").count() == 0


# --------------------------------------------------- Mann-Kendall


def _mk_replay(series: dict[int, float]):
    import statistics

    ps = sorted(series)
    n = len(ps)
    s = 0
    slopes = []
    for i in range(n):
        for j in range(i + 1, n):
            d = series[ps[j]] - series[ps[i]]
            s += (d > 0) - (d < 0)
            slopes.append(d / (ps[j] - ps[i]))
    from collections import Counter

    ties = Counter(series.values())
    tsum = sum(t * (t - 1) * (2 * t + 5) for t in ties.values())
    var = (n * (n - 1) * (2 * n + 5) - tsum) / 18.0
    if s > 0:
        z = (s - 1) / math.sqrt(var)
    elif s < 0:
        z = (s + 1) / math.sqrt(var)
    else:
        z = 0.0
    return s, var, z, statistics.median(slopes)


def test_mann_kendall_matches_replay(spark):
    from python_mapreduce_spark.operators.windows import mann_kendall

    rng = random.Random(101)
    # Upward drift + noise + deliberate exact ties (1-decimal grid).
    series = {
        p: round(10 + 0.4 * p + rng.uniform(-3, 3), 1) for p in range(40)
    }
    df = spark.createDataFrame(
        list(series.items()), "p long, x double"
    )
    got = mann_kendall(df, "p", "x").first()
    s, var, z, sen = _mk_replay(series)
    assert got.n_periods == 40 and got.n_pairs == 40 * 39 // 2
    assert got.s_stat == s
    assert abs(got.var_s - var) < 1e-3
    assert abs(got.z - z) < 1e-5
    assert abs(got.sen_slope - sen) < 1e-6
    assert got.z > 3  # the planted trend must be decisively detected


def test_mann_kendall_degenerate(spark):
    from python_mapreduce_spark.operators.windows import mann_kendall

    # All-tied series: S = 0, var 0 -> z NULL, Sen slope 0.
    df = spark.createDataFrame(
        [(p, 5.0) for p in range(6)], "p long, x double"
    )
    got = mann_kendall(df, "p", "x").first()
    assert got.s_stat == 0 and got.z is None and got.sen_slope == 0.0
    # Single period: no trend question -> zero rows.
    df2 = spark.createDataFrame([(1, 2.0)], "p long, x double")
    assert mann_kendall(df2, "p", "x").count() == 0
    # Perfect monotone decrease: S = -n_pairs.
    df3 = spark.createDataFrame(
        [(p, float(10 - p)) for p in range(5)], "p long, x double"
    )
    got3 = mann_kendall(df3, "p", "x").first()
    assert got3.s_stat == -10 and got3.z < 0 and got3.sen_slope == -1.0


def test_survival_oracles_exclude_all_null_ts_users(spark, tmp_path):
    # ADVICE r7: a user whose EVERY ts is NULL produces a NULL last-event
    # date. The operators (survival_curve / nelson_aalen) filter NULL
    # duration/flag rows; the oracles' obs CTE must mirror that (WHERE
    # ld IS NOT NULL), or the oracle inflates every n_risk via ntot and
    # emits an extra NULL-duration row only on its side.
    import datetime as dt

    import duckdb

    from python_mapreduce_spark.registry.core import QUERIES as CORE_Q
    from python_mapreduce_spark.registry.stats import QUERIES as STATS_Q

    def t(day):
        return dt.datetime(2024, 1, day, 12, 0, 0)

    rows = [
        # user 1: churned (last event before 2024-01-25), duration 9
        (1, t(1), 1, "click", 1.0, "{}"),
        (2, t(10), 1, "view", 1.0, "{}"),
        # user 2: censored (last event on/after 2024-01-25), duration 24
        (3, t(2), 2, "click", 1.0, "{}"),
        (4, t(26), 2, "view", 1.0, "{}"),
        # user 99: every ts NULL -> must not appear in either engine
        (5, None, 99, "click", 1.0, "{}"),
        (6, None, 99, "view", 1.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    df.coalesce(1).write.parquet(str(tmp_path / "events.parquet"))

    con = duckdb.connect()
    con.sql(
        "CREATE VIEW events AS SELECT * FROM "
        f"'{tmp_path}/events.parquet/*.parquet'"
    )
    for q in (CORE_Q["q_survival_curve"], STATS_Q["q_nelson_aalen"]):
        sdf = q.fn(spark, str(tmp_path)).toPandas()
        odf = con.sql(q.sql).df()
        assert len(sdf) == len(odf) == 2  # two durations, no NULL row
        scols = sorted(sdf.columns)
        assert scols == sorted(odf.columns)
        s = sdf[scols].sort_values(scols).reset_index(drop=True)
        o = odf[scols].sort_values(scols).reset_index(drop=True)
        for c in scols:
            sv, ov = s[c].astype("float64"), o[c].astype("float64")
            assert (sv - ov).abs().max() < 1e-9, (q, c)
        # the all-NULL-ts user is excluded: risk set starts at 2, not 3
        assert int(s["n_risk"].max()) == 2


def test_reciprocal_rank_fusion_matches_replay(spark):
    from python_mapreduce_spark.llm.similarity import reciprocal_rank_fusion

    lex = spark.createDataFrame(
        [(10, 1), (20, 2), (30, 3), (40, 4)], "id long, rank long"
    )
    dense = spark.createDataFrame(
        [(20, 1), (50, 2), (30, 3)], "id long, rank long"
    )
    got = {
        r.id: r for r in reciprocal_rank_fusion([lex, dense], k=10).collect()
    }

    def q8(x):
        import math

        return math.floor(x * 1e8 + 0.5) / 1e8

    want = {}
    for ladder in ([(10, 1), (20, 2), (30, 3), (40, 4)], [(20, 1), (50, 2), (30, 3)]):
        for i, r in ladder:
            s, n, b = want.get(i, (0.0, 0, 10**9))
            want[i] = (s + q8(1.0 / (60.0 + r)), n + 1, min(b, r))
    assert set(got) == set(want)
    for i, (s, n, b) in want.items():
        assert abs(got[i].rrf_score - s) < 1e-9, i
        assert (got[i].n_ladders, got[i].best_rank) == (n, b), i
    # agreement wins: id 20 (ranks 2+1) and id 30 (3+3) both fuse above
    # every single-ladder entry, including each ladder's own #1
    order = [r.id for r in reciprocal_rank_fusion([lex, dense], k=10)
             .orderBy("rrf_score", ascending=False).collect()]
    assert order[0] == 20 and order[1] == 30

    # weights: doubling the dense weight flips a dense-only doc above a
    # lex-only doc with the same rank
    w = {r.id: r.rrf_score for r in reciprocal_rank_fusion(
        [lex, dense], weights=[1.0, 2.0], k=10).collect()}
    assert w[50] > w[10]  # dense rank 2 at weight 2 > lex rank 1 at weight 1? no:
    # 2/(60+2)=0.032258 vs 1/(60+1)=0.016393 — yes, strictly above

    # k cut with total-order tiebreak: ids tied at the same single
    # ladder rank cannot both survive a k=1 cut; the smaller id wins
    tied = spark.createDataFrame([(7, 1)], "id long, rank long")
    tied2 = spark.createDataFrame([(5, 1)], "id long, rank long")
    cut = reciprocal_rank_fusion([tied, tied2], k=1).collect()
    assert len(cut) == 1 and cut[0].id == 5


def test_retrieval_ndcg_matches_replay(spark):
    import math

    from python_mapreduce_spark.llm.similarity import retrieval_ndcg

    def q8(x):
        return math.floor(x * 1e8 + 0.5) / 1e8

    # 2-D unit-ish vectors with a planted taxonomy: ids 0/1/2 label 'a'
    # cluster near (1, 0); ids 3/4 label 'b' near (0, 1); id 5 label 'c'
    # is a singleton (relevant pool 0 -> excluded from the mean).
    rows = [
        (0, [1.0, 0.0], "a"),
        (1, [0.99, 0.1], "a"),
        (2, [0.98, 0.15], "a"),
        (3, [0.0, 1.0], "b"),
        (4, [0.1, 0.99], "b"),
        (5, [-1.0, -1.0], "c"),
    ]
    emb = spark.createDataFrame(rows, "id long, v array<float>, label string")
    got = {
        r.label: r
        for r in retrieval_ndcg(emb, emb, "id", "v", "label", k=2).collect()
    }

    # replay: exact cosine ranks, binary gains, ideal ladder
    import numpy as np

    vecs = {i: np.array(v) / np.linalg.norm(v) for i, v, _ in rows}
    labs = {i: l for i, _, l in rows}
    per_label = {}
    for qid in labs:
        sims = sorted(
            (
                (-math.floor(float(vecs[qid] @ vecs[c]) * 1e6 + 0.5) / 1e6, c)
                for c in labs
                if c != qid
            ),
        )[:2]
        dcg = sum(
            q8(1.0 / math.log2(rn + 2))
            for rn, (_, c) in enumerate(sims)
            if labs[c] == labs[qid]
        )
        pool = sum(1 for c in labs if c != qid and labs[c] == labs[qid])
        m = min(pool, 2)
        if m > 0:
            idcg = sum(q8(1.0 / math.log2(i + 1)) for i in range(1, m + 1))
            ndcg = q8(dcg / idcg)
        else:
            ndcg = None
        n, ne, tot = per_label.get(labs[qid], (0, 0, 0.0))
        per_label[labs[qid]] = (
            n + 1,
            ne + (ndcg is not None),
            tot + (ndcg or 0.0),
        )

    assert set(got) == set(per_label)
    for lab, (n, ne, tot) in per_label.items():
        assert got[lab].n_queries == n, lab
        assert got[lab].n_evaluable == ne, lab
        if ne:
            assert abs(got[lab].ndcg_at_k - tot / ne) < 1e-6, lab
        else:
            assert got[lab].ndcg_at_k is None, lab
    # the planted clusters retrieve their own label first: NDCG = 1.0
    assert got["a"].ndcg_at_k == 1.0 and got["b"].ndcg_at_k == 1.0
    assert got["c"].n_evaluable == 0


def test_count_min_one_sided_and_mergeable(spark):
    import random

    from python_mapreduce_spark.operators.aggregates import (
        count_min_estimate,
        count_min_sketch,
    )

    rng = random.Random(1234)
    # Zipf-ish key stream with a heavy head and a long tail
    keys = [f"k{int(rng.paretovariate(1.2))}" for _ in range(3000)]
    df = spark.createDataFrame([(k,) for k in keys], "term string")
    exact = {}
    for k in keys:
        exact[k] = exact.get(k, 0) + 1
    probes = list(exact)[:20] + ["neverseen"]
    got = {
        r.term: r
        for r in count_min_estimate(df, "term", probes, width=64, depth=4).collect()
    }
    assert set(got) == set(probes)
    n = len(keys)
    for p in probes:
        e = exact.get(p, 0)
        assert got[p].exact_count == e, p
        # the one-sided CM guarantee: estimates never undercount
        assert got[p].cm_estimate >= e, p
        assert got[p].overcount == got[p].cm_estimate - e, p
        # sanity width bound (loose: e * depth-fold union bound)
        assert got[p].overcount <= 2 * n, p
    assert got["neverseen"].exact_count == 0

    # mergeability: sketch(A union B) == bucket-wise sum of sketches
    half = len(keys) // 2
    a = spark.createDataFrame([(k,) for k in keys[:half]], "term string")
    b = spark.createDataFrame([(k,) for k in keys[half:]], "term string")
    whole = {
        (r.d, r.bucket): r.cnt
        for r in count_min_sketch(df, "term", width=64, depth=4).collect()
    }
    merged: dict = {}
    for part in (a, b):
        for r in count_min_sketch(part, "term", width=64, depth=4).collect():
            merged[(r.d, r.bucket)] = merged.get((r.d, r.bucket), 0) + r.cnt
    assert whole == merged

    # NULL keys are excluded, and the sketch never exceeds depth*width rows
    withnull = spark.createDataFrame(
        [("a",), (None,), ("a",)], "term string"
    )
    sk = count_min_sketch(withnull, "term", width=8, depth=2).collect()
    assert sum(r.cnt for r in sk) == 2 * 2  # 2 non-null rows x depth
    assert len(sk) <= 16


def _lpa_replay(edges, rounds):
    sym = set()
    for a, b in edges:
        if a != b:
            sym.add((a, b))
            sym.add((b, a))
    nodes = {a for a, _ in sym}
    lab = {n: n for n in nodes}
    for _ in range(rounds):
        new = {}
        for n in nodes:
            freq = {}
            for a, b in sym:
                if a == n:
                    freq[lab[b]] = freq.get(lab[b], 0) + 1
            new[n] = min(freq, key=lambda l: (-freq[l], l))
        lab = new
    out = {}
    for n, l in lab.items():
        out[l] = out.get(l, 0) + 1
    return out


def test_label_propagation_matches_replay(spark):
    import random

    from python_mapreduce_spark.llm.dedup import label_propagation

    # two cliques bridged by one edge: LPA must keep them as separate
    # communities where connected components would merge them
    cliq = [(1, 2), (1, 3), (2, 3), (10, 11), (10, 12), (11, 12), (3, 10)]
    df = spark.createDataFrame(cliq, "id1 long, id2 long")
    got = {r.community: r.n_nodes for r in label_propagation(df, rounds=4).collect()}
    assert got == _lpa_replay(cliq, 4)
    assert len(got) >= 2  # the bridge did not merge the cliques

    # random graph: exact agreement with the synchronous replay, and
    # community sizes partition the node set
    rng = random.Random(77)
    nodes = list(range(40))
    redges = sorted(
        {
            (min(a, b), max(a, b))
            for a, b in (
                (rng.choice(nodes), rng.choice(nodes)) for _ in range(80)
            )
            if a != b
        }
    )
    rdf = spark.createDataFrame(redges, "id1 long, id2 long")
    got_r = {
        r.community: r.n_nodes for r in label_propagation(rdf, rounds=4).collect()
    }
    want_r = _lpa_replay(redges, 4)
    assert got_r == want_r
    touched = {a for e in redges for a in e}
    assert sum(got_r.values()) == len(touched)

    # self-loops are dropped; an empty edge list yields zero communities
    selfy = spark.createDataFrame([(5, 5)], "id1 long, id2 long")
    assert label_propagation(selfy, rounds=2).count() == 0
