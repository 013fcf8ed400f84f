"""Statistics and sketch queries: hypothesis tests, robust and
nonparametric statistics, inequality and survival measures, forecast
backtests, record linkage weights, and the mergeable distinct-count
sketches (count-min, KMV) with their bootstrap confidence intervals.

Every entry has an exact DuckDB oracle. Statistics that would otherwise
drift by an ulp between engines are computed from integer or DECIMAL
sufficient statistics, so both sides round the same value.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_mapreduce_spark.functions.scalar import (
    dround,
    sql_dround,
    sql_normal_sf_approx,
)
from python_mapreduce_spark.registry import Query
from python_mapreduce_spark.registry._util import table


def q_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    # One-way ANOVA (operators/aggregates.py::anova_oneway): does mean
    # order value differ across the 5 order priorities? DECIMAL
    # sufficient statistics + quantized cross-group SSW sum keep the
    # statistic bit-identical at any parallelism.
    from python_mapreduce_spark.operators.aggregates import anova_oneway  # noqa: PLC0415

    return anova_oneway(
        table(spark, sf_dir, "orders"), "o_orderpriority", "o_totalprice"
    )


_SSW_TERM = (
    "(CAST(sumsq_c AS DOUBLE)"
    " - CAST(sum_c AS DOUBLE) * CAST(sum_c AS DOUBLE) / n_g) / 10000.0"
)


SQL_ANOVA = f"""
WITH base AS (
  -- integer CENTS: scale-0 decimals convert to double in ONE
  -- correctly-rounded step in both engines (fractional-scale decimals
  -- with raw digits past 2^53 double-round in DuckDB and drift ulps
  -- from Spark); DECIMAL(19,0) so the square fits width 38.
  SELECT o_orderpriority AS g,
         CAST(floor(o_totalprice * 100.0 + 0.5) AS DECIMAL(19,0)) AS yc
  FROM orders
  WHERE o_orderpriority IS NOT NULL AND o_totalprice IS NOT NULL
),
pg AS (
  SELECT g, COUNT(*) AS n_g, SUM(yc) AS sum_c,
         SUM(CAST(yc * yc AS DECIMAL(38,0))) AS sumsq_c
  FROM base GROUP BY g
),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k_groups,
         CAST(SUM(n_g) AS BIGINT) AS n,
         CAST(SUM(sum_c) AS DOUBLE) AS s,
         CAST(SUM(sumsq_c) AS DOUBLE) AS ss,
         CAST(SUM(CAST({sql_dround(_SSW_TERM, 2)} AS DECIMAL(38,2)))
              AS DOUBLE) AS ssw
  FROM pg
)
SELECT k_groups, n,
       {sql_dround('(ss - s * s / n) / 10000.0 - ssw', 2)} AS ss_between,
       {sql_dround('ssw', 2)} AS ss_within,
       CASE WHEN k_groups >= 2 THEN
         {sql_dround('((ss - s * s / n) / 10000.0 - ssw) / (k_groups - 1)', 2)}
       END AS ms_between,
       CASE WHEN n > k_groups THEN
         {sql_dround('ssw / (n - k_groups)', 2)}
       END AS ms_within,
       CASE WHEN k_groups >= 2 AND n > k_groups AND ssw > 0 THEN
         {sql_dround('(((ss - s * s / n) / 10000.0 - ssw) / (k_groups - 1)) / (ssw / (n - k_groups))', 6)}
       END AS f_stat
FROM tot
"""


def q_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Welch t between finished ('F') and open ('O') order values
    # (operators/aggregates.py::welch_ttest) — DECIMAL conditional
    # sufficient statistics in one agg.
    from python_mapreduce_spark.operators.aggregates import welch_ttest  # noqa: PLC0415

    return welch_ttest(
        table(spark, sf_dir, "orders"), "o_orderstatus", "o_totalprice",
        a="F", b="O",
    )


_W_OK = "n_a >= 2 AND n_b >= 2 AND (va + vb) > 0"


SQL_WELCH_TTEST = f"""
WITH base AS (
  -- integer cents, same single-rounding argument as SQL_ANOVA
  SELECT o_orderstatus AS s,
         CAST(floor(o_totalprice * 100.0 + 0.5) AS DECIMAL(19,0)) AS yc
  FROM orders
  WHERE o_orderstatus IS NOT NULL AND o_totalprice IS NOT NULL
),
agg AS (
  SELECT CAST(COUNT(CASE WHEN s = 'F' THEN 1 END) AS BIGINT) AS n_a,
         CAST(COUNT(CASE WHEN s = 'O' THEN 1 END) AS BIGINT) AS n_b,
         CAST(SUM(CASE WHEN s = 'F' THEN yc END) AS DOUBLE) / 100.0 AS sa,
         CAST(SUM(CASE WHEN s = 'O' THEN yc END) AS DOUBLE) / 100.0 AS sb,
         CAST(SUM(CASE WHEN s = 'F' THEN CAST(yc * yc AS DECIMAL(38,0)) END)
              AS DOUBLE) / 10000.0 AS qa,
         CAST(SUM(CASE WHEN s = 'O' THEN CAST(yc * yc AS DECIMAL(38,0)) END)
              AS DOUBLE) / 10000.0 AS qb
  FROM base
),
v AS (
  SELECT n_a, n_b, sa, sb,
         (qa - sa * sa / n_a) / (n_a - 1) / n_a AS va,
         (qb - sb * sb / n_b) / (n_b - 1) / n_b AS vb
  FROM agg
)
SELECT n_a, n_b,
       CASE WHEN n_a > 0 THEN {sql_dround('sa / n_a', 6)} END AS mean_a,
       CASE WHEN n_b > 0 THEN {sql_dround('sb / n_b', 6)} END AS mean_b,
       CASE WHEN n_a > 0 AND n_b > 0 THEN
         {sql_dround('sa / n_a - sb / n_b', 6)}
       END AS mean_diff,
       CASE WHEN {_W_OK} THEN
         {sql_dround('(sa / n_a - sb / n_b) / sqrt(va + vb)', 6)}
       END AS t_stat,
       CASE WHEN {_W_OK} THEN
         {sql_dround('(va + vb) * (va + vb) / (va * va / (n_a - 1) + vb * vb / (n_b - 1))', 6)}
       END AS dof
FROM v
"""


def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Per-source robust z of document length (operators/aggregates.py::
    # mad_outliers): exact median + exact MAD, the yardstick the
    # outliers themselves cannot drag.
    from python_mapreduce_spark.operators.aggregates import mad_outliers  # noqa: PLC0415

    return mad_outliers(
        table(spark, sf_dir, "documents"), ["source"], "doc_id", "n_chars"
    )


SQL_MAD_OUTLIERS = f"""
WITH base AS (
  SELECT source, doc_id AS id, CAST(n_chars AS DOUBLE) AS value
  FROM documents
),
med AS (SELECT source, median(value) AS m FROM base GROUP BY source),
j AS (SELECT base.source, id, value, m FROM base JOIN med USING (source)),
mad AS (
  SELECT source, median(abs(value - m)) AS d FROM j GROUP BY source
)
SELECT j.source, id, value,
       CASE WHEN value IS NOT NULL AND d > 0 THEN
         {sql_dround('0.6745 * (value - m) / d', 6)}
       END AS robust_z,
       COALESCE(
         CASE WHEN value IS NOT NULL AND d > 0 THEN
           abs({sql_dround('0.6745 * (value - m) / d', 6)}) > 3.5
         END, false) AS outlier
FROM j JOIN mad USING (source)
"""


def q_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Batch CUSUM drift audit per event type (operators/windows.py::
    # cusum_changepoints): explicit target (the gauge's design center),
    # ordered by (ts, event_id) — a total order even on the skew
    # replica's hour-truncated timestamps.
    from python_mapreduce_spark.operators.windows import cusum_changepoints  # noqa: PLC0415

    e = table(spark, sf_dir, "events")
    out = cusum_changepoints(
        e, ["event_type"], [F.col("ts"), F.col("event_id")], "value",
        target=50.0, allowance=5.0, threshold=300.0,
    )
    return out.select(
        "event_type", "event_id", "cusum_pos", "cusum_neg", "alarm"
    )


SQL_CUSUM = f"""
WITH p AS (
  SELECT event_type, event_id,
         SUM(COALESCE(value - 50.0, 0.0) - 5.0) OVER w AS p_pos,
         SUM(-COALESCE(value - 50.0, 0.0) - 5.0) OVER w AS p_neg,
         row_number() OVER w AS rn
  FROM events
  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
s AS (
  SELECT event_type, event_id,
         p_pos - LEAST(0.0, MIN(p_pos) OVER w2) AS s_pos,
         p_neg - LEAST(0.0, MIN(p_neg) OVER w2) AS s_neg
  FROM p
  WINDOW w2 AS (PARTITION BY event_type ORDER BY rn
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_type, event_id,
       {sql_dround('s_pos', 6)} AS cusum_pos,
       {sql_dround('s_neg', 6)} AS cusum_neg,
       ({sql_dround('s_pos', 6)} > 300.0 OR {sql_dround('s_neg', 6)} > 300.0)
         AS alarm
FROM s
"""


def q_fellegi_sunter(spark: SparkSession, sf_dir: str) -> DataFrame:
    # FS linkage weights (operators/joins.py::fellegi_sunter_weights)
    # over the SAME sorted-neighborhood blocking as q_er_match, so the
    # two scoring models are directly comparable pair for pair.
    from python_mapreduce_spark.operators.joins import (  # noqa: PLC0415
        fellegi_sunter_weights,
        sorted_neighborhood_pairs,
    )

    docs = table(spark, sf_dir, "documents")
    pairs = sorted_neighborhood_pairs(
        docs, "doc_id", ["lang", "n_chars"], window=2
    )
    return fellegi_sunter_weights(
        pairs, docs, "doc_id", ["lang", "source", "n_chars"], m=0.9
    )


def _sql_fs() -> str:
    clamp = lambda e: f"LEAST(GREATEST({e}, 1e-9), 1.0 - 1e-9)"  # noqa: E731
    u_of = lambda col: clamp(  # noqa: E731
        f"(SELECT SUM(CAST(c AS DOUBLE) * c) / (SUM(CAST(c AS DOUBLE)) * SUM(c))"
        f" FROM (SELECT COUNT(*) AS c FROM documents"
        f" WHERE {col} IS NOT NULL GROUP BY {col}))"
    )
    fields = ["lang", "source", "n_chars"]
    us = {f: u_of(f) for f in fields}
    terms, agrees, comps = [], [], []
    for f in fields:
        a_, b_ = f"ra.{f}", f"rb.{f}"
        present = f"({a_} IS NOT NULL AND {b_} IS NOT NULL)"
        agree = f"({present} AND {a_} = {b_})"
        terms.append(
            f"CASE WHEN {agree} THEN log2(0.9 / u_{f})"
            f" WHEN {present} THEN log2(0.1 / (1.0 - u_{f}))"
            f" ELSE 0.0 END"
        )
        agrees.append(f"CASE WHEN {agree} THEN 1 ELSE 0 END")
        comps.append(f"CASE WHEN {present} THEN 1 ELSE 0 END")
    u_sel = ", ".join(f"{us[f]} AS u_{f}" for f in fields)
    return f"""
WITH u AS (SELECT {u_sel}),
rk AS (
  SELECT doc_id, row_number() OVER (
      ORDER BY lang NULLS FIRST, n_chars NULLS FIRST, doc_id) AS rn
  FROM documents
),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM rk a JOIN rk b ON b.rn > a.rn AND b.rn <= a.rn + 2
)
SELECT id_a, id_b,
       CAST({' + '.join(agrees)} AS INT) AS n_agree,
       CAST({' + '.join(comps)} AS INT) AS n_compared,
       {sql_dround(' + '.join(f'({t})' for t in terms), 6)} AS fs_weight
FROM pairs
JOIN documents ra ON pairs.id_a = ra.doc_id
JOIN documents rb ON pairs.id_b = rb.doc_id
CROSS JOIN u
"""


SQL_FELLEGI_SUNTER = _sql_fs()


def q_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Cramér's V between document language and source (operators/
    # aggregates.py::cramers_v) — the bounded-[0,1] association score
    # that complements q_mutual_info and q_chi2_terms; NULL is its own
    # category (house MI rule), bias-corrected per Bergsma.
    from python_mapreduce_spark.operators.aggregates import cramers_v  # noqa: PLC0415

    return cramers_v(table(spark, sf_dir, "documents"), "lang", "source")


SQL_CRAMERS_V = f"""
WITH joint AS (
  SELECT lang AS a, source AS b, CAST(COUNT(*) AS BIGINT) AS n_ab
  FROM documents GROUP BY lang, source
),
tot AS (SELECT CAST(SUM(n_ab) AS DOUBLE) AS n FROM joint),
shape AS (
  SELECT (SELECT CAST(COUNT(*) AS BIGINT)
          FROM (SELECT a FROM joint GROUP BY a)) AS r,
         (SELECT CAST(COUNT(*) AS BIGINT)
          FROM (SELECT b FROM joint GROUP BY b)) AS c
),
cells AS (
  SELECT n_ab,
         SUM(n_ab) OVER (PARTITION BY a) AS na,
         SUM(n_ab) OVER (PARTITION BY b) AS nb,
         (SELECT n FROM tot) AS n
  FROM joint
),
agg AS (
  -- observed-cell sum + the zero cells' mass via sum(E over all) = n
  SELECT CAST(MAX(n) AS BIGINT) AS n,
         CAST(SUM(CAST({sql_dround('(n_ab - na * nb / n) * (n_ab - na * nb / n) / (na * nb / n)', 6)}
                       AS DECIMAL(38,6))) AS DOUBLE) AS chi2o,
         CAST(SUM(CAST({sql_dround('na * nb / n', 6)} AS DECIMAL(38,6)))
              AS DOUBLE) AS e_obs
  FROM cells
),
s AS (
  SELECT n, r, c, chi2o + (n - e_obs) AS chi2,
         (chi2o + (n - e_obs)) / n AS phi2,
         CAST(LEAST(r, c) AS DOUBLE) AS kmin,
         GREATEST(0.0, (chi2o + (n - e_obs)) / n
                       - (r - 1.0) * (c - 1.0) / (n - 1.0)) AS phi2c,
         LEAST(r - (r - 1.0) * (r - 1.0) / (n - 1.0),
               c - (c - 1.0) * (c - 1.0) / (n - 1.0)) - 1.0 AS kminc
  FROM agg CROSS JOIN shape
)
SELECT n, r, c,
       {sql_dround('chi2', 6)} AS chi2,
       CASE WHEN kmin >= 2 THEN {sql_dround('sqrt(phi2 / (kmin - 1.0))', 6)} END AS v,
       CASE WHEN kmin >= 2 AND n > 1 AND kminc > 0 THEN
         {sql_dround('sqrt(phi2c / kminc)', 6)}
       END AS v_corrected
FROM s
"""


def q_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 10%-trimmed mean order value per priority (operators/
    # aggregates.py::trimmed_mean) — the robust center alongside
    # q_winsorize (which caps) and q_mad_outliers (which flags);
    # integer-cent sums, rank-based exact cut.
    from python_mapreduce_spark.operators.aggregates import trimmed_mean  # noqa: PLC0415

    return trimmed_mean(
        table(spark, sf_dir, "orders"), ["o_orderpriority"], "o_totalprice",
        trim=0.1,
    )


SQL_TRIMMED_MEAN = f"""
WITH base AS (
  SELECT o_orderpriority AS g,
         CAST(floor(o_totalprice * 100.0 + 0.5) AS DECIMAL(19,0)) AS yc
  FROM orders WHERE o_totalprice IS NOT NULL
),
ranked AS (
  SELECT g, yc,
         row_number() OVER (PARTITION BY g ORDER BY yc) AS rn,
         COUNT(*) OVER (PARTITION BY g) AS n
  FROM base
),
agg AS (
  SELECT g AS o_orderpriority,
         CAST(MAX(n) AS BIGINT) AS n,
         CAST(SUM(yc) AS DOUBLE) AS sum_all,
         CAST(COUNT(CASE WHEN rn > floor(n * 0.1)
                          AND rn <= n - floor(n * 0.1) THEN 1 END) AS BIGINT)
           AS n_used,
         CAST(SUM(CASE WHEN rn > floor(n * 0.1)
                        AND rn <= n - floor(n * 0.1) THEN yc END) AS DOUBLE)
           AS sum_kept
  FROM ranked GROUP BY g
)
SELECT o_orderpriority, n, n_used,
       {sql_dround('sum_all / 100.0 / n', 6)} AS mean,
       CASE WHEN n_used > 0 THEN
         {sql_dround('sum_kept / 100.0 / n_used', 6)}
       END AS trimmed_mean
FROM agg
"""


def q_mannwhitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Mann-Whitney U rank-sum test (operators/aggregates.py::
    # mann_whitney_u): click vs purchase event-value distributions —
    # the nonparametric twin of q_welch_ttest over the same corpus the
    # KS test drifts on. No per-row ranks: per-distinct-value counts +
    # ONE distributed running sum give each tie group's average rank in
    # closed form; the oracle replays the identical integer arithmetic
    # with a plain window.
    from python_mapreduce_spark.operators.aggregates import mann_whitney_u  # noqa: PLC0415

    return mann_whitney_u(
        table(spark, sf_dir, "events"), "event_type", "value",
        a="click", b="purchase",
    )


SQL_MANNWHITNEY = f"""
WITH base AS (
  SELECT CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS in_a,
         CAST(floor(CAST(value AS DOUBLE) * 100.0 + 0.5) AS BIGINT) AS yc
  FROM events
  WHERE event_type IN ('click', 'purchase') AND value IS NOT NULL
),
pv AS (
  SELECT yc, CAST(SUM(in_a) AS BIGINT) AS na_v,
         CAST(COUNT(*) AS BIGINT) AS t_v
  FROM base GROUP BY yc
),
cumv AS (
  SELECT 1 AS g, na_v, t_v, SUM(t_v) OVER (ORDER BY yc) AS cum FROM pv
),
agg AS (
  -- doubled rank sum 2*R_a stays integral in DECIMAL(38,0); the tie
  -- term t^3 - t likewise (exact far past BIGINT at corpus scale).
  SELECT CAST(SUM(na_v) AS BIGINT) AS n_a,
         CAST(SUM(t_v) - SUM(na_v) AS BIGINT) AS n_b,
         CAST(SUM(CAST(na_v AS DECIMAL(38,0)) * (2 * (cum - t_v) + t_v + 1))
              AS DOUBLE) AS r2a,
         CAST(SUM(CAST(t_v AS DECIMAL(38,0)) * t_v * t_v - t_v) AS DOUBLE)
           AS ties
  FROM cumv GROUP BY g
),
s AS (
  SELECT n_a, n_b, r2a, ties,
         CAST(n_a AS DOUBLE) AS nad, CAST(n_b AS DOUBLE) AS nbd,
         CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) AS nd
  FROM agg
),
f AS (
  SELECT n_a, n_b, nad, nbd,
         (r2a - nad * (nad + 1.0)) / 2.0 AS u_a,
         nad * nbd - (r2a - nad * (nad + 1.0)) / 2.0 AS u_b,
         nad * nbd / 2.0 AS mu,
         nad * nbd / 12.0 * ((nd + 1.0) - ties / (nd * (nd - 1.0))) AS sigma2
  FROM s
)
SELECT n_a, n_b,
       CASE WHEN n_a > 0 AND n_b > 0 THEN {sql_dround('u_a', 1)} END AS u_a,
       CASE WHEN n_a > 0 AND n_b > 0 THEN {sql_dround('u_b', 1)} END AS u_b,
       CASE WHEN n_a > 0 AND n_b > 0 THEN {sql_dround('mu', 1)} END AS mu_u,
       CASE WHEN n_a > 0 AND n_b > 0 AND n_a + n_b > 1 AND sigma2 > 0 THEN
         {sql_dround('sqrt(sigma2)', 6)}
       END AS sigma_u,
       CASE WHEN n_a > 0 AND n_b > 0 AND n_a + n_b > 1 AND sigma2 > 0 THEN
         {sql_dround('(u_a - mu - 0.5 * sign(u_a - mu)) / sqrt(sigma2)', 6)}
       END AS z
FROM f
"""


def q_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Spearman rank correlation (operators/aggregates.py::
    # spearman_corr): is order value drifting monotonically over time?
    # Rank-based — the heavy price tail that would dominate Pearson
    # (q_corr_matrix) cannot drag it. Ranks come rank-free from two
    # distinct-value running sums; day-grid dates (scale 1.0) tie
    # heavily, so the average-rank path carries real weight.
    from python_mapreduce_spark.operators.aggregates import spearman_corr  # noqa: PLC0415

    o = table(spark, sf_dir, "orders")
    day = F.datediff(
        F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date")
    )
    return spearman_corr(
        o.filter(F.col("o_orderdate").isNotNull()),
        "o_totalprice",
        day,
        y_scale=1.0,
    )


SQL_SPEARMAN = f"""
WITH base AS (
  SELECT CAST(floor(CAST(o_totalprice AS DOUBLE) * 100.0 + 0.5) AS BIGINT) AS x,
         CAST(floor(CAST(date_diff('day', DATE '1970-01-01',
                                   CAST(o_orderdate AS DATE)) AS DOUBLE)
                    * 1.0 + 0.5) AS BIGINT) AS y
  FROM orders
  WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL
),
px AS (SELECT x, CAST(COUNT(*) AS BIGINT) AS t FROM base GROUP BY x),
cx AS (SELECT x, 2 * SUM(t) OVER (ORDER BY x) - t + 1 AS r2x FROM px),
py AS (SELECT y, CAST(COUNT(*) AS BIGINT) AS t FROM base GROUP BY y),
cy AS (SELECT y, 2 * SUM(t) OVER (ORDER BY y) - t + 1 AS r2y FROM py),
r AS (
  SELECT r2x, r2y FROM base JOIN cx USING (x) JOIN cy USING (y)
),
agg AS (
  SELECT 1 AS g, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(r2x AS DECIMAL(38,0))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(r2y AS DECIMAL(38,0))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(r2x AS DECIMAL(38,0)) * r2x) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(r2y AS DECIMAL(38,0)) * r2y) AS DOUBLE) AS syy,
         CAST(SUM(CAST(r2x AS DECIMAL(38,0)) * r2y) AS DOUBLE) AS sxy
  FROM r GROUP BY g
),
f AS (
  SELECT n,
         CASE WHEN n >= 2
               AND CAST(n AS DOUBLE) * sxx - sx * sx > 0
               AND CAST(n AS DOUBLE) * syy - sy * sy > 0 THEN
           (CAST(n AS DOUBLE) * sxy - sx * sy)
           / sqrt((CAST(n AS DOUBLE) * sxx - sx * sx)
                  * (CAST(n AS DOUBLE) * syy - sy * sy))
         END AS rho
  FROM agg
)
SELECT n, {sql_dround('rho', 6)} AS spearman_rho,
       CASE WHEN rho IS NOT NULL AND n > 2 AND abs(rho) < 1.0 THEN
         {sql_dround('rho * sqrt((CAST(n AS DOUBLE) - 2.0) / (1.0 - rho * rho))', 6)}
       END AS t_stat
FROM f
"""


def q_brown_forsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Brown-Forsythe spread test (operators/aggregates.py::
    # brown_forsythe): does order-value DISPERSION differ across the 5
    # priorities? The variance-homogeneity assumption check for
    # q_anova, median-centered so the price tail cannot fake a spread
    # difference. The oracle replays median -> doubled |deviation| ->
    # the exact ANOVA CTE on the transformed grid.
    from python_mapreduce_spark.operators.aggregates import brown_forsythe  # noqa: PLC0415

    return brown_forsythe(
        table(spark, sf_dir, "orders"), "o_orderpriority", "o_totalprice"
    )


_BF_SSW_TERM = (
    "(CAST(sumsq_c AS DOUBLE)"
    " - CAST(sum_c AS DOUBLE) * CAST(sum_c AS DOUBLE) / n_g) / 40000.0"
)


SQL_BROWN_FORSYTHE = f"""
WITH raw AS (
  SELECT o_orderpriority AS g,
         CAST(floor(CAST(o_totalprice AS DOUBLE) * 100.0 + 0.5) AS BIGINT)
           AS yc
  FROM orders
  WHERE o_orderpriority IS NOT NULL AND o_totalprice IS NOT NULL
),
med AS (SELECT g, median(yc) AS med FROM raw GROUP BY g),
-- doubled |deviation from group median|: exact HALF-CENT integers
-- (median of longs is an integer or .5 midpoint, IEEE-exact either
-- way); SSW terms convert to DOLLAR^2 (/200^2) before the quantized
-- cross-group sum so dround's floor stays inside Spark's long range
z AS (
  SELECT raw.g,
         CAST(abs(CAST(yc AS DOUBLE) * 2.0 - med * 2.0)
              AS DECIMAL(19,0)) AS zc
  FROM raw JOIN med USING (g)
),
pg AS (
  SELECT g, COUNT(*) AS n_g, SUM(zc) AS sum_c,
         SUM(CAST(zc * zc AS DECIMAL(38,0))) AS sumsq_c
  FROM z GROUP BY g
),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k_groups,
         CAST(SUM(n_g) AS BIGINT) AS n,
         CAST(SUM(sum_c) AS DOUBLE) AS s,
         CAST(SUM(sumsq_c) AS DOUBLE) AS ss,
         CAST(SUM(CAST({sql_dround(_BF_SSW_TERM, 2)} AS DECIMAL(38,2)))
              AS DOUBLE) AS ssw
  FROM pg
)
SELECT k_groups, n,
       CASE WHEN k_groups >= 2 THEN k_groups - 1 END AS df1,
       CASE WHEN n > k_groups THEN n - k_groups END AS df2,
       CASE WHEN k_groups >= 2 AND n > k_groups AND ssw > 0 THEN
         {sql_dround(
             '(((ss - s * s / n) / 40000.0 - ssw) / (k_groups - 1))'
             ' / (ssw / (n - k_groups))', 6)}
       END AS f_stat
FROM tot
"""


def q_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Jarque-Bera normality per event type (operators/aggregates.py::
    # jarque_bera): are per-type event values Gaussian? Closes the
    # distribution-test family (KS shift / MW location / BF spread /
    # JB shape). Bounded event values keep the exact 4th-power DECIMAL
    # sums far inside the documented overflow envelope.
    from python_mapreduce_spark.operators.aggregates import jarque_bera  # noqa: PLC0415

    return jarque_bera(table(spark, sf_dir, "events"), "event_type", "value")


SQL_JARQUE_BERA = f"""
WITH base AS (
  SELECT event_type AS g,
         CAST(floor(CAST(value AS DOUBLE) * 100.0 + 0.5) AS DECIMAL(19,0))
           AS yc
  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL
),
agg AS (
  SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(yc) AS DOUBLE) AS s1,
         CAST(SUM(CAST(yc * yc AS DECIMAL(38,0))) AS DOUBLE) AS s2,
         CAST(SUM(CAST(yc * yc * yc AS DECIMAL(38,0))) AS DOUBLE) AS s3,
         CAST(SUM(CAST(yc * yc * yc * yc AS DECIMAL(38,0))) AS DOUBLE) AS s4
  FROM base GROUP BY g
),
m AS (
  SELECT g, n, s1 / CAST(n AS DOUBLE) AS m1,
         s2 / CAST(n AS DOUBLE) AS r2,
         s3 / CAST(n AS DOUBLE) AS r3,
         s4 / CAST(n AS DOUBLE) AS r4
  FROM agg
),
c AS (
  SELECT g, n, m1,
         r2 - m1 * m1 AS m2,
         r3 - 3.0 * m1 * r2 + 2.0 * m1 * m1 * m1 AS m3,
         r4 - 4.0 * m1 * r3 + 6.0 * m1 * m1 * r2
            - 3.0 * m1 * m1 * m1 * m1 AS m4
  FROM m
),
s AS (
  SELECT g, n, m1, m2,
         CASE WHEN n >= 2 AND m2 > 0 THEN m3 / sqrt(m2 * m2 * m2) END AS sk,
         CASE WHEN n >= 2 AND m2 > 0 THEN m4 / (m2 * m2) - 3.0 END AS ke
  FROM c
)
SELECT g, n,
       {sql_dround('m1 / 100.0', 6)} AS mean,
       CASE WHEN n >= 2 AND m2 > 0 THEN {sql_dround('sqrt(m2) / 100.0', 6)}
       END AS stddev,
       {sql_dround('sk', 6)} AS skewness,
       {sql_dround('ke', 6)} AS kurt_excess,
       CASE WHEN sk IS NOT NULL THEN
         {sql_dround('CAST(n AS DOUBLE) / 6.0 * (sk * sk + ke * ke / 4.0)', 6)}
       END AS jb
FROM s
"""


def q_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Seasonal-naive forecast backtest (operators/windows.py::
    # forecast_backtest): score the year-over-year monthly-revenue
    # forecast per order priority against actuals — MAE/bias/RMSE/
    # WAPE/sMAPE and MASE vs the 1-month naive. The forecast is an
    # INDEX self-join (p - 12), not a positional lag, so series gaps
    # yield NULL forecasts instead of misaligned comparisons.
    from python_mapreduce_spark.operators.windows import forecast_backtest  # noqa: PLC0415

    o = table(spark, sf_dir, "orders")
    period = F.year("o_orderdate") * F.lit(12) + F.month("o_orderdate")
    return forecast_backtest(
        o, ["o_orderpriority"], period, "o_totalprice",
        horizon=12, baseline_lag=1,
    )


SQL_FORECAST_BACKTEST = f"""
WITH series AS (
  SELECT o_orderpriority AS g,
         CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS p,
         CAST(SUM(CAST(floor(CAST(o_totalprice AS DOUBLE) * 100.0 + 0.5)
                       AS BIGINT)) AS BIGINT) AS a
  FROM orders
  WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL
  GROUP BY 1, 2
),
j AS (
  SELECT s.g, s.p, s.a, f.a AS f, b.a AS b
  FROM series s
  LEFT JOIN series f ON f.g = s.g AND f.p = s.p - 12
  LEFT JOIN series b ON b.g = s.g AND b.p = s.p - 1
),
agg AS (
  SELECT g,
         CAST(COUNT(*) AS BIGINT) AS n_periods,
         CAST(COUNT(CASE WHEN f IS NOT NULL THEN 1 END) AS BIGINT) AS n_eval,
         CAST(SUM(CAST(CASE WHEN f IS NOT NULL THEN abs(a - f) END
                       AS DECIMAL(38,0))) AS DOUBLE) AS sae,
         CAST(SUM(CAST(CASE WHEN f IS NOT NULL THEN a - f END
                       AS DECIMAL(38,0))) AS DOUBLE) AS se,
         CAST(SUM(CASE WHEN f IS NOT NULL THEN
                    CAST(CAST(a - f AS DECIMAL(19,0)) * (a - f)
                         AS DECIMAL(38,0)) END) AS DOUBLE) AS see,
         CAST(SUM(CAST(CASE WHEN f IS NOT NULL THEN abs(a) END
                       AS DECIMAL(38,0))) AS DOUBLE) AS saa,
         CAST(SUM(CAST(CASE WHEN f IS NOT NULL THEN
                    CASE WHEN abs(CAST(a AS DOUBLE)) + abs(CAST(f AS DOUBLE)) > 0
                         THEN {sql_dround(
                             '2.0 * abs(CAST(a AS DOUBLE) - CAST(f AS DOUBLE))'
                             ' / (abs(CAST(a AS DOUBLE)) + abs(CAST(f AS DOUBLE)))',
                             8)}
                         ELSE 0.0 END
                  END AS DECIMAL(38,8))) AS DOUBLE) AS ssm,
         CAST(COUNT(CASE WHEN b IS NOT NULL THEN 1 END) AS BIGINT) AS nb,
         CAST(SUM(CAST(CASE WHEN b IS NOT NULL THEN abs(a - b) END
                       AS DECIMAL(38,0))) AS DOUBLE) AS sab
  FROM j GROUP BY g
)
SELECT g AS o_orderpriority, n_periods, n_eval,
       CASE WHEN n_eval > 0 THEN
         {sql_dround('sae / CAST(n_eval AS DOUBLE) / 100.0', 6)}
       END AS mae,
       CASE WHEN n_eval > 0 THEN
         {sql_dround('se / CAST(n_eval AS DOUBLE) / 100.0', 6)}
       END AS bias,
       CASE WHEN n_eval > 0 THEN
         {sql_dround('sqrt(see / CAST(n_eval AS DOUBLE)) / 100.0', 6)}
       END AS rmse,
       CASE WHEN n_eval > 0 AND saa > 0 THEN
         {sql_dround('sae / saa', 6)}
       END AS wape,
       CASE WHEN n_eval > 0 THEN
         {sql_dround('ssm / CAST(n_eval AS DOUBLE)', 6)}
       END AS smape,
       CASE WHEN n_eval > 0 AND nb > 0 AND sab > 0 THEN
         {sql_dround(
             '(sae / CAST(n_eval AS DOUBLE) / 100.0)'
             ' / (sab / CAST(nb AS DOUBLE) / 100.0)', 6)}
       END AS mase
FROM agg
"""


def q_market_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Revenue concentration per region (operators/aggregates.py::
    # concentration_report): HHI / normalized HHI / effective-N / CR4
    # of nation revenue shares — the head-weighted companion to
    # q_gini_domains, over the orders->customer->nation->region join
    # chain (dims broadcast; the one real shuffle is orders-customer).
    from python_mapreduce_spark.operators.aggregates import concentration_report  # noqa: PLC0415

    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    joined = (
        o.join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return concentration_report(joined, ["r_name"], "n_name", "o_totalprice")


SQL_MARKET_CONCENTRATION = f"""
WITH base AS (
  SELECT r_name,
         n_name AS p,
         CAST(floor(CAST(o_totalprice AS DOUBLE) * 100.0 + 0.5) AS BIGINT)
           AS wc
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE n_name IS NOT NULL AND o_totalprice IS NOT NULL
),
per AS (
  SELECT r_name, p, CAST(SUM(wc) AS BIGINT) AS w
  FROM base GROUP BY r_name, p
),
ranked AS (
  SELECT r_name, p, w,
         row_number() OVER (PARTITION BY r_name ORDER BY w DESC, p ASC)
           AS rn
  FROM per
),
agg AS (
  SELECT r_name,
         CAST(COUNT(*) AS BIGINT) AS n_players,
         CAST(SUM(w) AS DOUBLE) AS tot,
         CAST(SUM(CAST(w AS DECIMAL(38,0)) * w) AS DOUBLE) AS sq,
         CAST(SUM(CASE WHEN rn <= 4 THEN w END) AS DOUBLE) AS topk
  FROM ranked GROUP BY r_name
)
SELECT r_name, n_players,
       {sql_dround('tot / 100.0', 2)} AS total,
       CASE WHEN tot > 0 THEN {sql_dround('sq / (tot * tot)', 6)} END AS hhi,
       CASE WHEN tot > 0 AND n_players > 1 THEN
         {sql_dround(
             '(sq / (tot * tot) - 1.0 / CAST(n_players AS DOUBLE))'
             ' / (1.0 - 1.0 / CAST(n_players AS DOUBLE))', 6)}
       END AS hhi_norm,
       CASE WHEN tot > 0 THEN
         {sql_dround('1.0 / (sq / (tot * tot))', 6)}
       END AS effective_n,
       CASE WHEN tot > 0 THEN {sql_dround('topk / tot', 6)} END AS cr4
FROM agg
"""


def q_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ACF of daily order revenue at lags 1..7 (operators/windows.py::
    # autocorrelation): the seasonality diagnostic for the forecast
    # family — pairing is one exploded equi-join on (day + lag) over
    # the day-rolled frame, never a range join or window.
    from python_mapreduce_spark.operators.windows import autocorrelation  # noqa: PLC0415

    o = table(spark, sf_dir, "orders")
    day = F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date"))
    return autocorrelation(o, day, "o_totalprice", max_lag=7)


SQL_AUTOCORR = f"""
WITH series AS (
  SELECT CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
              AS BIGINT) AS p,
         CAST(SUM(CAST(floor(CAST(o_totalprice AS DOUBLE) * 100.0 + 0.5)
                       AS BIGINT)) AS BIGINT) AS y
  FROM orders
  WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL
  GROUP BY 1
),
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS DOUBLE) AS s
  FROM series
),
centered AS (
  SELECT p, CAST(y AS DOUBLE) - s / CAST(n AS DOUBLE) AS d, n
  FROM series CROSS JOIN stats
),
den AS (
  SELECT MAX(n) AS n,
         CAST(SUM(CAST({sql_dround('d * d / 10000.0', 2)} AS DECIMAL(38,2)))
              AS DOUBLE) AS den
  FROM centered
),
probes AS (
  SELECT c.d AS d1, c.p, l.lag, c.p + l.lag AS p2
  FROM centered c
  CROSS JOIN (SELECT unnest(range(1, 8)) AS lag) l
),
paired AS (
  SELECT pr.lag, pr.d1, c2.d AS d2
  FROM probes pr JOIN centered c2 ON c2.p = pr.p2
),
nums AS (
  SELECT lag, CAST(COUNT(*) AS BIGINT) AS n_pairs,
         CAST(SUM(CAST({sql_dround('d1 * d2 / 10000.0', 2)} AS DECIMAL(38,2)))
              AS DOUBLE) AS num
  FROM paired GROUP BY lag
)
SELECT CAST(nums.lag AS BIGINT) AS lag, n_pairs,
       CASE WHEN den.n >= 2 AND den.den > 0 THEN
         {sql_dround('num / den.den', 6)}
       END AS acf
FROM nums CROSS JOIN den
"""


def q_bh_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Benjamini-Hochberg FDR over per-source language-share screens
    # (operators/aggregates.py::bh_fdr): each source's English share is
    # z-tested against the corpus rate, p-values come from the erf-free
    # Lin tail approximation QUANTIZED to 1e-8 on both engines, and the
    # step-up cutoff rejects with FDR <= 0.05 — the multiple-testing
    # guard for any per-segment test fan-out. NULL sources are excluded
    # (NULL rank tiebreaks order differently across engines).
    from python_mapreduce_spark.functions.scalar import dround, normal_sf_approx  # noqa: PLC0415
    from python_mapreduce_spark.operators.aggregates import bh_fdr  # noqa: PLC0415

    d = table(spark, sf_dir, "documents").filter(F.col("source").isNotNull())
    per = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_s"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
        .cast("long")
        .alias("k_s"),
    )
    tot = per.agg(
        F.sum("n_s").cast("double").alias("__n"),
        F.sum("k_s").cast("double").alias("__k"),
    )
    w = per.crossJoin(F.broadcast(tot))
    p0 = F.col("__k") / F.col("__n")
    nsd = F.col("n_s").cast("double")
    z = F.when(
        (F.col("n_s") > 0) & (F.col("__k") > 0) & (F.col("__k") < F.col("__n")),
        (F.col("k_s").cast("double") / nsd - p0)
        / F.sqrt(p0 * (F.lit(1.0) - p0) / nsd),
    )
    pv = dround(
        F.when(
            z.isNotNull(),
            F.least(
                F.lit(1.0), F.lit(2.0) * normal_sf_approx(F.abs(z))
            ),
        ),
        8,
    )
    hyp = w.select("source", pv.alias("pv"))
    return bh_fdr(hyp, ["source"], "pv", alpha=0.05)


SQL_BH_FDR = f"""
WITH docs AS (
  SELECT source, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_en
  FROM documents WHERE source IS NOT NULL
),
per AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_s,
         CAST(SUM(is_en) AS BIGINT) AS k_s
  FROM docs GROUP BY source
),
tot AS (
  SELECT CAST(SUM(n_s) AS DOUBLE) AS n, CAST(SUM(k_s) AS DOUBLE) AS k
  FROM per
),
zt AS (
  SELECT source,
         CASE WHEN n_s > 0 AND k > 0 AND k < n THEN
           (CAST(k_s AS DOUBLE) / CAST(n_s AS DOUBLE) - k / n)
           / sqrt((k / n) * (1.0 - k / n) / CAST(n_s AS DOUBLE))
         END AS z
  FROM per CROSS JOIN tot
),
p AS (
  SELECT source,
         CASE WHEN z IS NOT NULL THEN
           {sql_dround('least(1.0, 2.0 * ' + sql_normal_sf_approx('abs(z)') + ')', 8)}
         END AS pv
  FROM zt
),
ranked AS (
  SELECT source, pv,
         row_number() OVER (ORDER BY pv, source) AS p_rank,
         COUNT(*) OVER () AS m
  FROM p WHERE pv IS NOT NULL
),
flagged AS (
  SELECT source, pv, p_rank, m,
         CAST(p_rank AS DOUBLE) * 0.05 / CAST(m AS DOUBLE) AS crit,
         pv <= CAST(p_rank AS DOUBLE) * 0.05 / CAST(m AS DOUBLE) AS flag
  FROM ranked
),
kstar AS (
  SELECT coalesce(MAX(CASE WHEN flag THEN p_rank END), 0) AS ks
  FROM flagged
)
SELECT source, pv AS p_value, CAST(p_rank AS BIGINT) AS p_rank,
       CAST(m AS BIGINT) AS m,
       {sql_dround('crit', 8)} AS bh_critical,
       p_rank <= ks AS rejected
FROM flagged CROSS JOIN kstar
"""


def q_partial_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Partial correlation (operators/aggregates.py::
    # partial_correlation): is quantity still related to extended
    # price once the discount is held fixed? The confounder-control
    # step after q_corr_matrix profiling, from one 9-sum global agg.
    from python_mapreduce_spark.operators.aggregates import partial_correlation  # noqa: PLC0415

    return partial_correlation(
        table(spark, sf_dir, "lineitem"),
        "l_quantity",
        "l_extendedprice",
        "l_discount",
    )


_PC_R = {
    pair: (
        f"CASE WHEN n >= 2 AND CAST(n AS DOUBLE) * s{a}{a} - s{a} * s{a} > 0"
        f" AND CAST(n AS DOUBLE) * s{b}{b} - s{b} * s{b} > 0 THEN"
        f" (CAST(n AS DOUBLE) * s{a}{b} - s{a} * s{b})"
        f" / sqrt((CAST(n AS DOUBLE) * s{a}{a} - s{a} * s{a})"
        f" * (CAST(n AS DOUBLE) * s{b}{b} - s{b} * s{b})) END"
    )
    for pair, (a, b) in {
        "rxy": ("x", "y"),
        "rxz": ("x", "z"),
        "ryz": ("y", "z"),
    }.items()
}


SQL_PARTIAL_CORR = f"""
WITH complete AS (
  SELECT {sql_dround('CAST(l_quantity AS DOUBLE)', 4)} AS x,
         {sql_dround('CAST(l_extendedprice AS DOUBLE)', 4)} AS y,
         {sql_dround('CAST(l_discount AS DOUBLE)', 4)} AS z
  FROM lineitem
  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
    AND l_discount IS NOT NULL
),
wide AS (
  SELECT 1 AS g, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(x AS DECIMAL(38,8))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(y AS DECIMAL(38,8))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(z AS DECIMAL(38,8))) AS DOUBLE) AS sz,
         CAST(SUM(CAST({sql_dround('x * y', 8)} AS DECIMAL(38,8))) AS DOUBLE) AS sxy,
         CAST(SUM(CAST({sql_dround('x * z', 8)} AS DECIMAL(38,8))) AS DOUBLE) AS sxz,
         CAST(SUM(CAST({sql_dround('y * z', 8)} AS DECIMAL(38,8))) AS DOUBLE) AS syz,
         CAST(SUM(CAST({sql_dround('x * x', 8)} AS DECIMAL(38,8))) AS DOUBLE) AS sxx,
         CAST(SUM(CAST({sql_dround('y * y', 8)} AS DECIMAL(38,8))) AS DOUBLE) AS syy,
         CAST(SUM(CAST({sql_dround('z * z', 8)} AS DECIMAL(38,8))) AS DOUBLE) AS szz
  FROM complete GROUP BY g
),
r AS (
  SELECT n,
         {_PC_R['rxy']} AS rxy,
         {_PC_R['rxz']} AS rxz,
         {_PC_R['ryz']} AS ryz
  FROM wide
),
p AS (
  SELECT n, rxy, rxz, ryz,
         CASE WHEN rxy IS NOT NULL AND rxz IS NOT NULL AND ryz IS NOT NULL
               AND (1.0 - rxz * rxz) * (1.0 - ryz * ryz) > 0 THEN
           (rxy - rxz * ryz)
           / sqrt((1.0 - rxz * rxz) * (1.0 - ryz * ryz))
         END AS pr
  FROM r
)
SELECT n,
       {sql_dround('rxy', 6)} AS r_xy,
       {sql_dround('rxz', 6)} AS r_xz,
       {sql_dround('ryz', 6)} AS r_yz,
       {sql_dround('pr', 6)} AS partial_r,
       CASE WHEN pr IS NOT NULL AND n > 3 AND abs(pr) < 1.0 THEN
         {sql_dround(
             'pr * sqrt((CAST(n AS DOUBLE) - 3.0) / (1.0 - pr * pr))', 6)}
       END AS t_stat
FROM p
"""


def q_ols_influence(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Regression influence audit (operators/aggregates.py::
    # ols_influence): which months are WRITING each priority's monthly
    # revenue trend line? Cook's D > 4/n over the per-priority OLS of
    # monthly revenue (rescaled to $M and a rebased month index — the
    # dround-8 long-floor envelope) — the data-quality check a fitted
    # slope (q_group_ols) should ship with.
    from python_mapreduce_spark.operators.aggregates import ols_influence  # noqa: PLC0415

    o = table(spark, sf_dir, "orders")
    cents = F.floor(
        F.col("o_totalprice").cast("double") * F.lit(100.0) + F.lit(0.5)
    ).cast("long")
    series = (
        o.filter(
            F.col("o_orderdate").isNotNull() & F.col("o_totalprice").isNotNull()
        )
        .groupBy(
            "o_orderpriority",
            (
                (F.year("o_orderdate") - F.lit(1995)) * F.lit(12)
                + F.month("o_orderdate")
            )
            .cast("long")
            .alias("midx"),
        )
        .agg((F.sum(cents).cast("double") / F.lit(1e8)).alias("ym"))
    )
    return ols_influence(series, ["o_orderpriority"], "midx", "midx", "ym")


SQL_OLS_INFLUENCE = f"""
WITH series AS (
  SELECT o_orderpriority AS g,
         CAST((year(o_orderdate) - 1995) * 12 + month(o_orderdate)
              AS BIGINT) AS midx,
         CAST(SUM(CAST(floor(CAST(o_totalprice AS DOUBLE) * 100.0 + 0.5)
                       AS BIGINT)) AS DOUBLE) / 100000000.0 AS ym
  FROM orders
  WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL
  GROUP BY 1, 2
),
base AS (
  SELECT g, midx AS id,
         {sql_dround('CAST(midx AS DOUBLE)', 4)} AS x,
         {sql_dround('ym', 4)} AS y
  FROM series
),
stats AS (
  SELECT g AS sg, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(x AS DECIMAL(38,8))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(y AS DECIMAL(38,8))) AS DOUBLE) AS sy,
         CAST(SUM(CAST({sql_dround('x * y', 8)} AS DECIMAL(38,8)))
              AS DOUBLE) AS sxy,
         CAST(SUM(CAST({sql_dround('x * x', 8)} AS DECIMAL(38,8)))
              AS DOUBLE) AS sxx,
         CAST(SUM(CAST({sql_dround('y * y', 8)} AS DECIMAL(38,8)))
              AS DOUBLE) AS syy
  FROM base GROUP BY g
),
fit AS (
  SELECT sg, n, sx, sy, sxy, sxx, syy,
         sxx - sx * sx / CAST(n AS DOUBLE) AS sxxc,
         (sxy - sx * sy / CAST(n AS DOUBLE))
           / (sxx - sx * sx / CAST(n AS DOUBLE)) AS slope
  FROM stats
),
fit2 AS (
  SELECT *, (sy - slope * sx) / CAST(n AS DOUBLE) AS icpt FROM fit
),
fit3 AS (
  SELECT *,
         (syy - icpt * sy - slope * sxy) / (CAST(n AS DOUBLE) - 2.0) AS mse
  FROM fit2
),
perrow AS (
  SELECT b.g, b.id, b.x, b.y, f.n, f.sxxc, f.mse,
         1.0 / CAST(f.n AS DOUBLE)
           + (b.x - f.sx / CAST(f.n AS DOUBLE))
           * (b.x - f.sx / CAST(f.n AS DOUBLE)) / f.sxxc AS h,
         b.y - (f.icpt + f.slope * b.x) AS e
  FROM base b JOIN fit3 f ON b.g = f.sg
),
calc AS (
  SELECT g, id, x, y, n, sxxc, mse, h,
         e / sqrt(mse * (1.0 - h)) AS sr
  FROM perrow
),
flagged AS (
  SELECT g, id, x, y, n, sxxc, mse, h, sr,
         sr * sr / 2.0 * (h / (1.0 - h)) AS cooks
  FROM calc
)
SELECT g AS o_orderpriority, id, x, y,
       {sql_dround('h', 6)} AS leverage,
       {sql_dround('sr', 6)} AS std_resid,
       {sql_dround('cooks', 6)} AS cooks_d
FROM flagged
WHERE n > 2 AND sxxc > 0 AND mse > 0 AND h < 1.0
  AND cooks > 4.0 / CAST(n AS DOUBLE)
"""


def q_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    # t-closeness release gate (operators/aggregates.py::
    # t_closeness_audit), completing the privacy family after
    # q_k_anonymity (size) and q_l_diversity (distinct values): within
    # each (priority, order-year) cell, does the ORDER-STATUS
    # distribution stay within TVD 0.05 of the table's? NULL-safe
    # joins keep NULL buckets/categories in the distribution.
    from python_mapreduce_spark.operators.aggregates import t_closeness_audit  # noqa: PLC0415

    o = table(spark, sf_dir, "orders").withColumn(
        "o_year", F.year("o_orderdate").cast("long")
    )
    return t_closeness_audit(
        o, ["o_orderpriority", "o_year"], "o_orderstatus", t=0.05
    )


_TC_P = "abs(CAST(nc AS DOUBLE) / CAST(n AS DOUBLE) - CAST(ng AS DOUBLE) / CAST(ntot AS DOUBLE))"


SQL_T_CLOSENESS = f"""
WITH cell AS (
  SELECT o_orderpriority AS q1, CAST(year(o_orderdate) AS BIGINT) AS q2,
         o_orderstatus AS s, CAST(COUNT(*) AS BIGINT) AS nc
  FROM orders GROUP BY 1, 2, 3
),
gdist AS (SELECT s, CAST(SUM(nc) AS BIGINT) AS ng FROM cell GROUP BY s),
tot AS (SELECT CAST(SUM(ng) AS BIGINT) AS ntot FROM gdist),
gsize AS (
  SELECT q1, q2, CAST(SUM(nc) AS BIGINT) AS n FROM cell GROUP BY 1, 2
),
j AS (
  SELECT c.q1, c.q2, c.nc, g.ng, t.ntot, z.n
  FROM cell c
  JOIN gdist g ON c.s IS NOT DISTINCT FROM g.s
  CROSS JOIN tot t
  JOIN gsize z ON c.q1 IS NOT DISTINCT FROM z.q1
              AND c.q2 IS NOT DISTINCT FROM z.q2
),
pg AS (
  SELECT q1, q2, MAX(n) AS n,
         CAST(SUM(CAST({sql_dround(_TC_P, 8)} AS DECIMAL(38,8)))
              AS DOUBLE) AS s1,
         CAST(SUM(CAST({sql_dround(
             'CAST(ng AS DOUBLE) / CAST(ntot AS DOUBLE)', 8)}
              AS DECIMAL(38,8))) AS DOUBLE) AS sq
  FROM j GROUP BY 1, 2
),
f AS (
  SELECT 1 AS g, n, 0.5 * (s1 + (1.0 - sq)) AS tvd FROM pg
),
agg AS (
  SELECT CAST(SUM(n) AS BIGINT) AS n_rows,
         CAST(COUNT(*) AS BIGINT) AS n_groups,
         MAX(tvd) AS max_tvd,
         CAST(SUM(CASE WHEN tvd > 0.05 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_groups_above_t,
         CAST(SUM(CASE WHEN tvd > 0.05 THEN n ELSE 0 END) AS BIGINT)
           AS n_rows_above_t
  FROM f GROUP BY g
)
SELECT n_rows, n_groups,
       {sql_dround('max_tvd', 6)} AS max_tvd,
       n_groups_above_t, n_rows_above_t,
       {sql_dround('n_rows_above_t / CAST(n_rows AS DOUBLE)', 6)}
         AS rows_above_t_share,
       n_groups_above_t = 0 AS t_close
FROM agg
"""


def q_theil(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Theil T inequality with within/between decomposition (operators/
    # aggregates.py::theil_decomposition): is order-value inequality
    # driven inside priorities or between their means? The decomposable
    # companion to q_gini_domains — Gini cannot split these.
    from python_mapreduce_spark.operators.aggregates import theil_decomposition  # noqa: PLC0415

    return theil_decomposition(
        table(spark, sf_dir, "orders"), "o_orderpriority", "o_totalprice"
    )


SQL_THEIL = f"""
WITH labeled AS (
  SELECT o_orderpriority AS grp,
         CAST(floor(CAST(o_totalprice AS DOUBLE) * 100.0 + 0.5) AS BIGINT)
           AS yc
  FROM orders WHERE o_totalprice IS NOT NULL
),
base AS (SELECT * FROM labeled WHERE yc > 0),
nx AS (
  SELECT 1 AS g, CAST(COUNT(*) AS BIGINT) AS nx
  FROM labeled WHERE yc <= 0 GROUP BY 1
),
gstat AS (
  SELECT grp, CAST(COUNT(*) AS BIGINT) AS ng,
         CAST(SUM(CAST(yc AS DECIMAL(38,0))) AS DOUBLE) AS sg
  FROM base GROUP BY grp
),
tstat AS (
  SELECT CAST(SUM(ng) AS BIGINT) AS n,
         CAST(SUM(CAST(sg AS DECIMAL(38,2))) AS DOUBLE) AS s
  FROM gstat
),
rws AS (
  SELECT b.grp, b.yc, g.ng, g.sg, t.n, t.s
  FROM base b
  JOIN gstat g ON b.grp IS NOT DISTINCT FROM g.grp
  CROSS JOIN tstat t
),
pg AS (
  SELECT grp, MAX(ng) AS ng, MAX(sg) AS sg, MAX(n) AS n, MAX(s) AS s,
         CAST(SUM(CAST({sql_dround(
             '(CAST(yc AS DOUBLE) / (s / CAST(n AS DOUBLE)))'
             ' * ln(CAST(yc AS DOUBLE) / (s / CAST(n AS DOUBLE)))', 8)}
                       AS DECIMAL(38,8))) AS DOUBLE) AS tt,
         CAST(SUM(CAST({sql_dround(
             '(CAST(yc AS DOUBLE) / (sg / CAST(ng AS DOUBLE)))'
             ' * ln(CAST(yc AS DOUBLE) / (sg / CAST(ng AS DOUBLE)))', 8)}
                       AS DECIMAL(38,8))) AS DOUBLE) AS tg
  FROM rws GROUP BY grp
),
fin AS (
  SELECT 1 AS g, MAX(n) AS n, CAST(COUNT(*) AS BIGINT) AS n_groups,
         CAST(SUM(CAST({sql_dround('tt / CAST(n AS DOUBLE)', 8)}
                       AS DECIMAL(38,8))) AS DOUBLE) AS total,
         CAST(SUM(CAST({sql_dround(
             '(sg / s) * (tg / CAST(ng AS DOUBLE))', 8)}
                       AS DECIMAL(38,8))) AS DOUBLE) AS within,
         CAST(SUM(CAST({sql_dround(
             '(sg / s) * ln((sg / CAST(ng AS DOUBLE))'
             ' / (s / CAST(n AS DOUBLE)))', 8)}
                       AS DECIMAL(38,8))) AS DOUBLE) AS between_
  FROM pg GROUP BY g
)
SELECT n, CAST(coalesce(nx.nx, 0) AS BIGINT) AS n_excluded, n_groups,
       {sql_dround('total', 6)} AS theil_total,
       {sql_dround('within', 6)} AS theil_within,
       {sql_dround('between_', 6)} AS theil_between,
       CASE WHEN total > 1e-12 THEN {sql_dround('between_ / total', 6)}
       END AS between_share
FROM fin LEFT JOIN nx USING (g)
"""


def q_nelson_aalen(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Nelson-Aalen cumulative churn hazard (operators/events.py::
    # nelson_aalen) over the same per-user lifetimes as
    # q_survival_curve — the additive companion curve (plus its
    # Poisson variance and the Breslow exp(-H) cross-check against
    # KM). Hazard/variance increments ride 1e-8/1e-12 integer ladders
    # through one multi-weight distributed running sum.
    from python_mapreduce_spark.operators.events import nelson_aalen  # noqa: PLC0415

    ev = table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    per_user = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("fd"), F.max(F.to_date("ts")).alias("ld")
    )
    obs = per_user.select(
        F.datediff("ld", "fd").cast("double").alias("dur"),
        (F.col("ld") < F.to_date(F.lit("2024-01-25"))).alias("churned"),
    )
    return nelson_aalen(obs, "dur", "churned")


SQL_NELSON_AALEN = f"""
WITH pu AS (
  SELECT user_id, min(CAST(ts AS DATE)) AS fd, max(CAST(ts AS DATE)) AS ld
  FROM events WHERE user_id IS NOT NULL GROUP BY user_id
),
obs AS (
  -- ld IS NOT NULL mirrors the operator's isNotNull duration/flag
  -- filters (ADVICE r7): a user whose every ts is NULL must not
  -- inflate ntot or emit a NULL-duration row on the oracle side only
  SELECT CAST(ld - fd AS DOUBLE) AS t,
         CASE WHEN ld < DATE '2024-01-25' THEN 1 ELSE 0 END AS e
  FROM pu WHERE ld IS NOT NULL
),
counts AS (
  SELECT t, CAST(sum(e) AS BIGINT) AS d, CAST(sum(1 - e) AS BIGINT) AS c
  FROM obs GROUP BY t
),
cum AS (SELECT *, sum(d + c) OVER (ORDER BY t) AS cumdc FROM counts),
tot AS (SELECT CAST(sum(d + c) AS BIGINT) AS ntot FROM counts),
r AS (
  SELECT t, d, c, ntot - (cumdc - d - c) AS nrisk
  FROM cum CROSS JOIN tot
),
term AS (
  SELECT *,
         CAST(floor(CAST(d AS DOUBLE) / CAST(nrisk AS DOUBLE)
                    * 100000000.0 + 0.5) AS BIGINT) AS h8,
         CAST(floor(CAST(d AS DOUBLE)
                    / (CAST(nrisk AS DOUBLE) * CAST(nrisk AS DOUBLE))
                    * 1000000000000.0 + 0.5) AS BIGINT) AS v12
  FROM r
),
s AS (
  SELECT *, sum(h8) OVER (ORDER BY t) AS ch8,
         sum(v12) OVER (ORDER BY t) AS cv12
  FROM term
)
SELECT t AS duration, CAST(nrisk AS BIGINT) AS n_risk, d AS n_events,
       c AS n_censored,
       {sql_dround('CAST(ch8 AS DOUBLE) / 100000000.0', 6)} AS cum_hazard,
       {sql_dround('CAST(cv12 AS DOUBLE) / 1000000000000.0', 8)} AS hazard_var,
       {sql_dround('exp(-(CAST(ch8 AS DOUBLE) / 100000000.0))', 6)}
         AS na_survival
FROM s
"""


def q_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Kruskal-Wallis rank test (operators/aggregates.py::
    # kruskal_wallis): q_anova's nonparametric twin on the identical
    # framing (order value by priority) — rank evidence instead of
    # variance ratios, tie-corrected; the same rank-free
    # distinct-value running-sum skeleton as q_mannwhitney.
    from python_mapreduce_spark.operators.aggregates import kruskal_wallis  # noqa: PLC0415

    return kruskal_wallis(
        table(spark, sf_dir, "orders"), "o_orderpriority", "o_totalprice"
    )


SQL_KRUSKAL_WALLIS = f"""
WITH base AS (
  SELECT o_orderpriority AS grp,
         CAST(floor(CAST(o_totalprice AS DOUBLE) * 100.0 + 0.5) AS BIGINT)
           AS yc
  FROM orders
  WHERE o_orderpriority IS NOT NULL AND o_totalprice IS NOT NULL
),
pv AS (SELECT yc, CAST(COUNT(*) AS BIGINT) AS t FROM base GROUP BY yc),
cumv AS (SELECT yc, t, SUM(t) OVER (ORDER BY yc) AS cum FROM pv),
r2v AS (SELECT yc, 2 * cum - t + 1 AS r2v FROM cumv),
tiesq AS (
  SELECT 1 AS g,
         CAST(SUM(CAST(t AS DECIMAL(38,0)) * t * t - t) AS DOUBLE) AS ties
  FROM cumv GROUP BY g
),
gv AS (
  SELECT grp, yc, CAST(COUNT(*) AS BIGINT) AS ngv FROM base GROUP BY 1, 2
),
pg AS (
  SELECT grp, CAST(SUM(ngv) AS BIGINT) AS ng,
         CAST(SUM(CAST(ngv AS DECIMAL(38,0)) * r2v) AS DOUBLE) AS r2g
  FROM gv JOIN r2v USING (yc) GROUP BY grp
),
nrow AS (
  SELECT 1 AS g, CAST(COUNT(*) AS BIGINT) AS k_groups,
         CAST(SUM(ng) AS BIGINT) AS n
  FROM pg GROUP BY g
),
w AS (SELECT pg.ng, pg.r2g, nrow.k_groups, nrow.n FROM pg CROSS JOIN nrow),
agg AS (
  SELECT k_groups, n,
         CAST(SUM(CAST({sql_dround(
             '(r2g / 2.0) * (r2g / 2.0) / CAST(ng AS DOUBLE)'
             ' / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)'
             ' * (CAST(n AS DOUBLE) + 1.0))', 12)}
                       AS DECIMAL(38,12))) AS DOUBLE) AS sterm
  FROM w GROUP BY k_groups, n
),
f AS (
  SELECT k_groups, n, sterm, ties,
         12.0 * CAST(n AS DOUBLE) * sterm
           - 3.0 * (CAST(n AS DOUBLE) + 1.0) AS h,
         1.0 - ties / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                       * CAST(n AS DOUBLE) - CAST(n AS DOUBLE)) AS denom
  FROM agg CROSS JOIN tiesq
)
SELECT k_groups, n,
       CASE WHEN k_groups >= 2 THEN k_groups - 1 END AS df,
       CASE WHEN k_groups >= 2 AND n >= 2 THEN {sql_dround('h', 6)}
       END AS h_stat,
       CASE WHEN k_groups >= 2 AND n >= 2 AND denom > 0 THEN
         {sql_dround('h / denom', 6)}
       END AS h_corrected
FROM f
"""


def q_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Mann-Kendall trend + Sen's slope (operators/windows.py::
    # mann_kendall) on the daily order-revenue series — "is revenue
    # trending, and how fast" with rank evidence (robust where OLS'
    # q_group_ols is outlier-draggable). Pairwise stage is quadratic
    # in DAYS (calendar-bounded), never rows; the series rolls up
    # first.
    from python_mapreduce_spark.operators.windows import mann_kendall  # noqa: PLC0415

    o = table(spark, sf_dir, "orders")
    day = F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date"))
    return mann_kendall(o, day, "o_totalprice")


SQL_MANN_KENDALL = f"""
WITH series AS (
  SELECT CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
              AS BIGINT) AS p,
         CAST(SUM(CAST(floor(CAST(o_totalprice AS DOUBLE) * 100.0 + 0.5)
                       AS BIGINT)) AS BIGINT) AS y
  FROM orders
  WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL
  GROUP BY 1
),
pairs AS (
  SELECT a.p AS p1, a.y AS y1, b.p AS p2, b.y AS y2
  FROM series a JOIN series b ON b.p > a.p
),
pair_agg AS (
  SELECT 1 AS g, CAST(COUNT(*) AS BIGINT) AS n_pairs,
         CAST(SUM(sign(CAST(y2 - y1 AS DOUBLE))) AS BIGINT) AS s_stat,
         median(CAST(y2 - y1 AS DOUBLE) / CAST(p2 - p1 AS DOUBLE) / 100.0)
           AS sen
  FROM pairs GROUP BY g
),
tiesq AS (
  SELECT 1 AS g, CAST(SUM(t) AS BIGINT) AS n_periods,
         CAST(SUM(CAST(t AS DECIMAL(38,0)) * (t - 1) * (2 * t + 5))
              AS DOUBLE) AS tsum
  FROM (SELECT y, CAST(COUNT(*) AS BIGINT) AS t FROM series GROUP BY y)
  GROUP BY g
),
f AS (
  SELECT n_periods, n_pairs, s_stat, sen,
         (CAST(n_periods AS DOUBLE) * (CAST(n_periods AS DOUBLE) - 1.0)
          * (2.0 * CAST(n_periods AS DOUBLE) + 5.0) - tsum) / 18.0 AS var_s
  FROM pair_agg JOIN tiesq USING (g)
)
SELECT n_periods, n_pairs, s_stat,
       {sql_dround('var_s', 4)} AS var_s,
       CASE WHEN var_s > 0 THEN
         {sql_dround(
             'CASE WHEN s_stat > 0 THEN (CAST(s_stat AS DOUBLE) - 1.0) / sqrt(var_s)'
             ' WHEN s_stat < 0 THEN (CAST(s_stat AS DOUBLE) + 1.0) / sqrt(var_s)'
             ' ELSE 0.0 END', 6)}
       END AS z,
       {sql_dround('sen', 6)} AS sen_slope
FROM f
"""


_CM_PROBES = ("the", "data", "merge", "window", "stream", "zzznotaterm")


def q_count_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Count-min point-frequency estimates (operators/aggregates.py::
    # count_min_estimate): term frequencies over the document token
    # stream through a 4x256 md5-bucketed sketch, probed for a fixed
    # term ladder (high / mid / low / absent) beside the exact truth —
    # the mergeable FREQUENCY sketch completing the HLL (cardinality) /
    # KLL (quantiles) / top-k (heavy hitters) family. The md5 hashing
    # is deterministic, so the oracle replays the ESTIMATES bit-for-bit
    # (the simhash hex-cast idiom), not a tolerance flag; the CM
    # one-sided guarantee (estimate >= exact, always) is pytest-pinned
    # under hypothesis.
    from python_mapreduce_spark.functions.scalar import tokenize  # noqa: PLC0415
    from python_mapreduce_spark.operators.aggregates import (  # noqa: PLC0415
        count_min_estimate,
    )

    toks = table(spark, sf_dir, "documents").select(
        F.explode(tokenize("text")).alias("term")
    )
    return count_min_estimate(toks, "term", list(_CM_PROBES), width=256, depth=4)


SQL_COUNT_MIN = f"""
WITH toks AS (
  SELECT unnest(regexp_extract_all(lower(coalesce(text, '')), '[a-z]+'))
           AS term
  FROM documents
),
ds AS (SELECT unnest(generate_series(0, 3)) AS d),
sk AS (
  SELECT d,
         CAST(('0x' || substr(md5(CAST(d AS VARCHAR) || ':' || term), 1, 8))
              AS BIGINT) % 256 AS bucket,
         CAST(count(*) AS BIGINT) AS cnt
  FROM toks CROSS JOIN ds GROUP BY 1, 2
),
probes(term) AS (VALUES {", ".join(f"('{p}')" for p in _CM_PROBES)}),
pb AS (
  SELECT p.term, ds.d,
         CAST(('0x' || substr(md5(CAST(ds.d AS VARCHAR) || ':' || p.term),
                              1, 8)) AS BIGINT) % 256 AS bucket
  FROM probes p CROSS JOIN ds
),
est AS (
  SELECT term, CAST(min(coalesce(cnt, 0)) AS BIGINT) AS cm_estimate
  FROM pb LEFT JOIN sk USING (d, bucket) GROUP BY 1
),
ex AS (
  SELECT term, CAST(count(*) AS BIGINT) AS exact_count
  FROM toks WHERE term IN ({", ".join(f"'{p}'" for p in _CM_PROBES)})
  GROUP BY 1
)
SELECT est.term,
       CAST(coalesce(ex.exact_count, 0) AS BIGINT) AS exact_count,
       cm_estimate,
       CAST(cm_estimate - coalesce(ex.exact_count, 0) AS BIGINT) AS overcount
FROM est LEFT JOIN ex USING (term)
"""


# --- KMV (k-minimum-values) distinct sketch with set operations --------------

_KMV_K = 64
#: (k-1) * 2^60 — exactly representable as a double on both engines
#: (k-1 has 6 significant bits), so the KMV estimate is ONE
#: correctly-rounded IEEE division.
_KMV_SCALE = f"({_KMV_K - 1}.0 * 1152921504606846976.0)"
_KMV_SEG_A = "event_type = 'click' AND value > 150.0"
_KMV_SEG_B = "event_type = 'purchase' AND value > 150.0"


def q_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    # KMV distinct sketch (operators/aggregates.py::kmv_sketch /
    # kmv_distinct_estimate): per event_type, the k=64 smallest 60-bit
    # md5 hashes of the distinct user set; estimate = (k-1)/h_(k)
    # scaled to the domain when the sketch is full, the exact count
    # when not. Fully deterministic (pure function of the value set),
    # so — unlike the HLL twins — the oracle replays the ESTIMATE
    # bit-for-bit, no tolerance needed. Scale shape: one distinct agg
    # narrows to (group, hash), then a WindowGroupLimit k-cut; the
    # estimate runs on the <=k-row-per-group sketch frame.
    from python_mapreduce_spark.operators.aggregates import (  # noqa: PLC0415
        kmv_distinct_estimate,
        kmv_sketch,
    )

    ev = table(spark, sf_dir, "events")
    sk = kmv_sketch(ev, "user_id", group_by=["event_type"], k=_KMV_K)
    est = kmv_distinct_estimate(sk, group_by=["event_type"], k=_KMV_K)
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("n_exact")
    )
    return exact.join(est, "event_type").select(
        "event_type", "n_exact", "n_kmv", "sketch_full"
    )


SQL_KMV_DISTINCT = f"""
WITH hashes AS (
  SELECT DISTINCT event_type,
         CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
  FROM events WHERE user_id IS NOT NULL
),
sk AS (
  SELECT event_type, h FROM (
    SELECT event_type, h,
           row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
    FROM hashes
  ) WHERE rn <= {_KMV_K}
),
agg AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n, max(h) AS hk
  FROM sk GROUP BY event_type
),
est AS (
  SELECT event_type,
         floor((CASE WHEN n >= {_KMV_K}
                     THEN {_KMV_SCALE} / CAST(hk AS DOUBLE)
                     ELSE CAST(n AS DOUBLE) END) * 10000.0 + 0.5) / 10000.0 AS n_kmv,
         n >= {_KMV_K} AS sketch_full
  FROM agg
),
exact AS (
  SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
  FROM events GROUP BY event_type
)
SELECT exact.event_type, n_exact, n_kmv, sketch_full
FROM exact JOIN est USING (event_type)
"""


def q_kmv_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The set-OPERATION KMV can do and HLL cannot: "distinct users in
    # segment A AND segment B" from two <=k-row sketches
    # (operators/aggregates.py::kmv_intersect_estimate). Union sketch =
    # k smallest of the merged hashes (TakeOrderedAndProject, no
    # window); within it, the both-present fraction is an unbiased
    # Jaccard estimate, and n_inter = jaccard * n_union. The raw events
    # are scanned once per segment at sketch time; everything after is
    # k-row frames and broadcast joins. Exact intersection rides along
    # for the driver to verify against.
    from python_mapreduce_spark.operators.aggregates import (  # noqa: PLC0415
        kmv_intersect_estimate,
        kmv_sketch,
    )

    ev = table(spark, sf_dir, "events")
    # Each segment feeds its sketch AND the exact-intersection ride-
    # along (4 filtered corpus scans uncut); one cut per narrow
    # segment frame keeps it to one scan per segment.
    a = ev.filter(
        (F.col("event_type") == "click") & (F.col("value") > 150.0)
    ).select("user_id").localCheckpoint(eager=False)
    b = ev.filter(
        (F.col("event_type") == "purchase") & (F.col("value") > 150.0)
    ).select("user_id").localCheckpoint(eager=False)
    est = kmv_intersect_estimate(
        kmv_sketch(a, "user_id", k=_KMV_K),
        kmv_sketch(b, "user_id", k=_KMV_K),
        k=_KMV_K,
    )
    exact = (
        a.filter(F.col("user_id").isNotNull())
        .intersect(b.filter(F.col("user_id").isNotNull()))
        .agg(F.count(F.lit(1)).cast("long").alias("n_exact_intersect"))
    )
    return exact.join(F.broadcast(est))


SQL_KMV_INTERSECT = f"""
WITH ha AS (
  SELECT DISTINCT CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
  FROM events WHERE {_KMV_SEG_A} AND user_id IS NOT NULL
),
hb AS (
  SELECT DISTINCT CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
  FROM events WHERE {_KMV_SEG_B} AND user_id IS NOT NULL
),
ska AS (SELECT h FROM ha ORDER BY h LIMIT {_KMV_K}),
skb AS (SELECT h FROM hb ORDER BY h LIMIT {_KMV_K}),
merged AS (
  SELECT coalesce(ska.h, skb.h) AS h,
         ska.h IS NOT NULL AS in_a, skb.h IS NOT NULL AS in_b
  FROM ska FULL OUTER JOIN skb ON ska.h = skb.h
),
u AS (SELECT * FROM merged ORDER BY h LIMIT {_KMV_K}),
stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n, max(h) AS hk,
         CAST(coalesce(sum(CASE WHEN in_a AND in_b THEN 1 ELSE 0 END), 0) AS BIGINT) AS nboth
  FROM u
),
est AS (
  SELECT
    floor((CASE WHEN n >= {_KMV_K} THEN {_KMV_SCALE} / CAST(hk AS DOUBLE)
                ELSE CAST(n AS DOUBLE) END) * 10000.0 + 0.5) / 10000.0 AS n_union_kmv,
    CASE WHEN n > 0 THEN
      floor((CAST(nboth AS DOUBLE) / CAST(n AS DOUBLE))
            * (CASE WHEN n >= {_KMV_K} THEN {_KMV_SCALE} / CAST(hk AS DOUBLE)
                    ELSE CAST(n AS DOUBLE) END) * 10000.0 + 0.5) / 10000.0
    END AS n_intersect_kmv,
    CASE WHEN n > 0 THEN
      floor(CAST(nboth AS DOUBLE) / CAST(n AS DOUBLE) * 10000.0 + 0.5) / 10000.0
    END AS jaccard_kmv
  FROM stats
),
exact AS (
  SELECT CAST(count(*) AS BIGINT) AS n_exact_intersect FROM (
    SELECT user_id FROM events WHERE {_KMV_SEG_A} AND user_id IS NOT NULL
    INTERSECT
    SELECT user_id FROM events WHERE {_KMV_SEG_B} AND user_id IS NOT NULL
  )
)
SELECT n_exact_intersect, n_union_kmv, n_intersect_kmv, jaccard_kmv FROM exact, est
"""


# --- deterministic Poisson-bootstrap confidence interval ---------------------

_BOOT_R = 40


def q_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    # RNG-free percentile bootstrap for the mean order value
    # (operators/aggregates.py::bootstrap_mean_ci): replicate weights
    # are Poisson(1) draws by inverse-CDF over md5(id|r) — pure integer
    # comparisons, identical on both engines, so the oracle replays the
    # interval EXACTLY (no tolerance). One scan fans rows to R=40
    # (replicate, weighted-cents) pairs; ONE map-side-combined agg
    # leaves 40 rows of integer-cent DECIMAL sums; the percentile runs
    # over the 40-row means frame (sort-based — no order-dependent
    # float accumulation).
    from python_mapreduce_spark.operators.aggregates import bootstrap_mean_ci  # noqa: PLC0415

    o = table(spark, sf_dir, "orders")
    return bootstrap_mean_ci(o, "o_totalprice", "o_orderkey", replicates=_BOOT_R)


def _sql_bootstrap_ci() -> str:
    from python_mapreduce_spark.operators.aggregates import _BOOT_POISSON_CUTS  # noqa: PLC0415

    wt = " + ".join(
        f"(CASE WHEN u >= {cut} THEN 1 ELSE 0 END)" for cut in _BOOT_POISSON_CUTS
    )
    return f"""
WITH vals AS (
  SELECT CAST(o_orderkey AS VARCHAR) AS id,
         CAST(floor(CAST(o_totalprice AS DOUBLE) * 100.0 + 0.5) AS DECIMAL(28,0)) AS cents
  FROM orders WHERE o_totalprice IS NOT NULL
),
fanned AS (
  SELECT id, cents, r FROM vals, (SELECT unnest(range({_BOOT_R})) AS r)
),
weighted AS (
  SELECT cents, r, CAST(({wt}) AS BIGINT) AS wt FROM (
    SELECT cents, r,
           CAST(('0x' || substr(md5(id || '|' || CAST(r AS VARCHAR)), 1, 13)) AS BIGINT) AS u
    FROM fanned
  )
),
rep AS (
  SELECT r, CAST(sum(cents * wt) AS DECIMAL(38,0)) AS s, CAST(sum(wt) AS BIGINT) AS n
  FROM weighted GROUP BY r
),
means AS (
  SELECT CASE WHEN n > 0 THEN CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 100.0 END AS m
  FROM rep
),
ci AS (SELECT quantile_cont(m, [0.025, 0.975]) AS q FROM means),
base AS (
  SELECT CAST(count(*) AS BIGINT) AS n_rows,
         CASE WHEN count(*) > 0 THEN
           floor(CAST(sum(cents) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 100.0
                 * 10000.0 + 0.5) / 10000.0
         END AS mean_full
  FROM vals
)
SELECT n_rows, mean_full,
       floor(q[1] * 10000.0 + 0.5) / 10000.0 AS ci_lo,
       floor(q[2] * 10000.0 + 0.5) / 10000.0 AS ci_hi
FROM base, ci
"""


SQL_BOOTSTRAP_CI = _sql_bootstrap_ci()


def q_bootstrap_diff_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Two-sample uplift with uncertainty (operators/aggregates.py::
    # bootstrap_diff_ci): percentile-bootstrap CI for mean(click value)
    # - mean(view value) — the continuous-metric companion to
    # q_ab_test's two-proportion z. Same RNG-free discipline: Poisson
    # weights by md5 inverse-CDF, ONE map-side-combined agg to R=40
    # DECIMAL sufficient sums per side (conditional sums split the
    # groups inside the same pass), sort-based percentile over the
    # 40 resampled differences. The oracle replays the interval and
    # the significance verdict exactly.
    from python_mapreduce_spark.operators.aggregates import bootstrap_diff_ci  # noqa: PLC0415

    ev = table(spark, sf_dir, "events")
    return bootstrap_diff_ci(
        ev, "value", "event_id", "event_type", "click", "view", replicates=_BOOT_R
    )


def _sql_bootstrap_diff_ci() -> str:
    from python_mapreduce_spark.operators.aggregates import _BOOT_POISSON_CUTS  # noqa: PLC0415

    wt = " + ".join(
        f"(CASE WHEN u >= {cut} THEN 1 ELSE 0 END)" for cut in _BOOT_POISSON_CUTS
    )
    return f"""
WITH vals AS (
  SELECT CAST(event_id AS VARCHAR) AS id,
         event_type = 'click' AS is_a,
         CAST(floor(CAST(value AS DOUBLE) * 100.0 + 0.5) AS DECIMAL(28,0)) AS cents
  FROM events
  WHERE event_type IN ('click', 'view') AND value IS NOT NULL
),
fanned AS (
  SELECT id, is_a, cents, r FROM vals, (SELECT unnest(range({_BOOT_R})) AS r)
),
weighted AS (
  SELECT is_a, cents, r, CAST(({wt}) AS BIGINT) AS wt FROM (
    SELECT is_a, cents, r,
           CAST(('0x' || substr(md5(id || '|' || CAST(r AS VARCHAR)), 1, 13)) AS BIGINT) AS u
    FROM fanned
  )
),
rep AS (
  SELECT r,
         CAST(sum(CASE WHEN is_a THEN cents * wt ELSE 0 END) AS DECIMAL(38,0)) AS sa,
         CAST(sum(CASE WHEN is_a THEN wt ELSE 0 END) AS BIGINT) AS na,
         CAST(sum(CASE WHEN NOT is_a THEN cents * wt ELSE 0 END) AS DECIMAL(38,0)) AS sb,
         CAST(sum(CASE WHEN NOT is_a THEN wt ELSE 0 END) AS BIGINT) AS nb
  FROM weighted GROUP BY r
),
diffs AS (
  SELECT CASE WHEN na > 0 AND nb > 0 THEN
           CAST(sa AS DOUBLE) / CAST(na AS DOUBLE) / 100.0
           - CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE) / 100.0
         END AS d
  FROM rep
),
ci AS (
  SELECT floor(q[1] * 10000.0 + 0.5) / 10000.0 AS ci_lo,
         floor(q[2] * 10000.0 + 0.5) / 10000.0 AS ci_hi
  FROM (SELECT quantile_cont(d, [0.025, 0.975]) AS q FROM diffs)
),
base AS (
  SELECT CAST(sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(sum(CASE WHEN NOT is_a THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
         CASE WHEN sum(CASE WHEN is_a THEN 1 ELSE 0 END) > 0
               AND sum(CASE WHEN NOT is_a THEN 1 ELSE 0 END) > 0 THEN
           floor((CAST(sum(CASE WHEN is_a THEN cents ELSE 0 END) AS DOUBLE)
                    / CAST(sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS DOUBLE)
                  - CAST(sum(CASE WHEN NOT is_a THEN cents ELSE 0 END) AS DOUBLE)
                    / CAST(sum(CASE WHEN NOT is_a THEN 1 ELSE 0 END) AS DOUBLE))
                 / 100.0 * 10000.0 + 0.5) / 10000.0
         END AS diff_full
  FROM vals
)
SELECT n_a, n_b, diff_full, ci_lo, ci_hi,
       CASE WHEN ci_lo IS NOT NULL THEN (ci_lo > 0.0 OR ci_hi < 0.0) END AS significant
FROM base, ci
"""


SQL_BOOTSTRAP_DIFF_CI = _sql_bootstrap_diff_ci()


QUERIES: dict[str, Query] = {
    "q_anova": Query(q_anova, SQL_ANOVA, "one-way ANOVA F across order priorities"),
    "q_welch_ttest": Query(
        q_welch_ttest, SQL_WELCH_TTEST, "Welch t between order-status segments"
    ),
    "q_mad_outliers": Query(
        q_mad_outliers, SQL_MAD_OUTLIERS, "per-source robust z via exact median/MAD"
    ),
    "q_cusum": Query(q_cusum, SQL_CUSUM, "CUSUM change-point sums per event type"),
    "q_fellegi_sunter": Query(
        q_fellegi_sunter, SQL_FELLEGI_SUNTER, "FS linkage weights over blocked pairs"
    ),
    "q_cramers_v": Query(
        q_cramers_v, SQL_CRAMERS_V, "bias-corrected Cramér's V lang vs source"
    ),
    "q_trimmed_mean": Query(
        q_trimmed_mean, SQL_TRIMMED_MEAN, "exact 10%-trimmed mean per priority"
    ),
    "q_mannwhitney": Query(
        q_mannwhitney,
        SQL_MANNWHITNEY,
        "tie-corrected Mann-Whitney U z, click vs purchase values",
    ),
    "q_spearman": Query(
        q_spearman,
        SQL_SPEARMAN,
        "rank-free Spearman rho, order value vs order date",
    ),
    "q_brown_forsythe": Query(
        q_brown_forsythe,
        SQL_BROWN_FORSYTHE,
        "Brown-Forsythe spread test, order value by priority",
    ),
    "q_jarque_bera": Query(
        q_jarque_bera,
        SQL_JARQUE_BERA,
        "Jarque-Bera normality per event type from exact power sums",
    ),
    "q_forecast_backtest": Query(
        q_forecast_backtest,
        SQL_FORECAST_BACKTEST,
        "seasonal-naive monthly-revenue backtest: MAE/RMSE/WAPE/sMAPE/MASE",
    ),
    "q_market_concentration": Query(
        q_market_concentration,
        SQL_MARKET_CONCENTRATION,
        "HHI / effective-N / CR4 of nation revenue shares per region",
    ),
    "q_autocorr": Query(
        q_autocorr,
        SQL_AUTOCORR,
        "daily-revenue autocorrelation at lags 1-7 via exploded equi-join",
    ),
    "q_bh_fdr": Query(
        q_bh_fdr,
        SQL_BH_FDR,
        "BH step-up FDR over per-source language-share z screens",
    ),
    "q_partial_corr": Query(
        q_partial_corr,
        SQL_PARTIAL_CORR,
        "partial corr of quantity vs price controlling discount",
    ),
    "q_ols_influence": Query(
        q_ols_influence,
        SQL_OLS_INFLUENCE,
        "Cook's D influence audit of per-priority revenue trends",
    ),
    "q_t_closeness": Query(
        q_t_closeness,
        SQL_T_CLOSENESS,
        "t-closeness TVD gate on status distributions per priority-year",
    ),
    "q_theil": Query(
        q_theil,
        SQL_THEIL,
        "Theil T inequality decomposed within/between priorities",
    ),
    "q_nelson_aalen": Query(
        q_nelson_aalen,
        SQL_NELSON_AALEN,
        "Nelson-Aalen cumulative churn hazard + Breslow survival",
    ),
    "q_kruskal_wallis": Query(
        q_kruskal_wallis,
        SQL_KRUSKAL_WALLIS,
        "tie-corrected Kruskal-Wallis H, order value by priority",
    ),
    "q_mann_kendall": Query(
        q_mann_kendall,
        SQL_MANN_KENDALL,
        "Mann-Kendall trend + Sen's slope on daily revenue",
    ),
    "q_count_min": Query(
        q_count_min,
        SQL_COUNT_MIN,
        "count-min frequency estimates vs exact for a probe-term ladder",
    ),
    "q_kmv_distinct": Query(
        q_kmv_distinct,
        SQL_KMV_DISTINCT,
        "KMV distinct sketch per segment: deterministic (k-1)/h_k estimate replayed bit-for-bit",
    ),
    "q_kmv_intersect": Query(
        q_kmv_intersect,
        SQL_KMV_INTERSECT,
        "KMV set ops: union/intersection/Jaccard estimates from two k-row sketches (what HLL cannot do)",
    ),
    "q_bootstrap_ci": Query(
        q_bootstrap_ci,
        SQL_BOOTSTRAP_CI,
        "RNG-free Poisson-bootstrap percentile CI for the mean, exactly oracle-replayable",
    ),
    "q_bootstrap_diff_ci": Query(
        q_bootstrap_diff_ci,
        SQL_BOOTSTRAP_DIFF_CI,
        "two-sample bootstrap uplift CI (mean A - mean B) with exact-replay oracle + significance verdict",
    ),
}
