"""Streaming/incremental queries.

Each runs a real Structured Streaming query (file source -> checkpoint ->
AvailableNow -> sink) to completion inside the callable and returns the
result as a batch DataFrame, so the driver's oracle comparison applies to
streaming semantics: tumbling windows, incremental additive recombination
(the reference's f(A+B)=f(A)+f(B) contract, README.txt:18), session
windows, and a custom applyInPandasWithState operator.
"""

from __future__ import annotations

import os
from python_mapreduce_spark.scratch import scratch_dir

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_mapreduce_spark.functions.scalar import dround, sql_dround
from python_mapreduce_spark.registry import Query
from python_mapreduce_spark.registry._util import table
from python_mapreduce_spark.streaming.incremental import (
    collect_incremental_counts,
    file_stream,
    incremental_distinct_sketch,
    normalize_event_ts,
    read_distinct_estimate,
    run_stream_to_memory,
)
from python_mapreduce_spark.streaming.windows import (
    session_agg,
    stateful_running_max,
    tumbling_agg,
)


def _events_stream(spark: SparkSession, sf_dir: str, **kw) -> DataFrame:
    # Stream the single events.parquet file: directory + glob filter
    # (the streaming file source rejects bare file paths).
    return file_stream(spark, sf_dir.rstrip("/"), glob="events.parquet", **kw)


def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Real streaming pass: file source -> watermark -> 1h tumbling window
    # -> complete mode -> memory. AvailableNow processes the whole
    # directory then stops, so the result equals the batch computation —
    # which is exactly what the oracle checks.
    from python_mapreduce_spark.session import tune

    tune(spark)
    stream = normalize_event_ts(_events_stream(spark, sf_dir))
    agg = tumbling_agg(
        stream,
        "ts",
        "1 hour",
        ["event_type"],
        [F.count(F.lit(1)).alias("n"), dround(F.sum("value")).alias("sum_value")],
        watermark="1 hour",
    )
    out = run_stream_to_memory(agg, output_mode="complete")
    return out.select(
        F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        "n",
        "sum_value",
    )


SQL_STREAM_TUMBLING = f"""
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       count(*) AS n,
       {sql_dround('sum(value)')} AS sum_value
FROM events GROUP BY 1, 2
"""


def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Sliding windows (1h length, 30m slide): every event lands in two
    # overlapping windows. Same streaming pass as q_stream_tumbling —
    # the slide only changes the window-assignment expression.
    from python_mapreduce_spark.session import tune

    tune(spark)
    stream = normalize_event_ts(_events_stream(spark, sf_dir))
    agg = tumbling_agg(
        stream,
        "ts",
        "1 hour",
        ["event_type"],
        [F.count(F.lit(1)).alias("n"), dround(F.sum("value")).alias("sum_value")],
        watermark="1 hour",
        slide="30 minutes",
    )
    out = run_stream_to_memory(agg, output_mode="complete")
    return out.select(
        F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        "n",
        "sum_value",
    )


# Each event belongs to the two 30-min-grid windows covering it: the one
# starting at its own 30-min bucket and the one starting 30 min earlier.
SQL_STREAM_SLIDING = f"""
WITH assigned AS (
  SELECT unnest([date_trunc('hour', ts) + INTERVAL (CASE WHEN minute(ts) >= 30 THEN 30 ELSE 0 END) MINUTE,
                 date_trunc('hour', ts) + INTERVAL (CASE WHEN minute(ts) >= 30 THEN 0 ELSE -30 END) MINUTE])
           AS win_start,
         event_type, value
  FROM events
)
SELECT strftime(win_start, '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       count(*) AS n,
       {sql_dround('sum(value)')} AS sum_value
FROM assigned GROUP BY 1, 2
"""


def q_stream_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The reference's incremental contract end-to-end: land half the
    # files, run a checkpointed pass; land the rest, run another pass
    # touching ONLY new files; recombine partial aggregates additively.
    # The oracle is the one-shot batch over everything — f(A+B)=f(A)+f(B).
    from python_mapreduce_spark.session import tune

    tune(spark)
    events = table(spark, sf_dir, "events")
    work = scratch_dir("incr")
    in_dir, ckpt, out_dir = (
        os.path.join(work, "in"),
        os.path.join(work, "ckpt"),
        os.path.join(work, "partials"),
    )

    # output_dir= exercises the at-scale partial-aggregate path: each
    # pass writes its partials to an idempotent ingest_epoch partition;
    # the running total is a sum over the read-back partitions, and no
    # partial ever visits the driver.
    events.filter(F.col("event_id") % 2 == 0).write.mode("append").parquet(in_dir)
    collect_incremental_counts(
        spark, in_dir, ckpt, ["event_type"], "value", output_dir=out_dir
    )
    events.filter(F.col("event_id") % 2 == 1).write.mode("append").parquet(in_dir)
    collect_incremental_counts(
        spark, in_dir, ckpt, ["event_type"], "value", output_dir=out_dir
    )

    partials = spark.read.parquet(out_dir)
    return partials.groupBy("event_type").agg(
        F.sum("n").alias("n_events"), dround(F.sum("s")).alias("sum_value")
    )


SQL_STREAM_INCREMENTAL = f"""
SELECT event_type, count(*) AS n_events, {sql_dround('sum(value)')} AS sum_value
FROM events GROUP BY event_type
"""


def q_stream_incremental_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Incremental heavy-hitters (streaming/incremental.py::
    # incremental_topk_sketch): counts are additive but top-k of the
    # union is NOT the union of per-epoch top-ks — the mergeable
    # frequent-items sketch state tracks the full bounded item universe
    # per epoch, so combining states recovers the true running top-5.
    # max_items=1024 >= the 499 distinct items keeps every cell exact,
    # so the oracle is the hard exact GROUP BY + row_number over all
    # events (the same rule as SQL_TOPK_ROLLUP without the day grain).
    from python_mapreduce_spark.session import tune  # noqa: PLC0415
    from python_mapreduce_spark.streaming.incremental import (  # noqa: PLC0415
        incremental_topk_sketch,
        read_topk_estimate,
    )

    tune(spark)
    events = table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    work = scratch_dir("incr_topk")
    in_dir, ckpt, state = (
        os.path.join(work, "in"),
        os.path.join(work, "ckpt"),
        os.path.join(work, "state"),
    )
    item = "concat('p', CAST(pmod(user_id, 499) AS STRING))"
    events.filter(F.col("event_id") % 2 == 0).write.mode("append").parquet(in_dir)
    incremental_topk_sketch(spark, in_dir, ckpt, ["event_type"], item, state)
    events.filter(F.col("event_id") % 2 == 1).write.mode("append").parquet(in_dir)
    incremental_topk_sketch(spark, in_dir, ckpt, ["event_type"], item, state)
    return read_topk_estimate(spark, state, ["event_type"], k=5).withColumn(
        "est_count", F.col("est_count").cast("long")
    )


SQL_STREAM_INCREMENTAL_TOPK = """
SELECT event_type, rank, item, est_count FROM (
  SELECT event_type,
         CAST(row_number() OVER (PARTITION BY event_type
                                 ORDER BY est_count DESC, item) AS INTEGER) AS rank,
         item, est_count
  FROM (SELECT event_type,
               concat('p', CAST(((user_id % 499) + 499) % 499 AS VARCHAR)) AS item,
               CAST(count(*) AS BIGINT) AS est_count
        FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2)
) WHERE rank <= 5
"""


def q_stream_incremental_kll(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Incremental quantiles (streaming/incremental.py::
    # incremental_quantile_sketch): the canonical NON-additive aggregate
    # — no row-level partial recombines into a median — made mergeable
    # by KLL sketch state per epoch. KLL compaction is randomized, so
    # the oracle is the rank-tolerance contract (quantile_rank_flag):
    # exact quartiles ride along for the hash, the flag pins the
    # estimates' exact ranks within 0.05 of target.
    from python_mapreduce_spark.operators.aggregates import (  # noqa: PLC0415
        quantile_rank_flag,
    )
    from python_mapreduce_spark.session import tune  # noqa: PLC0415
    from python_mapreduce_spark.streaming.incremental import (  # noqa: PLC0415
        incremental_quantile_sketch,
        read_quantile_estimate,
    )

    tune(spark)
    events = table(spark, sf_dir, "events")
    work = scratch_dir("incr_kll")
    in_dir, ckpt, state = (
        os.path.join(work, "in"),
        os.path.join(work, "ckpt"),
        os.path.join(work, "state"),
    )
    events.filter(F.col("event_id") % 2 == 0).write.mode("append").parquet(in_dir)
    incremental_quantile_sketch(spark, in_dir, ckpt, ["event_type"], "value", state)
    events.filter(F.col("event_id") % 2 == 1).write.mode("append").parquet(in_dir)
    incremental_quantile_sketch(spark, in_dir, ckpt, ["event_type"], "value", state)

    est = read_quantile_estimate(spark, state, ["event_type"])
    exact = events.groupBy("event_type").agg(
        F.expr("percentile(value, array(0.25D, 0.5D, 0.75D))").alias("__exact_q")
    )
    flag = quantile_rank_flag(
        events, "event_type", "value", est, flag_name="sketch_ok"
    )
    return exact.join(flag, "event_type").select(
        "event_type",
        F.expr(
            "array_join(transform(__exact_q,"
            " x -> CAST(CAST(floor(x * 100.0D + 0.5D) / 100.0D"
            " AS DECIMAL(18,2)) AS STRING)), ',')"
        ).alias("exact_quartiles"),
        "sketch_ok",
    )


SQL_STREAM_INCREMENTAL_KLL = """
SELECT event_type,
       array_to_string(list_transform(quantile_cont(value, [0.25, 0.5, 0.75]),
                       x -> CAST(CAST(floor(x * 100.0 + 0.5) / 100.0
                                 AS DECIMAL(18,2)) AS VARCHAR)), ',') AS exact_quartiles,
       TRUE AS sketch_ok
FROM events GROUP BY event_type
"""


def q_stream_incremental_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Incremental benchmark-contamination audit (streaming/
    # incremental.py::incremental_contamination): corpus files land in
    # two waves; each checkpointed pass audits ONLY its new files
    # against the broadcast eval n-gram set and writes per-doc overlap
    # rows into an idempotent ingest_epoch partition. Contamination is
    # per-document, so the union of the epoch partitions equals the
    # one-shot batch audit — which is exactly the oracle
    # (SQL_TEXT_CONTAMINATION's rule over the full corpus).
    from python_mapreduce_spark.session import tune  # noqa: PLC0415
    from python_mapreduce_spark.streaming.incremental import (  # noqa: PLC0415
        incremental_contamination,
    )

    tune(spark)
    docs = table(spark, sf_dir, "documents")
    ev = docs.filter(F.col("doc_id") % 25 == 0)
    corpus = docs.filter(F.col("doc_id") % 25 != 0)
    work = scratch_dir("incr_contam")
    in_dir, ckpt, out_dir = (
        os.path.join(work, "in"),
        os.path.join(work, "ckpt"),
        os.path.join(work, "audit"),
    )
    corpus.filter(F.col("doc_id") % 2 == 0).write.mode("append").parquet(in_dir)
    incremental_contamination(spark, in_dir, ckpt, ev, out_dir)
    corpus.filter(F.col("doc_id") % 2 == 1).write.mode("append").parquet(in_dir)
    incremental_contamination(spark, in_dir, ckpt, ev, out_dir)
    return spark.read.parquet(out_dir).select(
        "id", "n_grams", "n_contaminated", "contamination"
    )


def q_stream_incremental_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Incremental DISTINCT cardinality: count/sum partials recombine
    # with SUM (q_stream_incremental), but distinct does not — a user
    # seen in both waves must count once. Mergeable HLL sketch state
    # (streaming/incremental.py::incremental_distinct_sketch) restores
    # additivity: each pass sketches only its new files into an
    # idempotent ingest_epoch partition; the running estimate is a
    # union over the read-back sketch binaries — the raw data is never
    # rescanned and nothing visits the driver. Oracle contract: exact
    # distinct over everything + within-5% flag (sketches are
    # deterministic, so the flag is stable).
    from python_mapreduce_spark.session import tune  # noqa: PLC0415

    tune(spark)
    events = table(spark, sf_dir, "events")
    work = scratch_dir("incr_hll")
    in_dir, ckpt, state = (
        os.path.join(work, "in"),
        os.path.join(work, "ckpt"),
        os.path.join(work, "state"),
    )
    # Split by event_id so the same user_id lands in BOTH waves — the
    # overlap a naive additive recombination would double-count.
    events.filter(F.col("event_id") % 2 == 0).write.mode("append").parquet(in_dir)
    incremental_distinct_sketch(spark, in_dir, ckpt, ["event_type"], "user_id", state)
    events.filter(F.col("event_id") % 2 == 1).write.mode("append").parquet(in_dir)
    incremental_distinct_sketch(spark, in_dir, ckpt, ["event_type"], "user_id", state)

    est = read_distinct_estimate(spark, state, ["event_type"])
    exact = events.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("n_exact")
    )
    return exact.join(est, "event_type").select(
        "event_type",
        "n_exact",
        (F.abs(F.col("approx_distinct") - F.col("n_exact")) / F.col("n_exact") <= 0.05)
        .alias("sketch_ok"),
    )


SQL_STREAM_INCREMENTAL_HLL = """
SELECT event_type,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
       TRUE AS sketch_ok
FROM events GROUP BY event_type
"""


def q_stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Native session_window (batch mode emits every session; the
    # streaming path is exercised in tests with append+watermark).
    events = table(spark, sf_dir, "events")
    out = session_agg(
        events,
        "ts",
        "1 hour",
        ["user_id"],
        [F.count(F.lit(1)).alias("n_events")],
    )
    return out.select(
        "user_id",
        F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        "n_events",
    )


SQL_STREAM_SESSION = """
WITH flagged AS (
  SELECT user_id, ts,
         -- Spark's session_window merges an event landing EXACTLY at
         -- the previous session's end (diff == gap extends; only
         -- diff > gap opens a session) — verified empirically and
         -- caught by the skew replica's hour-truncated timestamps,
         -- where equality is common; microsecond data never hits it.
         CASE WHEN lag(ts, 1) OVER w IS NULL
                OR date_diff('millisecond', lag(ts, 1) OVER w, ts) > 3600000
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
  SELECT user_id, ts,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM flagged
)
SELECT user_id,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       count(*) AS n_events
FROM sessions GROUP BY user_id, sid
"""


def q_stream_stateful_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Custom stateful streaming operator (applyInPandasWithState):
    # per-event-type running max across micro-batches; the last update
    # per key equals the global max, which the batch oracle checks.
    from python_mapreduce_spark.session import tune

    tune(spark)
    stream = normalize_event_ts(_events_stream(spark, sf_dir, max_files_per_trigger=1))
    updates = stateful_running_max(stream, "event_type", "value")
    out = run_stream_to_memory(updates, output_mode="update")
    return out.groupBy("event_type").agg(dround(F.max("running_max")).alias("max_value"))


SQL_STREAM_STATEFUL_MAX = f"""
SELECT event_type, {sql_dround('max(value)')} AS max_value
FROM events GROUP BY event_type
"""


def q_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Stream-STATIC dimension enrichment — the most common production
    # streaming join: the event stream broadcast-joins a small static
    # dimension (here a deterministic user -> segment mapping built from
    # the customer table) with NO join state at all (the static side is
    # re-read per micro-batch; no watermark needed). Aggregated per
    # segment so the oracle is the batch equivalent.
    from python_mapreduce_spark.session import tune  # noqa: PLC0415

    tune(spark)
    dim = (
        table(spark, sf_dir, "customer")
        .select(
            F.col("c_custkey").alias("user_id"),
            F.concat(F.lit("seg"), F.pmod("c_custkey", F.lit(7)).cast("string")).alias(
                "segment"
            ),
        )
    )
    stream = normalize_event_ts(_events_stream(spark, sf_dir))
    enriched = stream.join(F.broadcast(dim), "user_id", "left").select(
        F.coalesce("segment", F.lit("unknown")).alias("segment"), "value"
    )
    agg = enriched.groupBy("segment").agg(
        F.count(F.lit(1)).alias("n_events"), dround(F.sum("value")).alias("sum_value")
    )
    out = run_stream_to_memory(agg, output_mode="complete")
    return out


SQL_STREAM_STATIC_JOIN = f"""
SELECT coalesce('seg' || CAST(c.c_custkey % 7 AS VARCHAR), 'unknown') AS segment,
       count(*) AS n_events,
       {sql_dround('sum(e.value)')} AS sum_value
FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1
"""


def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Stream-stream inner join with an event-time range: each click
    # joined to the same user's purchases within the next 30 minutes.
    # Both sides carry watermarks so join state is bounded (without the
    # time bound + watermarks, stream-stream state grows forever — the
    # 100 TB failure mode). AvailableNow makes the result equal the
    # batch/oracle computation.
    from python_mapreduce_spark.session import tune

    tune(spark)
    clicks = (
        normalize_event_ts(_events_stream(spark, sf_dir))
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
            F.col("event_id").alias("c_id"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    purchases = (
        normalize_event_ts(_events_stream(spark, sf_dir))
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        F.expr(
            "c_user = p_user AND p_ts >= c_ts AND p_ts <= c_ts + INTERVAL 30 MINUTES"
        ),
    )
    out = run_stream_to_memory(joined, output_mode="append")
    return out.groupBy(F.col("c_user").alias("user_id")).agg(
        F.count(F.lit(1)).alias("n_pairs")
    )


SQL_STREAM_STREAM_JOIN = """
SELECT c.user_id, count(*) AS n_pairs
FROM (SELECT user_id, ts FROM events WHERE event_type = 'click') c
JOIN (SELECT user_id, ts FROM events WHERE event_type = 'purchase') p
  ON c.user_id = p.user_id
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
GROUP BY c.user_id
"""


def q_stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Streaming deduplication with bounded state:
    # dropDuplicatesWithinWatermark keeps one row per (user, type) seen
    # within the watermark horizon and EXPIRES the key afterward — the
    # scale-correct alternative to unbounded dropDuplicates state. All
    # test events fit one horizon, so the result equals global DISTINCT.
    from python_mapreduce_spark.session import tune

    tune(spark)
    stream = normalize_event_ts(_events_stream(spark, sf_dir))
    deduped = (
        stream.withWatermark("ts", "30 days")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    out = run_stream_to_memory(deduped, output_mode="append")
    return out.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users")
    )


SQL_STREAM_DEDUP = """
SELECT event_type, count(DISTINCT user_id) AS n_users
FROM events GROUP BY event_type
"""


def q_stream_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Incremental corpus dedup end-to-end (streaming/dedup.py): land the
    # low-id half of documents, run a checkpointed dedup pass; land the
    # high-id half, run another pass that near-dup-filters ONLY the new
    # files against the accumulated band-key state. The operator's rule
    # is first-seen-wins; because this ingest is monotone in doc_id, it
    # coincides with the batch canonical-min rule (dup iff an
    # exact-Jaccard >= 0.8 pair with a lower-id doc), which is what the
    # oracle computes over the full documents table.
    from python_mapreduce_spark.session import tune  # noqa: PLC0415
    from python_mapreduce_spark.streaming.dedup import (  # noqa: PLC0415
        incremental_minhash_dedup,
    )

    tune(spark)
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    split = docs.count() // 2
    work = scratch_dir("incr_dedup")
    in_dir, state, ckpt, out_dir = (
        os.path.join(work, "in"),
        os.path.join(work, "state"),
        os.path.join(work, "ckpt"),
        os.path.join(work, "decisions"),
    )

    # bands=16, rows=2: candidate recall ~1-(1-0.8^2)^16 ≈ 1-1e-7 at the
    # j=0.8 threshold (the default 8x4 misses ~1.5% of borderline
    # pairs); exact verification keeps precision unchanged either way.
    # output_dir= exercises the at-scale decision path: per-epoch
    # parquet partitions written by the executors, never a pandas
    # round-trip through the driver.
    kw = {"bands": 16, "rows": 2, "output_dir": out_dir}
    docs.filter(F.col("doc_id") < split).write.mode("append").parquet(in_dir)
    incremental_minhash_dedup(spark, in_dir, state, ckpt, **kw)
    docs.filter(F.col("doc_id") >= split).write.mode("append").parquet(in_dir)
    incremental_minhash_dedup(spark, in_dir, state, ckpt, **kw)

    # Read the decision output back as partitioned parquet. ingest_epoch
    # is the shared checkpoint's batch ordinal (0-based), so pass = +1.
    decisions = spark.read.parquet(out_dir).select(
        "id", "is_dup", (F.col("ingest_epoch").cast("long") + 1).alias("pass")
    )
    return decisions.groupBy("pass").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("is_dup").cast("long")).alias("n_dups"),
        F.sum(F.when(~F.col("is_dup"), F.col("id"))).alias("sum_survivor_ids"),
    )


from python_mapreduce_spark.registry.llm import _SQL_SHINGLES  # noqa: E402
# The incremental audit's two waves union to exactly the batch audit's
# corpus, so the batch oracle is the incremental oracle.
from python_mapreduce_spark.registry.llm import (  # noqa: E402
    SQL_TEXT_CONTAMINATION as SQL_TEXT_CONTAMINATION_FULL,
)

SQL_STREAM_INCR_DEDUP = f"""
WITH {_SQL_SHINGLES},
posts AS (SELECT id, unnest(shingles) AS shingle FROM sets WHERE len(shingles) > 0),
sizes AS (SELECT id, CAST(len(shingles) AS BIGINT) AS sz FROM sets WHERE len(shingles) > 0),
inter AS (
  SELECT a.id AS id1, b.id AS id2, count(*) AS inter
  FROM posts a JOIN posts b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY 1, 2
),
dups AS (
  SELECT DISTINCT id2 AS id FROM inter
  JOIN sizes sa ON id1 = sa.id
  JOIN sizes sb ON id2 = sb.id
  WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.8
),
flagged AS (
  SELECT doc_id AS id,
         CAST(CASE WHEN doc_id < (SELECT count(*) // 2 FROM documents) THEN 1 ELSE 2 END AS BIGINT) AS pass,
         doc_id IN (SELECT id FROM dups) AS is_dup
  FROM documents
)
SELECT pass, count(*) AS n_docs,
       CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dups,
       CAST(sum(CASE WHEN NOT is_dup THEN id END) AS BIGINT) AS sum_survivor_ids
FROM flagged GROUP BY pass
"""


def q_stream_incremental_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Incremental distribution-drift monitoring (streaming/
    # incremental.py::incremental_psi_buckets): the pre-Jan-15 events
    # pin the reference decile thresholds; the current side lands in
    # two checkpointed waves, each bucketing only its new files into
    # additive per-epoch count partitions. PSI recomputes from the
    # summed state — bucket counts are additive, so the union of
    # epochs equals the one-shot batch monitor, which IS the oracle
    # (registry/core.py::SQL_PSI_DRIFT verbatim).
    from python_mapreduce_spark.operators.aggregates import (  # noqa: PLC0415
        psi_from_bucket_counts,
        psi_reference_thresholds,
    )
    from python_mapreduce_spark.session import tune  # noqa: PLC0415
    from python_mapreduce_spark.streaming.incremental import (  # noqa: PLC0415
        incremental_psi_buckets,
        read_psi_state,
    )

    tune(spark)
    ev = table(spark, sf_dir, "events")
    ref = ev.filter(F.col("ts") < "2024-01-15").select("event_type", "value")
    cur = ev.filter(F.col("ts") >= "2024-01-15")
    thr = psi_reference_thresholds(ref, ["event_type"], "value").localCheckpoint(
        eager=False
    )  # pinned yardstick: consumed by the ref histogram AND both ingest passes

    work = scratch_dir("incr_psi")
    in_dir, ckpt, state = (
        os.path.join(work, "in"),
        os.path.join(work, "ckpt"),
        os.path.join(work, "state"),
    )
    cur.filter(F.col("event_id") % 2 == 0).write.mode("append").parquet(in_dir)
    incremental_psi_buckets(spark, in_dir, ckpt, ["event_type"], "value", thr, state)
    cur.filter(F.col("event_id") % 2 == 1).write.mode("append").parquet(in_dir)
    incremental_psi_buckets(spark, in_dir, ckpt, ["event_type"], "value", thr, state)

    v = F.col("value").cast("double")
    bucket = (F.size(F.filter("__thr", lambda t: t < v)) + F.lit(1)).cast("int")
    ref_counts = (
        ref.filter(F.col("value").isNotNull())
        .join(F.broadcast(thr), ["event_type"])
        .groupBy("event_type", bucket.alias("__b"))
        .agg(F.count(F.lit(1)).cast("long").alias("__nr"))
    )
    cur_counts = read_psi_state(spark, state, ["event_type"])
    merged = (
        ref_counts.join(cur_counts, ["event_type", "__b"], "full_outer")
        .select(
            "event_type",
            "__b",
            F.coalesce("__nr", F.lit(0)).cast("long").alias("__nr"),
            F.coalesce("__nc", F.lit(0)).cast("long").alias("__nc"),
        )
    )
    return psi_from_bucket_counts(merged, ["event_type"])


def q_stream_incremental_jsd(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Incremental CATEGORICAL drift (streaming/incremental.py::
    # incremental_category_counts): the event-type mix before Jan 15 is
    # the pinned reference; the current side lands in two checkpointed
    # waves of additive per-epoch category counts. JSD recomputes from
    # the summed state — the union of epochs equals the one-shot batch
    # monitor, which IS the oracle (registry/core.py::SQL_JSD_DRIFT
    # verbatim).
    from python_mapreduce_spark.operators.aggregates import (  # noqa: PLC0415
        jsd_from_category_counts,
    )
    from python_mapreduce_spark.session import tune  # noqa: PLC0415
    from python_mapreduce_spark.streaming.incremental import (  # noqa: PLC0415
        incremental_category_counts,
        read_category_state,
    )

    tune(spark)
    ev = table(spark, sf_dir, "events")
    ref = ev.filter(F.col("ts") < "2024-01-15").select("event_type")
    cur = ev.filter(F.col("ts") >= "2024-01-15")

    work = scratch_dir("incr_jsd")
    in_dir, ckpt, state = (
        os.path.join(work, "in"),
        os.path.join(work, "ckpt"),
        os.path.join(work, "state"),
    )
    cur.filter(F.col("event_id") % 2 == 0).write.mode("append").parquet(in_dir)
    incremental_category_counts(spark, in_dir, ckpt, "event_type", state)
    cur.filter(F.col("event_id") % 2 == 1).write.mode("append").parquet(in_dir)
    incremental_category_counts(spark, in_dir, ckpt, "event_type", state)

    ca = ref.groupBy(F.col("event_type").alias("__c")).agg(
        F.count(F.lit(1)).cast("long").alias("__na")
    )
    cb = read_category_state(spark, state).withColumnRenamed("__nc", "__nb")
    return jsd_from_category_counts(ca, cb)


def q_stream_incremental_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Incremental MODEL-EVAL state (streaming/incremental.py::
    # incremental_score_counts): the click/purchase scoring task of
    # q_auc, but the (score -> pos/neg count) sufficient statistics
    # land in two checkpointed ingest waves of additive per-epoch
    # partitions. The AUC recomputes from the summed state via the
    # SAME counts->AUC tail the batch operator uses
    # (auc_from_score_counts), so the union of epochs equals the
    # one-shot batch eval, which IS the oracle (registry/core.py::
    # SQL_AUC verbatim).
    from python_mapreduce_spark.operators.aggregates import (  # noqa: PLC0415
        auc_from_score_counts,
    )
    from python_mapreduce_spark.session import tune  # noqa: PLC0415
    from python_mapreduce_spark.streaming.incremental import (  # noqa: PLC0415
        incremental_score_counts,
        read_score_counts,
    )

    tune(spark)
    ev = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )

    work = scratch_dir("incr_auc")
    in_dir, ckpt, state = (
        os.path.join(work, "in"),
        os.path.join(work, "ckpt"),
        os.path.join(work, "state"),
    )
    score = dround(F.col("value"), 1)
    label = F.col("event_type") == "purchase"
    ev.filter(F.col("event_id") % 2 == 0).write.mode("append").parquet(in_dir)
    incremental_score_counts(spark, in_dir, ckpt, score, label, state)
    ev.filter(F.col("event_id") % 2 == 1).write.mode("append").parquet(in_dir)
    incremental_score_counts(spark, in_dir, ckpt, score, label, state)

    return auc_from_score_counts(read_score_counts(spark, state))


# The incremental monitor's oracle IS the one-shot batch monitor: bucket
# counts are additive, so the epoch-state recombination must reproduce
# registry/core.py's q_psi_drift result digit-for-digit.
from python_mapreduce_spark.registry.core import SQL_AUC as _SQL_AUC  # noqa: E402
from python_mapreduce_spark.registry.core import SQL_PSI_DRIFT as _SQL_PSI_DRIFT  # noqa: E402
from python_mapreduce_spark.registry.core import SQL_JSD_DRIFT as _SQL_JSD_DRIFT  # noqa: E402
# The incremental LPA and KMV passes reproduce their batch twins exactly
# (union-additive edge state; the KMV merge law), so they share the batch
# oracles.
from python_mapreduce_spark.registry.llm import SQL_LABEL_PROPAGATION  # noqa: E402
from python_mapreduce_spark.registry.stats import SQL_KMV_DISTINCT, _KMV_K  # noqa: E402


def q_stream_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Streaming CUSUM monitor (streaming/windows.py::stateful_cusum):
    # per-event-type state folded across micro-batches; the final
    # update row per key must equal the batch prefix-form fold, which
    # is exactly what the oracle computes.
    from python_mapreduce_spark.session import tune  # noqa: PLC0415
    from python_mapreduce_spark.streaming.incremental import (  # noqa: PLC0415
        normalize_event_ts,
        run_stream_to_memory,
    )
    from python_mapreduce_spark.streaming.windows import stateful_cusum  # noqa: PLC0415

    tune(spark)
    stream = normalize_event_ts(
        _events_stream(spark, sf_dir, max_files_per_trigger=1)
    )
    updates = stateful_cusum(
        stream, "event_type", ["ts", "event_id"], "value",
        target=50.0, allowance=5.0, threshold=300.0,
    )
    out = run_stream_to_memory(updates, output_mode="update")
    last = out.groupBy("event_type").agg(
        F.max(
            F.struct("rows_seen", "cusum_pos", "cusum_neg", "alarm")
        ).alias("__s")
    )
    return last.select(
        "event_type",
        F.col("__s.rows_seen").alias("rows_seen"),
        dround("__s.cusum_pos", 6).alias("cusum_pos"),
        dround("__s.cusum_neg", 6).alias("cusum_neg"),
        F.col("__s.alarm").alias("alarm"),
    )


SQL_STREAM_CUSUM = f"""
WITH p AS (
  SELECT event_type,
         SUM(COALESCE(value - 50.0, 0.0) - 5.0) OVER w AS p_pos,
         SUM(-COALESCE(value - 50.0, 0.0) - 5.0) OVER w AS p_neg,
         row_number() OVER w AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n_rows
  FROM events
  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
s AS (
  SELECT event_type, rn, n_rows,
         p_pos - LEAST(0.0, MIN(p_pos) OVER w2) AS s_pos,
         p_neg - LEAST(0.0, MIN(p_neg) OVER w2) AS s_neg
  FROM p
  WINDOW w2 AS (PARTITION BY event_type ORDER BY rn
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_type,
       CAST(n_rows AS BIGINT) AS rows_seen,
       {sql_dround('s_pos', 6)} AS cusum_pos,
       {sql_dround('s_neg', 6)} AS cusum_neg,
       (s_pos > 300.0 OR s_neg > 300.0) AS alarm
FROM s WHERE rn = n_rows
"""


def q_stream_incremental_lpa(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Incremental community detection (streaming/dedup.py::
    # incremental_label_propagation): the near-dup edge stream arrives
    # in two waves (split by pmod(id1+id2, 2) so both waves carry edges
    # of the same communities — the interleaving a naive
    # per-wave-compute-then-union would get wrong); each checkpointed
    # pass ingests ONLY the new edge files into an idempotent
    # ingest_epoch=N partition and recomputes the fixed-round
    # synchronous LPA over the compact edge state, checkpointing the
    # per-node labels. The edge set is union-additive and the recompute
    # is a pure function of it, so the final communities equal the
    # batch LPA on ALL edges — the oracle is q_label_propagation's
    # 4-round unroll VERBATIM. Raw text is scanned once to derive
    # edges; the epochs touch only (a, b) pairs.
    from python_mapreduce_spark.llm.dedup import ngram_jaccard_pairs  # noqa: PLC0415
    from python_mapreduce_spark.streaming.dedup import (  # noqa: PLC0415
        incremental_label_propagation,
        read_lpa_communities,
    )

    docs = table(spark, sf_dir, "documents")
    edges = ngram_jaccard_pairs(
        docs, "doc_id", "text", threshold=0.8, max_shingle_df=100,
        prefix_filter=True, positional_filter=True,
    ).select("id1", "id2")
    work = scratch_dir("incr_lpa")
    in_dir, ckpt, state = (
        os.path.join(work, "in"),
        os.path.join(work, "ckpt"),
        os.path.join(work, "state"),
    )
    edges.filter(F.pmod(F.col("id1") + F.col("id2"), F.lit(2)) == 0).write.mode(
        "append"
    ).parquet(in_dir)
    incremental_label_propagation(spark, in_dir, ckpt, state)
    edges.filter(F.pmod(F.col("id1") + F.col("id2"), F.lit(2)) == 1).write.mode(
        "append"
    ).parquet(in_dir)
    incremental_label_propagation(spark, in_dir, ckpt, state)
    return read_lpa_communities(spark, state)


def q_stream_incremental_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Incremental DISTINCT via KMV state (streaming/incremental.py::
    # incremental_kmv_sketch): the event stream arrives in two waves
    # split by event_id parity, so the same user lands in BOTH — the
    # overlap a naive additive recombination would double-count. The
    # KMV merge law (k smallest of the union of per-epoch k-mins == k
    # smallest of the union of the sets) restores additivity, and —
    # unlike the HLL twin, which needs a within-5% tolerance gate —
    # the reconstructed sketch is BIT-IDENTICAL to a batch sketch over
    # everything, so the oracle is SQL_KMV_DISTINCT verbatim.
    from python_mapreduce_spark.session import tune  # noqa: PLC0415
    from python_mapreduce_spark.streaming.incremental import (  # noqa: PLC0415
        incremental_kmv_sketch,
        read_kmv_estimate,
    )

    tune(spark)
    events = table(spark, sf_dir, "events")
    work = scratch_dir("incr_kmv")
    in_dir, ckpt, state = (
        os.path.join(work, "in"),
        os.path.join(work, "ckpt"),
        os.path.join(work, "state"),
    )
    events.filter(F.col("event_id") % 2 == 0).write.mode("append").parquet(in_dir)
    incremental_kmv_sketch(spark, in_dir, ckpt, ["event_type"], "user_id", state, k=_KMV_K)
    events.filter(F.col("event_id") % 2 == 1).write.mode("append").parquet(in_dir)
    incremental_kmv_sketch(spark, in_dir, ckpt, ["event_type"], "user_id", state, k=_KMV_K)

    est = read_kmv_estimate(spark, state, ["event_type"], k=_KMV_K)
    exact = events.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("n_exact")
    )
    return exact.join(est, "event_type").select(
        "event_type", "n_exact", "n_kmv", "sketch_full"
    )


QUERIES: dict[str, Query] = {
    "q_stream_incremental_psi": Query(
        q_stream_incremental_psi,
        _SQL_PSI_DRIFT,
        "incremental PSI drift from additive per-epoch bucket state",
    ),
    "q_stream_incremental_jsd": Query(
        q_stream_incremental_jsd,
        _SQL_JSD_DRIFT,
        "incremental categorical JSD drift from additive per-epoch category state",
    ),
    "q_stream_incremental_auc": Query(
        q_stream_incremental_auc,
        _SQL_AUC,
        "incremental ROC AUC from additive per-epoch score-count state",
    ),
    "q_stream_static_join": Query(
        q_stream_static_join, SQL_STREAM_STATIC_JOIN, "stream-static broadcast dimension enrichment"
    ),
    "q_stream_stream_join": Query(
        q_stream_stream_join, SQL_STREAM_STREAM_JOIN, "watermarked stream-stream interval join"
    ),
    "q_stream_dedup_watermark": Query(
        q_stream_dedup_watermark, SQL_STREAM_DEDUP, "dropDuplicatesWithinWatermark"
    ),
    "q_stream_tumbling": Query(
        q_stream_tumbling, SQL_STREAM_TUMBLING, "streamed tumbling-window agg (AvailableNow)"
    ),
    "q_stream_sliding": Query(
        q_stream_sliding, SQL_STREAM_SLIDING, "sliding-window agg (1h window, 30m slide)"
    ),
    "q_stream_incremental": Query(
        q_stream_incremental, SQL_STREAM_INCREMENTAL, "checkpointed incremental passes, additive"
    ),
    "q_stream_incremental_topk": Query(
        q_stream_incremental_topk,
        SQL_STREAM_INCREMENTAL_TOPK,
        "incremental heavy-hitters via mergeable top-k sketch state (exact within max_items)",
    ),
    "q_stream_incremental_kll": Query(
        q_stream_incremental_kll,
        SQL_STREAM_INCREMENTAL_KLL,
        "incremental quantiles via mergeable KLL sketch state (rank-tolerance oracle)",
    ),
    "q_stream_incremental_contamination": Query(
        q_stream_incremental_contamination,
        SQL_TEXT_CONTAMINATION_FULL,
        "incremental contamination audit via idempotent per-epoch partials",
    ),
    "q_stream_incremental_hll": Query(
        q_stream_incremental_hll,
        SQL_STREAM_INCREMENTAL_HLL,
        "incremental distinct via mergeable HLL sketch state (tolerance oracle)",
    ),
    "q_stream_session_window": Query(
        q_stream_session_window, SQL_STREAM_SESSION, "session_window aggregation"
    ),
    "q_stream_stateful_max": Query(
        q_stream_stateful_max, SQL_STREAM_STATEFUL_MAX, "applyInPandasWithState running max"
    ),
    "q_stream_incremental_dedup": Query(
        q_stream_incremental_dedup,
        SQL_STREAM_INCR_DEDUP,
        "incremental corpus near-dup filter (band-key state, canonical-min rule)",
    ),
    "q_stream_cusum": Query(
        q_stream_cusum, SQL_STREAM_CUSUM, "streaming CUSUM monitor vs batch fold"
    ),
    "q_stream_incremental_lpa": Query(
        q_stream_incremental_lpa,
        SQL_LABEL_PROPAGATION,
        "incremental LPA communities: per-epoch edge deltas + checkpointed labels; oracle = batch LPA on the union",
    ),
    "q_stream_incremental_kmv": Query(
        q_stream_incremental_kmv,
        SQL_KMV_DISTINCT,
        "incremental distinct via KMV merge-law state: bit-identical to the batch sketch, exact-replay oracle",
    ),
}
