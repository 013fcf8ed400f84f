"""Query sets for the per-family gates in ``test_r8_staged_plans.py`` and
``test_r8_staged_oracles.py``.

Besides the registered names, the gates check two library operators
that have no registry slot, end to end against DuckDB: incremental IVF
index maintenance (``streaming/ann.py``) and the Ed-Join Levenshtein
pair join (``llm/dedup.py::edit_distance_pairs``). Their unit tests are
``test_streaming_ann.py`` and ``test_edit_distance.py``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_mapreduce_spark.registry import Query
from python_mapreduce_spark.registry._util import table
from python_mapreduce_spark.scratch import scratch_dir

# The graph, retrieval and IVF-PQ entries of registry/llm.py.
GRAPH_RETRIEVAL_ANN = (
    "q_kcore",
    "q_label_propagation",
    "q_bm25_topk",
    "q_hybrid_retrieval",
    "q_retrieval_ndcg",
    "q_sim_ann_ivf_pq",
    "q_sim_ann_ivf_pq_recall",
)

# The stream_* entries of registry/streaming.py that pair with q_cusum,
# q_label_propagation and q_kmv_distinct.
STREAMING = ("q_stream_cusum", "q_stream_incremental_lpa", "q_stream_incremental_kmv")


def _build_incr_ivf_state(
    spark: SparkSession,
    sf_dir: str,
    *,
    epochs: int = 3,
    retrain_skew: float | None = None,
) -> str:
    """Split the embeddings table into ``epochs`` epoch files by vec_id
    range (same-distribution slices: centroids freeze after the first),
    ingest them in checkpointed passes, and return the state dir."""
    from python_mapreduce_spark.streaming.ann import incremental_ivf_index  # noqa: PLC0415

    emb = table(spark, sf_dir, "embeddings")
    n = emb.count()
    cuts = [n * i // epochs for i in range(epochs)] + [n]
    work = scratch_dir("incr_ivf")
    in_dir, ckpt, state = (
        os.path.join(work, "in"),
        os.path.join(work, "ckpt"),
        os.path.join(work, "state"),
    )
    kwargs = {} if retrain_skew is None else {"retrain_skew": retrain_skew}
    for lo, hi in zip(cuts, cuts[1:]):
        emb.filter(
            (F.col("vec_id") >= lo) & (F.col("vec_id") < hi)
        ).write.mode("append").parquet(in_dir)
        incremental_ivf_index(spark, in_dir, ckpt, state, **kwargs)
    return state


def q_stream_incremental_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Three epoch ingests, new vectors assigned against the frozen
    # first-epoch centroids, top-k served from the reconstructed
    # epoch-partitioned index through the same probe/score stage as
    # batch IVF. Rows-only: approximate top-k sets are not
    # SQL-expressible.
    from python_mapreduce_spark.streaming.ann import read_ivf_topk  # noqa: PLC0415

    state = _build_incr_ivf_state(spark, sf_dir)
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return read_ivf_topk(spark, state, queries, "vec_id", "embedding", k=5)


def q_stream_incremental_ivf_retrain(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Two epoch halves with retrain_skew=-1 force the one O(corpus)
    # retrain at epoch 1, on every input. Emits the index meta plus a
    # Spark-side consistency audit; the oracle replays the
    # SQL-derivable facts (version = the retrain epoch, nlist = the
    # ivf_dials sqrt rule, total_n = the distinct-id count) and pins
    # the audit booleans TRUE, so stale cvers rows or stats diverging
    # from assignments fail the comparison.
    from python_mapreduce_spark.streaming.ann import read_ivf_meta  # noqa: PLC0415

    state = _build_incr_ivf_state(spark, sf_dir, epochs=2, retrain_skew=-1.0)
    if not os.path.isdir(os.path.join(state, "centroids")):
        return spark.createDataFrame(
            [],
            "version long, nlist long, total_n long, retrained boolean, "
            "stats_consistent boolean",
        )
    meta = read_ivf_meta(spark, state)
    stats = spark.read.parquet(os.path.join(state, "list_stats"))
    asg = spark.read.parquet(os.path.join(state, "assignments"))
    vers_row = stats.agg(
        F.countDistinct("cvers").alias("n_vers"), F.max("cvers").alias("max_vers")
    )
    per_list = (
        asg.groupBy("cluster")
        .agg(F.count(F.lit(1)).cast("long").alias("n_asg"))
        .join(
            stats.groupBy("cluster").agg(F.sum("n").cast("long").alias("n_stat")),
            "cluster",
            "full",
        )
    )
    mismatches = per_list.filter(
        F.coalesce(F.col("n_asg"), F.lit(-1)) != F.coalesce(F.col("n_stat"), F.lit(-2))
    ).agg(F.count(F.lit(1)).alias("n_bad"))
    return (
        meta.join(F.broadcast(vers_row))
        .join(F.broadcast(mismatches))
        .select(
            F.col("version").cast("long").alias("version"),
            F.col("nlist").cast("long").alias("nlist"),
            F.col("total_n").cast("long").alias("total_n"),
            (F.col("version") >= 1).alias("retrained"),
            (
                (F.col("n_vers") == 1)
                & (F.col("max_vers") == F.col("version"))
                & (F.col("n_bad") == 0)
            ).alias("stats_consistent"),
        )
    )


SQL_INCR_IVF_RETRAIN = """
WITH n AS (SELECT CAST(count(*) AS BIGINT) AS c FROM embeddings)
SELECT CAST(1 AS BIGINT) AS version,
       CAST(greatest(8, round(sqrt(c) / 20.0)) AS BIGINT) AS nlist,
       c AS total_n,
       TRUE AS retrained,
       TRUE AS stats_consistent
FROM n WHERE c > 0
"""


def q_edit_distance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # All part-name pairs within Levenshtein distance 1 via
    # positional-q-gram prefix filtering + codegen levenshtein verify,
    # over a fixed key bound, as a per-distance aggregate with
    # order-insensitive id-sum checksums: the oracle recomputes the
    # truth quadratically, so a single lost or phantom pair flips a
    # checksum.
    from python_mapreduce_spark.llm.dedup import edit_distance_pairs  # noqa: PLC0415

    part = table(spark, sf_dir, "part").filter(F.col("p_partkey") < 4000)
    pairs = edit_distance_pairs(part, "p_partkey", "p_name", max_distance=1)
    return pairs.groupBy("distance").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum("id1").cast("long").alias("sum_id1"),
        F.sum("id2").cast("long").alias("sum_id2"),
    )


SQL_EDIT_DISTANCE_PAIRS = """
WITH p AS (
  SELECT p_partkey, coalesce(p_name, '') AS p_name FROM part
  WHERE p_partkey < 4000
),
pairs AS (
  SELECT a.p_partkey AS id1, b.p_partkey AS id2,
         CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS distance
  FROM p a JOIN p b
    ON a.p_partkey < b.p_partkey
   AND abs(length(a.p_name) - length(b.p_name)) <= 1
)
SELECT distance, CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(id1) AS BIGINT) AS sum_id1,
       CAST(sum(id2) AS BIGINT) AS sum_id2
FROM pairs WHERE distance <= 1 GROUP BY distance
"""


LIBRARY_QUERIES: dict[str, Query] = {
    "q_stream_incremental_ivf": Query(
        q_stream_incremental_ivf,
        None,
        "incremental IVF ANN index (frozen-centroid epoch ingest; rows-only)",
    ),
    "q_stream_incremental_ivf_retrain": Query(
        q_stream_incremental_ivf_retrain,
        SQL_INCR_IVF_RETRAIN,
        "incremental IVF forced-retrain evidence: version bump + rewrite consistency",
    ),
    "q_edit_distance_pairs": Query(
        q_edit_distance_pairs,
        SQL_EDIT_DISTANCE_PAIRS,
        "Ed-Join: positional-q-gram prefix-filtered Levenshtein pair join",
    ),
}
