"""The benchmark's workloads: which registry queries run, on what inputs, and why.

Each workload names the layer it is built to stress, so that a change to
that layer has one workload that exercises it and others that bypass it.
``scale`` is the scale factor of the generated sf-style input directory
(``inputs.write_sf_dir``); the warmup twin always uses ``TINY_SCALE``.
"""

from __future__ import annotations

from dataclasses import dataclass

TINY_SCALE = 0.001


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    scale: float
    queries: tuple[str, ...]


WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        Workload(
            name="sql_sf01",
            why=(
                "JVM-only relational, window and event queries: per-stage fixed "
                "cost, planning and scheduling dominate; no Python worker or "
                "iterative loop runs."
            ),
            scale=0.02,
            queries=(
                "q01_pricing_summary",
                "q05_region_revenue",
                "q13_order_count_dist",
                "q21_sole_returner",
                "q_filter_project",
                "q_json_extract",
                "q_bloom_semi_join",
                "q_window_rank_scalable",
                "q_sessionize",
            ),
        ),
        Workload(
            name="mr_ingest",
            why=(
                "The reference's own pipeline through the mapreduce facade plus "
                "checkpointed incremental ingest: row-at-a-time Python, "
                "combiner-less shuffle, spill, append writes and commits dominate."
            ),
            scale=0.02,
            queries=(
                "q_mr_wordcount_gz",
                "q_mr_weighted_avg",
                "q_mr_stream_reduce",
                "q_mr_udtf_tokens",
                "q_stream_incremental",
            ),
        ),
        Workload(
            name="graph_dedup",
            why=(
                "Iterative graph loops with eager checkpoints and candidate "
                "self-joins over planted near-duplicates: many small jobs per "
                "query; the SQL workload bypasses all of it."
            ),
            scale=0.01,
            queries=(
                "q_cluster_split",
                "q_dedup_minhash",
                "q_sim_topk",
                "q_dedup_embedding_matmul",
            ),
        ),
    )
}
