"""LLM-data-pipeline queries: dedup (exact / n-gram Jaccard / MinHash-LSH
/ SimHash / embedding-cosine), similarity search (brute-force + LSH ANN),
text analysis (stats / quality / language-ID / fingerprint / token
counts), multimodal column plumbing.

None of these exist in the reference (SURVEY.md §2.2 "North-star
extensions"); they are the operators that make the engine useful for
100 TB training-data preparation. Queries without ``sql`` use hash-free
algorithms DuckDB cannot reproduce (xxhash64 signatures, numpy LSH
planes, stubbed decoders) — their correctness is pinned by pytest
recall/equivalence tests instead (tests/test_llm_ops.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_mapreduce_spark.llm.dedup import (
    embedding_dedup_pairs_lsh,
    embedding_dedup_pairs_matmul,
    embedding_dedup_pairs_precluster,
    exact_dedup,
    minhash_dedup_pairs,
    ngram_jaccard_pairs,
    simhash,
)
from python_mapreduce_spark.llm.multimodal import (
    attach_binary_payload,
    extract_features,
    sample_frames,
)
from python_mapreduce_spark.llm.similarity import (
    ann_topk_lsh,
    cosine_topk,
    nearest_centroid_confusion,
)
from python_mapreduce_spark.llm.text import (
    BPE_ISH_PATTERN,
    clean_text,
    fingerprint,
    hashed_feature_score,
    md5_weights,
    language_id,
    ngram_contamination,
    pii_scrub,
    quality_score,
    repetition_stats,
    text_stats,
    heaps_law,
    tfidf_top_terms,
    tfidf_topk,
    token_counts,
    vocab_coverage,
    zipf_slope,
)
from python_mapreduce_spark.functions.scalar import dround, sql_dround, tokenize
from python_mapreduce_spark.registry import Query
from python_mapreduce_spark.registry._util import table

# Shared DuckDB fragments -----------------------------------------------------

_SQL_SHINGLES = """
sets AS (
  SELECT doc_id AS id,
         list_distinct(list_transform(
           generate_series(1, greatest(len(toks) - 2, 0)),
           i -> array_to_string(toks[i:i+2], ' ')
         )) AS shingles
  FROM (SELECT doc_id, regexp_extract_all(lower(coalesce(text, '')), '[a-z]+') AS toks FROM documents)
)
"""

_SQL_JACCARD_PAIRS = f"""
WITH {_SQL_SHINGLES},
posts AS (SELECT id, unnest(shingles) AS shingle FROM sets WHERE len(shingles) > 0),
sizes AS (SELECT id, CAST(len(shingles) AS BIGINT) AS sz FROM sets WHERE len(shingles) > 0),
inter AS (
  SELECT a.id AS id1, b.id AS id2, count(*) AS inter
  FROM posts a JOIN posts b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY 1, 2
)
SELECT id1, id2, jaccard FROM (
  SELECT id1, id2,
         floor(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) * 10000.0 + 0.5) / 10000.0
           AS jaccard
  FROM inter
  JOIN sizes sa ON id1 = sa.id
  JOIN sizes sb ON id2 = sb.id
) WHERE jaccard >= 0.8
"""

# Capped variant (df > 100 shingles dropped from the universe before the
# self-join, set sizes recomputed over kept shingles) — the SQL mirror of
# ngram_jaccard_pairs(max_shingle_df=100).
_SQL_JACCARD_PAIRS_CAPPED = f"""
WITH {_SQL_SHINGLES},
posts0 AS (SELECT id, unnest(shingles) AS shingle FROM sets WHERE len(shingles) > 0),
posts AS (
  SELECT id, shingle FROM posts0
  WHERE shingle IN (SELECT shingle FROM posts0 GROUP BY shingle HAVING count(*) <= 100)
),
sizes AS (SELECT id, count(*) AS sz FROM posts GROUP BY id),
inter AS (
  SELECT a.id AS id1, b.id AS id2, count(*) AS inter
  FROM posts a JOIN posts b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY 1, 2
)
SELECT id1, id2, jaccard FROM (
  SELECT id1, id2,
         floor(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) * 10000.0 + 0.5) / 10000.0
           AS jaccard
  FROM inter
  JOIN sizes sa ON id1 = sa.id
  JOIN sizes sb ON id2 = sb.id
) WHERE jaccard >= 0.8
"""


# --- dedup -------------------------------------------------------------------

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    # hash key_mode: the 100 TB shuffle carries 32-byte md5 keys, not
    # kilobyte documents (llm/dedup.py::exact_dedup).
    return exact_dedup(table(spark, sf_dir, "documents"), "doc_id", "text")


SQL_DEDUP_EXACT = r"""
SELECT md5(trim(regexp_replace(lower(coalesce(text, '')), '\s+', ' ', 'g'))) AS text_fp,
       min(doc_id) AS keep_id,
       count(*) AS n_copies
FROM documents GROUP BY 1
"""


def q_crossdoc_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Cross-document duplicate-text coverage (llm/dedup.py::
    # crossdoc_dup_coverage): per-doc fraction of 5-gram instances whose
    # gram occurs in >= 2 distinct documents — the exact-substring dedup
    # signal (Lee et al. 2022). Gram keys travel as md5 digests so the
    # shuffle never carries raw text.
    from python_mapreduce_spark.llm.dedup import crossdoc_dup_coverage  # noqa: PLC0415

    return crossdoc_dup_coverage(table(spark, sf_dir, "documents"), "doc_id", "text")


SQL_CROSSDOC_NGRAMS = f"""
WITH base AS (
  SELECT doc_id AS id, regexp_extract_all(lower(coalesce(text, '')), '[a-z]+') AS toks
  FROM documents
),
posts AS (
  SELECT id, md5(g) AS gk
  FROM (SELECT id, unnest(list_transform(
          generate_series(1, greatest(len(toks) - 4, 0)),
          i -> array_to_string(toks[i:i+4], ' '))) AS g
        FROM base)
),
gd AS (
  SELECT gk FROM posts GROUP BY gk HAVING count(DISTINCT id) >= 2
),
perdoc AS (
  SELECT p.id,
         CAST(count(*) AS BIGINT) AS n_grams,
         CAST(count(g.gk) AS BIGINT) AS n_dup
  FROM posts p LEFT JOIN gd g USING (gk)
  GROUP BY p.id
)
SELECT b.id,
       coalesce(pd.n_grams, 0) AS n_grams,
       coalesce(pd.n_dup, 0) AS n_dup,
       {sql_dround('coalesce(pd.n_dup, 0) / CAST(greatest(coalesce(pd.n_grams, 0), 1) AS DOUBLE)', 4)} AS dup_coverage
FROM (SELECT id FROM base) b LEFT JOIN perdoc pd USING (id)
"""


def q_dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # max_shingle_df is the 100 TB skew guard (one stop-shingle shared by
    # 1% of the corpus makes the postings join quadratic); the SQL twin
    # implements the same cap. On this corpus max df is ~25, so the cap
    # drops nothing and the result equals the exact pair set.
    return ngram_jaccard_pairs(
        table(spark, sf_dir, "documents"), "doc_id", "text",
        n=3, threshold=0.8, max_shingle_df=100, prefix_filter=True, positional_filter=True,
    )


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # LSH candidates + exact verification: equals the exact pair set
    # whenever banded-LSH recall holds (P(miss) < 1e-7 at j >= 0.8 with
    # 32 hashes / 8 bands), so the exact-Jaccard SQL is a valid oracle —
    # any recall miss surfaces as a hash mismatch, which is the point.
    return minhash_dedup_pairs(
        table(spark, sf_dir, "documents"), "doc_id", "text",
        n=3, num_hashes=32, bands=8, rows=4, threshold=0.8,
    )


def q_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Composition audit: near-dup pairs STRADDLING train/val/test — the
    # split-leakage check run before training (a test doc whose near-dup
    # sits in train inflates eval). Composes two verified operators:
    # hash_split assigns splits, minhash_dedup_pairs (16x2 banding —
    # candidate miss ~1e-7 at j>=0.8, so a regenerated borderline pair
    # cannot flip the exact-Jaccard oracle) finds the pairs; per
    # unordered split-pair counts + the min observed jaccard.
    from python_mapreduce_spark.llm.dedup import minhash_dedup_pairs  # noqa: PLC0415
    from python_mapreduce_spark.operators.relational import hash_split  # noqa: PLC0415

    docs = table(spark, sf_dir, "documents")
    splits = hash_split(docs.select("doc_id"), "doc_id")
    pairs = minhash_dedup_pairs(
        docs, "doc_id", "text", n=3, num_hashes=32, bands=16, rows=2, threshold=0.8
    )
    sa = splits.withColumnRenamed("doc_id", "id1").withColumnRenamed("split", "sp1")
    sb = splits.withColumnRenamed("doc_id", "id2").withColumnRenamed("split", "sp2")
    return (
        pairs.join(sa, "id1")
        .join(sb, "id2")
        .groupBy(
            F.least("sp1", "sp2").alias("split_a"),
            F.greatest("sp1", "sp2").alias("split_b"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            dround(F.min("jaccard"), 4).alias("min_jaccard"),
        )
    )


SQL_SPLIT_LEAKAGE = f"""
WITH pairs AS ({_SQL_JACCARD_PAIRS}),
s AS (
  SELECT doc_id,
         CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
                   < '{format(round(0.8 * 65536), "04x")}' THEN 'train'
              WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
                   < '{format(round(0.9 * 65536), "04x")}' THEN 'val'
              ELSE 'test' END AS split
  FROM documents
)
SELECT least(sa.split, sb.split) AS split_a,
       greatest(sa.split, sb.split) AS split_b,
       CAST(count(*) AS BIGINT) AS n_pairs,
       {sql_dround('min(p.jaccard)', 4)} AS min_jaccard
FROM pairs p
JOIN s sa ON p.id1 = sa.doc_id
JOIN s sb ON p.id2 = sb.doc_id
GROUP BY 1, 2
"""


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Pairs -> GROUPS: MinHash near-dup pairs fed through min-label
    # propagation connected components (llm/dedup.py), emitting one row
    # per dup cluster (smallest member id + size) — the step that decides
    # which documents to keep. The oracle replays the exact-Jaccard pair
    # graph and a recursive-CTE reachability closure in DuckDB.
    from python_mapreduce_spark.llm.dedup import connected_components

    pairs = minhash_dedup_pairs(
        table(spark, sf_dir, "documents"), "doc_id", "text",
        n=3, num_hashes=32, bands=8, rows=4, threshold=0.8,
    )
    comps = connected_components(pairs.select("id1", "id2"))
    return comps.groupBy("cluster").agg(F.count(F.lit(1)).alias("n_members"))


SQL_DEDUP_CLUSTERS = f"""
WITH RECURSIVE
{_SQL_SHINGLES},
posts AS (SELECT id, unnest(shingles) AS shingle FROM sets WHERE len(shingles) > 0),
sizes AS (SELECT id, CAST(len(shingles) AS BIGINT) AS sz FROM sets WHERE len(shingles) > 0),
inter AS (
  SELECT a.id AS id1, b.id AS id2, count(*) AS inter
  FROM posts a JOIN posts b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY 1, 2
),
pairs AS (
  SELECT id1, id2 FROM (
    SELECT id1, id2,
           floor(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) * 10000.0 + 0.5) / 10000.0
             AS jaccard
    FROM inter
    JOIN sizes sa ON id1 = sa.id
    JOIN sizes sb ON id2 = sb.id
  ) WHERE jaccard >= 0.8
),
sym AS (SELECT id1 AS a, id2 AS b FROM pairs UNION ALL SELECT id2, id1 FROM pairs),
reach(node, label) AS (
  SELECT a, a FROM sym
  UNION
  SELECT s.b, r.label FROM reach r JOIN sym s ON s.a = r.node
)
SELECT cluster, CAST(count(*) AS BIGINT) AS n_members FROM (
  SELECT node, min(label) AS cluster FROM reach GROUP BY node
) GROUP BY cluster
"""


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 64-bit fingerprints (llm/dedup.py::simhash). The token hash is
    # md5-derived (two 32-bit hex halves), so the oracle replays the
    # ENTIRE vote loop bit-for-bit — this converted the last
    # substantive rows-only registry row into a hash row (VERDICT r4
    # item 7). Zero-token docs drop out of explode on both sides.
    return simhash(table(spark, sf_dir, "documents"), "doc_id", "text")


SQL_SIMHASH = """
WITH toks AS (
  SELECT doc_id AS id,
         unnest(regexp_extract_all(lower(coalesce(text, '')), '[a-z]+')) AS tok
  FROM documents
),
hashed AS (
  SELECT id,
         CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) AS hi,
         CAST(('0x' || substr(md5(tok), 9, 8)) AS BIGINT) AS lo
  FROM toks
),
votes AS (
  SELECT id, k,
         sum(CASE WHEN ((CASE WHEN k < 32 THEN (lo >> k)
                              ELSE (hi >> (k - 32)) END) & 1) = 1
                  THEN 1 ELSE -1 END) AS v
  FROM hashed CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS k) bits
  GROUP BY id, k
)
SELECT id,
       CAST(sum(CASE WHEN v > 0 THEN
                  CASE WHEN k = 63 THEN -9223372036854775807 - 1
                       ELSE (CAST(1 AS BIGINT) << k) END
                ELSE 0 END) AS BIGINT) AS simhash64
FROM votes GROUP BY id
"""


def q_dedup_simhash_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Driver-checkable SimHash evaluation (tolerance-oracle pattern),
    # per-pair: every exact-Jaccard near-dup pair (j >= 0.95) must land
    # within a 16-bit hamming ball of the 64-bit fingerprints (measured
    # max hamming 5-9 across sf0.001-0.1). The row carries the full
    # per-pair accounting so a partially broken fingerprint cannot hide
    # behind a single aggregate boolean:
    #   * n_within_radius must equal n_pairs and n_beyond_radius must be
    #     0 — ONE bad pair flips both counts against the oracle;
    #   * max_hamming_clamped16 = max(max hamming, 16): deterministic 16
    #     when healthy, and shows the actual offending magnitude on
    #     failure. The oracle reproduces the (SQL-expressible) pair
    #     count and the healthy literals.
    docs = table(spark, sf_dir, "documents")
    # df cap = the standard stop-shingle guard (see q_dedup_jaccard); at
    # every driver-checked SF max shingle df < 100 (sf0.1 measured 0 hot
    # shingles) so the pair set is unchanged there, while the postings
    # join stays bounded on saturated corpora (bench_scale r6 measured
    # uncapped pairs growing x58.8 on the 10x synthetic). The oracle
    # replays the cap (posts0 -> HAVING df <= 100 -> recomputed sizes),
    # so the twin also agrees on saturated inputs — the CONST-TEXT
    # robustness replica pins this.
    pairs = ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.95, max_shingle_df=100,
        prefix_filter=True, positional_filter=True,
    )
    fps = simhash(docs, "doc_id", "text")
    f1 = fps.select(F.col("id").alias("id1"), F.col("simhash64").alias("h1"))
    f2 = fps.select(F.col("id").alias("id2"), F.col("simhash64").alias("h2"))
    ham = F.bit_count(F.col("h1").bitwiseXOR(F.col("h2")))
    joined = pairs.join(f1, "id1").join(f2, "id2")
    # coalesces: with zero qualifying pairs the sums/max are NULL, but
    # the oracle emits literals — vacuously healthy must compare equal.
    return joined.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.coalesce(F.sum((ham <= 16).cast("long")), F.lit(0)).alias("n_within_radius"),
        F.coalesce(F.sum((ham > 16).cast("long")), F.lit(0)).alias("n_beyond_radius"),
        F.greatest(F.coalesce(F.max(ham), F.lit(0)), F.lit(16))
        .cast("long")
        .alias("max_hamming_clamped16"),
    )


SQL_SIMHASH_EVAL = f"""
WITH {_SQL_SHINGLES},
posts0 AS (SELECT id, unnest(shingles) AS shingle FROM sets WHERE len(shingles) > 0),
posts AS (
  SELECT id, shingle FROM posts0
  WHERE shingle IN (SELECT shingle FROM posts0 GROUP BY shingle HAVING count(*) <= 100)
),
sizes AS (SELECT id, CAST(count(*) AS BIGINT) AS sz FROM posts GROUP BY id),
inter AS (
  SELECT a.id AS id1, b.id AS id2, count(*) AS inter
  FROM posts a JOIN posts b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY 1, 2
)
SELECT CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(count(*) AS BIGINT) AS n_within_radius,
       CAST(0 AS BIGINT) AS n_beyond_radius,
       CAST(16 AS BIGINT) AS max_hamming_clamped16
FROM (
  SELECT id1, id2,
         floor(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) * 10000.0 + 0.5) / 10000.0
           AS jaccard
  FROM inter
  JOIN sizes sa ON id1 = sa.id
  JOIN sizes sb ON id2 = sb.id
) WHERE jaccard >= 0.95
"""


def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Banded-LSH candidates + exact verify (equi-join on band key, no
    # nested loop) — the corpus-scale form. The all-pairs SQL twin is a
    # valid oracle because per-pair recall miss is ~5e-6 at cos 0.4 with
    # 24x2 banding (deterministic seeded planes; equality with all-pairs
    # is also pinned in tests/test_llm_ops.py). Three regimes, all
    # driver-verified against the same oracle: this one (beyond-broadcast
    # corpora), q_dedup_embedding_matmul (corpus matrix fits in executor
    # memory — ~10x faster here), and the BNLJ all-pairs operator as the
    # small-input reference. llm.dedup.embedding_dedup auto-dispatches
    # between the two production regimes from a corpus-size estimate so
    # a 100 TB caller cannot accidentally take the collect path.
    return embedding_dedup_pairs_lsh(
        table(spark, sf_dir, "embeddings"), "vec_id", "embedding", threshold=0.4
    )


def q_dedup_embedding_matmul(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Broadcast-matmul regime: one corpus scan, one BLAS matmul per
    # Arrow batch against the closed-over unit matrix — no join, no
    # shuffle, no per-pair vector transfer (0.8s vs 7.4s for the banded
    # form at sf0.1; the banding overhead only pays off past broadcast
    # size).
    return embedding_dedup_pairs_matmul(
        table(spark, sf_dir, "embeddings"), "vec_id", "embedding", threshold=0.4
    )


def q_dedup_embedding_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The production entry point: llm.dedup.embedding_dedup estimates
    # corpus-matrix size (rows x dim x 8) against a broadcast budget and
    # picks matmul under it, banded LSH over it — so callers at any
    # scale get a safe plan by default. Since r7 the LSH arm also
    # carries the candidate-budget guard (lsh_candidate_estimate; raise
    # or precluster re-route past max(20M, 200n) candidates), so a
    # random-background corpus can't start an unbounded verify. At
    # benchmark SFs the corpus is far under budget, so this exercises
    # the probe + matmul arm against the same all-pairs oracle; the LSH
    # arm, the dispatch boundary and the budget guard are pinned in
    # tests/test_llm_ops.py.
    from python_mapreduce_spark.llm.dedup import embedding_dedup  # noqa: PLC0415

    return embedding_dedup(
        table(spark, sf_dir, "embeddings"), "vec_id", "embedding", threshold=0.4
    )


SQL_DEDUP_EMBEDDING = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
SELECT id1, id2, cos FROM (
  SELECT a.vec_id AS id1, b.vec_id AS id2,
         floor(list_dot_product(a.v, b.v)
               / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
               * 1000000.0 + 0.5) / 1000000.0 AS cos
  FROM e a JOIN e b ON a.vec_id < b.vec_id
) WHERE cos >= 0.4
"""


# --- similarity search ---------------------------------------------------------

def q_sim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return cosine_topk(emb, queries, "vec_id", "embedding", k=5)


SQL_SIM_TOPK = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         floor(list_dot_product(q.v, c.v)
               / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v)))
               * 1000000.0 + 0.5) / 1000000.0 AS cos
  FROM e q JOIN e c ON q.vec_id < 10 AND c.vec_id != q.vec_id
)
SELECT query_id, rn, neighbor_id, cos FROM (
  SELECT *, CAST(row_number() OVER (
      PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rn
  FROM scored)
WHERE rn <= 5
"""


def q_sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    # IVF inverted-list ANN (second scale path): distributed k-means
    # coarse quantizer, nprobe-bucket search with CORPUS-ADAPTIVE dials
    # (llm/similarity.py::ivf_dials — nlist ~ sqrt(n), measurement-
    # pinned floors). Not SQL-expressible (centroids from distributed
    # float sums); recall pinned in pytest.
    from python_mapreduce_spark.llm.similarity import ann_topk_ivf

    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return ann_topk_ivf(emb, queries, "vec_id", "embedding", k=5, iters=3)


def q_sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Approximate variant: numpy hyperplane signatures (seeded) are not
    # SQL-reproducible; recall vs q_sim_topk is asserted in pytest and
    # driver-checked by q_sim_ann_lsh_recall below.
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return ann_topk_lsh(emb, queries, "vec_id", "embedding", k=5, planes=6)


def _ann_recall_eval(exact: DataFrame, approx: DataFrame, threshold: float) -> DataFrame:
    """One-row evaluation frame: n_queries + the recall floor.

    The tolerance-oracle pattern for ANN: the exact top-k pair set is
    the ground truth and recall is computed inside the same Spark job.
    ``recall_floor`` = least(recall, threshold): the threshold literal
    when the floor holds (what the DuckDB twin emits), and the ACTUAL
    deficient recall on failure — so a red row carries the magnitude of
    the miss, not just a boolean.
    """
    ex = exact.select("query_id", "neighbor_id")
    ap = approx.select("query_id", "neighbor_id").withColumn("__hit", F.lit(1))
    tagged = ex.join(ap, ["query_id", "neighbor_id"], "left")
    return tagged.agg(
        F.countDistinct("query_id").cast("long").alias("n_queries"),
        F.least(
            dround(
                F.sum(F.coalesce(F.col("__hit"), F.lit(0))) / F.count(F.lit(1)), 4
            ),
            F.lit(threshold),
        ).alias("recall_floor"),
    )


def q_sim_ann_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Multi-probe LSH against the brute-force ground truth. Dials
    # (tools/measure_ann_recall.py, r4): radius 4 over 6 planes = 57/64
    # buckets probed; measured recall 0.92-1.00 across sf0.001/0.01/0.1
    # x plane seeds {42, 7, 2024} (radius 3 measured 0.72-0.88 — below a
    # meaningful floor); asserted >= 0.9. Probes multiply only the
    # broadcast query table, so the high probe fraction is the correct
    # price for a hard recall floor at these corpus sizes.
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = cosine_topk(emb, queries, "vec_id", "embedding", k=5)
    approx = ann_topk_lsh(
        emb, queries, "vec_id", "embedding", k=5, planes=6, probe_radius=4
    )
    return _ann_recall_eval(exact, approx, 0.9)


def q_sim_ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    # IVF against brute force, on the corpus-adaptive dials
    # (llm/similarity.py::ivf_dials). Measured (tools/
    # measure_ann_recall.py): the sqrt rule resolves to (8 lists, 6
    # probed) at sf0.001/0.01/0.1 — recall 0.92-0.94 (r4; the old 8/3/2
    # dials measured 0.58-0.66) — and to the (16, 10) scale dials at
    # 100k vectors — recall 0.860 vs exactly 0.800 for pinned 8/6
    # (VERDICT r5 item 4); asserted >= 0.8 at every size, with margin.
    from python_mapreduce_spark.llm.similarity import ann_topk_ivf

    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = cosine_topk(emb, queries, "vec_id", "embedding", k=5)
    approx = ann_topk_ivf(emb, queries, "vec_id", "embedding", k=5, iters=3)
    return _ann_recall_eval(exact, approx, 0.8)


def _sql_ann_recall(threshold: float) -> str:
    return f"""
SELECT CAST(count(DISTINCT vec_id) AS BIGINT) AS n_queries,
       CAST({threshold} AS DOUBLE) AS recall_floor
FROM embeddings WHERE vec_id < 10
"""


# --- text analysis -------------------------------------------------------------

def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_stats(table(spark, sf_dir, "documents"), "doc_id", "text")


SQL_TEXT_STATS = """
WITH t AS (
  SELECT doc_id,
         CAST(length(coalesce(text, '')) AS BIGINT) AS n_chars,
         CAST(len(regexp_extract_all(lower(coalesce(text, '')), '[a-z]+')) AS BIGINT) AS n_tokens,
         CAST(length(regexp_replace(lower(coalesce(text, '')), '[^a-z]', '', 'g')) AS BIGINT) AS n_alpha,
         CAST(length(regexp_replace(lower(coalesce(text, '')), '[a-z ]', '', 'g')) AS BIGINT) AS n_punct,
         CAST(len(list_filter(regexp_extract_all(lower(coalesce(text, '')), '[a-z]+'),
              t -> t IN ('the','a','of','and','to','is'))) AS BIGINT) AS n_stop
  FROM documents
)
SELECT doc_id, n_chars, n_tokens,
       floor(CAST(n_alpha AS DOUBLE) / greatest(n_tokens, 1) * 10000.0 + 0.5) / 10000.0 AS avg_token_len,
       floor(CAST(n_punct AS DOUBLE) / greatest(n_chars, 1) * 10000.0 + 0.5) / 10000.0 AS punct_ratio,
       floor(CAST(n_stop  AS DOUBLE) / greatest(n_tokens, 1) * 10000.0 + 0.5) / 10000.0 AS stopword_ratio
FROM t
"""


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_score(table(spark, sf_dir, "documents"), "doc_id", "text")


SQL_TEXT_QUALITY = f"""
WITH s AS ({SQL_TEXT_STATS})
SELECT doc_id,
       floor((0.4 * least(n_tokens / 100.0, 1.0)
            + 0.3 * (1.0 - punct_ratio)
            + 0.3 * least(stopword_ratio * 4.0, 1.0)) * 10000.0 + 0.5) / 10000.0 AS quality
FROM s
"""


def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    return language_id(table(spark, sf_dir, "documents"), "doc_id", "text")


SQL_TEXT_LANGID = """
WITH sw(lang, word) AS (VALUES
  ('en','the'),('en','a'),('en','of'),('en','and'),('en','to'),('en','is'),
  ('de','der'),('de','die'),('de','das'),('de','und'),('de','ist'),
  ('es','el'),('es','la'),('es','de'),('es','que'),('es','es'),
  ('fr','le'),('fr','la'),('fr','les'),('fr','et'),('fr','est')),
toks AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(coalesce(text, '')), '[a-z]+')) AS word
  FROM documents),
votes AS (
  SELECT doc_id, lang, count(*) AS hits
  FROM toks JOIN sw USING (word)
  GROUP BY doc_id, lang),
best AS (
  SELECT doc_id, lang FROM (
    SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY hits DESC, lang) AS rn
    FROM votes) WHERE rn = 1)
SELECT d.doc_id, coalesce(b.lang, 'unknown') AS pred_lang
FROM documents d LEFT JOIN best b ON d.doc_id = b.doc_id
"""


def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return fingerprint(table(spark, sf_dir, "documents"), "doc_id", "text")


SQL_TEXT_FINGERPRINT = r"""
SELECT doc_id, md5(trim(regexp_replace(lower(coalesce(text, '')), '\s+', ' ', 'g'))) AS fp
FROM documents
"""


def q_text_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Fuzzy (edit-distance) matching with blocking — the third dedup
    # signal family next to shingle-Jaccard and embedding cosine. Same
    # scale shape as every dedup operator here: a cheap blocking key
    # (8-char lowercase prefix) turns the candidate step into an
    # equi-join, and Levenshtein runs only within blocks — never
    # all-pairs. Both engines implement classic Levenshtein, so the
    # distances compare exactly.
    # NULL/empty documents are excluded from blocking: a degenerate ''
    # block would otherwise pair every empty doc with every other
    # (quadratic in the empty count, and lev('','') = 0 is not a match
    # signal). The oracle applies the same exclusion.
    d = (
        table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.substring(F.lower("text"), 1, 32).alias("s"),
            F.substring(F.lower("text"), 1, 8).alias("blk"),
        )
        .filter(F.length("blk") >= 1)
    )
    a, b = d.alias("a"), d.alias("b")
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk")) & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id1"),
            F.col("b.doc_id").alias("id2"),
            F.levenshtein(F.col("a.s"), F.col("b.s")).cast("long").alias("lev"),
        )
        .filter(F.col("lev") <= 5)
    )


SQL_TEXT_FUZZY = """
WITH d AS (
  SELECT doc_id, substr(lower(coalesce(text, '')), 1, 32) AS s, substr(lower(coalesce(text, '')), 1, 8) AS blk
  FROM documents
  WHERE length(coalesce(text, '')) >= 1
)
SELECT a.doc_id AS id1, b.doc_id AS id2,
       CAST(levenshtein(a.s, b.s) AS BIGINT) AS lev
FROM d a JOIN d b ON a.blk = b.blk AND a.doc_id < b.doc_id
WHERE levenshtein(a.s, b.s) <= 5
"""


def q_embedding_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Vector scalar math over the embedding column: L2 norm + dimension
    # per vector via JVM-side higher-order functions (fold of x*x). HOFs
    # run interpreted, which is why the HOT dedup/ANN paths use BLAS
    # matmul instead (llm/similarity.py) — but for a one-pass per-row
    # scalar the expression form keeps everything in the JVM with no
    # Arrow hop at all.
    emb = table(spark, sf_dir, "embeddings")
    sq_sum = F.aggregate(
        "embedding",
        F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double"),
    )
    return emb.select(
        "vec_id",
        F.size("embedding").cast("long").alias("dim"),
        dround(F.sqrt(sq_sum), 6).alias("l2_norm"),
    )


SQL_EMBEDDING_NORM = """
SELECT vec_id, CAST(len(embedding) AS BIGINT) AS dim,
       floor(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))
             * 1000000.0 + 0.5) / 1000000.0 AS l2_norm
FROM embeddings
"""


def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return token_counts(table(spark, sf_dir, "documents"), ["source"], "text")


SQL_TOKEN_COUNT = """
SELECT source,
       CAST(sum(len(regexp_extract_all(lower(coalesce(text, '')), '[a-z]+'))) AS BIGINT) AS total_tokens,
       count(*) AS n_docs
FROM documents GROUP BY source
"""


def q_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from python_mapreduce_spark.llm.text import bpe_token_counts

    return bpe_token_counts(table(spark, sf_dir, "documents"), ["source"], "text")


SQL_TOKEN_COUNT_BPE = r"""
SELECT source,
       CAST(sum(len(regexp_extract_all(coalesce(text, ''), '[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\s]')))
            AS BIGINT) AS total_bpe_tokens,
       count(*) AS n_docs
FROM documents GROUP BY source
"""


def q_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Overlapping token-window chunking (64-token windows, 16 overlap) —
    # the pre-embedding/sequence-packing fan-out. DuckDB replays the
    # identical window arithmetic over the same tokenization.
    from python_mapreduce_spark.llm.text import chunk_documents

    return chunk_documents(
        table(spark, sf_dir, "documents"), "doc_id", "text",
        chunk_tokens=64, overlap=16,
    )


SQL_DOC_CHUNKING = """
WITH t AS (
  SELECT doc_id AS id, regexp_extract_all(lower(coalesce(text, '')), '[a-z]+') AS toks
  FROM documents
),
c AS (
  SELECT id, toks,
         unnest(generate_series(0, greatest(CAST(ceil(CAST(len(toks) - 16 AS DOUBLE) / 48) AS BIGINT), 1) - 1)) AS chunk_no
  FROM t
)
SELECT id, chunk_no,
       coalesce(array_to_string(toks[CAST(chunk_no * 48 + 1 AS BIGINT) : CAST(chunk_no * 48 + 64 AS BIGINT)], ' '), '') AS chunk_text,
       CAST(len(toks[CAST(chunk_no * 48 + 1 AS BIGINT) : CAST(chunk_no * 48 + 64 AS BIGINT)]) AS BIGINT) AS n_chunk_tokens
FROM c
"""


def q_pipeline_prepare(spark: SparkSession, sf_dir: str) -> DataFrame:
    # End-to-end training-shard preparation — the composition a real
    # pipeline runs, as ONE declarative plan Catalyst optimizes whole:
    # fingerprint-dedup (keep the smallest doc_id per normalized text),
    # quality-filter the survivors, then per-source token/doc accounting.
    # Each stage is an operator verified on its own elsewhere; this query
    # verifies their composition.
    from python_mapreduce_spark.llm.text import quality_score

    d = table(spark, sf_dir, "documents")
    keep = (
        fingerprint(d, "doc_id", "text")
        .groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    # survivors feeds the quality scorer AND the re-attach join (2
    # consumers; uncut each replays the fingerprint pass + dedup join —
    # 4 corpus scans for one logical pass). One cut halves the scans.
    survivors = d.join(keep, "doc_id").localCheckpoint(eager=False)
    q = quality_score(survivors, "doc_id", "text").filter(F.col("quality") >= 0.5)
    kept = survivors.join(q.select("doc_id"), "doc_id")
    return token_counts(kept, ["source"], "text").withColumnRenamed(
        "total_tokens", "kept_tokens"
    ).withColumnRenamed("n_docs", "kept_docs")


SQL_PIPELINE_PREPARE = r"""
WITH fp AS (
  SELECT doc_id, source, text,
         md5(trim(regexp_replace(lower(coalesce(text, '')), '\s+', ' ', 'g'))) AS fp
  FROM documents
),
keep AS (SELECT min(doc_id) AS doc_id FROM fp GROUP BY fp),
survivors AS (SELECT f.* FROM fp f JOIN keep USING (doc_id)),
stats AS (
  SELECT doc_id, source, text,
         CAST(length(coalesce(text, '')) AS BIGINT) AS n_chars,
         CAST(len(regexp_extract_all(lower(coalesce(text, '')), '[a-z]+')) AS BIGINT) AS n_tokens,
         CAST(length(regexp_replace(lower(coalesce(text, '')), '[^a-z]', '', 'g')) AS BIGINT) AS n_alpha,
         CAST(length(regexp_replace(lower(coalesce(text, '')), '[a-z ]', '', 'g')) AS BIGINT) AS n_punct,
         CAST(len(list_filter(regexp_extract_all(lower(coalesce(text, '')), '[a-z]+'),
              t -> t IN ('the','a','of','and','to','is'))) AS BIGINT) AS n_stop
  FROM survivors
),
scored AS (
  SELECT doc_id, source, text,
         floor((0.4 * least(n_tokens / 100.0, 1.0)
              + 0.3 * (1.0 - floor(CAST(n_punct AS DOUBLE) / greatest(n_chars, 1) * 10000.0 + 0.5) / 10000.0)
              + 0.3 * least(floor(CAST(n_stop AS DOUBLE) / greatest(n_tokens, 1) * 10000.0 + 0.5) / 10000.0 * 4.0, 1.0))
              * 10000.0 + 0.5) / 10000.0 AS quality
  FROM stats
)
SELECT source,
       CAST(sum(len(regexp_extract_all(lower(coalesce(text, '')), '[a-z]+'))) AS BIGINT) AS kept_tokens,
       count(*) AS kept_docs
FROM scored WHERE quality >= 0.5
GROUP BY source
"""


# --- multimodal ----------------------------------------------------------------

def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = attach_binary_payload(table(spark, sf_dir, "documents"), "doc_id", "text")
    return media.select("media_id", "kind", "n_bytes", "checksum")


SQL_MULTIMODAL_META = """
SELECT doc_id AS media_id, 'image' AS kind,
       CAST(octet_length(encode(coalesce(text, ''))) AS BIGINT) AS n_bytes,
       md5(coalesce(text, '')) AS checksum
FROM documents
"""


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Stubbed decode kernel (no codecs in this env) — Spark plumbing
    # (binary batches through mapInPandas) is real. The stub derives
    # channel means from the payload bytes, and the corpus is pure ASCII,
    # so DuckDB can replay the identical arithmetic byte-by-byte — a full
    # value oracle for the decode plumbing, not just a rows check.
    from python_mapreduce_spark.functions.scalar import dround

    media = attach_binary_payload(table(spark, sf_dir, "documents"), "doc_id", "text")
    feats = extract_features(media)
    return feats.select("media_id", "n_bytes", dround(F.col("r_mean"), 4).alias("r_mean"))


SQL_MULTIMODAL_FEATURES = """
WITH d AS (SELECT doc_id, coalesce(text, '') AS text,
                  length(coalesce(text, '')) AS n FROM documents),
pos AS (SELECT doc_id, n, unnest(generate_series(1, n)) AS p, text
        FROM d WHERE n > 0),
agg AS (
  SELECT doc_id, any_value(n) AS n,
         sum(CASE WHEN (p - 1) % 3 = 0
                  THEN ascii(substr(text, CAST(p AS INT), 1)) ELSE 0 END) AS rsum
  FROM pos GROUP BY doc_id)
SELECT d.doc_id AS media_id, CAST(d.n AS BIGINT) AS n_bytes,
       CASE WHEN d.n = 0 THEN 0.0
            ELSE floor(CAST(agg.rsum AS DOUBLE)
                       / CAST((agg.n + 2) // 3 AS DOUBLE) * 10000.0 + 0.5)
                 / 10000.0 END AS r_mean
FROM d LEFT JOIN agg USING (doc_id)
"""


def q_media_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Exact media dedup by ingest checksum (llm/multimodal.py::
    # media_exact_dedup): identical payload bytes keep the smallest id;
    # only 32-hex checksums shuffle. ASCII corpus -> the oracle's md5
    # over the text IS the payload checksum.
    from python_mapreduce_spark.llm.multimodal import media_exact_dedup  # noqa: PLC0415

    media = attach_binary_payload(table(spark, sf_dir, "documents"), "doc_id", "text")
    return media_exact_dedup(media)


SQL_MEDIA_DEDUP = """
SELECT md5(coalesce(text, '')) AS checksum, min(doc_id) AS keep_id,
       count(*) AS n_copies
FROM documents GROUP BY 1
"""


def q_media_feature_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Perceptual near-dup pairs by decoded feature distance
    # (llm/multimodal.py::media_feature_dedup_pairs): stub-decoded
    # r-channel means, 0.05-wide blocking bins + adjacent-bin probes,
    # |diff| <= 0.01 verification — the banded-candidates shape on a
    # multimodal column. The oracle recomputes the stub feature
    # byte-exactly (as q_multimodal_features) and replays the all-pairs
    # rule; blocking guarantees candidate completeness at eps <= width.
    from python_mapreduce_spark.llm.multimodal import (  # noqa: PLC0415
        extract_features,
        media_feature_dedup_pairs,
    )

    media = attach_binary_payload(table(spark, sf_dir, "documents"), "doc_id", "text")
    feats = extract_features(media)
    return media_feature_dedup_pairs(
        feats, "media_id", "r_mean", eps=0.01, bucket_width=0.05
    )


SQL_MEDIA_FEATURE_DEDUP = """
WITH d AS (SELECT doc_id, coalesce(text, '') AS text,
                  length(coalesce(text, '')) AS n FROM documents),
pos AS (SELECT doc_id, n, unnest(generate_series(1, n)) AS p, text
        FROM d WHERE n > 0),
agg AS (
  SELECT doc_id, any_value(n) AS n,
         sum(CASE WHEN (p - 1) % 3 = 0
                  THEN ascii(substr(text, CAST(p AS INT), 1)) ELSE 0 END) AS rsum
  FROM pos GROUP BY doc_id),
feats AS (
  SELECT d.doc_id AS id,
         CASE WHEN d.n = 0 THEN 0.0
              ELSE floor(CAST(agg.rsum AS DOUBLE)
                         / CAST((agg.n + 2) // 3 AS DOUBLE) * 10000.0 + 0.5)
                   / 10000.0 END AS f
  FROM d LEFT JOIN agg USING (doc_id))
SELECT a.id AS id1, b.id AS id2,
       floor(abs(a.f - b.f) * 10000.0 + 0.5) / 10000.0 AS dist
FROM feats a JOIN feats b ON a.id < b.id
WHERE abs(a.f - b.f) <= 0.01
"""


def q_dup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Lee et al. exact-substring removal at 5-gram granularity
    # (llm/text.py::remove_duplicate_spans): overlapping spans shared by
    # >= 2 documents are cut from ALL copies; rebuilt text compared
    # byte-for-byte. Complements segment dedup (disjoint, keep-first)
    # and acts on the signal q_crossdoc_ngrams measures.
    from python_mapreduce_spark.llm.text import remove_duplicate_spans  # noqa: PLC0415

    return remove_duplicate_spans(
        table(spark, sf_dir, "documents"), "doc_id", "text", n=5, min_df=2
    )


SQL_DUP_SPAN_REMOVAL = """
WITH base AS (
  SELECT doc_id AS id, regexp_extract_all(lower(coalesce(text, '')), '[a-z]+') AS toks
  FROM documents
),
grams AS (
  SELECT id, i, md5(array_to_string(toks[i:i+4], ' ')) AS gh
  FROM (SELECT id, toks, unnest(generate_series(1, len(toks) - 4)) AS i
        FROM base WHERE len(toks) >= 5)
),
dup AS (SELECT gh FROM grams GROUP BY gh HAVING count(DISTINCT id) >= 2),
covered AS (
  SELECT DISTINCT g.id, unnest(generate_series(g.i - 1, g.i + 3)) AS tokpos
  FROM grams g JOIN dup USING (gh)
),
toks AS (
  SELECT b.id, p - 1 AS tokpos, b.toks[p] AS tok
  FROM base b, unnest(generate_series(1, len(b.toks))) t(p)
),
kept AS (
  SELECT t.id, t.tokpos, t.tok
  FROM toks t LEFT JOIN covered c ON t.id = c.id AND t.tokpos = c.tokpos
  WHERE c.id IS NULL
),
reb AS (
  SELECT id, CAST(count(*) AS BIGINT) AS kept_n,
         string_agg(tok, ' ' ORDER BY tokpos) AS text_clean
  FROM kept GROUP BY id
)
SELECT b.id,
       CAST(len(b.toks) AS BIGINT) AS n_tokens,
       CAST(len(b.toks) - coalesce(reb.kept_n, 0) AS BIGINT) AS n_removed,
       coalesce(reb.text_clean, '') AS text_clean
FROM base b LEFT JOIN reb ON b.id = reb.id
"""


def q_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Deterministic contrastive negatives (operators/windows.py::
    # negative_samples): 3 negatives per anchor as fixed rank offsets in
    # the md5-shuffled order — reproducible, salt-re-dealable, no RNG.
    # The oracle replays the md5 rank (a window is fine in DuckDB) and
    # the stride rule.
    from python_mapreduce_spark.operators.windows import negative_samples  # noqa: PLC0415

    return negative_samples(table(spark, sf_dir, "documents"), "doc_id", k=3)


SQL_NEGATIVE_SAMPLES = """
WITH ranked AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS r
  FROM documents
),
n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
anchors AS (
  SELECT ranked.doc_id AS anchor_id, ranked.r, n.n, js.j
  FROM ranked CROSS JOIN n CROSS JOIN (SELECT unnest([1, 2, 3]) AS j) js
),
negk AS (
  SELECT anchor_id, j, r,
         ((r - 1 + greatest(n // 4, 1) * j) % n) + 1 AS neg_rank
  FROM anchors
)
SELECT negk.anchor_id, ranked.doc_id AS neg_id, CAST(negk.j AS INTEGER) AS j
FROM negk JOIN ranked ON negk.neg_rank = ranked.r
WHERE negk.neg_rank <> negk.r
"""


def q_data_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Per-language dataset card: the corpus summary a pipeline publishes
    # with a release — document/token counts, exact-duplicate share
    # (corpus-wide normalized fingerprints), and the Gopher keep rate —
    # composed entirely from verified components (exact_dedup's fp rule,
    # gopher_quality_flags, tokenize).
    from python_mapreduce_spark.llm.text import gopher_quality_flags  # noqa: PLC0415

    docs = table(spark, sf_dir, "documents")
    fp = F.md5(
        F.trim(
            F.regexp_replace(F.lower(F.coalesce(F.col("text"), F.lit(""))), r"\s+", " ")
        )
    )
    base = docs.select(
        "doc_id",
        F.coalesce("lang", F.lit("<null>")).alias("lang"),
        fp.alias("__fp"),
        F.size(tokenize(F.col("text"))).cast("long").alias("__ntok"),
    ).localCheckpoint(eager=False)  # copies agg + join both consume it:
    # without the cut the corpus tokenize/fingerprint pass runs twice
    fpc = base.groupBy("__fp").agg(F.count(F.lit(1)).alias("__copies"))
    keep = gopher_quality_flags(docs, "doc_id", "text").select(
        F.col("id").alias("doc_id"), F.col("keep").cast("long").alias("__keep")
    )
    per_doc = base.join(fpc, "__fp").join(keep, "doc_id")
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("__ntok").cast("long").alias("n_tokens"),
        F.sum((F.col("__copies") > 1).cast("long")).cast("long").alias("n_dup_docs"),
        dround(F.avg("__keep"), 4).alias("keep_rate"),
    )


SQL_DATA_CARD = f"""
WITH fpd AS (
  SELECT doc_id, coalesce(lang, '<null>') AS lang,
         md5(trim(regexp_replace(lower(coalesce(text, '')), '\\s+', ' ', 'g'))) AS fp,
         CAST(len(regexp_extract_all(lower(coalesce(text, '')), '[a-z]+')) AS BIGINT) AS ntok
  FROM documents
),
fpc AS (SELECT fp, count(*) AS copies FROM fpd GROUP BY fp),
g AS ({{GOPHER}})
SELECT fpd.lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(fpd.ntok) AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN fpc.copies > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
       {sql_dround('avg(CASE WHEN g.keep THEN 1.0 ELSE 0.0 END)', 4)} AS keep_rate
FROM fpd JOIN fpc USING (fp) JOIN g ON fpd.doc_id = g.id
GROUP BY fpd.lang
"""


def q_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Metadata-quality audit: the declared `lang` column cross-tabbed
    # against the stopword-vote prediction (llm/text.py::language_id) —
    # the label-noise check run before trusting corpus language tags
    # for mixing/splitting decisions. NULL declared langs surface as
    # their own row ('<null>') so missing metadata is visible, not
    # silently dropped.
    # language_id is a pure projection now, so the declared tag and the
    # prediction come off the SAME scan row — the former doc_id
    # self-join (an exchange per consumer) computed exactly this.
    from python_mapreduce_spark.llm.text import language_id_pred, tokenize  # noqa: PLC0415

    docs = table(spark, sf_dir, "documents")
    base = docs.select("lang", tokenize("text").alias("__toks"))
    return (
        base.groupBy(
            F.coalesce("lang", F.lit("<null>")).alias("lang"),
            language_id_pred("__toks").alias("pred_lang"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


SQL_LANGID_CONFUSION = """
WITH sw(lang, word) AS (VALUES
  ('en','the'),('en','a'),('en','of'),('en','and'),('en','to'),('en','is'),
  ('de','der'),('de','die'),('de','das'),('de','und'),('de','ist'),
  ('es','el'),('es','la'),('es','de'),('es','que'),('es','es'),
  ('fr','le'),('fr','la'),('fr','les'),('fr','et'),('fr','est')),
toks AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(coalesce(text, '')), '[a-z]+')) AS word
  FROM documents),
votes AS (
  SELECT doc_id, lang, count(*) AS hits
  FROM toks JOIN sw USING (word)
  GROUP BY doc_id, lang),
best AS (
  SELECT doc_id, lang FROM (
    SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY hits DESC, lang) AS rn
    FROM votes) WHERE rn = 1)
SELECT coalesce(d.lang, '<null>') AS lang,
       coalesce(b.lang, 'unknown') AS pred_lang,
       CAST(count(*) AS BIGINT) AS n
FROM documents d LEFT JOIN best b ON d.doc_id = b.doc_id
GROUP BY 1, 2
"""


def q_token_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Collocation mining (llm/text.py::token_pmi): document-incidence
    # PMI over the top-30 vocabulary (TakeOrdered, broadcast); pair
    # space bounded by N^2 per doc. Oracle replays vocab ranking,
    # incidence self-join, and the rounded log.
    from python_mapreduce_spark.llm.text import token_pmi  # noqa: PLC0415

    return token_pmi(
        table(spark, sf_dir, "documents"), "doc_id", "text", top_n=30, min_pair_docs=5
    )


SQL_TOKEN_PMI = f"""
WITH inc AS (
  SELECT DISTINCT doc_id AS id,
         unnest(regexp_extract_all(lower(coalesce(text, '')), '[a-z]+')) AS tok
  FROM documents
),
dfreq AS (SELECT tok, CAST(count(*) AS BIGINT) AS n_docs_tok FROM inc GROUP BY tok),
vocab AS (SELECT tok, n_docs_tok FROM dfreq ORDER BY n_docs_tok DESC, tok LIMIT 30),
vinc AS (SELECT inc.id, inc.tok FROM inc JOIN vocab USING (tok)),
pairs AS (
  SELECT a.tok AS tok1, b.tok AS tok2, CAST(count(*) AS BIGINT) AS n_ab
  FROM vinc a JOIN vinc b ON a.id = b.id AND a.tok < b.tok
  GROUP BY 1, 2 HAVING count(*) >= 5
),
n AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n FROM documents)
SELECT tok1, tok2, n_ab,
       {sql_dround('ln(CAST(n_ab AS DOUBLE) * n.n'
                   ' / (CAST(va.n_docs_tok AS DOUBLE) * CAST(vb.n_docs_tok AS DOUBLE)))', 4)} AS pmi
FROM pairs
JOIN vocab va ON pairs.tok1 = va.tok
JOIN vocab vb ON pairs.tok2 = vb.tok
CROSS JOIN n
"""


def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Inverted-index export (llm/text.py::build_inverted_index):
    # per-term df + top-20 "doc:tf" postings, trimmed BEFORE collection
    # by a term-partitioned row_number. The library returns the postings
    # as an array<string>; the registry contract serializes it to one
    # space-joined string (house rule: no top-level array/map columns in
    # registry outputs — the driver's pandas canonicalizer can't hash
    # ndarray cells; see CORRECTNESS_r05 q_inverted_index).
    from python_mapreduce_spark.llm.text import build_inverted_index  # noqa: PLC0415

    idx = build_inverted_index(
        table(spark, sf_dir, "documents"), "doc_id", "text", max_postings=20
    )
    return idx.withColumn("postings", F.array_join("postings", " "))


SQL_INVERTED_INDEX = """
WITH toks AS (
  SELECT doc_id AS id,
         unnest(regexp_extract_all(lower(coalesce(text, '')), '[a-z]+')) AS term
  FROM documents
),
tf AS (SELECT id, term, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2),
dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df_docs FROM tf GROUP BY 1),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY term ORDER BY tf DESC, id) AS rn FROM tf
),
posts AS (
  SELECT term,
         string_agg(CAST(id AS VARCHAR) || ':' || CAST(tf AS VARCHAR), ' '
                    ORDER BY tf DESC, id) AS postings
  FROM ranked WHERE rn <= 20 GROUP BY term
)
SELECT term, df_docs, postings FROM dfreq JOIN posts USING (term)
"""


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Fixed-iteration PageRank (llm/dedup.py::pagerank_fixed) over the
    # customer -> supplier graph derived from orders x lineitem —
    # iterative propagation with per-iteration 1e-6 rounding + DECIMAL
    # contribution sums, so the unrolled-CTE oracle matches exactly.
    from python_mapreduce_spark.llm.dedup import pagerank_fixed  # noqa: PLC0415

    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    edges = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
        F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
    )
    return pagerank_fixed(edges, "src", "dst", iterations=3)


def _sql_pagerank(iterations: int = 3, damping: float = 0.85) -> str:
    r6 = lambda x: f"floor(({x}) * 1000000.0 + 0.5) / 1000000.0"  # noqa: E731
    # Interpolate the EXACT Python doubles the Spark side evaluates
    # (F.lit(1.0 - damping) is 0.15000000000000002, not the SQL literal
    # 0.15) so the bit-for-bit rounding contract can't flip a half-up
    # boundary (ADVICE r4 item 1).
    base, damp = repr(1.0 - damping), repr(damping)
    parts = [
        """WITH e AS (
  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS s,
                  's' || CAST(l_suppkey AS VARCHAR) AS d
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
nodes AS (SELECT s AS node FROM e UNION SELECT d FROM e),
n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
deg AS (SELECT s, CAST(count(*) AS DOUBLE) AS deg FROM e GROUP BY s),
r0 AS (SELECT node, """
        + r6("1.0 / n.n")
        + " AS rank FROM nodes CROSS JOIN n)"
    ]
    for i in range(1, iterations + 1):
        parts.append(
            f""",
c{i} AS (
  SELECT e.d AS node,
         sum(CAST({r6(f'r{i-1}.rank / deg.deg')} AS DECIMAL(18,6))) AS i
  FROM e JOIN r{i-1} ON e.s = r{i-1}.node JOIN deg ON e.s = deg.s GROUP BY e.d
),
r{i} AS (
  SELECT nodes.node,
         {r6(f'{base} / n.n + {damp} * coalesce(CAST(c{i}.i AS DOUBLE), 0.0)')} AS rank
  FROM nodes LEFT JOIN c{i} ON nodes.node = c{i}.node CROSS JOIN n
)"""
        )
    parts.append(f"\nSELECT node, rank FROM r{iterations}")
    return "".join(parts)


SQL_PAGERANK = _sql_pagerank(3)


def q_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Fixed-iteration HITS (llm/dedup.py::hits_scores) over the same
    # customer -> supplier graph as q_pagerank: L1-normalized hub and
    # authority scores, per-step 1e-6 rounding + DECIMAL sums, so the
    # unrolled-CTE oracle is exact.
    from python_mapreduce_spark.llm.dedup import hits_scores  # noqa: PLC0415

    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    edges = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
        F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
    )
    return hits_scores(edges, "src", "dst", iterations=2)


def _sql_hits(iterations: int = 2) -> str:
    r6 = lambda x: f"floor(({x}) * 1000000.0 + 0.5) / 1000000.0"  # noqa: E731
    parts = [
        """WITH e AS (
  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS s,
                  's' || CAST(l_suppkey AS VARCHAR) AS d
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
nodes AS (SELECT s AS node FROM e UNION SELECT d FROM e),
h0 AS (SELECT node, 1.0 AS hub FROM nodes)"""
    ]
    for i in range(1, iterations + 1):
        parts.append(
            f""",
ra{i} AS (
  SELECT e.d AS node, sum(CAST(h{i-1}.hub AS DECIMAL(18,6))) AS r
  FROM e JOIN h{i-1} ON e.s = h{i-1}.node GROUP BY e.d
),
ta{i} AS (SELECT sum(r) AS t FROM ra{i}),
a{i} AS (
  SELECT nodes.node,
         {r6(f'coalesce(CAST(ra{i}.r AS DOUBLE), 0.0) / CAST(ta{i}.t AS DOUBLE)')} AS auth
  FROM nodes LEFT JOIN ra{i} ON nodes.node = ra{i}.node CROSS JOIN ta{i}
),
rh{i} AS (
  SELECT e.s AS node, sum(CAST(a{i}.auth AS DECIMAL(18,6))) AS r
  FROM e JOIN a{i} ON e.d = a{i}.node GROUP BY e.s
),
th{i} AS (SELECT sum(r) AS t FROM rh{i}),
h{i} AS (
  SELECT nodes.node,
         {r6(f'coalesce(CAST(rh{i}.r AS DOUBLE), 0.0) / CAST(th{i}.t AS DOUBLE)')} AS hub
  FROM nodes LEFT JOIN rh{i} ON nodes.node = rh{i}.node CROSS JOIN th{i}
)"""
        )
    parts.append(
        f"\nSELECT h{iterations}.node, hub, auth"
        f" FROM h{iterations} JOIN a{iterations} ON h{iterations}.node = a{iterations}.node"
    )
    return "".join(parts)


SQL_HITS = _sql_hits(2)


def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Frame-sample fan-out: one media row -> up to 8 fixed-stride byte-
    # window digests. ASCII corpus -> DuckDB replays the windowing + md5
    # exactly (see q_multimodal_features).
    media = attach_binary_payload(table(spark, sf_dir, "documents"), "doc_id", "text")
    return sample_frames(media)


SQL_MULTIMODAL_FRAMES = """
WITH d AS (SELECT doc_id, coalesce(text, '') AS text,
                  length(coalesce(text, '')) AS n FROM documents)
SELECT doc_id AS media_id, CAST(frame_no AS BIGINT) AS frame_no,
       md5(substr(text, CAST(frame_no * 64 + 1 AS INT), 64)) AS frame_checksum
FROM (SELECT doc_id, text,
             unnest(generate_series(0, least(8, greatest(1, n // 64)) - 1)) AS frame_no
      FROM d)
"""


def q_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Gopher/C4-style intra-document repetition filter: duplicate 2-gram
    # fraction per doc (llm/text.py::repetition_stats). A pure Catalyst
    # map — no shuffle at any scale.
    return repetition_stats(table(spark, sf_dir, "documents"), "doc_id", "text", n=2)


SQL_DOC_REPETITION = f"""
WITH grams AS (
  SELECT doc_id AS id,
         list_transform(
           generate_series(1, greatest(len(toks) - 1, 0)),
           i -> array_to_string(toks[i:i+1], ' ')
         ) AS gs
  FROM (SELECT doc_id, regexp_extract_all(lower(coalesce(text, '')), '[a-z]+') AS toks FROM documents)
)
SELECT id,
       CAST(len(gs) AS BIGINT) AS n_grams,
       CAST(len(list_distinct(gs)) AS BIGINT) AS n_distinct,
       {sql_dround('(len(gs) - len(list_distinct(gs))) / CAST(greatest(len(gs), 1) AS DOUBLE)', 4)} AS rep_ratio
FROM grams
"""


def q_gopher_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Gopher-style composite quality gate (llm/text.py::
    # gopher_quality_flags): per-rule flags + combined keep verdict in
    # one tokenization pass — a pure Catalyst map, no shuffle at any
    # scale. Thresholds adapted to the synthetic corpus so both outcomes
    # occur (the published 50-token floor would empty it).
    from python_mapreduce_spark.llm.text import gopher_quality_flags  # noqa: PLC0415

    return gopher_quality_flags(table(spark, sf_dir, "documents"), "doc_id", "text")


SQL_GOPHER_FILTER = f"""
WITH base AS (
  SELECT doc_id AS id,
         coalesce(text, '') AS t,
         regexp_extract_all(lower(coalesce(text, '')), '[a-z]+') AS toks
  FROM documents
),
feat AS (
  SELECT id,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         {sql_dround("length(coalesce(array_to_string(toks, ''), '')) / CAST(greatest(len(toks), 1) AS DOUBLE)", 4)} AS mean_tok_len,
         {sql_dround("length(regexp_replace(lower(t), '[a-z ]', '', 'g')) / CAST(greatest(length(t), 1) AS DOUBLE)", 4)} AS punct_ratio,
         CAST(len(list_filter(toks, tk -> list_contains(['the','a','of','and','to','is'], tk))) AS BIGINT) AS stop_hits,
         list_transform(
           generate_series(1, greatest(len(toks) - 1, 0)),
           i -> array_to_string(toks[i:i+1], ' ')
         ) AS gs
  FROM base
),
flags AS (
  SELECT id, n_tokens, mean_tok_len, punct_ratio, stop_hits,
         {sql_dround('(len(gs) - len(list_distinct(gs))) / CAST(greatest(len(gs), 1) AS DOUBLE)', 4)} AS rep_ratio,
         (n_tokens >= 20 AND n_tokens <= 100000) AS ok_len,
         (mean_tok_len >= 3.0 AND mean_tok_len <= 10.0) AS ok_tok_len,
         (punct_ratio <= 0.1) AS ok_punct,
         (stop_hits >= 2) AS ok_stop
  FROM feat
)
SELECT id, n_tokens, mean_tok_len, punct_ratio, stop_hits, rep_ratio,
       ok_len, ok_tok_len, ok_punct, ok_stop,
       (rep_ratio <= 0.2) AS ok_rep,
       (ok_len AND ok_tok_len AND ok_punct AND ok_stop AND rep_ratio <= 0.2) AS keep
FROM flags
"""


def q_text_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Benchmark-contamination audit: every 25th document plays the role
    # of a held-out eval set; the rest of the corpus is checked for
    # 8-gram overlap against it (llm/text.py::ngram_contamination). On
    # this corpus the only nonzero rows are planted near-dup partners of
    # eval docs — exactly the leakage the audit exists to catch. The
    # eval n-gram set is broadcast; the corpus never shuffles on text.
    docs = table(spark, sf_dir, "documents")
    ev = docs.filter(F.col("doc_id") % 25 == 0)
    corpus = docs.filter(F.col("doc_id") % 25 != 0)
    return ngram_contamination(corpus, ev, "doc_id", "text", n=8)


SQL_TEXT_CONTAMINATION = f"""
WITH sets AS (
  SELECT doc_id AS id,
         list_distinct(list_transform(
           generate_series(1, greatest(len(toks) - 7, 0)),
           i -> array_to_string(toks[i:i+7], ' ')
         )) AS shingles
  FROM (SELECT doc_id, regexp_extract_all(lower(coalesce(text, '')), '[a-z]+') AS toks FROM documents)
),
ev AS (SELECT DISTINCT unnest(shingles) AS g FROM sets WHERE id % 25 = 0),
corpus AS (SELECT id, shingles FROM sets WHERE id % 25 <> 0),
posts AS (SELECT id, unnest(shingles) AS g FROM corpus),
hits AS (SELECT id, count(*) AS n_hit FROM posts JOIN ev USING (g) GROUP BY id)
SELECT c.id,
       CAST(len(c.shingles) AS BIGINT) AS n_grams,
       CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_contaminated,
       {sql_dround('coalesce(h.n_hit, 0) / CAST(greatest(len(c.shingles), 1) AS DOUBLE)', 4)} AS contamination
FROM corpus c LEFT JOIN hits h ON c.id = h.id
"""


def q_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Domain-mixing audit: rebalance the corpus to a target per-lang
    # keep rate with the deterministic md5-bucket rule
    # (operators/relational.py::domain_mix — a pushed-down filter, no
    # shuffle, no RNG state), then report per-lang before/after counts
    # and the achieved rate. The oracle replays the identical hash rule.
    from python_mapreduce_spark.operators.relational import domain_mix  # noqa: PLC0415

    docs = table(spark, sf_dir, "documents")
    target = {"en": 1.0, "de": 0.5, "es": 0.25, "zh": 0.1}
    kept = domain_mix(docs, "lang", "doc_id", target).groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_after")
    )
    before = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_before"))
    return (
        before.join(kept, "lang", "left")
        .filter(F.col("lang").isin(*target))
        .select(
            "lang",
            "n_before",
            F.coalesce("n_after", F.lit(0)).alias("n_after"),
            dround(
                F.coalesce("n_after", F.lit(0)) / F.col("n_before").cast("double"), 4
            ).alias("achieved"),
        )
    )


SQL_DOMAIN_MIX = f"""
WITH target(lang, thr) AS (VALUES
  ('en', 'zzzz'), ('de', '{format(round(0.5 * 65536), "04x")}'),
  ('es', '{format(round(0.25 * 65536), "04x")}'), ('zh', '{format(round(0.1 * 65536), "04x")}')),
kept AS (
  SELECT d.lang, count(*) AS n_after
  FROM documents d JOIN target t ON d.lang = t.lang
  WHERE t.thr = 'zzzz' OR substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < t.thr
  GROUP BY d.lang
)
SELECT b.lang, b.n_before, CAST(coalesce(k.n_after, 0) AS BIGINT) AS n_after,
       {sql_dround('coalesce(k.n_after, 0) / CAST(b.n_before AS DOUBLE)', 4)} AS achieved
FROM (SELECT lang, count(*) AS n_before FROM documents
      WHERE lang IN ('en', 'de', 'es', 'zh') GROUP BY lang) b
LEFT JOIN kept k ON b.lang = k.lang
"""


def q_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Temperature-balanced language mixing (operators/relational.py::
    # temperature_sample, alpha=0.5): keep rate sqrt(c_min/c_lang) per
    # language — IEEE sqrt, so the per-row md5-bucket keeps replay
    # identically in the oracle. Audited as per-lang before/after counts
    # plus the applied rate.
    from python_mapreduce_spark.operators.relational import (  # noqa: PLC0415
        temperature_sample,
    )

    docs = table(spark, sf_dir, "documents")
    kept = temperature_sample(docs, "lang", "doc_id").groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_after")
    )
    before = (
        docs.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_before"))
        .localCheckpoint(eager=False)  # feeds the min agg AND the output join
    )
    mn = before.agg(F.min("n_before").alias("__mn"))
    return (
        before.crossJoin(F.broadcast(mn))
        .join(kept, "lang", "left")
        .select(
            "lang",
            "n_before",
            F.coalesce("n_after", F.lit(0)).alias("n_after"),
            dround(F.sqrt(F.col("__mn").cast("double") / F.col("n_before")), 4).alias(
                "rate"
            ),
        )
    )


SQL_TEMPERATURE_SAMPLE = f"""
WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_before FROM documents GROUP BY lang),
m AS (SELECT min(n_before) AS mn FROM c),
r AS (SELECT lang, n_before, sqrt(CAST(mn AS DOUBLE) / n_before) AS rate FROM c, m),
kept AS (
  SELECT d.lang, CAST(count(*) AS BIGINT) AS n_after
  FROM documents d JOIN r USING (lang)
  WHERE r.rate >= 1.0
     OR substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4)
        < lpad(lower(to_hex(CAST(floor(r.rate * 65536) AS BIGINT))), 4, '0')
  GROUP BY d.lang
)
SELECT r.lang, r.n_before, coalesce(k.n_after, 0) AS n_after,
       {sql_dround('r.rate', 4)} AS rate
FROM r LEFT JOIN kept k USING (lang)
"""


def q_upsample_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Epoch-mixing upsample (operators/relational.py::repeat_sample):
    # per-language multiplicities (zh boosted 2.5x, en thinned to 0.25)
    # joined as a broadcast weight table, rows fanned out floor(w) times
    # plus an md5-bucket fractional extra. Audited as per-lang input
    # docs, emitted rows, and surviving distinct docs.
    from python_mapreduce_spark.operators.relational import repeat_sample  # noqa: PLC0415

    docs = table(spark, sf_dir, "documents")
    weights = spark.createDataFrame(
        [("zh", 2.5), ("de", 1.0), ("es", 0.4), ("en", 0.25), ("fr", 1.5)],
        "lang string, w double",
    )
    mixed = repeat_sample(docs.join(F.broadcast(weights), "lang"), "doc_id", "w")
    after = mixed.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_after"),
        F.count_distinct("doc_id").alias("n_docs_kept"),
    )
    before = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_before"))
    return (
        before.join(weights, "lang")
        .join(after, "lang", "left")
        .select(
            "lang",
            "n_before",
            F.coalesce("n_after", F.lit(0)).alias("n_after"),
            F.coalesce("n_docs_kept", F.lit(0)).alias("n_docs_kept"),
        )
    )


SQL_UPSAMPLE_MIX = """
WITH w(lang, w) AS (VALUES ('zh', 2.5), ('de', 1.0), ('es', 0.4), ('en', 0.25), ('fr', 1.5)),
base AS (
  SELECT d.lang, d.doc_id,
         CAST(floor(w.w) AS BIGINT)
         + CASE WHEN w.w - floor(w.w) > 0
                 AND substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4)
                     < lpad(lower(to_hex(CAST(floor((w.w - floor(w.w)) * 65536) AS BIGINT))), 4, '0')
                THEN 1 ELSE 0 END AS n_copies
  FROM documents d JOIN w USING (lang)
),
mixed AS (
  SELECT lang, doc_id, unnest(generate_series(1, CAST(n_copies AS INT))) AS copy
  FROM base WHERE n_copies > 0
),
a AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_after,
         CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs_kept
  FROM mixed GROUP BY lang
)
SELECT b.lang, b.n_before, coalesce(a.n_after, 0) AS n_after,
       coalesce(a.n_docs_kept, 0) AS n_docs_kept
FROM (SELECT d.lang, CAST(count(*) AS BIGINT) AS n_before
      FROM documents d JOIN w USING (lang) GROUP BY d.lang) b
LEFT JOIN a USING (lang)
"""


def q_group_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Deterministic 10-per-language sample (operators/relational.py::
    # group_reservoir): md5-ranked reservoir draw — the exact-count
    # eval-set/review sampler. The oracle replays the identical ranking.
    from python_mapreduce_spark.operators.relational import group_reservoir  # noqa: PLC0415

    docs = table(spark, sf_dir, "documents")
    return group_reservoir(docs, "lang", "doc_id", 10).select("lang", "doc_id", "rk")


SQL_GROUP_RESERVOIR = """
SELECT lang, doc_id, rk FROM (
  SELECT lang, doc_id,
         CAST(row_number() OVER (
           PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         ) AS BIGINT) AS rk
  FROM documents
) WHERE rk <= 10
"""


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    # PII detection + redaction (llm/text.py::pii_scrub). The corpus
    # carries no PII, so every 7th document gets a deterministic
    # synthetic email + phone appended — constructed identically in the
    # oracle — and the redacted text itself is part of the compared row,
    # so replacement semantics (not just counts) are verified.
    docs = table(spark, sf_dir, "documents")
    injected = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com call +1-555-"),
                (F.lit(1000) + F.col("doc_id") % 9000).cast("string"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("t"),
    )
    return pii_scrub(injected, "doc_id", "t")


SQL_PII_REDACT = r"""
WITH injected AS (
  SELECT doc_id AS id,
         CASE WHEN doc_id % 7 = 0
              THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                   || '@example.com call +1-555-' || CAST(1000 + doc_id % 9000 AS VARCHAR)
              ELSE text END AS t
  FROM documents
)
SELECT id,
       CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(t, '\+1-555-[0-9]{4}')) AS BIGINT) AS n_phones,
       CAST(length(regexp_replace(regexp_replace(t,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
            '\+1-555-[0-9]{4}', '<PHONE>', 'g')) AS BIGINT) AS redacted_len,
       regexp_replace(regexp_replace(t,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
            '\+1-555-[0-9]{4}', '<PHONE>', 'g') AS redacted
FROM injected
"""


def q_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Per-document top-5 keywords by smoothed TF-IDF
    # (llm/text.py::tfidf_topk). Two key-partitioned aggs + a term-keyed
    # shuffle join + a per-doc top-k window — no single-task stage, no
    # collected vocabulary.
    return tfidf_topk(table(spark, sf_dir, "documents"), "doc_id", "text", k=5)


SQL_TFIDF_TOPK = f"""
WITH toks AS (
  SELECT doc_id AS id, unnest(regexp_extract_all(lower(coalesce(text, '')), '[a-z]+')) AS term
  FROM documents
),
tf AS (SELECT id, term, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2),
dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
n AS (SELECT count(*) AS n FROM documents),
scored AS (
  SELECT id, term, tf, df,
         {sql_dround('tf * (ln((n + 1.0) / (df + 1.0)) + 1.0)', 4)} AS score
  FROM tf JOIN dfreq USING (term) CROSS JOIN n
)
SELECT id, rn, term, tf, df, score FROM (
  SELECT *, CAST(row_number() OVER (
      PARTITION BY id ORDER BY score DESC, term) AS BIGINT) AS rn
  FROM scored)
WHERE rn <= 5
"""


def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Tokenizer-coverage audit (llm/text.py::vocab_coverage): top-20
    # corpus vocabulary (the synthetic corpus carries ~31 distinct
    # terms, so 20 leaves a real OOV tail), per-language OOV rates. The
    # vocabulary is TakeOrdered + broadcast; the corpus never shuffles
    # on term.
    return vocab_coverage(
        table(spark, sf_dir, "documents"), "doc_id", "text", "lang", vocab_size=20
    )


SQL_VOCAB_COVERAGE = f"""
WITH toks AS (
  SELECT doc_id AS id, lang, unnest(regexp_extract_all(lower(coalesce(text, '')), '[a-z]+')) AS term
  FROM documents
),
vocab AS (
  SELECT term FROM (
    SELECT term, row_number() OVER (ORDER BY count(*) DESC, term) AS rn
    FROM toks GROUP BY term)
  WHERE rn <= 20
),
tagged AS (
  SELECT t.id, t.lang, CASE WHEN v.term IS NULL THEN 1 ELSE 0 END AS oov
  FROM toks t LEFT JOIN vocab v ON t.term = v.term
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS total_tokens,
       CAST(sum(oov) AS BIGINT) AS oov_tokens,
       {sql_dround('sum(oov) / CAST(greatest(count(*), 1) AS DOUBLE)', 4)} AS oov_rate,
       CAST(count(DISTINCT id) AS BIGINT) AS n_docs
FROM tagged GROUP BY lang
"""


def q_nearest_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Nearest-centroid classification audit over the embedded corpus
    # (llm/similarity.py::nearest_centroid_confusion): distributed
    # centroid agg (n_labels x dim rows), centroid matrix closed over,
    # corpus streamed through one BLAS matmul per Arrow batch, confusion
    # matrix out. Scores rounded to 1e-6 pre-argmax on both sides so
    # ties resolve identically.
    return nearest_centroid_confusion(
        table(spark, sf_dir, "embeddings"), "embedding", "label"
    )


SQL_NEAREST_CENTROID = """
WITH pos AS (
  SELECT label, unnest(CAST(embedding AS DOUBLE[])) AS v,
         unnest(generate_series(1, len(embedding))) AS p
  FROM embeddings
),
cvec AS (
  SELECT clabel, list(c ORDER BY p) AS cv FROM (
    SELECT label AS clabel, p, avg(v) AS c FROM pos GROUP BY 1, 2)
  GROUP BY 1
),
e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
scored AS (
  SELECT e.vec_id, e.label, c.clabel,
         floor(list_dot_product(e.v, c.cv)
               / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv)))
               * 1000000.0 + 0.5) / 1000000.0 AS cos
  FROM e CROSS JOIN cvec c
),
pred AS (
  SELECT vec_id, label, clabel,
         row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, clabel) AS rn
  FROM scored
)
SELECT CAST(label AS BIGINT) AS label, CAST(clabel AS BIGINT) AS pred_label,
       CAST(count(*) AS BIGINT) AS n
FROM pred WHERE rn = 1 GROUP BY 1, 2
"""


def q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Deterministic 80/10/10 train/val/test assignment
    # (operators/relational.py::hash_split — a pure CASE projection over
    # an md5 bucket, no shuffle/UDF/RNG), audited as per-(split, lang)
    # counts. The oracle replays the identical hash rule.
    from python_mapreduce_spark.operators.relational import hash_split  # noqa: PLC0415

    docs = table(spark, sf_dir, "documents")
    return (
        hash_split(docs, "doc_id")
        .groupBy("split", "lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )


SQL_HASH_SPLIT = f"""
WITH s AS (
  SELECT lang,
         CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
                   < '{format(round(0.8 * 65536), "04x")}' THEN 'train'
              WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
                   < '{format(round(0.9 * 65536), "04x")}' THEN 'val'
              ELSE 'test' END AS split
  FROM documents
)
SELECT split, lang, CAST(count(*) AS BIGINT) AS n FROM s GROUP BY 1, 2
"""


def q_quality_quantile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Per-source quality gate: drop each language's below-median-quality
    # documents (operators/aggregates.py::group_quantile_filter — exact
    # interpolated percentile per group, n_groups-row threshold table
    # broadcast back; one scan + map-side join on the data side).
    # Audited as per-lang totals, kept counts, and the min kept quality
    # (the effective threshold).
    from python_mapreduce_spark.operators.aggregates import (  # noqa: PLC0415
        group_quantile_filter,
    )

    docs = table(spark, sf_dir, "documents")
    # The scored frame feeds three consumers (percentile branch, data
    # branch, totals); the lazy cut keeps the quality computation — the
    # expensive corpus pass — to a single run (same finding as
    # tfidf_topk in llm/text.py).
    scored = docs.select("doc_id", "lang").join(
        quality_score(docs, "doc_id", "text"), "doc_id"
    ).localCheckpoint(eager=False)
    kept = group_quantile_filter(scored, "lang", "quality", 0.5)
    total = scored.groupBy("lang").agg(F.count(F.lit(1)).alias("n_total"))
    kept_agg = kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_kept"),
        dround(F.min("quality"), 4).alias("min_kept_quality"),
    )
    return total.join(kept_agg, "lang")


SQL_QUALITY_QUANTILE = f"""
WITH q0 AS ({SQL_TEXT_QUALITY}),
q AS (SELECT d.lang, q0.quality FROM q0 JOIN documents d USING (doc_id)),
thr AS (
  SELECT lang, percentile_cont(0.5) WITHIN GROUP (ORDER BY quality) AS t
  FROM q GROUP BY lang
),
kept AS (SELECT q.lang, q.quality FROM q JOIN thr USING (lang) WHERE q.quality >= t)
SELECT lang,
       (SELECT count(*) FROM q q2 WHERE q2.lang = kept.lang) AS n_total,
       CAST(count(*) AS BIGINT) AS n_kept,
       {sql_dround('min(quality)', 4)} AS min_kept_quality
FROM kept GROUP BY lang
"""


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Importance-style downsampling: keep each document with probability
    # equal to its quality score (operators/relational.py::
    # weighted_sample — the per-row generalization of the domain_mix
    # md5-bucket rule; a pure filter, no shuffle/UDF/RNG). Audited as
    # per-lang kept counts and the kept-quality envelope (all
    # order-independent aggregates). The oracle replays the identical
    # hash rule.
    from python_mapreduce_spark.operators.relational import weighted_sample  # noqa: PLC0415

    docs = table(spark, sf_dir, "documents")
    # Two consumers (kept filter, totals) — lazy cut as above.
    scored = docs.select("doc_id", "lang").join(
        quality_score(docs, "doc_id", "text"), "doc_id"
    ).localCheckpoint(eager=False)
    kept = weighted_sample(scored, "doc_id", "quality")
    total = scored.groupBy("lang").agg(F.count(F.lit(1)).alias("n_total"))
    kept_agg = kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_kept"),
        dround(F.min("quality"), 4).alias("min_kept"),
        dround(F.max("quality"), 4).alias("max_kept"),
    )
    return total.join(kept_agg, "lang", "left").select(
        "lang",
        "n_total",
        F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        "min_kept",
        "max_kept",
    )


SQL_WEIGHTED_SAMPLE = f"""
WITH q0 AS ({SQL_TEXT_QUALITY}),
q AS (SELECT q0.doc_id, d.lang, q0.quality FROM q0 JOIN documents d USING (doc_id)),
kept AS (
  SELECT * FROM q
  WHERE quality >= 1.0
     OR (quality > 0.0
         AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
             < lpad(lower(to_hex(CAST(floor(quality * 65536) AS BIGINT))), 4, '0'))
),
ka AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_kept,
         {sql_dround('min(quality)', 4)} AS min_kept,
         {sql_dround('max(quality)', 4)} AS max_kept
  FROM kept GROUP BY lang
)
SELECT t.lang, t.n_total, coalesce(ka.n_kept, 0) AS n_kept, ka.min_kept, ka.max_kept
FROM (SELECT lang, CAST(count(*) AS BIGINT) AS n_total FROM q GROUP BY lang) t
LEFT JOIN ka USING (lang)
"""


def q_pipeline_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    # End-to-end curation with THIS round's operators composed as one
    # declarative plan: per-language median-quality gate
    # (group_quantile_filter) -> deterministic 80/10/10 split
    # (hash_split) -> per-(split, lang) BPE-token accounting. Each stage
    # is oracle-verified on its own elsewhere; this query verifies the
    # composition (the scored frame is lazily checkpointed once for the
    # gate's two consumers).
    from python_mapreduce_spark.llm.text import bpe_token_counts  # noqa: PLC0415
    from python_mapreduce_spark.operators.aggregates import (  # noqa: PLC0415
        group_quantile_filter,
    )
    from python_mapreduce_spark.operators.relational import hash_split  # noqa: PLC0415

    d = table(spark, sf_dir, "documents")
    scored = d.select("doc_id", "lang", "text").join(
        quality_score(d, "doc_id", "text"), "doc_id"
    ).localCheckpoint(eager=False)
    gated = group_quantile_filter(scored, "lang", "quality", 0.5)
    split = hash_split(gated, "doc_id")
    return bpe_token_counts(split, ["split", "lang"], "text")


SQL_PIPELINE_CURATE = f"""
WITH q0 AS ({SQL_TEXT_QUALITY}),
q AS (SELECT d.doc_id, d.lang, d.text, q0.quality
      FROM q0 JOIN documents d USING (doc_id)),
thr AS (
  SELECT lang, percentile_cont(0.5) WITHIN GROUP (ORDER BY quality) AS t
  FROM q GROUP BY lang
),
gated AS (SELECT q.* FROM q JOIN thr USING (lang) WHERE quality >= t),
s AS (
  SELECT *,
         CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
                   < '{format(round(0.8 * 65536), "04x")}' THEN 'train'
              WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
                   < '{format(round(0.9 * 65536), "04x")}' THEN 'val'
              ELSE 'test' END AS split
  FROM gated
)
SELECT split, lang,
       CAST(sum(len(regexp_extract_all(coalesce(text, ''), '{BPE_ISH_PATTERN}'))) AS BIGINT)
         AS total_bpe_tokens,
       count(*) AS n_docs
FROM s GROUP BY 1, 2
"""


def q_pseudonymize(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Keyed pseudonymization (llm/text.py::pseudonymize): customer keys
    # become sha256(secret || key) tokens, and the query proves join
    # integrity SURVIVES the scrub — orders joined on the tokenized key
    # yield the same per-customer counts. A pure projection on each
    # side; the oracle replays the identical keyed hash.
    from python_mapreduce_spark.llm.text import pseudonymize  # noqa: PLC0415

    cust = table(spark, sf_dir, "customer").filter(F.col("c_custkey") % 10 == 0)
    orders = table(spark, sf_dir, "orders")
    c_tok = pseudonymize(
        cust.select(F.col("c_custkey").alias("k"), "c_mktsegment"), ["k"], "s3cret"
    )
    o_tok = pseudonymize(
        orders.select(F.col("o_custkey").alias("k")), ["k"], "s3cret"
    ).withColumn("__o", F.lit(1))
    return (
        c_tok.join(o_tok, "k", "left")
        .groupBy("k", "c_mktsegment")
        .agg(F.count("__o").cast("long").alias("n_orders"))
        .select(F.col("k").alias("token"), "c_mktsegment", "n_orders")
    )


SQL_PSEUDONYMIZE = """
WITH c AS (
  SELECT sha256('s3cret' || CAST(c_custkey AS VARCHAR)) AS token, c_mktsegment
  FROM customer WHERE c_custkey % 10 = 0
),
o AS (SELECT sha256('s3cret' || CAST(o_custkey AS VARCHAR)) AS token FROM orders)
SELECT c.token, c.c_mktsegment, CAST(count(o.token) AS BIGINT) AS n_orders
FROM c LEFT JOIN o ON c.token = o.token
GROUP BY 1, 2
"""


def q_perplexity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Corpus-trained bigram-LM perplexity (llm/text.py::
    # bigram_lm_score): the CCNet-style quality signal with the LM
    # trained on the corpus in the same job. One bigram aggregation
    # trains the model; context counts and vocab derive from it; the
    # per-bigram log-probs round to 1e-6 and sum in DECIMAL so the
    # oracle replays the identical model in SQL.
    from python_mapreduce_spark.llm.text import bigram_lm_score  # noqa: PLC0415

    return bigram_lm_score(table(spark, sf_dir, "documents"), "doc_id", "text", k=0.5)


SQL_PERPLEXITY_FILTER = f"""
WITH base AS (
  SELECT doc_id AS id, regexp_extract_all(lower(coalesce(text, '')), '[a-z]+') AS toks
  FROM documents
),
bi AS (
  SELECT id, toks[i] || ' ' || toks[i+1] AS bg
  FROM (SELECT id, toks,
               unnest(generate_series(1, greatest(len(toks) - 1, 0))) AS i
        FROM base)
),
c12 AS (
  SELECT bg, CAST(count(*) AS BIGINT) AS c12, split_part(bg, ' ', 1) AS w1
  FROM bi GROUP BY bg
),
c1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM c12 GROUP BY w1),
v AS (SELECT CAST(count(*) AS DOUBLE) AS v FROM c1),
scored AS (
  SELECT bi.id,
         CAST({sql_dround('ln((c12.c12 + 0.5) / (c1.c1 + 0.5 * v.v))', 6)}
              AS DECIMAL(18,6)) AS lp
  FROM bi JOIN c12 USING (bg) JOIN c1 ON c12.w1 = c1.w1 CROSS JOIN v
),
per AS (
  SELECT id, CAST(count(*) AS BIGINT) AS n_bigrams,
         {sql_dround('CAST(sum(lp) AS DOUBLE) / count(*)', 4)} AS avg_logp
  FROM scored GROUP BY id
)
SELECT b.id,
       coalesce(per.n_bigrams, 0) AS n_bigrams,
       per.avg_logp,
       {sql_dround('exp(-per.avg_logp)', 4)} AS ppl
FROM (SELECT id FROM base) b LEFT JOIN per USING (id)
"""


def q_cluster_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Cluster-aware leakage-safe split (llm/dedup.py::
    # leakage_safe_split): the constructive fix for what
    # q_split_leakage audits — splits are assigned by hashing the
    # near-dup cluster representative, so near-dup cliques can never
    # straddle train/val/test. The oracle replays the exact-Jaccard
    # pair graph, a recursive-CTE reachability closure, and the shared
    # md5-bucket split rule on the representative.
    #
    # Oracle-exposure note (ADVICE r4 item 3): the Spark side's pair
    # graph comes from MinHash-LSH candidates (exact-Jaccard verified,
    # candidate recall < 1) while the oracle computes the FULL exact
    # pair set — one missed candidate would fail the gate. The registry
    # call therefore runs widened banding (64 hashes, 32x2) so the
    # per-pair miss probability at j >= 0.8 is (1 - 0.8^2)^32 ~= 6e-15,
    # shrinking (not growing) with corpus size times that constant;
    # library default stays 16x2 (~1e-7), the documented scale recipe.
    from python_mapreduce_spark.llm.dedup import leakage_safe_split  # noqa: PLC0415

    return leakage_safe_split(
        table(spark, sf_dir, "documents"), "doc_id", "text", num_hashes=64, bands=32
    )


SQL_CLUSTER_SPLIT = f"""
WITH RECURSIVE
{_SQL_SHINGLES},
posts AS (SELECT id, unnest(shingles) AS shingle FROM sets WHERE len(shingles) > 0),
sizes AS (SELECT id, CAST(len(shingles) AS BIGINT) AS sz FROM sets WHERE len(shingles) > 0),
inter AS (
  SELECT a.id AS id1, b.id AS id2, count(*) AS inter
  FROM posts a JOIN posts b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY 1, 2
),
pairs AS (
  SELECT id1, id2 FROM (
    SELECT id1, id2,
           floor(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) * 10000.0 + 0.5) / 10000.0
             AS jaccard
    FROM inter
    JOIN sizes sa ON id1 = sa.id
    JOIN sizes sb ON id2 = sb.id
  ) WHERE jaccard >= 0.8
),
sym AS (SELECT id1 AS a, id2 AS b FROM pairs UNION ALL SELECT id2, id1 FROM pairs),
reach(node, label) AS (
  SELECT a, a FROM sym
  UNION
  SELECT s.b, r.label FROM reach r JOIN sym s ON s.a = r.node
),
comp AS (SELECT node, min(label) AS cluster FROM reach GROUP BY node),
rep AS (
  SELECT d.doc_id AS id, coalesce(c.cluster, d.doc_id) AS rep
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
)
SELECT id, rep,
       CASE WHEN substr(md5(CAST(rep AS VARCHAR)), 1, 4)
                 < '{format(round(0.8 * 65536), "04x")}' THEN 'train'
            WHEN substr(md5(CAST(rep AS VARCHAR)), 1, 4)
                 < '{format(round(0.9 * 65536), "04x")}' THEN 'val'
            ELSE 'test' END AS split
FROM rep
"""


def q_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # C4-style duplicate-segment removal + reassembly (llm/text.py::
    # segment_dedup): disjoint 8-token segments, global first-occurrence
    # keep (min (doc_id, pos)), documents rebuilt from survivors. The
    # rebuilt text itself is part of the compared row. The oracle
    # replays the rule with a composite (id * 2^20 + pos) min — valid
    # because positions are far below 2^20 here; the Spark operator
    # itself uses an unbounded struct-min.
    from python_mapreduce_spark.llm.text import segment_dedup  # noqa: PLC0415

    return segment_dedup(table(spark, sf_dir, "documents"), "doc_id", "text", seg_tokens=8)


SQL_SEGMENT_DEDUP = """
WITH base AS (
  SELECT doc_id AS id, regexp_extract_all(lower(coalesce(text, '')), '[a-z]+') AS toks
  FROM documents
),
segs AS (
  SELECT id, i - 1 AS pos,
         array_to_string(toks[(i-1)*8+1:(i-1)*8+8], ' ') AS seg
  FROM (SELECT id, toks,
               unnest(generate_series(1, CAST(ceil(len(toks) / 8.0) AS INT))) AS i
        FROM base)
),
wins AS (SELECT md5(seg) AS gh, min(id * 1048576 + pos) AS w FROM segs GROUP BY 1),
kept AS (
  SELECT s.id, s.pos, s.seg FROM segs s
  JOIN wins ON md5(s.seg) = wins.gh AND s.id * 1048576 + s.pos = wins.w
),
reb AS (
  SELECT id, CAST(count(*) AS BIGINT) AS n_kept,
         string_agg(seg, ' ' ORDER BY pos) AS text_dedup
  FROM kept GROUP BY id
),
cnt AS (
  SELECT b.id, CAST(count(s.seg) AS BIGINT) AS n_segments
  FROM base b LEFT JOIN segs s ON b.id = s.id GROUP BY b.id
)
SELECT cnt.id, cnt.n_segments,
       coalesce(reb.n_kept, 0) AS n_kept,
       coalesce(reb.text_dedup, '') AS text_dedup
FROM cnt LEFT JOIN reb ON cnt.id = reb.id
"""


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # SemDeDup-style semantic prune (llm/dedup.py::semantic_dedup_prune):
    # vectors cluster to their nearest label centroid
    # (similarity.nearest_centroid_assign — centroids collected once,
    # BLAS matmul per Arrow batch), then within each cluster every
    # vector with a smaller-id partner at cosine >= 0.4 is dropped. The
    # oracle replays centroid assignment + within-cluster pair rule in
    # SQL; the per-vector keep verdict is the compared row.
    from python_mapreduce_spark.llm.dedup import semantic_dedup_prune  # noqa: PLC0415
    from python_mapreduce_spark.llm.similarity import nearest_centroid_assign  # noqa: PLC0415

    emb = table(spark, sf_dir, "embeddings")
    assigned = nearest_centroid_assign(emb, "vec_id", "embedding", "label")
    clustered = emb.join(
        assigned.withColumnRenamed("id", "vec_id"), "vec_id"
    )
    return semantic_dedup_prune(clustered, "vec_id", "embedding", "cluster", threshold=0.4)


SQL_SEMANTIC_DEDUP = """
WITH pos AS (
  SELECT label, unnest(CAST(embedding AS DOUBLE[])) AS v,
         unnest(generate_series(1, len(embedding))) AS p
  FROM embeddings
),
cvec AS (
  SELECT clabel, list(c ORDER BY p) AS cv FROM (
    SELECT label AS clabel, p, avg(v) AS c FROM pos GROUP BY 1, 2)
  GROUP BY 1
),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
scored AS (
  SELECT e.vec_id, c.clabel,
         floor(list_dot_product(e.v, c.cv)
               / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv)))
               * 1000000.0 + 0.5) / 1000000.0 AS cos
  FROM e CROSS JOIN cvec c
),
assigned AS (
  SELECT vec_id AS id, CAST(clabel AS BIGINT) AS cluster FROM (
    SELECT vec_id, clabel,
           row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, clabel) AS rn
    FROM scored)
  WHERE rn = 1
),
ev AS (SELECT a.id, a.cluster, e.v FROM assigned a JOIN e ON a.id = e.vec_id),
dropped AS (
  SELECT DISTINCT b.id FROM ev a JOIN ev b
  ON a.cluster = b.cluster AND a.id < b.id
  WHERE floor(list_dot_product(a.v, b.v)
              / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
              * 1000000.0 + 0.5) / 1000000.0 >= 0.4
)
SELECT ev.id, ev.cluster, (d.id IS NULL) AS keep
FROM ev LEFT JOIN dropped d ON ev.id = d.id
"""


def q_quality_ensemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Ensemble curation gate composing three verified quality signals:
    # Gopher rule flags AND the hashed-feature classifier verdict AND
    # corpus-relative perplexity (keep only docs at or below the 75th
    # percentile). Each component is its own green oracle query; this
    # verifies the COMPOSITION end-to-end (like q_pipeline_curate). The
    # per-doc LM frame is lazily checkpointed — it feeds both the
    # threshold aggregate and the join, and without the cut the bigram
    # training would run twice.
    from python_mapreduce_spark.llm.text import (  # noqa: PLC0415
        bigram_lm_score,
        gopher_quality_flags,
    )

    docs = table(spark, sf_dir, "documents")
    g = gopher_quality_flags(docs, "doc_id", "text").select(
        "id", F.col("keep").alias("gopher_keep")
    )
    wt = md5_weights(spark.range(1024).withColumnRenamed("id", "bucket"))
    c = hashed_feature_score(docs, "doc_id", "text", wt, buckets=1024).select(
        "id", F.col("keep").alias("clf_keep")
    )
    p = (
        bigram_lm_score(docs, "doc_id", "text", k=0.5)
        .select("id", "ppl")
        .localCheckpoint(eager=False)
    )
    thr = p.agg(dround(F.expr("percentile(ppl, 0.75D)"), 4).alias("t"))
    return (
        g.join(c, "id")
        .join(p, "id")
        .crossJoin(F.broadcast(thr))
        .select(
            "id",
            "gopher_keep",
            "clf_keep",
            "ppl",
            F.coalesce(
                F.col("gopher_keep") & F.col("clf_keep") & (F.col("ppl") <= F.col("t")),
                F.lit(False),
            ).alias("ensemble_keep"),
        )
    )


def q_clean_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Text normalization (llm/text.py::clean_text). The corpus is clean
    # ASCII, so every 5th document gets deterministic byte noise
    # injected — zero-width space, soft hyphen, tab, bell, BOM, ragged
    # double spaces — constructed identically in the oracle (chr() on
    # the same codepoints); the cleaned text itself is part of the
    # compared row, so stripping/collapsing semantics are verified, not
    # just lengths.
    docs = table(spark, sf_dir, "documents")
    noisy = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.lit("\u200b soft\u00adhyphen\ttab\u0007bell  "),
                F.coalesce(F.col("text"), F.lit("")),
                F.lit("  \ufeff"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("t"),
    )
    return clean_text(noisy, "doc_id", "t")


SQL_CLEAN_TEXT = r"""
WITH noisy AS (
  SELECT doc_id AS id,
         CASE WHEN doc_id % 5 = 0
              THEN chr(8203) || ' soft' || chr(173) || 'hyphen' || chr(9) || 'tab'
                   || chr(7) || 'bell  ' || coalesce(text, '') || '  ' || chr(65279)
              ELSE text END AS t
  FROM documents
),
cleaned AS (
  SELECT id,
         coalesce(t, '') AS raw,
         trim(regexp_replace(
           regexp_replace(
             regexp_replace(coalesce(t, ''),
               '[' || chr(8203) || chr(8204) || chr(8205) || chr(65279) || chr(173) || ']',
               '', 'g'),
             '[\x00-\x1F\x7F]', ' ', 'g'),
           ' +', ' ', 'g')) AS clean
  FROM noisy
)
SELECT id,
       CAST(length(raw) AS BIGINT) AS raw_len,
       CAST(length(clean) AS BIGINT) AS clean_len,
       clean
FROM cleaned
"""


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Hashed-feature linear classifier scoring (llm/text.py::
    # hashed_feature_score): md5-bucketed tokens broadcast-joined to a
    # 1024-bucket weight table, per-doc mean score + keep verdict. The
    # weight table is the deterministic md5-derived pseudo-model
    # (md5_weights) so the oracle can replay the identical model in SQL
    # — production swaps in trained weights through the same table
    # contract. DECIMAL-summed weights make the score exact and
    # associative at any parallelism.
    docs = table(spark, sf_dir, "documents")
    wt = md5_weights(spark.range(1024).withColumnRenamed("id", "bucket"))
    return hashed_feature_score(docs, "doc_id", "text", wt, buckets=1024)


SQL_QUALITY_CLASSIFIER = f"""
WITH w AS (
  SELECT range AS bucket,
         {sql_dround("CAST('0x' || substr(md5('w' || CAST(range AS VARCHAR)), 1, 8) AS BIGINT)"
                     " / 4294967296.0 * 2.0 - 1.0", 6)} AS weight
  FROM range(0, 1024)
),
toks AS (
  SELECT doc_id AS id,
         unnest(regexp_extract_all(lower(coalesce(text, '')), '[a-z]+')) AS tok
  FROM documents
),
b AS (
  SELECT id, tok, CAST('0x' || substr(md5(tok), 1, 4) AS BIGINT) % 1024 AS bucket
  FROM toks
),
per AS (
  SELECT d.doc_id AS id,
         CAST(count(b.tok) AS BIGINT) AS n_tokens,
         coalesce(sum(CAST(w.weight AS DECIMAL(18,6))), 0) AS sumw
  FROM documents d
  LEFT JOIN b ON d.doc_id = b.id
  LEFT JOIN w USING (bucket)
  GROUP BY 1
)
SELECT id, n_tokens,
       {sql_dround('CAST(sumw AS DOUBLE) / CAST(greatest(n_tokens, 1) AS DOUBLE)', 4)} AS score,
       (CAST(sumw AS DOUBLE) / CAST(greatest(n_tokens, 1) AS DOUBLE)) > 0 AS keep
FROM per
"""


# Composed oracle assembled from the component fragments so the three
# parts can never drift from their standalone twins.
SQL_QUALITY_ENSEMBLE = f"""
WITH g AS ({SQL_GOPHER_FILTER}),
c AS ({SQL_QUALITY_CLASSIFIER}),
p AS ({SQL_PERPLEXITY_FILTER}),
thr AS (SELECT {sql_dround('quantile_cont(ppl, 0.75)', 4)} AS t FROM p WHERE ppl IS NOT NULL)
SELECT g.id, g.keep AS gopher_keep, c.keep AS clf_keep, p.ppl,
       coalesce(g.keep AND c.keep AND p.ppl <= thr.t, FALSE) AS ensemble_keep
FROM g JOIN c USING (id) JOIN p USING (id) CROSS JOIN thr
"""


SQL_DATA_CARD = SQL_DATA_CARD.replace("{GOPHER}", SQL_GOPHER_FILTER)




def q_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Per-domain frequency capping (operators/relational.py::
    # domain_cap): keep at most 10 docs per source, survivors chosen by
    # md5(doc_id) order. The oracle replays the rank rule verbatim;
    # WindowGroupLimit keeps the Spark plan map-side-bounded.
    from python_mapreduce_spark.operators.relational import domain_cap  # noqa: PLC0415

    docs = table(spark, sf_dir, "documents").select("doc_id", "source")
    return domain_cap(docs, "source", "doc_id", 10)


SQL_DOMAIN_CAP = """
SELECT doc_id, source FROM (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         ) AS rn
  FROM documents
) WHERE rn <= 10
"""


def q_stratified_split_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Exact-proportion per-stratum split (operators/relational.py::
    # stratified_exact_split): 80/10/10 within every lang, assignment by
    # position in the md5-shuffled per-stratum order. Cumulative-
    # fraction literals below are interpolated from the SAME Python
    # floats the Spark side accumulates (0.8, then 0.8+0.1 =
    # 0.9000000000000001), forced to DOUBLE so both engines floor the
    # identical product.
    from python_mapreduce_spark.operators.relational import (  # noqa: PLC0415
        stratified_exact_split,
    )

    docs = table(spark, sf_dir, "documents").select("doc_id", "lang")
    return stratified_exact_split(docs, ["lang"], "doc_id")


_CUM_TRAIN = 0.8
_CUM_VAL = 0.8 + 0.1  # = 0.9000000000000001, the exact double Spark sees

SQL_STRATIFIED_SPLIT_EXACT = f"""
WITH ranked AS (
  SELECT doc_id, lang,
         row_number() OVER (
           PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         ) AS rn,
         count(*) OVER (PARTITION BY lang) AS n
  FROM documents
)
SELECT doc_id, lang,
       CASE WHEN rn <= floor(CAST({_CUM_TRAIN!r} AS DOUBLE) * n) THEN 'train'
            WHEN rn <= floor(CAST({_CUM_VAL!r} AS DOUBLE) * n) THEN 'val'
            ELSE 'test' END AS split
FROM ranked
"""


def q_quality_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Global top-10% by n_chars plus a top-15 floor per source
    # (operators/relational.py::quality_quota_select) — the curation
    # step that keeps long-tail domains alive through a global quality
    # cut. Python computes k = int(0.1 * n) on the same double the
    # oracle floors, so the cutoffs agree at every corpus size.
    from python_mapreduce_spark.operators.relational import (  # noqa: PLC0415
        quality_quota_select,
    )

    docs = table(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    return quality_quota_select(
        docs, "source", "doc_id", "n_chars", frac=0.1, min_per_group=15
    )


SQL_QUALITY_QUOTA = """
WITH ranked AS (
  SELECT doc_id, source, n_chars,
         row_number() OVER (ORDER BY n_chars DESC, doc_id) AS grank,
         row_number() OVER (
           PARTITION BY source ORDER BY n_chars DESC, doc_id
         ) AS qrank
  FROM documents
), tot AS (SELECT CAST(floor(CAST(0.1 AS DOUBLE) * count(*)) AS BIGINT) AS k FROM documents)
SELECT doc_id, source, n_chars,
       CASE WHEN grank <= tot.k THEN 'global' ELSE 'quota' END AS reason
FROM ranked CROSS JOIN tot
WHERE grank <= tot.k OR qrank <= 15
"""


def q_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Token-budget curation (operators/relational.py::token_budget_cut):
    # best-first (n_chars DESC, doc_id) prefix of the corpus whose
    # running char total stays within 50k. The running sum is the
    # distributed global_running_sum (range exchange + broadcast
    # offsets) — the oracle's single-task SUM OVER is the semantic twin
    # only.
    from python_mapreduce_spark.operators.relational import token_budget_cut  # noqa: PLC0415

    docs = table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return token_budget_cut(docs, "doc_id", "n_chars", "n_chars", 50_000)


SQL_TOKEN_BUDGET = """
SELECT doc_id, n_chars, cum_tokens FROM (
  SELECT doc_id, n_chars,
         CAST(sum(n_chars) OVER (
           ORDER BY n_chars DESC, doc_id ROWS UNBOUNDED PRECEDING
         ) AS BIGINT) AS cum_tokens
  FROM documents
) WHERE cum_tokens <= 50000
"""


def q_embed_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Single-pass uncentered covariance of the embedding corpus
    # (llm/similarity.py::embedding_covariance) as (i, j, cov) upper-
    # triangle rows — the X^T X statistic behind PCA/whitening. DECIMAL
    # product sums make both engines bit-identical regardless of
    # summation order (the PageRank scheme); the BLAS form
    # (embedding_covariance_blas) is the at-scale twin, tested for
    # 1e-9 agreement in tests/test_llm_ops.py.
    from python_mapreduce_spark.llm.similarity import embedding_covariance  # noqa: PLC0415

    return embedding_covariance(table(spark, sf_dir, "embeddings"), "embedding")


SQL_EMBED_COVARIANCE = f"""
WITH base AS (SELECT embedding AS v FROM embeddings WHERE embedding IS NOT NULL),
n AS (SELECT count(*) AS n FROM base),
dims AS (SELECT unnest(generate_series(0, len(v) - 1)) AS i
         FROM (SELECT v FROM base LIMIT 1)),
pairs AS (
  SELECT di.i AS i, dj.i AS j,
         CAST({sql_dround('CAST(v[di.i + 1] AS DOUBLE) * CAST(v[dj.i + 1] AS DOUBLE)', 8)}
              AS DECIMAL(28,8)) AS p
  FROM base, dims di, dims dj
  WHERE dj.i >= di.i
)
SELECT i, j, CAST(sum(p) AS DOUBLE) / n.n AS cov
FROM pairs CROSS JOIN n GROUP BY i, j, n.n
"""




def q_chunk_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    # GPT-style concat-then-chunk sequence packing
    # (operators/windows.py::chunk_pack): documents laid end-to-end in
    # md5 order, cut into 2048-token sequences, docs straddling
    # boundaries. The running sum is the distributed
    # global_running_sum; the oracle's single-task SUM OVER is the
    # semantic twin only.
    from python_mapreduce_spark.operators.windows import chunk_pack  # noqa: PLC0415

    docs = table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return chunk_pack(docs, "doc_id", "n_chars", 2048)


SQL_CHUNK_PACK = """
WITH base AS (
  SELECT doc_id AS id, CAST(n_chars AS BIGINT) AS t,
         md5(CAST(doc_id AS VARCHAR)) AS k
  FROM documents
),
cum AS (
  SELECT id, t,
         CAST(sum(t) OVER (ORDER BY k, id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS e
  FROM base
),
spans AS (
  SELECT id, t, e, e - t AS s,
         unnest(generate_series((e - t) // 2048, (e - 1) // 2048)) AS seq_id
  FROM cum WHERE t > 0
)
SELECT id, CAST(seq_id AS BIGINT) AS seq_id,
       CAST(greatest(s, seq_id * 2048) - s AS BIGINT) AS doc_offset,
       CAST(greatest(s, seq_id * 2048) - seq_id * 2048 AS BIGINT) AS seq_offset,
       CAST(least(e, (seq_id + 1) * 2048) - greatest(s, seq_id * 2048) AS BIGINT) AS n_tokens
FROM spans
"""


def q_equi_freq_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Equal-frequency discretization (operators/aggregates.py::
    # equi_freq_bins): per-event-type quartile buckets over value —
    # thresholds are interpolated exact percentiles rounded to 1e-6
    # before the strict-< comparison (the robust_scale scheme), so both
    # engines bin identically.
    from python_mapreduce_spark.operators.aggregates import equi_freq_bins  # noqa: PLC0415

    ev = table(spark, sf_dir, "events").select("event_type", "value")
    return equi_freq_bins(ev, ["event_type"], "value", n_bins=4)


SQL_EQUI_FREQ_BINS = f"""
WITH thr AS (
  SELECT event_type,
         list_value(
           {sql_dround('quantile_cont(value, 0.25)', 6)},
           {sql_dround('quantile_cont(value, 0.5)', 6)},
           {sql_dround('quantile_cont(value, 0.75)', 6)}
         ) AS t
  FROM events GROUP BY event_type
)
SELECT e.event_type, CAST(e.value AS DOUBLE) AS value,
       CAST(1 + len(list_filter(thr.t, x -> x < e.value)) AS BIGINT) AS bin
FROM events e JOIN thr ON e.event_type = thr.event_type
"""




def q_cross_corpus_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Exact-match decontamination between two datasets (llm/dedup.py::
    # cross_corpus_overlap): which corpus docs appear verbatim (after
    # normalization) in a reference/eval set. The reference here is a
    # deterministic derivation: every 7th doc re-cased + extra
    # whitespace (must match through normalization; every 14th appears
    # twice, exercising the copy count) plus every 11th doc with a
    # novel suffix (must NOT match). The oracle replays the derivation
    # and the md5 fingerprint rule.
    from python_mapreduce_spark.llm.dedup import cross_corpus_overlap  # noqa: PLC0415

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    recased = F.concat(F.upper(F.col("text")), F.lit("  "))
    suffixed = F.concat(F.col("text"), F.lit(" novel suffix"))
    # ONE filtered scan derives the same reference multiset the three
    # unionAll'ed slices produced (the %14 docs legitimately appear
    # twice): each row contributes a conditional array of its variants,
    # exploded — 3 wide-text corpus scans -> 1.
    empty = F.array().cast("array<string>")
    variants = F.concat(
        F.when(F.col("doc_id") % 7 == 0, F.array(recased)).otherwise(empty),
        F.when(F.col("doc_id") % 14 == 0, F.array(recased)).otherwise(empty),
        F.when(F.col("doc_id") % 11 == 0, F.array(suffixed)).otherwise(empty),
    )
    ref = (
        docs.filter((F.col("doc_id") % 7 == 0) | (F.col("doc_id") % 11 == 0))
        .select(F.explode(variants).alias("text"))
    )
    return cross_corpus_overlap(docs, ref, "doc_id", "text")


SQL_CROSS_CORPUS_OVERLAP = r"""
WITH ref AS (
  SELECT upper(text) || '  ' AS text FROM documents WHERE doc_id % 7 = 0
  UNION ALL
  SELECT upper(text) || '  ' FROM documents WHERE doc_id % 14 = 0
  UNION ALL
  SELECT text || ' novel suffix' FROM documents WHERE doc_id % 11 = 0
),
rfp AS (
  SELECT md5(trim(regexp_replace(lower(coalesce(text, '')), '\s+', ' ', 'g'))) AS fp,
         count(*) AS n
  FROM ref GROUP BY 1
)
SELECT d.doc_id AS id,
       r.n IS NOT NULL AS in_reference,
       CAST(coalesce(r.n, 0) AS BIGINT) AS n_reference_copies
FROM documents d
LEFT JOIN rfp r
  ON md5(trim(regexp_replace(lower(coalesce(d.text, '')), '\s+', ' ', 'g'))) = r.fp
"""


def q_cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Content-defined-chunking dedup signal (llm/dedup.py::
    # cdc_chunk_dedup): chunk boundaries where the md5 of the local
    # 2-token window ≡ 0 (mod 8), so shifted boilerplate still chunks
    # identically; per-doc coverage by chunks recurring in other docs.
    # The oracle replays the boundary hash digit-for-digit.
    from python_mapreduce_spark.llm.dedup import cdc_chunk_dedup  # noqa: PLC0415

    return cdc_chunk_dedup(table(spark, sf_dir, "documents"), "doc_id", "text", boundary_mod=8)


SQL_CDC_CHUNK_DEDUP = f"""
WITH base AS (
  SELECT doc_id AS id, regexp_extract_all(lower(coalesce(text, '')), '[a-z]+') AS toks
  FROM documents
),
toks AS (
  SELECT id, p - 1 AS pos, toks[p] AS tok,
         CASE WHEN p > 1 THEN toks[p-1] END AS prev
  FROM base, unnest(generate_series(1, len(toks))) t(p)
),
flagged AS (
  SELECT id, pos, tok,
         CASE WHEN prev IS NOT NULL
                   AND CAST(('0x' || substr(md5(prev || ' ' || tok), 1, 8)) AS BIGINT) % 8 = 0
              THEN 1 ELSE 0 END AS bnd
  FROM toks
),
chunked AS (
  SELECT id, pos, tok,
         sum(bnd) OVER (PARTITION BY id ORDER BY pos) AS chunk
  FROM flagged
),
chunks AS (
  SELECT id, chunk, CAST(count(*) AS BIGINT) AS clen,
         md5(string_agg(tok, ' ' ORDER BY pos)) AS ch
  FROM chunked GROUP BY id, chunk
),
votes AS (SELECT ch, count(DISTINCT id) AS ndocs FROM chunks GROUP BY ch),
per AS (
  SELECT c.id,
         CAST(sum(c.clen) AS BIGINT) AS n_tokens,
         CAST(count(*) AS BIGINT) AS n_chunks,
         CAST(sum(CASE WHEN v.ndocs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
         CAST(sum(CASE WHEN v.ndocs > 1 THEN c.clen ELSE 0 END) AS BIGINT) AS dup_toks
  FROM chunks c JOIN votes v USING (ch) GROUP BY c.id
)
SELECT b.id,
       coalesce(per.n_tokens, 0) AS n_tokens,
       coalesce(per.n_chunks, 0) AS n_chunks,
       coalesce(per.n_dup_chunks, 0) AS n_dup_chunks,
       CASE WHEN coalesce(per.n_tokens, 0) > 0
            THEN {sql_dround("CAST(per.dup_toks AS DOUBLE) / per.n_tokens", 6)}
            ELSE 0.0 END AS dup_token_coverage
FROM base b LEFT JOIN per ON b.id = per.id
"""


def q_ngram_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Per-source n-gram diversity profile (llm/text.py::ngram_diversity):
    # distinct/total 1-2-3-grams and their ratio — the type-token-ratio
    # corpus-health metric; grams are md5-narrowed before the shuffle on
    # both sides.
    from python_mapreduce_spark.llm.text import ngram_diversity  # noqa: PLC0415

    return ngram_diversity(table(spark, sf_dir, "documents"), ["source"], "text", max_n=3)


SQL_NGRAM_DIVERSITY = f"""
WITH base AS (
  SELECT source, regexp_extract_all(lower(coalesce(text, '')), '[a-z]+') AS toks
  FROM documents
),
grams AS (
  SELECT source, n,
         md5(array_to_string(toks[i:i+n-1], ' ')) AS gh
  FROM base,
       unnest(generate_series(1, 3)) tn(n),
       unnest(generate_series(1, len(toks) - n + 1)) ti(i)
),
agg AS (
  SELECT b.source, tn.n,
         CAST(count(g.gh) AS BIGINT) AS total_grams,
         CAST(count(DISTINCT g.gh) AS BIGINT) AS distinct_grams
  FROM (SELECT DISTINCT source FROM base) b
  CROSS JOIN unnest(generate_series(1, 3)) tn(n)
  LEFT JOIN grams g ON g.source = b.source AND g.n = tn.n
  GROUP BY b.source, tn.n
)
SELECT source, CAST(n AS INT) AS n, total_grams, distinct_grams,
       CASE WHEN total_grams > 0
            THEN {sql_dround("CAST(distinct_grams AS DOUBLE) / total_grams", 6)}
       END AS diversity
FROM agg
"""


def q_chi2_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Chi-squared term selection (llm/text.py::chi2_terms): the top-5
    # most lang-discriminative terms per language by 2x2 doc-incidence
    # chi-square, ranked (chi2 DESC, term ASC) so the cut is
    # deterministic; contingency cells come from ONE term-keyed agg.
    from python_mapreduce_spark.llm.text import chi2_terms  # noqa: PLC0415

    return chi2_terms(table(spark, sf_dir, "documents"), "doc_id", "lang", "text", k=5)


SQL_CHI2_TERMS = f"""
WITH inc AS (
  SELECT DISTINCT doc_id, lang AS label, unnest(regexp_extract_all(lower(coalesce(text, '')), '[a-z]+')) AS term
  FROM documents
),
cells AS (SELECT term, label, CAST(count(*) AS BIGINT) AS a FROM inc GROUP BY term, label),
tdf AS (SELECT term, CAST(sum(a) AS BIGINT) AS df_t FROM cells GROUP BY term),
ln_ AS (SELECT lang AS label, CAST(count(*) AS BIGINT) AS n_l FROM documents GROUP BY lang),
tot AS (SELECT CAST(sum(n_l) AS BIGINT) AS n_docs FROM ln_),
scored AS (
  SELECT c.label, c.term, c.a AS n_label_docs_with_term,
         CASE WHEN (CAST(c.a AS DOUBLE) + (t.df_t - c.a))
                   * ((l.n_l - c.a) + (tot.n_docs - l.n_l - (t.df_t - c.a)))
                   * (CAST(c.a AS DOUBLE) + (l.n_l - c.a))
                   * ((t.df_t - c.a) + (tot.n_docs - l.n_l - (t.df_t - c.a))) > 0
              THEN {sql_dround(
                  "CAST(tot.n_docs AS DOUBLE)"
                  " * (CAST(c.a AS DOUBLE) * (tot.n_docs - l.n_l - (t.df_t - c.a))"
                  "    - (t.df_t - c.a) * (l.n_l - c.a))"
                  " * (CAST(c.a AS DOUBLE) * (tot.n_docs - l.n_l - (t.df_t - c.a))"
                  "    - (t.df_t - c.a) * (l.n_l - c.a))"
                  " / ((CAST(c.a AS DOUBLE) + (t.df_t - c.a))"
                  "    * ((l.n_l - c.a) + (tot.n_docs - l.n_l - (t.df_t - c.a)))"
                  "    * (CAST(c.a AS DOUBLE) + (l.n_l - c.a))"
                  "    * ((t.df_t - c.a) + (tot.n_docs - l.n_l - (t.df_t - c.a))))", 4)}
              ELSE 0.0 END AS chi2
  FROM cells c JOIN tdf t USING (term) JOIN ln_ l USING (label) CROSS JOIN tot
)
SELECT label, term, n_label_docs_with_term, chi2, rn FROM (
  SELECT label, term, n_label_docs_with_term, chi2,
         CAST(row_number() OVER (PARTITION BY label ORDER BY chi2 DESC, term ASC) AS BIGINT) AS rn
  FROM scored
) WHERE rn <= 5
"""


def q_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Length-bucketed batch planning (operators/windows.py::
    # length_buckets): quartile length buckets, md5-dealt batches of 16,
    # per-batch padding accounting. Within-bucket order runs on the
    # distributed global_row_number (range exchange + broadcast
    # offsets); the oracle's plain per-bucket window is the semantic
    # twin only.
    from python_mapreduce_spark.operators.windows import length_buckets  # noqa: PLC0415

    docs = table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return length_buckets(docs, "doc_id", "n_chars", n_buckets=4, batch_size=16)


SQL_LENGTH_BUCKETS = f"""
WITH thr AS (
  SELECT list_value(
    {sql_dround("quantile_cont(CAST(n_chars AS BIGINT), 0.25)", 6)},
    {sql_dround("quantile_cont(CAST(n_chars AS BIGINT), 0.5)", 6)},
    {sql_dround("quantile_cont(CAST(n_chars AS BIGINT), 0.75)", 6)}
  ) AS t FROM documents
),
keyed AS (
  SELECT doc_id AS id, CAST(n_chars AS BIGINT) AS len,
         1 + len(list_filter(thr.t, x -> x < CAST(n_chars AS DOUBLE))) AS bucket,
         md5(CAST(doc_id AS VARCHAR)) AS ok
  FROM documents, thr
),
ranked AS (
  SELECT id, len, bucket,
         row_number() OVER (PARTITION BY bucket ORDER BY ok, id) AS r
  FROM keyed
),
batched AS (SELECT bucket, (r - 1) // 16 AS batch_id, len FROM ranked)
SELECT CAST(bucket AS INT) AS bucket, CAST(batch_id AS BIGINT) AS batch_id,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(min(len) AS BIGINT) AS min_len,
       CAST(max(len) AS BIGINT) AS max_len,
       CAST(sum(len) AS BIGINT) AS sum_len,
       CAST(count(*) * max(len) - sum(len) AS BIGINT) AS padding_tokens
FROM batched GROUP BY bucket, batch_id
"""


def q_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Asymmetric containment pairs (llm/dedup.py::containment_pairs):
    # |shingles(src) ∩ shingles(dst)| / |shingles(src)| >= 0.6 — the
    # quote/excerpt signal Jaccard misses. Same postings machinery and
    # df cap as q_dedup_jaccard; the oracle replays both directions.
    from python_mapreduce_spark.llm.dedup import containment_pairs  # noqa: PLC0415

    return containment_pairs(
        table(spark, sf_dir, "documents"), "doc_id", "text",
        n=3, threshold=0.6, max_shingle_df=100,
    )


SQL_CONTAINMENT = f"""
WITH {_SQL_SHINGLES},
posts0 AS (SELECT id, unnest(shingles) AS shingle FROM sets WHERE len(shingles) > 0),
posts AS (
  SELECT id, shingle FROM posts0
  WHERE shingle IN (SELECT shingle FROM posts0 GROUP BY shingle HAVING count(*) <= 100)
),
sizes AS (SELECT id, count(*) AS sz FROM posts GROUP BY id),
inter AS (
  SELECT a.id AS id1, b.id AS id2, count(*) AS inter
  FROM posts a JOIN posts b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY 1, 2
),
pairdirs AS (
  SELECT id1, id2, inter, sa.sz AS sz1, sb.sz AS sz2
  FROM inter JOIN sizes sa ON id1 = sa.id JOIN sizes sb ON id2 = sb.id
)
SELECT src_id, dst_id, containment FROM (
  SELECT id1 AS src_id, id2 AS dst_id,
         floor(CAST(inter AS DOUBLE) / sz1 * 10000.0 + 0.5) / 10000.0 AS containment
  FROM pairdirs
  UNION ALL
  SELECT id2, id1,
         floor(CAST(inter AS DOUBLE) / sz2 * 10000.0 + 0.5) / 10000.0
  FROM pairdirs
) WHERE containment >= 0.6
"""


def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Tokenizer fertility profile (llm/text.py::tokenizer_fertility):
    # per-language chars/words/BPE-ish tokens and the chars-per-token /
    # tokens-per-word budget ratios — one projection + one hash agg.
    from python_mapreduce_spark.llm.text import tokenizer_fertility  # noqa: PLC0415

    return tokenizer_fertility(table(spark, sf_dir, "documents"), ["lang"], "text")


SQL_TOKENIZER_FERTILITY = rf"""
WITH per AS (
  SELECT lang,
         length(coalesce(text, '')) AS chars,
         len(regexp_extract_all(coalesce(text, ''), '\S+')) AS words,
         len(regexp_extract_all(coalesce(text, ''), '[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\s]')) AS toks
  FROM documents
),
agg AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(chars) AS BIGINT) AS total_chars,
         CAST(sum(words) AS BIGINT) AS total_words,
         CAST(sum(toks) AS BIGINT) AS total_tokens
  FROM per GROUP BY lang
)
SELECT lang, n_docs, total_chars, total_words, total_tokens,
       CASE WHEN total_tokens > 0
            THEN {sql_dround("CAST(total_chars AS DOUBLE) / total_tokens", 4)} END AS chars_per_token,
       CASE WHEN total_words > 0
            THEN {sql_dround("CAST(total_tokens AS DOUBLE) / total_words", 4)} END AS tokens_per_word
FROM agg
"""


def q_cluster_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Quality-aware canonical selection (llm/dedup.py::
    # cluster_canonical): near-dup cliques keep their highest-quality
    # member, not an arbitrary min-id — the production dedup decision.
    # MinHash-LSH recall makes the candidate graph equal the exact pair
    # graph at these dials (the q_dedup_minhash argument), so the
    # oracle replays the exact-Jaccard closure + the quality argmax.
    from python_mapreduce_spark.llm.dedup import cluster_canonical  # noqa: PLC0415

    return cluster_canonical(
        table(spark, sf_dir, "documents"), "doc_id", "text",
        n=3, num_hashes=32, bands=8, rows=4, threshold=0.8,
    )


SQL_CLUSTER_CANONICAL = f"""
WITH RECURSIVE
{_SQL_SHINGLES},
posts AS (SELECT id, unnest(shingles) AS shingle FROM sets WHERE len(shingles) > 0),
szs AS (SELECT id, CAST(len(shingles) AS BIGINT) AS sz FROM sets WHERE len(shingles) > 0),
inter AS (
  SELECT a.id AS id1, b.id AS id2, count(*) AS inter
  FROM posts a JOIN posts b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY 1, 2
),
pairs AS (
  SELECT id1, id2 FROM (
    SELECT id1, id2,
           floor(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) * 10000.0 + 0.5) / 10000.0
             AS jaccard
    FROM inter JOIN szs sa ON id1 = sa.id JOIN szs sb ON id2 = sb.id
  ) WHERE jaccard >= 0.8
),
sym AS (SELECT id1 AS a, id2 AS b FROM pairs UNION ALL SELECT id2, id1 FROM pairs),
reach(node, label) AS (
  SELECT a, a FROM sym
  UNION
  SELECT s.b, r.label FROM reach r JOIN sym s ON s.a = r.node
),
comp AS (SELECT node, min(label) AS cluster FROM reach GROUP BY node),
q AS (
  SELECT doc_id AS id,
         floor((0.4 * least(CAST(len(regexp_extract_all(lower(coalesce(text, '')), '[a-z]+')) AS DOUBLE) / 100.0, 1.0)
              + 0.3 * (1.0 - floor(CAST(length(regexp_replace(lower(coalesce(text, '')), '[a-z ]', '', 'g')) AS DOUBLE)
                                   / greatest(length(coalesce(text, '')), 1) * 10000.0 + 0.5) / 10000.0)
              + 0.3 * least(floor(CAST(len(list_filter(regexp_extract_all(lower(coalesce(text, '')), '[a-z]+'),
                                                       t -> t IN ('the','a','of','and','to','is'))) AS DOUBLE)
                                  / greatest(len(regexp_extract_all(lower(coalesce(text, '')), '[a-z]+')), 1)
                                  * 10000.0 + 0.5) / 10000.0 * 4.0, 1.0)) * 10000.0 + 0.5) / 10000.0 AS quality
  FROM documents
),
assigned AS (
  SELECT q.id, coalesce(comp.cluster, q.id) AS cluster, q.quality
  FROM q LEFT JOIN comp ON q.id = comp.node
)
SELECT id, cluster, quality,
       row_number() OVER (PARTITION BY cluster ORDER BY quality DESC, id ASC) = 1 AS keep
FROM assigned
"""


def q_top_eigenvector(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Dominant eigenvector of the embedding covariance by DISTRIBUTED
    # power iteration (llm/similarity.py::top_eigenvector): matrix and
    # vector stay DataFrames, each iteration is one equi-join + one
    # map-side-combined decimal agg, normalization a broadcast 1-row
    # agg. The oracle unrolls the iterations with the identical
    # rounding schedule (the PageRank scheme), so an ITERATIVE linear-
    # algebra result is hash-compared bit-for-bit.
    from python_mapreduce_spark.llm.similarity import (  # noqa: PLC0415
        embedding_covariance,
        top_eigenvector,
    )

    cov = embedding_covariance(table(spark, sf_dir, "embeddings"), "embedding")
    return top_eigenvector(cov, iters=3)


def _sql_top_eigenvector(iters: int = 3) -> str:
    # v0 = 1/sqrt(64) = 0.125, exact in binary — matches the Spark
    # literal for this corpus's dim-64 embeddings.
    r8, r6 = (lambda e: sql_dround(e, 8)), (lambda e: sql_dround(e, 6))
    ctes = [f"""base AS (SELECT embedding AS v FROM embeddings WHERE embedding IS NOT NULL),
n AS (SELECT count(*) AS n FROM base),
dims AS (SELECT unnest(generate_series(0, len(v) - 1)) AS i
         FROM (SELECT v FROM base LIMIT 1)),
pairs AS (
  SELECT di.i AS i, dj.i AS j,
         CAST({r8('CAST(v[di.i + 1] AS DOUBLE) * CAST(v[dj.i + 1] AS DOUBLE)')}
              AS DECIMAL(28,8)) AS p
  FROM base, dims di, dims dj WHERE dj.i >= di.i
),
cov0 AS (SELECT i, j, CAST(sum(p) AS DOUBLE) / n.n AS cov
         FROM pairs CROSS JOIN n GROUP BY i, j, n.n),
sym AS (SELECT i, j, cov FROM cov0
        UNION ALL SELECT j, i, cov FROM cov0 WHERE i <> j),
v0 AS (SELECT DISTINCT i, 0.125 AS v FROM sym)"""]
    for t in range(1, iters + 1):
        ctes.append(
            f"""w{t} AS (
  SELECT s.i, CAST(sum(CAST({r8('s.cov * v.v')} AS DECIMAL(28,8))) AS DOUBLE) AS w
  FROM sym s JOIN v{t - 1} v ON s.j = v.i GROUP BY s.i
),
n{t} AS (SELECT sqrt(CAST(sum(CAST({r8('w * w')} AS DECIMAL(28,8))) AS DOUBLE)) AS nrm
         FROM w{t}),
v{t} AS (SELECT i, {r6('w / nrm')} AS v FROM w{t}, n{t})"""
        )
    ctes.append(
        f"""wf AS (
  SELECT s.i, CAST(sum(CAST({r8('s.cov * v.v')} AS DECIMAL(28,8))) AS DOUBLE) AS w
  FROM sym s JOIN v{iters} v ON s.j = v.i GROUP BY s.i
),
lam AS (
  SELECT {r6(f"CAST(sum(CAST({r8('v.v * wf.w')} AS DECIMAL(28,8))) AS DOUBLE)")} AS eigenvalue
  FROM v{iters} v JOIN wf ON v.i = wf.i
),
tr AS (SELECT {r6('CAST(sum(CAST(cov AS DECIMAL(28,8))) AS DOUBLE)')} AS tr
       FROM cov0 WHERE i = j)"""
    )
    body = ",\n".join(ctes)
    return f"""WITH {body}
SELECT CAST(v.i AS BIGINT) AS i, v.v AS loading, lam.eigenvalue,
       {r6('lam.eigenvalue / tr.tr')} AS explained_share
FROM v{iters} v, lam, tr"""


SQL_TOP_EIGENVECTOR = _sql_top_eigenvector(3)


def q_dup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Dup-cluster size profile: how big do near-dup cliques get — the
    # one-line report a dedup run ships with (a long tail of giant
    # cliques means boilerplate, pairs-only means true copies). Derived
    # from the same pairs → connected-components pipeline as
    # q_dedup_clusters; one extra count-of-counts aggregation.
    from python_mapreduce_spark.llm.dedup import connected_components  # noqa: PLC0415

    pairs = minhash_dedup_pairs(
        table(spark, sf_dir, "documents"), "doc_id", "text",
        n=3, num_hashes=32, bands=8, rows=4, threshold=0.8,
    )
    comps = connected_components(pairs.select("id1", "id2"))
    return (
        comps.groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n_members"))
        .groupBy("n_members")
        .agg(F.count(F.lit(1)).cast("long").alias("n_clusters"))
    )


SQL_DUP_CLUSTER_SIZES = f"""
SELECT n_members, CAST(count(*) AS BIGINT) AS n_clusters
FROM ({SQL_DEDUP_CLUSTERS})
GROUP BY n_members
"""


def q_dedup_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Dedup savings report (llm/dedup.py::dedup_savings): per source,
    # docs/tokens before vs after the quality-aware canonical keep —
    # the effective-dataset-size number. Oracle: the cluster-canonical
    # closure nested under a token-count roll-up.
    from python_mapreduce_spark.llm.dedup import dedup_savings  # noqa: PLC0415

    return dedup_savings(
        table(spark, sf_dir, "documents"), "doc_id", "text", ["source"],
        n=3, num_hashes=32, bands=8, rows=4, threshold=0.8,
    )


SQL_DEDUP_SAVINGS = f"""
WITH verdicts AS ({SQL_CLUSTER_CANONICAL}),
toks AS (
  SELECT doc_id AS id, source,
         CAST(len(regexp_extract_all(lower(coalesce(text, '')), '[a-z]+')) AS BIGINT) AS t
  FROM documents
),
agg AS (
  SELECT toks.source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(CASE WHEN v.keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         CAST(sum(toks.t) AS BIGINT) AS tokens_total,
         CAST(sum(CASE WHEN v.keep THEN toks.t ELSE 0 END) AS BIGINT) AS tokens_kept
  FROM toks JOIN verdicts v ON toks.id = v.id
  GROUP BY toks.source
)
SELECT source, n_docs, n_kept, tokens_total, tokens_kept,
       CASE WHEN tokens_total > 0
            THEN {sql_dround("CAST(tokens_total - tokens_kept AS DOUBLE) / tokens_total", 6)}
            ELSE 0.0 END AS token_savings
FROM agg
"""


def q_code_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Code-vs-prose routing (llm/text.py::code_detect): symbol density,
    # indented-line share, keyword hits, fixed-weight score, boolean
    # gate — a pure codegen projection; both engines run the same RE2
    # patterns ((?m) multiline for the line rules).
    from python_mapreduce_spark.llm.text import code_detect  # noqa: PLC0415

    return code_detect(table(spark, sf_dir, "documents"), "doc_id", "text")


SQL_CODE_DETECT = f"""
WITH base AS (
  SELECT doc_id AS id, coalesce(text, '') AS t FROM documents
),
sig AS (
  SELECT id, CAST(len(t) AS BIGINT) AS n_chars,
         len(regexp_extract_all(t, '[{{}}();=\\[\\]<>]')) AS symbols,
         len(regexp_extract_all(t, '(?m)^.+$')) AS lines,
         len(regexp_extract_all(t, '(?m)^(?:\\t|  +).*$')) AS indented,
         CAST(len(regexp_extract_all(lower(t),
              '\\b(?:def|return|import|function|class|var|const|if|else)\\b'))
           AS BIGINT) AS kw
  FROM base
),
ratios AS (
  SELECT id, n_chars, kw,
         CASE WHEN n_chars > 0 THEN CAST(symbols AS DOUBLE) / n_chars ELSE 0.0 END AS sr,
         CASE WHEN lines > 0 THEN CAST(indented AS DOUBLE) / lines ELSE 0.0 END AS ir
  FROM sig
)
SELECT id, n_chars,
       {sql_dround("sr", 6)} AS symbol_ratio,
       {sql_dround("ir", 6)} AS indent_ratio,
       kw AS keyword_hits,
       {sql_dround("0.5 * least(1.0, 8.0 * sr) + 0.3 * ir + 0.2 * least(1.0, kw / 5.0)", 6)} AS code_score,
       (0.5 * least(1.0, 8.0 * sr) + 0.3 * ir + 0.2 * least(1.0, kw / 5.0)) >= 0.5 AS is_code
FROM ratios
"""


def q_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Broadcast blocklist screen (llm/text.py::blocklist_filter): term
    # list as ONE array literal, higher-order filter per row — pure
    # codegen, no shuffle/UDF/join. Demo list mixes absent terms with
    # corpus-frequent ones so both branches of the gate fire.
    from python_mapreduce_spark.llm.text import blocklist_filter  # noqa: PLC0415

    return blocklist_filter(
        table(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        ["casino", "jackpot", "customer", "spark"],
        max_hits_keep=1,
    )


SQL_BLOCKLIST_FILTER = """
WITH m AS (
  SELECT doc_id AS id,
         list_sort(list_filter(['casino', 'customer', 'jackpot', 'spark'],
                               t -> contains(lower(coalesce(text, '')), t))) AS ms
  FROM documents
)
SELECT id, CAST(len(ms) AS BIGINT) AS hits, ms[1] AS first_term,
       len(ms) <= 1 AS keep
FROM m
"""


def q_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    # zlib redundancy signal (llm/text.py::compression_ratio): Arrow-
    # batched pandas UDF over the scan. DuckDB has no zlib, so this is
    # rows-only BY DESIGN; the hash-green bounds twin is
    # q_compression_ratio_eval below.
    from python_mapreduce_spark.llm.text import compression_ratio  # noqa: PLC0415

    return compression_ratio(table(spark, sf_dir, "documents"), "doc_id", "text")


def q_compression_ratio_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Bounds twin for q_compression_ratio (the ANN-recall-twin pattern):
    # for every document of >= 32 bytes, the zlib ratio must land in
    # (0, 1.5] — a TRUE invariant (c_bytes >= 1 so ratio > 0; zlib's
    # worst case is n + ~11 bytes of stored-block overhead, <= 1.35n at
    # n >= 32), so a miss can only mean the UDF wiring mis-measured.
    # Docs under 32 bytes are excluded: the fixed overhead legitimately
    # pushes tiny inputs past any constant bound (the NULL-text
    # robustness replica caught exactly that with a 1.1 cutoff).
    # bounds_floor = least(frac, 1.0): the literal 1.0 when the
    # contract holds (what the oracle emits), the actual deficient
    # fraction on failure.
    from python_mapreduce_spark.llm.text import compression_ratio  # noqa: PLC0415

    r = compression_ratio(table(spark, sf_dir, "documents"), "doc_id", "text")
    in_bounds = (
        F.when((F.col("ratio") > 0.0) & (F.col("ratio") <= 1.5), 1.0)
        .otherwise(0.0)
        .alias("__ok")
    )
    return r.filter(F.col("n_bytes") >= 32).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.least(dround(F.avg(in_bounds), 4), F.lit(1.0)).alias("bounds_floor"),
    )


SQL_COMPRESSION_RATIO_EVAL = """
SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(1.0 AS DOUBLE) AS bounds_floor
FROM documents WHERE octet_length(encode(coalesce(text, ''))) >= 32
"""


def q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Per-source Flesch readability (llm/text.py::readability_profile):
    # computed from the group's exact integer word/sentence/syllable
    # totals (one projection + one agg), not a mean of noisy per-doc
    # scores; the data-card reading-level row.
    from python_mapreduce_spark.llm.text import readability_profile  # noqa: PLC0415

    return readability_profile(table(spark, sf_dir, "documents"), ["source"], "text")


SQL_READABILITY = f"""
WITH base AS (
  SELECT source,
         len(regexp_extract_all(lower(coalesce(text, '')), '[a-z]+')) AS w,
         len(regexp_extract_all(coalesce(text, ''), '[.!?]+')) AS sr,
         len(regexp_extract_all(lower(coalesce(text, '')), '[aeiouy]+')) AS sy
  FROM documents
),
agg AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(w) AS BIGINT) AS words,
         CAST(sum(CASE WHEN w > 0 THEN greatest(sr, 1) ELSE 0 END) AS BIGINT) AS sentences,
         CAST(sum(sy) AS BIGINT) AS syllables
  FROM base GROUP BY 1
)
SELECT source, n_docs, words, sentences, syllables,
  CASE WHEN words > 0 AND sentences > 0
       THEN {sql_dround("CAST(words AS DOUBLE) / sentences", 6)} END AS words_per_sentence,
  CASE WHEN words > 0 AND sentences > 0
       THEN {sql_dround("CAST(syllables AS DOUBLE) / words", 6)} END AS syllables_per_word,
  CASE WHEN words > 0 AND sentences > 0
       THEN {sql_dround(
           "206.835 - 1.015 * (CAST(words AS DOUBLE) / sentences)"
           " - 84.6 * (CAST(syllables AS DOUBLE) / words)", 6)}
  END AS flesch
FROM agg
"""


def q_triangle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Dup-graph structure probe (llm/dedup.py::triangle_stats):
    # triangle count + global clustering coefficient of the exact
    # near-dup pair graph (j >= 0.8). High clustering = transitive
    # cliques = canonical-per-cluster dedup is safe. Degree-ordered
    # orientation bounds the wedge join; the oracle replays triangles
    # as the a<b<c three-way join.
    from python_mapreduce_spark.llm.dedup import ngram_jaccard_pairs, triangle_stats  # noqa: PLC0415

    docs = table(spark, sf_dir, "documents")
    # df cap: identical pair set at every driver-checked SF (max df
    # < 100 there), bounded postings join on saturated corpora — see
    # q_dedup_jaccard's comment and containment_pairs' cost law. The
    # oracle replays the cap, so the twin agrees even when every
    # shingle saturates (CONST-TEXT replica: empty edge set -> zero
    # rows from the grouped agg on BOTH engines).
    edges = ngram_jaccard_pairs(
        docs, "doc_id", "text", threshold=0.8, max_shingle_df=100,
        prefix_filter=True, positional_filter=True,
    )
    return triangle_stats(edges)


SQL_TRIANGLE_STATS = f"""
WITH {{shingles}},
posts0 AS (SELECT id, unnest(shingles) AS shingle FROM sets WHERE len(shingles) > 0),
posts AS (
  SELECT id, shingle FROM posts0
  WHERE shingle IN (SELECT shingle FROM posts0 GROUP BY shingle HAVING count(*) <= 100)
),
sizes AS (SELECT id, CAST(count(*) AS BIGINT) AS sz FROM posts GROUP BY id),
inter AS (
  SELECT a.id AS id1, b.id AS id2, count(*) AS i
  FROM posts a JOIN posts b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY 1, 2
),
e AS (
  SELECT id1 AS a, id2 AS b FROM (
    SELECT id1, id2,
           floor(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) * 10000.0 + 0.5) / 10000.0
             AS jaccard
    FROM inter JOIN sizes sa ON id1 = sa.id JOIN sizes sb ON id2 = sb.id
  ) WHERE jaccard >= 0.8
),
deg AS (
  SELECT v, CAST(count(*) AS BIGINT) AS d FROM (
    SELECT a AS v FROM e UNION ALL SELECT b FROM e
  ) GROUP BY 1
),
tri AS (
  SELECT CAST(count(*) AS BIGINT) AS n_triangles
  FROM e e1 JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
  JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b
),
stats AS (
  SELECT 1 AS g, CAST(count(*) AS BIGINT) AS n_vertices,
         CAST(sum(d * (d - 1) / 2) AS BIGINT) AS wedges
  FROM deg GROUP BY g
),
en AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM e)
SELECT n_vertices, n_edges, n_triangles,
       CASE WHEN wedges > 0
            THEN {sql_dround("3.0 * n_triangles / wedges", 6)} END AS clustering
FROM stats, en, tri
""".replace("{shingles}", _SQL_SHINGLES.strip())


def q_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Label-based retrieval quality (llm/similarity.py::
    # retrieval_label_eval): exact cosine top-5 for 50 query vectors,
    # same-label = relevant, MRR@5 + precision@5 per query label — the
    # "does embedding space respect the taxonomy" gate. The oracle
    # replays the identical rounded-cosine ranking and the 1e-8
    # DECIMAL reciprocal-rank sum.
    from python_mapreduce_spark.llm.similarity import retrieval_label_eval  # noqa: PLC0415

    emb = table(spark, sf_dir, "embeddings")
    return retrieval_label_eval(
        emb, emb.filter(F.col("vec_id") < 50), "vec_id", "embedding", "label", k=5
    )


SQL_RETRIEVAL_EVAL = f"""
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
scored AS (
  SELECT q.vec_id AS query_id, q.label AS ql, c.vec_id AS neighbor_id, c.label AS cl,
         floor(list_dot_product(q.v, c.v)
               / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v)))
               * 1000000.0 + 0.5) / 1000000.0 AS cos
  FROM e q JOIN e c ON q.vec_id < 50 AND c.vec_id != q.vec_id
),
topk AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn
    FROM scored) WHERE rn <= 5
),
perq AS (
  SELECT query_id, ql,
         min(CASE WHEN cl IS NOT DISTINCT FROM ql THEN rn END) AS first,
         CAST(sum(CASE WHEN cl IS NOT DISTINCT FROM ql THEN 1 ELSE 0 END) AS BIGINT)
           AS nhits
  FROM topk GROUP BY 1, 2
)
SELECT ql AS label, CAST(count(*) AS BIGINT) AS n_queries,
  {sql_dround(
      "CAST(sum(CAST(floor((CASE WHEN first IS NOT NULL THEN 1.0 / first ELSE 0.0 END)"
      " * 100000000.0 + 0.5) / 100000000.0 AS DECIMAL(28,8))) AS DOUBLE) / count(*)", 6)}
    AS mrr,
  {sql_dround("CAST(sum(nhits) AS DOUBLE) / (5.0 * count(*))", 6)} AS p_at_k
FROM perq GROUP BY 1
"""


# Per-doc (declared lang, predicted lang) pairs — the shared input of the
# classification-report and kappa queries (same stopword vote as
# SQL_LANGID_CONFUSION; NULL declared langs surface as '<null>').
_SQL_LANGID_PAIRS = """
sw(lang, word) AS (VALUES
  ('en','the'),('en','a'),('en','of'),('en','and'),('en','to'),('en','is'),
  ('de','der'),('de','die'),('de','das'),('de','und'),('de','ist'),
  ('es','el'),('es','la'),('es','de'),('es','que'),('es','es'),
  ('fr','le'),('fr','la'),('fr','les'),('fr','et'),('fr','est')),
toks AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(coalesce(text, '')), '[a-z]+')) AS word
  FROM documents),
votes AS (
  SELECT doc_id, lang, count(*) AS hits
  FROM toks JOIN sw USING (word)
  GROUP BY doc_id, lang),
best AS (
  SELECT doc_id, lang FROM (
    SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY hits DESC, lang) AS rn
    FROM votes) WHERE rn = 1),
pairs AS (
  SELECT coalesce(d.lang, '<null>') AS l, coalesce(b.lang, 'unknown') AS p
  FROM documents d LEFT JOIN best b ON d.doc_id = b.doc_id)
"""


def _langid_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # language_id is a pure projection now, so the declared tag and the
    # prediction come off the SAME scan row — the former doc_id
    # self-join (an exchange per consumer) computed exactly this.
    from python_mapreduce_spark.llm.text import language_id_pred, tokenize  # noqa: PLC0415

    docs = table(spark, sf_dir, "documents")
    return docs.select("lang", tokenize("text").alias("__toks")).select(
        F.coalesce("lang", F.lit("<null>")).alias("l"),
        language_id_pred("__toks").alias("p"),
    )


def q_classification_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Per-class precision/recall/F1/support (operators/aggregates.py::
    # classification_report) of the stopword-vote langid against the
    # declared lang tag — the per-class eval table behind the
    # q_langid_confusion matrix. One (label, pred) agg scans the data;
    # marginals and the diagonal derive from that class^2 frame.
    from python_mapreduce_spark.operators.aggregates import classification_report  # noqa: PLC0415

    return classification_report(_langid_pairs(spark, sf_dir), "l", "p")


SQL_CLASSIFICATION_REPORT = f"""
WITH {_SQL_LANGID_PAIRS},
conf AS (SELECT l, p, CAST(count(*) AS BIGINT) AS n FROM pairs GROUP BY 1, 2),
act AS (SELECT l AS class, CAST(sum(n) AS BIGINT) AS support FROM conf GROUP BY 1),
prd AS (SELECT p AS class, CAST(sum(n) AS BIGINT) AS predicted FROM conf GROUP BY 1),
tp AS (SELECT l AS class, n AS tp FROM conf WHERE l = p),
j AS (
  SELECT coalesce(act.class, prd.class) AS class,
         coalesce(support, 0) AS support,
         coalesce(predicted, 0) AS predicted,
         coalesce(tp.tp, 0) AS tp
  FROM act FULL OUTER JOIN prd ON act.class = prd.class
  LEFT JOIN tp ON coalesce(act.class, prd.class) = tp.class
)
SELECT class, support, predicted, tp,
  CASE WHEN predicted > 0
       THEN {sql_dround("CAST(tp AS DOUBLE) / predicted", 6)} END AS precision,
  CASE WHEN support > 0
       THEN {sql_dround("CAST(tp AS DOUBLE) / support", 6)} END AS recall,
  CASE WHEN predicted > 0 AND support > 0
            AND (CAST(tp AS DOUBLE) / predicted + CAST(tp AS DOUBLE) / support) > 0
       THEN {sql_dround(
           "2.0 * (CAST(tp AS DOUBLE) / predicted) * (CAST(tp AS DOUBLE) / support)"
           " / (CAST(tp AS DOUBLE) / predicted + CAST(tp AS DOUBLE) / support)", 6)}
  END AS f1
FROM j
"""


def q_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Chance-corrected agreement (operators/aggregates.py::
    # cohens_kappa) between the langid prediction and the declared
    # lang — "is the metadata better than chance". Same single
    # (a, b) agg; marginal products give the chance rate.
    from python_mapreduce_spark.operators.aggregates import cohens_kappa  # noqa: PLC0415

    return cohens_kappa(_langid_pairs(spark, sf_dir), "l", "p")


SQL_COHENS_KAPPA = f"""
WITH {_SQL_LANGID_PAIRS},
conf AS (SELECT l, p, CAST(count(*) AS BIGINT) AS n FROM pairs GROUP BY 1, 2),
ma AS (SELECT l, CAST(sum(n) AS BIGINT) AS na FROM conf GROUP BY 1),
mb AS (SELECT p, CAST(sum(n) AS BIGINT) AS nb FROM conf GROUP BY 1),
pen AS (SELECT CAST(sum(na * nb) AS DOUBLE) AS pe_num FROM ma JOIN mb ON ma.l = mb.p),
tot AS (
  SELECT 1 AS g, CAST(sum(n) AS BIGINT) AS n,
         CAST(sum(CASE WHEN l = p THEN n ELSE 0 END) AS DOUBLE) AS agree
  FROM conf GROUP BY g
)
SELECT n,
  {sql_dround("agree / n", 6)} AS po,
  {sql_dround("coalesce(pe_num, 0.0) / (CAST(n AS DOUBLE) * n)", 6)} AS pe,
  CASE WHEN coalesce(pe_num, 0.0) / (CAST(n AS DOUBLE) * n) < 1.0
       THEN {sql_dround(
           "(agree / n - coalesce(pe_num, 0.0) / (CAST(n AS DOUBLE) * n))"
           " / (1.0 - coalesce(pe_num, 0.0) / (CAST(n AS DOUBLE) * n))", 6)}
  END AS kappa
FROM tot, pen
"""


def q_fuzzy_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Fuzzy train/eval decontamination (llm/dedup.py::
    # fuzzy_decontamination): documents md5-split 7/8 train vs 1/8
    # "benchmark", then MinHash-LSH cross-candidates + exact-Jaccard
    # verify flag the train docs a near-dup sweep must purge. The
    # widened 32x2 banding puts candidate recall at ~1-6e-15 for
    # j >= 0.8, so the exact-pair oracle's exposure is negligible.
    from python_mapreduce_spark.llm.dedup import fuzzy_decontamination  # noqa: PLC0415

    docs = table(spark, sf_dir, "documents")
    is_eval = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4) < "2000"
    return fuzzy_decontamination(
        docs.filter(~is_eval), docs.filter(is_eval), "doc_id", "text"
    )


SQL_FUZZY_DECONTAM = f"""
WITH {{shingles}},
tag AS (SELECT doc_id AS id,
               substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '2000' AS is_eval
        FROM documents),
posts AS (SELECT id, unnest(shingles) AS shingle FROM sets WHERE len(shingles) > 0),
sizes AS (SELECT id, CAST(len(shingles) AS BIGINT) AS sz FROM sets WHERE len(shingles) > 0),
inter AS (
  SELECT c.id AS cid, e.id AS eid, count(*) AS i
  FROM posts c JOIN tag tc ON c.id = tc.id AND NOT tc.is_eval
  JOIN posts e ON c.shingle = e.shingle
  JOIN tag te ON e.id = te.id AND te.is_eval
  GROUP BY 1, 2
),
ver AS (
  SELECT cid, eid,
         floor(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) * 10000.0 + 0.5) / 10000.0
           AS jaccard
  FROM inter JOIN sizes sa ON cid = sa.id JOIN sizes sb ON eid = sb.id
  WHERE floor(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) * 10000.0 + 0.5) / 10000.0 >= 0.8
),
agg AS (SELECT cid, CAST(count(*) AS BIGINT) AS n_matches, max(jaccard) AS mj
        FROM ver GROUP BY 1)
SELECT a.cid AS id, a.n_matches, a.mj AS max_jaccard,
       CAST(min(v.eid) AS BIGINT) AS eval_id
FROM agg a JOIN ver v ON a.cid = v.cid AND v.jaccard = a.mj
GROUP BY 1, 2, 3
""".replace("{shingles}", _SQL_SHINGLES.strip())




def q_gini_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Concentration readout (operators/aggregates.py::
    # gini_concentration): Gini coefficient of TOKEN mass across
    # sources — "do a few domains hold the corpus?" One tokenization
    # scan, a source-sized totals frame, a distributed rank over it,
    # one re-agg. Exact rank identity; group-key tiebreak pins ranks.
    from python_mapreduce_spark.operators.aggregates import gini_concentration  # noqa: PLC0415

    docs = table(spark, sf_dir, "documents").select(
        "source", F.size(tokenize(F.col("text"))).cast("long").alias("n_toks")
    )
    return gini_concentration(docs, ["source"], "n_toks")


SQL_GINI_DOMAINS = f"""
WITH t AS (
  SELECT source,
         CAST(sum(len(regexp_extract_all(lower(coalesce(text, '')), '[a-z]+'))) AS DOUBLE) AS x
  FROM documents GROUP BY source
),
r AS (SELECT x, row_number() OVER (ORDER BY x, source) AS i FROM t)
SELECT n_groups, {sql_dround("tot", 6)} AS total,
       CASE WHEN tot > 0 AND n_groups > 0
            THEN {sql_dround("2.0 * iwx / (n_groups * tot) - (n_groups + 1) / CAST(n_groups AS DOUBLE)", 6)}
       END AS gini
FROM (
  SELECT 1 AS grp, CAST(count(*) AS BIGINT) AS n_groups,
         sum(x) AS tot, sum(i * x) AS iwx
  FROM r GROUP BY grp
)
"""


def q_pareto_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Lorenz readout (operators/aggregates.py::pareto_share): the char
    # mass held by the top 1% / 10% / 20% of documents — the actionable
    # companion of q_gini_domains when deciding a per-doc cap. ONE
    # distributed global rank (no single-task window) + one
    # conditional-sum agg against the broadcast 1-row count.
    from python_mapreduce_spark.operators.aggregates import pareto_share  # noqa: PLC0415

    docs = table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return pareto_share(docs, "doc_id", "n_chars", fractions=(0.01, 0.10, 0.20))


SQL_PARETO_SHARE = f"""
WITH r AS (
  SELECT CAST(n_chars AS DOUBLE) AS x,
         row_number() OVER (ORDER BY -CAST(n_chars AS DOUBLE), doc_id) AS i
  FROM documents
),
c AS (SELECT 1 AS grp, CAST(count(*) AS BIGINT) AS n_rows, sum(x) AS tot FROM r GROUP BY grp)
SELECT n_rows, {sql_dround("tot", 6)} AS total,
       CASE WHEN tot > 0 THEN {sql_dround("s1 / tot", 6)} END AS share_top_1,
       CASE WHEN tot > 0 THEN {sql_dround("s10 / tot", 6)} END AS share_top_10,
       CASE WHEN tot > 0 THEN {sql_dround("s20 / tot", 6)} END AS share_top_20
FROM (
  SELECT max(c.n_rows) AS n_rows, max(c.tot) AS tot,
         sum(CASE WHEN i <= ceil(c.n_rows * 0.01) THEN x ELSE 0.0 END) AS s1,
         sum(CASE WHEN i <= ceil(c.n_rows * 0.10) THEN x ELSE 0.0 END) AS s10,
         sum(CASE WHEN i <= ceil(c.n_rows * 0.20) THEN x ELSE 0.0 END) AS s20
  FROM r CROSS JOIN c GROUP BY c.grp
)
"""


def q_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Corpus-authenticity probe (llm/text.py::zipf_slope): OLS slope of
    # ln(freq) on ln(rank) over the top-100 terms — natural text sits
    # near -1. Top-n trim is a vocabulary-frame sort-limit; the rank is
    # the distributed global_row_number; (count desc, term) tiebreak
    # pins ln(rank) per term so the fit replays bit-for-bit at 4
    # decimals.
    return zipf_slope(table(spark, sf_dir, "documents"), "text", top_n=100)


SQL_ZIPF_SLOPE = f"""
WITH toks AS (
  SELECT unnest(regexp_extract_all(lower(coalesce(text, '')), '[a-z]+')) AS term
  FROM documents
),
tc AS (SELECT term, CAST(count(*) AS BIGINT) AS n FROM toks GROUP BY term),
t100 AS (SELECT term, n FROM tc ORDER BY n DESC, term LIMIT 100),
r AS (
  SELECT ln(CAST(row_number() OVER (ORDER BY n DESC, term) AS DOUBLE)) AS x,
         ln(CAST(n AS DOUBLE)) AS y
  FROM t100
),
a AS (
  SELECT 1 AS grp, CAST(count(*) AS BIGINT) AS n_terms,
         sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy, sum(x * x) AS sxx
  FROM r GROUP BY grp
)
SELECT n_terms,
       {sql_dround("(sxy - sx * sy / n_terms) / (sxx - sx * sx / n_terms)", 4)} AS slope,
       {sql_dround("(sy - ((sxy - sx * sy / n_terms) / (sxx - sx * sx / n_terms)) * sx) / n_terms", 4)} AS intercept
FROM a
"""


def q_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Characteristic vocabulary per source (llm/text.py::
    # tfidf_top_terms): top-5 terms by tf * ln(n_groups/df) — the
    # weighting cousin of q_chi2_terms. Per-GROUP row_number window
    # (partitioned — no single-task window); (score desc, term)
    # tiebreak pins the cut.
    return tfidf_top_terms(table(spark, sf_dir, "documents"), "source", "text", k=5)


SQL_TFIDF_TERMS = f"""
WITH tf AS (
  SELECT source AS grp, term, CAST(count(*) AS BIGINT) AS tf
  FROM (
    SELECT source, unnest(regexp_extract_all(lower(coalesce(text, '')), '[a-z]+')) AS term
    FROM documents
  ) GROUP BY 1, 2
),
dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS n_groups_with_term FROM tf GROUP BY term),
ng AS (SELECT CAST(count(DISTINCT grp) AS BIGINT) AS ng FROM tf),
scored AS (
  SELECT tf.grp, tf.term, tf.tf, dfreq.n_groups_with_term,
         tf.tf * ln(CAST(ng.ng AS DOUBLE) / dfreq.n_groups_with_term) AS score
  FROM tf JOIN dfreq USING (term) CROSS JOIN ng
),
ranked AS (
  SELECT grp, term, tf, n_groups_with_term, score,
         row_number() OVER (PARTITION BY grp ORDER BY score DESC, term) AS rank
  FROM scored
)
SELECT grp AS source, CAST(rank AS BIGINT) AS rank, term, tf, n_groups_with_term,
       {sql_dround("score", 4)} AS score
FROM ranked WHERE rank <= 5
"""


def q_dedup_embedding_precluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The candidate-budget guard's bounded fallback (llm/dedup.py::
    # embedding_dedup_pairs_precluster): exact cosines, pairs restricted
    # to shared IVF probe clusters — cost hard-bounded at
    # ~probes^2/nlist of all-pairs on ANY cosine distribution. IVF
    # centroids come from distributed float k-means (not
    # SQL-expressible), so this is rows-only; the *_eval twin below is
    # the oracle-checked gate (precision exactly 1, recall >= floor vs
    # the exact all-pairs set).
    emb = table(spark, sf_dir, "embeddings")
    return embedding_dedup_pairs_precluster(
        emb, "vec_id", "embedding", threshold=0.4
    ).select("id1", "id2", dround(F.col("cos"), 6).alias("cos"))


def q_dedup_embedding_precluster_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Tolerance-oracle twin for the precluster path (the _ann_recall_eval
    # pattern): the exact all-pairs set is ground truth; the Spark side
    # emits its SQL-computable count plus least(precision, 1.0) /
    # least(recall, floor) so the DuckDB twin's constant row matches IFF
    # precision is total and recall holds the floor. Floor 0.9: at the
    # default dials (probes=3) recall measured 0.948/0.966/1.000 at
    # sf0.1/0.01/0.001 (probes=2 measured 0.739-0.848 — below a useful
    # floor; probes=4 buys 0.997+ at ~1.8x the group cost).
    emb = table(spark, sf_dir, "embeddings")
    exact = embedding_dedup_pairs_matmul(emb, "vec_id", "embedding", threshold=0.4)
    pre = embedding_dedup_pairs_precluster(emb, "vec_id", "embedding", threshold=0.4)
    ex = exact.select("id1", "id2").withColumn("__ex", F.lit(1))
    pr = pre.select("id1", "id2").withColumn("__pr", F.lit(1))
    tagged = ex.join(pr, ["id1", "id2"], "full_outer")
    return tagged.agg(
        F.coalesce(F.sum(F.coalesce(F.col("__ex"), F.lit(0))), F.lit(0))
        .cast("long")
        .alias("n_exact_pairs"),
        F.least(
            dround(
                F.sum(F.when(F.col("__ex").isNotNull() & F.col("__pr").isNotNull(), 1).otherwise(0))
                / F.sum(F.coalesce(F.col("__pr"), F.lit(0))).cast("double"),
                4,
            ),
            F.lit(1.0),
        ).alias("precision_floor"),
        F.least(
            dround(
                F.sum(F.when(F.col("__ex").isNotNull() & F.col("__pr").isNotNull(), 1).otherwise(0))
                / F.sum(F.coalesce(F.col("__ex"), F.lit(0))).cast("double"),
                4,
            ),
            F.lit(0.9),
        ).alias("recall_floor"),
    )


SQL_DEDUP_EMBEDDING_PRECLUSTER_EVAL = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
p AS (
  SELECT 1 AS pair FROM (
    SELECT a.vec_id AS id1, b.vec_id AS id2,
           floor(list_dot_product(a.v, b.v)
                 / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
                 * 1000000.0 + 0.5) / 1000000.0 AS cos
    FROM e a JOIN e b ON a.vec_id < b.vec_id
  ) WHERE cos >= 0.4
)
SELECT CAST(count(*) AS BIGINT) AS n_exact_pairs,
       CAST(1.0 AS DOUBLE) AS precision_floor,
       CAST(0.9 AS DOUBLE) AS recall_floor
FROM p
"""


def q_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Vocabulary-growth fit (llm/text.py::heaps_law) — q_zipf_slope's
    # companion authenticity probe: D(N) ~ K * N^beta over 10 doc-rank
    # prefix buckets. Cumulative distinct decomposes into first-bucket
    # min per term + ONE multi-weight distributed running sum; no
    # single-task window anywhere.
    return heaps_law(table(spark, sf_dir, "documents"), "doc_id", "text", buckets=10)


SQL_HEAPS_LAW = f"""
WITH d AS (
  SELECT doc_id, text, row_number() OVER (ORDER BY doc_id) - 1 AS r FROM documents
),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
tok AS (
  SELECT CAST(floor(r * 10.0 / nn.n) AS BIGINT) AS bucket,
         unnest(regexp_extract_all(lower(coalesce(text, '')), '[a-z]+')) AS term
  FROM d CROSS JOIN nn
),
tb AS (SELECT bucket, CAST(count(*) AS BIGINT) AS toks FROM tok GROUP BY bucket),
vb AS (
  SELECT bucket, CAST(count(*) AS BIGINT) AS newterms
  FROM (SELECT min(bucket) AS bucket FROM tok GROUP BY term) GROUP BY bucket
),
cum AS (
  SELECT coalesce(tb.bucket, vb.bucket) AS bucket,
         sum(coalesce(toks, 0)) OVER w AS ncum,
         sum(coalesce(newterms, 0)) OVER w AS dcum
  FROM tb FULL JOIN vb ON tb.bucket = vb.bucket
  WINDOW w AS (ORDER BY coalesce(tb.bucket, vb.bucket)
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
pts AS (
  SELECT ln(CAST(ncum AS DOUBLE)) AS x, ln(CAST(dcum AS DOUBLE)) AS y
  FROM cum WHERE ncum > 0 AND dcum > 0
),
a AS (
  SELECT 1 AS grp, CAST(count(*) AS BIGINT) AS n_points,
         sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy, sum(x * x) AS sxx
  FROM pts GROUP BY grp
)
SELECT n_points,
       {sql_dround("(sxy - sx * sy / n_points) / (sxx - sx * sx / n_points)", 4)} AS beta,
       {sql_dround("(sy - ((sxy - sx * sy / n_points) / (sxx - sx * sx / n_points)) * sx) / n_points", 4)} AS intercept
FROM a
"""


def q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    # k-core of the exact near-dup graph (llm/dedup.py::kcore): the
    # "template club" — nodes keeping >= 2 near-dup neighbors after
    # iterative peeling. Same df-capped edge builder as
    # q_triangle_stats/q_hits so the three structure probes compare on
    # one graph. The library peels to the TRUE fixpoint (raising past
    # max_iter); the oracle unrolls 10 peeling rounds — near-dup
    # graphs are shallow (clique-ish), and a corpus needing >10 rounds
    # would surface as a loud hash mismatch, never a silent pass
    # (rounds m..10 are idempotent once the fixpoint is reached).
    from python_mapreduce_spark.llm.dedup import kcore, ngram_jaccard_pairs  # noqa: PLC0415

    docs = table(spark, sf_dir, "documents")
    edges = ngram_jaccard_pairs(
        docs, "doc_id", "text", threshold=0.8, max_shingle_df=100,
        prefix_filter=True, positional_filter=True,
    )
    return kcore(edges, 2)


def _sql_kcore(k: int = 2, rounds: int = 10) -> str:
    parts = [
        f"""WITH {_SQL_SHINGLES.strip()},
posts0 AS (SELECT id, unnest(shingles) AS shingle FROM sets WHERE len(shingles) > 0),
posts AS (
  SELECT id, shingle FROM posts0
  WHERE shingle IN (SELECT shingle FROM posts0 GROUP BY shingle HAVING count(*) <= 100)
),
sizes AS (SELECT id, CAST(count(*) AS BIGINT) AS sz FROM posts GROUP BY id),
inter AS (
  SELECT a.id AS id1, b.id AS id2, count(*) AS i
  FROM posts a JOIN posts b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY 1, 2
),
e0 AS MATERIALIZED (
  SELECT id1 AS a, id2 AS b FROM (
    SELECT id1, id2,
           floor(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) * 10000.0 + 0.5) / 10000.0
             AS jaccard
    FROM inter JOIN sizes sa ON id1 = sa.id JOIN sizes sb ON id2 = sb.id
  ) WHERE jaccard >= 0.8
)"""
    ]
    for r in range(rounds):
        parts.append(
            f""",
keep{r} AS MATERIALIZED (
  SELECT v FROM (
    SELECT v, count(*) AS d FROM (
      SELECT a AS v FROM e{r} UNION ALL SELECT b FROM e{r}
    ) GROUP BY v
  ) WHERE d >= {k}
),
e{r + 1} AS MATERIALIZED (
  SELECT a, b FROM e{r}
  WHERE a IN (SELECT v FROM keep{r}) AND b IN (SELECT v FROM keep{r})
)"""
        )
    parts.append(
        f"""
SELECT v AS node, d AS degree FROM (
  SELECT v, CAST(count(*) AS BIGINT) AS d FROM (
    SELECT a AS v FROM e{rounds} UNION ALL SELECT b FROM e{rounds}
  ) GROUP BY v
) WHERE d >= {k}"""
    )
    return "".join(parts)


SQL_KCORE = _sql_kcore()


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # BM25 retrieval (llm/text.py::bm25_topk): top-10 docs for the
    # query {merge, window, stream} under Lucene-style Okapi BM25 —
    # the lexical half of a hybrid retriever, next to TF-IDF keywords
    # and the dense ANN path. Per-term contributions quantize to 1e-6
    # into a DECIMAL sum so the per-doc score (and thus the top-k SET)
    # is partition-order-independent; the cut is orderBy+limit
    # (TakeOrderedAndProject), no window.
    from python_mapreduce_spark.llm.text import bm25_topk  # noqa: PLC0415

    return bm25_topk(
        table(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        ["merge", "window", "stream"],
        k=10,
    )


SQL_BM25_TOPK = f"""
WITH toks AS (
  SELECT doc_id AS id,
         unnest(regexp_extract_all(lower(coalesce(text, '')), '[a-z]+'))
           AS term
  FROM documents
),
tf AS (
  SELECT id, term, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2
),
dl AS (SELECT id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS nd, CAST(SUM(dl) AS DOUBLE) AS tok
  FROM dl
),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
qtf AS (SELECT * FROM tf WHERE term IN ('merge', 'window', 'stream')),
dfreq AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df FROM qtf GROUP BY 1
),
j AS (
  SELECT q.id, q.tf, d.df, l.dl, s.nd, s.tok, nn.n
  FROM qtf q
  JOIN dfreq d USING (term)
  JOIN dl l ON q.id = l.id
  CROSS JOIN stats s CROSS JOIN nn
),
contrib AS (
  SELECT id, dl,
         {sql_dround(
             'ln(1.0 + (CAST(n AS DOUBLE) - df + 0.5) / (df + 0.5))'
             ' * CAST(tf AS DOUBLE) * 2.2'
             ' / (CAST(tf AS DOUBLE) + 1.2 * (0.25'
             ' + 0.75 * CAST(dl AS DOUBLE) / (tok / CAST(nd AS DOUBLE))))',
             6)} AS c
  FROM j
),
scored AS (
  SELECT id, CAST(COUNT(*) AS BIGINT) AS matched_terms,
         CAST(MAX(dl) AS BIGINT) AS dl,
         CAST(SUM(CAST(c AS DECIMAL(38,6))) AS DOUBLE) AS score_raw
  FROM contrib GROUP BY id
)
SELECT id, matched_terms, dl, {sql_dround('score_raw', 4)} AS score
FROM scored ORDER BY score_raw DESC, id ASC LIMIT 10
"""


def q_hybrid_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Hybrid retrieval via reciprocal-rank fusion (VERDICT r7 stretch
    # item 7; llm/similarity.py::reciprocal_rank_fusion): the lexical
    # BM25 top-20 for {merge, window, stream} fuses with the dense
    # cosine top-20 around the vec_id=3 embedding — rank-based fusion
    # needs no score calibration between the two ladders. Lexical ranks
    # come from global_row_number over the emitted 1e-4 score (desc) +
    # id tiebreak (the scalable rank primitive — no single-task
    # window); dense ranks are cosine_topk's own rn. Both ladders are
    # top-k-sized by contract, so the fusion stage touches ~40 rows at
    # ANY corpus scale.
    from pyspark.sql import Window  # noqa: PLC0415

    from python_mapreduce_spark.llm.similarity import (  # noqa: PLC0415
        cosine_topk,
        reciprocal_rank_fusion,
    )
    from python_mapreduce_spark.llm.text import bm25_topk  # noqa: PLC0415

    docs = table(spark, sf_dir, "documents")
    emb = table(spark, sf_dir, "embeddings")
    lex = bm25_topk(docs, "doc_id", "text", ["merge", "window", "stream"], k=20)
    # lex is <= k rows BY CONTRACT (bm25_topk output is a top-k cut), so
    # a plain row_number window over it is bounded at any corpus scale —
    # the distributed global_row_number machinery (range checkpoint +
    # offsets collect, ~3 blocking jobs) would buy nothing here. Same
    # (score DESC, id ASC) total order, identical ranks.
    lex_ranked = lex.withColumn(
        "rank",
        F.row_number()
        .over(Window.orderBy(F.col("score").desc(), F.col("id").asc()))
        .cast("long"),
    )
    dense = cosine_topk(
        emb, emb.filter(F.col("vec_id") == 3), "vec_id", "embedding", k=20
    )
    dense_ranked = dense.select(
        F.col("neighbor_id").alias("id"), F.col("rn").alias("rank")
    )
    return reciprocal_rank_fusion([lex_ranked, dense_ranked], k=10)


SQL_HYBRID_RETRIEVAL = f"""
WITH toks AS (
  SELECT doc_id AS id,
         unnest(regexp_extract_all(lower(coalesce(text, '')), '[a-z]+'))
           AS term
  FROM documents
),
tf AS (
  SELECT id, term, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2
),
dl AS (SELECT id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS nd, CAST(SUM(dl) AS DOUBLE) AS tok
  FROM dl
),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
qtf AS (SELECT * FROM tf WHERE term IN ('merge', 'window', 'stream')),
dfreq AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df FROM qtf GROUP BY 1
),
j AS (
  SELECT q.id, q.tf, d.df, l.dl, s.nd, s.tok, nn.n
  FROM qtf q
  JOIN dfreq d USING (term)
  JOIN dl l ON q.id = l.id
  CROSS JOIN stats s CROSS JOIN nn
),
contrib AS (
  SELECT id,
         {sql_dround(
             'ln(1.0 + (CAST(n AS DOUBLE) - df + 0.5) / (df + 0.5))'
             ' * CAST(tf AS DOUBLE) * 2.2'
             ' / (CAST(tf AS DOUBLE) + 1.2 * (0.25'
             ' + 0.75 * CAST(dl AS DOUBLE) / (tok / CAST(nd AS DOUBLE))))',
             6)} AS c
  FROM j
),
lexscored AS (
  SELECT id, CAST(SUM(CAST(c AS DECIMAL(38,6))) AS DOUBLE) AS score_raw
  FROM contrib GROUP BY id
),
lexcut AS (
  SELECT id, {sql_dround('score_raw', 4)} AS score
  FROM lexscored ORDER BY score_raw DESC, id ASC LIMIT 20
),
lexr AS (
  SELECT id, CAST(row_number() OVER (ORDER BY score DESC, id ASC)
                  AS BIGINT) AS r
  FROM lexcut
),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
qv AS (SELECT v FROM e WHERE vec_id = 3),
dsc AS (
  SELECT c.vec_id AS id,
         floor(list_dot_product(qv.v, c.v)
               / (sqrt(list_dot_product(qv.v, qv.v))
                  * sqrt(list_dot_product(c.v, c.v)))
               * 1000000.0 + 0.5) / 1000000.0 AS cos
  FROM e c CROSS JOIN qv WHERE c.vec_id != 3
),
denser AS (
  SELECT id, r FROM (
    SELECT id, CAST(row_number() OVER (ORDER BY cos DESC, id ASC)
                    AS BIGINT) AS r
    FROM dsc)
  WHERE r <= 20
),
u AS (
  SELECT id, {sql_dround('1.0 / (60.0 + CAST(r AS DOUBLE))', 8)} AS c, r
  FROM lexr
  UNION ALL
  SELECT id, {sql_dround('1.0 / (60.0 + CAST(r AS DOUBLE))', 8)} AS c, r
  FROM denser
),
f AS (
  SELECT id, CAST(SUM(CAST(c AS DECIMAL(38,8))) AS DOUBLE) AS s,
         CAST(COUNT(*) AS BIGINT) AS n_ladders,
         CAST(MIN(r) AS BIGINT) AS best_rank
  FROM u GROUP BY id
)
SELECT id, {sql_dround('s', 8)} AS rrf_score, n_ladders, best_rank
FROM f ORDER BY s DESC, id ASC LIMIT 10
"""


def q_retrieval_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NDCG@5 per query label (llm/similarity.py::retrieval_ndcg):
    # position-aware retrieval quality beside q_retrieval_eval's
    # MRR/P@k — same exact cosine top-5 for the 50 query vectors,
    # same-label = relevant, but every hit is credited 1/log2(rank+1)
    # against the ideal ordering of the query's TRUE relevant pool
    # (label count minus self). The oracle replays the identical
    # rounded-cosine ranking, the 1e-8 gain quantization, and the
    # cumulative ideal-gain ladder.
    from python_mapreduce_spark.llm.similarity import retrieval_ndcg  # noqa: PLC0415

    emb = table(spark, sf_dir, "embeddings")
    return retrieval_ndcg(
        emb, emb.filter(F.col("vec_id") < 50), "vec_id", "embedding", "label", k=5
    )


SQL_RETRIEVAL_NDCG = f"""
WITH e AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
scored AS (
  SELECT q.vec_id AS query_id, q.label AS ql,
         c.vec_id AS neighbor_id, c.label AS cl,
         floor(list_dot_product(q.v, c.v)
               / (sqrt(list_dot_product(q.v, q.v))
                  * sqrt(list_dot_product(c.v, c.v)))
               * 1000000.0 + 0.5) / 1000000.0 AS cos
  FROM e q JOIN e c ON q.vec_id < 50 AND c.vec_id != q.vec_id
),
topk AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn
    FROM scored) WHERE rn <= 5
),
gains AS (
  SELECT i,
         floor(1.0 / log2(CAST(i AS DOUBLE) + 1.0) * 100000000.0 + 0.5)
           / 100000000.0 AS g
  FROM generate_series(1, 5) t(i)
),
ideal AS (
  SELECT i AS m,
         CAST(SUM(CAST(g AS DECIMAL(28,8))) OVER (ORDER BY i) AS DOUBLE)
           AS idcg
  FROM gains
),
perq AS (
  SELECT query_id, ql,
         CAST(SUM(CASE WHEN cl IS NOT DISTINCT FROM ql
              THEN CAST(floor(1.0 / log2(CAST(rn AS DOUBLE) + 1.0)
                              * 100000000.0 + 0.5) / 100000000.0
                        AS DECIMAL(28,8))
              ELSE CAST(0 AS DECIMAL(28,8)) END) AS DOUBLE) AS dcg
  FROM topk GROUP BY 1, 2
),
relc AS (SELECT label, CAST(count(*) AS BIGINT) AS c FROM e GROUP BY 1),
pq2 AS (
  SELECT p.query_id, p.ql, p.dcg, least(coalesce(r.c, 0) - 1, 5) AS m
  FROM perq p LEFT JOIN relc r ON p.ql IS NOT DISTINCT FROM r.label
),
pq3 AS (
  SELECT pq2.*,
         CASE WHEN pq2.m > 0
              THEN floor(dcg / i.idcg * 100000000.0 + 0.5) / 100000000.0
         END AS nq
  FROM pq2 LEFT JOIN ideal i ON pq2.m = i.m
)
SELECT ql AS label, CAST(count(*) AS BIGINT) AS n_queries,
       CAST(count(nq) AS BIGINT) AS n_evaluable,
       {sql_dround(
           'CAST(SUM(CAST(nq AS DECIMAL(28,8))) AS DOUBLE) / count(nq)', 6)}
         AS ndcg_at_k
FROM pq3 GROUP BY 1
"""


def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Synchronous min-tiebreak label propagation communities
    # (llm/dedup.py::label_propagation) on the SAME df-capped near-dup
    # graph as q_kcore / q_triangle_stats / q_hits — the fifth
    # structure probe on one shared graph. The oracle unrolls the
    # exact 4 synchronous rounds (the kcore unroll pattern): argmax by
    # (count DESC, label ASC) is a total order, so communities match
    # bit-for-bit.
    from python_mapreduce_spark.llm.dedup import (  # noqa: PLC0415
        label_propagation,
        ngram_jaccard_pairs,
    )

    docs = table(spark, sf_dir, "documents")
    edges = ngram_jaccard_pairs(
        docs, "doc_id", "text", threshold=0.8, max_shingle_df=100,
        prefix_filter=True, positional_filter=True,
    )
    return label_propagation(edges, rounds=4)


def _sql_label_propagation(rounds: int = 4) -> str:
    parts = [
        f"""WITH {_SQL_SHINGLES.strip()},
posts0 AS (SELECT id, unnest(shingles) AS shingle FROM sets WHERE len(shingles) > 0),
posts AS (
  SELECT id, shingle FROM posts0
  WHERE shingle IN (SELECT shingle FROM posts0 GROUP BY shingle HAVING count(*) <= 100)
),
sizes AS (SELECT id, CAST(count(*) AS BIGINT) AS sz FROM posts GROUP BY id),
inter AS (
  SELECT a.id AS id1, b.id AS id2, count(*) AS i
  FROM posts a JOIN posts b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY 1, 2
),
e0 AS MATERIALIZED (
  SELECT id1 AS a, id2 AS b FROM (
    SELECT id1, id2,
           floor(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) * 10000.0 + 0.5) / 10000.0
             AS jaccard
    FROM inter JOIN sizes sa ON id1 = sa.id JOIN sizes sb ON id2 = sb.id
  ) WHERE jaccard >= 0.8
),
sym AS MATERIALIZED (
  SELECT a, b FROM (
    SELECT a, b FROM e0 UNION ALL SELECT b AS a, a AS b FROM e0
  ) WHERE a != b GROUP BY a, b
),
l0 AS MATERIALIZED (SELECT DISTINCT a AS node, a AS label FROM sym)"""
    ]
    for r in range(rounds):
        parts.append(
            f""",
cnt{r} AS (
  SELECT s.a, l.label AS nbl, CAST(count(*) AS BIGINT) AS c
  FROM sym s JOIN l{r} l ON s.b = l.node GROUP BY 1, 2
),
l{r + 1} AS MATERIALIZED (
  SELECT a AS node, nbl AS label FROM (
    SELECT a, nbl,
           row_number() OVER (PARTITION BY a ORDER BY c DESC, nbl) AS rn
    FROM cnt{r}
  ) WHERE rn = 1
)"""
        )
    parts.append(
        f"""
SELECT label AS community, CAST(count(*) AS BIGINT) AS n_nodes
FROM l{rounds} GROUP BY 1"""
    )
    return "".join(parts)


SQL_LABEL_PROPAGATION = _sql_label_propagation()


#: Measured PQ dials: m=16 subspaces on the 64-dim
#: embeddings, 2 Lloyd passes on the residual codebooks; bits/refine
#: are CORPUS-ADAPTIVE via llm/similarity.py::pq_dials — 4-bit codes +
#: refine 40 below ~30k vectors (recall 0.940/0.920/0.900 at
#: sf0.001/0.01/0.1), 6-bit codes + refine n/500 above (0.90 at 50k,
#: 0.86 at 100k; the FIXED small-SF dials collapsed to 0.48 at 100k —
#: the r5 zero-margin lesson, re-learned and dialed out live).
_PQ_DIALS = {"m": 16, "pq_iters": 2, "iters": 3}


def q_sim_ann_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    # IVF-PQ approximate top-k (llm/similarity.py::ann_topk_ivf_pq):
    # the COMPRESSED-SCAN scale path completing the ANN family — the
    # probed corpus fraction is scanned as 16 small integer codes per
    # vector instead of 64 floats, the ADC scoring is pure codegen
    # (element_at LUT lookups, no Python in the hot path), and the
    # approx top k*refine are exact-cosine re-ranked so emitted scores
    # are exact and PQ error only affects recall. Not SQL-expressible
    # (distributed k-means + float matmuls); rows-only, gated by the
    # hash-green recall twin below.
    from python_mapreduce_spark.llm.similarity import ann_topk_ivf_pq  # noqa: PLC0415

    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return ann_topk_ivf_pq(emb, queries, "vec_id", "embedding", k=5, **_PQ_DIALS)


def q_sim_ann_ivf_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    # IVF-PQ against brute force — the tolerance-oracle pattern of the
    # other ANN twins (_ann_recall_eval): recall_floor
    # = least(actual, 0.8), so the oracle's literal matches exactly when
    # the floor holds and a red row carries the miss magnitude.
    from python_mapreduce_spark.llm.similarity import ann_topk_ivf_pq  # noqa: PLC0415

    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = cosine_topk(emb, queries, "vec_id", "embedding", k=5)
    approx = ann_topk_ivf_pq(emb, queries, "vec_id", "embedding", k=5, **_PQ_DIALS)
    return _ann_recall_eval(exact, approx, 0.8)


QUERIES: dict[str, Query] = {
    "q_dedup_savings": Query(
        q_dedup_savings, SQL_DEDUP_SAVINGS, "effective dataset size after quality-aware dedup"
    ),
    "q_dup_cluster_sizes": Query(
        q_dup_cluster_sizes, SQL_DUP_CLUSTER_SIZES, "near-dup clique size histogram (dedup report)"
    ),
    "q_top_eigenvector": Query(
        q_top_eigenvector, SQL_TOP_EIGENVECTOR, "distributed power iteration: principal embedding axis"
    ),
    "q_containment": Query(
        q_containment, SQL_CONTAINMENT, "asymmetric n-gram containment pairs (quote/excerpt detection)"
    ),
    "q_cluster_canonical": Query(
        q_cluster_canonical, SQL_CLUSTER_CANONICAL, "quality-aware canonical selection per near-dup clique"
    ),
    "q_tokenizer_fertility": Query(
        q_tokenizer_fertility, SQL_TOKENIZER_FERTILITY, "per-language tokenizer fertility / budget ratios"
    ),
    "q_dedup_exact": Query(q_dedup_exact, SQL_DEDUP_EXACT, "exact dedup on normalized text"),
    "q_dedup_jaccard": Query(q_dedup_jaccard, _SQL_JACCARD_PAIRS_CAPPED, "3-gram Jaccard near-dup pairs (df-capped)"),
    "q_crossdoc_ngrams": Query(
        q_crossdoc_ngrams, SQL_CROSSDOC_NGRAMS, "cross-doc duplicate 5-gram coverage (exact-substring dedup signal)"
    ),
    "q_dedup_minhash": Query(q_dedup_minhash, _SQL_JACCARD_PAIRS, "MinHash-LSH + exact verify"),
    "q_dedup_clusters": Query(q_dedup_clusters, SQL_DEDUP_CLUSTERS, "dup clusters via connected components"),
    "q_split_leakage": Query(
        q_split_leakage, SQL_SPLIT_LEAKAGE, "near-dup pairs straddling train/val/test (leakage audit)"
    ),
    "q_dedup_simhash": Query(q_dedup_simhash, SQL_SIMHASH, "64-bit SimHash fingerprints (md5-vote replay oracle)"),
    "q_dedup_simhash_eval": Query(q_dedup_simhash_eval, SQL_SIMHASH_EVAL, "SimHash hamming vs exact near-dups (tolerance oracle)"),
    "q_dedup_embedding": Query(q_dedup_embedding, SQL_DEDUP_EMBEDDING, "cosine near-dup pairs (banded LSH)"),
    "q_dedup_embedding_matmul": Query(q_dedup_embedding_matmul, SQL_DEDUP_EMBEDDING, "cosine near-dup pairs (broadcast matmul)"),
    "q_dedup_embedding_auto": Query(
        q_dedup_embedding_auto,
        SQL_DEDUP_EMBEDDING,
        "cosine near-dup pairs (regime auto-dispatch)",
    ),
    "q_sim_topk": Query(q_sim_topk, SQL_SIM_TOPK, "brute-force cosine top-k"),
    "q_sim_ann_lsh": Query(q_sim_ann_lsh, None, "hyperplane-LSH approximate top-k"),
    "q_sim_ann_ivf": Query(q_sim_ann_ivf, None, "IVF inverted-list approximate top-k"),
    "q_sim_ann_lsh_recall": Query(q_sim_ann_lsh_recall, _sql_ann_recall(0.9), "multi-probe LSH recall vs brute force (tolerance oracle)"),
    "q_sim_ann_ivf_recall": Query(q_sim_ann_ivf_recall, _sql_ann_recall(0.8), "IVF recall vs brute force (tolerance oracle)"),
    "q_text_stats": Query(q_text_stats, SQL_TEXT_STATS, "per-doc text statistics"),
    "q_doc_repetition": Query(q_doc_repetition, SQL_DOC_REPETITION, "intra-doc duplicate n-gram fraction (Gopher filter)"),
    "q_gopher_filter": Query(q_gopher_filter, SQL_GOPHER_FILTER, "Gopher-style composite quality gate (per-rule flags)"),
    "q_text_contamination": Query(q_text_contamination, SQL_TEXT_CONTAMINATION, "train/eval 8-gram contamination audit"),
    "q_pii_redact": Query(q_pii_redact, SQL_PII_REDACT, "PII span count + redaction"),
    "q_clean_text": Query(q_clean_text, SQL_CLEAN_TEXT, "byte-noise normalization (strip/collapse, verified text)"),
    "q_quality_ensemble": Query(
        q_quality_ensemble, SQL_QUALITY_ENSEMBLE, "composed curation gate: gopher x classifier x perplexity percentile"
    ),
    "q_perplexity_filter": Query(
        q_perplexity_filter, SQL_PERPLEXITY_FILTER, "corpus-trained bigram-LM perplexity scoring"
    ),
    "q_cluster_split": Query(
        q_cluster_split, SQL_CLUSTER_SPLIT, "cluster-aware leakage-safe train/val/test split"
    ),
    "q_segment_dedup": Query(
        q_segment_dedup, SQL_SEGMENT_DEDUP, "C4-style duplicate-segment removal + reassembly"
    ),
    "q_semantic_dedup": Query(
        q_semantic_dedup, SQL_SEMANTIC_DEDUP, "SemDeDup-style within-cluster semantic prune"
    ),
    "q_quality_classifier": Query(
        q_quality_classifier, SQL_QUALITY_CLASSIFIER, "hashed-feature linear classifier scoring"
    ),
    "q_domain_mix": Query(q_domain_mix, SQL_DOMAIN_MIX, "deterministic domain-mix downsampling audit"),
    "q_temperature_sample": Query(
        q_temperature_sample, SQL_TEMPERATURE_SAMPLE, "temperature-balanced language mixing (alpha=0.5)"
    ),
    "q_upsample_mix": Query(
        q_upsample_mix, SQL_UPSAMPLE_MIX, "deterministic weighted upsampling (epoch-repeat mixing)"
    ),
    "q_group_reservoir": Query(
        q_group_reservoir, SQL_GROUP_RESERVOIR, "deterministic k-per-group reservoir sample"
    ),
    "q_text_quality": Query(q_text_quality, SQL_TEXT_QUALITY, "composite quality score"),
    "q_text_langid": Query(q_text_langid, SQL_TEXT_LANGID, "stopword-vote language ID"),
    "q_text_fingerprint": Query(q_text_fingerprint, SQL_TEXT_FINGERPRINT, "normalized MD5 fingerprint"),
    "q_text_fuzzy_match": Query(
        q_text_fuzzy_match, SQL_TEXT_FUZZY, "edit-distance match with prefix blocking"
    ),
    "q_embedding_norm": Query(
        q_embedding_norm, SQL_EMBEDDING_NORM, "vector L2 norm via JVM higher-order fold"
    ),
    "q_token_count": Query(q_token_count, SQL_TOKEN_COUNT, "corpus token accounting"),
    "q_token_count_bpe": Query(q_token_count_bpe, SQL_TOKEN_COUNT_BPE, "BPE-ish subword token accounting"),
    "q_pipeline_prepare": Query(q_pipeline_prepare, SQL_PIPELINE_PREPARE, "end-to-end shard prep: dedup + quality filter + accounting"),
    "q_doc_chunking": Query(q_doc_chunking, SQL_DOC_CHUNKING, "overlapping token-window chunking"),
    "q_multimodal_meta": Query(q_multimodal_meta, SQL_MULTIMODAL_META, "binary payload + metadata"),
    "q_multimodal_features": Query(q_multimodal_features, SQL_MULTIMODAL_FEATURES, "stub decode via mapInPandas (byte-exact oracle)"),
    "q_multimodal_frames": Query(q_multimodal_frames, SQL_MULTIMODAL_FRAMES, "frame-sample fan-out (byte-exact oracle)"),
    "q_media_dedup": Query(q_media_dedup, SQL_MEDIA_DEDUP, "exact media dedup by payload checksum"),
    "q_pagerank": Query(q_pagerank, SQL_PAGERANK, "fixed-iteration PageRank (deterministic arithmetic, unrolled oracle)"),
    "q_token_pmi": Query(q_token_pmi, SQL_TOKEN_PMI, "token co-occurrence PMI over a bounded vocabulary"),
    "q_data_card": Query(q_data_card, SQL_DATA_CARD, "per-language dataset card (docs/tokens/dup share/keep rate)"),
    "q_dup_span_removal": Query(
        q_dup_span_removal, SQL_DUP_SPAN_REMOVAL, "cross-doc duplicated-span removal (Lee et al. semantics)"
    ),
    "q_negative_samples": Query(
        q_negative_samples, SQL_NEGATIVE_SAMPLES, "deterministic contrastive negative sampling"
    ),
    "q_langid_confusion": Query(
        q_langid_confusion, SQL_LANGID_CONFUSION, "declared-vs-predicted language confusion audit"
    ),
    "q_classification_report": Query(
        q_classification_report, SQL_CLASSIFICATION_REPORT, "per-class precision/recall/F1 eval table"
    ),
    "q_cohens_kappa": Query(
        q_cohens_kappa, SQL_COHENS_KAPPA, "chance-corrected agreement (Cohen's kappa)"
    ),
    "q_fuzzy_decontam": Query(
        q_fuzzy_decontam, SQL_FUZZY_DECONTAM, "fuzzy train/eval decontamination via cross-corpus MinHash-LSH"
    ),
    "q_retrieval_eval": Query(
        q_retrieval_eval, SQL_RETRIEVAL_EVAL, "label-based retrieval MRR@k / precision@k eval"
    ),
    "q_triangle_stats": Query(
        q_triangle_stats, SQL_TRIANGLE_STATS, "dup-graph triangle count + clustering coefficient"
    ),
    "q_readability": Query(
        q_readability, SQL_READABILITY, "per-source Flesch readability from exact corpus totals"
    ),
    "q_code_detect": Query(
        q_code_detect, SQL_CODE_DETECT, "code-vs-prose routing signals + gate per document"
    ),
    "q_inverted_index": Query(
        q_inverted_index, SQL_INVERTED_INDEX, "inverted-index export with pre-trimmed posting lists"
    ),
    "q_media_feature_dedup": Query(
        q_media_feature_dedup, SQL_MEDIA_FEATURE_DEDUP, "perceptual near-dup pairs via bucketed feature distance"
    ),
    "q_tfidf_topk": Query(q_tfidf_topk, SQL_TFIDF_TOPK, "per-doc top-k keywords by smoothed TF-IDF"),
    "q_vocab_coverage": Query(q_vocab_coverage, SQL_VOCAB_COVERAGE, "top-N vocabulary + per-group OOV rates"),
    "q_nearest_centroid": Query(q_nearest_centroid, SQL_NEAREST_CENTROID, "nearest-centroid confusion matrix over embeddings"),
    "q_hash_split": Query(q_hash_split, SQL_HASH_SPLIT, "deterministic train/val/test hash split audit"),
    "q_quality_quantile_filter": Query(
        q_quality_quantile_filter, SQL_QUALITY_QUANTILE, "per-group exact-quantile quality gate"
    ),
    "q_weighted_sample": Query(
        q_weighted_sample, SQL_WEIGHTED_SAMPLE, "per-row quality-weighted deterministic sampling"
    ),
    "q_pipeline_curate": Query(
        q_pipeline_curate, SQL_PIPELINE_CURATE, "composed curation: quantile gate + hash split + BPE accounting"
    ),
    "q_pseudonymize": Query(
        q_pseudonymize, SQL_PSEUDONYMIZE, "keyed sha256 pseudonymization preserving join integrity"
    ),
    "q_domain_cap": Query(q_domain_cap, SQL_DOMAIN_CAP, "per-domain frequency cap (md5-order survivors)"),
    "q_stratified_split_exact": Query(
        q_stratified_split_exact, SQL_STRATIFIED_SPLIT_EXACT, "exact-proportion per-stratum split"
    ),
    "q_quality_quota": Query(q_quality_quota, SQL_QUALITY_QUOTA, "global quality cut with per-group floors"),
    "q_token_budget": Query(q_token_budget, SQL_TOKEN_BUDGET, "best-first token-budget prefix cut"),
    "q_embed_covariance": Query(
        q_embed_covariance, SQL_EMBED_COVARIANCE, "single-pass embedding covariance (PCA prep)"
    ),
    "q_chunk_pack": Query(q_chunk_pack, SQL_CHUNK_PACK, "concat-then-chunk sequence packing (docs straddle)"),
    "q_equi_freq_bins": Query(
        q_equi_freq_bins, SQL_EQUI_FREQ_BINS, "equal-frequency quantile discretization"
    ),
    "q_cross_corpus_overlap": Query(
        q_cross_corpus_overlap, SQL_CROSS_CORPUS_OVERLAP, "exact-match cross-dataset decontamination"
    ),
    "q_cdc_chunk_dedup": Query(
        q_cdc_chunk_dedup, SQL_CDC_CHUNK_DEDUP, "content-defined-chunking dedup (shift-robust boilerplate signal)"
    ),
    "q_ngram_diversity": Query(
        q_ngram_diversity, SQL_NGRAM_DIVERSITY, "per-source n-gram diversity / type-token-ratio profile"
    ),
    "q_chi2_terms": Query(
        q_chi2_terms, SQL_CHI2_TERMS, "chi-squared label-discriminative term selection"
    ),
    "q_length_buckets": Query(
        q_length_buckets, SQL_LENGTH_BUCKETS, "length-bucketed batch planning with padding accounting"
    ),
    "q_blocklist_filter": Query(
        q_blocklist_filter, SQL_BLOCKLIST_FILTER, "broadcast blocklist screen (codegen-only keep/drop gate)"
    ),
    "q_compression_ratio": Query(
        q_compression_ratio, None, "per-doc zlib redundancy signal (rows-only; bounds twin hash-green)"
    ),
    "q_compression_ratio_eval": Query(
        q_compression_ratio_eval, SQL_COMPRESSION_RATIO_EVAL, "bounds twin for the zlib redundancy signal"
    ),
    "q_hits": Query(q_hits, SQL_HITS, "fixed-iteration HITS hubs/authorities (L1-normalized, exact replay)"),
    "q_gini_domains": Query(q_gini_domains, SQL_GINI_DOMAINS, "Gini concentration of token mass across sources"),
    "q_pareto_share": Query(q_pareto_share, SQL_PARETO_SHARE, "top-1/10/20% Lorenz mass shares over documents"),
    "q_zipf_slope": Query(q_zipf_slope, SQL_ZIPF_SLOPE, "Zipf OLS slope over the top-100 term frequencies"),
    "q_tfidf_terms": Query(q_tfidf_terms, SQL_TFIDF_TERMS, "top-5 tf-idf characteristic terms per source"),
    "q_heaps_law": Query(q_heaps_law, SQL_HEAPS_LAW, "Heaps vocabulary-growth fit over doc-rank prefix buckets"),
    "q_dedup_embedding_precluster": Query(q_dedup_embedding_precluster, None, "IVF pre-cluster cosine dedup pairs (bounded fallback; eval-twin gated)"),
    "q_dedup_embedding_precluster_eval": Query(q_dedup_embedding_precluster_eval, SQL_DEDUP_EMBEDDING_PRECLUSTER_EVAL, "precision/recall gate for the precluster dedup vs exact all-pairs"),
    "q_kcore": Query(
        q_kcore, SQL_KCORE, "2-core of the near-dup graph via 10 unrolled peels"
    ),
    "q_bm25_topk": Query(
        q_bm25_topk,
        SQL_BM25_TOPK,
        "Okapi BM25 top-10 for {merge, window, stream}",
    ),
    "q_hybrid_retrieval": Query(
        q_hybrid_retrieval,
        SQL_HYBRID_RETRIEVAL,
        "RRF hybrid retrieval: BM25 lexical + dense cosine ladders",
    ),
    "q_retrieval_ndcg": Query(
        q_retrieval_ndcg,
        SQL_RETRIEVAL_NDCG,
        "NDCG@5 per query label against the true relevant pool",
    ),
    "q_label_propagation": Query(
        q_label_propagation,
        SQL_LABEL_PROPAGATION,
        "LPA communities on the near-dup graph via 4 unrolled sync rounds",
    ),
    "q_sim_ann_ivf_pq": Query(
        q_sim_ann_ivf_pq,
        None,
        "IVF-PQ compressed-scan approximate top-k (rows-only; hash twin q_sim_ann_ivf_pq_recall)",
    ),
    "q_sim_ann_ivf_pq_recall": Query(
        q_sim_ann_ivf_pq_recall,
        _sql_ann_recall(0.8),
        "IVF-PQ recall vs brute force (tolerance oracle, floor 0.8 with measured margin)",
    ),
}
