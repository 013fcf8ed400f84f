"""Correctness pins for LLM ops whose algorithms DuckDB cannot reproduce
(seeded xxhash64 signatures, numpy LSH planes, stub decoders).

Strategy: compare the approximate/hashed operator against its exact
counterpart on the same data — MinHash vs exact Jaccard, ANN vs brute
force, SimHash hamming distance on known near-dup pairs, stub decode vs
the same kernel run locally.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    from python_mapreduce_spark.sources.readers import load_table

    return load_table(spark, sf_dir, "documents")


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    from python_mapreduce_spark.sources.readers import load_table

    return load_table(spark, sf_dir, "embeddings")


def test_minhash_equals_exact_jaccard(docs):
    from python_mapreduce_spark.llm.dedup import minhash_dedup_pairs, ngram_jaccard_pairs

    exact = {
        (r.id1, r.id2): r.jaccard
        for r in ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.8).collect()
    }
    mh = {
        (r.id1, r.id2): r.jaccard
        for r in minhash_dedup_pairs(docs, "doc_id", "text", threshold=0.8).collect()
    }
    assert exact, "fixture should contain planted near-duplicates"
    # exact verification makes every emitted pair correct...
    for pair, j in mh.items():
        assert exact[pair] == j
    # ...and banded LSH recall should be total at j >= 0.8 with 8x4 bands.
    assert set(mh) == set(exact)


def test_simhash_near_dups_have_small_hamming(docs):
    from python_mapreduce_spark.llm.dedup import ngram_jaccard_pairs, simhash

    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.95).collect()
    fps = {r.id: r.simhash64 for r in simhash(docs, "doc_id", "text").collect()}
    assert pairs
    for r in pairs:
        ham = bin((fps[r.id1] ^ fps[r.id2]) & ((1 << 64) - 1)).count("1")
        assert ham <= 8, f"near-dup pair ({r.id1},{r.id2}) hamming {ham}"


def test_ann_lsh_subset_and_recall(emb):
    from python_mapreduce_spark.llm.similarity import ann_topk_lsh, cosine_topk

    queries = emb.filter(F.col("vec_id") < 10)
    exact = cosine_topk(emb, queries, "vec_id", "embedding", k=5).collect()
    approx = ann_topk_lsh(emb, queries, "vec_id", "embedding", k=5, planes=6).collect()

    exact_pairs = {(r.query_id, r.neighbor_id): r.cos for r in exact}
    approx_pairs = {(r.query_id, r.neighbor_id): r.cos for r in approx}
    # cosine values must be computed identically wherever pairs overlap
    for pair, cos in approx_pairs.items():
        if pair in exact_pairs:
            assert exact_pairs[pair] == cos
    # LSH with 6 planes on weakly-correlated vectors: expect nonzero recall
    overlap = len(set(approx_pairs) & set(exact_pairs))
    assert overlap > 0, "ANN found none of the true top-k pairs"


def test_multimodal_stub_decode_matches_local_kernel(docs, spark):
    from python_mapreduce_spark.llm.multimodal import (
        attach_binary_payload,
        extract_features,
        fake_decode_rgb_stats,
        sample_frames,
    )

    media = attach_binary_payload(docs.limit(20), "doc_id", "text")
    feats = {r.media_id: (r.r_mean, r.g_mean, r.b_mean) for r in extract_features(media).collect()}
    local = {
        r.media_id: fake_decode_rgb_stats(bytes(r.payload)) for r in media.collect()
    }
    assert feats.keys() == local.keys()
    for mid, (r, g, b) in local.items():
        np.testing.assert_allclose(feats[mid], (r, g, b), rtol=1e-12)

    frames = sample_frames(media).collect()
    assert len(frames) > len(feats)  # fan-out happened
    assert all(f.frame_no >= 0 and len(f.frame_checksum) == 32 for f in frames)


def test_decode_image_stub_raises():
    from python_mapreduce_spark.llm.multimodal import decode_image

    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG")


def test_ann_ivf_recall_and_exact_cosines(emb):
    from python_mapreduce_spark.llm.similarity import ann_topk_ivf, cosine_topk

    queries = emb.filter(F.col("vec_id") < 10)
    exact = cosine_topk(emb, queries, "vec_id", "embedding", k=5).collect()
    approx = ann_topk_ivf(
        emb, queries, "vec_id", "embedding", k=5, nlist=8, nprobe=3
    ).collect()

    # shape contract: k results per query, ranked
    per_q: dict[int, int] = {}
    for r in approx:
        per_q[r.query_id] = per_q.get(r.query_id, 0) + 1
    assert set(per_q.values()) == {5}

    exact_pairs = {(r.query_id, r.neighbor_id): r.cos for r in exact}
    approx_pairs = {(r.query_id, r.neighbor_id): r.cos for r in approx}
    # cosines computed identically wherever pairs overlap
    for pair, cos in approx_pairs.items():
        if pair in exact_pairs:
            assert exact_pairs[pair] == cos
    # probing 3/8 lists must still recover a solid share of true top-k
    overlap = len(set(approx_pairs) & set(exact_pairs))
    assert overlap >= len(exact_pairs) // 3, (overlap, len(exact_pairs))


def test_jaccard_df_cap_drops_stop_shingles(spark):
    # 40 docs sharing one universal shingle, each with a unique tail.
    # Uncapped, every pair meets through the stop shingle — the postings
    # join materializes all C(40,2) pairs. Capped, the stop shingle is
    # dropped from the universe before the self-join and no pair is ever
    # materialized: the quadratic blowup is gone at the source.
    from python_mapreduce_spark.llm.dedup import ngram_jaccard_pairs

    docs = spark.createDataFrame(
        [(i, f"lorem ipsum dolor unique{i} tail{i} word{i}") for i in range(40)],
        "doc_id long, text string",
    )
    uncapped = ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.05)
    assert uncapped.count() == 40 * 39 // 2
    capped = ngram_jaccard_pairs(
        docs, "doc_id", "text", threshold=0.05, max_shingle_df=10
    )
    assert capped.count() == 0


def test_jaccard_df_cap_noop_when_under_cap(docs):
    # A cap higher than any real document frequency must be a semantic
    # no-op — same pairs, same scores as the exact path.
    from python_mapreduce_spark.llm.dedup import ngram_jaccard_pairs

    exact = {
        (r.id1, r.id2): r.jaccard
        for r in ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.8).collect()
    }
    capped = {
        (r.id1, r.id2): r.jaccard
        for r in ngram_jaccard_pairs(
            docs, "doc_id", "text", threshold=0.8, max_shingle_df=10_000
        ).collect()
    }
    assert exact and capped == exact


def test_shingle_sets_n1_keeps_final_token(spark):
    from python_mapreduce_spark.llm.text import shingle_sets

    docs = spark.createDataFrame([(1, "alpha beta gamma")], "doc_id long, text string")
    [row] = shingle_sets(docs, "doc_id", "text", n=1).collect()
    assert sorted(row.shingles) == ["alpha", "beta", "gamma"]


def test_embedding_lsh_dedup_equals_all_pairs(emb):
    from python_mapreduce_spark.llm.dedup import (
        embedding_dedup_pairs,
        embedding_dedup_pairs_lsh,
    )

    exact = {
        (r.id1, r.id2): r.cos
        for r in embedding_dedup_pairs(emb, "vec_id", "embedding").collect()
    }
    lsh = {
        (r.id1, r.id2): r.cos
        for r in embedding_dedup_pairs_lsh(emb, "vec_id", "embedding").collect()
    }
    assert exact, "fixture should contain qualifying pairs"
    assert lsh == exact


def test_sims_chunk_budget_scales_with_session():
    # VERDICT r7 item 3: the matmul sims-block budget is a dial, not a
    # hard-coded constant. The DEFAULT is the 32 MB floor everywhere —
    # measured best at both small n (chunk >= Arrow batch anyway) and
    # large n (bandwidth-bound at budget x slots: 248 s vs 413 s at
    # 100k vectors) — with executor.pyspark.memory/4 and
    # SIMS_CHUNK_CONF as overrides (clamped both ways).
    from types import SimpleNamespace

    from python_mapreduce_spark.llm.dedup import (
        _SIMS_CHUNK_CAP,
        _SIMS_CHUNK_FLOOR,
        SIMS_CHUNK_CONF,
        _sims_chunk_bytes,
    )

    def fake(confs, master="local[32]"):
        return SimpleNamespace(
            conf=SimpleNamespace(get=lambda k, d=None: confs.get(k, d)),
            sparkContext=SimpleNamespace(master=master),
        )

    assert _sims_chunk_bytes(fake({})) == _SIMS_CHUNK_FLOOR
    assert _sims_chunk_bytes(fake({}, master="spark://h:7077")) == _SIMS_CHUNK_FLOOR
    assert (
        _sims_chunk_bytes(
            fake({"spark.executor.pyspark.memory": "512m"}, master="spark://h:7077")
        )
        == (512 << 20) // 4
    )
    # a huge pyspark.memory still clamps to the cap
    assert (
        _sims_chunk_bytes(
            fake({"spark.executor.pyspark.memory": "2g"}, master="spark://h:7077")
        )
        == _SIMS_CHUNK_CAP
    )
    # tiny pyspark.memory clamps up to the floor; bogus parses to floor
    assert (
        _sims_chunk_bytes(
            fake({"spark.executor.pyspark.memory": "64m"}, master="yarn")
        )
        == _SIMS_CHUNK_FLOOR
    )
    assert (
        _sims_chunk_bytes(
            fake({"spark.executor.pyspark.memory": "bogus"}, master="yarn")
        )
        == _SIMS_CHUNK_FLOOR
    )
    assert (
        _sims_chunk_bytes(fake({SIMS_CHUNK_CONF: str(64 * 1024 * 1024)}))
        == 64 * 1024 * 1024
    )
    assert _sims_chunk_bytes(fake({SIMS_CHUNK_CONF: "1"})) == _SIMS_CHUNK_FLOOR
    assert (
        _sims_chunk_bytes(fake({SIMS_CHUNK_CONF: str(1 << 60)})) == _SIMS_CHUNK_CAP
    )


def test_matmul_pairs_respect_explicit_chunk_bytes(emb):
    # Identical pair sets at the floor budget and the cap budget — the
    # chunk size is a throughput dial, never a semantics dial.
    from python_mapreduce_spark.llm.dedup import embedding_dedup_pairs_matmul

    lo = {
        (r.id1, r.id2): r.cos
        for r in embedding_dedup_pairs_matmul(
            emb, "vec_id", "embedding", chunk_bytes=1
        ).collect()
    }
    hi = {
        (r.id1, r.id2): r.cos
        for r in embedding_dedup_pairs_matmul(
            emb, "vec_id", "embedding", chunk_bytes=1 << 30
        ).collect()
    }
    assert lo, "fixture should contain qualifying pairs"
    assert lo == hi


def test_embedding_dedup_dispatches_by_corpus_size(emb):
    # Auto-dispatch: under the broadcast budget -> matmul (no join in
    # the plan, corpus closed over); over it -> banded LSH (equi-joins,
    # nothing collected). Both must produce identical pairs.
    from python_mapreduce_spark.llm.dedup import embedding_dedup
    from python_mapreduce_spark.plans.explain import formatted_plan

    small_budget = embedding_dedup(
        emb, "vec_id", "embedding", broadcast_budget_bytes=1
    )
    big_budget = embedding_dedup(
        emb, "vec_id", "embedding", broadcast_budget_bytes=1 << 40
    )
    lsh_plan = formatted_plan(small_budget)
    matmul_plan = formatted_plan(big_budget)
    assert "Join" in lsh_plan, "over-budget corpus must take the LSH join path"
    assert "Join" not in matmul_plan, "under-budget corpus must take matmul (no join)"
    assert "MapInPandas" in matmul_plan

    pairs_lsh = {(r.id1, r.id2): r.cos for r in small_budget.collect()}
    pairs_mm = {(r.id1, r.id2): r.cos for r in big_budget.collect()}
    assert pairs_lsh and pairs_lsh == pairs_mm

    # explicit corpus_bytes skips the probe and still dispatches right
    forced_lsh = embedding_dedup(
        emb, "vec_id", "embedding",
        corpus_bytes=1 << 40, broadcast_budget_bytes=1 << 30,
    )
    assert "Join" in formatted_plan(forced_lsh)


def test_embedding_lsh_prunes_on_bimodal_corpus(spark):
    # The scale claim: on a corpus with real near-dup structure (planted
    # high-cosine copies against a random background), banded LSH visits
    # far fewer candidate pairs than all-pairs while catching every
    # planted dup. 200 base vectors + 20 perturbed copies at cos ~0.99.
    import numpy as np

    from python_mapreduce_spark.llm.dedup import embedding_dedup_pairs_lsh
    from python_mapreduce_spark.llm.similarity import banded_lsh_candidate_pairs

    rng = np.random.RandomState(7)
    base = rng.randn(200, 64)
    rows = [(i, base[i].astype(float).tolist()) for i in range(200)]
    rows += [
        (1000 + i, (base[i] + 0.05 * rng.randn(64)).astype(float).tolist())
        for i in range(20)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    # 6x8 banding: tight bands — planted pairs (p ~ 0.98 per bit) still
    # collide with near-certainty, random pairs (p^8 ~ 0.004 per band,
    # ~2% over 6 bands) almost never do.
    n_cand = banded_lsh_candidate_pairs(
        emb, "vec_id", "embedding", bands=6, rows_per_band=8
    ).count()
    n_all_pairs = 220 * 219 // 2
    assert n_cand < n_all_pairs // 10, (n_cand, n_all_pairs)

    found = embedding_dedup_pairs_lsh(
        emb, "vec_id", "embedding", threshold=0.9, bands=6, rows_per_band=8
    ).collect()
    assert {(r.id1, r.id2) for r in found} >= {(i, 1000 + i) for i in range(20)}


def test_lsh_candidate_estimate_bounds_the_join(emb):
    # The budget guard's contract: the linear-cost bucket bound is a
    # TRUE upper bound on the distinct candidate pairs the join would
    # materialize, and its plan has no join at all (it must stay cheap
    # on exactly the corpora where the join is the hazard).
    from python_mapreduce_spark.llm.similarity import (
        banded_lsh_candidate_pairs,
        lsh_candidate_estimate,
    )
    from python_mapreduce_spark.plans.explain import formatted_plan

    est = lsh_candidate_estimate(emb, "vec_id", "embedding")
    actual = banded_lsh_candidate_pairs(emb, "vec_id", "embedding").count()
    assert est >= actual > 0, (est, actual)

    from python_mapreduce_spark.llm.similarity import _banded_lsh_keys

    banded = _banded_lsh_keys(
        emb, "vec_id", "embedding", bands=24, rows_per_band=2, dim=64, seed=42
    )
    plan = formatted_plan(
        banded.groupBy("band", "bkey").count()
    )
    assert "Join" not in plan


def test_embedding_precluster_exact_subset_catches_planted_dups(spark):
    # The bounded fallback: IVF pre-cluster pairs are a SUBSET of the
    # exact all-pairs output with identical cosines (precision total),
    # and every planted near-dup (cos ~0.99) is found — near-identical
    # vectors share their nearest centroid by construction.
    import numpy as np

    from python_mapreduce_spark.llm.dedup import (
        embedding_dedup_pairs,
        embedding_dedup_pairs_precluster,
    )

    rng = np.random.RandomState(11)
    base = rng.randn(150, 64)
    rows = [(i, base[i].astype(float).tolist()) for i in range(150)]
    rows += [
        (1000 + i, (base[i] + 0.03 * rng.randn(64)).astype(float).tolist())
        for i in range(15)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    exact = {
        (r.id1, r.id2): r.cos
        for r in embedding_dedup_pairs(
            emb, "vec_id", "embedding", threshold=0.9
        ).collect()
    }
    pre = {
        (r.id1, r.id2): r.cos
        for r in embedding_dedup_pairs_precluster(
            emb, "vec_id", "embedding", threshold=0.9, nlist=8
        ).collect()
    }
    assert set(pre) <= set(exact)
    assert all(pre[k] == exact[k] for k in pre), "cosines must be exact"
    assert set(pre) >= {(i, 1000 + i) for i in range(15)}, "planted dups missed"

    # empty corpus: no pairs, no vstack crash
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert (
        embedding_dedup_pairs_precluster(empty, "vec_id", "embedding").count() == 0
    )


def test_embedding_dedup_candidate_budget_guard(spark):
    # VERDICT r6 item 3: past the candidate budget the LSH regime must
    # refuse (default) or auto-route to the hard-bounded precluster
    # path — never start an unbounded all-pairs verify.
    import numpy as np
    import pytest

    from python_mapreduce_spark.llm.dedup import embedding_dedup

    rng = np.random.RandomState(3)
    rows = [(i, rng.randn(64).astype(float).tolist()) for i in range(120)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    # force the LSH branch (corpus "too big" to broadcast), trip the budget
    with pytest.raises(ValueError, match="candidate estimate"):
        embedding_dedup(
            emb, "vec_id", "embedding",
            corpus_bytes=1 << 40, candidate_budget=1,
        ).collect()

    routed = embedding_dedup(
        emb, "vec_id", "embedding",
        corpus_bytes=1 << 40, candidate_budget=1, on_budget="precluster",
        threshold=0.9,
    )
    assert routed.count() >= 0  # bounded run completes

    with pytest.raises(ValueError, match="on_budget"):
        embedding_dedup(emb, "vec_id", "embedding", on_budget="bogus")

    # under budget the LSH regime proceeds unchanged
    ok = embedding_dedup(
        emb, "vec_id", "embedding", corpus_bytes=1 << 40,
        candidate_budget=10_000_000, threshold=0.9,
    )
    assert ok.count() == 0  # random background has no 0.9-cos pairs


def test_embedding_lsh_plan_is_equi_join(emb):
    # The 100 TB claim in plan form: the bucketed dedup meets the corpus
    # with itself only through a hash-partitioned equi-join on band keys —
    # never a nested loop or cartesian product.
    from python_mapreduce_spark.llm.dedup import embedding_dedup_pairs_lsh
    from python_mapreduce_spark.plans.explain import formatted_plan

    plan = formatted_plan(embedding_dedup_pairs_lsh(emb, "vec_id", "embedding"))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert any(
        j in plan for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
    ), plan


def test_chunk_documents_windows_and_overlap(spark):
    from python_mapreduce_spark.llm.text import chunk_documents

    mk = lambda i: f"w{chr(97 + i // 26)}{chr(97 + i % 26)}"  # noqa: E731
    words = " ".join(mk(i) for i in range(100))
    docs = spark.createDataFrame([(1, words), (2, "only three words")],
                                 "doc_id long, text string")
    rows = {
        (r.id, r.chunk_no): (r.chunk_text, r.n_chunk_tokens)
        for r in chunk_documents(
            docs, "doc_id", "text", chunk_tokens=40, overlap=10
        ).collect()
    }
    # doc 1: 100 tokens, stride 30 -> ceil(90/30)=3 chunks
    assert {k for k in rows if k[0] == 1} == {(1, 0), (1, 1), (1, 2)}
    t0, n0 = rows[(1, 0)]
    t1, n1 = rows[(1, 1)]
    assert n0 == 40 and t0.startswith(mk(0)) and t0.endswith(mk(39))
    # overlap: chunk 1 starts 10 tokens before chunk 0 ends
    assert t1.startswith(mk(30))
    # short doc: one chunk, whole text
    assert rows[(2, 0)] == ("only three words", 3)


def test_exact_dedup_hash_and_text_modes_agree(docs):
    # The 32-byte hash-key shuffle must produce the same dedup decisions
    # as the literal text-key contract (collisions are ~2^-64).
    from python_mapreduce_spark.llm.dedup import exact_dedup

    h = {
        (r.keep_id, r.n_copies)
        for r in exact_dedup(docs, "doc_id", "text").collect()
    }
    t = {
        (r.keep_id, r.n_copies)
        for r in exact_dedup(docs, "doc_id", "text", key_mode="text").collect()
    }
    assert h == t and h


def test_embedding_matmul_dedup_equals_all_pairs(emb):
    from python_mapreduce_spark.llm.dedup import (
        embedding_dedup_pairs,
        embedding_dedup_pairs_matmul,
    )

    exact = {
        (r.id1, r.id2): r.cos
        for r in embedding_dedup_pairs(emb, "vec_id", "embedding").collect()
    }
    mm = {
        (r.id1, r.id2): r.cos
        for r in embedding_dedup_pairs_matmul(emb, "vec_id", "embedding").collect()
    }
    assert exact and mm == exact


def test_band_keys_match_per_band_expression(spark):
    # band_keys is the persisted state of the incremental MinHash dedup
    # and of fuzzy decontamination: its keys must stay bit-identical to
    # hashing one literal int band id per band over the sliced signature.
    from python_mapreduce_spark.llm.dedup import band_keys

    sigs = spark.createDataFrame(
        [
            (1, [(i * 7919) % 1009 - 500 for i in range(64)]),
            (2, [-(2**63), 2**63 - 1] * 32),
            (3, list(range(64))),
            (4, list(range(64))),  # twin of 3: same keys, different id
            (5, list(range(20))),  # shorter than bands * rows
        ],
        "id long, sig array<long>",
    )
    for bands, rows in ((8, 4), (32, 2)):
        ref = sigs.select(
            "id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(bi).alias("band"),
                            F.xxhash64(
                                F.lit(bi), F.concat_ws(",", F.slice("sig", bi * rows + 1, rows))
                            ).alias("bkey"),
                        )
                        for bi in range(bands)
                    ]
                )
            ).alias("bk"),
        ).select("id", "bk.band", "bk.bkey")
        got = band_keys(sigs, bands=bands, rows=rows)
        assert got.schema == ref.schema
        keys = sorted(got.collect())
        assert len(keys) == 5 * bands and keys == sorted(ref.collect())


def test_connected_components_chain_and_islands(spark):
    # A 5-node chain (worst diameter per edge count), a 2-node island,
    # and a singleton-free contract: only nodes that appear in edges are
    # labeled; every component takes its smallest member as cluster id.
    # Self-loops (inside the chain and alone), a duplicated edge and a
    # reversed duplicate must not change any label.
    from python_mapreduce_spark.llm.dedup import connected_components

    chain = [(5, 4), (4, 3), (3, 2), (2, 1), (10, 11)]
    extras = [(3, 3), (7, 7), (10, 11), (11, 10)]
    want = {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10}
    for rows, expected in ((chain, want), (chain + extras, {**want, 7: 7})):
        edges = spark.createDataFrame(rows, "id1 long, id2 long")
        got = {
            r.node: r.cluster
            for r in connected_components(edges).collect()
        }
        assert got == expected


def test_connected_components_reports_non_convergence(spark):
    # The 5-node chain needs more than one round: after the seeded labels
    # and one round, nodes 3, 4 and 5 were still moving toward label 1.
    from python_mapreduce_spark.llm.dedup import connected_components

    edges = spark.createDataFrame(
        [(5, 4), (4, 3), (3, 2), (2, 1)], "id1 long, id2 long"
    )
    with pytest.raises(
        RuntimeError,
        match=r"did not converge in 1 rounds: 3 labels still changed in the last round",
    ):
        connected_components(edges, max_iter=1)
    assert spark.sparkContext.getLocalProperty("callSite.short") is None


def test_repetition_stats_counts_duplicate_ngrams(spark):
    from python_mapreduce_spark.llm.text import repetition_stats

    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "x y z"), (3, "w w w w w")], "id long, text string"
    )
    out = {r.id: r for r in repetition_stats(df, "id", "text", n=2).collect()}
    # "a b a b" -> bigrams [ab, ba, ab]: 3 total, 2 distinct
    assert (out[1].n_grams, out[1].n_distinct, out[1].rep_ratio) == (3, 2, 0.3333)
    assert out[2].rep_ratio == 0.0
    # "w w w w w" -> [ww]*4: 4 total, 1 distinct
    assert (out[3].n_grams, out[3].n_distinct, out[3].rep_ratio) == (4, 1, 0.75)


def test_crossdoc_dup_coverage_counts_shared_grams(spark):
    from python_mapreduce_spark.llm.dedup import crossdoc_dup_coverage

    shared = "alpha beta gamma delta epsilon"  # one 5-gram, present in docs 1+2
    df = spark.createDataFrame(
        [
            (1, shared + " zeta"),  # grams: [shared, beta..zeta] -> 1 of 2 shared
            (2, shared),  # its single gram is shared -> coverage 1.0
            (3, "one two three four five six"),  # 2 grams, none shared
            (4, "too short"),  # < 5 tokens -> zero grams, coverage 0
        ],
        "id long, text string",
    )
    out = {r.id: r for r in crossdoc_dup_coverage(df, "id", "text").collect()}
    assert (out[1].n_grams, out[1].n_dup, out[1].dup_coverage) == (2, 1, 0.5)
    assert (out[2].n_grams, out[2].n_dup, out[2].dup_coverage) == (1, 1, 1.0)
    assert (out[3].n_grams, out[3].n_dup) == (2, 0)
    assert (out[4].n_grams, out[4].n_dup, out[4].dup_coverage) == (0, 0, 0.0)
    # intra-doc repetition alone is NOT cross-doc duplication
    solo = spark.createDataFrame([(9, (shared + " ") * 3)], "id long, text string")
    assert crossdoc_dup_coverage(solo, "id", "text").collect()[0].n_dup == 0


def test_gopher_flags_fire_per_rule(spark):
    from python_mapreduce_spark.llm.text import gopher_quality_flags

    # 23 distinct-bigram tokens with 5 stopword hits: passes every rule.
    long_ok = (
        "the quick brown fox jumps over a lazy dog while the bright sun "
        "sets and many tired birds fly home to rest tonight"
    )
    df = spark.createDataFrame(
        [
            (1, long_ok),  # passes every rule
            (2, "the cat sat on a mat"),  # 6 tokens < 20 -> ok_len fails
            (3, "the dog ran " + "spin spin " * 16),  # repetition -> ok_rep fails
            (4, ("zebra yonder " * 12).strip()),  # no stopwords -> ok_stop fails
            (5, long_ok + "!!!" * 40),  # punctuation-heavy -> ok_punct fails
        ],
        "id long, text string",
    )
    out = {r.id: r for r in gopher_quality_flags(df, "id", "text").collect()}
    assert out[1].keep and all(
        getattr(out[1], f) for f in ("ok_len", "ok_tok_len", "ok_punct", "ok_stop", "ok_rep")
    )
    assert not out[2].ok_len and not out[2].keep
    assert not out[3].ok_rep and not out[3].keep and out[3].ok_len
    assert not out[4].ok_stop and not out[4].keep
    assert not out[5].ok_punct and not out[5].keep and out[5].ok_stop
    # NULL text = empty document: zero tokens, every evidence rule fails
    null_out = gopher_quality_flags(
        spark.createDataFrame([(9, None)], "id long, text string"), "id", "text"
    ).collect()[0]
    assert null_out.n_tokens == 0 and not null_out.keep


def test_ngram_contamination_flags_only_leaked_docs(spark):
    from python_mapreduce_spark.llm.text import ngram_contamination

    leak = "alpha beta gamma delta epsilon zeta"
    corpus = spark.createDataFrame(
        [(1, leak), (2, "one two three four five six")], "id long, text string"
    )
    eval_set = spark.createDataFrame([(100, leak)], "id long, text string")
    out = {r.id: r for r in
           ngram_contamination(corpus, eval_set, "id", "text", n=3).collect()}
    assert out[1].contamination == 1.0 and out[1].n_contaminated == out[1].n_grams
    assert out[2].contamination == 0.0 and out[2].n_contaminated == 0


def test_pii_scrub_counts_and_redacts(spark):
    from python_mapreduce_spark.llm.text import pii_scrub

    df = spark.createDataFrame(
        [
            (1, "mail me at jane.doe+x@corp.example.org or call +1-555-0199"),
            (2, "no pii here at all"),
        ],
        "id long, text string",
    )
    out = {r.id: r for r in pii_scrub(df, "id", "text").collect()}
    assert (out[1].n_emails, out[1].n_phones) == (1, 1)
    assert "<EMAIL>" in out[1].redacted and "<PHONE>" in out[1].redacted
    assert "jane" not in out[1].redacted and "0199" not in out[1].redacted
    assert (out[2].n_emails, out[2].n_phones) == (0, 0)
    assert out[2].redacted == "no pii here at all"


def test_domain_mix_deterministic_and_near_target(spark):
    from python_mapreduce_spark.operators.relational import domain_mix

    rows = [(i, ["a", "b", "c"][i % 3]) for i in range(3000)]
    df = spark.createDataFrame(rows, "id long, lang string")
    target = {"a": 1.0, "b": 0.5}  # c dropped entirely
    out1 = domain_mix(df, "lang", "id", target)
    counts = {r.lang: r.n for r in out1.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert counts["a"] == 1000          # frac 1.0 keeps every row
    assert "c" not in counts            # absent domain dropped
    assert 400 < counts["b"] < 600      # hash-uniform near 50%
    # determinism: same inputs -> identical kept id set
    ids1 = {r.id for r in out1.select("id").collect()}
    ids2 = {r.id for r in domain_mix(df, "lang", "id", target).select("id").collect()}
    assert ids1 == ids2
    # fraction a hair under 1.0: threshold clamps to 0xffff and keeps
    # ~everything (the naive 5-hex-digit threshold would keep ~6%)
    near_one = domain_mix(df, "lang", "id", {"a": 0.9999999}).count()
    assert near_one >= 999
    # empty target drops every row instead of raising
    assert domain_mix(df, "lang", "id", {}).count() == 0


def test_tfidf_topk_manual_corpus(spark):
    import math

    from python_mapreduce_spark.llm.text import tfidf_topk

    docs = spark.createDataFrame(
        [
            (1, "apple apple banana"),
            (2, "banana cherry"),
            (3, "cherry cherry cherry date"),
            (4, ""),  # token-less doc: contributes to N, emits no rows
        ],
        "doc_id long, text string",
    )
    out = tfidf_topk(docs, "doc_id", "text", k=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.id, []).append(r)
    assert set(by_doc) == {1, 2, 3}
    # d1: apple tf=2 df=1 beats banana tf=1 df=2
    d1 = sorted(by_doc[1], key=lambda r: r.rn)
    assert [r.term for r in d1] == ["apple", "banana"]
    idf1 = math.log(5.0 / 2.0) + 1.0  # N=4, df=1
    assert d1[0].score == pytest.approx(2 * idf1, abs=1e-4)
    assert (d1[0].tf, d1[0].df) == (2, 1)
    # equal scores tie-break on term: d3 has cherry (tf3, df2) first, then date
    d3 = sorted(by_doc[3], key=lambda r: r.rn)
    assert [r.term for r in d3] == ["cherry", "date"]


def test_vocab_coverage_top_n_and_oov(spark):
    from python_mapreduce_spark.llm.text import vocab_coverage

    docs = spark.createDataFrame(
        [
            (1, "aa aa bb", "g1"),
            (2, "aa bb cc", "g1"),
            (3, "cc dd", "g2"),
            (4, "", "g2"),  # no tokens: excluded from n_docs, counts nothing
        ],
        "doc_id long, text string, grp string",
    )
    # counts: aa=3, bb=2, cc=2, dd=1; vocab_size=2 -> {aa, bb} (cc loses
    # the tie against bb on the term tie-break)
    out = {r.grp: r for r in vocab_coverage(docs, "doc_id", "text", "grp", vocab_size=2).collect()}
    assert out["g1"].total_tokens == 6 and out["g1"].oov_tokens == 1
    assert out["g1"].oov_rate == pytest.approx(1 / 6, abs=1e-4)
    assert out["g1"].n_docs == 2
    assert out["g2"].total_tokens == 2 and out["g2"].oov_tokens == 2
    assert out["g2"].n_docs == 1


def test_nearest_centroid_confusion_and_ties(spark):
    from python_mapreduce_spark.llm.similarity import nearest_centroid_confusion

    # Two well-separated clusters; one vector carries the wrong label.
    rows = [
        (1, [1.0, 0.1, 0.0], 0),
        (2, [1.0, 0.0, 0.1], 0),
        (3, [0.9, 0.1, 0.1], 0),
        (4, [0.0, 1.0, 0.1], 7),
        (5, [0.1, 1.0, 0.0], 7),
        (6, [1.0, 0.0, 0.0], 7),  # mislabeled: sits in cluster 0
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = {(r.label, r.pred_label): r.n for r in nearest_centroid_confusion(df, "embedding", "label").collect()}
    assert out[(0, 0)] == 3
    assert out[(7, 0)] == 1  # the planted label-noise row
    assert out[(7, 7)] == 2
    assert sum(out.values()) == 6


def test_nearest_centroid_tie_goes_to_smallest_label(spark):
    from python_mapreduce_spark.llm.similarity import nearest_centroid_confusion

    # A zero probe vector scores cosine 0.0 against EVERY centroid — an
    # exact all-labels tie — so the argmax must fall through to the
    # smallest label (2), exercising the labels-ascending + first-max
    # rule the operator promises matches the SQL oracle's
    # "ORDER BY cos DESC, clabel".
    rows = [
        (1, [1.0, 0.0], 5),
        (2, [0.0, 1.0], 2),
        (3, [0.0, 0.0], 5),  # the tie probe: cos 0 vs both centroids
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = {(r.label, r.pred_label): r.n for r in nearest_centroid_confusion(df, "embedding", "label").collect()}
    # centroids: label 5 = mean([1,0],[0,0]) = [.5, 0]; label 2 = [0,1].
    # vec 1 [1,0]: cos 1.0 vs label-5 centroid -> 5; vec 2 -> 2;
    # probe: tie at 0.0 -> smallest label 2.
    assert out == {(5, 5): 1, (5, 2): 1, (2, 2): 1}


def test_nearest_centroid_label_cap(spark):
    from python_mapreduce_spark.llm.similarity import nearest_centroid_confusion

    df = spark.createDataFrame(
        [(i, [float(i), 1.0], i) for i in range(6)],
        "vec_id long, embedding array<float>, label int",
    )
    with pytest.raises(ValueError, match="max_labels"):
        nearest_centroid_confusion(df, "embedding", "label", max_labels=5)


def test_hash_split_assignment_properties(spark):
    from python_mapreduce_spark.operators.relational import hash_split

    ids = spark.range(4000).withColumnRenamed("id", "doc_id")
    out = hash_split(ids, "doc_id").groupBy("split").count().collect()
    counts = {r.split: r["count"] for r in out}
    assert set(counts) == {"train", "val", "test"}
    assert sum(counts.values()) == 4000  # every row assigned exactly once
    assert abs(counts["train"] / 4000 - 0.8) < 0.03
    assert abs(counts["val"] / 4000 - 0.1) < 0.03
    # deterministic: re-running yields the identical assignment
    a = hash_split(ids, "doc_id").collect()
    b = hash_split(ids, "doc_id").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    # the salt re-deals the split
    salted = dict(
        hash_split(ids, "doc_id", salt="v2").select("doc_id", "split").collect()
    )
    base = dict(hash_split(ids, "doc_id").select("doc_id", "split").collect())
    assert any(salted[i] != base[i] for i in salted)
    # weights normalize: (2, 1, 1) behaves as 50/25/25
    w = {
        r.split: r["count"]
        for r in hash_split(ids, "doc_id", (("a", 2.0), ("b", 1.0), ("c", 1.0)))
        .groupBy("split")
        .count()
        .collect()
    }
    assert abs(w["a"] / 4000 - 0.5) < 0.03 and abs(w["b"] / 4000 - 0.25) < 0.03


def test_hash_split_rejects_bad_weights(spark):
    from python_mapreduce_spark.operators.relational import hash_split

    ids = spark.range(10).withColumnRenamed("id", "doc_id")
    with pytest.raises(ValueError, match="duplicate"):
        hash_split(ids, "doc_id", (("a", 0.5), ("a", 0.5)))
    with pytest.raises(ValueError, match="positive sum"):
        hash_split(ids, "doc_id", (("a", 0.0), ("b", 0.0)))
    with pytest.raises(ValueError, match=">= 0"):
        hash_split(ids, "doc_id", (("a", -0.1), ("b", 1.1)))


def test_hash_split_zero_weight_split_gets_nothing(spark):
    from python_mapreduce_spark.operators.relational import hash_split

    ids = spark.range(70000).withColumnRenamed("id", "doc_id")
    # a trailing zero-weight split must stay empty — including the
    # bucket-'ffff' rows that a clamped threshold would leak into it
    out = hash_split(ids, "doc_id", (("train", 1.0), ("holdout", 0.0)))
    counts = {r.split: r["count"] for r in out.groupBy("split").count().collect()}
    assert counts == {"train": 70000}
    # empty split spec is a meaningful error, not min() noise
    import pytest as _pt

    with _pt.raises(ValueError, match="at least one split"):
        hash_split(ids, "doc_id", ())


def test_pseudonymize_tokens_deterministic_and_null_safe(spark):
    from python_mapreduce_spark.llm.text import pseudonymize

    df = spark.createDataFrame(
        [(1, "alice"), (2, "bob"), (3, None), (4, "alice")],
        "id long, name string",
    )
    out = {r.id: r.name for r in pseudonymize(df, ["name"], "k1").collect()}
    import hashlib

    expect = hashlib.sha256(b"k1alice").hexdigest()
    assert out[1] == expect and out[4] == expect  # equal in -> equal token
    assert out[2] == hashlib.sha256(b"k1bob").hexdigest()
    assert out[3] is None  # NULL stays NULL, never a fake join key
    # rotating the secret re-deals every token
    out2 = {r.id: r.name for r in pseudonymize(df, ["name"], "k2").collect()}
    assert out2[1] != out[1]


def test_similarity_family_degrades_gracefully_on_empty_input(spark):
    # Empty corpora/query sets happen constantly at scale (a filter that
    # matched nothing, a new partition). Every driver-side numpy path
    # must return an EMPTY result of the right schema, never crash on
    # np.vstack([]).
    from python_mapreduce_spark.llm.dedup import (
        embedding_dedup_pairs_lsh,
        embedding_dedup_pairs_matmul,
    )
    from python_mapreduce_spark.llm.similarity import (
        ann_topk_ivf,
        ann_topk_lsh,
        cosine_topk,
        nearest_centroid_confusion,
    )

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>, label int")
    some = spark.createDataFrame(
        [(1, [1.0, 0.0], 0), (2, [0.0, 1.0], 1)],
        "vec_id long, embedding array<float>, label int",
    )
    assert cosine_topk(some, empty, "vec_id", "embedding").count() == 0
    assert cosine_topk(empty, empty, "vec_id", "embedding").count() == 0
    assert ann_topk_lsh(empty, empty, "vec_id", "embedding").count() == 0
    assert ann_topk_ivf(empty, some, "vec_id", "embedding").count() == 0
    assert ann_topk_ivf(some, empty, "vec_id", "embedding").count() == 0
    assert nearest_centroid_confusion(empty, "embedding", "label").count() == 0
    assert embedding_dedup_pairs_matmul(empty, "vec_id", "embedding").count() == 0
    assert embedding_dedup_pairs_lsh(empty, "vec_id", "embedding").count() == 0


def test_skew_report_empty_input_emits_null_top_keys(spark):
    from python_mapreduce_spark.operators.aggregates import key_skew_report

    empty = spark.createDataFrame([], "k string, v long")
    [row] = key_skew_report(empty, ["k"]).collect()
    assert row.n_keys == 0 and row.top_keys is None  # NULL, matching SQL string_agg


def test_null_text_behaves_as_empty_document(spark):
    # The engine-wide rule (functions/scalar.py::tokenize): NULL text =
    # EMPTY document, on both the Spark side and every oracle. Without
    # it, NULL arrays silently drop rows through explode and (on
    # legacy-conf builds) size(NULL) = -1 SUBTRACTS from token sums.
    import hashlib

    from python_mapreduce_spark.llm.dedup import exact_dedup
    from python_mapreduce_spark.llm.text import (
        fingerprint,
        repetition_stats,
        text_stats,
        token_counts,
    )

    df = spark.createDataFrame(
        [(1, "aa bb", "g"), (2, None, "g"), (3, "", "g")],
        "doc_id long, text string, grp string",
    )
    stats = {r.doc_id: r for r in text_stats(df, "doc_id", "text").collect()}
    assert stats[2].n_chars == 0 and stats[2].n_tokens == 0
    assert stats[2].punct_ratio == 0.0 and stats[2].stopword_ratio == 0.0
    [tc] = token_counts(df, ["grp"], "text").collect()
    assert (tc.total_tokens, tc.n_docs) == (2, 3)  # NULL contributes 0, not -1
    fps = {r.doc_id: r.fp for r in fingerprint(df, "doc_id", "text").collect()}
    empty_md5 = hashlib.md5(b"").hexdigest()
    assert fps[2] == empty_md5 == fps[3]  # NULL and '' fingerprint alike
    reps = {r.id: r for r in repetition_stats(df, "doc_id", "text").collect()}
    assert (reps[2].n_grams, reps[2].rep_ratio) == (0, 0.0)
    dedup = exact_dedup(df, "doc_id", "text").collect()
    empties = [r for r in dedup if r.text_fp == empty_md5]
    assert len(empties) == 1 and empties[0].n_copies == 2  # NULL + '' merge


def test_clean_text_strips_collapses_and_trims(spark):
    from python_mapreduce_spark.llm.text import clean_text

    df = spark.createDataFrame(
        [
            (1, "\u200bzero\u200cwidth\tand\u0007ctl   spaces  "),
            (2, "already clean"),
            (3, None),
            (4, "\ufeffbom lead\u00ad"),
        ],
        ["doc_id", "text"],
    )
    rows = {r.id: r for r in clean_text(df, "doc_id", "text").collect()}
    # zero-width chars removed entirely; tab+bell become single spaces;
    # runs collapse; edges trim
    assert rows[1].clean == "zerowidth and ctl spaces"
    assert rows[1].raw_len > rows[1].clean_len
    assert rows[2].clean == "already clean"
    assert rows[2].raw_len == rows[2].clean_len
    # NULL text = empty document (engine-wide rule)
    assert rows[3].clean == "" and rows[3].raw_len == 0 and rows[3].clean_len == 0
    assert rows[4].clean == "bom lead"


def test_hashed_feature_score_mean_and_missing_buckets(spark):
    from pyspark.sql import functions as F

    from python_mapreduce_spark.llm.text import hashed_feature_score

    df = spark.createDataFrame(
        [(1, "good good bad"), (2, "unknown"), (3, None)], ["doc_id", "text"]
    )
    # compute each token's bucket with the operator's own rule, then give
    # "good" weight +0.6, "bad" -0.3, and leave "unknown"'s bucket absent
    tok_bucket = {
        r.tok: r.b
        for r in spark.createDataFrame([("good",), ("bad",), ("unknown",)], ["tok"])
        .select(
            "tok",
            F.pmod(
                F.conv(F.substring(F.md5("tok"), 1, 4), 16, 10).cast("long"), F.lit(64)
            ).alias("b"),
        )
        .collect()
    }
    weights = spark.createDataFrame(
        [(tok_bucket["good"], 0.6), (tok_bucket["bad"], -0.3)], ["bucket", "weight"]
    )
    rows = {
        r.id: r
        for r in hashed_feature_score(df, "doc_id", "text", weights, buckets=64).collect()
    }
    assert rows[1].n_tokens == 3
    assert abs(rows[1].score - round((0.6 + 0.6 - 0.3) / 3, 4)) < 1e-9
    assert rows[1].keep is True
    # token with no weight row contributes exactly 0
    assert rows[2].n_tokens == 1 and rows[2].score == 0.0 and rows[2].keep is False
    # NULL text scores the bias (0) over zero tokens
    assert rows[3].n_tokens == 0 and rows[3].score == 0.0 and rows[3].keep is False


def test_hashed_feature_score_bias_and_md5_weights_replay(spark):
    import hashlib
    import math

    from python_mapreduce_spark.llm.text import hashed_feature_score, md5_weights

    wt = md5_weights(spark.range(32).withColumnRenamed("id", "bucket"))
    got = {r.bucket: r.weight for r in wt.collect()}
    for b in (0, 7, 31):
        frac = int(hashlib.md5(f"w{b}".encode()).hexdigest()[:8], 16) / 2**32
        expect = math.floor((frac * 2 - 1) * 1e6 + 0.5) / 1e6
        assert abs(got[b] - expect) < 1e-12
    df = spark.createDataFrame([(1, "x")], ["doc_id", "text"])
    empty_w = spark.createDataFrame([], "bucket long, weight double")
    row = hashed_feature_score(df, "doc_id", "text", empty_w, buckets=8, bias=2.5).collect()[0]
    assert row.score == 2.5 and row.keep is True


def test_semantic_dedup_prune_keeps_min_id_of_cliques(spark):
    from python_mapreduce_spark.llm.dedup import semantic_dedup_prune

    # cluster 0: a chain 1~2, 2~3 (1 !~ 3): rule drops every vector with
    # a smaller-id partner -> keeps only 1. cluster 1: all orthogonal.
    rows = [
        (1, 0, [1.0, 0.0, 0.0]),
        (2, 0, [0.9, 0.436, 0.0]),     # cos(1,2) ~ 0.9
        (3, 0, [0.62, 0.785, 0.0]),    # cos(2,3) ~ 0.9, cos(1,3) ~ 0.62
        (10, 1, [0.0, 1.0, 0.0]),
        (11, 1, [0.0, 0.0, 1.0]),
        # identical twins in the same cluster: larger id dropped
        (20, 1, [0.5, 0.5, 0.7]),
        (21, 1, [0.5, 0.5, 0.7]),
    ]
    df = spark.createDataFrame(rows, "id long, cluster long, vec array<double>")
    got = {r.id: r.keep for r in semantic_dedup_prune(df, "id", "vec", "cluster", threshold=0.85).collect()}
    assert got == {1: True, 2: False, 3: False, 10: True, 11: True, 20: True, 21: False}
    # cross-cluster twins are NOT compared: move 21 to cluster 2 -> kept
    df2 = spark.createDataFrame(
        [(20, 1, [0.5, 0.5, 0.7]), (21, 2, [0.5, 0.5, 0.7])],
        "id long, cluster long, vec array<double>",
    )
    got2 = {r.id: r.keep for r in semantic_dedup_prune(df2, "id", "vec", "cluster", threshold=0.85).collect()}
    assert got2 == {20: True, 21: True}


def test_nearest_centroid_assign_matches_confusion_and_handles_empty(spark):
    from pyspark.sql import functions as F

    from python_mapreduce_spark.llm.similarity import nearest_centroid_assign

    rows = [
        (1, 0, [1.0, 0.0]), (2, 0, [0.9, 0.1]),
        (3, 1, [0.0, 1.0]), (4, 1, [0.1, 0.9]),
        (5, 0, [0.05, 1.0]),  # labeled 0 but sits on cluster 1's centroid
    ]
    df = spark.createDataFrame(rows, "vec_id long, label long, embedding array<double>")
    got = {r.id: r.cluster for r in nearest_centroid_assign(df, "vec_id", "embedding", "label").collect()}
    assert got[1] == 0 and got[2] == 0 and got[3] == 1 and got[4] == 1
    assert got[5] == 1  # assignment follows geometry, not the noisy label
    empty = spark.createDataFrame([], "vec_id long, label long, embedding array<double>")
    assert nearest_centroid_assign(empty, "vec_id", "embedding", "label").count() == 0


def test_segment_dedup_first_occurrence_and_reassembly(spark):
    from python_mapreduce_spark.llm.text import segment_dedup

    seg_a = "a b c d"          # 4-token segments
    seg_b = "e f g h"
    seg_c = "i j k l"
    rows = [
        (1, f"{seg_a} {seg_b}"),          # both first occurrences
        (2, f"{seg_a} {seg_c}"),          # seg_a duplicates doc 1 pos 0
        (3, seg_b),                        # seg_b duplicates doc 1 pos 1
        (4, "tail only two"),              # one partial segment, unique
        (5, None),                         # NULL text = empty document
        (0, seg_c),                        # SMALLER id later in input: wins seg_c
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.id: r for r in segment_dedup(df, "doc_id", "text", seg_tokens=4).collect()}
    assert got[1].n_segments == 2 and got[1].n_kept == 2
    assert got[1].text_dedup == f"{seg_a} {seg_b}"
    # doc 2 loses seg_a (doc 1 owns it) AND seg_c (doc 0 owns it: min id)
    assert got[2].n_segments == 2 and got[2].n_kept == 0 and got[2].text_dedup == ""
    assert got[3].n_segments == 1 and got[3].n_kept == 0
    assert got[4].n_kept == 1 and got[4].text_dedup == "tail only two"
    assert got[5].n_segments == 0 and got[5].n_kept == 0 and got[5].text_dedup == ""
    assert got[0].n_kept == 1 and got[0].text_dedup == seg_c


def test_segment_dedup_within_doc_position_order(spark):
    from python_mapreduce_spark.llm.text import segment_dedup

    # 9 tokens at seg_tokens=4 -> segments at pos 0,1 full + pos 2 partial;
    # a repeated segment WITHIN one doc keeps only its first position
    df = spark.createDataFrame(
        [(7, "a b c d a b c d tail")], "doc_id long, text string"
    )
    row = segment_dedup(df, "doc_id", "text", seg_tokens=4).collect()[0]
    assert row.n_segments == 3 and row.n_kept == 2
    assert row.text_dedup == "a b c d tail"


def test_leakage_safe_split_keeps_cliques_together(spark):
    from python_mapreduce_spark.llm.dedup import leakage_safe_split, minhash_dedup_pairs

    # three exact-copy families + singletons; ids chosen so naive
    # per-id hashing WOULD split at least one family (pinned below)
    texts = {
        10: "spark shuffle partition broadcast join skew salt window " * 3,
        200: "gradient descent batch epoch learning rate momentum decay " * 3,
        3000: "tokenizer vocab merge byte pair encoding corpus stream " * 3,
    }
    rows = []
    for base, fam in texts.items():
        for j in range(3):
            rows.append((base + j * 7, fam + f"tail{base}"))
    for i in range(40, 60):
        rows.append((i * 101, f"unique document number {i} with its own words {i * 3}"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = leakage_safe_split(df, "doc_id", "text").collect()
    split_of = {r.id: r.split for r in out}
    rep_of = {r.id: r.rep for r in out}
    assert len(out) == len(rows)
    for base in (10, 200, 3000):
        ids = [base, base + 7, base + 14]
        # whole family shares one representative (the min id) and one split
        assert {rep_of[i] for i in ids} == {base}
        assert len({split_of[i] for i in ids}) == 1
    # the audit the operator exists to satisfy: NO near-dup pair straddles
    pairs = minhash_dedup_pairs(
        df, "doc_id", "text", n=3, num_hashes=32, bands=16, rows=2, threshold=0.8
    ).collect()
    assert pairs  # families are real near-dups
    assert all(split_of[p.id1] == split_of[p.id2] for p in pairs)
    # salt re-deals clusters as UNITS: every member still agrees
    salted = leakage_safe_split(df, "doc_id", "text", salt="epoch2").collect()
    s2 = {r.id: r.split for r in salted}
    for base in (10, 200, 3000):
        assert len({s2[i] for i in [base, base + 7, base + 14]}) == 1


def test_bigram_lm_score_manual_model(spark):
    import math

    from python_mapreduce_spark.llm.text import bigram_lm_score

    # corpus: doc 1 = "a b a b", doc 2 = "a b c", doc 3 = one token, 4 = NULL
    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b c"), (3, "solo"), (4, None)],
        "doc_id long, text string",
    )
    got = {r.id: r for r in bigram_lm_score(df, "doc_id", "text", k=0.5).collect()}
    # bigram counts: (a b)=3, (b a)=1, (b c)=1; contexts: a->3, b->2; V=2
    V = 2.0
    lp = {
        "a b": round(math.log((3 + 0.5) / (3 + 0.5 * V)), 6),
        "b a": round(math.log((1 + 0.5) / (2 + 0.5 * V)), 6),
        "b c": round(math.log((1 + 0.5) / (2 + 0.5 * V)), 6),
    }
    exp1 = math.floor((lp["a b"] + lp["b a"] + lp["a b"]) / 3 * 1e4 + 0.5) / 1e4
    exp2 = math.floor((lp["a b"] + lp["b c"]) / 2 * 1e4 + 0.5) / 1e4
    assert got[1].n_bigrams == 3 and abs(got[1].avg_logp - exp1) < 1e-9
    assert got[2].n_bigrams == 2 and abs(got[2].avg_logp - exp2) < 1e-9
    assert abs(got[1].ppl - math.floor(math.exp(-exp1) * 1e4 + 0.5) / 1e4) < 1e-9
    # the frequent transition scores MORE probable -> doc 1 less perplexing
    assert got[1].ppl < got[2].ppl
    # sub-2-token and NULL docs carry NULL scores, zero bigrams
    for i in (3, 4):
        assert got[i].n_bigrams == 0 and got[i].avg_logp is None and got[i].ppl is None


def test_media_exact_dedup_and_feature_pairs(spark):
    from python_mapreduce_spark.llm.multimodal import (
        attach_binary_payload,
        media_exact_dedup,
        media_feature_dedup_pairs,
    )

    docs = spark.createDataFrame(
        [(5, "same bytes"), (2, "same bytes"), (9, "other bytes")],
        "doc_id long, text string",
    )
    media = attach_binary_payload(docs, "doc_id", "text")
    got = {r.checksum: (r.keep_id, r.n_copies) for r in media_exact_dedup(media).collect()}
    assert sorted(got.values()) == [(2, 2), (9, 1)]  # smallest id kept

    # feature near-dup: values straddling a bucket boundary must still pair
    feats = spark.createDataFrame(
        [(1, 0.999), (2, 1.001), (3, 1.02), (4, 5.0)], "media_id long, r double"
    )
    pairs = {
        (r.id1, r.id2): r.dist
        for r in media_feature_dedup_pairs(
            feats, "media_id", "r", eps=0.01, bucket_width=1.0
        ).collect()
    }
    # (1,2) straddles buckets 0|1 at dist 0.002 -> caught via adjacent probe
    assert set(pairs) == {(1, 2)}
    assert abs(pairs[(1, 2)] - 0.002) < 1e-9
    import pytest as _pytest
    with _pytest.raises(ValueError):
        media_feature_dedup_pairs(feats, "media_id", "r", eps=2.0, bucket_width=1.0)


def test_pagerank_fixed_known_graph(spark):
    import math

    from python_mapreduce_spark.llm.dedup import pagerank_fixed

    # star: a -> b, a -> c, b -> c ; c dangling (leaks mass, documented)
    edges = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c")], "src string, dst string"
    )
    got = {r.node: r.rank for r in
           pagerank_fixed(edges, "src", "dst", iterations=2).collect()}

    def r6(x):
        return math.floor(x * 1e6 + 0.5) / 1e6

    # replicate the exact rounded recurrence
    n = 3.0
    rank = {k: r6(1.0 / n) for k in "abc"}
    deg = {"a": 2.0, "b": 1.0}
    for _ in range(2):
        contrib = {"b": r6(rank["a"] / deg["a"]),
                   "c": r6(rank["a"] / deg["a"]) + r6(rank["b"] / deg["b"])}
        rank = {k: r6(0.15 / n + 0.85 * contrib.get(k, 0.0)) for k in "abc"}
    assert got == rank
    # sink accumulates the most mass; source holds only the base term
    assert got["c"] > got["b"] > got["a"]
    assert got["a"] == r6(0.15 / n)


def test_build_inverted_index_trim_and_order(spark):
    from python_mapreduce_spark.llm.text import build_inverted_index

    docs = spark.createDataFrame(
        [
            (1, "apple apple apple banana"),
            (2, "apple banana banana"),
            (3, "apple"),
            (4, "cherry"),
        ],
        "doc_id long, text string",
    )
    got = {r.term: r for r in
           build_inverted_index(docs, "doc_id", "text", max_postings=2).collect()}
    assert got["apple"].df_docs == 3
    # trimmed to 2, ranked tf desc then doc asc: doc1 tf3, then doc2 tf1
    # beats doc3 tf1 on the id tiebreak
    assert got["apple"].postings == ["1:3", "2:1"]
    assert got["banana"].df_docs == 2
    assert got["banana"].postings == ["2:2", "1:1"]
    assert got["cherry"].postings == ["4:1"]


def test_multimodal_null_text_is_empty_media(spark):
    # engine-wide rule: NULL text = empty document -> empty payload
    # (never a NULL payload, which would crash decode kernels)
    import hashlib

    from python_mapreduce_spark.llm.multimodal import (
        attach_binary_payload,
        extract_features,
        media_exact_dedup,
        sample_frames,
    )

    docs = spark.createDataFrame(
        [(1, None), (2, ""), (3, "real content here")], "doc_id long, text string"
    )
    media = attach_binary_payload(docs, "doc_id", "text")
    rows = {r.media_id: r for r in media.collect()}
    empty_md5 = hashlib.md5(b"").hexdigest()
    assert rows[1].n_bytes == 0 and rows[1].checksum == empty_md5
    assert bytes(rows[1].payload) == b""
    # NULL and '' merge into one dedup group, keep-min id
    dd = {r.checksum: r for r in media_exact_dedup(media).collect()}
    assert dd[empty_md5].keep_id == 1 and dd[empty_md5].n_copies == 2
    # kernels survive empty payloads
    feats = {r.media_id: r.r_mean for r in extract_features(media).collect()}
    assert feats[1] == 0.0 and feats[2] == 0.0 and feats[3] > 0
    frames = [r for r in sample_frames(media).collect() if r.media_id == 1]
    assert len(frames) == 1 and frames[0].frame_checksum == empty_md5


def test_token_pmi_known_corpus(spark):
    import math

    from python_mapreduce_spark.llm.text import token_pmi

    # 10 docs: "spark shuffle" always together (5 docs); "cat" appears
    # alone in the other 5; "the" everywhere (high df, pmi ~ 0 with all)
    rows = []
    for i in range(5):
        rows.append((i, "the spark shuffle"))
    for i in range(5, 10):
        rows.append((i, "the cat"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.tok1, r.tok2): (r.n_ab, r.pmi)
        for r in token_pmi(df, "doc_id", "text", top_n=10, min_pair_docs=2).collect()
    }

    def r4(x):
        return math.floor(x * 1e4 + 0.5) / 1e4

    # spark+shuffle: perfect collocation among 5/10 docs each
    assert got[("shuffle", "spark")] == (5, r4(math.log(5 * 10 / (5 * 5))))
    # the+cat: 5 co-docs, the in 10 -> pmi = ln(5*10/(10*5)) = 0
    assert got[("cat", "the")] == (5, 0.0)
    # spark never co-occurs with cat
    assert ("cat", "spark") not in got


def test_remove_duplicate_spans_overlap_and_all_copies(spark):
    from python_mapreduce_spark.llm.text import remove_duplicate_spans

    shared = "alpha beta gamma delta epsilon"        # exactly one 5-gram
    rows = [
        (1, f"intro words here {shared} tail one"),
        (2, f"{shared} other content entirely here"),
        (3, "no duplicated content in this document at all"),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.id: r for r in
           remove_duplicate_spans(df, "doc_id", "text", n=5, min_df=2).collect()}
    # the shared span is removed from BOTH docs (not keep-first)
    assert got[1].text_clean == "intro words here tail one"
    assert got[1].n_removed == 5
    assert got[2].text_clean == "other content entirely here"
    assert got[2].n_removed == 5
    assert got[3].n_removed == 0 and got[3].text_clean.startswith("no duplicated")
    assert got[4].n_tokens == 0 and got[4].text_clean == ""
    # overlapping duplicated grams merge into ONE covered span: a 6-token
    # shared run shares two overlapping 5-grams; removal cuts 6 tokens
    run6 = "one two three four five six"
    df2 = spark.createDataFrame(
        [(1, f"{run6} xx"), (2, f"yy {run6}")], "doc_id long, text string"
    )
    got2 = {r.id: r for r in
            remove_duplicate_spans(df2, "doc_id", "text", n=5, min_df=2).collect()}
    assert got2[1].n_removed == 6 and got2[1].text_clean == "xx"
    assert got2[2].n_removed == 6 and got2[2].text_clean == "yy"


def test_cross_corpus_overlap_matches_through_normalization(spark):
    from pyspark.sql import functions as F

    from python_mapreduce_spark.llm.dedup import cross_corpus_overlap

    corpus = spark.createDataFrame(
        [(1, "hello  world"), (2, "unique doc"), (3, None), (4, "Spread   out")],
        "doc_id long, text string",
    )
    ref = spark.createDataFrame(
        [("HELLO WORLD",), ("hello world",), ("spread out",), ("other",), (None,)],
        "text string",
    )
    got = {
        r.id: (r.in_reference, r.n_reference_copies)
        for r in cross_corpus_overlap(corpus, ref, "doc_id", "text").collect()
    }
    # case + whitespace normalize; duplicate reference rows counted
    assert got[1] == (True, 2)
    assert got[2] == (False, 0)
    # NULL corpus text == empty doc; NULL ref text == empty doc -> match
    assert got[3] == (True, 1)
    assert got[4] == (True, 1)
    # raw mode: no normalization, nothing matches
    raw = {
        r.id: r.in_reference
        for r in cross_corpus_overlap(
            corpus, ref, "doc_id", "text", normalized=False
        ).collect()
    }
    assert raw[1] is False and raw[4] is False


def test_cluster_canonical_keeps_best_quality_copy(spark):
    # Three exact near-dup copies (one longer/cleaner => higher quality)
    # plus a singleton: exactly one keep per clique, and it is the
    # highest-quality member (tie -> smallest id).
    base = "the cat sat on the mat and the dog sat on the log of the day"
    docs = [
        (1, base + " extra clean tail of the story to lift quality"),
        (2, base),
        (3, base),
        (4, "completely unrelated text about quantum flux capacitors"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    from python_mapreduce_spark.llm.dedup import cluster_canonical

    rows = {r.id: r for r in cluster_canonical(df, "doc_id", "text").collect()}
    assert len(rows) == 4
    by_cluster = {}
    for r in rows.values():
        by_cluster.setdefault(r.cluster, []).append(r)
    for cluster, members in by_cluster.items():
        keeps = [r for r in members if r.keep]
        assert len(keeps) == 1, cluster
        best = max(members, key=lambda r: (r.quality, -r.id))
        assert keeps[0].id == best.id
    # the three copies form one clique; the singleton keeps itself
    assert rows[2].cluster == rows[3].cluster
    assert rows[4].keep and rows[4].cluster == 4


def test_top_eigenvector_agrees_with_numpy(spark):
    # The distributed power iteration (3 rounds, per-step rounding)
    # must land near numpy's dominant eigenvector on a matrix with a
    # clear spectral gap, and the eigenvalue/trace share must be
    # consistent.
    import numpy as np

    from python_mapreduce_spark.llm.similarity import top_eigenvector

    rng = np.random.default_rng(7)
    a = rng.normal(size=(200, 8))
    a[:, 0] *= 6.0  # dominant direction with a wide gap
    c = (a.T @ a) / len(a)
    rows = [
        (i, j, float(c[i, j])) for i in range(8) for j in range(8) if j >= i
    ]
    cov = spark.createDataFrame(rows, "i long, j long, cov double")
    got = top_eigenvector(cov, iters=5).collect()
    v = np.zeros(8)
    for r in got:
        v[r.i] = r.loading
    w, vec = np.linalg.eigh(c)
    top = vec[:, np.argmax(w)]
    cos = abs(float(v @ top) / (np.linalg.norm(v) * np.linalg.norm(top)))
    assert cos > 0.999
    lam = got[0].eigenvalue
    assert abs(lam - max(w)) / max(w) < 0.01
    assert abs(got[0].explained_share - lam / np.trace(c)) < 1e-4


def test_top_eigenvector_empty_matrix(spark):
    from python_mapreduce_spark.llm.similarity import top_eigenvector

    cov = spark.createDataFrame([], "i long, j long, cov double")
    assert top_eigenvector(cov).count() == 0


def test_dedup_savings_accounting_matches_replay(spark):
    # Two exact copies + the clean original in group "web", a singleton
    # in "books": savings = removed-token share per group, replayed in
    # Python over the same [a-z]+ tokenization; the singleton group
    # saves nothing.
    import re

    base = "the cat sat on the mat and the dog sat on the log of the day"
    docs = [
        (1, base + " extra clean tail of the story to lift quality", "web"),
        (2, base, "web"),
        (3, base, "web"),
        (4, "completely unrelated text about quantum flux capacitors", "books"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string, source string")
    from python_mapreduce_spark.llm.dedup import cluster_canonical, dedup_savings

    keep = {
        r.id: r.keep
        for r in cluster_canonical(
            df, "doc_id", "text", n=3, num_hashes=32, bands=8, rows=4, threshold=0.8
        ).collect()
    }
    toks = {i: len(re.findall("[a-z]+", t.lower())) for i, t, _ in docs}
    got = {
        r.source: (r.n_docs, r.n_kept, r.tokens_total, r.tokens_kept, r.token_savings)
        for r in dedup_savings(df, "doc_id", "text", ["source"]).collect()
    }
    for src in ("web", "books"):
        ids = [i for i, _, s in docs if s == src]
        total = sum(toks[i] for i in ids)
        kept = sum(toks[i] for i in ids if keep[i])
        exp_sav = round((total - kept) / total, 6) if total else 0.0
        assert got[src] == (
            len(ids), sum(1 for i in ids if keep[i]), total, kept, exp_sav
        ), src
    assert got["books"][4] == 0.0
    # docs 2/3 are exact copies (one removed); doc 1's extra tail keeps
    # it below the 0.8 Jaccard threshold, so it is its own clique
    assert got["web"][1] == 2 and got["web"][4] > 0.0


def test_fuzzy_decontamination_flags_near_dups_only(spark):
    # A train doc that lightly paraphrases an eval item is flagged with
    # that eval id and a high Jaccard; an exact cross-corpus copy is
    # flagged at 1.0; unrelated train docs emit nothing.
    base = (
        "the quick brown fox jumps over the lazy dog while the cat"
        " watches from the tall green fence near the old red barn"
    )
    train = [
        (1, base + " in the quiet morning light"),   # near-dup of eval 100
        (2, "completely different text about compiler optimization passes"),
        (3, "benchmark question about the capital of france and its history"),
    ]
    ev = [
        (100, base),
        (101, "benchmark question about the capital of france and its history"),
    ]
    from python_mapreduce_spark.llm.dedup import fuzzy_decontamination

    tdf = spark.createDataFrame(train, "doc_id long, text string")
    edf = spark.createDataFrame(ev, "doc_id long, text string")
    got = {
        r.id: r
        for r in fuzzy_decontamination(
            tdf, edf, "doc_id", "text", threshold=0.7
        ).collect()
    }
    assert set(got) == {1, 3}
    assert got[3].max_jaccard == 1.0 and got[3].eval_id == 101
    assert got[1].eval_id == 100 and got[1].max_jaccard >= 0.7
    assert got[1].n_matches == 1 and got[3].n_matches == 1


def test_retrieval_label_eval_matches_topk_replay(emb, spark):
    # MRR@5 / precision@5 must equal a direct replay over the
    # cosine_topk frame with same-label relevance.
    import math

    from python_mapreduce_spark.llm.similarity import cosine_topk, retrieval_label_eval

    queries = emb.filter(F.col("vec_id") < 20)
    labels = {r.vec_id: r.label for r in emb.select("vec_id", "label").collect()}
    topk = cosine_topk(emb, queries, "vec_id", "embedding", k=5).collect()
    per_q = {}
    for r in topk:
        first, nhits = per_q.get(r.query_id, (None, 0))
        if labels[r.neighbor_id] == labels[r.query_id]:
            nhits += 1
            if first is None or r.rn < first:
                first = r.rn
        per_q[r.query_id] = (first, nhits)

    def dr(x, sc=6):
        m = 10**sc
        return math.floor(x * m + 0.5) / m

    exp = {}
    for qid, (first, nhits) in per_q.items():
        lab = labels[qid]
        n, srr, sh = exp.get(lab, (0, 0.0, 0))
        exp[lab] = (n + 1, srr + dr(1.0 / first if first else 0.0, 8), sh + nhits)
    got = {
        r.label: r
        for r in retrieval_label_eval(
            emb, queries, "vec_id", "embedding", "label", k=5
        ).collect()
    }
    assert set(got) == set(exp)
    for lab, (n, srr, sh) in exp.items():
        r = got[lab]
        assert r.n_queries == n
        assert r.mrr == dr(srr / n)
        assert r.p_at_k == dr(sh / (5.0 * n))


def test_triangle_stats_known_graphs(spark):
    from python_mapreduce_spark.llm.dedup import triangle_stats

    # K3 plus a pendant: 1 triangle; wedges = C(2,2)*3 at the triangle
    # corners (deg 2,2,3) + pendant: 1+1+3+0 = 5; clustering 3/5.
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4)], "id1 long, id2 long"
    )
    [r] = triangle_stats(edges).collect()
    assert (r.n_vertices, r.n_edges, r.n_triangles) == (4, 4, 1)
    assert r.clustering == 0.6

    # duplicate/reversed/self-loop edges collapse; a 4-clique has 4
    # triangles, 12 wedges, clustering 1.0
    k4 = [(a, b) for a in range(4) for b in range(4) if a != b] + [(2, 2)]
    [r4] = triangle_stats(
        spark.createDataFrame(k4, "id1 long, id2 long")
    ).collect()
    assert (r4.n_vertices, r4.n_edges, r4.n_triangles) == (4, 6, 4)
    assert r4.clustering == 1.0

    # star: no triangle, wedges exist -> clustering 0.0
    [rs] = triangle_stats(
        spark.createDataFrame([(0, 1), (0, 2), (0, 3)], "id1 long, id2 long")
    ).collect()
    assert (rs.n_triangles, rs.clustering) == (0, 0.0)

    # empty edge set -> zero rows
    assert (
        triangle_stats(spark.createDataFrame([], "id1 long, id2 long")).count() == 0
    )


def test_triangle_stats_matches_bruteforce_on_dup_graph(docs, spark):
    from itertools import combinations

    from python_mapreduce_spark.llm.dedup import ngram_jaccard_pairs, triangle_stats

    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.8).collect()
    edges = set((min(r.id1, r.id2), max(r.id1, r.id2)) for r in pairs)
    assert edges
    verts = set(v for e in edges for v in e)
    tri = sum(
        1
        for a, b, c in combinations(sorted(verts), 3)
        if (a, b) in edges and (a, c) in edges and (b, c) in edges
    )
    df = spark.createDataFrame(list(edges), "id1 long, id2 long")
    [r] = triangle_stats(df).collect()
    assert (r.n_vertices, r.n_edges, r.n_triangles) == (
        len(verts), len(edges), tri
    )


def test_readability_profile_matches_replay(docs, spark):
    import math
    import re

    from python_mapreduce_spark.llm.text import readability_profile

    def dr(x):
        return math.floor(x * 1e6 + 0.5) / 1e6

    got = {r.source: r for r in readability_profile(docs, ["source"], "text").collect()}
    agg = {}
    for row in docs.select("source", "text").collect():
        t = row.text or ""
        w = len(re.findall("[a-z]+", t.lower()))
        sr = len(re.findall(r"[.!?]+", t))
        sy = len(re.findall("[aeiouy]+", t.lower()))
        n, tw, ts_, tsy = agg.get(row.source, (0, 0, 0, 0))
        agg[row.source] = (
            n + 1, tw + w, ts_ + (max(sr, 1) if w > 0 else 0), tsy + sy
        )
    assert set(got) == set(agg)
    for src, (n, w, s, sy) in agg.items():
        r = got[src]
        assert (r.n_docs, r.words, r.sentences, r.syllables) == (n, w, s, sy), src
        if w > 0 and s > 0:
            assert r.words_per_sentence == dr(w / s)
            assert r.syllables_per_word == dr(sy / w)
            assert r.flesch == dr(206.835 - 1.015 * (w / s) - 84.6 * (sy / w))


def test_code_detect_separates_code_from_prose(spark):
    from python_mapreduce_spark.llm.text import code_detect

    code = (
        "def handler(event):\n"
        "    import json\n"
        "    data = json.loads(event);\n"
        "    if data['x'] > 0:\n"
        "        return {'ok': True}\n"
        "    else:\n"
        "        return {'ok': False}\n"
    )
    prose = (
        "The quiet morning settled over the valley as the travelers "
        "made their way along the river, telling stories of the road."
    )
    df = spark.createDataFrame(
        [(1, code), (2, prose), (3, None)], "doc_id long, text string"
    )
    got = {r.id: r for r in code_detect(df, "doc_id", "text").collect()}
    assert got[1].is_code and not got[2].is_code
    assert got[1].code_score > got[2].code_score
    assert got[1].keyword_hits >= 4 and got[1].indent_ratio > 0.5
    # NULL text = empty doc: zero signals, not code
    assert got[3].n_chars == 0 and got[3].code_score == 0.0 and not got[3].is_code


def test_ivf_dials_scale_with_corpus_size():
    # The corpus-adaptive recipe is measurement-pinned (VERDICT r5 item
    # 4): the r4-measured (8, 6) floor at the small SFs, the r5-measured
    # (16, 10) scale dials at 100k vectors, sqrt growth beyond.
    from python_mapreduce_spark.llm.similarity import ivf_dials

    assert ivf_dials(100) == (8, 6)
    assert ivf_dials(1_000) == (8, 6)
    assert ivf_dials(10_000) == (8, 6)
    assert ivf_dials(100_000) == (16, 10)
    nlist_1m, nprobe_1m = ivf_dials(1_000_000)
    assert nlist_1m == 50 and 25 <= nprobe_1m <= 35
    # monotone non-decreasing in n
    last = (0, 0)
    for n in (10, 100, 10_000, 50_000, 100_000, 500_000, 1_000_000):
        d = ivf_dials(n)
        assert d >= last
        last = d


def test_blocklist_filter_counts_and_gate(spark):
    from python_mapreduce_spark.llm.text import blocklist_filter

    rows = [
        (1, "Visit the CASINO and win the jackpot now"),
        (2, "a perfectly clean document"),
        (3, "casino"),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.id: (r.hits, r.first_term, r.keep) for r in blocklist_filter(
        df, "doc_id", "text", ["jackpot", "casino"], max_hits_keep=0
    ).collect()}
    assert got[1] == (2, "casino", False)
    assert got[2] == (0, None, True)
    assert got[3] == (1, "casino", False)
    assert got[4] == (0, None, True)  # NULL text = empty doc, kept
    import pytest as _pytest

    with _pytest.raises(ValueError):
        blocklist_filter(df, "doc_id", "text", [])


def test_compression_ratio_matches_zlib(spark):
    import zlib

    from python_mapreduce_spark.llm.text import compression_ratio

    rows = [(1, "abab" * 200), (2, "the quick brown fox"), (3, None), (4, "")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.id: r for r in compression_ratio(df, "doc_id", "text").collect()}
    for i, t in rows:
        if not t:
            assert (got[i].n_bytes, got[i].c_bytes, got[i].ratio) == (0, 0, None)
            continue
        raw = t.encode("utf-8")
        c = len(zlib.compress(raw, 6))
        assert (got[i].n_bytes, got[i].c_bytes) == (len(raw), c)
        import math

        assert got[i].ratio == math.floor(c / len(raw) * 1e6 + 0.5) / 1e6
    # highly repetitive text compresses far below prose
    assert got[1].ratio < 0.1 < got[2].ratio


def test_hits_scores_match_python_replay(spark):
    # Tiny directed graph replayed sequentially with the exact rounding
    # schedule (L1 norm, 1e-6 half-up per step).
    import math

    from python_mapreduce_spark.llm.dedup import hits_scores

    edges = [("a", "x"), ("a", "y"), ("b", "x"), ("c", "y"), ("x", "y")]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r.node: (r.hub, r.auth) for r in hits_scores(df, "src", "dst", iterations=2).collect()}

    def dr(v):
        return math.floor(v * 1e6 + 0.5) / 1e6

    nodes = sorted({n for e in edges for n in e})
    hub = {n: 1.0 for n in nodes}
    auth = {}
    for _ in range(2):
        raw = {n: 0.0 for n in nodes}
        for s, d in edges:
            raw[d] = round(raw[d] + hub[s], 6)  # DECIMAL(18,6) sum is exact
        tot = sum(raw.values())
        auth = {n: dr(raw[n] / tot) for n in nodes}
        raw = {n: 0.0 for n in nodes}
        for s, d in edges:
            raw[s] = round(raw[s] + auth[d], 6)
        tot = sum(raw.values())
        hub = {n: dr(raw[n] / tot) for n in nodes}
    for n in nodes:
        assert got[n] == (hub[n], auth[n]), n
    # sanity: y is pointed at by the most/best hubs -> top authority
    assert max(nodes, key=lambda n: auth[n]) == "y"


def test_zipf_slope_perfect_power_law(spark):
    from python_mapreduce_spark.llm.text import zipf_slope

    # counts 24/12/8/6 = 24/rank -> exact slope -1, intercept ln 24
    text = " ".join(["aa"] * 24 + ["bb"] * 12 + ["cc"] * 8 + ["dd"] * 6)
    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    r = zipf_slope(docs, "text", top_n=100).collect()[0]
    assert r.n_terms == 4
    assert r.slope == -1.0
    assert abs(r.intercept - 3.1781) < 1e-4
    # empty corpus -> zero rows
    assert zipf_slope(docs.filter("1=0"), "text").count() == 0


def test_tfidf_top_terms_group_level_df(spark):
    from python_mapreduce_spark.llm.text import tfidf_top_terms

    docs = spark.createDataFrame(
        [("g1", "x x y"), ("g2", "y z")], "source string, text string"
    )
    got = {(r.source, r.rank): r for r in tfidf_top_terms(docs, "source", "text", k=2).collect()}
    import math

    r11 = got[("g1", 1)]
    assert r11.term == "x" and r11.tf == 2 and r11.n_groups_with_term == 1
    assert abs(r11.score - 2 * math.log(2)) < 1e-4
    assert got[("g1", 2)].term == "y" and got[("g1", 2)].score == 0.0
    assert got[("g2", 1)].term == "z"
    assert got[("g2", 2)].term == "y"


def test_heaps_law_fit_extremes(spark):
    from python_mapreduce_spark.llm.text import heaps_law

    # every doc introduces ONLY new words -> D(N) = N exactly: beta 1,
    # intercept 0 (ln K = 0). Words must be letter-only: the shared
    # tokenizer extracts [a-z]+ runs, so digits would split/merge them.
    alpha = "abcdefghijklmnopqrstuvwxyz"
    mk = lambda j: f"q{alpha[j // 26]}{alpha[j % 26]}"  # noqa: E731
    fresh = spark.createDataFrame(
        [(i, f"{mk(3 * i)} {mk(3 * i + 1)} {mk(3 * i + 2)}") for i in range(40)],
        "doc_id long, text string",
    )
    r = heaps_law(fresh, "doc_id", "text", buckets=8).collect()[0]
    assert r.beta == 1.0 and r.intercept == 0.0

    # every doc identical -> vocabulary saturates in bucket 0: beta 0,
    # intercept = ln(vocab size) = ln 3
    same = spark.createDataFrame(
        [(i, "alpha beta gamma") for i in range(40)], "doc_id long, text string"
    )
    r2 = heaps_law(same, "doc_id", "text", buckets=8).collect()[0]
    assert r2.beta == 0.0
    assert abs(r2.intercept - 1.0986) < 1e-4

    # empty corpus -> zero rows
    assert heaps_law(same.filter("1=0"), "doc_id", "text").count() == 0


def test_prefix_filter_is_lossless_and_prunes_candidates(spark, sf_dir):
    # The PPJoin prefix principle: any pair with Jaccard >= t shares a
    # token inside BOTH rarity-ordered prefixes, so prefix_filter=True
    # must emit the IDENTICAL pair set and scores — it only prunes the
    # candidate join. Measured x0.60 total wall-clock on the 10x corpus.
    from python_mapreduce_spark.llm.dedup import ngram_jaccard_pairs
    from python_mapreduce_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents")
    for t in (0.8, 0.5):
        base = {
            (r.id1, r.id2, r.jaccard)
            for r in ngram_jaccard_pairs(
                docs, "doc_id", "text", threshold=t, max_shingle_df=100
            ).collect()
        }
        pref = {
            (r.id1, r.id2, r.jaccard)
            for r in ngram_jaccard_pairs(
                docs, "doc_id", "text", threshold=t, max_shingle_df=100,
                prefix_filter=True,
            ).collect()
        }
        assert base == pref and len(base) > 0
        # positional filter (first-common-token overlap bound): prunes
        # candidates only — same pairs, same scores
        pos = {
            (r.id1, r.id2, r.jaccard)
            for r in ngram_jaccard_pairs(
                docs, "doc_id", "text", threshold=t, max_shingle_df=100,
                prefix_filter=True, positional_filter=True,
            ).collect()
        }
        assert base == pos
    # degenerate: empty corpus -> empty both ways
    empty = docs.filter("doc_id < 0")
    assert (
        ngram_jaccard_pairs(
            empty, "doc_id", "text", threshold=0.8, prefix_filter=True
        ).count()
        == 0
    )


def test_containment_prefix_filter_is_lossless(spark, sf_dir):
    # One-sided PPJoin (prefix x full postings): lossless for
    # max-direction containment >= t — the intersection of a qualifying
    # pair must hit the SMALLER side's prefix. (Kept as an option, not
    # the registry default: at t=0.6 candidates stay plentiful and the
    # verify re-join costs more than the generation saving — measured
    # 5.1s vs 13.1s at sf0.1.)
    from python_mapreduce_spark.llm.dedup import containment_pairs
    from python_mapreduce_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents")
    for t in (0.6, 0.9):
        base = {
            (r.src_id, r.dst_id, r.containment)
            for r in containment_pairs(
                docs, "doc_id", "text", threshold=t, max_shingle_df=100
            ).collect()
        }
        pref = {
            (r.src_id, r.dst_id, r.containment)
            for r in containment_pairs(
                docs, "doc_id", "text", threshold=t, max_shingle_df=100,
                prefix_filter=True,
            ).collect()
        }
        assert base == pref
        # per-orientation positional prune: same pairs, same scores
        pos = {
            (r.src_id, r.dst_id, r.containment)
            for r in containment_pairs(
                docs, "doc_id", "text", threshold=t, max_shingle_df=100,
                prefix_filter=True, positional_filter=True,
            ).collect()
        }
        assert base == pos
