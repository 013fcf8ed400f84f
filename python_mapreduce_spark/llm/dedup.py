"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash,
embedding-cosine near-dup.

Scale design (the point of each algorithm):
  * exact         — one hash shuffle on the normalized key; partial agg
                    dedupes map-side first.
  * ngram_jaccard — token-postings self-join: only documents SHARING a
                    shingle ever meet, so cost is sum of squared posting
                    lengths, not n^2. Hot shingles are the skew risk —
                    cap or drop stop-shingles in production.
  * minhash_lsh   — constant-size signatures (k hashes) per doc, then
                    banded bucket join: candidates ~ true near-dups, cost
                    independent of corpus pair count. THE 100 TB path.
  * simhash       — one 64-bit fingerprint per doc; hamming-ball lookup.
  * embedding     — cosine threshold pairs; all-pairs only for dimension-
                    sized inputs, LSH-bucketed otherwise (similarity.py).

All hashes are deterministic with literal seeds (xxhash64 for minhash
planes, md5 where the DuckDB oracle replays the digest) — rerunning at
any parallelism gives identical results.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from python_mapreduce_spark.functions.scalar import dround, tokenize
from python_mapreduce_spark.llm.text import shingle_sets


def exact_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    normalized: bool = True,
    key_mode: str = "hash",
) -> DataFrame:
    """Exact dedup: keep the smallest id per (normalized) text.

    The reference pattern would be "emit (text, id), reduce keeps min" —
    here it's one hash aggregation with map-side partial min.

    ``key_mode='hash'`` (default) groups on the md5 of the normalized
    text: a 100 TB shuffle moves 32-byte keys instead of kilobyte
    documents — the dominant cost of text-keyed dedup. Collisions would
    merge distinct texts, at md5's ~2^-64 scale-irrelevant odds; pass
    ``key_mode='text'`` for the literal-equality contract (and a
    text-sized shuffle).
    """
    if key_mode not in ("hash", "text"):
        raise ValueError(f"key_mode must be hash|text, got {key_mode!r}")
    safe = F.coalesce(F.col(text_col), F.lit(""))  # NULL text = empty doc
    norm = (
        F.trim(F.regexp_replace(F.lower(safe), r"\s+", " ")) if normalized else safe
    )
    key = F.md5(norm) if key_mode == "hash" else norm
    key_name = "text_fp" if key_mode == "hash" else "text_key"
    return (
        df.select(key.alias(key_name), F.col(id_col))
        .groupBy(key_name)
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )



def _prefix_verified_inter(
    posts, sizes, threshold: float, *, both_prefix: bool, positional: bool = False
):
    """Shared PPJoin machinery: rarity-ordered per-doc prefixes generate
    candidates, then candidate-bounded composite-key equi-joins against
    the FULL postings compute exact intersection counts.

    ``both_prefix=True`` is the symmetric Jaccard form (prefix x prefix,
    id1 < id2). ``both_prefix=False`` is the asymmetric containment
    form (prefix x full postings, canonicalized pairs): any pair with
    inter >= t * min(|A|, |B|) has an intersection token inside the
    SMALLER side's prefix, and that side appears as the prefix role in
    one orientation of the join — so the one-sided filter is lossless
    for max-direction containment >= t.

    Prefix length is derived from an EFFECTIVE threshold t - 5e-5, not
    t: the callers' output filter passes ``dround(score, 4) >= t``,
    which admits true scores down to t - 5e-5, and the prefix
    principle only covers true score >= the threshold used for plen.
    The 1e-9 slack inside the ceil also stops a float round-UP past an
    exact integer multiple of t*sz from shrinking the prefix below the
    lossless bound. Net: a token or two of extra prefix per doc, and
    the prefix path's emitted pairs are identical to the direct join's
    for every pair the output filter can pass.

    ``positional`` (symmetric form only) adds the PPJoin positional
    filter (Xiao et al. 2008): the globally-rarest common prefix token
    of a candidate pair IS the first common token of the two full
    rarity-ordered lists (any earlier common token would sit inside
    BOTH prefixes, contradicting minimality — tokens at smaller global
    rank occupy smaller positions on both sides), so the strong bound
    |A ∩ B| <= 1 + min(|A| - i, |B| - j) holds for its positions
    (i, j), and pairs whose bound cannot reach the Jaccard-equivalent
    overlap alpha = ceil(t/(1+t) * (|A|+|B|)) are pruned BEFORE the
    verification joins. Lossless by the same epsilon discipline (alpha
    derives from t - 5e-5); the candidate shuffle is the same groupBy,
    just carrying two ints.
    """
    from pyspark.sql.window import Window as _W  # noqa: PLC0415

    dfreq = posts.groupBy("shingle").agg(F.count(F.lit(1)).alias("__df"))
    ranked = posts.join(dfreq, "shingle").withColumn(
        "__rn",
        F.row_number().over(
            _W.partitionBy("id").orderBy(F.col("__df").asc(), F.col("shingle").asc())
        ),
    )
    eff = max(float(threshold) - 5e-5, 0.0)
    plen = (
        F.col("sz")
        - F.ceil(F.lit(eff) * F.col("sz") - F.lit(1e-9)).cast("long")
        + F.lit(1)
    )
    prefix = (
        ranked.join(sizes, "id")
        .filter(F.col("__rn") <= plen)
        .select("id", "shingle", "__rn", "sz")
    )
    if both_prefix:
        # Both self-join sides read this frame, and Catalyst does not
        # share subtrees: without a cut each side replays the df agg +
        # per-doc rarity window over the full postings. One lazy local
        # checkpoint makes the second side a cache read.
        prefix = prefix.localCheckpoint(eager=False)
    pa = prefix.alias("pa")
    if both_prefix and positional:
        pb = prefix.alias("pb")
        # i = min rn over common prefix tokens on BOTH sides is achieved
        # by the same (globally rarest) token — see docstring — which is
        # the true first common token, so 1 + min(szA - i, szB - j)
        # upper-bounds the full intersection.
        alpha = F.ceil(
            F.lit(eff / (1.0 + eff)) * (F.col("sz1") + F.col("sz2")) - F.lit(1e-9)
        ).cast("long")
        cand = (
            pa.join(
                pb,
                (F.col("pa.shingle") == F.col("pb.shingle"))
                & (F.col("pa.id") < F.col("pb.id")),
            )
            .groupBy(F.col("pa.id").alias("id1"), F.col("pb.id").alias("id2"))
            .agg(
                F.min(F.col("pa.__rn")).alias("__i"),
                F.min(F.col("pb.__rn")).alias("__j"),
                F.first(F.col("pa.sz")).alias("sz1"),
                F.first(F.col("pb.sz")).alias("sz2"),
            )
            .filter(
                F.lit(1)
                + F.least(F.col("sz1") - F.col("__i"), F.col("sz2") - F.col("__j"))
                >= alpha
            )
            .select("id1", "id2")
        )
    elif both_prefix:
        pb = prefix.alias("pb")
        cand = (
            pa.join(
                pb,
                (F.col("pa.shingle") == F.col("pb.shingle"))
                & (F.col("pa.id") < F.col("pb.id")),
            )
            .select(F.col("pa.id").alias("id1"), F.col("pb.id").alias("id2"))
            .distinct()
        )
    elif positional:
        # One-sided positional prune. Per ORIENTATION (A = prefix role),
        # the min-rn common token is again the true first common token:
        # any globally-earlier common token would sit before it in A's
        # list — hence inside A's prefix — and the pb side is the FULL
        # posting list, so it would be a join row, contradicting
        # minimality. Bound 1 + min(szA - i, szB - j) vs the
        # containment-equivalent overlap ceil(t * min(szA, szB)); a
        # pair survives if EITHER orientation's bound reaches it
        # (canonicalize + distinct after the filter).
        pb = ranked.join(sizes, "id").alias("pb")
        alpha_c = F.ceil(
            F.lit(eff) * F.least(F.col("__sza"), F.col("__szb")) - F.lit(1e-9)
        ).cast("long")
        cand = (
            pa.join(
                pb,
                (F.col("pa.shingle") == F.col("pb.shingle"))
                & (F.col("pa.id") != F.col("pb.id")),
            )
            .groupBy(F.col("pa.id").alias("__a"), F.col("pb.id").alias("__b"))
            .agg(
                F.min(F.col("pa.__rn")).alias("__i"),
                F.min(F.col("pb.__rn")).alias("__j"),
                F.first(F.col("pa.sz")).alias("__sza"),
                F.first(F.col("pb.sz")).alias("__szb"),
            )
            .filter(
                F.lit(1)
                + F.least(F.col("__sza") - F.col("__i"), F.col("__szb") - F.col("__j"))
                >= alpha_c
            )
            .select(
                F.least(F.col("__a"), F.col("__b")).alias("id1"),
                F.greatest(F.col("__a"), F.col("__b")).alias("id2"),
            )
            .distinct()
        )
    else:
        pb = posts.alias("pb")
        cand = (
            pa.join(
                pb,
                (F.col("pa.shingle") == F.col("pb.shingle"))
                & (F.col("pa.id") != F.col("pb.id")),
            )
            .select(
                F.least(F.col("pa.id"), F.col("pb.id")).alias("id1"),
                F.greatest(F.col("pa.id"), F.col("pb.id")).alias("id2"),
            )
            .distinct()
        )
    # exact verification, candidate-bounded: expand id1's full posting
    # list, then a composite (id2, shingle) equi-join screens to the
    # true intersection — never |A| x |B| per pair
    return (
        cand.join(posts.withColumnRenamed("id", "id1"), "id1")
        .join(posts.withColumnRenamed("id", "id2"), ["id2", "shingle"])
        .groupBy("id1", "id2")
        .agg(F.count(F.lit(1)).alias("inter"))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_df: int | None = None,
    prefix_filter: bool = False,
    positional_filter: bool = False,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via postings self-join.

    explode -> (shingle, id) postings -> self-join on shingle ->
    intersection counts -> |A∪B| = |A|+|B|-|A∩B|. Only co-shingled pairs
    are materialized.

    ``max_shingle_df`` is the 100 TB guard: a single stop-shingle shared
    by f docs contributes f^2/2 join rows, so one shingle in 1% of a
    100 TB corpus is quadratic on its own. With a cap, shingles whose
    document frequency exceeds it are dropped from the shingle universe
    BEFORE the self-join (set sizes are recomputed over the kept
    shingles, so Jaccard stays a true Jaccard over the reduced universe).
    The hot set has at most |postings|/cap members and Zipfian corpora
    put it in the hundreds, so it broadcasts; the df computation itself
    is a map-side-combined count per shingle, never a row shuffle.

    ``prefix_filter`` enables the PPJoin-family prefix filter
    (Chaudhuri/Ganti/Kaushik 2006; Xiao et al. 2008): order each
    document's shingles by a global canonical rarity order (document
    frequency ascending, shingle ascending) and self-join ONLY the
    first ``p = s - ceil(t*s) + 1`` shingles of each side — the prefix
    principle guarantees any pair with Jaccard >= t shares at least
    one token inside BOTH prefixes, and plen is derived from an
    epsilon-guarded effective threshold (see
    :func:`_prefix_verified_inter`) so the guarantee extends over the
    full dround(score, 4) >= t acceptance window: the output is
    identical to the direct join's, pair for pair and score for score
    (the pytest pins set equality; the registry oracle is unchanged).
    Candidates then pay exact verification via two candidate-bounded
    equi-joins against the full postings. At t = 0.8 the join touches
    ~20% of each posting list — and the RAREST 20%, so the quadratic
    df-squared term collapses far below the raw co-shingle join. Cost
    added: one df join + one per-doc window (partitioned by doc,
    WindowGroupLimit-style trim). The per-shingle df aggregation runs
    once in the final plan; when ``max_shingle_df`` is set the eager
    hot-set probe runs its own df pass at build time — a separate
    action whose exchange cannot be shared without caching
    shingle-universe-sized state, so the prefix path accepts one extra
    map-side-combined corpus pass rather than pinning table-scale
    frames in executor memory.

    ``positional_filter`` (requires ``prefix_filter``) additionally
    prunes candidates whose PPJoin positional upper bound cannot reach
    the Jaccard-equivalent overlap before verification — lossless (see
    :func:`_prefix_verified_inter`), measured in round 10
    (ROUND10_RESPONSES.md) and opt-in pending a win on this corpus.
    """
    sets_ = shingle_sets(df, id_col, text_col, n).filter(F.size("shingles") > 0)
    posts = sets_.select("id", F.explode("shingles").alias("shingle"))
    # Materialize the postings ONCE (lazy local checkpoint). The frame
    # is referenced throughout the plan — df agg, rarity ranking, both
    # self-join sides, the two verification joins, the size branches —
    # and Catalyst does not share subtrees, so without the cut every
    # reference re-scans the corpus and re-shingles it (the measured
    # sf0.1 plan held 20 parquet scans of `documents` for this one
    # query). One spill-able materialization + k cache reads replaces
    # k full corpus passes; the hot-set probe below rides the same
    # cache. MEMORY_AND_DISK, so an oversized postings frame degrades
    # to disk instead of OOM.
    posts = posts.localCheckpoint(eager=False)
    if max_shingle_df is not None:
        # The hot set is resolved ONCE, eagerly: it is small by
        # construction (<= postings/cap, and Zipfian corpora put it in
        # the hundreds), so it collects to the driver and each branch
        # re-applies it as a literal filter on the cached postings —
        # zero extra shuffles per branch. If an adversarial corpus ever
        # exceeds the collect guard, fall back to the plan-side
        # broadcast anti-join (correct at any hot-set size, just not
        # free).
        hot_limit = 100_000
        hot_df = (
            posts.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_shingle_df)
            .select("shingle")
        )
        hot_rows = hot_df.limit(hot_limit + 1).collect()
        if len(hot_rows) > hot_limit:
            posts = posts.join(F.broadcast(hot_df), "shingle", "left_anti")
        elif hot_rows:
            posts = posts.filter(
                ~F.col("shingle").isin([r["shingle"] for r in hot_rows])
            )
        sizes = posts.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    else:
        sizes = posts.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    # Doc-count-sized and consumed by up to three joins (prefix sizing
    # + both ends of the final size join): one tiny materialization
    # replaces repeated postings-wide aggregations.
    sizes = sizes.localCheckpoint(eager=False)
    if prefix_filter:
        inter = _prefix_verified_inter(
            posts, sizes, threshold, both_prefix=True, positional=positional_filter
        )
    else:
        a, b = posts.alias("a"), posts.alias("b")
        inter = (
            a.join(
                b,
                (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.id") < F.col("b.id")),
            )
            .groupBy(F.col("a.id").alias("id1"), F.col("b.id").alias("id2"))
            .agg(F.count(F.lit(1)).alias("inter"))
        )
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    return (
        inter.join(sa, F.col("id1") == F.col("sa.id"))
        .join(sb, F.col("id2") == F.col("sb.id"))
        .select(
            "id1",
            "id2",
            dround(
                F.col("inter") / (F.col("sa.sz") + F.col("sb.sz") - F.col("inter")), 4
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def crossdoc_dup_coverage(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 5,
    min_docs: int = 2,
) -> DataFrame:
    """Per-document CROSS-document duplicate-text coverage: the fraction
    of a document's word n-gram instances whose n-gram also occurs in at
    least ``min_docs`` distinct documents — the exact-substring dedup
    signal of Lee et al. 2022 ("Deduplicating Training Data Makes
    Language Models Better"), which drives span-level removal and
    boilerplate detection; :func:`repetition_stats` is its INTRA-document
    sibling. Long grams (default 5) make background collisions rare, so
    high coverage means genuinely shared text. Beyond the reference
    surface (SURVEY.md §2.2 north-star extensions).

    Plan shape for 100 TB: grams are extracted with the one-regex-pass
    documented in :func:`~python_mapreduce_spark.llm.text.shingle_sets`
    (non-deduplicated — instances are the denominator) and immediately
    narrowed to 32-hex md5 keys, so the gram-keyed shuffle carries
    16-byte digests instead of raw text. The raw posting stream is
    collapsed to per-(doc, gram) instance counts in ONE pass, and that
    small post-agg frame is lazily localCheckpoint'ed because BOTH the
    gram-level document-frequency branch and the join-back branch
    consume it — without the cut Catalyst re-runs the regex explode (the
    expensive stage) once per consumer (the tfidf_topk finding; pinned
    by tests/test_sinks_and_plans.py). Then: one gram-keyed aggregation,
    one gram-keyed equi-join, one doc-keyed aggregation — nothing is
    ever all-pairs, and hot grams cost fan-out linear in their instance
    count (aggregated, not self-joined).
    """
    token, sep = "[a-z]+", " "
    if n == 1:
        grams = tokenize(text_col)
    else:
        window = sep.join([token] * n)
        pattern = f"(?=({window})){token}{sep}"
        grams = F.regexp_extract_all(
            F.array_join(tokenize(text_col), sep), F.lit(pattern), F.lit(1)
        )
    posts = df.select(
        F.col(id_col).alias("id"), F.explode_outer(grams).alias("__g")
    ).select("id", F.md5("__g").alias("gk"))
    # (id, gk) instance counts; empty docs survive as a (id, NULL) row.
    ig = posts.groupBy("id", "gk").agg(F.count(F.lit(1)).alias("__cnt"))
    ig = ig.localCheckpoint(eager=False)
    gram_docs = (
        ig.filter(F.col("gk").isNotNull())
        .groupBy("gk")
        # (id, gk) is unique post-agg, so row count IS the distinct-doc count
        .agg(F.count(F.lit(1)).alias("__nd"))
        .filter(F.col("__nd") >= min_docs)
        .select("gk", F.lit(1).alias("__dup"))
    )
    tagged = ig.join(gram_docs, "gk", "left")
    n_grams = F.sum(F.when(F.col("gk").isNotNull(), F.col("__cnt")).otherwise(0)).cast("long")
    n_dup = F.sum(F.when(F.col("__dup").isNotNull(), F.col("__cnt")).otherwise(0)).cast("long")
    return tagged.groupBy("id").agg(
        n_grams.alias("n_grams"),
        n_dup.alias("n_dup"),
        dround(n_dup / F.greatest(n_grams, F.lit(1)).cast("double"), 4).alias("dup_coverage"),
    )


def minhash_signatures(
    sets_: DataFrame, *, num_hashes: int = 32
) -> DataFrame:
    """(id, array of k minhashes) from (id, shingles).

    h_i(s) = xxhash64(i, s) — k independent deterministic hash functions;
    the signature is the per-doc min of each. Shaped as a NARROW plan:
    explode (shingle x hash-index) then a single min agg on (id, i),
    rather than k wide min-agg columns. Map-side partial min collapses
    the k-fold row expansion to k rows per doc before the shuffle, and
    the tiny generated agg loop stays comfortably JIT-compilable — the
    wide form's giant whole-stage-codegen method intermittently ran
    interpreted (10-50x slower) while the JIT queue was backed up.
    """
    posts = sets_.filter(F.size("shingles") > 0).select(
        "id", F.explode("shingles").alias("shingle")
    )
    expanded = posts.select(
        "id",
        F.explode(F.sequence(F.lit(0), F.lit(num_hashes - 1))).alias("i"),
        F.xxhash64("i", "shingle").alias("h"),
    )
    mins = expanded.groupBy("id", "i").agg(F.min("h").alias("mh"))
    return (
        mins.groupBy("id")
        .agg(F.array_sort(F.collect_list(F.struct("i", "mh"))).alias("s"))
        .select("id", F.transform("s", lambda x: x["mh"]).alias("sig"))
    )


def band_keys(
    signatures: DataFrame, *, bands: int = 8, rows: int = 4
) -> DataFrame:
    """(id, band, bkey) banded LSH keys from (id, sig) — the join/index
    representation of a MinHash signature. Band key = xxhash64(band_id,
    slice of signature): two docs share a (band, bkey) iff they agree on
    every row of that band. This is also the dedup STATE format:
    ``bands`` longs per doc, independent of document size.

    One generator (explode the int band ids) feeds one key expression, so
    the plan size does not depend on ``bands``. The band id stays an
    ``int`` and the sliced string is unchanged, so the keys are
    bit-identical to hashing ``lit(band)`` per band — persisted state
    stays valid.
    """
    per_band = signatures.select(
        "id", "sig", F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band")
    )
    band_slice = F.slice("sig", F.col("band") * rows + 1, rows)
    return per_band.select(
        "id", "band", F.xxhash64("band", F.concat_ws(",", band_slice)).alias("bkey")
    )


def lsh_candidate_pairs(
    signatures: DataFrame, *, bands: int = 8, rows: int = 4
) -> DataFrame:
    """Banded LSH: docs agreeing on ALL rows of any band become a pair.

    Pairs emerge from a self-join on (band, key) — the shuffle groups
    only probable near-dups together. P(candidate) = 1 - (1 - j^rows)^bands.
    """
    banded = band_keys(signatures, bands=bands, rows=rows)
    l, r = banded.alias("l"), banded.alias("r")
    return (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bkey") == F.col("r.bkey"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(F.col("l.id").alias("id1"), F.col("r.id").alias("id2"))
        .distinct()
    )


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    rows: int = 4,
    threshold: float = 0.8,
) -> DataFrame:
    """MinHash-LSH candidates, then exact-Jaccard verification.

    Output equals the exact pair set wherever LSH recall holds (near 1
    for j >= threshold with these defaults); cost scales with candidates,
    not corpus pairs.
    """
    # Materialize the shingle pass ONCE (lazy local checkpoint): the
    # frame feeds the signature pipeline AND both exact-verify join
    # sides, and Catalyst does not share subtrees — uncut, each
    # consumer re-scans the corpus and re-runs the shingle regex (the
    # dominant per-pass cost). One spill-able materialization + two
    # cache reads replaces three full corpus passes.
    sets_ = shingle_sets(df, id_col, text_col, n).localCheckpoint(eager=False)
    cand = lsh_candidate_pairs(
        minhash_signatures(sets_, num_hashes=num_hashes), bands=bands, rows=rows
    )
    sa, sb = sets_.alias("sa"), sets_.alias("sb")
    return (
        cand.join(sa, F.col("id1") == F.col("sa.id"))
        .join(sb, F.col("id2") == F.col("sb.id"))
        .select(
            "id1",
            "id2",
            dround(
                F.size(F.array_intersect("sa.shingles", "sb.shingles"))
                / F.size(F.array_union("sa.shingles", "sb.shingles")),
                4,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def connected_components(
    edges: DataFrame,
    src: str = "id1",
    dst: str = "id2",
    *,
    max_iter: int = 25,
) -> DataFrame:
    """Connected components over a pair graph via min-label propagation —
    the clustering step that turns near-dup PAIRS into dedup GROUPS
    (keep one document per component).

    Each iteration every node adopts the smallest label among itself and
    its neighbors; convergence takes O(component diameter) rounds, and
    near-dup graphs are shallow (chains of copies), so a handful of
    joins. Per round: one shuffle join + one min-agg, both map-side
    combined; labels are localCheckpoint'ed to truncate lineage (an
    iterative driver loop over lazy plans otherwise re-executes every
    prior round each time). Deterministic: min() over ids. Each round's
    jobs carry ``connected_components round <i>`` as their call site
    (stage names in the event log and UI).

    Returns (node, cluster) where cluster = smallest node id in the
    component. Raises if not converged within ``max_iter`` rounds
    (diameter bound, not data size — 25 handles any realistic dup
    graph), naming the rounds run and the labels still changing.
    """
    # checkpoint sym too: otherwise every round's neighbor join re-runs
    # the full upstream edge plan (for near-dup graphs that is the whole
    # MinHash LSH pipeline). Both directions come from one explode rather
    # than a union, so that plan is optimized and executed once, not twice.
    sym = (
        edges.select(
            F.explode(
                F.array(
                    F.struct(F.col(src).alias("a"), F.col(dst).alias("b")),
                    F.struct(F.col(dst).alias("a"), F.col(src).alias("b")),
                )
            ).alias("e")
        )
        .select("e.a", "e.b")
        .localCheckpoint(eager=True)
    )
    # Seeding the labels with one propagation step (one agg, no checkpoint)
    # saves a round, and observing each round's change count on its own
    # eager checkpoint job saves the separate probe job every round paid.
    labels = sym.groupBy("a").agg(
        F.least(F.col("a"), F.min("b")).alias("label")
    ).withColumnRenamed("a", "node")
    sc = edges.sparkSession.sparkContext
    caller_site = sc.getLocalProperty("callSite.short")
    changed = 0
    try:
        for rnd in range(1, max_iter + 1):
            sc.setLocalProperty("callSite.short", f"connected_components round {rnd}")
            nbr_min = (
                sym.join(labels, sym.a == labels.node)
                .groupBy("b")
                .agg(F.min("label").alias("nbr_label"))
            )
            obs = Observation()
            labels = (
                labels.join(nbr_min, labels.node == nbr_min.b, "left")
                .select(
                    "node",
                    F.col("label").alias("__old"),
                    F.least(
                        F.col("label"), F.coalesce("nbr_label", F.col("label"))
                    ).alias("label"),
                )
                # min-propagation is monotone: changed <=> new < old. A
                # retried task can only over-count, and only changed > 0
                # is tested, so retries cannot flip the decision.
                .observe(obs, F.count(F.when(F.col("label") < F.col("__old"), 1)).alias("n"))
                .drop("__old")
                .localCheckpoint(eager=True)
            )
            changed = obs.get["n"]
            if changed == 0:
                return labels.select("node", F.col("label").alias("cluster"))
    finally:
        sc.setLocalProperty("callSite.short", caller_site)
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds: "
        f"{changed} labels still changed in the last round"
    )


def simhash(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit SimHash fingerprint per document.

    Per token: 64 hash bits vote +1/-1 per position; fingerprint bit k
    is the sign of the vote sum. The token hash is md5-derived — two
    32-bit halves parsed from the hex digest — rather than xxhash64:
    md5 exists with identical semantics in every engine, so the WHOLE
    fingerprint (not just its hamming properties) is replayable in the
    DuckDB oracle (VERDICT r4 item 7); the vote loop itself is pure
    integer codegen either way. Bit k < 32 comes from the low half,
    k >= 32 from the high half. Shaped as a NARROW plan (explode the
    64 bit positions, one sum agg on (id, k), then one sum assembling
    the fingerprint) instead of 64 wide agg columns — same values, but
    the generated agg loop stays small enough to always JIT. Bit 63
    falls out of Java's shift wrap: shiftleft(1L, 63) IS the
    two's-complement value of the sign bit.
    """
    from python_mapreduce_spark.functions.scalar import tokenize

    md5c = F.md5("tok")
    toks = (
        df.select(F.col(id_col).alias("id"), F.explode(tokenize(text_col)).alias("tok"))
        .withColumn("hi", F.conv(F.substring(md5c, 1, 8), 16, 10).cast("long"))
        .withColumn("lo", F.conv(F.substring(md5c, 9, 8), 16, 10).cast("long"))
    )
    votes = (
        toks.select(
            "id",
            F.explode(F.sequence(F.lit(0), F.lit(63))).alias("k"),
            "hi",
            "lo",
        )
        .groupBy("id", "k")
        .agg(
            F.sum(
                F.when(
                    F.expr(
                        "(CASE WHEN k < 32 THEN shiftright(lo, k)"
                        " ELSE shiftright(hi, k - 32) END & 1) = 1"
                    ),
                    1,
                ).otherwise(-1)
            ).alias("v")
        )
    )
    bit = F.when(F.col("v") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
    term = bit * F.expr("shiftleft(1L, k)")
    return votes.groupBy("id").agg(F.sum(term).alias("simhash64"))


def embedding_dedup_pairs(
    emb: DataFrame, id_col: str, vec_col: str, *, threshold: float = 0.4
) -> DataFrame:
    """Embedding-cosine near-dup pairs above a threshold — ALL-PAIRS form.

    Correct for dimension-sized inputs and the small-input oracle for the
    LSH-bucketed form below; at corpus scale use
    ``embedding_dedup_pairs_lsh``. Scoring via the vectorized pandas
    cosine (see similarity.py: the JVM HOF fold is interpreted per
    element, ~50x slower).
    """
    from python_mapreduce_spark.llm.similarity import cos_pair_udf

    a = emb.select(F.col(id_col).alias("id1"), F.col(vec_col).alias("v1"))
    b = emb.select(F.col(id_col).alias("id2"), F.col(vec_col).alias("v2"))
    return (
        a.join(b, F.col("id1") < F.col("id2"))
        .select("id1", "id2", cos_pair_udf()(F.col("v1"), F.col("v2")).alias("cos"))
        .filter(F.col("cos") >= threshold)
    )


# Clamp bounds for the per-task BLAS sims block (chunk_rows x n float64).
# 32 MB is both the provably-safe floor for tightly-provisioned
# executors (the r6-audited worst case) AND the measured sweet spot on
# this 32-slot host (see _sims_chunk_bytes); 256 MB is the hard cap for
# deployments that dial the budget up, keeping the 8 GB/task cliff that
# motivated chunking closed at any setting.
_SIMS_CHUNK_FLOOR = 32 * 1024 * 1024
_SIMS_CHUNK_CAP = 256 * 1024 * 1024
SIMS_CHUNK_CONF = "spark.python_mapreduce_spark.matmul.chunkBytes"


def _sims_chunk_bytes(spark) -> int:
    """Per-task budget for the sims block. DEFAULT = the 32 MB floor,
    everywhere — measured, not guessed:

      * large corpora are memory-bandwidth-bound at budget x concurrent
        slots, and bigger blocks LOSE: at 100k vectors the blocked
        matmul ran 248 s at 32 MB vs 413 s at 256 MB, and the grouped
        precluster regime 43 s vs ~55 s (tools/bench_scale.py, r8);
      * at small corpora the chunk size is irrelevant — 32 MB already
        holds more rows than an Arrow batch (4M doubles / n rows >=
        the 100k-record batch cap for any n <= 40), so one BLAS call
        per batch either way.

    The dial remains for deployments whose slot/bandwidth ratio differs
    (few slots, huge vector caches): the ``SIMS_CHUNK_CONF`` session
    conf wins if set, else ``spark.executor.pyspark.memory``/4 when the
    deployment caps Python worker memory (a cluster that bothers to set
    it means it). Always clamped to [32 MB, 256 MB].
    """
    raw = spark.conf.get(SIMS_CHUNK_CONF, None)
    if raw is None:
        pymem = spark.conf.get("spark.executor.pyspark.memory", None)
        if pymem:
            units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
            s = pymem.strip().lower().removesuffix("b")
            mult = units.get(s[-1:], 1)
            digits = s[:-1] if s[-1:] in units else s
            try:
                budget = int(float(digits)) * mult // 4
            except ValueError:  # unparseable -> conservative floor
                budget = _SIMS_CHUNK_FLOOR
        else:
            budget = _SIMS_CHUNK_FLOOR
    else:
        budget = int(raw)
    return max(_SIMS_CHUNK_FLOOR, min(_SIMS_CHUNK_CAP, budget))


def embedding_dedup_pairs_matmul(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    threshold: float = 0.4,
    chunk_bytes: int | None = None,
) -> DataFrame:
    """All-pairs cosine dedup via broadcast matmul — the fast form when
    the corpus unit matrix fits in executor memory (n x dim float64;
    1M x 64 = 0.5 GB).

    The corpus matrix is collected once and closed over (Spark ships it
    with the task closure); the corpus then streams through mapInPandas
    and each Arrow batch scores against the whole matrix with ONE BLAS
    matmul, emitting only qualifying (id1 < id2) pairs. No join, no
    shuffle, no per-pair vector transfer — the per-pair-UDF form moves
    2 x dim doubles through Arrow per candidate, which is the dominant
    cost (measured 30x slower than this at sf0.1). Same pattern as
    similarity.cosine_topk; for corpora beyond broadcast size use
    embedding_dedup_pairs_lsh.
    """
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    from python_mapreduce_spark.llm.similarity import _round6, _unit_rows

    pdf = emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v")).toPandas()
    if pdf.empty:  # empty corpus -> no pairs, not a vstack crash
        return emb.sparkSession.createDataFrame([], "id1 long, id2 long, cos double")
    ids = pdf["id"].to_numpy()
    mat_t = _unit_rows(pdf["v"].values).T  # dim x n
    # Bound the per-task sims matrix: an Arrow batch of 10k rows against
    # a 100k-row corpus would otherwise hold a 10k x 100k float64 block
    # (8 GB) PER TASK — the matmul regime's hidden memory cliff. The
    # budget defaults to the measured-best 32 MB floor (SIMS_CHUNK_CONF
    # or executor.pyspark.memory/4 to override, clamped to 256 MB — see
    # _sims_chunk_bytes for the measurements), keeping the peak
    # footprint flat at any corpus size the broadcast budget admits.
    budget = chunk_bytes if chunk_bytes is not None else _sims_chunk_bytes(
        emb.sparkSession
    )
    rows_per_chunk = max(1, budget // (8 * max(len(ids), 1)))

    def score(batches):
        for b in batches:
            for lo in range(0, len(b), rows_per_chunk):
                chunk = b.iloc[lo : lo + rows_per_chunk]
                bi = chunk["id"].to_numpy()
                sims = _round6(_unit_rows(chunk["v"].values) @ mat_t)  # chunk x n
                mask = (sims >= threshold) & (bi[:, None] < ids[None, :])
                r, c = np.nonzero(mask)
                yield pd.DataFrame({"id1": bi[r], "id2": ids[c], "cos": sims[r, c]})

    return emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v")).mapInPandas(
        score, "id1 long, id2 long, cos double"
    )


def embedding_dedup_pairs_lsh(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    threshold: float = 0.4,
    bands: int = 24,
    rows_per_band: int = 2,
    dim: int = 64,
    seed: int = 42,
    verify_broadcast_budget_bytes: int = 512 * 1024 * 1024,
) -> DataFrame:
    """Embedding-cosine near-dup pairs via banded-LSH candidates + exact
    verification — the corpus-scale path.

    Banded hyperplane signatures meet through an equi-join on (band,
    key) — never a nested loop — then only candidate pairs are scored,
    so precision is exact and recall is the banding dial (per-pair miss
    ~5e-6 at cos 0.4 with 24x2; see banded_lsh_candidate_pairs). On a
    corpus with real near-dup structure (bimodal cosine) candidate count
    tracks the true-dup count; on an adversarial corpus whose pair
    cosines sit at the random background the candidate set degrades
    toward all pairs — the cost floor is the data's, not the plan's.

    Verification has two physical forms with identical semantics (same
    ``_unit_rows`` + row-wise dot + ``_round6`` arithmetic):

      * corpus unit matrix fits ``verify_broadcast_budget_bytes``
        (n x dim x 8) — the matrix is closed over once and each Arrow
        batch of candidate (id1, id2) pairs scores by positional lookup;
        only 16-byte id pairs ever move. On the adversarial corpus,
        where candidates approach all-pairs, the old per-pair vector
        join shipped 2 x dim doubles per candidate (~2 GB at 2k vectors
        x 2M candidates, measured 11.8 s at sf0.1 — the r7 bench
        regression); this form cuts that to ~32 MB.
      * beyond-broadcast corpus — candidates equi-join each side's
        vector (two keyed shuffles) and score through the Arrow-batched
        pair UDF; nothing is ever collected.
    """
    from python_mapreduce_spark.llm.similarity import (
        _round6,
        _unit_rows,
        banded_lsh_candidate_pairs,
        cos_pair_udf,
    )

    cand = banded_lsh_candidate_pairs(
        emb, id_col, vec_col, bands=bands, rows_per_band=rows_per_band, dim=dim, seed=seed
    )

    first = emb.select(F.size(vec_col).alias("d")).filter(F.col("d") > 0).first()
    vdim = int(first["d"]) if first is not None else 0
    if 0 < emb.count() * vdim * 8 <= verify_broadcast_budget_bytes:
        import numpy as np  # noqa: PLC0415
        import pandas as pd  # noqa: PLC0415

        pdf = (
            emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
            .filter(F.col("v").isNotNull())
            .toPandas()
        )
        unit = _unit_rows(pdf["v"].values)
        pos = pd.Series(np.arange(len(pdf)), index=pdf["id"].to_numpy())

        def score(batches):
            for b in batches:
                if b.empty:
                    continue
                i1 = pos.reindex(b["id1"].to_numpy()).to_numpy()
                i2 = pos.reindex(b["id2"].to_numpy()).to_numpy()
                ok = ~(np.isnan(i1) | np.isnan(i2))  # defensive: unknown ids
                i1, i2 = i1[ok].astype("int64"), i2[ok].astype("int64")
                cos = _round6((unit[i1] * unit[i2]).sum(axis=1))
                m = cos >= threshold
                yield pd.DataFrame(
                    {
                        "id1": b["id1"].to_numpy()[ok][m],
                        "id2": b["id2"].to_numpy()[ok][m],
                        "cos": cos[m],
                    }
                )

        return cand.mapInPandas(score, "id1 long, id2 long, cos double")

    a = emb.select(F.col(id_col).alias("id1"), F.col(vec_col).alias("v1"))
    b = emb.select(F.col(id_col).alias("id2"), F.col(vec_col).alias("v2"))
    return (
        cand.join(a, "id1")
        .join(b, "id2")
        .select("id1", "id2", cos_pair_udf()(F.col("v1"), F.col("v2")).alias("cos"))
        .filter(F.col("cos") >= threshold)
    )


def embedding_dedup_pairs_precluster(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    threshold: float = 0.4,
    nlist: int | None = None,
    probes: int = 3,
    iters: int = 2,
) -> DataFrame:
    """Embedding-cosine near-dup pairs via IVF PRE-CLUSTERING — the
    bounded fallback for corpora where banded-LSH candidates degrade
    toward all-pairs (pair cosines at the random background, VERDICT r6
    item 3).

    Recall vs the exact all-pairs set, measured on the real embeddings
    tables at threshold 0.4 (precision is ALWAYS total — emitted pairs
    carry exact cosines): probes=2 -> 0.739-0.848, probes=3 (default)
    -> 0.948-1.000, probes=4 -> 0.997-1.000 across sf0.001/0.01/0.1;
    the registry's ``q_dedup_embedding_precluster_eval`` twin pins the
    0.9 floor at the default dials.

    Each vector is assigned to its ``probes`` nearest IVF centroids
    (trained by :func:`~python_mapreduce_spark.llm.similarity.ivf_assign`
    — deterministic xxhash64 init + Lloyd passes that never shuffle the
    corpus); pairs are scored EXACTLY, but only within shared clusters,
    via one chunked BLAS matmul per cluster group. Cost is hard-bounded
    at ~probes^2/nlist of all-pairs regardless of the cosine
    distribution — the property banded LSH cannot give on adversarial
    corpora — in exchange for a recall dial: pairs whose probe sets are
    disjoint are missed (near-dup pairs nearly always share their
    nearest centroid; ``probes=2`` covers boundary-straddling pairs).
    Results are a subset of the exact all-pairs output with exact
    cosines, so precision is total.
    """
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    from python_mapreduce_spark.llm.similarity import (
        _round6,
        _unit_rows,
        ivf_assign,
        ivf_dials,
    )

    if emb.isEmpty():
        return emb.sparkSession.createDataFrame([], "id1 long, id2 long, cos double")
    if nlist is None:
        nlist = ivf_dials(emb.count())[0]
    probes = max(1, min(int(probes), int(nlist)))
    # train centroids only; probe assignment below is top-`probes`, not
    # the single-cluster tagging ivf_assign's final pass emits
    _, cents = ivf_assign(emb, id_col, vec_col, nlist=nlist, iters=iters)
    c_t = cents.T

    def probe_assign(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            sims = _unit_rows(pdf["v"].values) @ c_t  # nb x nlist
            # stable full argsort for deterministic probe sets under ties
            top = np.argsort(-sims, axis=1, kind="stable")[:, :probes]
            yield pd.DataFrame(
                {
                    "id": pdf["id"].to_numpy().repeat(probes),
                    "v": pdf["v"].to_numpy().repeat(probes),
                    "cluster": top.ravel().astype("int32"),
                }
            )

    src = emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    tagged = src.mapInPandas(probe_assign, "id long, v array<float>, cluster int")
    # The floor budget: every executor slot runs a cluster group
    # concurrently, so the aggregate sims traffic is budget x slots —
    # measured at 100k vectors (tools/bench_scale.py --guard-only):
    # 43 s at 32 MB vs ~55 s at 256 MB (8 GB aggregate,
    # memory-bandwidth-bound). Same conclusion as the matmul regime.
    sims_budget = _SIMS_CHUNK_FLOOR

    def group_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame({"id1": [], "id2": [], "cos": []}).astype(
                {"id1": "int64", "id2": "int64", "cos": "float64"}
            )
        ids = pdf["id"].to_numpy()
        mat_t = _unit_rows(pdf["v"].values).T
        chunk = max(1, sims_budget // (8 * len(ids)))
        outs = []
        for lo in range(0, len(ids), chunk):
            bi = ids[lo : lo + chunk]
            sims = _round6(_unit_rows(pdf["v"].values[lo : lo + chunk]) @ mat_t)
            mask = (sims >= threshold) & (bi[:, None] < ids[None, :])
            r, c = np.nonzero(mask)
            outs.append(
                pd.DataFrame({"id1": bi[r], "id2": ids[c], "cos": sims[r, c]})
            )
        return pd.concat(outs, ignore_index=True)

    return (
        tagged.groupBy("cluster")
        .applyInPandas(group_pairs, "id1 long, id2 long, cos double")
        # a pair sharing several probe clusters scores identically in
        # each — distinct() is exact dedup, not tolerance collapsing
        .distinct()
    )


def embedding_dedup(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    threshold: float = 0.4,
    broadcast_budget_bytes: int = 512 * 1024 * 1024,
    corpus_bytes: int | None = None,
    candidate_budget: int | None = None,
    on_budget: str = "raise",
    **lsh_kwargs,
) -> DataFrame:
    """Embedding-cosine near-dup pairs with regime AUTO-DISPATCH: pick
    broadcast-matmul when the corpus unit matrix fits the broadcast
    budget, banded-LSH beyond it.

    The two regimes produce the same pairs (LSH recall miss ~5e-6 at the
    default dials) but have opposite cost shapes: matmul collects the
    corpus to the driver (rows x dim x 8 bytes as float64) and never
    shuffles; banded LSH never collects anything and scales to corpora
    no single executor can hold. A 100 TB caller must not be able to
    accidentally take the collect-the-corpus path, so the dispatcher
    estimates the matrix size with one metadata-cheap count + one
    ``size()`` probe and compares it to ``broadcast_budget_bytes``
    (default 512 MB — half the typical executor-memory headroom). Pass
    ``corpus_bytes`` to skip the probe when the size is already known.

    The LSH regime carries a CANDIDATE-BUDGET guard (VERDICT r6 item 3):
    on a corpus whose pair cosines sit at the random background, banded
    candidates degrade toward all-pairs and the verify stage becomes an
    unbounded quadratic run (measured >45 min at 100k random vectors).
    Before joining, the dispatcher computes the linear-cost bucket bound
    :func:`~python_mapreduce_spark.llm.similarity.lsh_candidate_estimate`
    and, past ``candidate_budget`` (default ``max(20M, 200 * n)`` — the
    point where verify cost dwarfs the scan), either raises with the
    measured estimate (``on_budget='raise'``, the default: an explicit
    error beats a silent week-long job) or auto-routes to the
    hard-bounded :func:`embedding_dedup_pairs_precluster` path
    (``on_budget='precluster'`` — exact cosines, recall dial documented
    there).
    """
    if on_budget not in ("raise", "precluster"):
        raise ValueError(f"on_budget must be 'raise' or 'precluster': {on_budget!r}")
    n: int | None = None
    if corpus_bytes is None:
        n = emb.count()
        # size probe skips null vectors (size(NULL) is -1/NULL and would
        # poison the estimate — a negative corpus_bytes mis-dispatches a
        # huge corpus onto the collect path); an all-null corpus falls
        # through to dim 0 and the safe (never-collect) LSH regime.
        first = (
            emb.select(F.size(vec_col).alias("d")).filter(F.col("d") > 0).first()
        )
        dim = int(first["d"]) if first is not None else 0
        corpus_bytes = n * dim * 8
    if 0 < corpus_bytes <= broadcast_budget_bytes:
        return embedding_dedup_pairs_matmul(
            emb, id_col, vec_col, threshold=threshold
        )
    from python_mapreduce_spark.llm.similarity import lsh_candidate_estimate  # noqa: PLC0415

    if n is None:
        n = emb.count()
    if candidate_budget is None:
        candidate_budget = max(20_000_000, 200 * n)
    est = lsh_candidate_estimate(emb, id_col, vec_col, **lsh_kwargs)
    if est > candidate_budget:
        if on_budget == "precluster":
            return embedding_dedup_pairs_precluster(
                emb, id_col, vec_col, threshold=threshold
            )
        raise ValueError(
            f"banded-LSH candidate estimate {est:,} exceeds the budget "
            f"{candidate_budget:,} for {n:,} vectors — the corpus's pair "
            "cosines sit near the random background, so LSH verify would "
            "degrade toward an all-pairs run. Re-run with "
            "on_budget='precluster' (hard-bounded IVF pre-cluster path), "
            "raise candidate_budget explicitly, or use the top-k ANN "
            "paths in llm.similarity for nearest-neighbor workloads."
        )
    return embedding_dedup_pairs_lsh(
        emb, id_col, vec_col, threshold=threshold, **lsh_kwargs
    )


def semantic_dedup_prune(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    cluster_col: str,
    *,
    threshold: float = 0.4,
) -> DataFrame:
    """SemDeDup-style semantic prune (Abbas et al. 2023, "SemDeDup:
    Data-efficient learning at web-scale through semantic
    deduplication"): within each pre-assigned cluster, drop every
    vector that has ANY smaller-id partner at cosine >= ``threshold``
    — keeping exactly the smallest id of each within-cluster similarity
    clique. The cluster assignment (k-means in the paper; nearest label
    centroid in the registry query via
    similarity.nearest_centroid_assign) confines the quadratic
    comparison to cluster-sized blocks, which is the whole point of the
    algorithm: clusters bound the pair space, so cost is
    sum(|cluster|^2), not |corpus|^2.

    Returns one row per vector: (id, cluster, keep). The drop rule is
    "smaller-id partner", NOT "kept smaller-id partner" — a chain
    a~b~c (a!~c) keeps only a. Deterministic (min-id, cosines rounded
    to 1e-6 by the pandas scorer) and order/partitioning-independent.

    Plan: one equi-join on the cluster key (co-partitioned shuffle) with
    the Arrow-batched pairwise cosine on candidates only, a distinct on
    dropped ids, and a left anti-style flag join back — no all-pairs
    stage at any scale.
    """
    from python_mapreduce_spark.llm.similarity import cos_pair_udf  # noqa: PLC0415

    base = emb.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(cluster_col).alias("cluster"),
        F.col(vec_col).alias("v"),
    )
    # Consumed by both self-join sides AND the flag join-back (3 scans
    # uncut — Catalyst shares no subtrees), each replaying the caller's
    # whole upstream (centroid assignment + re-attach join in the
    # registry query). One cut materializes it once.
    base = base.localCheckpoint(eager=False)
    a = base.select(
        F.col("id").alias("id1"), F.col("cluster").alias("c1"), F.col("v").alias("v1")
    )
    b = base.select(
        F.col("id").alias("id2"), F.col("cluster").alias("c2"), F.col("v").alias("v2")
    )
    dropped = (
        a.join(b, (F.col("c1") == F.col("c2")) & (F.col("id1") < F.col("id2")))
        .select("id2", cos_pair_udf()(F.col("v1"), F.col("v2")).alias("cos"))
        .filter(F.col("cos") >= threshold)
        .select(F.col("id2").alias("id"))
        .distinct()
        .withColumn("__dropped", F.lit(True))
    )
    return base.join(dropped, "id", "left").select(
        "id", "cluster", F.col("__dropped").isNull().alias("keep")
    )


def leakage_safe_split(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    *,
    splits: Sequence[tuple[str, float]] = (("train", 0.8), ("val", 0.1), ("test", 0.1)),
    salt: str = "",
    threshold: float = 0.8,
    num_hashes: int = 32,
    bands: int = 16,
    rows: int = 2,
) -> DataFrame:
    """Cluster-aware train/val/test split: assign splits by hashing the
    near-dup CLUSTER representative instead of the document id, so a
    whole clique of near-duplicates always lands in the same split —
    the constructive fix for the leakage that ``q_split_leakage``
    audits (a test doc whose near-dup sits in train inflates eval).

    Pipeline: MinHash-LSH near-dup pairs (16x2 banding by default —
    candidate miss ~1e-7 at j >= ``threshold``) -> connected components
    (min-label propagation) -> representative = component label for
    clustered docs, own id for singletons -> the shared md5-bucket
    split rule (operators/relational.py::hash_split) applied to the
    representative. Deterministic, order/partitioning-independent, and
    stable under corpus growth EXCEPT when growth merges two clusters
    (then the merged clique moves together — which is the contract).

    Returns one row per document: (id, rep, split).
    """
    from python_mapreduce_spark.operators.relational import hash_split  # noqa: PLC0415

    pairs = minhash_dedup_pairs(
        docs, id_col, text_col,
        n=3, num_hashes=num_hashes, bands=bands, rows=rows, threshold=threshold,
    )
    comps = connected_components(pairs.select("id1", "id2"))
    reps = (
        docs.select(F.col(id_col).cast("long").alias("id"))
        .join(comps.withColumnRenamed("node", "id"), "id", "left")
        .select("id", F.coalesce("cluster", F.col("id")).alias("rep"))
    )
    return hash_split(reps, "rep", splits, salt=salt).select("id", "rep", "split")


def pagerank_fixed(
    edges: DataFrame,
    src: str,
    dst: str,
    *,
    iterations: int = 3,
    damping: float = 0.85,
    checkpoint_every: int = 2,
) -> DataFrame:
    """Fixed-iteration PageRank over an edge list — the iterative
    graph-propagation pattern (importance over a citation/link/derived
    graph) with DETERMINISTIC arithmetic so two engines agree bit-for-
    bit: per-node ranks round to 1e-6 after every iteration and
    neighbor contributions sum in DECIMAL(18,6) (exact, associative at
    any parallelism). A fixed small iteration count is the production
    norm for truncated propagation scores; convergence-looped variants
    follow :func:`connected_components`' checkpoint discipline.

    Dangling nodes (no out-edges) simply leak their rank mass, as in
    the simplest PageRank formulation — documented, and mirrored by the
    oracle. Per iteration: one out-degree-normalized contribution
    shuffle keyed by destination + one broadcast-joined base term; the
    edge list is localCheckpoint'ed so iteration N does not replay the
    upstream plan N times.

    ``checkpoint_every`` sets the rank-frame checkpoint cadence: 1
    materializes every iteration — the conservative loop discipline;
    N > 1 checkpoints every Nth iteration (never the last — the
    caller's action computes the shallow tail), trading a plan at most
    N rounds deep for fewer blocking driver round-trips. Values are
    identical at any cadence (every score rounds to 1e-6 per step);
    only the physical cut points move. Default 2, measured round 10
    (tools/exp_checkpoint_cadence.py, sf0.1 best-of-3): 5.09 -> 4.42 s
    here, 12-17% off every graph workload, decade probe flat —
    cadence 4 adds little and doubles plan depth.

    Returns (node, rank) over every node appearing as src or dst.
    """
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("d")).distinct()
    e = e.localCheckpoint(eager=True)
    nodes = (
        e.select(F.col("s").alias("node"))
        .unionByName(e.select(F.col("d").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = e.groupBy("s").agg(F.count(F.lit(1)).cast("double").alias("deg")).localCheckpoint(
        eager=True
    )  # joined every iteration; without the cut each round re-aggregates e
    n_nodes = nodes.agg(F.count(F.lit(1)).cast("double").alias("n"))  # 1 row
    base = 1.0  # ranks start at 1/n
    ranks = nodes.crossJoin(F.broadcast(n_nodes)).select(
        "node", dround(F.lit(base) / F.col("n"), 6).alias("rank")
    )
    cadence = max(1, int(checkpoint_every))
    for i in range(int(iterations)):
        contrib = (
            e.join(ranks.withColumnRenamed("node", "s"), "s")
            .join(deg, "s")
            .select(
                F.col("d").alias("node"),
                dround(F.col("rank") / F.col("deg"), 6)
                .cast("decimal(18,6)")
                .alias("__c"),
            )
            .groupBy("node")
            .agg(F.sum("__c").alias("__in"))
        )
        ranks = (
            nodes.join(contrib, "node", "left")
            .crossJoin(F.broadcast(n_nodes))
            .select(
                "node",
                dround(
                    F.lit(1.0 - damping) / F.col("n")
                    + F.lit(damping)
                    * F.coalesce(F.col("__in").cast("double"), F.lit(0.0)),
                    6,
                ).alias("rank"),
            )
        )
        if cadence == 1 or ((i + 1) % cadence == 0 and i + 1 < int(iterations)):
            ranks = ranks.localCheckpoint(eager=True)
    return ranks


def hits_scores(
    edges: DataFrame,
    src: str,
    dst: str,
    *,
    iterations: int = 3,
    checkpoint_every: int = 2,
) -> DataFrame:
    """Fixed-iteration HITS hubs-and-authorities over a directed edge
    list — the bipartite-flavored companion to :func:`pagerank_fixed`
    (a node is a good HUB when it points at good authorities, a good
    AUTHORITY when good hubs point at it; for a buyer->supplier or
    doc->reference graph the two sides answer different curation
    questions than one PageRank number). Emits (node, hub, auth) for
    every node on either edge side.

    Determinism discipline = :func:`pagerank_fixed`: scores are
    L1-normalized each half-step (sum-norm instead of the textbook L2 —
    same fixpoint ranking, but the norm stays a DECIMAL(18,6) sum
    instead of a float sqrt), every score rounds to 1e-6 after the
    divide, and contribution sums ride DECIMAL(18,6) (exact and
    associative at any parallelism), so the unrolled-CTE oracle matches
    bit-for-bit. Per iteration: two degree-free contribution shuffles
    (in-edges then out-edges) + two one-row norm broadcasts; edges are
    localCheckpoint'ed once. ``checkpoint_every`` is the score-frame
    checkpoint cadence in HALF-STEPS (auth and hub updates each count
    one): 1 materializes every half-step; N > 1 checkpoints every Nth
    half-step, never the final one — values are identical at any
    cadence, only the physical cut points move. Default 2, measured
    round 10 (tools/exp_checkpoint_cadence.py): 7.72 -> 6.82 s at
    sf0.1.
    """
    if int(iterations) < 1:
        raise ValueError(f"iterations must be >= 1: {iterations}")
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("d")).distinct()
    e = e.localCheckpoint(eager=True)
    # SPARSE iteration (r11): scores live only on the nodes the edge
    # structure can ever score (hub frame = out-edge sources, auth
    # frame = in-edge targets) — membership is structural, identical
    # every iteration. A node outside the frame has score exactly 0.0:
    # it adds nothing to any contribution sum or L1 norm, so dropping
    # it from the loop changes no arithmetic (rounding included). This
    # deletes the nodes-left-join from every half-step — 2*iterations
    # broadcast-join stage waves gone from the critical path (guide
    # §2.4); the full node set is re-attached ONCE on output.
    hub = e.select(F.col("s").alias("node")).distinct().withColumn("hub", F.lit(1.0))
    cadence = max(1, int(checkpoint_every))
    total_steps = 2 * int(iterations)
    step = 0

    def _normalize(raw: DataFrame, score: str) -> DataFrame:
        # raw feeds BOTH the norm aggregate and the scored projection;
        # Catalyst shares no subtrees, so uncut the contribution
        # join+agg ran twice per half-step. One lazy cut halves the
        # shuffle work.
        raw = raw.localCheckpoint(eager=False)
        tot = raw.agg(F.sum("__r").alias("__t"))  # 1 row, DECIMAL-exact
        out = raw.crossJoin(F.broadcast(tot)).select(
            "node",
            dround(
                F.col("__r").cast("double") / F.col("__t").cast("double"), 6
            ).alias(score),
        )
        if cadence == 1 or (step % cadence == 0 and step < total_steps):
            out = out.localCheckpoint(eager=True)
        return out

    auth = None
    for it in range(int(iterations)):
        raw_a = (
            e.join(hub.withColumnRenamed("node", "s"), "s")
            .groupBy(F.col("d").alias("node"))
            .agg(F.sum(F.col("hub").cast("decimal(18,6)")).alias("__r"))
        )
        step += 1
        auth = _normalize(raw_a, "auth")
        if it + 1 == int(iterations) and cadence != 1:
            # the final auth is consumed by raw_h AND the output join —
            # cut once so its subtree is not replayed by the join side
            # (at cadence 1 _normalize just checkpointed this exact
            # frame eagerly; a second lazy cut would materialize a
            # redundant copy — ADVICE r10).
            auth = auth.localCheckpoint(eager=False)
        raw_h = (
            e.join(auth.withColumnRenamed("node", "d"), "d")
            .groupBy(F.col("s").alias("node"))
            .agg(F.sum(F.col("auth").cast("decimal(18,6)")).alias("__r"))
        )
        step += 1
        hub = _normalize(raw_h, "hub")
    nodes = (
        e.select(F.col("s").alias("node"))
        .unionByName(e.select(F.col("d").alias("node")))
        .distinct()
    )
    return (
        nodes.join(hub, "node", "left")
        .join(auth, "node", "left")
        .select(
            "node",
            F.coalesce(F.col("hub"), F.lit(0.0)).alias("hub"),
            F.coalesce(F.col("auth"), F.lit(0.0)).alias("auth"),
        )
    )


def cross_corpus_overlap(
    corpus: DataFrame,
    reference: DataFrame,
    id_col: str,
    text_col: str,
    *,
    normalized: bool = True,
) -> DataFrame:
    """Exact-match decontamination between TWO datasets: flag every
    corpus document whose (normalized) text also appears in the
    reference set — "is any eval/benchmark document verbatim in my
    training data", the first check run before the n-gram audit
    (:func:`~python_mapreduce_spark.llm.text.ngram_contamination`)
    hunts partial overlaps. Same normalization rule as
    :func:`exact_dedup` (lowercase, whitespace collapse, trim; NULL =
    empty doc).

    Returns one row per corpus document: (id, in_reference,
    n_reference_copies).

    Plan shape for 100 TB: both sides reduce to 32-byte md5 keys before
    meeting; the reference side pre-aggregates to one row per distinct
    text, so the join is key-on-key with no fan-out even when the
    reference contains duplicates. A dimension-sized reference (the
    usual eval-set case) broadcasts under the autoBroadcast threshold;
    a corpus-sized one degrades to a shuffled hash join on the digests.
    """
    safe_c = F.coalesce(F.col(text_col), F.lit(""))
    safe_r = F.coalesce(F.col(text_col), F.lit(""))
    if normalized:
        safe_c = F.trim(F.regexp_replace(F.lower(safe_c), r"\s+", " "))
        safe_r = F.trim(F.regexp_replace(F.lower(safe_r), r"\s+", " "))
    left = corpus.select(F.col(id_col).alias("id"), F.md5(safe_c).alias("__fp"))
    right = (
        reference.select(F.md5(safe_r).alias("__fp"))
        .groupBy("__fp")
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    return left.join(right, "__fp", "left").select(
        "id",
        F.col("__n").isNotNull().alias("in_reference"),
        F.coalesce(F.col("__n"), F.lit(0)).cast("long").alias("n_reference_copies"),
    )


def cdc_chunk_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    boundary_mod: int = 8,
) -> DataFrame:
    """Content-defined-chunking dedup signal (the rsync/LBFS idea at
    token granularity): cut every document at positions where the hash
    of the local 2-token window ≡ 0 (mod ``boundary_mod``), so chunk
    boundaries are decided by CONTENT, not offsets — insert a sentence
    at the front of a copied page and the downstream chunks still hash
    identically, which fixed-offset segmenting (:func:`~python_mapreduce_spark
    .llm.text.segment_dedup`) structurally cannot see. Expected chunk
    length ≈ ``boundary_mod`` tokens. Emits per document
    (id, n_tokens, n_chunks, n_dup_chunks, dup_token_coverage): chunks
    whose content recurs in ANY OTHER document, and the fraction of the
    document's tokens covered by such shared chunks — the
    shifted-boilerplate counterpart of the Lee-et-al span signal.
    Beyond the reference surface (SURVEY.md §2.2 north-star extensions).

    Scale shape: tokens explode once; the boundary flag and chunk id
    are a per-document window (bounded by document length, keyed by
    id — no global window anywhere); chunk content is md5-collapsed, so
    the cross-doc vote groupBy moves 32-hex keys whose
    count/count-distinct partials combine map-side (a boilerplate chunk
    shared by millions of documents shuffles one row per partition);
    the verdict joins back on the same narrow key. Determinism: the
    boundary hash is md5-derived with a fixed rule the DuckDB oracle
    replays digit-for-digit; coverage rounds to 6 decimals.
    """
    from pyspark.sql.window import Window  # noqa: PLC0415

    mod = int(boundary_mod)
    toks = df.select(
        F.col(id_col).cast("long").alias("id"),
        F.posexplode_outer(tokenize(F.col(text_col))).alias("pos", "tok"),
    )
    w = Window.partitionBy("id").orderBy("pos")
    flagged = toks.withColumn("__prev", F.lag("tok").over(w)).withColumn(
        "__bnd",
        F.when(
            F.col("__prev").isNotNull()
            & (
                F.conv(
                    F.substring(F.md5(F.concat_ws(" ", "__prev", "tok")), 1, 8), 16, 10
                ).cast("long")
                % mod
                == 0
            ),
            1,
        ).otherwise(0),
    )
    chunked = flagged.withColumn("__chunk", F.sum("__bnd").over(w))
    chunks = (
        chunked.filter(F.col("tok").isNotNull())
        .groupBy("id", "__chunk")
        .agg(
            F.count(F.lit(1)).cast("long").alias("__clen"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.sort_array(F.collect_list(F.struct("pos", "tok"))),
                        lambda s: s["tok"],
                    ),
                    " ",
                )
            ).alias("__ch"),
        )
    ).localCheckpoint(eager=False)  # feeds both the cross-doc vote and the verdict join
    votes = chunks.groupBy("__ch").agg(
        F.count_distinct("id").cast("long").alias("__ndocs")
    )
    per_doc = (
        chunks.join(votes, "__ch")
        .groupBy("id")
        .agg(
            F.sum("__clen").cast("long").alias("n_tokens"),
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.sum(F.when(F.col("__ndocs") > 1, 1).otherwise(0)).cast("long").alias("n_dup_chunks"),
            F.sum(F.when(F.col("__ndocs") > 1, F.col("__clen")).otherwise(0))
            .cast("long")
            .alias("__dup_toks"),
        )
    )
    coverage = F.when(
        F.col("n_tokens") > 0,
        dround(F.col("__dup_toks").cast("double") / F.col("n_tokens"), 6),
    ).otherwise(F.lit(0.0))
    return (
        df.select(F.col(id_col).cast("long").alias("id"))
        .join(per_doc, "id", "left")
        .select(
            "id",
            F.coalesce("n_tokens", F.lit(0).cast("long")).alias("n_tokens"),
            F.coalesce("n_chunks", F.lit(0).cast("long")).alias("n_chunks"),
            F.coalesce("n_dup_chunks", F.lit(0).cast("long")).alias("n_dup_chunks"),
            F.coalesce(coverage, F.lit(0.0)).alias("dup_token_coverage"),
        )
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    threshold: float = 0.6,
    max_shingle_df: int | None = None,
    prefix_filter: bool = False,
    positional_filter: bool = False,
) -> DataFrame:
    """Asymmetric n-gram CONTAINMENT pairs: for each ordered document
    pair, ``|shingles(src) ∩ shingles(dst)| / |shingles(src)|`` — the
    quote/excerpt detector Jaccard structurally misses (a paragraph
    fully quoted inside a 100x-longer page has containment 1.0 but
    Jaccard ~0.01, so :func:`ngram_jaccard_pairs` never flags it; this
    is the Broder "containment" companion). Emits
    (src_id, dst_id, containment) for src != dst, both directions of
    every co-shingled pair, thresholded.

    Scale shape: identical machinery to :func:`ngram_jaccard_pairs` —
    postings self-join on the shingle key, so only co-shingled pairs
    materialize, with the same ``max_shingle_df`` stop-shingle guard
    (df-capped universes recompute src sizes over KEPT shingles, so
    containment stays a true ratio over the reduced universe). The
    undirected intersection count is computed ONCE per pair (id1 < id2)
    and fanned into both directions by a projection, not a second join.

    ``prefix_filter`` applies the one-sided PPJoin filter (prefix x
    full postings — lossless for max-direction containment >= t, see
    :func:`_prefix_verified_inter`); ``positional_filter`` adds the
    per-orientation first-common-token overlap prune on top. MEASURED
    CAVEAT (round 10, tools/exp_positional_filter.py): unlike the
    Jaccard join at t = 0.8 (where surviving candidates are rare and
    the verify re-join is negligible), containment at t = 0.6 keeps
    ~40% of postings in the prefix and its candidates stay plentiful,
    so the candidate-bounded verify re-join EXCEEDS the generation
    saving on these corpora — sf0.1 best-of-3: 3.4 s base vs 7.7 s
    prefix vs 5.9 s prefix+positional. The positional prune narrows
    the gap but does not flip the rule: both flags are the right tool
    only when the threshold is high enough that candidates are rare;
    the registry keeps the direct join.

    Cost law (measured, tools/bench_scale.py r6): candidate pairs are
    sum over kept shingles of df*(df-1)/2, hard-bounded by
    ``max_shingle_df/2 x kept posting instances`` — linear in corpus
    size with slope df-cap/2. BUT while per-shingle df is still BELOW
    the cap and growing with the corpus (a fixed-vocabulary regime:
    the 10x synthetic corpus measured pairs x58.8 on instances x6.4,
    74.5M pairs vs the 166M bound), growth is quadratic until the cap
    bites; past saturation, hot shingles drop out and cost falls back
    to the linear law. Size ``max_shingle_df`` for the pair budget:
    pairs <= cap/2 x instances ALWAYS holds.
    """
    sets_ = shingle_sets(df, id_col, text_col, n).filter(F.size("shingles") > 0)
    posts = sets_.select("id", F.explode("shingles").alias("shingle"))
    # Same single-materialization discipline as ngram_jaccard_pairs:
    # the postings frame feeds the hot-set probe, both self-join sides
    # and the size branches, and each un-cut reference is a fresh
    # corpus scan + re-shingle (the measured sf0.1 plan held 16
    # parquet scans for this query — the fwd/rev union below doubles
    # every subtree).
    posts = posts.localCheckpoint(eager=False)
    if max_shingle_df is not None:
        hot_limit = 100_000
        hot_df = (
            posts.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_shingle_df)
            .select("shingle")
        )
        hot_rows = hot_df.limit(hot_limit + 1).collect()
        if len(hot_rows) > hot_limit:
            posts = posts.join(F.broadcast(hot_df), "shingle", "left_anti")
        elif hot_rows:
            posts = posts.filter(
                ~F.col("shingle").isin([r["shingle"] for r in hot_rows])
            )
        sizes = posts.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    else:
        sizes = posts.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    sizes = sizes.localCheckpoint(eager=False)
    if prefix_filter:
        # one-sided PPJoin (prefix x full postings): lossless for
        # max-direction containment >= t because the intersection of a
        # qualifying pair must hit the SMALLER side's prefix — see
        # _prefix_verified_inter. Join cost drops to
        # sum(prefix_df x df) from sum(df^2).
        inter = _prefix_verified_inter(
            posts, sizes, threshold, both_prefix=False, positional=positional_filter
        )
    else:
        a, b = posts.alias("a"), posts.alias("b")
        inter = (
            a.join(
                b,
                (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.id") < F.col("b.id")),
            )
            .groupBy(F.col("a.id").alias("id1"), F.col("b.id").alias("id2"))
            .agg(F.count(F.lit(1)).alias("inter"))
        )
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    both = (
        inter.join(sa, F.col("id1") == F.col("sa.id"))
        .join(sb, F.col("id2") == F.col("sb.id"))
        .select("id1", "id2", "inter", F.col("sa.sz").alias("sz1"), F.col("sb.sz").alias("sz2"))
        # Pair-count-sized and fanned into BOTH output directions: the
        # fwd/rev union otherwise duplicates the whole intersection
        # subtree (postings self-join included) into the plan twice.
        .localCheckpoint(eager=False)
    )
    fwd = both.select(
        F.col("id1").alias("src_id"),
        F.col("id2").alias("dst_id"),
        dround(F.col("inter") / F.col("sz1"), 4).alias("containment"),
    )
    rev = both.select(
        F.col("id2").alias("src_id"),
        F.col("id1").alias("dst_id"),
        dround(F.col("inter") / F.col("sz2"), 4).alias("containment"),
    )
    return fwd.unionByName(rev).filter(F.col("containment") >= threshold)


def edit_distance_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    max_distance: int = 1,
    q: int = 2,
) -> DataFrame:
    """Ed-Join: all pairs within Levenshtein ``max_distance``, without
    the |corpus|^2 comparison (Xiao/Wang/Lin 2008) — the string-level
    member of the near-dup family beside shingle Jaccard (token sets),
    containment (excerpts) and MinHash (sketches): catches typo-class
    variants ("blue bolt" / "blu bolt") whose token sets look disjoint.

    Scale shape, all codegen-side:
      * positional q-grams — ``len - q + 1`` (gram, pos) tokens per
        string, built by one ``transform(sequence(...))`` expression;
      * count/prefix filtering — one edit destroys at most ``q`` grams,
        so strings within distance d share all but ``q*d`` of their
        grams; under a global rarity order (gram document frequency
        asc), any qualifying pair therefore shares a gram inside BOTH
        ``q*d + 1``-gram prefixes — the PPJoin prefix principle with
        overlap bound max(|Ga|, |Gb|) - q*d. Strings with fewer grams
        contribute their whole gram list, which keeps the bound valid;
      * positional filter — a surviving gram shifts by at most d
        positions, so the candidate join adds ``abs(pos_a - pos_b) <=
        d`` and a length filter ``abs(len_a - len_b) <= d`` on top of
        gram equality;
      * zero/few-gram residue — strings shorter than ``q*d + q`` chars
        can qualify while sharing no q-gram at all (their partners are
        forced just as short by the overlap bound), so they pair
        all-to-all through a constant-key equi-join: a bounded bucket
        of near-empty strings (<= 3 chars at q=2, d=1), never a
        CartesianProduct node;
      * exact verify — candidates re-join the (id, text) table and keep
        ``F.levenshtein <= d`` (whole-stage codegen; Spark's builtin),
        so the filters only prune work, never change the answer — the
        DuckDB oracle recomputes the truth quadratically every driver
        round, and the pytest pins pair-set equality against the direct
        join.

    Returns (id1, id2, distance), id1 < id2, one row per within-bound
    pair. Identical texts emit distance 0. Beyond the reference surface
    (SURVEY.md §2.2 north-star extensions).
    """
    from pyspark.sql.window import Window as _W  # noqa: PLC0415

    d = int(max_distance)
    if d < 0:
        raise ValueError(f"max_distance must be >= 0: {max_distance}")
    qq = int(q)
    if qq < 1:
        raise ValueError(f"q must be >= 1: {q}")
    src = df.select(
        F.col(id_col).cast("long").alias("id"),
        F.coalesce(F.col(text_col), F.lit("")).alias("s"),
    ).withColumn("len", F.length("s"))

    grams = src.select(
        "id",
        "len",
        F.explode(
            F.expr(
                f"CASE WHEN length(s) >= {qq} THEN "
                f"transform(sequence(1, length(s) - {qq} + 1), "
                f"i -> struct(substring(s, i, {qq}) AS g, i AS pos)) "
                f"ELSE array() END"
            )
        ).alias("t"),
    ).select("id", "len", F.col("t.g").alias("g"), F.col("t.pos").alias("pos"))
    dfreq = grams.groupBy("g").agg(F.count(F.lit(1)).alias("__df"))
    prefix = (
        grams.join(dfreq, "g")
        .withColumn(
            "__rn",
            F.row_number().over(
                _W.partitionBy("id").orderBy(
                    F.col("__df").asc(), F.col("g").asc(), F.col("pos").asc()
                )
            ),
        )
        .filter(F.col("__rn") <= qq * d + 1)
        .select("id", "len", "g", "pos")
    )
    pa, pb = prefix.alias("pa"), prefix.alias("pb")
    cand = (
        pa.join(
            pb,
            (F.col("pa.g") == F.col("pb.g"))
            & (F.col("pa.id") < F.col("pb.id"))
            & (F.abs(F.col("pa.pos") - F.col("pb.pos")) <= d)
            & (F.abs(F.col("pa.len") - F.col("pb.len")) <= d),
        )
        .select(F.col("pa.id").alias("id1"), F.col("pb.id").alias("id2"))
    )
    short = src.filter(F.col("len") <= qq * d + qq - 1).withColumn("__k", F.lit(1))
    sa, sb = short.alias("sa"), short.alias("sb")
    cand_short = sa.join(
        sb,
        (F.col("sa.__k") == F.col("sb.__k")) & (F.col("sa.id") < F.col("sb.id")),
    ).select(F.col("sa.id").alias("id1"), F.col("sb.id").alias("id2"))
    cand = cand.unionByName(cand_short).distinct()

    v1 = src.select(F.col("id").alias("id1"), F.col("s").alias("__s1"))
    v2 = src.select(F.col("id").alias("id2"), F.col("s").alias("__s2"))
    return (
        cand.join(v1, "id1")
        .join(v2, "id2")
        .withColumn("distance", F.levenshtein("__s1", "__s2").cast("long"))
        .filter(F.col("distance") <= d)
        .select("id1", "id2", "distance")
    )


def cluster_canonical(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    rows: int = 4,
    threshold: float = 0.8,
) -> DataFrame:
    """Quality-aware canonical selection: group near-duplicates
    (MinHash-LSH pairs → connected components) and keep the HIGHEST
    QUALITY member of each clique — the production dedup decision rule
    (min-id keeps an arbitrary copy; real pipelines keep the cleanest
    one). Emits one row per document: (id, cluster, quality, keep),
    where cluster is the component's smallest member id (own id for
    singletons) and exactly one member per cluster has keep = true
    (ties on the 1e-4-rounded quality break to the smallest id).

    Scale shape: the pair graph and components are the proven
    :func:`minhash_dedup_pairs` + :func:`connected_components`
    machinery; the quality signal is one pure-Catalyst projection
    (:func:`~python_mapreduce_spark.llm.text.quality_score`); the
    winner per cluster is ONE ``max(struct(quality, -id))`` hash agg —
    per-partition winners combine map-side, no window over cluster
    members — broadcast back onto the (document-sized) assignment
    frame.
    """
    from python_mapreduce_spark.llm.text import quality_score  # noqa: PLC0415

    pairs = minhash_dedup_pairs(
        df, id_col, text_col,
        n=n, num_hashes=num_hashes, bands=bands, rows=rows, threshold=threshold,
    )
    comps = connected_components(pairs.select("id1", "id2"))
    quality = quality_score(df, id_col, text_col).select(
        F.col(id_col).cast("long").alias("id"), "quality"
    )
    assigned = (
        quality.join(comps.withColumnRenamed("node", "id"), "id", "left")
        .select("id", F.coalesce("cluster", F.col("id")).alias("cluster"), "quality")
        .localCheckpoint(eager=False)  # feeds the winner agg and the verdict join
    )
    winners = assigned.groupBy("cluster").agg(
        F.max(F.struct(F.col("quality"), (-F.col("id")).alias("__negid"))).alias("__w")
    )
    return assigned.join(winners, "cluster").select(
        "id",
        "cluster",
        "quality",
        (F.col("id") == -F.col("__w.__negid")).alias("keep"),
    )


def dedup_savings(
    df: DataFrame,
    id_col: str,
    text_col: str,
    group_cols: Sequence[str],
    *,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    rows: int = 4,
    threshold: float = 0.8,
) -> DataFrame:
    """Dedup savings report: per group, how many documents and tokens
    the quality-aware canonical keep (:func:`cluster_canonical`)
    actually removes — the "effective dataset size after dedup" number
    a curation run is judged by (raw token counts overstate a corpus
    with heavy duplication). Emits (group_cols..., n_docs, n_kept,
    tokens_total, tokens_kept, token_savings) with the savings share
    rounded to 6 decimals; groups with zero tokens report 0.0 savings.

    Scale shape: the keep verdicts come from the proven pairs →
    components → max(struct) pipeline; token counts are one
    tokenization projection; the report is one map-side-combined hash
    agg on the group keys.
    """
    gs = list(group_cols)
    keep = cluster_canonical(
        df, id_col, text_col,
        n=n, num_hashes=num_hashes, bands=bands, rows=rows, threshold=threshold,
    ).select("id", "keep")
    toks = df.select(
        F.col(id_col).cast("long").alias("id"),
        *gs,
        F.size(tokenize(F.col(text_col))).cast("long").alias("__t"),
    )
    agg = (
        toks.join(keep, "id")
        .groupBy(*gs)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.col("keep").cast("long")).cast("long").alias("n_kept"),
            F.sum("__t").cast("long").alias("tokens_total"),
            F.sum(F.when(F.col("keep"), F.col("__t")).otherwise(0)).cast("long").alias("tokens_kept"),
        )
    )
    savings = F.when(
        F.col("tokens_total") > 0,
        dround(
            (F.col("tokens_total") - F.col("tokens_kept")).cast("double")
            / F.col("tokens_total"),
            6,
        ),
    ).otherwise(F.lit(0.0))
    return agg.select(
        *gs, "n_docs", "n_kept", "tokens_total", "tokens_kept", savings.alias("token_savings")
    )


def fuzzy_decontamination(
    corpus: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 32,
    rows: int = 2,
    threshold: float = 0.8,
) -> DataFrame:
    """Fuzzy train/eval decontamination: flag corpus documents whose
    n-gram Jaccard against ANY eval-set document reaches ``threshold``
    — the near-duplicate sweep run before training so paraphrased or
    lightly-edited benchmark items can't leak into the training set
    (the exact-match sweep is :func:`cross_corpus_overlap`; this one
    catches what exact matching misses). Emits one row per contaminated
    corpus doc: (id, n_matches, max_jaccard, eval_id) with eval_id the
    highest-Jaccard eval match (ties -> smallest eval id); clean docs
    emit nothing, so the caller purges with a left-anti join.

    Scale shape: the cross-corpus form of the MinHash-LSH pipeline —
    both sides reduce to ``bands`` band keys per doc, candidates come
    from an EQUI-join of corpus bands to eval bands (the shuffle pairs
    only probable near-dups; never corpus x eval), and only candidates
    pay the exact-Jaccard verify. The eval side is benchmark-sized
    (millions of rows at most), so its banded frame broadcasts and the
    100 TB corpus streams through map-side. Default banding is the
    widened 32x2 (candidate recall at j >= 0.8 is
    1 - (1 - 0.8^2)^32 ~ 1 - 6e-15), so the verified output matches the
    exact pair set for any realistic corpus.
    """
    # Each side's shingle pass feeds its signature pipeline AND its
    # exact-verify join side (Catalyst shares no subtrees): one lazy
    # materialization per side halves the corpus/eval shingle passes.
    sets_c = shingle_sets(corpus, id_col, text_col, n).localCheckpoint(eager=False)
    sets_e = shingle_sets(eval_df, id_col, text_col, n).localCheckpoint(eager=False)
    bc = band_keys(minhash_signatures(sets_c, num_hashes=num_hashes), bands=bands, rows=rows)
    be = band_keys(minhash_signatures(sets_e, num_hashes=num_hashes), bands=bands, rows=rows)
    cand = (
        bc.alias("c")
        .join(
            be.alias("e"),
            (F.col("c.band") == F.col("e.band")) & (F.col("c.bkey") == F.col("e.bkey")),
        )
        .select(F.col("c.id").alias("cid"), F.col("e.id").alias("eid"))
        .distinct()
    )
    sc, se = sets_c.alias("sc"), sets_e.alias("se")
    verified = (
        cand.join(sc, F.col("cid") == F.col("sc.id"))
        .join(se, F.col("eid") == F.col("se.id"))
        .select(
            "cid",
            "eid",
            dround(
                F.size(F.array_intersect("sc.shingles", "se.shingles"))
                / F.size(F.array_union("sc.shingles", "se.shingles")),
                4,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    # one row per contaminated corpus doc: max-jaccard eval match,
    # ties -> smallest eval id, via a single max(struct) hash agg
    best = F.max(F.struct(F.col("jaccard"), (-F.col("eid")).alias("nid")))
    return verified.groupBy(F.col("cid").alias("id")).agg(
        F.count(F.lit(1)).cast("long").alias("n_matches"),
        best.alias("__b"),
    ).select(
        "id",
        "n_matches",
        F.col("__b.jaccard").alias("max_jaccard"),
        (-F.col("__b.nid")).cast("long").alias("eval_id"),
    )


def triangle_stats(
    edges: DataFrame,
    src: str = "id1",
    dst: str = "id2",
) -> DataFrame:
    """Triangle count + global clustering coefficient of an undirected
    graph given as an edge list — the structure probe for a near-dup
    graph (a high coefficient says duplicates come in transitive
    cliques, so canonical-per-cluster dedup is safe; a low one says
    chains/stars, where transitive merging over-merges). Self-loops are
    dropped and edges de-duplicated, so any pair frame works as input.
    Emits ONE row (n_vertices, n_edges, n_triangles, clustering) with
    clustering = 3*triangles / wedges (wedges = sum over vertices of
    C(deg, 2)); NULL when the graph has no wedge; zero rows on an empty
    edge set.

    Scale shape: the degree-ordered orientation (each edge points from
    its lower-(degree, id) endpoint), which bounds every out-degree by
    O(sqrt(m)) — the classic distributed-triangle bound — so the wedge
    self-join on the source vertex generates O(m^1.5) candidates
    worst-case instead of the O(sum deg^2) a hub vertex would cost
    unoriented. Wedges close via ONE equi-join back to the oriented
    edge list; counts and degrees all flow from the (checkpointed) edge
    frame — integers end to end until the final ratio.
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=False)  # degrees + orientation + closure probe
    )
    deg = (
        e.select(F.col("a").alias("v"))
        .unionByName(e.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
        .localCheckpoint(eager=False)  # orientation keys + wedge total
    )
    da = deg.select(F.col("v").alias("a"), F.col("deg").alias("__dega"))
    db = deg.select(F.col("v").alias("b"), F.col("deg").alias("__degb"))
    keyed = e.join(da, "a").join(db, "b")
    ka = F.struct(F.col("__dega").alias("d"), F.col("a").alias("v"))
    kb = F.struct(F.col("__degb").alias("d"), F.col("b").alias("v"))
    oriented = keyed.select(
        F.when(ka < kb, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(ka < kb, F.col("b")).otherwise(F.col("a")).alias("w"),
        F.when(ka < kb, kb).otherwise(ka).alias("__kw"),
    ).localCheckpoint(eager=False)  # wedge legs + closure probe
    w1, w2 = oriented.alias("w1"), oriented.alias("w2")
    wedges = (
        w1.join(w2, F.col("w1.u") == F.col("w2.u"))
        .filter(F.col("w1.__kw") < F.col("w2.__kw"))
        .select(F.col("w1.w").alias("u"), F.col("w2.w").alias("w"))
    )
    closed = wedges.join(
        oriented.select("u", "w"), ["u", "w"]
    )
    tri = closed.agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    edge_n = e.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    stats = deg.groupBy(F.lit(1).alias("__g")).agg(
        F.count(F.lit(1)).cast("long").alias("n_vertices"),
        F.sum(F.col("deg") * (F.col("deg") - 1) / 2).cast("long").alias("__wedges"),
    )
    out = stats.crossJoin(F.broadcast(edge_n)).crossJoin(F.broadcast(tri))
    return out.select(
        "n_vertices",
        "n_edges",
        "n_triangles",
        F.when(
            F.col("__wedges") > 0,
            dround(
                F.lit(3.0) * F.col("n_triangles") / F.col("__wedges"), 6
            ),
        ).alias("clustering"),
    )


def kcore(
    edges: DataFrame,
    k: int,
    src: str = "id1",
    dst: str = "id2",
    *,
    max_iter: int = 100,
) -> DataFrame:
    """k-core decomposition by iterative peeling: repeatedly delete
    every node with degree < k until none remains; what survives is the
    maximal subgraph where every node keeps >= k neighbors. On a
    near-dup graph the k-core is the "template club" — boilerplate
    families where every page resembles many others — which ranks
    removal candidates far better than raw degree (a hub touching k
    leaves dies in round one; a dense clique survives every round).

    Per round: one symmetric-degree agg (map-side combined) + one
    semi-join screen of the edge list against surviving nodes, edges
    localCheckpoint'ed so round N never replays round N-1's plan
    (same iterative-loop discipline as connected_components /
    pagerank_fixed). Converges in O(peeling depth) <= O(max degree)
    rounds; each round strictly shrinks the edge set or stops, and an
    empty survivor set short-circuits. Deterministic throughout — no
    tie rules needed, peeling order cannot change the fixpoint.

    Returns (node, degree) for the k-core members with their WITHIN-CORE
    degree (>= k by construction). Raises past ``max_iter`` (a depth
    bound for pathological chains, not a data-size bound).
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionByName(
            edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        # deg feeds the convergence collect AND (via keep) BOTH
        # semi-joins of the survivor screen — uncut, the degree shuffle
        # ran 3x per round. One lazy cut: the collect materializes it,
        # the semi-joins read the checkpointed blocks.
        deg = sym.groupBy("a").agg(
            F.count(F.lit(1)).alias("degree")
        ).localCheckpoint(eager=False)
        keep = deg.filter(F.col("degree") >= k).select("a")
        # one driver round-trip per round, not two: both convergence
        # counts come from a single agg over the (checkpointed) sym
        stats = deg.agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.count_if(F.col("degree") >= k).alias("n_keep"),
        ).collect()[0]
        n_nodes, n_keep = int(stats.n_nodes), int(stats.n_keep)
        if n_keep == 0:
            return deg.filter(F.lit(False)).select(
                F.col("a").alias("node"), "degree"
            )
        if n_keep == n_nodes:
            return deg.select(F.col("a").alias("node"), "degree")
        sym = (
            sym.join(keep, "a", "left_semi")
            .join(keep.select(F.col("a").alias("b")), "b", "left_semi")
            .localCheckpoint(eager=True)
        )
    raise RuntimeError(f"kcore did not converge in {max_iter} rounds")


def label_propagation(
    edges: DataFrame,
    *,
    rounds: int = 4,
    src: str = "id1",
    dst: str = "id2",
    return_labels: bool = False,
    checkpoint_every: int = 2,
) -> DataFrame:
    """Community detection by SYNCHRONOUS label propagation (Raghavan
    et al. 2007) with a deterministic min-label tie rule — the
    community lens on the near-dup graph beside connected components
    (which merges everything touching), k-core (density filter),
    triangles (local clustering) and PageRank/HITS (centrality). LPA
    splits a component into denser sub-communities: each node
    repeatedly adopts the label most frequent among its NEIGHBORS
    (ties -> smallest label), so boilerplate families separate even
    when a stray edge chains them into one component.

    The classic formulation updates asynchronously in random order —
    nondeterministic by construction. This one is the synchronous
    variant with a total-order tie rule and a FIXED round count:
    node labels start as node ids, every round recomputes all labels
    from the previous round's snapshot, so the result is independent
    of partitioning, scheduling and parallelism, and a SQL oracle can
    unroll the exact same rounds (the kcore pattern). Near-dup graphs
    are shallow and clique-ish — LPA converges in 1-2 rounds there;
    ``rounds`` = 4 gives margin (extra rounds are idempotent at the
    fixpoint; on odd structures like bipartite cores synchronous LPA
    can 2-cycle, which the fixed round count keeps deterministic too).

    Per round: ONE equi-join of the symmetric edge list onto the
    label snapshot (keyed shuffle), one (node, label) count agg
    (map-side combined), one argmax-by-(count desc, label asc) via a
    min(struct) agg — no window, no collect; the label frame is
    localCheckpoint'ed on the ``checkpoint_every`` cadence (N
    checkpoints every Nth round and never the last — identical labels,
    fewer blocking materializations; default 2, measured round 10:
    6.12 -> 5.06 s at sf0.1, decade probe flat). Cost per round
    ~ O(edges).

    Returns one row per community: (community, n_nodes) where
    ``community`` is the surviving label (a node id, itself the
    deterministic min-tiebreak representative) — or, with
    ``return_labels``, the per-node assignment (node, label) so a
    caller can checkpoint the label state itself (the incremental LPA
    epoch snapshot). Beyond the reference surface (SURVEY.md §2.2
    north-star extensions).
    """
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionByName(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = sym.select(F.col("a").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    cadence = max(1, int(checkpoint_every))
    for i in range(rounds):
        nbl = sym.join(
            labels.select(F.col("node").alias("b"), F.col("label").alias("nbl")),
            "b",
        )
        counts = nbl.groupBy("a", "nbl").agg(
            F.count(F.lit(1)).cast("long").alias("c")
        )
        labels = (
            counts.groupBy("a")
            .agg(
                F.min(
                    F.struct((-F.col("c")).alias("nc"), F.col("nbl").alias("l"))
                ).alias("best")
            )
            .select(F.col("a").alias("node"), F.col("best.l").alias("label"))
        )
        if cadence == 1 or ((i + 1) % cadence == 0 and i + 1 < rounds):
            labels = labels.localCheckpoint(eager=True)
    if return_labels:
        return labels
    return labels.groupBy(F.col("label").alias("community")).agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes")
    )
