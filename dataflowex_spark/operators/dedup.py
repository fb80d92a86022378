"""Deduplication operators for training-data pipelines.

Scale notes (100 TB): every variant here is shuffle-bounded —
candidate pairs only materialize inside an equi-join keyed by a
hash/band/bucket, never a cross join; winners are picked with
deterministic min-id semantics so reruns are stable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F

from dataflowex_spark.functions.text import char_ngrams, word_shingles


def dedup_exact(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact dedup by content hash: group on sha2(text), keep the row
    with the smallest id (deterministic, unlike dropDuplicates which
    keeps an arbitrary row). One shuffle on the 256-bit digest —
    uniform keys, no skew, and only the digest + id move, not the
    document bodies."""
    w = Window.partitionBy(F.sha2(F.col(text_col), 256)).orderBy(F.col(id_col))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 13,
    return_contaminated: bool = False,
) -> DataFrame:
    """Benchmark decontamination: drop every corpus document sharing
    at least one word ``n``-gram with the benchmark set (the standard
    train/test-overlap removal before LLM training; 13-gram is the
    conventional unit).

    Scale shape — the corpus NEVER shuffles:
    1. benchmark n-grams (benchmarks are MBs, not TBs) → distinct,
       broadcast;
    2. corpus explodes to n-grams map-side and semi-joins the
       broadcast gram set → contaminated ids (small);
    3. corpus anti-joins the broadcast contaminated-id set.
    Both joins broadcast the small side, so the 100 TB side is
    scan + explode only. ``return_contaminated=True`` returns the
    flagged rows instead (for auditing).
    """
    grams = F.explode(
        F.array_distinct(word_shingles(F.col(text_col), n))
    ).alias("__gram")
    bench_grams = benchmark.select(grams).distinct()
    contaminated = (
        corpus.select(F.col(id_col), grams)
        .join(F.broadcast(bench_grams), on="__gram", how="left_semi")
        .select(id_col)
        .distinct()
    )
    how = "left_semi" if return_contaminated else "left_anti"
    return corpus.join(F.broadcast(contaminated), on=id_col, how=how)


# 31-bit prime domain for the affine-combination trick: i·h2 stays
# far from long overflow (ANSI mode rejects wraparound arithmetic).
_MINHASH_P = 2147483647


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    shingle_words: int = 3,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(id, sig: array<long>[num_hashes]) per document.

    Affine-combination minhash: two base hashes per shingle
    (h_i = h1 + i·h2 mod p) — O(2·|S|) hash work instead of
    O(k·|S|). The base-hash arrays are materialized (localCheckpoint)
    before the k min-folds: HOF lambdas run interpreted, so letting
    Catalyst re-inline the hashing expression into each of the k
    folds multiplies the work k-fold.

    ``extra_cols`` ride along as additional grouping keys (and output
    columns): a caller signing the union of several corpora in ONE
    pass tags each side and groups by (tag, id), which keeps rows
    with the same id on different sides separate — per-row results
    are exactly those of signing each side alone.
    """
    P = F.lit(_MINHASH_P)
    sh = F.array_distinct(word_shingles(F.col(text_col), shingle_words))
    keys = [id_col, *extra_cols]
    # explode + hash-aggregate instead of per-row HOF folds: min()
    # aggregates run in whole-stage codegen with map-side partials,
    # so only (id, k longs) reaches the shuffle — both faster locally
    # (interpreted lambda evals were the bottleneck) and the right
    # shape at 100 TB.
    # spread the CPU-bound hash work: a small source file arrives as
    # one input partition, which would serialize shingling on a
    # single core (on a real cluster with many input splits this
    # round-robin is a cheap no-op relative to the hash work)
    n_part = df.sparkSession.sparkContext.defaultParallelism
    exploded = df.repartition(n_part).select(
        *[F.col(k) for k in keys], F.explode(sh).alias("s")
    ).select(
        *keys,
        F.pmod(F.xxhash64("s", F.lit(1)), P).alias("h1"),
        F.pmod(F.xxhash64("s", F.lit(2)), P).alias("h2"),
    )
    # flat min-aggregates, array assembled in a separate projection:
    # wrapping the mins in F.array INSIDE agg() drops the aggregate
    # out of efficient codegen (measured 2.9 s vs 1.2 s at sf0.1)
    mins = exploded.groupBy(*keys).agg(
        *[
            F.min(F.pmod(F.col("h1") + F.lit(i) * F.col("h2"), P)).alias(f"__m{i}")
            for i in range(num_hashes)
        ]
    )
    return mins.select(
        *keys, F.array(*[f"__m{i}" for i in range(num_hashes)]).alias("sig")
    )


def _banded_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int,
    bands: int,
    shingle_words: int,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(id, sig, band, band_hash) rows — one per (doc, band).
    Signatures localCheckpointed first (Catalyst would re-inline the
    whole shingle→minhash expression into every band reference)."""
    r = num_hashes // bands
    sigs = minhash_signatures(
        df, text_col, id_col, num_hashes, shingle_words, extra_cols
    ).localCheckpoint(eager=False)
    return sigs.select(
        F.col(id_col),
        *[F.col(c) for c in extra_cols],
        F.col("sig"),
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(
                        F.concat_ws(
                            ",",
                            *[F.element_at("sig", b * r + j + 1) for j in range(r)],
                        )
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band", "band_hash"),
    )


def _est_jaccard(num_hashes: int):
    return (
        F.size(
            F.filter(
                F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
                lambda eq: eq,
            )
        )
        / F.lit(num_hashes)
    ).alias("est_jaccard")


def minhash_lsh_cross(
    left: DataFrame,
    right: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_words: int = 3,
    jaccard_threshold: float = 0.8,
) -> DataFrame:
    """Cross-corpus MinHash-LSH near-dup pairs — the incremental-
    curation shape: ``left`` is a new crawl batch, ``right`` the
    existing corpus; a pair is (new doc, existing doc) sharing a band
    hash with estimated jaccard ≥ threshold. Anti-joining ``left``
    against the returned ``id_a`` set admits only genuinely novel
    documents.

    Same scale contract as :func:`dedup_minhash_lsh`: both sides
    reduce to (id, signature) — document bodies never shuffle — and
    candidates materialize only inside the (band, band_hash)
    equi-join. Returns (id_a=left id, id_b=right id, est_jaccard).

    Both corpora are signed in ONE union-tagged pass (guide §1.2:
    don't run the same pipeline twice): the explode→min-aggregate
    groups by (side, id), so per-row signatures are exactly those of
    signing each side alone — one source scan and one aggregation
    exchange where the two-pass form paid two of each — and the two
    join inputs are filters over one checkpointed signature frame.
    """
    tagged = left.select(
        F.lit(0).alias("__side"), F.col(id_col), F.col(text_col)
    ).unionByName(
        right.select(
            F.lit(1).alias("__side"), F.col(id_col), F.col(text_col)
        )
    )
    banded = _banded_signatures(
        tagged, text_col, id_col, num_hashes, bands, shingle_words,
        extra_cols=("__side",),
    )
    a = banded.filter(F.col("__side") == 0).select(
        F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a"), "band", "band_hash"
    )
    b = banded.filter(F.col("__side") == 1).select(
        F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b"), "band", "band_hash"
    )
    # Estimate jaccard and filter BEFORE deduplicating multi-band
    # collisions: est_jaccard is a pure function of the pair, so the
    # result set is identical, but the distinct's exchange now moves
    # (id, id, double) rows instead of two num_hashes-long signature
    # arrays per row (guide §2.3: shuffle fewer bytes), and the
    # threshold filter drops sub-threshold candidates pre-shuffle.
    return (
        a.join(b, on=["band", "band_hash"])
        .select("id_a", "id_b", _est_jaccard(num_hashes))
        .filter(F.col("est_jaccard") >= jaccard_threshold)
        .distinct()
    )


def dedup_minhash_lsh(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_words: int = 3,
    jaccard_threshold: float = 0.8,
) -> DataFrame:
    """MinHash + LSH near-duplicate pairs.

    shingle → minhash signature (num_hashes) → split into ``bands``
    bands of r = num_hashes/bands rows → documents colliding on any
    band hash become candidate pairs (equi-join on (band_id,
    band_hash) — THE scale trick: candidates only, never all pairs)
    → estimated jaccard = fraction of equal signature components →
    filter by threshold.

    Returns (id_a, id_b, est_jaccard) with id_a < id_b, distinct.
    """
    banded = _banded_signatures(
        df, text_col, id_col, num_hashes, bands, shingle_words
    )
    a = banded.select(
        F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a"), "band", "band_hash"
    )
    b = banded.select(
        F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b"), "band", "band_hash"
    )
    # est_jaccard before the distinct — identical pair set, but the
    # dedup exchange carries (id, id, double) rows instead of two
    # signature arrays, and sub-threshold candidates die pre-shuffle
    # (guide §2.3: shuffle fewer bytes).
    return (
        a.join(b, on=["band", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", _est_jaccard(num_hashes))
        .filter(F.col("est_jaccard") >= jaccard_threshold)
        .distinct()
    )


def dedup_simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
    hamming_threshold: int = 3,
    n_blocks: int = 4,
) -> DataFrame:
    """SimHash near-dup: 64-bit fingerprint = sign of per-bit sums of
    token hashes; candidate pairs via the block trick (split the
    fingerprint into n_blocks; pairs within hamming distance d <
    n_blocks must share ≥1 exact block — equi-join per block, no
    cross join); verify true hamming distance afterwards.

    Returns (id_a, id_b, hamming) pairs with hamming ≤ threshold.
    """
    from dataflowex_spark.functions.text import tokens

    toks = F.array_distinct(tokens(F.col(text_col)))
    # explode + codegen'd conditional sums (one hash aggregate with
    # `bits` partial-agg columns) — per-row HOF folds would run
    # interpreted and recompute the token hashing per bit. Map-side
    # partials mean only (id, 64 ints) reaches the shuffle.
    n_part = df.sparkSession.sparkContext.defaultParallelism
    ex = (
        df.repartition(n_part)
        .select(F.col(id_col), F.explode(toks).alias("t"))
        .select(id_col, F.xxhash64("t").alias("h"))
    )

    def _mask(b: int):
        # bit 63 as two's-complement long (1<<63 overflows signed 64)
        return F.lit((1 << b) if b < 63 else -(1 << 63))

    bitsums = ex.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.col("h").bitwiseAND(_mask(b)) != 0, 1).otherwise(-1)
            ).alias(f"bs{b}")
            for b in range(bits)
        ]
    )
    fp = None
    for b in range(bits):
        bc = F.when(F.col(f"bs{b}") > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        term = F.shiftleft(bc, b)
        fp = term if fp is None else fp.bitwiseOR(term)
    sigs = bitsums.select(F.col(id_col), fp.alias("fp")).localCheckpoint(
        eager=False
    )
    block_bits = bits // n_blocks
    mask = (1 << block_bits) - 1
    blocked = sigs.select(
        id_col,
        "fp",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned("fp", i * block_bits).bitwiseAND(F.lit(mask))
                    for i in range(n_blocks)
                ]
            )
        ).alias("block", "block_val"),
    )
    a = blocked.select(F.col(id_col).alias("id_a"), F.col("fp").alias("fp_a"), "block", "block_val")
    b2 = blocked.select(F.col(id_col).alias("id_b"), F.col("fp").alias("fp_b"), "block", "block_val")
    pairs = (
        a.join(b2, on=["block", "block_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "fp_a", "fp_b")
        .distinct()
    )
    ham = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b"))).alias("hamming")
    return pairs.select("id_a", "id_b", ham).filter(F.col("hamming") <= hamming_threshold)


def _stop_gram_candidates(
    ex: DataFrame, id_col: str, max_gram_df: int | None, symmetric: bool
) -> DataFrame:
    """Candidate (id_a, id_b) pairs from the shared-gram equi-join,
    optionally excluding STOP GRAMS (document frequency >
    ``max_gram_df``) from candidate generation — the named fix for the
    quadratic blow-up when one ubiquitous gram puts every document in
    one block. One extra hash-agg computes per-gram df; the heavy-gram
    set is tiny by construction (few grams exceed a high df bound) so
    it broadcasts into a left_anti.

    Exactness contract: the caller recomputes intersections over the
    FULL gram sets of surviving candidates, so scores are exact — the
    only loss is recall for pairs whose shared grams are ALL heavier
    than ``max_gram_df`` (at df ≥ 1000 such a pair shares only
    boilerplate and is noise, the same trade stop-words make)."""
    if max_gram_df is not None:
        heavy = (
            ex.groupBy("gram")
            .agg(F.count("*").alias("__df"))
            .filter(F.col("__df") > max_gram_df)
            .select("gram")
        )
        ex = ex.join(F.broadcast(heavy), "gram", "left_anti")
    a = ex.select(F.col(id_col).alias("id_a"), "gram")
    b = ex.select(F.col(id_col).alias("id_b"), "gram")
    cmp = (
        F.col("id_a") < F.col("id_b")
        if symmetric
        else F.col("id_a") != F.col("id_b")
    )
    return a.join(b, on="gram").filter(cmp).select("id_a", "id_b").distinct()


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    use_words: bool = True,
    max_gram_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard over candidate pairs sharing ≥1 n-gram.

    Inverted-index style: explode n-grams → self-join on the gram
    (candidates share a gram) → exact |A∩B| via match counts,
    |A∪B| = |A|+|B|−|A∩B|. With ``max_gram_df`` set, grams whose
    document frequency exceeds it are excluded from CANDIDATE
    GENERATION only (scores stay exact — see
    :func:`_stop_gram_candidates`), which bounds the self-join when a
    boilerplate gram would otherwise pair everything with everything.
    Without it the join is quadratic in the worst case — set
    ``max_gram_df`` at full scale, or run this as the exact verifier
    behind MinHash candidates.
    """
    grams = (
        F.array_distinct(word_shingles(F.col(text_col), n))
        if use_words
        else F.array_distinct(char_ngrams(F.col(text_col), n))
    )
    g = df.select(F.col(id_col), grams.alias("grams"))
    # the exploded gram stream feeds BOTH sides of the candidate
    # self-join AND the size frame — materialize it once (the q235
    # PPJoin / q117 containment lesson: each reference otherwise
    # re-tokenizes and re-shingles the corpus from the scan). Sizes
    # come from the checkpointed stream (grams are distinct per doc,
    # so rows per id IS |A|); zero-gram docs can't appear in `inter`,
    # so the inner size joins are unaffected by their absence.
    # (r12, ADVICE) localCheckpoint here is a DELIBERATE trade: its
    # blocks are executor-local and non-replicated with truncated
    # lineage, so on a cluster an executor loss fails the job instead
    # of recomputing — acceptable because the operator is idempotent
    # and restartable. persist(MEMORY_AND_DISK) would be fault-
    # tolerant but registers a CacheManager entry that outlives the
    # operator (every subsequent query's planning is compared against
    # every live cache entry), which a many-operator session (450-
    # query sweeps) cannot afford; checkpoint blocks are reclaimed by
    # the session's periodic GC instead.
    ex = g.select(id_col, F.explode("grams").alias("gram")).localCheckpoint(
        eager=True
    )
    sizes = ex.groupBy(id_col).agg(F.count("*").alias("n_grams"))
    if max_gram_df is None:
        a = ex.select(F.col(id_col).alias("id_a"), "gram")
        b = ex.select(F.col(id_col).alias("id_b"), "gram")
        inter = (
            a.join(b, on="gram")
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("n_inter"))
        )
    else:
        cand = _stop_gram_candidates(ex, id_col, max_gram_df, symmetric=True)
        # exact |A∩B| over the FULL gram sets, join bounded by the
        # candidate list instead of by gram document frequency
        inter = (
            cand.join(ex.select(F.col(id_col).alias("id_a"), "gram"), "id_a")
            .join(ex.select(F.col(id_col).alias("id_b"), "gram"), ["id_b", "gram"])
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("n_inter"))
        )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_grams").alias("na"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_grams").alias("nb"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("n_inter")
                / (F.col("na") + F.col("nb") - F.col("n_inter"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def ngram_containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.9,
    max_gram_df: int | None = None,
) -> DataFrame:
    """Asymmetric n-gram containment |A∩B| / |A|: catches SUBSUMED
    documents (a short doc quoted whole inside a long one scores
    ~|A|/|B| on symmetric Jaccard — arbitrarily low — but 1.0 on
    containment). Directed output (id_a contained-in id_b).

    Same inverted-index shape as :func:`ngram_jaccard_pairs`,
    including the ``max_gram_df`` stop-gram bound on candidate
    generation (containment values stay exact for surviving
    candidates). Without it: quadratic worst case — at full scale set
    the bound or run as the exact verifier behind MinHash/LSH.
    """
    grams = F.array_distinct(word_shingles(F.col(text_col), n))
    g = df.select(F.col(id_col), grams.alias("grams"))
    # the exploded gram stream feeds BOTH sides of the candidate
    # self-join AND the |A| size frame — materialize it once (the
    # q235 PPJoin lesson: each reference otherwise re-tokenizes and
    # re-shingles the corpus from the scan). Sizes come from the
    # checkpointed stream (grams are distinct per doc, so rows per
    # id IS |A|); zero-gram docs can't appear in `inter`, so the
    # inner size join is unaffected by their absence here.
    # (r12, ADVICE) localCheckpoint here is a DELIBERATE trade: its
    # blocks are executor-local and non-replicated with truncated
    # lineage, so on a cluster an executor loss fails the job instead
    # of recomputing — acceptable because the operator is idempotent
    # and restartable. persist(MEMORY_AND_DISK) would be fault-
    # tolerant but registers a CacheManager entry that outlives the
    # operator (every subsequent query's planning is compared against
    # every live cache entry), which a many-operator session (450-
    # query sweeps) cannot afford; checkpoint blocks are reclaimed by
    # the session's periodic GC instead.
    ex = g.select(id_col, F.explode("grams").alias("gram")).localCheckpoint(
        eager=True
    )
    sizes = ex.groupBy(id_col).agg(F.count("*").alias("n_grams"))
    if max_gram_df is None:
        a = ex.select(F.col(id_col).alias("id_a"), "gram")
        b = ex.select(F.col(id_col).alias("id_b"), "gram")
        inter = (
            a.join(b, on="gram")
            .filter(F.col("id_a") != F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("n_inter"))
        )
    else:
        cand = _stop_gram_candidates(ex, id_col, max_gram_df, symmetric=False)
        inter = (
            cand.join(ex.select(F.col(id_col).alias("id_a"), "gram"), "id_a")
            .join(ex.select(F.col(id_col).alias("id_b"), "gram"), ["id_b", "gram"])
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("n_inter"))
        )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_grams").alias("na"))
    return (
        inter.join(sa, "id_a")
        .select(
            "id_a",
            "id_b",
            (F.col("n_inter") / F.col("na")).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )


def dedup_minhash_mllib(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hash_tables: int = 8,
    shingle_words: int = 3,
    num_features: int = 1 << 18,
    jaccard_distance_threshold: float = 0.5,
) -> DataFrame:
    """MLlib-backed near-dup variant: shingles → HashingTF sparse
    vectors → MinHashLSH.approxSimilarityJoin.

    Same contract as :func:`dedup_minhash_lsh` ((id_a, id_b, distance
    as jaccard_dist), id_a < id_b). Kept alongside the native
    implementation: MLlib brings a tuned implementation and model
    persistence; the native one keeps everything in plain DataFrame
    ops (no vector columns) and exposes the band/row trade-off
    directly.
    """
    from pyspark.ml.feature import HashingTF, MinHashLSH

    shingled = df.select(
        F.col(id_col),
        F.array_distinct(word_shingles(F.col(text_col), shingle_words)).alias("sh"),
    ).filter(F.size("sh") > 0)
    tf = HashingTF(inputCol="sh", outputCol="features", numFeatures=num_features)
    feats = tf.transform(shingled)
    lsh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=num_hash_tables, seed=42)
    model = lsh.fit(feats)
    pairs = model.approxSimilarityJoin(
        feats, feats, jaccard_distance_threshold, distCol="jaccard_dist"
    )
    return (
        pairs.select(
            F.col(f"datasetA.{id_col}").alias("id_a"),
            F.col(f"datasetB.{id_col}").alias("id_b"),
            F.col("jaccard_dist"),
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .distinct()
    )


def dedup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 20,
    strict: bool = True,
) -> DataFrame:
    """Connected components over near-dup pairs → (node_id, cluster_id)
    with cluster_id = min node id in the component.

    The step after pair generation in a real dedup pipeline: pairs
    chain (A~B, B~C ⇒ {A,B,C}), and one canonical doc survives per
    component. Iterative min-label propagation — the ring/iteration
    pattern (SURVEY A18) doing production work: labels join edges,
    keep the min over neighbors, repeat until a fixpoint; each round
    localCheckpoints to cut lineage. Converges in O(component
    diameter) rounds; near-dup components are shallow in practice.

    A component deeper than ``max_iters`` would otherwise be silently
    split into several clusters (downstream canonical-doc selection
    then keeps extra duplicates) — so exhausting ``max_iters`` without
    a fixpoint raises unless ``strict=False``.
    """
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .union(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )
    converged = False
    for _ in range(max_iters):
        neighbor_min = (
            edges.join(labels, edges["dst"] == labels["node"])
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        updated = (
            labels.join(neighbor_min, labels["node"] == neighbor_min["src"], "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        stable = (
            updated.alias("u")
            .join(labels.alias("l"), "node")
            .filter(F.col("u.label") != F.col("l.label"))
            .isEmpty()
        )
        labels = updated
        if stable:
            converged = True
            break
    if not converged and strict:
        raise RuntimeError(
            f"dedup_clusters: no fixpoint after max_iters={max_iters} — "
            "a component is deeper than max_iters and its cluster_ids "
            "would be WRONG (split component). Raise max_iters, or pass "
            "strict=False to accept the partial labels."
        )
    return labels.select(F.col("node"), F.col("label").alias("cluster_id"))


def fuzzy_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_dist: int = 3,
    prefix_len: int = 40,
) -> DataFrame:
    """Fuzzy (edit-distance) pair detection over a text prefix:
    unordered pairs whose first ``prefix_len`` characters are within
    ``max_dist`` Levenshtein edits.

    Blocking: candidates must share their FIRST TOKEN and have prefix
    lengths within ``max_dist`` — so pairs materialize only inside a
    (first-token) equi-join, never all-pairs. First-token blocking is
    the standard sorted-neighborhood-style approximation: a pair whose
    very first word was edited is missed (documented recall trade —
    exact within a block; LSH families above are the recall-tunable
    alternative). The length filter is a true necessary condition
    (|len(a)−len(b)| ≤ edit distance), applied inside the join before
    the O(prefix_len²) verify touches a row.

    The O(prefix_len·max_dist) Levenshtein verify runs once per
    DISTINCT unordered prefix pair, not per id pair: the frame first
    compacts to distinct prefixes, verified prefix pairs then expand
    back to id pairs through two equi-joins. On a dup-heavy corpus —
    the very workload near-dup detection exists for — d distinct
    prefixes across n docs cost d² verifies instead of n², while the
    output (and hence the oracle contract) is unchanged; a dup-free
    corpus pays only the extra compaction aggregate.
    """
    pref = F.substring(F.col(text_col), 1, prefix_len)
    base = df.select(
        F.col(id_col),
        pref.alias("__s"),
        F.split_part(pref, F.lit(" "), F.lit(1)).alias("__blk"),
    )
    distinct = base.select("__s", "__blk").distinct()
    da = distinct.select(
        F.col("__s").alias("__sa"),
        F.col("__blk"),
        F.length("__sa").alias("__la"),
    )
    db = distinct.select(
        F.col("__s").alias("__sb"),
        F.col("__blk"),
        F.length("__sb").alias("__lb"),
    )
    # levenshtein WITH threshold runs the banded O(len·k) algorithm
    # and returns -1 past the band — exact distances for every
    # surviving (≤ max_dist) pair, so the SQL oracle's plain
    # levenshtein + filter sees identical rows and values. __sa <=
    # __sb canonicalizes the unordered prefix pair (equal prefixes =
    # the within-group dist-0 case).
    spairs = (
        da.join(db, on="__blk")
        .filter(
            (F.col("__sa") <= F.col("__sb"))
            & (F.abs(F.col("__la") - F.col("__lb")) <= max_dist)
        )
        .select(
            "__sa",
            "__sb",
            F.levenshtein(
                F.col("__sa"), F.col("__sb"), threshold=max_dist
            ).alias("dist"),
        )
        .filter((F.col("dist") >= 0) & (F.col("dist") <= max_dist))
    )
    ia = base.select(F.col(id_col).alias("__ia"), F.col("__s").alias("__sa"))
    ib = base.select(F.col(id_col).alias("__ib"), F.col("__s").alias("__sb"))
    return (
        spairs.join(ia, "__sa")
        .join(ib, "__sb")
        # equal-prefix groups expand to a full self-product: keep one
        # orientation; distinct-prefix pairs appear once already
        .filter(
            (F.col("__sa") < F.col("__sb"))
            | (F.col("__ia") < F.col("__ib"))
        )
        .select(
            F.least("__ia", "__ib").alias("id_a"),
            F.greatest("__ia", "__ib").alias("id_b"),
            "dist",
        )
    )


def dedup_segments(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seg_tokens: int = 10,
) -> DataFrame:
    """Cross-document SEGMENT-level exact dedup with reassembly (the
    paragraph-dedup stage of RefinedWeb-style curation, on flat token
    streams: segment = ``seg_tokens`` consecutive tokens). First
    global occurrence of a segment — ordered by (id, position) —
    survives; later copies are cut and each document is REASSEMBLED
    from its surviving segments in order. Returns
    (id, kept_text, removed_segments).

    Plan shape: segmentation is scan-local (sequence → slice →
    array_join, no UDF); ONE shuffle partitioned by segment text for
    the keep-first window (segments are short, so the shuffled
    payload is bounded — full documents never move); one shuffle back
    on id where ordered reassembly is a collect_list → array_sort
    fold, never a global sort. Powers q188 and the corpus-curation
    example."""
    from pyspark.sql import Window as W

    tok = df.select(id_col, F.split(text_col, " ").alias("__t"))
    nseg = F.ceil(F.size("__t") / F.lit(seg_tokens)).cast("int")
    segs = tok.select(
        id_col,
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), nseg - 1),
                lambda i: F.array_join(
                    F.slice("__t", i * seg_tokens + 1, seg_tokens), " "
                ),
            )
        ).alias("seg_idx", "seg"),
    ).select(id_col, F.col("seg_idx").cast("long").alias("seg_idx"), "seg")
    rn = F.row_number().over(W.partitionBy("seg").orderBy(id_col, "seg_idx"))
    return (
        segs.withColumn("rn", rn)
        .groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("rn") == 1, F.struct("seg_idx", "seg")
                            )
                        )
                    ),
                    lambda x: x.seg,
                ),
                " ",
            ).alias("kept_text"),
            F.sum((F.col("rn") > 1).cast("long")).alias("removed_segments"),
        )
    )


def jaccard_prefix_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    threshold: float = 0.5,
    use_words: bool = True,
) -> DataFrame:
    """Exact Jaccard ≥ threshold pairs via PREFIX FILTERING (the
    AllPairs / PPJoin family: Bayardo et al. WWW'07, Xiao et al.
    VLDB'08) — a second exact set-similarity join with a different
    scale story than :func:`ngram_jaccard_pairs`'s share-a-gram
    blocking.

    Order every document's (distinct) gram set by GLOBAL document
    frequency ascending (rarest first, gram string as total-order
    tie-break). If jacc(A,B) ≥ t then |A∩B| ≥ ⌈t·|A|⌉, and two sorted
    sets with an intersection that large must collide within their
    first |X| − ⌈t·|X|⌉ + 1 grams — so ONLY those prefix grams enter
    the candidate equi-join. No false negatives; exact verification
    follows.

    Why this matters at 100 TB: share-a-gram blocking explodes on
    boilerplate (a gram present in 1% of a billion docs pairs 10M
    docs with each other). Here the df-ascending order pushes exactly
    those hot grams OUT of the prefix, so the candidate join only
    ever keys on rare grams; the size filter (t·max ≤ min) prunes the
    rest before verification. Verification cost is Σ|A| over
    surviving candidates (join candidates → their gram lists → count
    matches), not corpus-quadratic.

    Threshold is held as an exact rational (Fraction of the float),
    and all pruning/acceptance comparisons are integer cross-
    multiplications — no float boundary flips against the oracle.

    The whole candidate/verify pipeline runs over DISTINCT texts
    (one representative doc per text, keyed by min id), then verified
    text pairs expand back to id pairs and identical-text groups emit
    their jaccard-1.0 pairs directly — on a dup-heavy crawl (the
    target workload) d distinct texts across n docs cost the PPJoin
    work of d docs, not n, with an unchanged output contract. The
    document-frequency gram order is computed over distinct texts;
    prefix filtering is exact under ANY consistent global gram order,
    so this changes candidate counts, never results.
    """
    from fractions import Fraction

    frac = Fraction(threshold).limit_denominator(1_000_000)
    p, qd = frac.numerator, frac.denominator
    grams_of = lambda c: (  # noqa: E731
        F.array_distinct(word_shingles(c, n))
        if use_words
        else F.array_distinct(char_ngrams(c, n))
    )
    # ONE digest-keyed shuffle of (id, sha2) rows — 40 bytes each,
    # the q80 dedup_exact precedent; texts themselves never shuffle —
    # assigns every doc its group representative (min id per
    # identical text). The gram stream then drops non-representative
    # docs via an id semi-join, so every downstream stage (df-rank,
    # prefix join, verify) runs over distinct texts only.
    membership = (
        df.select(
            F.col(id_col).alias("__id"),
            F.sha2(F.col(text_col), 256).alias("__dg"),
        )
        .withColumn(
            "__tid", F.min("__id").over(Window.partitionBy("__dg"))
        )
        .select("__id", "__tid")
        .localCheckpoint(eager=False)
    )
    rep_ids = membership.filter(F.col("__id") == F.col("__tid")).select(
        F.col("__tid").alias(id_col)
    )
    grams = grams_of(F.col(text_col))
    # The exploded gram stream is the pipeline's inverted index and
    # is consumed FIVE times (document frequency, the df-rank join,
    # both verification sides, the gramless guard). Materialize it
    # once — otherwise every consumer re-tokenizes and re-explodes
    # the corpus from the scan (guide §5: localCheckpoint reused
    # intermediates); PPJoin implementations build this index
    # exactly once by construction.
    # semi-join on DOC rows, then explode: filtering after the
    # explode would shuffle the full gram stream by id instead of
    # one row per document (guide §3.3 — join first, explode after)
    ex = (
        df.join(rep_ids, id_col, "left_semi")
        .select(F.col(id_col), F.explode(grams).alias("gram"))
        .localCheckpoint(eager=True)
    )
    # grams are distinct per doc → rows-per-gram IS document
    # frequency. Keep this an aggregate + join (NOT a count-over-
    # window keyed on gram): the aggregate's map-side partials shrink
    # the exchange to one row per distinct gram, where a gram-keyed
    # window would shuffle and sort the whole stream and melt down on
    # hot boilerplate grams (measured 13× slower here).
    dfreq = ex.groupBy("gram").agg(F.count("*").alias("gdf"))
    w = Window.partitionBy(id_col)
    # ranked feeds both sides of the candidate self-join; without the
    # checkpoint the df-join + per-doc rank window runs twice. The
    # set size n_g piggybacks on the rank window's per-id partition
    # (no extra exchange; measured cheaper than carrying size() of
    # the gram array through the exploded checkpoint).
    ranked = (
        ex.join(dfreq, "gram")
        .select(
            F.col(id_col),
            "gram",
            F.row_number().over(w.orderBy("gdf", "gram")).alias("r"),
            F.count("*").over(w).alias("n_g"),
        )
        .localCheckpoint(eager=True)
    )
    # α = ⌈t·n⌉ in exact integer arithmetic; prefix keeps r ≤ n − α + 1
    alpha = F.floor(
        (F.lit(p) * F.col("n_g") + F.lit(qd - 1)) / F.lit(qd)
    ).cast("long")
    prefix = ranked.filter(F.col("r") <= F.col("n_g") - alpha + 1)

    a = prefix.select(
        F.col(id_col).alias("id_a"), "gram", F.col("n_g").alias("n_a")
    )
    b = prefix.select(
        F.col(id_col).alias("id_b"), "gram", F.col("n_g").alias("n_b")
    )
    cand = (
        a.join(b, "gram")
        .filter(F.col("id_a") < F.col("id_b"))
        # size necessary condition: t·max ≤ min, both directions
        .filter(
            (F.lit(qd) * F.col("n_b") >= F.lit(p) * F.col("n_a"))
            & (F.lit(qd) * F.col("n_a") >= F.lit(p) * F.col("n_b"))
        )
        .select("id_a", "id_b", "n_a", "n_b")
        .distinct()
    )
    ea = ex.select(F.col(id_col).alias("id_a"), "gram")
    eb = ex.select(F.col(id_col).alias("id_b"), "gram")
    inter = (
        cand.join(ea, "id_a")
        .join(eb, ["id_b", "gram"])
        .groupBy("id_a", "id_b", "n_a", "n_b")
        .agg(F.count("*").alias("n_inter"))
    )
    union = F.col("n_a") + F.col("n_b") - F.col("n_inter")
    rep_pairs = inter.filter(
        F.lit(qd) * F.col("n_inter") >= F.lit(p) * union
    ).select(
        "id_a",
        "id_b",
        (F.col("n_inter").cast("double") / union).alias("jaccard"),
    )
    # expand verified distinct-text pairs to id pairs...
    cross = (
        rep_pairs.join(
            membership.select(
                F.col("__tid").alias("id_a"), F.col("__id").alias("__xa")
            ),
            "id_a",
        )
        .join(
            membership.select(
                F.col("__tid").alias("id_b"), F.col("__id").alias("__xb")
            ),
            "id_b",
        )
        .select(
            F.least("__xa", "__xb").alias("id_a"),
            F.greatest("__xa", "__xb").alias("id_b"),
            "jaccard",
        )
    )
    # ...and identical-text groups contribute their jaccard-1.0 pairs
    # (restricted to texts that produce >= 1 gram, matching the base
    # pipeline's behavior of emitting nothing for gramless docs)
    has_grams = ex.select(F.col(id_col).alias("__tid")).distinct()
    ma = membership.select("__tid", F.col("__id").alias("id_a"))
    mb = membership.select("__tid", F.col("__id").alias("id_b"))
    same = (
        ma.join(mb, "__tid")
        .filter(F.col("id_a") < F.col("id_b"))
        .join(has_grams, "__tid")
        .select("id_a", "id_b", F.lit(1.0).alias("jaccard"))
    )
    return cross.unionByName(same)


def lsh_index_build(
    df: DataFrame,
    index_path: str,
    table_name: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_words: int = 3,
    n_buckets: int = 16,
) -> None:
    """Build and PERSIST an LSH band index for incremental near-dup
    curation: the corpus reduces ONCE to its banded signature table
    (band, band_hash, id, sig) and lands as a BUCKETED table keyed by
    ``band_hash`` — pre-shuffled storage, so every later probe joins
    against it WITHOUT re-shuffling the index side (the at-rest
    co-location the bucketed-join tests pin). At 100 TB the corpus is
    signed exactly once; each new crawl batch pays only its own
    signing plus a join in which the n_docs·bands index rows never
    move.

    The table is external (data at ``index_path``); append new
    batches with :func:`lsh_index_append` after admitting them.
    """
    banded = _banded_signatures(
        df, text_col, id_col, num_hashes, bands, shingle_words
    ).select(
        F.col(id_col).alias("id"), "sig", "band", "band_hash"
    )
    (
        banded.write.mode("overwrite")
        .bucketBy(n_buckets, "band_hash")
        .sortBy("band_hash")
        .option("path", index_path)
        .saveAsTable(table_name)
    )


def lsh_probe_signatures(
    batch: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_words: int = 3,
) -> DataFrame:
    """Sign a probe batch ONCE for reuse across several
    :func:`lsh_index_probe` calls (signatures depend only on the
    batch, never on index state, so one signing legitimately serves
    probes before/after deletes and compactions — guide §1.2: a
    maintenance cycle that probes k times should not run the
    shingle→minhash pipeline k times). Eagerly checkpointed: each
    consumer reads the materialized rows."""
    return _banded_signatures(
        batch, text_col, id_col, num_hashes, bands, shingle_words
    ).localCheckpoint(eager=True)


def lsh_index_probe(
    batch: DataFrame,
    table_name: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_words: int = 3,
    jaccard_threshold: float = 0.8,
    signatures: DataFrame | None = None,
) -> DataFrame:
    """Probe a persisted LSH index with a new batch: returns
    (id_new, id_indexed, est_jaccard) pairs — exactly
    :func:`minhash_lsh_cross` of (batch, indexed corpus), but the
    corpus side comes from the bucketed index table: only the BATCH
    is signed and shuffled; the index is read in place. Anti-join the
    batch against ``id_new`` to admit only novel documents, then
    :func:`lsh_index_append` the admitted rows. Signature parameters
    must match the build (they key the band hashes).

    ``signatures`` — a pre-signed frame from
    :func:`lsh_probe_signatures` (same batch, same parameters) —
    skips re-signing when one batch probes the index several times
    across maintenance steps."""
    spark = batch.sparkSession
    banded = (
        signatures
        if signatures is not None
        else _banded_signatures(
            batch, text_col, id_col, num_hashes, bands, shingle_words
        )
    )
    probe = banded.select(
        F.col(id_col).alias("id_new"),
        F.col("sig").alias("sig_a"),
        "band",
        "band_hash",
    )
    idx = spark.table(table_name).select(
        F.col("id").alias("id_indexed"),
        F.col("sig").alias("sig_b"),
        "band",
        "band_hash",
    )
    tomb = _lsh_tombstones(spark, table_name)
    if tomb is not None:
        # deleted docs stay physically in the bucketed files until
        # the next compaction; a broadcast anti-join on the (small
        # between compactions) tombstone set hides them from every
        # probe without touching the index layout
        idx = idx.join(
            F.broadcast(tomb.select(F.col("id").alias("id_indexed"))),
            "id_indexed",
            "left_anti",
        )
    pairs = (
        probe.join(idx, on=["band", "band_hash"])
        .select("id_new", "id_indexed", "sig_a", "sig_b")
        .distinct()
    )
    return (
        pairs.select(
            "id_new",
            "id_indexed",
            _est_jaccard(num_hashes).alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= jaccard_threshold)
    )


def lsh_index_append(
    batch: DataFrame,
    table_name: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_words: int = 3,
) -> None:
    """Append a batch's banded signatures to the index table (Spark
    re-buckets the appended files to the table's bucket spec, so
    future probes keep the no-index-shuffle property)."""
    banded = _banded_signatures(
        batch, text_col, id_col, num_hashes, bands, shingle_words
    ).select(
        F.col(id_col).alias("id"), "sig", "band", "band_hash"
    )
    banded.write.mode("append").insertInto(table_name)


def _lsh_tombstone_table(table_name: str) -> str:
    return f"{table_name}_tomb"


def _lsh_tombstones(spark: SparkSession, table_name: str):
    t = _lsh_tombstone_table(table_name)
    if not spark.catalog.tableExists(t):
        return None
    return spark.table(t)


def _lsh_delete_impl(
    spark: SparkSession, table_name: str, ids: DataFrame
) -> int:
    t = _lsh_tombstone_table(table_name)
    # materialize ONCE: the write and the returned count must describe
    # the same row set even for nondeterministic input plans
    rows = (
        ids.select(F.col(ids.columns[0]).alias("id"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    rows.write.mode("append").saveAsTable(t)
    return rows.count()


def lsh_index_delete(
    spark: SparkSession, table_name: str, ids: DataFrame
) -> int:
    """DELETE documents from a persisted LSH index as a METADATA
    operation: the ids land in a tombstone side table and every
    subsequent :func:`lsh_index_probe` anti-joins them out
    (broadcast — tombstones are small between compactions). The
    bucketed signature files are untouched, so a takedown/opt-out of
    a handful of documents costs an append of a few rows, not a
    rewrite of an n_docs·bands table — the same delete-is-cheap /
    compaction-amortizes-the-rewrite split Delta/Iceberg use.
    Physical removal happens at the next :func:`lsh_index_compact`.
    Returns the number of tombstones recorded."""
    return _lsh_delete_impl(spark, table_name, ids)


def lsh_index_compact(
    spark: SparkSession,
    table_name: str,
    n_buckets: int = 16,
) -> int:
    """Physically apply accumulated tombstones: rewrite the bucketed
    signature table WITHOUT the deleted ids into a fresh generation
    directory, swap the table name to it, clear EXACTLY the applied
    tombstones, and best-effort delete the old generation's files.
    Bucketing (and therefore the probe-side no-index-shuffle
    property) is preserved by writing the new generation with the
    same ``bucketBy``. Returns the number of signature rows removed;
    no-ops (0) when there are no tombstones.

    Concurrency contract, stated honestly: tombstones appended WHILE
    the compaction runs survive it (the applied set is snapshotted up
    front and only that set is cleared — a concurrent takedown is
    never silently undone; it applies at the next compaction and
    keeps masking probes meanwhile). The name swap itself is two
    metastore renames (old → *_old, staged → name); the in-memory
    catalog has no atomic REPLACE, so a probe planning exactly inside
    that window can see a missing table and should retry — a crash
    there leaves ``{name}_old``/``{name}_staged`` for manual
    recovery, never data loss."""
    import shutil
    import uuid as _uuid

    from dataflowex_spark.sources.footer_stats import local_path

    tomb = _lsh_tombstones(spark, table_name)
    if tomb is None or tomb.limit(1).count() == 0:
        return 0
    # snapshot the APPLIED set: deletes racing this compaction append
    # to the live table and must not be cleared below
    applied = tomb.select("id").distinct().localCheckpoint(eager=True)
    old_loc = (
        spark.sql(f"DESCRIBE FORMATTED {table_name}")
        .filter(F.col("col_name") == "Location")
        .first()["data_type"]
    )
    old_path = local_path(old_loc)
    new_path = old_path.rstrip("/") + f"_g{_uuid.uuid4().hex[:8]}"
    staged = f"{table_name}_staged"
    old_name = f"{table_name}_old"
    before = spark.table(table_name).count()
    kept = spark.table(table_name).join(
        F.broadcast(applied), "id", "left_anti"
    )
    (
        kept.write.mode("overwrite")
        .bucketBy(n_buckets, "band_hash")
        .sortBy("band_hash")
        .option("path", new_path)
        .saveAsTable(staged)
    )
    removed = before - spark.table(staged).count()
    spark.sql(f"ALTER TABLE {table_name} RENAME TO {old_name}")
    spark.sql(f"ALTER TABLE {staged} RENAME TO {table_name}")
    spark.sql(f"DROP TABLE {old_name}")
    # clear ONLY the applied tombstones; later arrivals stay pending
    tomb_name = _lsh_tombstone_table(table_name)
    remaining = (
        spark.table(tomb_name)
        .join(applied, "id", "left_anti")
        .localCheckpoint(eager=True)
    )
    if remaining.limit(1).count() == 0:
        spark.sql(f"DROP TABLE {tomb_name}")
    else:
        remaining.write.mode("overwrite").saveAsTable(tomb_name)
    # the swapped name may still carry the old generation's cached
    # file listing — invalidate before anyone plans against it
    spark.catalog.refreshTable(table_name)
    shutil.rmtree(old_path, ignore_errors=True)
    return removed


def dedup_clusters_star(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 30,
) -> DataFrame:
    """Connected components via alternating LARGE-STAR / SMALL-STAR
    (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    the O(log n)-ROUND companion to :func:`dedup_clusters`'s
    min-label propagation, whose round count is the component
    DIAMETER. Near-dup graphs are usually shallow (min-label wins on
    constant factors); chain-shaped components — crawl rings, session
    stitches, entity-resolution paths — have diameter O(n), where
    min-label needs thousands of rounds and this needs ~log² n.

    Each round:
    - large-star: every node hooks its LARGER neighbors onto the
      minimum of its neighborhood (keeps the graph connected, halves
      tall structures);
    - small-star: every node and its smaller neighbors hook onto the
      neighborhood minimum (flattens into stars).
    Fixpoint = the directed larger→smaller edge set stops changing;
    the edges then form stars rooted at component minima, and the
    label read-off is one join. Same output contract as
    dedup_clusters: (node, cluster_id = min node id in component).

    Scale shape per round: two groupBy-min aggregates + two joins,
    all keyed shuffles; every frame localCheckpoints to cut lineage
    (the A18 ring pattern). Raises after ``max_iters`` rounds without
    a fixpoint (log-bounded, so hitting it means pathology)."""
    u, v = "u", "v"
    e = (
        pairs.select(F.col(id_a).alias(u), F.col(id_b).alias(v))
        .filter(F.col(u) != F.col(v))
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = (
        e.select(F.col(u).alias("node"))
        .union(e.select(F.col(v).alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iters):
        und = e.union(e.select(F.col(v).alias(u), F.col(u).alias(v)))
        mins = und.groupBy(u).agg(
            F.least(F.min(v), F.first(u)).alias("m")
        )
        large = (
            und.join(mins, u)
            .filter(F.col(v) > F.col(u))
            .select(F.col(v).alias(u), F.col("m").alias(v))
            .filter(F.col(u) != F.col(v))
            .distinct()
        )
        d = large.select(
            F.greatest(u, v).alias(u), F.least(u, v).alias(v)
        ).distinct()
        mins2 = d.groupBy(u).agg(F.min(v).alias("m"))
        e_new = (
            d.join(mins2, u)
            .select(F.col(v).alias(u), F.col("m").alias(v))
            .union(mins2.select(F.col(u), F.col("m").alias(v)))
            .filter(F.col(u) != F.col(v))
            .select(F.greatest(u, v).alias(u), F.least(u, v).alias(v))
            .distinct()
            .localCheckpoint(eager=True)
        )

        # fixpoint check by (count, xor-of-row-hash) fingerprint: one
        # cheap aggregate per side instead of two exceptAll joins per
        # round (which dominated the wall time). Both sides are
        # DISTINCT edge sets, so equal count + equal xxhash64-xor
        # implies equal sets up to a ~2^-64 per-round xor collision —
        # the one-in-1e19 failure mode is an early stop, traded
        # deliberately for halving every round's cost
        def fingerprint(frame):
            return frame.select(
                F.xxhash64(F.col(u), F.col(v)).alias("__h")
            ).agg(
                F.count("*").alias("n"),
                F.expr("bit_xor(__h)").alias("x"),
            ).collect()[0]

        fa, fb = fingerprint(e), fingerprint(e_new)
        same = (fa["n"], fa["x"]) == (fb["n"], fb["x"])
        e = e_new
        if same:
            roots = e.groupBy(u).agg(F.min(v).alias("cluster_id"))
            return (
                nodes.join(
                    roots, nodes["node"] == roots[u], "left"
                )
                .select(
                    "node",
                    F.coalesce(F.col("cluster_id"), F.col("node")).alias(
                        "cluster_id"
                    ),
                )
            )
    raise RuntimeError(
        f"dedup_clusters_star: no fixpoint after {max_iters} rounds "
        "(log-bounded convergence — this indicates a bug or adversarial "
        "input, not a deep component)"
    )


def cdc_chunk_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    w: int = 8,
    min_tokens: int = 3,
    min_docs: int = 2,
) -> DataFrame:
    """SUBSTRING-level dedup via CONTENT-DEFINED CHUNKING: documents
    are cut into variable-size chunks at positions chosen by the
    CONTENT (a rolling w-token fingerprint hitting a target pattern),
    not by fixed offsets — so a passage shared by two documents
    yields the SAME chunks even when its byte offset differs (the
    insertion-shift robustness fixed-size blocking lacks, the same
    idea rsync/LBFS/backup dedup use). Shared boilerplate then
    surfaces as chunk-hash groups spanning ≥ ``min_docs`` documents
    — the substring-granular complement to whole-document MinHash:
    near-dup docs share MOST chunks, while a common licence header or
    navigation block shared by thousands of otherwise-unrelated pages
    shows up here and nowhere else.

    Boundary rule: cut after token ``i`` when ``md5`` of the w-token
    gram ending at ``i`` starts with hex nibble '0' (P=1/16 → mean
    chunk ≈ 16 tokens). md5 keeps the rule bit-identical in the
    DuckDB oracle. Chunks under ``min_tokens`` are noise and dropped.

    100 TB shape: chunking is entirely SCAN-LOCAL (higher-order array
    exprs in whole-stage codegen — no UDF, no shuffle); the only
    shuffle is the hash aggregation on chunk_hash, whose volume is
    the chunk count (~tokens/16), with map-side partials. Never
    all-pairs. Returns (chunk_hash, n_docs, n_occ, tok_len) for
    chunks spanning ≥ min_docs distinct documents."""
    from dataflowex_spark.functions.text import tokens

    tk = tokens(F.col(text_col))
    docs = docs.select(F.col(id_col), tk.alias("__tk")).where(
        F.size("__tk") > 0
    )
    n = F.size("__tk")
    # cut positions: sequence() descends when stop < start, so guard
    # the short-doc case to an empty int array
    cs = F.when(
        n >= w,
        F.filter(
            F.sequence(F.lit(w), n),
            lambda i: F.md5(
                F.array_join(F.slice(F.col("__tk"), i - w + 1, w), " ")
            ).startswith("0"),
        ),
    ).otherwise(F.expr("array()").cast("array<int>"))
    docs = docs.select(id_col, "__tk", cs.alias("__cs"))
    bs = (
        F.when(
            (F.size("__cs") > 0)
            & (F.element_at("__cs", -1) == n),
            F.concat(F.array(F.lit(0)), F.col("__cs")),
        ).otherwise(
            F.concat(F.array(F.lit(0)), F.col("__cs"), F.array(n))
        )
    )
    docs = docs.select(id_col, "__tk", bs.alias("__bs"))
    chunks = F.transform(
        F.sequence(F.lit(1), F.size("__bs") - 1),
        lambda j: F.struct(
            F.array_join(
                F.slice(
                    F.col("__tk"),
                    F.element_at("__bs", j) + 1,
                    F.element_at("__bs", j + 1) - F.element_at("__bs", j),
                ),
                " ",
            ).alias("c"),
            (
                F.element_at("__bs", j + 1) - F.element_at("__bs", j)
            ).alias("l"),
        ),
    )
    flat = (
        docs.select(id_col, F.explode(chunks).alias("u"))
        .select(id_col, F.col("u.c").alias("c"), F.col("u.l").alias("l"))
        .where(F.col("l") >= min_tokens)
    )
    return (
        flat.groupBy(F.md5("c").alias("chunk_hash"))
        .agg(
            F.countDistinct(id_col).cast("long").alias("n_docs"),
            F.count("*").cast("long").alias("n_occ"),
            F.min("l").cast("long").alias("tok_len"),
        )
        .where(F.col("n_docs") >= min_docs)
        .orderBy(
            F.desc("n_docs"), F.desc("n_occ"), "chunk_hash"
        )
    )
