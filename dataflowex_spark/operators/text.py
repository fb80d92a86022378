"""Text-analysis operators over a documents table.

Composable Column-expression pipelines (see functions.text) — the
whole text-quality pass runs inside one codegen'd scan stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from dataflowex_spark.functions.text import (
    WS_REGEX,
    bind,
    quality_score,
    rolling_fingerprint,
    token_count,
    tokens,
    word_shingles,
)

# tiny per-language marker lexicons for the n-gram/stopword heuristic
_LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "in"],
    "de": ["der", "die", "das", "und", "ist"],
    "es": ["el", "la", "los", "que", "y"],
    "fr": ["le", "la", "les", "et", "est"],
    "zh": ["de", "shi", "le", "zai", "he"],
}


def text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document stats: chars, whitespace tokens, avg token length,
    quality score, rolling-hash fingerprint."""
    t = F.col(text_col)
    return df.withColumns(
        {
            "len_chars": F.length(t),
            "n_tokens": token_count(t),
            "avg_token_len": F.length(F.regexp_replace(t, WS_REGEX, ""))
            / F.greatest(token_count(t), F.lit(1)),
            "quality": quality_score(t),
            "fingerprint": rolling_fingerprint(t),
        }
    )


def language_id(df: DataFrame, text_col: str = "text", out_col: str = "lang_pred") -> DataFrame:
    """Marker-word language ID: score each language by hit count of
    its marker lexicon in the (lowercased) token set; argmax wins,
    'und' when nothing hits. Pure Column exprs — scan-speed."""
    toks = F.transform(tokens(F.col(text_col)), lambda x: F.lower(x))
    scores = F.array(
        *[
            F.struct(
                F.size(
                    F.array_intersect(toks, F.array(*[F.lit(w) for w in words]))
                ).alias("hits"),
                F.lit(lang).alias("lang"),
            )
            for lang, words in _LANG_MARKERS.items()
        ]
    )
    best = F.array_max(scores)
    return df.withColumn(
        out_col,
        F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und")),
    )


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al., SIGMOD '03):
    hash every word k-gram, slide a w-gram window, keep each window's
    minimum (hash, position) — the guaranteed-coverage positional
    fingerprint used for local plagiarism/overlap detection.

    Scale shape: grams, tags and window minima are ALL per-row array
    expressions — the whole selection runs inside the scan stage with
    ZERO shuffles (no per-doc window exec, no groupBy). The windowed
    min is a chain of w−1 shifted ``zip_with`` folds (same O(w·n)
    technique as :func:`word_shingles`; an index-lambda over the array
    would re-evaluate it per element). Ties inside a window break to
    the leftmost position, and duplicates from overlapping windows
    selecting the same gram are dropped per document.

    Hash = md5 hex (identical across engines → DuckDB-oracle-able);
    the position is zero-padded into the tag so lexicographic min is
    (hash, pos) min. Output: one row per (id, fp_hash, fp_pos).
    """
    grams = word_shingles(F.col(text_col), k)
    tags = F.transform(
        grams,
        lambda g, i: F.concat(
            F.md5(g), F.lit(":"), F.lpad(i.cast("string"), 8, "0")
        ),
    )

    def window_min(t):
        n = F.size(t)
        m = F.greatest(n - (w - 1), F.lit(1))
        acc = F.slice(t, 1, m)
        for j in range(1, w):
            nxt = F.slice(t, F.lit(j + 1), m)  # tail windows: NULL-padded
            acc = F.zip_with(
                acc,
                nxt,
                lambda a, b: F.when(b.isNull() | (a <= b), a).otherwise(b),
            )
        return F.array_distinct(acc)

    # let-bind the tag array: w slices + the size() refs would otherwise
    # re-evaluate shingling+md5 per reference (measured 17 s → 1.3 s)
    return df.select(
        F.col(id_col), F.explode(bind(tags, window_min)).alias("_tag")
    ).select(
        id_col,
        F.substring("_tag", 1, 32).alias("fp_hash"),
        F.split("_tag", ":")[1].cast("int").alias("fp_pos"),
    )


def tf_idf(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact TF-IDF per (doc, term): tf = term count in doc,
    idf = ln((N+1)/(df+1)) + 1 (smoothed, sklearn-style).

    Shape at scale: one explode + two hash aggregates; the per-term
    doc-frequency join is left un-hinted (the table is vocabulary-
    sized — forcing a broadcast would OOM at large corpora; AQE
    broadcasts it when it is actually small). Only the one-row
    corpus-size frame is broadcast.

    The (doc, term, tf) frame feeds BOTH the doc-frequency aggregate
    and the join probe; without materialization Spark would recompute
    the corpus scan + explode + first aggregate for each subtree
    (there is no cross-branch common-subexpression reuse in one
    action). It is therefore persisted MEMORY_AND_DISK — the same
    discipline MLlib's IDF fit uses — which cut the 10×-data wall
    ratio from 3.8× to ~data-linear. The cache is vocabulary-bounded
    per doc (distinct terms, not token instances) and spills to disk,
    so it cannot OOM at corpus scale; callers running in a larger
    pipeline can ``unpersist()`` the returned frame's lineage when
    done.
    """
    from pyspark import StorageLevel

    toks = F.explode(tokens(F.col(text_col))).alias("term")
    pairs = df.select(F.col(id_col), toks)
    tf = pairs.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    tf = tf.persist(StorageLevel.MEMORY_AND_DISK)
    # tf rows are already distinct (doc, term): df = rows per term —
    # no second scan/explode/distinct pass over the corpus
    doc_freq = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = df.select(F.countDistinct(id_col).alias("n_docs"))
    return (
        tf.join(doc_freq, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.col(id_col),
            "term",
            # INVARIANT (load-bearing downstream): tfidf >= 1 always —
            # tf >= 1 by construction and idf = ln((N+1)/(df+1)) + 1
            # >= 1 because df <= N. q89's min_by top-term relies on it
            # (IEEE negation of a value >= 1 is an exact order flip
            # with no -0.0/NaN/NULL cases). Changing this smoothing
            # (allowing idf 0, sublinear tf) re-exposes those edge
            # cases there — update q89's ordering in the same change.
            (
                F.col("tf")
                * (
                    F.log((F.col("n_docs") + 1) / (F.col("df") + 1))
                    + F.lit(1.0)
                )
            ).alias("tfidf"),
        )
    )


def line_quality_filter(
    df: DataFrame,
    text_col: str = "text",
    min_tokens: int = 4,
    banned: tuple[str, ...] = ("{",),
    out_col: str = "cleaned",
) -> DataFrame:
    """C4-style line-level boilerplate removal: split the document on
    newlines, keep lines with ≥ ``min_tokens`` whitespace tokens and
    none of the ``banned`` substrings (nav menus / code fragments),
    rejoin. Adds (out_col, n_lines_kept, n_lines_dropped).

    Pure array exprs — the whole pass runs inside the scan stage; the
    per-line token count reuses the canonical whitespace definition.
    """
    lines = F.split(F.col(text_col), "\n")

    def keep(line):
        cond = F.size(tokens(line)) >= min_tokens
        for b in banned:
            cond = cond & ~line.contains(b)
        return cond

    kept = F.filter(lines, keep)
    return df.withColumns(
        {
            "n_lines_kept": F.size(kept),
            "n_lines_dropped": F.size(lines) - F.size(kept),
            out_col: F.array_join(kept, "\n"),
        }
    )


# PII patterns spelled to parse identically under Java regex (Spark)
# and RE2 (DuckDB oracle): no \d, no \b.
EMAIL_REGEX = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
PHONE_REGEX = "[0-9]{3}-[0-9]{3}-[0-9]{4}"


def scrub_pii(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "scrubbed",
) -> DataFrame:
    """PII scrubbing for training corpora: replace emails and
    NNN-NNN-NNNN phone numbers with <EMAIL>/<PHONE> placeholders and
    count what was removed. regexp_replace/regexp_extract_all are
    JVM-side — scan-speed over 100 TB, no UDFs."""
    t = F.col(text_col)
    return df.withColumns(
        {
            "n_emails": F.size(F.regexp_extract_all(t, F.lit(EMAIL_REGEX), F.lit(0))),
            "n_phones": F.size(F.regexp_extract_all(t, F.lit(PHONE_REGEX), F.lit(0))),
            out_col: F.regexp_replace(
                F.regexp_replace(t, EMAIL_REGEX, "<EMAIL>"),
                PHONE_REGEX,
                "<PHONE>",
            ),
        }
    )


def chunk_tokens(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk: int = 32,
    overlap: int = 8,
) -> DataFrame:
    """Split documents into fixed-size token windows with overlap —
    the context-window chunking step of a training/RAG pipeline
    (chunk=max tokens per piece, overlap=tokens shared with the
    previous piece so no boundary context is lost).

    Output: (id, chunk_idx, chunk_text, n_tok); a document shorter
    than ``chunk`` yields one chunk, an empty document yields none.
    The final chunk is the tail remainder (never padded, may be short).

    Scale shape: tokenize → ``sequence`` of window starts → explode →
    ``slice``/``array_join`` — all scan-local array expressions, ZERO
    shuffles; output rows ≈ n_tokens/stride per doc. The token array
    crosses the explode as a plain attribute (Generate blocks
    projection collapse), so the slices never re-tokenize per chunk."""
    if not 0 <= overlap < chunk:
        raise ValueError(f"need 0 <= overlap ({overlap}) < chunk ({chunk})")
    stride = chunk - overlap
    base = df.select(
        F.col(id_col), tokens(F.col(text_col)).alias("__ts")
    ).filter(F.size("__ts") > 0)
    ex = base.select(
        id_col,
        "__ts",
        F.size("__ts").alias("__n"),
        F.explode(
            F.sequence(F.lit(1), F.size("__ts"), F.lit(stride))
        ).alias("__start"),
    )
    ln = F.least(F.lit(chunk), F.col("__n") - F.col("__start") + 1)
    return ex.select(
        id_col,
        ((F.col("__start") - 1) / stride).cast("long").alias("chunk_idx"),
        F.array_join(
            F.slice(F.col("__ts"), F.col("__start"), ln), " "
        ).alias("chunk_text"),
        ln.cast("long").alias("n_tok"),
    )


def repetition_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Gopher-style repetition screens per document: top-word /
    top-bigram / duplicate-token fractions (floor-quantized to ppm
    from identical BIGINT operands) and a boolean ``flagged`` at the
    published-style thresholds (>20% single word, >18% single bigram,
    >60% repeated tokens) — the threshold tests are pure INTEGER
    cross-multiplications, never ``frac > 0.2`` on a double. All
    aggregation is per-doc hash aggs on (id, word/bigram) — partial-
    combine-friendly, no windows, no self-joins; bigrams via the
    scan-local zip-with-tail idiom. Powers q189 and the curation
    example's repetition gate."""
    tok = df.select(id_col, F.split(text_col, " ").alias("__t"))
    words = tok.select(id_col, F.explode("__t").alias("__w"))
    wcount = words.groupBy(id_col, "__w").agg(F.count("*").alias("c"))
    wstats = wcount.groupBy(id_col).agg(
        F.sum("c").alias("n_tok"),
        F.count("*").alias("n_distinct"),
        F.max("c").alias("top_word_cnt"),
    )
    n = F.size("__t")
    m = F.greatest(n - 1, F.lit(0))
    bigrams = F.zip_with(
        F.slice("__t", 1, m),
        F.slice("__t", 2, m),
        lambda x, y: F.concat(x, F.lit(" "), y),
    )
    bstats = (
        tok.select(id_col, F.explode(bigrams).alias("__b"))
        .groupBy(id_col, "__b")
        .agg(F.count("*").alias("c"))
        .groupBy(id_col)
        .agg(
            F.sum("c").alias("n_bigrams"),
            F.max("c").alias("top_bigram_cnt"),
        )
    )
    w, b = wstats.alias("w"), bstats.alias("b")
    return (
        w.join(b, F.col(f"w.{id_col}") == F.col(f"b.{id_col}"), "left")
        .select(
            F.col(f"w.{id_col}").alias(id_col),
            "n_tok",
            F.floor(
                F.lit(1_000_000) * F.col("top_word_cnt") / F.col("n_tok")
            ).alias("top_word_q"),
            F.coalesce(
                F.floor(
                    F.lit(1_000_000)
                    * F.col("top_bigram_cnt")
                    / F.col("n_bigrams")
                ),
                F.lit(0),
            ).alias("top_bigram_q"),
            F.floor(
                F.lit(1_000_000)
                * (F.col("n_tok") - F.col("n_distinct"))
                / F.col("n_tok")
            ).alias("dup_token_q"),
            (
                (F.col("top_word_cnt") * 5 > F.col("n_tok"))
                | F.coalesce(
                    F.col("top_bigram_cnt") * 100 > F.col("n_bigrams") * 18,
                    F.lit(False),
                )
                | (
                    (F.col("n_tok") - F.col("n_distinct")) * 10
                    > F.col("n_tok") * 6
                )
            ).alias("flagged"),
        )
    )


# ICU Normalizer method and its `compat` flag for each Unicode form
_NORMALIZER_FORMS = {
    "NFC": ("compose", False),
    "NFD": ("decompose", False),
    "NFKC": ("compose", True),
    "NFKD": ("decompose", True),
}


def normalize_unicode(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "normalized",
    form: str = "NFC",
) -> DataFrame:
    """Unicode normalization (NFC/NFD/NFKC/NFKD) of a text column —
    the canonicalization pass a multilingual corpus needs BEFORE any
    hashing/dedup (the same text with composed vs decomposed accents
    hashes differently and silently defeats exact dedup).

    Runs in the JVM: ``reflect`` calls the static
    ``com.ibm.icu.text.Normalizer.compose/decompose(String, boolean)``
    of the ICU4J jar Spark ships for collations. No Python worker is
    involved, so a sort or sampling job over the result does not pay a
    second Python round trip. Scan-local, zero shuffles. The NULL guard
    is needed because ``reflect`` rejects a NULL argument.

    ICU 77.1 implements Unicode 16.0, newer than Python 3.11's
    ``unicodedata`` (14.0); results differ only on characters assigned
    after 14.0 (e.g. NFC composes Kirat Rai U+16D67 U+16D67 to
    U+16D68). A ``form`` outside the four raises ``ValueError`` here,
    before any job runs."""
    if form not in _NORMALIZER_FORMS:
        raise ValueError(
            f"normalize_unicode form {form!r}: "
            f"expected one of {', '.join(_NORMALIZER_FORMS)}"
        )
    method, compat = _NORMALIZER_FORMS[form]
    c = F.col(text_col)
    return df.withColumn(
        out_col,
        F.when(
            c.isNotNull(),
            F.reflect(
                F.lit("com.ibm.icu.text.Normalizer"), F.lit(method), c, F.lit(compat)
            ),
        ),
    )


def heavy_hitters(
    df: DataFrame,
    col: str,
    threshold_inverse: int = 200,
    slack: int = 4,
) -> DataFrame:
    """GUARANTEED heavy hitters: every value with frequency >
    n/``threshold_inverse``, found with a two-pass Misra–Gries
    sketch + exact verification — never a full-table GROUP BY over
    all distinct values.

    Pass 1 (mapInPandas, scan-local): each Arrow batch keeps an
    MG(k·slack) counter summary — at most k·slack candidate values
    per batch, O(k) memory. Pigeonhole: any GLOBAL heavy hitter is a
    local heavy hitter in at least one batch, so the union of batch
    candidates is a SUPERSET of the answer (the sketch can only
    over-generate, never miss).
    Pass 2: exact counts FOR CANDIDATES ONLY (broadcast semi-join —
    the aggregate touches candidate rows, not the full distinct
    domain) with the HAVING cutoff.

    Output (value, cnt) is therefore EXACT — the sketch bounds the
    candidate set, the verify pass restores exactness, which is why
    the DuckDB oracle can be a plain GROUP BY … HAVING."""
    import pandas

    k = threshold_inverse * slack

    def gen(batches):
        for pdf in batches:
            counters: dict[str, int] = {}
            for v in pdf[col]:
                if v is None:
                    continue
                if v in counters:
                    counters[v] += 1
                elif len(counters) < k:
                    counters[v] = 1
                else:  # decrement-all step of Misra–Gries
                    dead = []
                    for key in counters:
                        counters[key] -= 1
                        if counters[key] == 0:
                            dead.append(key)
                    for key in dead:
                        del counters[key]
            yield pandas.DataFrame({col: list(counters.keys())})

    candidates = (
        df.select(col).mapInPandas(gen, schema=f"{col} string").distinct()
    )
    total = df.filter(F.col(col).isNotNull()).count()
    cutoff = total // threshold_inverse
    return (
        df.join(F.broadcast(candidates), col, "left_semi")
        .groupBy(col)
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") > cutoff)
    )


def readability_scores(
    df: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Flesch reading-ease per document — the classic text-quality
    screen (a corpus-curation signal next to the Gopher screens and
    stopword ratios).

    score = 206.835 − 1.015·(words/sentences) − 84.6·(syllables/word)

    Every count is a pure scan-local array expression (split +
    filter + aggregate higher-order functions — whole-stage codegen,
    no shuffle, no Python): words are non-empty whitespace tokens,
    sentences are non-blank ``[.!?]+`` segments (min 1), and
    syllables use the standard vowel-group heuristic
    (``[aeiouy]+`` runs per lowercased token, min 1 per word).
    The heuristic is pinned identically in the DuckDB oracle."""
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), WS_REGEX), lambda t: t != ""
    )
    sentences = F.greatest(
        F.size(
            F.filter(
                F.split(F.col(text_col), r"[.!?]+"),
                lambda s: F.trim(s) != "",
            )
        ),
        F.lit(1),
    )
    syllables = F.aggregate(
        toks,
        F.lit(0),
        lambda acc, t: acc
        + F.greatest(
            F.size(F.regexp_extract_all(t, F.lit("[aeiouy]+"), F.lit(0))),
            F.lit(1),
        ),
    )
    words = F.greatest(F.size(toks), F.lit(1))
    return df.withColumn(
        "flesch",
        F.lit(206.835)
        - F.lit(1.015) * (words.cast("double") / sentences)
        - F.lit(84.6) * (syllables.cast("double") / words),
    )


def compression_ratio(
    df: DataFrame,
    text_col: str = "text",
    level: int = 6,
) -> DataFrame:
    """Per-document zlib COMPRESSIBILITY — ``compressed_len``,
    ``raw_len``, and their ratio appended as columns. The
    CCNet/Dolma-style low-entropy screen: machine-generated
    boilerplate, keyword stuffing, and template spam compress far
    better than natural prose (ratio ≪ the ~0.3–0.5 band typical of
    clean text), while random/encrypted garbage compresses worse
    (ratio ≈ 1); both tails are cut in corpus curation.

    One of the DECLARED pandas operators (zlib is Python-side):
    Arrow-batched ``mapInPandas``, all other columns pass through,
    deterministic for a fixed ``level``. Scale shape: scan-local map,
    no shuffle; the UDF touches each row once."""
    import pandas as pd  # noqa: F401  (worker-side import)

    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        list(df.schema.fields)
        + [
            StructField("raw_len", LongType()),
            StructField("compressed_len", LongType()),
            StructField("compression_ratio", DoubleType()),
        ]
    )

    def gen(it):
        import zlib

        for pdf in it:
            texts = pdf[text_col].fillna("")
            raw = texts.str.encode("utf-8")
            pdf["raw_len"] = raw.str.len().astype("int64")
            pdf["compressed_len"] = [
                len(zlib.compress(b, level)) for b in raw
            ]
            pdf["compression_ratio"] = [
                (c / r) if r else 1.0
                for c, r in zip(pdf["compressed_len"], pdf["raw_len"])
            ]
            yield pdf

    return df.mapInPandas(gen, schema=out_schema)


def bm25_scores(
    df: DataFrame,
    query_terms: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 retrieval scores per document for a (small) query
    term set — the doc-length-normalized successor to :func:`tf_idf`
    and the standard lexical-retrieval baseline a curation pipeline
    uses for topic-targeted corpus selection.

    ``query_terms`` must have a ``term`` column (typically a handful
    of rows — it is broadcast; the corpus never shuffles to filter).
    Per matched (doc, term):

        idf(t) = ln((N − df + 0.5)/(df + 0.5) + 1)      (Lucene form)
        s(d,t) = idf · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))

    Scale shape: one explode + hash-aggregate to (doc, term, tf); the
    broadcast semi-join with the query terms shrinks the frame to
    matches BEFORE the doc-length join; N/avgdl ride a broadcast
    1-row aggregate; df comes from the already-distinct tf frame.
    All counts are integers — only ln() and the final fold carry
    float order, absorbed by the caller's rounding.

    Returns (id_col, bm25) for documents matching ≥1 query term.
    """
    toks = F.filter(
        F.split(F.col(text_col), WS_REGEX), lambda t: t != F.lit("")
    )
    base = df.select(F.col(id_col), toks.alias("__ts"))
    dl = base.select(id_col, F.size("__ts").alias("__dl"))
    stats = dl.agg(
        F.count("*").alias("__n_docs"),
        F.sum("__dl").alias("__tot"),
    )
    tf = (
        base.select(id_col, F.explode("__ts").alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count("*").alias("__tf"))
    )
    doc_freq = tf.groupBy("term").agg(F.count("*").alias("__df"))
    qt = doc_freq.join(F.broadcast(query_terms.select("term")), "term")
    scored = (
        tf.join(F.broadcast(qt), "term")
        .join(dl, id_col)
        .crossJoin(F.broadcast(stats))
        .select(
            F.col(id_col),
            (
                F.log(
                    (F.col("__n_docs") - F.col("__df") + 0.5)
                    / (F.col("__df") + 0.5)
                    + 1.0
                )
                * (F.col("__tf") * F.lit(k1 + 1.0))
                / (
                    F.col("__tf")
                    + F.lit(k1)
                    * (
                        F.lit(1.0 - b)
                        + F.lit(b)
                        * F.col("__dl")
                        / (
                            F.col("__tot").cast("double")
                            / F.col("__n_docs")
                        )
                    )
                )
            ).alias("__s"),
        )
    )
    return scored.groupBy(id_col).agg(F.sum("__s").alias("bm25"))


def naive_bayes_label(
    df: DataFrame,
    label_col: str = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Multinomial Naive Bayes document classifier (add-one smoothing),
    trained and scored distributedly — the classic cheap text
    classifier a curation pipeline uses for domain/quality routing
    when a full model is overkill.

    Per class c and document d over token counts tf(d,t):

        score(d,c) = ln P(c) + Σ_t tf·ln((n(c,t)+1)/(N(c)+V))

    Every ln term is floor-quantized to a 1e-6 BIGINT **before**
    multiplication and summation (the q169 convention), so per-doc
    class scores are exact integer math in any reduction order and
    the argmax is engine-deterministic (score desc, class asc).

    Scale shape: one token-stream shuffle to (class, term) counts;
    the smoothed log-prob grid is |vocab|·|classes| — broadcast to
    the (doc, term, tf) frame, so the corpus shuffles once for tf and
    once keyed by doc for the per-class fold; argmax is a window
    PARTITIONED by document (never global). Returns
    (id_col, label_col, pred, score_q).
    """
    toks = F.filter(
        F.split(F.col(text_col), WS_REGEX), lambda t: t != F.lit("")
    )
    base = df.select(
        F.col(id_col), F.col(label_col), toks.alias("__ts")
    )
    # the token stream feeds BOTH the per-doc tf counts and the
    # per-(class, term) training counts — materialize it once (the
    # q235/q117 inverted-index lesson: each reference otherwise
    # re-tokenizes and re-explodes the corpus from the scan)
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
    stream = base.select(
        id_col, label_col, F.explode("__ts").alias("term")
    ).localCheckpoint(eager=True)
    tf = stream.groupBy(id_col, "term").agg(F.count("*").alias("__tf"))
    # training counts: per-(class, term), per-class totals, vocab size
    ct = stream.groupBy(label_col, "term").agg(F.count("*").alias("__c"))
    tot = ct.groupBy(label_col).agg(F.sum("__c").alias("__tot"))
    vocab = ct.select("term").distinct()
    v = vocab.agg(F.count("*").alias("__v"))
    classes = df.groupBy(label_col).agg(F.count("*").alias("__nd"))
    n = df.agg(F.count("*").alias("__n"))
    prior = classes.crossJoin(F.broadcast(n)).select(
        F.col(label_col).alias("__cls"),
        F.floor(
            1e6 * F.log(F.col("__nd") / F.col("__n").cast("double"))
        )
        .cast("long")
        .alias("__prior_q"),
    )
    grid = (
        vocab.crossJoin(F.broadcast(classes.select(label_col)))
        .join(ct, ["term", label_col], "left")
        .join(F.broadcast(tot), label_col)
        .crossJoin(F.broadcast(v))
        .select(
            "term",
            F.col(label_col).alias("__cls"),
            F.floor(
                1e6
                * F.log(
                    (F.coalesce(F.col("__c"), F.lit(0)) + 1.0)
                    / (F.col("__tot") + F.col("__v")).cast("double")
                )
            )
            .cast("long")
            .alias("__w_q"),
        )
    )
    scored = (
        tf.join(F.broadcast(grid), "term")
        .groupBy(id_col, "__cls")
        .agg(F.sum(F.col("__tf") * F.col("__w_q")).alias("__s"))
        .join(F.broadcast(prior), "__cls")
        .select(
            id_col,
            "__cls",
            (F.col("__s") + F.col("__prior_q")).alias("score_q"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("score_q").desc(), F.col("__cls")
    )
    best = (
        scored.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") == 1)
        .select(id_col, F.col("__cls").alias("pred"), "score_q")
    )
    return best.join(
        df.select(id_col, label_col), id_col
    ).select(id_col, label_col, "pred", "score_q")


def dsir_log_weights(
    raw: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    n_buckets: int = 4096,
    id_col: str = "doc_id",
):
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every RAW
    document by how target-like its hashed n-gram distribution is —
    log w(d) = Σ over d's token buckets of log(p_target[b]/p_raw[b]),
    the log importance ratio under hashed-multinomial language
    models. The production data-selection method behind
    target-domain pretraining mixes.

    Plan shape: both corpora reduce to n_buckets-row count tables
    (one explode + hash agg each, Laplace-smoothed); the per-bucket
    log-ratio table BROADCASTS; each raw document's weight is one
    scan-local explode + broadcast join + sum — the corpus shuffles
    only on doc_id for the final per-doc sum. At 100 TB: two bounded
    histogram passes plus one weight pass; nothing all-pairs, no
    driver row-scale data. log() here is engine-side scoring (no SQL
    oracle claims ride on it); determinism comes from exact integer
    bucket counts and a fixed summation via exact per-bucket doubles.

    Returns (id_col, n_tokens, log_w double)."""
    from dataflowex_spark.functions.text import WS_REGEX

    def buckets(df):
        return df.select(
            F.col(id_col),
            F.explode(F.split(F.lower(F.col(text_col)), WS_REGEX)).alias(
                "__tok"
            ),
        ).filter(F.col("__tok") != "").select(
            id_col,
            F.pmod(
                F.conv(
                    F.substring(F.md5(F.col("__tok")), 1, 15), 16, 10
                ).cast("bigint"),
                F.lit(n_buckets),
            ).alias("__b"),
        )

    # the raw token-bucket stream feeds the histogram AND the final
    # weight join — materialize it once (each reference otherwise
    # re-tokenizes + re-hashes the corpus from the scan); the token
    # totals come from the bounded histograms (Σ counts == stream
    # count), not from extra corpus passes — 5 tokenize passes → 2
    # (one per corpus), the rest aggregate ≤ n_buckets rows.
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
    raw_b = buckets(raw).localCheckpoint(eager=True)
    raw_hist = raw_b.groupBy("__b").agg(
        F.count(F.lit(1)).cast("long").alias("c_raw")
    )
    tgt_hist = buckets(target).groupBy("__b").agg(
        F.count(F.lit(1)).cast("long").alias("c_tgt")
    )
    n_raw = raw_hist.agg(F.sum("c_raw")).first()[0] or 0
    n_tgt = tgt_hist.agg(F.sum("c_tgt")).first()[0] or 0
    grid = raw.sparkSession.range(n_buckets).select(
        F.col("id").alias("__b")
    )
    # Laplace(+1) smoothing keeps every bucket's ratio finite
    ratios = (
        grid.join(raw_hist, "__b", "left")
        .join(tgt_hist, "__b", "left")
        .select(
            "__b",
            (
                F.log(
                    (F.coalesce(F.col("c_tgt"), F.lit(0)) + 1).cast(
                        "double"
                    )
                    / F.lit(float(n_tgt + n_buckets))
                )
                - F.log(
                    (F.coalesce(F.col("c_raw"), F.lit(0)) + 1).cast(
                        "double"
                    )
                    / F.lit(float(n_raw + n_buckets))
                )
            ).alias("__lr"),
        )
    )
    return (
        raw_b.join(F.broadcast(ratios), "__b")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum("__lr").alias("log_w"),
        )
    )


def dsir_sample(
    weights: DataFrame,
    k: int,
    id_col: str = "doc_id",
    temperature: float = 1.0,
    seed: str = "dsir",
):
    """Deterministic importance RESAMPLING of ``k`` docs from the
    weight frame via Gumbel-top-k: key = log_w/T + Gumbel(md5-hash
    uniform) — an exact weighted sample WITHOUT replacement whose
    randomness is a hash (bit-reproducible across engines, runs, and
    partitionings; the q359 hash-draw idiom). Distributed as a plain
    top-k (TakeOrdered — per-partition heaps, no global sort
    materialization). Returns the selected (id_col, log_w, gkey)."""
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(seed + "#"), F.col(id_col).cast("string"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("double")
        / F.lit(float(1 << 60))
    )
    # u in (0,1); Gumbel = -log(-log(u))
    gkey = F.col("log_w") / F.lit(float(temperature)) - F.log(
        -F.log(u)
    )
    return (
        weights.select(id_col, "log_w", gkey.alias("gkey"))
        .orderBy(F.col("gkey").desc(), F.col(id_col))
        .limit(k)
    )
