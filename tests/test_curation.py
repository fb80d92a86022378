"""Corpus-curation operator tests (q188–q192): segment dedup with
reassembly, Gopher repetition screens, per-source policy report,
duplicated-span detection, and FFT audio featurization — each against
handcrafted fixtures with known answers (the sf-dir selfcheck covers
the DuckDB differential; these pin the SEMANTICS)."""

from __future__ import annotations

import numpy as np
from pyspark.sql import Row

from pyspark.sql import functions as F
from dataflowex_spark.catalog import Catalog
from dataflowex_spark.queries import REGISTRY

DOC_SCHEMA = (
    "doc_id long, text string, lang string, source string, n_chars long"
)


def _write_docs(spark, tmp_path, rows):
    spark.createDataFrame(rows, DOC_SCHEMA).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    return str(tmp_path)


def _toks(prefix, n):
    return " ".join(f"{prefix}{i}" for i in range(n))


def test_segment_dedup_reassembly(spark, tmp_path):
    seg_a = _toks("a", 10)
    seg_b = _toks("b", 10)
    seg_c = _toks("c", 10)
    seg_d = _toks("d", 10)
    sf = _write_docs(
        spark,
        tmp_path,
        [
            (1, f"{seg_a} {seg_b}", "en", "s", 0),
            (2, f"{seg_a} {seg_c}", "en", "s", 0),  # first segment is a copy
            (3, seg_d, "en", "s", 0),
        ],
    )
    fn, _ = REGISTRY["q188_segment_dedup"]
    got = {r.doc_id: (r.kept_text, r.removed_segments)
           for r in fn(spark, sf).collect()}
    assert got[1] == (f"{seg_a} {seg_b}", 0)  # doc 1 owns the first copy
    assert got[2] == (seg_c, 1)               # copy removed, remainder kept
    assert got[3] == (seg_d, 0)


def test_segment_dedup_all_removed(spark, tmp_path):
    seg_a = _toks("a", 10)
    sf = _write_docs(
        spark,
        tmp_path,
        [(1, seg_a, "en", "s", 0), (2, seg_a, "en", "s", 0)],
    )
    fn, _ = REGISTRY["q188_segment_dedup"]
    got = {r.doc_id: (r.kept_text, r.removed_segments)
           for r in fn(spark, sf).collect()}
    assert got[1] == (seg_a, 0)
    assert got[2] == ("", 1)  # fully deduplicated doc reassembles empty


def test_repetition_stats_flags(spark, tmp_path):
    sf = _write_docs(
        spark,
        tmp_path,
        [
            (1, "x x x x x x x x", "en", "s", 0),        # one word repeated
            (2, "a b c d e f g h", "en", "s", 0),        # fully distinct
            (3, "p q p q p q p q p q", "en", "s", 0),    # one bigram loop
        ],
    )
    fn, _ = REGISTRY["q189_repetition_stats"]
    got = {r.doc_id: r for r in fn(spark, sf).collect()}
    assert got[1].top_word_q == 1_000_000 and bool(got[1].flagged)
    assert got[2].top_word_q == 125_000 and not got[2].flagged
    assert got[2].dup_token_q == 0
    # "p q" appears 5 times of 9 bigrams -> 555555 ppm, > 18% flag
    assert got[3].top_bigram_q == 555_555 and bool(got[3].flagged)


def test_source_curation_decisions(spark, tmp_path):
    big = _toks("w", 800)  # 800 tokens -> over the 1400 budget with 2 docs
    sf = _write_docs(
        spark,
        tmp_path,
        [
            (1, "dup dup dup", "en", "srcA", 0),
            (2, "dup dup dup", "en", "srcA", 0),  # exact copy -> 50% dups
            (3, big, "en", "srcB", 0),
            (4, big + " extra", "en", "srcB", 0),
            (5, "tiny unique doc", "en", "srcC", 0),
        ],
    )
    fn, _ = REGISTRY["q190_source_curation"]
    got = {r.source: r for r in fn(spark, sf).collect()}
    assert got["srcA"].exact_dups == 1 and got["srcA"].decision == "drop"
    assert got["srcA"].dup_rate_q == 500_000
    assert got["srcB"].decision == "downsample"
    assert got["srcC"].decision == "keep" and got["srcC"].exact_dups == 0


def test_dup_span_detection_runs(spark, tmp_path):
    shared = _toks("s", 12)  # 12 shared tokens -> 5 shared 8-grams
    sf = _write_docs(
        spark,
        tmp_path,
        [
            (1, f"{shared} {_toks('u', 8)}", "en", "s", 0),
            (2, f"{_toks('v', 9)} {shared}", "en", "s", 0),
            (3, _toks("z", 20), "en", "s", 0),  # nothing shared
        ],
    )
    fn, _ = REGISTRY["q191_dup_span_detection"]
    got = {r.doc_id: r for r in fn(spark, sf).collect()}
    # only grams fully inside the shared window match: 12-8+1 = 5,
    # consecutive -> one span of length 5 in each sharing doc
    assert got[1].longest_run == 5 and got[1].n_spans == 1
    assert got[1].dup_grams == 5
    assert got[2].longest_run == 5 and got[2].n_spans == 1
    assert 3 not in got  # clean doc emits no row


def test_spectral_features_recovers_tone(spark):
    from dataflowex_spark.operators import multimodal

    def sine_wav(freq, rate=8000, n=2000):
        t = np.arange(n) / rate
        return multimodal.encode_wav(
            (12000 * np.sin(2 * np.pi * freq * t)).astype(np.int16),
            rate=rate,
        )

    rows = [
        Row(media=Row(uri="mem://500", media_type="audio/wav",
                      payload=bytearray(sine_wav(500.0)), meta={})),
        Row(media=Row(uri="mem://1500", media_type="audio/wav",
                      payload=bytearray(sine_wav(1500.0)), meta={})),
        Row(media=Row(uri="mem://junk", media_type="audio/mp3",
                      payload=bytearray(b"ID3 not a wav"), meta={})),
    ]
    df = spark.createDataFrame(
        rows, schema=f"media struct<{multimodal.MEDIA_SCHEMA}>"
    )
    got = {r.uri: r for r in multimodal.spectral_features(df).collect()}
    assert got["mem://500"].peak_hz == 500.0
    assert got["mem://1500"].peak_hz == 1500.0
    assert abs(got["mem://500"].centroid_hz - 500.0) < 1.0
    # 8 bands over 0..4000 Hz: 500 Hz -> band 1, 1500 Hz -> band 3
    b500 = got["mem://500"].band_energy_q
    b1500 = got["mem://1500"].band_energy_q
    assert b500[1] > 990_000 and sum(b500) <= 1_000_000
    assert b1500[3] > 990_000
    # non-WAV rows quarantine as nulls, batch survives
    assert got["mem://junk"].peak_hz is None


def test_audio_spectra_query_rows(spark, sf_dir):
    fn, _ = REGISTRY["q192_audio_spectra"]
    rows = fn(spark, sf_dir).collect()
    assert len(rows) == 64
    for r in rows:
        doc_id = int(r.uri.rsplit("/", 1)[1])
        want = 200.0 + (doc_id % 16) * 200.0
        assert abs(r.peak_hz - want) <= 4.0  # one FFT bin


def test_k_core_peeling(spark):
    """4-clique + pendant chain: the 3-core is exactly the clique
    (peeling must cascade down the chain), and k=5 empties the graph."""
    from dataflowex_spark.operators.graph import k_core

    edges = spark.createDataFrame(
        [
            # 4-clique on 1..4
            (1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
            # chain hanging off the clique: 4-5-6-7
            (4, 5), (5, 6), (6, 7),
            # noise: duplicate + reversed + self-loop
            (2, 1), (3, 4), (7, 7),
        ],
        "src long, dst long",
    )
    core3 = {r.node: r.degree for r in k_core(edges, k=3).collect()}
    assert core3 == {1: 3, 2: 3, 3: 3, 4: 3}  # chain peeled away fully
    core2 = {r.node for r in k_core(edges, k=2).collect()}
    assert core2 == {1, 2, 3, 4}  # chain ends cascade: 7 then 6 then 5
    assert k_core(edges, k=5).isEmpty()


def test_semantic_dedup_handcrafted_clusters(spark):
    """Two tight clusters + one outlier: within-cluster near-identical
    vectors collapse onto the min-id representative; the outlier and
    the cross-cluster pair survive."""
    from dataflowex_spark.operators.similarity import semantic_dedup

    def v(x, y, jitter=0.0):
        base = np.array([x, y] + [0.0] * 6)
        base[2] += jitter
        return [float(a) for a in base]

    rows = [
        (1, v(10.0, 0.0)),           # cluster A canonical
        (2, v(10.0, 0.0, 0.01)),     # ~identical to 1
        (3, v(10.0, 0.0, 0.02)),     # ~identical to 1
        (4, v(0.0, 10.0)),           # cluster B canonical
        (5, v(0.0, 10.0, 0.015)),    # ~identical to 4
        (6, v(7.0, 7.0)),            # between clusters, below threshold
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {r.vec_id: (r.keep, r.dup_of)
           for r in semantic_dedup(df, threshold=0.999, n_cells=2,
                                   seed=7).collect()}
    assert got[1] == (True, None)
    assert got[2] == (False, 1) and got[3] == (False, 1)
    assert got[4] == (True, None) and got[5] == (False, 4)
    assert got[6][0] is True  # cos(6, cluster axes) ~ 0.707 < 0.999


def test_incremental_join_delta_terms(spark):
    """Each term of Δ(A⋈B) = ΔA⋈B + A⋈ΔB + ΔA⋈ΔB carries rows when
    batch keys interleave, and the accumulated union equals the full
    recompute exactly."""
    from dataflowex_spark.operators.etl import incremental_join_delta

    a = spark.createDataFrame(
        [(k, f"a{k}") for k in range(12)], "k long, av string"
    )
    b = spark.createDataFrame(
        [(k, f"b{k}") for k in range(12)], "k long, bv string"
    )
    a_old = b_old = None
    seen = []
    for i in range(3):
        da = a.filter((F.col("k") % 3) == i)
        db = b.filter((F.col("k") + 1) % 3 == i)  # offset: terms interleave
        delta = incremental_join_delta(a_old, b_old, da, db, on="k")
        if delta is not None:
            seen.append(delta)
        a_old = da if a_old is None else a_old.unionByName(da)
        b_old = db if b_old is None else b_old.unionByName(db)
    inc = seen[0]
    for s in seen[1:]:
        inc = inc.unionByName(s)
    got = sorted((r.k, r.av, r.bv) for r in inc.collect())
    want = sorted((r.k, r.av, r.bv) for r in a.join(b, "k").collect())
    assert got == want and len(got) == 12
    # round 1 must contain BOTH a cross-batch term and the ΔA⋈ΔB term
    r1 = seen[1].collect()
    assert len(r1) > 0


def test_sample_frames_real_ppm_stream(spark):
    """Video-as-netpbm-stream: frames actually decode and sample —
    every 3rd frame of a 10-frame stream comes back with its own
    pixels; a pointer-only row keeps the null-frame plumbing."""
    from dataflowex_spark.operators import multimodal

    frames = [
        np.full((4, 5, 3), i * 20, dtype=np.uint8) for i in range(10)
    ]
    stream = multimodal.encode_ppm_stream(frames)
    rows = [
        Row(media=Row(uri="mem://vid", media_type="video/x-ppm-stream",
                      payload=bytearray(stream), meta={})),
        Row(media=Row(uri="mem://ptr", media_type="video/mp4",
                      payload=None, meta={})),
    ]
    df = spark.createDataFrame(
        rows, schema=f"media struct<{multimodal.MEDIA_SCHEMA}>"
    )
    got = multimodal.sample_frames(df, every_n=3, max_frames=4).collect()
    vid = sorted(
        (r for r in got if r.uri == "mem://vid"), key=lambda r: r.frame_index
    )
    assert [r.frame_index for r in vid] == [0, 3, 6, 9]
    for r in vid:
        d = multimodal.decode_image(bytes(r.frame))
        assert (d["width"], d["height"]) == (5, 4)
        assert int(d["pixels"][0, 0, 0]) == r.frame_index * 20
    ptr = [r for r in got if r.uri == "mem://ptr"]
    assert len(ptr) == 4 and all(r.frame is None for r in ptr)


def test_video_frames_query_content(spark, sf_dir):
    """q205: sampled frame indexes are {0,4,8} per video and the
    synthesized brightness pattern (doc_id + 11*idx mod 256) survives
    the stream→sample→decode chain byte-exactly."""
    from dataflowex_spark.operators import multimodal

    fn, _ = REGISTRY["q205_video_frames"]
    rows = fn(spark, sf_dir).collect()
    assert len(rows) == 150
    by_vid = {}
    for r in rows:
        by_vid.setdefault(r.video_uri, []).append(r.frame_index)
    assert all(sorted(v) == [0, 4, 8] for v in by_vid.values())

    # decode one video's frames directly and pin pixel values
    frames = [
        np.full((8, 8, 3), (7 + 11 * j) % 256, dtype=np.uint8)
        for j in range(12)
    ]
    stream = multimodal.encode_ppm_stream(frames)
    split = multimodal._split_ppm_stream(stream)
    assert len(split) == 12
    for j in (0, 4, 8):
        d = multimodal.decode_image(split[j])
        assert int(d["pixels"][0, 0, 0]) == (7 + 11 * j) % 256


def test_schema_diff_contract_gate(spark, tmp_path):
    from dataflowex_spark.sources import schema_diff

    a = tmp_path / "a"
    b = tmp_path / "b"
    spark.createDataFrame(
        [(1, "x", 1.5)], "id long, name string, score double"
    ).write.parquet(str(a))
    spark.createDataFrame(
        [(1, 2, "new")], "id long, score int, extra string"
    ).write.parquet(str(b))
    got = {r.column: (r.change, r.from_type, r.to_type)
           for r in schema_diff(spark, str(a), str(b)).collect()}
    assert got == {
        "name": ("removed", "string", None),
        "score": ("type_changed", "double", "int"),
        "extra": ("added", None, "string"),
    }
    # identical schemas -> empty diff
    spark.createDataFrame([(2, "y", 9.9)], "id long, name string, score double").write.mode("overwrite").parquet(str(b))
    assert schema_diff(spark, str(a), str(b)).isEmpty()


def test_approx_percentiles_within_rank_error(spark, sf_dir):
    """GK sketch contract: each approximate percentile's RANK in the
    exact sorted data is within accuracy-implied tolerance of the
    target rank."""
    fn, _ = REGISTRY["q209_approx_percentiles"]
    approx = {r.o_orderpriority: (r.p50, r.p95, r.p99)
              for r in fn(spark, sf_dir).collect()}
    orders = Catalog(spark, sf_dir)["orders"].select(
        "o_orderpriority",
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    import bisect

    for prio, vals in approx.items():
        exact = sorted(
            r.cents
            for r in orders.filter(F.col("o_orderpriority") == prio).collect()
        )
        n = len(exact)
        for target, got in zip((0.5, 0.95, 0.99), vals):
            rank = bisect.bisect_left(exact, got)
            # GK with accuracy=1000 → rank error ≤ n/1000 (+1 slack)
            assert abs(rank - target * n) <= n / 1000 + 1, (prio, target)


def test_bpe_train_and_encode(spark):
    """BPE semantics on a corpus with known statistics: 'ab' is the
    most frequent pair, merges are deterministic, and encoding
    compresses repeated subwords while passing unseen words through
    as characters."""
    from dataflowex_spark.operators.bpe import bpe_encode, bpe_train

    df = spark.createDataFrame(
        [(1, "abab abab abc"), (2, "abab zq")], "doc_id long, text string"
    )
    merges = bpe_train(df, num_merges=3)
    # 'a'+'b' dominates (appears 2x in each 'abab' and 1x in 'abc')
    assert merges[0] == ("a", "b")
    # ('ab','ab') and ('ab','</w>') tie at 3; '</w>' sorts before 'ab'
    # so the deterministic tie-break picks ('ab','</w>')
    assert merges[1] == ("ab", "</w>")
    assert merges[2] == ("ab", "ab</w>")

    enc = bpe_encode(df, merges)
    toks = {r.doc_id: r.bpe_tokens for r in enc.collect()}
    # 'abab' collapses through both merges; third merge is data-driven
    assert toks[1][0].startswith("abab")
    # unseen word 'zq' falls back to chars + end-of-word
    assert toks[2][-3:] == ["z", "q", "</w>"] or toks[2][-2:] == ["z", "q</w>"]


def test_bpe_train_vocab_bound(spark):
    """min_count/max_vocab bound the driver-side vocabulary collect
    to O(max_vocab). Two laws: (1) when the bound is not hit, merges
    are IDENTICAL to unbounded training (truncation is a no-op);
    (2) when max_vocab cuts, training still runs and only the most
    frequent words shape the merges — the rare word's unique pair
    never becomes a merge."""
    from dataflowex_spark.operators.bpe import bpe_train

    df = spark.createDataFrame(
        [
            (1, "abab abab abab abab"),
            (2, "abab cdcd cdcd"),
            (3, "xq"),  # rare: appears once
        ],
        "doc_id long, text string",
    )
    unbounded = bpe_train(df, num_merges=5)
    # bound not hit: 3 distinct words < max_vocab=10
    assert bpe_train(df, num_merges=5, max_vocab=10) == unbounded
    assert bpe_train(df, num_merges=5, min_count=1) == unbounded
    # min_count=2 drops the singleton 'xq'; frequent-word merges keep
    # their order and ('x','q') can never appear
    pruned = bpe_train(df, num_merges=5, min_count=2)
    assert ("x", "q") not in pruned
    assert pruned[0] == unbounded[0]
    # max_vocab=1 keeps only 'abab' (count 5): every merge is over
    # its symbols — bounded training is still functional
    top1 = bpe_train(df, num_merges=5, max_vocab=1)
    assert top1 and set("".join(a + b for a, b in top1)) <= set("ab</w>")


def test_bpe_roundtrip_reconstruction(spark, sf_dir):
    """Concatenating a word's BPE tokens (minus the </w> marker)
    reconstructs the word exactly — tokenization is lossless."""
    from dataflowex_spark.operators.bpe import (
        _encode_word,
        bpe_train,
    )

    docs = Catalog(spark, sf_dir)["documents"].limit(100)
    merges = bpe_train(docs, num_merges=50)
    assert len(merges) == 50
    ranks = {p: i for i, p in enumerate(merges)}
    for word in ("table", "aggregation", "zzz-unseen"):
        toks = _encode_word(word, ranks)
        assert "".join(toks).replace("</w>", "") == word


def test_publish_snapshot_cross_table_atomicity(spark, tmp_path):
    """A consistent pair of tables publishes atomically; a simulated
    crash mid-publish (one table written, pointer not flipped) leaves
    readers on the old snapshot for BOTH tables; re-publish succeeds;
    stale ids are refused."""
    import os

    import pytest as _pytest

    from dataflowex_spark.sources import publish_snapshot, read_snapshot

    root = str(tmp_path / "wh")
    t1a = spark.createDataFrame([(1, "a")], "id long, v string")
    t2a = spark.createDataFrame([(1, 10)], "id long, amt long")
    publish_snapshot({"dim": t1a, "fact": t2a}, root)
    assert read_snapshot(spark, root, "dim").collect()[0].v == "a"

    # crash simulation: write v1's dim only, never flip the pointer
    t1b = spark.createDataFrame([(1, "b")], "id long, v string")
    t2b = spark.createDataFrame([(1, 20)], "id long, amt long")
    t1b.write.parquet(os.path.join(root, "v1", "dim"))
    # readers still see the v0 pair, consistently
    assert read_snapshot(spark, root, "dim").collect()[0].v == "a"
    assert read_snapshot(spark, root, "fact").collect()[0].amt == 10

    # retried publish overwrites the partial version and commits
    publish_snapshot({"dim": t1b, "fact": t2b}, root, snapshot_id=1)
    assert read_snapshot(spark, root, "dim").collect()[0].v == "b"
    assert read_snapshot(spark, root, "fact").collect()[0].amt == 20

    with _pytest.raises(ValueError, match="already published"):
        publish_snapshot({"dim": t1a}, root, snapshot_id=1)


def test_personalized_pagerank_proximity_decay(spark):
    """On a directed ring with one seed, PPR mass decays with walk
    distance from the seed (global PageRank would be uniform)."""
    from dataflowex_spark.operators.graph import pagerank

    ring = spark.createDataFrame(
        [(i, (i + 1) % 6, 1.0) for i in range(6)], "src long, dst long, p double"
    )
    r = {x.node: x.r for x in pagerank(ring, seed_nodes=[0], iters=30).collect()}
    # node 1 is one hop downstream of the seed, node 5 five hops
    assert r[0] > r[1] > r[2] > r[3] > r[4] > r[5]
    # global variant on the same ring is uniform by symmetry
    g = {x.node: x.r for x in pagerank(ring, iters=30).collect()}
    assert max(g.values()) - min(g.values()) < 1e-12


def test_heavy_hitters_exact_vs_plain_groupby(spark):
    """The MG-candidates + verify path must equal the plain
    GROUP BY HAVING on skewed synthetic data (the sketch may only
    over-generate candidates, never miss)."""
    from dataflowex_spark.operators.text import heavy_hitters

    rows = (
        [("hot",)] * 400
        + [("warm",)] * 90
        + [(f"cold{i}",) for i in range(510)]
    )
    df = spark.createDataFrame(rows, "w string").repartition(8)
    got = {(r.w, r.cnt) for r in heavy_hitters(df, "w", 20).collect()}
    total = len(rows)
    from collections import Counter

    counts = Counter(r[0] for r in rows)
    want = {(w, c) for w, c in counts.items() if c > total // 20}
    assert got == want and ("hot", 400) in got


def test_leakage_free_split_invariant(spark, sf_dir):
    """Cluster-keyed split: zero near-dup families straddle the
    train/test boundary, and the doc counts add up."""
    fn, _ = REGISTRY["q217_leakage_free_split"]
    rows = {r.split: r for r in fn(spark, sf_dir).collect()}
    assert set(rows) == {"train", "test"}
    assert all(r.straddling_clusters == 0 for r in rows.values())
    assert rows["train"].n_docs + rows["test"].n_docs == 500


def test_read_csv_audited_quarantine(spark, tmp_path):
    """Malformed CSV lines land in the dead-letter frame with their
    raw text; good rows parse under the contract schema — neither
    load failure nor silent loss."""
    from dataflowex_spark.sources import read_csv_audited

    p = tmp_path / "in.csv"
    p.write_text(
        "id,name,amount\n"
        "1,alice,10.5\n"
        "not-a-number,bob,oops,extra\n"
        "2,carol,20.0\n"
        "3,dave,bad-amount\n"
    )
    good, bad = read_csv_audited(
        spark, str(p), "id long, name string, amount double"
    )
    g = sorted((r.id, r.name, r.amount) for r in good.collect())
    assert g == [(1, "alice", 10.5), (2, "carol", 20.0)]
    b = sorted(r.raw_line for r in bad.collect())
    assert len(b) == 2
    assert any("oops" in x for x in b) and any("bad-amount" in x for x in b)


def test_enforce_gate_raises_with_counts(spark):
    from dataflowex_spark.operators.validation import (
        DataQualityError,
        enforce,
    )
    import pytest as _pytest

    df = spark.createDataFrame(
        [(1, 10.0), (2, -5.0), (3, None)], "id long, amt double"
    )
    rules = {
        "amt_nonneg": F.coalesce(F.col("amt") >= 0, F.lit(False)),
        "amt_present": F.col("amt").isNotNull(),
        "id_positive": F.col("id") > 0,
    }
    with _pytest.raises(DataQualityError) as e:
        enforce(df, rules)
    assert e.value.violations == {"amt_nonneg": 2, "amt_present": 1}

    clean = spark.createDataFrame([(1, 1.0)], "id long, amt double")
    # clean data passes THROUGH unchanged
    assert enforce(clean, rules).collect() == clean.collect()


def test_bpe_decode_distributed_roundtrip(spark, sf_dir):
    """`bpe_decode` (pure JVM expressions) inverts `bpe_encode` over
    the real corpus: decode(encode(text)) equals the whitespace-
    normalized text for EVERY document. (Caveat documented in the
    operator: a corpus whose raw text contains the literal end-of-word
    marker could alias it; the token alphabet of real text splits
    "</w>" into chars that only learned merges could reassemble.)"""
    from pyspark.sql import functions as F

    from dataflowex_spark.operators.bpe import (
        bpe_decode,
        bpe_encode,
        bpe_train,
    )

    docs = Catalog(spark, sf_dir)["documents"].select("doc_id", "text")
    merges = bpe_train(docs.limit(60), num_merges=40)
    enc = bpe_encode(docs, merges)
    dec = bpe_decode(enc)
    bad = dec.filter(
        F.col("decoded_text")
        != F.array_join(
            F.filter(F.split("text", r"\s+"), lambda x: x != ""), " "
        )
    )
    assert bad.count() == 0
    # null text decodes to null, empty to empty
    edge = spark.createDataFrame(
        [(1, None), (2, ""), (3, "  padded   runs \t here ")],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r.decoded_text
        for r in bpe_decode(bpe_encode(edge, merges)).collect()
    }
    assert out[1] is None
    assert out[2] == ""
    assert out[3] == "padded runs here"


def test_decode_image_optional_hook_protocol(monkeypatch):
    """The optional-imaging-library hook protocol, exercised WITHOUT
    PIL installed: a stub module implementing the contract
    (Image.open(BytesIO) -> context manager with .mode/.convert,
    np.asarray-able) plugs into decode_image for payloads none of the
    native codecs accept; with the hook absent the same payload
    raises the honest NotImplementedError."""
    import io

    import numpy as np
    import pytest as _pytest

    from dataflowex_spark.operators import multimodal

    payload = b"\xff\xfeNOT_A_NATIVE_FORMAT" + bytes(range(64))

    # hook absent -> honest error
    monkeypatch.setattr(multimodal, "_optional_pil", lambda: None)
    with _pytest.raises(NotImplementedError, match="imaging library"):
        multimodal.decode_image(payload)

    # stub decoder implementing the protocol
    class _StubIm:
        mode = "RGB"
        __array_interface__ = None  # replaced in __init__

        def __init__(self, data):
            assert data.read(4) == payload[:4]
            arr = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3)
            self.__array_interface__ = arr.__array_interface__

        def convert(self, mode):
            raise AssertionError("RGB needs no convert")

        def __enter__(self):
            return self

        def __exit__(self, *a):
            return False

    class _StubImage:
        @staticmethod
        def open(fp):
            assert isinstance(fp, io.BytesIO)
            return _StubIm(fp)

    monkeypatch.setattr(multimodal, "_optional_pil", lambda: _StubImage)
    d = multimodal.decode_image(payload)
    assert (d["width"], d["height"], d["channels"]) == (3, 2, 3)
    assert d["pixels"].shape == (2, 3, 3)
    assert d["pixels"].dtype == np.uint8
    assert d["pixels"][1, 2, 2] == 17

    # stub raising on corrupt payload surfaces as NotImplementedError
    class _BadImage:
        @staticmethod
        def open(fp):
            raise OSError("cannot identify image file")

    monkeypatch.setattr(multimodal, "_optional_pil", lambda: _BadImage)
    with _pytest.raises(NotImplementedError, match="neither netpbm nor"):
        multimodal.decode_image(payload)


def test_g711_wav_decode_native():
    """µ-law and A-law WAVs (fmt tags 7/6 — stdlib wave refuses both)
    decode natively: a companded sine round-trips with the bounded
    error of 8-bit log PCM (SNR > 30 dB), and metadata is exact."""
    import struct

    from dataflowex_spark.operators.multimodal import (
        _g711_tables,
        decode_audio,
    )

    rate, n = 8000, 800
    t = np.arange(n) / rate
    ref = (9000 * np.sin(2 * np.pi * 440 * t)).astype(np.int16)

    mu_tab, al_tab = _g711_tables()

    def compress(vals, table):
        # nearest-code compression via the expansion table (test-side
        # inverse: argmin over the 256 expanded values)
        return np.abs(
            vals[:, None].astype(np.int32) - table[None, :].astype(np.int32)
        ).argmin(axis=1).astype(np.uint8)

    def wav(tag, codes):
        fmt = struct.pack("<HHIIHH", tag, 1, rate, rate, 1, 8)
        out = b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(codes))
        out += b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        out += b"data" + struct.pack("<I", len(codes)) + bytes(codes)
        return out

    for tag, table in ((7, mu_tab), (6, al_tab)):
        codes = compress(ref, table)
        d = decode_audio(wav(tag, codes))
        assert d["sample_rate"] == rate and d["channels"] == 1
        assert d["n_samples"] == n
        got = d["samples"][:, 0].astype(np.float64)
        err = got - ref
        snr = 10 * np.log10((ref.astype(np.float64) ** 2).sum() / (err**2).sum())
        assert snr > 30, (tag, snr)


def test_bmp_decode_native():
    """Uncompressed BMP: 24-bit bottom-up with row padding, 32-bit
    top-down BGRA, and 8-bit paletted all decode; RLE compression
    gets the honest unsupported path (falls through to PIL-hook)."""
    import struct

    from dataflowex_spark.operators.multimodal import (
        _parse_bmp,
        decode_image,
    )

    def bmp(w, h, depth, pixel_rows, palette=b"", compression=0):
        hdr = struct.pack(
            "<iiHHIIiiII", w, h, 1, depth, compression, 0, 0, 0,
            len(palette) // 4, 0,
        )
        info = struct.pack("<I", 40) + hdr
        data = b"".join(pixel_rows)
        off = 14 + len(info) + len(palette)
        head = b"BM" + struct.pack("<IHHI", off + len(data), 0, 0, off)
        return head + info + palette + data

    # 2x2 24-bit bottom-up: rows padded to 4 bytes (2*3=6 -> pad 2)
    # storage bottom row first; pixels BGR
    bottom = bytes([255, 0, 0,  0, 255, 0]) + b"\0\0"   # blue, green
    top = bytes([0, 0, 255,  255, 255, 255]) + b"\0\0"  # red, white
    d = decode_image(bmp(2, 2, 24, [bottom, top]))
    assert (d["width"], d["height"], d["channels"]) == (2, 2, 3)
    px = d["pixels"]
    assert px[0, 0].tolist() == [255, 0, 0]    # top-left red (RGB)
    assert px[0, 1].tolist() == [255, 255, 255]
    assert px[1, 0].tolist() == [0, 0, 255]    # bottom-left blue
    assert px[1, 1].tolist() == [0, 255, 0]

    # 1x2 top-down 32-bit BGRA (negative height)
    rows = [bytes([10, 20, 30, 99]), bytes([40, 50, 60, 99])]
    w_, h_, ch, arr = _parse_bmp(bmp(1, -2, 32, rows))
    assert (w_, h_, ch) == (1, 2, 3)
    assert arr[0, 0].tolist() == [30, 20, 10]
    assert arr[1, 0].tolist() == [60, 50, 40]

    # 2x1 8-bit paletted (palette BGRX), padded row
    pal = bytes([255, 0, 0, 0,  0, 0, 255, 0])  # idx0 blue, idx1 red
    w_, h_, ch, arr = _parse_bmp(bmp(2, 1, 8, [bytes([0, 1, 0, 0])], pal))
    assert arr[0, 0].tolist() == [0, 0, 255] and arr[0, 1].tolist() == [255, 0, 0]

    # RLE8 -> NotImplementedError inside, honest error from decode_image
    import pytest as _pytest

    with _pytest.raises(NotImplementedError):
        decode_image(bmp(2, 1, 8, [bytes([0, 1, 0, 0])], pal, compression=1))


def test_avi_mjpeg_frame_sampling(spark):
    """A hand-assembled RIFF/AVI with MJPEG video chunks (each frame
    encoded by the repo's own baseline JPEG encoder) demuxes through
    sample_frames and every sampled frame payload decodes back to its
    source image through the native JPEG path."""
    import struct

    from pyspark.sql import Row

    from dataflowex_spark.operators import multimodal
    from dataflowex_spark.operators.jpeg import decode_jpeg, encode_jpeg

    def chunk(cid, body):
        return cid + struct.pack("<I", len(body)) + body + (
            b"\0" if len(body) & 1 else b""
        )

    # 3 solid-color 16x16 frames, distinguishable post-JPEG
    frames = []
    for lum in (40, 128, 220):
        arr = np.full((16, 16, 3), lum, dtype=np.uint8)
        frames.append(encode_jpeg(arr))
    movi = b"movi" + b"".join(chunk(b"00dc", f) for f in frames)
    hdrl = b"hdrl" + chunk(b"avih", bytes(56))
    body = (
        b"AVI "
        + chunk(b"LIST", hdrl)
        + chunk(b"LIST", movi)
        + chunk(b"idx1", bytes(16))
    )
    avi = b"RIFF" + struct.pack("<I", len(body)) + body

    rows = [Row(media=Row(uri="mem://clip.avi", media_type="video/avi",
                          payload=bytearray(avi), meta={}))]
    df = spark.createDataFrame(
        rows, schema=f"media struct<{multimodal.MEDIA_SCHEMA}>"
    )
    out = multimodal.sample_frames(df, every_n=2, max_frames=4).collect()
    got = {r.frame_index: bytes(r.frame) for r in out}
    assert set(got) == {0, 2}
    for idx, lum in ((0, 40), (2, 220)):
        w, h, ch, arr = decode_jpeg(got[idx])
        assert (w, h) == (16, 16)
        assert abs(int(arr[8, 8].mean()) - lum) <= 3  # JPEG tolerance


def test_ima_adpcm_wav_decode_native():
    """IMA-ADPCM WAV (fmt 0x11): a reference encoder written in the
    test compresses a sine into 4-bit blocks; native decode recovers
    it with ADPCM's expected fidelity (SNR > 20 dB), block headers
    resetting the predictor. Stereo raises honestly."""
    import struct

    from dataflowex_spark.operators.multimodal import (
        _IMA_INDEX,
        _IMA_STEP,
        decode_audio,
    )

    rate, n = 8000, 2020
    t = np.arange(n) / rate
    ref = (9000 * np.sin(2 * np.pi * 330 * t)).astype(np.int16)

    def encode(samples, block_samples=505):
        blocks = []
        i = 0
        idx = 0  # carried across blocks via the block header
        while i < len(samples):
            chunk = samples[i : i + block_samples]
            pred = int(chunk[0])
            body = bytearray(struct.pack("<hBB", pred, idx, 0))
            nibs = []
            for s in chunk[1:]:
                step = _IMA_STEP[idx]
                diff = int(s) - pred
                nib = 8 if diff < 0 else 0
                diff = abs(diff)
                q = step >> 3
                if diff >= step:
                    nib |= 4
                    diff -= step
                if diff >= step >> 1:
                    nib |= 2
                    diff -= step >> 1
                if diff >= step >> 2:
                    nib |= 1
                    diff -= step >> 2
                d = step >> 3
                if nib & 1:
                    d += step >> 2
                if nib & 2:
                    d += step >> 1
                if nib & 4:
                    d += step
                pred = pred - d if nib & 8 else pred + d
                pred = min(max(pred, -32768), 32767)
                idx = min(max(idx + _IMA_INDEX[nib & 7], 0), 88)
                nibs.append(nib)
            if len(nibs) % 2:
                nibs.append(0)
            for a, b in zip(nibs[::2], nibs[1::2]):
                body.append(a | (b << 4))
            blocks.append(bytes(body))
            i += block_samples
        return blocks

    blocks = encode(ref)
    block_align = len(blocks[0])
    data = b"".join(blocks)
    fmt = struct.pack("<HHIIHH", 0x11, 1, rate, rate // 2, block_align, 4)
    wav = b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
    wav += b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    wav += b"data" + struct.pack("<I", len(data)) + data

    d = decode_audio(wav)
    assert d["sample_rate"] == rate and d["channels"] == 1
    got = d["samples"][: len(ref), 0].astype(np.float64)
    err = got - ref[: len(got)]
    snr = 10 * np.log10((ref.astype(np.float64) ** 2).sum() / (err**2).sum())
    assert snr > 20, snr

    import pytest as _pytest

    stereo_fmt = struct.pack("<HHIIHH", 0x11, 2, rate, rate, 256, 4)
    bad = b"RIFF" + struct.pack("<I", 36) + b"WAVE"
    bad += b"fmt " + struct.pack("<I", len(stereo_fmt)) + stereo_fmt
    bad += b"data" + struct.pack("<I", 0)
    with _pytest.raises(NotImplementedError, match="mono"):
        decode_audio(bad)


def test_probe_mp3_metadata():
    """MP3 header probe without decode: hand-built CBR stream (MPEG1
    Layer III 128k/44100 stereo behind an ID3v2 tag) and a VBR stream
    with a Xing frame-count header; junk returns None."""
    from dataflowex_spark.operators.multimodal import probe_mp3

    def frame_header(bitrate_idx=9, sr_idx=0):  # 128kbps, 44100
        b1 = 0xFF
        b2 = 0xE0 | (3 << 3) | (1 << 1)  # MPEG1, Layer III
        b3 = (bitrate_idx << 4) | (sr_idx << 2)
        b4 = 0x00  # stereo
        return bytes([b1, b2, b3, b4])

    # ID3v2 tag of 100 bytes (syncsafe), then ~10s of CBR frames
    id3 = b"ID3" + bytes([4, 0, 0, 0, 0, 0, 100]) + bytes(100)
    frame_len = 144 * 128000 // 44100  # 417 bytes per frame
    n_frames = 383  # ~10.0 s
    cbr = id3 + (frame_header() + bytes(frame_len - 4)) * n_frames
    d = probe_mp3(cbr)
    assert d is not None and d["version"] == "1" and d["layer"] == 3
    assert d["bitrate"] == 128000 and d["sample_rate"] == 44100
    assert d["channels"] == 2 and not d["vbr"]
    want_s = n_frames * frame_len * 8 / 128000
    assert abs(d["duration_s"] - want_s) < 0.2

    # VBR: Xing header claims 2000 frames -> exact duration
    xing = b"Xing" + (1).to_bytes(4, "big") + (2000).to_bytes(4, "big")
    vbr = frame_header() + bytes(32) + xing + bytes(300)
    dv = probe_mp3(vbr)
    assert dv is not None and dv["vbr"]
    assert abs(dv["duration_s"] - 2000 * 1152 / 44100) < 1e-6

    assert probe_mp3(b"definitely not an mpeg stream" * 10) is None


def test_probe_mp3_mpeg2_layer2_samples_per_frame():
    """Layer II is 1152 samples/frame in EVERY MPEG version (r6
    advice closure: the old expression halved MPEG-2 Layer II to 576,
    so Xing durations came out at half the true value); MPEG-2
    Layer III is genuinely 576."""
    from dataflowex_spark.operators.multimodal import probe_mp3

    def hdr(ver_bits, layer_bits, br_idx, sr_idx):
        return bytes(
            [0xFF, 0xE0 | (ver_bits << 3) | (layer_bits << 1),
             (br_idx << 4) | (sr_idx << 2), 0x00]
        )

    xing = b"Xing" + (1).to_bytes(4, "big") + (1000).to_bytes(4, "big")
    # MPEG-2 (ver_bits=2) Layer II (layer_bits=2) @ 22050: 1152 spf
    l2 = hdr(2, 2, 8, 0) + bytes(32) + xing + bytes(300)
    d2 = probe_mp3(l2)
    assert d2 is not None and d2["version"] == "2" and d2["layer"] == 2
    assert abs(d2["duration_s"] - 1000 * 1152 / 22050) < 1e-6
    # MPEG-2 Layer III (layer_bits=1): 576 spf
    l3 = hdr(2, 1, 8, 0) + bytes(32) + xing + bytes(300)
    d3 = probe_mp3(l3)
    assert d3 is not None and d3["layer"] == 3
    assert abs(d3["duration_s"] - 1000 * 576 / 22050) < 1e-6
    # MPEG-1 Layer I (layer_bits=3): 384 spf
    l1 = hdr(3, 3, 8, 0) + bytes(32) + xing + bytes(300)
    d1 = probe_mp3(l1)
    assert d1 is not None and d1["layer"] == 1
    assert abs(d1["duration_s"] - 1000 * 384 / 44100) < 1e-6


def test_compression_ratio_orders_redundancy(spark):
    """zlib compressibility must rank texts by redundancy: heavy
    repetition < natural-ish prose < random hex noise; columns pass
    through; empty text is ratio 1.0 (guarded division)."""
    import random

    from pyspark.sql import Row

    from dataflowex_spark.operators.text import compression_ratio

    rng = random.Random(7)
    noise = "".join(rng.choice("0123456789abcdef") for _ in range(4000))
    rows = [
        Row(doc_id=1, text="spam " * 800, tag="rep"),
        Row(
            doc_id=2,
            text=(
                "the quick brown fox jumps over the lazy dog while "
                "seventeen jurors deliberated about an obscure maritime "
                "statute nobody remembered drafting "
            )
            * 25,
            tag="prose",
        ),
        Row(doc_id=3, text=noise, tag="noise"),
        Row(doc_id=4, text="", tag="empty"),
    ]
    out = {
        r["tag"]: r
        for r in compression_ratio(
            spark.createDataFrame(rows)
        ).collect()
    }
    assert out["rep"]["compression_ratio"] < out["prose"][
        "compression_ratio"
    ] < out["noise"]["compression_ratio"]
    assert out["empty"]["compression_ratio"] == 1.0
    assert out["prose"]["raw_len"] > 0 and out["prose"]["doc_id"] == 2


def test_aiff_and_au_decode():
    """AIFF / AIFC-sowt / AU conformance over hand-assembled files
    (independent construction, incl. the 80-bit extended sample
    rate): exact PCM round-trips, signed-8-bit scaling, µ-law AU via
    the shared G.711 table, honest NotImplementedError for exotic
    compressions, and dispatch through decode_audio."""
    import struct

    import numpy as np
    import pytest as _pytest

    from dataflowex_spark.operators.multimodal import decode_audio

    def f80(rate):
        # value = mant * 2^(exp-16383-63); encode integer rates
        e = rate.bit_length() - 1
        mant = rate << (63 - e)
        return struct.pack(">H", 16383 + e) + struct.pack(">Q", mant)

    def chunks(form_type, items):
        body = b""
        for cid, payload in items:
            body += cid + struct.pack(">I", len(payload)) + payload
            if len(payload) & 1:
                body += b"\0"
        return b"FORM" + struct.pack(">I", 4 + len(body)) + form_type + body

    sine = (
        3000 * np.sin(2 * np.pi * 440 * np.arange(800) / 8000)
    ).astype(np.int16)

    # AIFF 16-bit BE mono
    comm = struct.pack(">hIh", 1, len(sine), 16) + f80(8000)
    ssnd = struct.pack(">II", 0, 0) + sine.astype(">i2").tobytes()
    aiff = chunks(b"AIFF", [(b"COMM", comm), (b"SSND", ssnd)])
    d = decode_audio(aiff)
    assert (d["sample_rate"], d["channels"]) == (8000, 1)
    assert np.array_equal(d["samples"][:, 0], sine)

    # AIFC little-endian ('sowt') stereo
    st = np.stack([sine, -sine], axis=1)
    comm_c = (
        struct.pack(">hIh", 2, len(sine), 16)
        + f80(16000)
        + b"sowt"
        + b"\x00"
    )
    ssnd_c = struct.pack(">II", 0, 0) + st.astype("<i2").tobytes()
    aifc = chunks(b"AIFC", [(b"COMM", comm_c), (b"SSND", ssnd_c)])
    d = decode_audio(aifc)
    assert d["channels"] == 2 and d["sample_rate"] == 16000
    assert np.array_equal(d["samples"], st)

    # AIFC exotic compression: honest refusal
    comm_x = (
        struct.pack(">hIh", 1, 4, 16) + f80(8000) + b"ima4" + b"\x00"
    )
    with _pytest.raises(NotImplementedError, match="ima4"):
        decode_audio(
            chunks(b"AIFC", [(b"COMM", comm_x), (b"SSND", bytes(16))])
        )

    # AU 16-bit BE linear (enc 3)
    au = (
        b".snd"
        + struct.pack(">IIIII", 24, len(sine) * 2, 3, 8000, 1)
        + sine.astype(">i2").tobytes()
    )
    d = decode_audio(au)
    assert d["sample_rate"] == 8000
    assert np.array_equal(d["samples"][:, 0], sine)

    # AU 8-bit signed linear (enc 2): <<8 scaling
    s8 = (sine >> 8).astype(np.int8)
    au8 = (
        b".snd"
        + struct.pack(">IIIII", 24, len(s8), 2, 8000, 1)
        + s8.tobytes()
    )
    d = decode_audio(au8)
    assert np.array_equal(
        d["samples"][:, 0], s8.astype(np.int16) << 8
    )

    # AU mu-law (enc 1): same companding the G.711 WAV path uses —
    # decode both containers carrying identical payload bytes, equal out
    mu_bytes = bytes(range(256))
    au_mu = (
        b".snd"
        + struct.pack(">IIIII", 24, len(mu_bytes), 1, 8000, 1)
        + mu_bytes
    )
    wav_mu = (
        b"RIFF" + struct.pack("<I", 36 + len(mu_bytes)) + b"WAVE"
        + b"fmt " + struct.pack("<I", 16)
        + struct.pack("<HHIIHH", 7, 1, 8000, 8000, 1, 8)
        + b"data" + struct.pack("<I", len(mu_bytes)) + mu_bytes
    )
    assert np.array_equal(
        decode_audio(au_mu)["samples"], decode_audio(wav_mu)["samples"]
    )

    # AU exotic encoding: honest refusal
    with _pytest.raises(NotImplementedError, match="encoding 27"):
        decode_audio(
            b".snd" + struct.pack(">IIIII", 24, 4, 27, 8000, 1) + bytes(4)
        )


def test_dsir_weights_rank_target_like_docs(spark):
    """Planted shift: docs made of target-only tokens outscore docs
    of raw-only tokens; the Gumbel-top-k is deterministic and
    weight-respecting."""
    from pyspark.sql import functions as F

    from dataflowex_spark.operators.text import (
        dsir_log_weights,
        dsir_sample,
    )

    tgt_rows = [(1000 + i, "alpha beta gamma") for i in range(20)]
    raw_rows = (
        [(i, "alpha beta gamma") for i in range(10)]  # target-like
        + [(100 + i, "delta epsilon zeta") for i in range(10)]  # off
    )
    raw = spark.createDataFrame(raw_rows, "doc_id long, text string")
    tgt = spark.createDataFrame(tgt_rows, "doc_id long, text string")
    w = dsir_log_weights(raw, tgt, "text", n_buckets=64)
    got = {r["doc_id"]: r["log_w"] for r in w.collect()}
    like = [got[i] for i in range(10)]
    off = [got[100 + i] for i in range(10)]
    assert min(like) > max(off)  # clean separation under the shift
    # deterministic sampling; at temperature→0 it is pure top-k
    s1 = [r["doc_id"] for r in dsir_sample(w, 5, temperature=1e-6).collect()]
    s2 = [r["doc_id"] for r in dsir_sample(w, 5, temperature=1e-6).collect()]
    assert s1 == s2
    assert set(s1) <= set(range(10))  # only target-like docs win
    # higher temperature admits off-domain docs eventually
    s_hot = {r["doc_id"] for r in dsir_sample(w, 15, temperature=50).collect()}
    assert any(d >= 100 for d in s_hot)
