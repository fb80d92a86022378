"""Relational/text/multimodal operator tests + plan-shape assertions
(the 100 TB guardrails: pushdown reached the scan, dims broadcast)."""

import pytest
from pyspark.sql import Row, functions as F

from dataflowex_spark.catalog import Catalog
from dataflowex_spark.operators.joins import asof_join, range_join
from dataflowex_spark.operators.windows import sessionize, top_k_per_group
from dataflowex_spark.operators.text import language_id, text_stats
from dataflowex_spark.operators import multimodal
from dataflowex_spark.plans import plan_stats
from dataflowex_spark import queries as Q


def test_asof_backward(spark):
    left = spark.createDataFrame([Row(k=1, ts=10), Row(k=1, ts=5), Row(k=2, ts=7)])
    right = spark.createDataFrame(
        [Row(k=1, ts=4, v="a"), Row(k=1, ts=9, v="b"), Row(k=1, ts=11, v="c")]
    )
    out = asof_join(left, right, on="k", left_ts="ts", right_ts="ts")
    got = {(r.k, r.ts): r.v_r for r in out.collect()}
    assert got[(1, 10)] == "b"  # latest ≤ 10
    assert got[(1, 5)] == "a"
    assert got[(2, 7)] is None  # no match preserved (left semantics)


def test_asof_union_interleave_equivalence(spark):
    """The union-interleave asof_join returns exactly the rows of the
    pair-materializing reference implementation — ties, no-match rows,
    both directions — and its output cardinality is exactly
    left.count() (the whole point: no O(n·m) pair blowup)."""
    import random
    from dataflowex_spark.operators.joins import asof_join_pairs

    rng = random.Random(11)
    left = spark.createDataFrame(
        [
            Row(k=rng.randint(1, 4), ts=rng.randint(0, 60), lv=i)
            for i in range(120)
        ]
    )
    # ties on ts within a key are common by construction (ts range 0-60,
    # 150 rows over 4 keys); key 9 on the right has no left partner and
    # key 4 left rows may miss matches
    right = spark.createDataFrame(
        [
            Row(k=rng.choice([1, 2, 3, 9]), ts=rng.randint(0, 60), rv=i)
            for i in range(150)
        ]
    )

    def key_set(df):
        return sorted(
            (r.k, r.ts, r.lv, r.ts_r, r.rv_r) for r in df.collect()
        )

    for direction in ("backward", "forward"):
        new = asof_join(
            left, right, on="k", left_ts="ts", right_ts="ts",
            direction=direction, tie_break="rv",
        )
        ref = asof_join_pairs(
            left, right, on="k", left_ts="ts", right_ts="ts",
            direction=direction, tie_break="rv",
        )
        assert key_set(new) == key_set(ref), direction
        assert new.count() == left.count()  # no blowup, left preserved


def test_asof_null_ts(spark):
    """NULL timestamps never match: a NULL right ts is dropped, a NULL
    left ts row survives with a NULL payload (both directions)."""
    left = spark.createDataFrame(
        [Row(k=1, ts=10, lv=1), Row(k=1, ts=None, lv=2)]
    )
    right = spark.createDataFrame(
        [Row(k=1, ts=4, v="a"), Row(k=1, ts=None, v="nope")]
    )
    for direction in ("backward", "forward"):
        out = asof_join(
            left, right, on="k", left_ts="ts", right_ts="ts",
            direction=direction,
        )
        got = {r.lv: r.v_r for r in out.collect()}
        assert got[2] is None
        assert got[1] == ("a" if direction == "backward" else None)


def test_range_join_bounds(spark):
    left = spark.createDataFrame([Row(k=1, ts=0)])
    right = spark.createDataFrame([Row(k=1, ts=30), Row(k=1, ts=3700), Row(k=2, ts=10)])
    l = left.withColumn("ts", F.timestamp_seconds("ts"))
    r = right.withColumn("ts", F.timestamp_seconds("ts"))
    out = range_join(l, r, on="k", left_ts="ts", right_ts="ts", upper="1 hour")
    assert out.count() == 1  # only ts=30 within [0, 1h]; k=2 excluded


def test_range_join_binned_equivalence(spark):
    """Bin-bucketed range join returns exactly range_join's rows —
    keyed and keyless — and its plan is an equi-join on the bin, not a
    nested-loop theta join."""
    import random
    from dataflowex_spark.operators.joins import range_join, range_join_binned

    rng = random.Random(7)
    left = spark.createDataFrame(
        [Row(k=rng.randint(1, 3), ts=rng.randint(0, 50_000)) for _ in range(200)]
    ).withColumn("ts", F.timestamp_seconds("ts"))
    right = spark.createDataFrame(
        [Row(k=rng.randint(1, 3), ts=rng.randint(0, 50_000), v=i) for i in range(200)]
    ).withColumn("ts", F.timestamp_seconds("ts"))

    def key_set(df):
        return sorted(
            (r.k, r.ts, r.ts_r, r.v_r) for r in df.collect()
        )

    plain = range_join(left, right, on="k", left_ts="ts", right_ts="ts", upper="1 hour")
    binned = range_join_binned(
        left, right, "ts", "ts", upper="1 hour", on="k"
    )
    assert key_set(binned) == key_set(plain)
    # wider-than-span explicit bucket width must not change results
    binned_w = range_join_binned(
        left, right, "ts", "ts", upper="1 hour", on="k", bucket_width="2 hours"
    )
    assert key_set(binned_w) == key_set(plain)

    # keyless: plain range_join can't shuffle this at all (theta join);
    # the binned form is a bin equi-join
    keyless = range_join_binned(left.drop("k"), right.drop("k"), "ts", "ts", upper="30 minutes")
    naive = (
        left.drop("k").crossJoin(
            right.drop("k").select(F.col("ts").alias("ts_r"), F.col("v").alias("v_r"))
        )
        .where(
            (F.col("ts_r") >= F.col("ts"))
            & (F.col("ts_r") <= F.col("ts") + F.expr("INTERVAL 30 minutes"))
        )
    )
    assert sorted((r.ts, r.ts_r, r.v_r) for r in keyless.collect()) == sorted(
        (r.ts, r.ts_r, r.v_r) for r in naive.collect()
    )
    plan = keyless._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    with pytest.raises(ValueError, match="bucket_width"):
        range_join_binned(left, right, "ts", "ts", upper="1 hour", bucket_width="1 minute")


def test_sessionize_gap(spark):
    rows = [Row(u=1, ts=0), Row(u=1, ts=100), Row(u=1, ts=5000), Row(u=2, ts=0)]
    df = spark.createDataFrame(rows).withColumn("ts", F.timestamp_seconds("ts"))
    out = sessionize(df, "u", "ts", gap_seconds=1800)
    sess = {(r.u, r.ts.second + r.ts.minute * 60 + r.ts.hour * 3600): r.session_id for r in out.collect()}
    assert sess[(1, 0)] == sess[(1, 100)] == 1
    assert sess[(1, 5000)] == 2
    assert sess[(2, 0)] == 1


def test_top_k_per_group(spark):
    df = spark.createDataFrame([Row(g=1, v=i) for i in range(5)] + [Row(g=2, v=9)])
    out = top_k_per_group(df, ["g"], [F.col("v").desc()], k=2)
    got = sorted((r.g, r.v) for r in out.collect())
    assert got == [(1, 3), (1, 4), (2, 9)]


def test_global_ntile_matches_window(spark):
    """global_ntile == NTILE(n) OVER (ORDER BY …) exactly, for sizes
    that exercise remainder tiles and the n>N degenerate case — and
    its plan has NO unpartitioned WindowExec over the full input."""
    from pyspark.sql import Window
    from dataflowex_spark.operators.windows import global_ntile

    for size, n in [(103, 4), (100, 4), (3, 7), (64, 5)]:
        df = spark.range(size).select(
            (F.col("id") * 37 % size).alias("k"), F.col("id").alias("v")
        )
        w = Window.orderBy(F.col("k").desc(), F.col("v"))
        expect = {
            (r.k, r.v): r.t
            for r in df.select("k", "v", F.ntile(n).over(w).alias("t")).collect()
        }
        got = {
            (r.k, r.v): r.t
            for r in global_ntile(
                df, n, [F.col("k").desc(), F.col("v")], out_col="t"
            ).collect()
        }
        assert got == expect, (size, n)


def test_global_row_number_partitioned_plan(spark):
    """The scale guarantee, tightened in r6: the global rank plan has
    ZERO unpartitioned WindowExec nodes — the offsets prefix-sum that
    used to be the one allowed exception is now a triangular
    broadcast join (same shape as global_cumsum). Ranks themselves
    stay exact (checked against the single-reducer reference)."""
    from pyspark.sql import Window

    from dataflowex_spark.operators.windows import global_row_number
    from dataflowex_spark.plans import plan_stats

    df = spark.range(1000).select((F.col("id") % 97).alias("a"), "id")
    out = global_row_number(df, [F.col("a"), F.col("id")])
    assert plan_stats(out)["unpartitioned_windows"] == 0
    got = {(r["a"], r["id"]): r["__rank"] for r in out.collect()}
    want = {
        (r["a"], r["id"]): r["rk"]
        for r in df.select(
            "a",
            "id",
            F.row_number().over(Window.orderBy("a", "id")).alias("rk"),
        ).collect()
    }
    assert got == want


def test_language_id_markers(spark):
    df = spark.createDataFrame(
        [
            Row(text="the cat and the dog of the house"),
            Row(text="der hund und die katze ist hier"),
            Row(text="xyzzy plugh qwerty"),
        ]
    )
    out = [r.lang_pred for r in language_id(df).collect()]
    assert out == ["en", "de", "und"]


def test_text_stats_columns(spark):
    df = spark.createDataFrame([Row(text="hello world foo")])
    r = text_stats(df).collect()[0]
    assert r.n_tokens == 3 and r.len_chars == 15
    assert 0.0 <= r.quality <= 1.0
    assert r.fingerprint > 0


# Unicode <= 14.0 only: Python 3.11's unicodedata is 14.0, ICU is newer.
_NORMALIZE_FIXTURE = [
    "caf\u00e9",  # é composed
    "cafe\u0301",  # e + combining acute
    "\ud55c\uae00",  # Hangul syllables
    "\u1112\u1161\u11ab",  # conjoining jamo
    "\ufb01le \u2460",  # fi ligature, circled digit one
    "\u2126 \u212b",  # singletons: ohm sign, angstrom sign
    "\u1e9b\u0323",  # long s with dot above + dot below: mark reordering
    "a\U0001f600b",  # astral emoji
    "",
    None,
]


def test_normalize_unicode_matches_unicodedata_in_jvm(spark):
    import unicodedata

    from dataflowex_spark.operators.text import normalize_unicode

    df = spark.createDataFrame([(t,) for t in _NORMALIZE_FIXTURE], "t string")
    forms = ["NFC", "NFD", "NFKC", "NFKD"]
    out = df
    for form in forms:
        out = normalize_unicode(out, "t", form, form)
    assert plan_stats(out)["python_evals"] == 0
    assert dict(out.dtypes)["NFC"] == "string"
    rows = out.collect()
    for form in forms:
        got = [r[form] for r in rows]
        want = [
            None if t is None else unicodedata.normalize(form, t)
            for t in _NORMALIZE_FIXTURE
        ]
        assert got == want, form
    # ICU 77.1 is Unicode 16.0: Kirat Rai (added in 16.0) composes
    # U+16D67 U+16D67 to U+16D68; Unicode 14.0 leaves the pair alone.
    kirat = spark.createDataFrame([("\U00016d67\U00016d67",)], "t string")
    assert normalize_unicode(kirat, "t").first().normalized == "\U00016d68"


def test_normalize_unicode_rejects_bad_form_at_build(spark):
    from dataflowex_spark.operators.text import normalize_unicode

    df = spark.createDataFrame([(None,)], "t string")
    with pytest.raises(ValueError, match=r"'NFX'.*NFC.*NFD.*NFKC.*NFKD"):
        normalize_unicode(df, "t", form="NFX")


def test_multimodal_feature_plumbing(spark):
    df = spark.createDataFrame([Row(doc_id=1), Row(doc_id=2)]).withColumn(
        "uri", F.concat(F.lit("mem://"), F.col("doc_id"))
    )
    media = multimodal.attach_media_column(df, "uri", "image/png")
    feats = multimodal.extract_media_features(media)
    rows = feats.collect()
    assert len(rows) == 2
    assert all(1 <= r.width <= 1920 and 1 <= r.height <= 1080 for r in rows)
    # real decode is an explicit stub
    with pytest.raises(Exception):
        multimodal.decode_image(b"\x89PNG")


def test_pil_optional_codec_hook():
    """When PIL is importable, compressed formats decode through it;
    when it is not (this container), the stub stays honest. Skips
    cleanly in the no-PIL environment."""
    Image = multimodal._optional_pil()
    if Image is None:
        pytest.skip("PIL not installed — stub path covered elsewhere")
    import io

    import numpy as np

    arr = np.random.RandomState(5).randint(0, 255, (12, 9, 3), dtype=np.uint8)
    buf = io.BytesIO()
    Image.fromarray(arr).save(buf, format="PNG")
    d = multimodal.decode_image(buf.getvalue())
    assert (d["width"], d["height"], d["channels"]) == (9, 12, 3)
    assert np.array_equal(d["pixels"], arr)  # PNG is lossless


def test_soundfile_optional_codec_hook():
    """When soundfile is importable, non-WAV payloads decode through
    it. Skips cleanly in the no-soundfile environment."""
    sf = multimodal._optional_soundfile()
    if sf is None:
        pytest.skip("soundfile not installed — stub path covered elsewhere")
    import io

    import numpy as np

    rate, n = 8000, 800
    samples = (
        (np.sin(2 * np.pi * 440 * np.arange(n) / rate) * 20000)
        .astype(np.int16)
        .reshape(-1, 1)
    )
    buf = io.BytesIO()
    sf.write(buf, samples, rate, format="FLAC")
    d = multimodal.decode_audio(buf.getvalue())
    assert d["sample_rate"] == rate and d["n_samples"] == n


def test_netpbm_real_decode_and_resize(spark):
    """REAL image path (no imaging lib needed): synthesize P6 images,
    decode actual dimensions through extract_media_features
    (real_decode=True), and nearest-neighbor-resize end to end."""
    import numpy as np

    def ppm(w, h, seed):
        rng = np.random.RandomState(seed)
        return multimodal.encode_ppm(
            rng.randint(0, 256, size=(h, w, 3), dtype=np.uint8)
        )

    # plain python decode roundtrip incl. a header comment
    img = ppm(7, 5, 1)
    commented = img[:2] + b"\n# a comment\n" + img[3:]
    for payload in (img, commented):
        d = multimodal.decode_image(payload)
        assert (d["width"], d["height"], d["channels"]) == (7, 5, 3)
    assert d["pixels"].shape == (5, 7, 3)

    rows = [
        Row(media=Row(uri=f"mem://{i}", media_type="image/x-portable-pixmap",
                      payload=bytearray(ppm(16 + i, 9 + i, i)), meta={}))
        for i in range(3)
    ]
    df = spark.createDataFrame(rows, schema=f"media struct<{multimodal.MEDIA_SCHEMA}>")
    feats = {r.uri: (r.width, r.height) for r in
             multimodal.extract_media_features(df, real_decode=True).collect()}
    assert feats == {f"mem://{i}": (16 + i, 9 + i) for i in range(3)}

    resized = multimodal.resize_images(df, width=8, height=4).collect()
    for r in resized:
        assert r.payload is not None
        d = multimodal.decode_image(bytes(r.payload))
        assert (d["width"], d["height"]) == (8, 4)


def test_frame_sampling_fanout(spark):
    df = spark.createDataFrame([Row(uri="mem://v1")])
    media = multimodal.attach_media_column(df, "uri", "video/mp4")
    frames = multimodal.sample_frames(media, every_n=30, max_frames=4)
    idx = sorted(r.frame_index for r in frames.collect())
    assert idx == [0, 30, 60, 90]


# ---- plan-shape guardrails ------------------------------------------


def test_flagship_broadcasts_dims(spark, sf_dir):
    fn, _ = Q.REGISTRY["q20_join_inner_multi"]
    stats = plan_stats(fn(spark, sf_dir), execute=True)
    assert stats["broadcast_joins"] >= 3  # customer, nation, region
    assert stats["codegen_stages"] >= 1


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    fn, _ = Q.REGISTRY["q03_filter_predicate"]
    stats = plan_stats(fn(spark, sf_dir))
    assert stats["pushed_filters"] >= 1


def test_no_python_eval_in_relational_paths(spark, sf_dir):
    for name in [
        "q20_join_inner_multi",
        "q30_agg_pricing_summary",
        "q40_window_rank",
        "q210_unicode_normalize",
    ]:
        fn, _ = Q.REGISTRY[name]
        assert plan_stats(fn(spark, sf_dir))["python_evals"] == 0, name


def test_tf_idf_values(spark):
    from dataflowex_spark.operators.text import tf_idf
    import math

    df = spark.createDataFrame(
        [Row(doc_id=0, text="a a b"), Row(doc_id=1, text="a c")]
    )
    got = {(r.doc_id, r.term): r.tfidf for r in tf_idf(df).collect()}
    # 'a' in both docs: idf = ln(3/3)+1 = 1 → tfidf = tf
    assert got[(0, "a")] == pytest.approx(2.0)
    assert got[(1, "a")] == pytest.approx(1.0)
    # 'b' in one doc: idf = ln(3/2)+1
    assert got[(0, "b")] == pytest.approx(math.log(3 / 2) + 1)
    # INVARIANT pinned (q89's min_by negation ordering depends on it):
    # tf >= 1 and idf = ln((N+1)/(df+1)) + 1 >= 1 → tfidf >= 1 always
    assert all(v >= 1.0 for v in got.values())


def test_binary_file_source(spark, tmp_path):
    from dataflowex_spark.operators.multimodal import read_binary_files

    (tmp_path / "x.bin").write_bytes(b"\x00\x01\x02payload")
    (tmp_path / "y.bin").write_bytes(b"tiny")
    (tmp_path / "skip.txt").write_text("not matched")
    df = read_binary_files(spark, str(tmp_path), glob="*.bin")
    rows = {r.path.split("/")[-1]: r for r in df.collect()}
    assert set(rows) == {"x.bin", "y.bin"}
    assert bytes(rows["x.bin"].content) == b"\x00\x01\x02payload"
    assert rows["y.bin"].length == 4


def test_approx_distinct_within_rsd(spark, sf_dir):
    fn, _ = Q.REGISTRY["q35_approx_distinct"]
    for r in fn(spark, sf_dir).collect():
        assert abs(r.approx_parts - r.exact_parts) / r.exact_parts < 0.1


def test_train_test_split_deterministic_and_sized(spark, sf_dir):
    from dataflowex_spark.operators.sampling import train_test_split

    docs = Catalog(spark, sf_dir)["documents"]
    s1 = train_test_split(docs, "doc_id", test_fraction=0.2)
    s2 = train_test_split(docs, "doc_id", test_fraction=0.2)
    # same id → same split on every run
    assert s1.select("doc_id", "split").exceptAll(s2.select("doc_id", "split")).count() == 0
    frac = s1.filter(F.col("split") == "test").count() / docs.count()
    assert 0.1 < frac < 0.3
    # partition-independent: repartitioned input gives identical splits
    s3 = train_test_split(docs.repartition(7), "doc_id", test_fraction=0.2)
    assert s1.select("doc_id", "split").exceptAll(s3.select("doc_id", "split")).count() == 0


def test_stratified_sample_hash_portable(spark, sf_dir):
    """Hash-keyed stratified sample: per-stratum rates hold, the kept
    set is partition-invariant, and the bucket matches a pure-Python
    md5 reference (the cross-engine portability contract)."""
    import hashlib

    from dataflowex_spark.operators.sampling import (
        portable_bucket,
        stratified_sample_hash,
    )

    docs = Catalog(spark, sf_dir)["documents"]
    fr = {"en": 1.0, "de": 0.5, "zh": 0.1}
    kept = stratified_sample_hash(docs, "lang", fr, id_col="doc_id")
    base = {r["lang"]: r["n"] for r in docs.groupBy("lang").count()
            .withColumnRenamed("count", "n").collect()}
    got = {r["lang"]: r["n"] for r in kept.groupBy("lang").count()
           .withColumnRenamed("count", "n").collect()}
    assert set(got) <= set(fr)           # unlisted strata dropped
    assert got["en"] == base["en"]       # fraction 1.0 keeps everything
    assert 0.3 < got["de"] / base["de"] < 0.7
    assert got.get("zh", 0) / base["zh"] < 0.25
    # partition-invariant
    kept2 = stratified_sample_hash(docs.repartition(7), "lang", fr, id_col="doc_id")
    assert kept.select("doc_id").exceptAll(kept2.select("doc_id")).count() == 0
    # bucket == python md5 reference
    rows = docs.select("doc_id", portable_bucket(F.col("doc_id")).alias("b")) \
        .limit(50).collect()
    for r in rows:
        ref = int(hashlib.md5(str(r["doc_id"]).encode()).hexdigest()[:15], 16) % 10_000
        assert r["b"] == ref


def test_deterministic_downsample(spark, sf_dir):
    from dataflowex_spark.operators.sampling import deterministic_downsample

    docs = Catalog(spark, sf_dir)["documents"]
    kept = deterministic_downsample(docs, "doc_id", keep_one_in=5)
    n, total = kept.count(), docs.count()
    assert 0.05 < n / total < 0.4
    kept2 = deterministic_downsample(docs, "doc_id", keep_one_in=5)
    assert kept.exceptAll(kept2).count() == 0


def test_cogrouped_apply_in_pandas(spark):
    """Cogrouped pandas UDF surface: per-key merge of two frames."""
    import pandas as pd

    left = spark.createDataFrame([Row(k=1, v=10), Row(k=1, v=20), Row(k=2, v=5)])
    right = spark.createDataFrame([Row(k=1, w=100), Row(k=3, w=7)])

    def merge(l: pd.DataFrame, r: pd.DataFrame) -> pd.DataFrame:
        k = l["k"].iloc[0] if len(l) else r["k"].iloc[0]
        return pd.DataFrame(
            [{"k": int(k), "n_left": len(l), "n_right": len(r)}]
        )

    out = (
        left.groupBy("k")
        .cogroup(right.groupBy("k"))
        .applyInPandas(merge, schema="k long, n_left long, n_right long")
    )
    got = {r.k: (r.n_left, r.n_right) for r in out.collect()}
    assert got == {1: (2, 1), 2: (1, 0), 3: (0, 1)}


def test_bpe_token_count(spark):
    from dataflowex_spark.functions.text import token_count

    df = spark.createDataFrame([Row(text="don't stop 123 now!")])
    out = df.select(
        token_count(F.col("text"), "whitespace").alias("ws"),
        token_count(F.col("text"), "bpe").alias("bpe"),
    ).collect()[0]
    assert out.ws == 4
    # don | ' | t | stop | 123 | now | !  → 7 regex tokens
    assert out.bpe == 7


def test_resize_images_stub_schema(spark):
    from dataflowex_spark.operators import multimodal

    df = spark.createDataFrame([Row(uri="mem://img1"), Row(uri="mem://img2")])
    media = multimodal.attach_media_column(df, "uri", "image/png")
    out = multimodal.resize_images(media, width=64, height=48)
    rows = out.collect()
    assert len(rows) == 2
    assert all(r.width == 64 and r.height == 48 and r.payload is None for r in rows)


def test_python_udtf_surface(spark):
    """Python UDTF (Spark ≥3.5): table function emitting 0..n rows per
    input — the typed 1→N surface next to explode/mapInPandas."""
    try:
        from pyspark.sql.functions import udtf
    except ImportError:
        pytest.skip("udtf not available on this build")
    from pyspark.sql.functions import lit

    @udtf(returnType="word: string, pos: int")
    class Tokenize:
        def eval(self, text: str):
            for i, w in enumerate(text.split()):
                yield w, i

    rows = Tokenize(lit("spark runs everywhere")).collect()
    assert [(r.word, r.pos) for r in rows] == [
        ("spark", 0),
        ("runs", 1),
        ("everywhere", 2),
    ]


def test_new_operators_empty_inputs(spark):
    """Degenerate inputs must not throw: empty frames flow through
    ntile/binned-join/decontaminate and produce empty (or full-corpus)
    results, matching what a tiny scale factor can hand the driver."""
    from pyspark.sql import Row
    from dataflowex_spark.operators.windows import global_ntile
    from dataflowex_spark.operators.joins import range_join_binned
    from dataflowex_spark.operators.dedup import decontaminate

    empty = spark.createDataFrame([], "doc_id long, text string")
    docs = spark.createDataFrame([Row(doc_id=1, text="alpha beta gamma")])

    assert global_ntile(empty.select("doc_id"), 4, [F.col("doc_id")]).count() == 0
    # empty benchmark → nothing contaminated, corpus intact
    assert decontaminate(docs, empty, n=3).count() == 1
    # empty corpus → empty either way
    assert decontaminate(empty, docs, n=3).count() == 0
    assert decontaminate(empty, docs, n=3, return_contaminated=True).count() == 0

    ev = spark.createDataFrame([], "ts timestamp, v long")
    out = range_join_binned(ev, ev, "ts", "ts", upper="10 minutes")
    assert out.count() == 0


def _ref_winnow(text: str, k: int, w: int):
    """Pure-Python winnowing reference (same tag scheme as the operator)."""
    import hashlib
    import re

    toks = [t for t in re.split(r"\s+", text) if t != ""]
    n = len(toks)
    grams = (
        [" ".join(toks[i : i + k]) for i in range(max(n - (k - 1), 1))]
        if n
        else [""]
    )
    tags = [
        hashlib.md5(g.encode()).hexdigest() + ":" + str(i).zfill(8)
        for i, g in enumerate(grams)
    ]
    sel = {min(tags[i : i + w]) for i in range(max(len(tags) - (w - 1), 1))}
    return {(t[:32], int(t[33:])) for t in sel}


def test_winnow_fingerprints_matches_reference(spark):
    from dataflowex_spark.operators.text import winnow_fingerprints

    docs = [
        "the quick brown fox jumps over the lazy dog again and again",
        "a b",
        "",
        "one two three four",
        "x " * 40,
    ]
    df = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(docs)]
    )
    out = winnow_fingerprints(df, k=3, w=4)
    got = {}
    for r in out.collect():
        got.setdefault(r.doc_id, set()).add((r.fp_hash, r.fp_pos))
    for i, t in enumerate(docs):
        assert got.get(i, set()) == _ref_winnow(t, 3, 4), f"doc {i}"


def test_winnow_coverage_guarantee(spark):
    """Winnowing guarantee: every window of w consecutive gram
    positions contains at least one selected fingerprint."""
    import random

    from dataflowex_spark.operators.text import winnow_fingerprints

    rng = random.Random(11)
    words = ["alpha", "beta", "gamma", "delta", "eps"]
    text = " ".join(rng.choice(words) for _ in range(120))
    k, w = 3, 5
    df = spark.createDataFrame([Row(doc_id=0, text=text)])
    pos = sorted(
        r.fp_pos for r in winnow_fingerprints(df, k=k, w=w).collect()
    )
    n_grams = 120 - (k - 1)
    for start in range(n_grams - (w - 1)):
        assert any(start <= p < start + w for p in pos), f"window {start}"


def test_audio_wav_roundtrip_features(spark):
    """Real PCM-WAV decode end-to-end through mapInPandas: synthesized
    sine waves come back with exact rate/duration and the analytic
    RMS/peak (sine: rms = A/sqrt(2))."""
    import math

    import numpy as np

    from dataflowex_spark.operators.multimodal import (
        encode_wav,
        extract_audio_features,
    )

    rate = 8000
    t = np.arange(rate * 2)  # 2 seconds
    amp = 0.5
    sine = (amp * 32767 * np.sin(2 * np.pi * 440 * t / rate)).astype(np.int16)
    wav = encode_wav(sine, rate)
    rows = [
        Row(uri="mem://a.wav", media_type="audio/wav", payload=bytearray(wav), meta={}),
        Row(uri="mem://missing.mp3", media_type="audio/mp3", payload=None, meta={}),
    ]
    df = spark.createDataFrame(
        rows, "uri string, media_type string, payload binary, meta map<string,string>"
    ).select(F.struct("uri", "media_type", "payload", "meta").alias("media"))
    got = {r.uri: r for r in extract_audio_features(df).collect()}
    a = got["mem://a.wav"]
    assert a.sample_rate == rate and a.channels == 1
    assert abs(a.duration_s - 2.0) < 1e-9
    assert abs(a.rms - amp / math.sqrt(2)) < 0.01
    assert abs(a.peak - amp) < 0.01
    # pointer-only row: null features, not a crashed batch
    assert got["mem://missing.mp3"].sample_rate is None


def test_audio_resample_halves_samples(spark):
    import numpy as np

    from dataflowex_spark.operators.multimodal import (
        decode_audio,
        encode_wav,
        resample_audio,
    )

    rate = 16000
    sine = (
        0.3 * 32767 * np.sin(2 * np.pi * 220 * np.arange(rate) / rate)
    ).astype(np.int16)
    df = spark.createDataFrame(
        [Row(uri="mem://b.wav", media_type="audio/wav", payload=bytearray(encode_wav(sine, rate)), meta={})],
        "uri string, media_type string, payload binary, meta map<string,string>",
    ).select(F.struct("uri", "media_type", "payload", "meta").alias("media"))
    out = resample_audio(df, target_rate=8000).collect()[0]
    dec = decode_audio(bytes(out.payload))
    assert dec["sample_rate"] == 8000
    assert dec["n_samples"] == rate // 2


def test_line_quality_filter(spark):
    from dataflowex_spark.operators.text import line_quality_filter

    doc = "\n".join(
        [
            "this line has plenty of tokens to keep",
            "too short",
            "a curly brace line with many tokens { dropped anyway }",
            "another good line with five tokens",
        ]
    )
    out = line_quality_filter(
        spark.createDataFrame([Row(doc_id=1, text=doc)]), min_tokens=4
    ).collect()[0]
    assert out.n_lines_kept == 2 and out.n_lines_dropped == 2
    assert out.cleaned.splitlines() == [
        "this line has plenty of tokens to keep",
        "another good line with five tokens",
    ]


def test_scrub_pii(spark):
    from dataflowex_spark.operators.text import scrub_pii

    txt = "mail a.b-c_1@foo.co.uk or x@y.io, call 555-123-4567; not 12-34."
    out = scrub_pii(
        spark.createDataFrame([Row(doc_id=1, text=txt)])
    ).collect()[0]
    assert out.n_emails == 2 and out.n_phones == 1
    assert out.scrubbed == "mail <EMAIL> or <EMAIL>, call <PHONE>; not 12-34."


def test_pack_sequences_greedy_invariants(spark, sf_dir):
    """Packing: every doc exactly once, budget respected except for
    oversized singletons, ids within a sequence contiguous in order,
    partition-invariant, and shards>1 still respects the budget."""
    from dataflowex_spark.functions.text import token_count
    from dataflowex_spark.operators.packing import pack_sequences, packing_stats

    docs = Catalog(spark, sf_dir)["documents"].select(
        "source", "doc_id", token_count(F.col("text")).cast("bigint").alias("n_tok")
    )
    budget = 128
    packed = pack_sequences(docs, "source", "doc_id", "n_tok", budget=budget)
    assert packed.count() == docs.count()
    assert packed.select("doc_id").distinct().count() == docs.count()

    stats = packing_stats(packed, "source", "n_tok", budget=budget)
    over = stats.filter((F.col("seq_tokens") > budget) & (F.col("n_docs") > 1))
    assert over.count() == 0  # only oversized single docs may exceed

    # greedy next-fit never leaves room a following doc could have used:
    # within a source, sequence ids are non-decreasing in doc_id order
    rows = packed.orderBy("source", "doc_id").collect()
    last = {}
    for r in rows:
        assert r["seq_id"] >= last.get(r["source"], 0)
        last[r["source"]] = r["seq_id"]

    # partition-invariant
    packed2 = pack_sequences(
        docs.repartition(7), "source", "doc_id", "n_tok", budget=budget
    )
    assert packed.exceptAll(packed2).count() == 0

    # sharded variant: still exactly-once and budget-true
    sharded = pack_sequences(docs, "source", "doc_id", "n_tok", budget=budget, shards=4)
    assert sharded.count() == docs.count()
    sstats = sharded.groupBy("source", "shard", "seq_id").agg(
        F.sum("n_tok").alias("t"), F.count("*").alias("n")
    )
    assert sstats.filter((F.col("t") > budget) & (F.col("n") > 1)).count() == 0


def test_rebalance_mixture(spark, sf_dir):
    """Mixture rebalancing: only target groups survive, the binding
    (scarcest-relative-to-share) group is kept whole, proportions land
    near the targets, and the kept set is partition-invariant."""
    from dataflowex_spark.operators.sampling import rebalance_mixture

    docs = Catalog(spark, sf_dir)["documents"]
    targets = {"src0": 0.5, "src1": 0.3, "src2": 0.2}
    out = rebalance_mixture(docs, "source", "doc_id", targets)
    counts = {
        r["source"]: r["n"]
        for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    assert set(counts) <= set(targets)
    full = {
        r["source"]: r["n"]
        for r in docs.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    # capacity = min(n/p): that group's keep fraction is exactly 1.0
    binder = min(targets, key=lambda s: full[s] / targets[s])
    assert counts[binder] == full[binder]
    total = sum(counts.values())
    for s, p in targets.items():
        # md5-bucket granularity: proportions approximate, not exact
        assert abs(counts.get(s, 0) / total - p) < 0.1
    out2 = rebalance_mixture(docs.repartition(7), "source", "doc_id", targets)
    assert out.select("doc_id").exceptAll(out2.select("doc_id")).count() == 0


def test_resample_locf(spark):
    """LOCF resample: dense grid from first to last slot per key, gap
    rows carry the last observation, in-slot pick is last-event
    (value-tie-broken) deterministic."""
    from datetime import datetime as dt

    from dataflowex_spark.operators.timeseries import resample_locf

    rows = [
        ("a", dt(2024, 1, 1, 5), 1.0),
        ("a", dt(2024, 1, 1, 7), 2.0),   # last event of day 1 ...
        ("a", dt(2024, 1, 1, 7), 1.5),   # ... tied ts: max value wins
        ("a", dt(2024, 1, 4, 1), 9.0),   # days 2-3 are gaps
        ("b", dt(2024, 2, 1, 0), 5.0),
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp_ntz, v double")
    out = resample_locf(df, "k", "ts", "v", unit="day")
    a = [
        (r["slot"].day, r["v_fill"], r["observed"])
        for r in out.filter(F.col("k") == "a").orderBy("slot").collect()
    ]
    assert a == [(1, 2.0, True), (2, 2.0, False), (3, 2.0, False), (4, 9.0, True)]
    b = out.filter(F.col("k") == "b").collect()
    assert len(b) == 1 and b[0]["v_fill"] == 5.0 and b[0]["observed"]


def test_profile_columns_nulls_doubles_and_approx(spark):
    from dataflowex_spark.operators.validation import profile_columns

    df = spark.createDataFrame(
        [(1, 1.5, "x"), (2, None, "y"), (3, 2.5, None), (3, 1.5, "y")],
        "k long, v double, s string",
    )
    prof = {r["column"]: r for r in profile_columns(df).collect()}
    assert prof["k"]["n_rows"] == 4 and prof["k"]["n_nonnull"] == 4
    assert prof["k"]["n_distinct"] == 3
    assert prof["v"]["n_nonnull"] == 3 and prof["v"]["n_distinct"] == 2
    assert prof["v"]["min_val"] == "1.5" and prof["v"]["max_val"] == "2.5"
    assert prof["s"]["n_nonnull"] == 3 and prof["s"]["n_distinct"] == 2
    # HLL path: exact on tiny cardinalities, and no Expand in the plan
    approx = {
        r["column"]: r["n_distinct"]
        for r in profile_columns(df, exact=False).collect()
    }
    assert approx["k"] == 3


def test_validation_rules_fire_on_corruption(spark):
    from dataflowex_spark.operators.validation import (
        ri_violations,
        rule_report,
        unique_violations,
    )

    parent = spark.createDataFrame([(1,), (2,)], "pk long")
    child = spark.createDataFrame(
        [(10, 1), (11, 2), (12, 99), (13, 98)], "id long, fk long"
    )
    dup = spark.createDataFrame([(1,), (1,), (2,)], "k long")
    report = {
        r["rule"]: r["n_violations"]
        for r in rule_report(
            {
                "ri": ri_violations(child, parent, "fk", "pk"),
                "uniq": unique_violations(dup, ["k"]),
                "range": child.filter(F.col("id") > 12),
            }
        ).collect()
    }
    assert report == {"ri": 2, "uniq": 1, "range": 1}
    orphans = ri_violations(child, parent, "fk", "pk")
    assert sorted(r["id"] for r in orphans.collect()) == [12, 13]


def test_reservoir_per_group_prefilter_equivalence(spark, sf_dir):
    """Prefiltered reservoir == plain reservoir whenever ≥k rows pass
    the deterministic prefilter; exactly k rows per big-enough group;
    partition-invariant."""
    from dataflowex_spark.operators.sampling import reservoir_per_group

    docs = Catalog(spark, sf_dir)["documents"]
    plain = reservoir_per_group(docs, "source", "doc_id", k=5)
    pre = reservoir_per_group(
        docs, "source", "doc_id", k=5, prefilter_safety=4.0
    )
    cols = ["source", "doc_id"]
    assert (
        plain.select(cols).exceptAll(pre.select(cols)).count() == 0
        and pre.count() == plain.count()
    )
    sizes = plain.groupBy("source").count().collect()
    full = {r["source"]: r["count"] for r in docs.groupBy("source").count().collect()}
    for r in sizes:
        assert r["count"] == min(5, full[r["source"]])
    rep = reservoir_per_group(docs.repartition(11), "source", "doc_id", k=5)
    assert plain.select(cols).exceptAll(rep.select(cols)).count() == 0


def test_pagerank_ring_and_sink(spark):
    """Ring graph: perfect symmetry → uniform ranks. Sink-heavy
    graph: the absorbing node must outrank its feeders, total mass
    conserved under damping."""
    from dataflowex_spark.operators.graph import pagerank

    ring = spark.createDataFrame(
        [("a", "b", 1.0), ("b", "c", 1.0), ("c", "a", 1.0)],
        "src string, dst string, p double",
    )
    r = {x["node"]: x["r"] for x in pagerank(ring, iters=10).collect()}
    assert all(abs(v - 1 / 3) < 1e-12 for v in r.values())

    star = spark.createDataFrame(
        [("a", "c", 1.0), ("b", "c", 1.0), ("c", "c", 1.0)],
        "src string, dst string, p double",
    )
    r2 = {x["node"]: x["r"] for x in pagerank(star, iters=20).collect()}
    assert r2["c"] > r2["a"] and abs(r2["a"] - r2["b"]) < 1e-12
    assert abs(sum(r2.values()) - 1.0) < 1e-9


def test_global_offsets_driver_scan_matches_triangular(spark, monkeypatch):
    """BRANCH PARITY for the per-partition offset frame: the lazy
    triangular self-join (small P) and the O(P) driver prefix scan
    (cluster partition counts, forced via _TRIANGULAR_MAX_PARTS -> -1)
    must produce identical ranks and running sums."""
    from pyspark.sql import functions as F

    from dataflowex_spark.operators import windows

    df = spark.range(500).select(
        (F.col("id") * 37 % 501).alias("k"),
        (F.col("id") % 7).alias("v"),
    )
    tri_rank = {
        r["k"]: r["__rank"]
        for r in windows.global_row_number(df, [F.col("k")]).collect()
    }
    tri_cum = {
        r["k"]: r["v_cum"]
        for r in windows.global_cumsum(df, [F.col("k")], ["v"]).collect()
    }
    monkeypatch.setattr(windows, "_TRIANGULAR_MAX_PARTS", -1)
    drv_rank = {
        r["k"]: r["__rank"]
        for r in windows.global_row_number(df, [F.col("k")]).collect()
    }
    drv_cum = {
        r["k"]: r["v_cum"]
        for r in windows.global_cumsum(df, [F.col("k")], ["v"]).collect()
    }
    assert tri_rank == drv_rank
    assert tri_cum == drv_cum


def test_pagerank_driver_branch_matches_distributed(spark, monkeypatch):
    """BRANCH PARITY for the bounded driver pagerank (r11 verdict item
    10): the same graph run through the driver numpy replay (normal
    gate) and the distributed loop (gate forced to -1) must agree to
    float rounding — proving the data-size gate can flip at scale
    without changing results."""
    from dataflowex_spark.operators import graph

    edges = spark.createDataFrame(
        [
            ("a", "b", 0.5), ("a", "c", 0.5), ("b", "c", 1.0),
            ("c", "a", 0.25), ("c", "d", 0.75), ("d", "a", 1.0),
        ],
        "src string, dst string, p double",
    )
    drv = {x["node"]: x["r"] for x in graph.pagerank(edges).collect()}
    monkeypatch.setattr(graph, "DRIVER_EDGE_BOUND", -1)
    dist = {x["node"]: x["r"] for x in graph.pagerank(edges).collect()}
    assert set(drv) == set(dist)
    for n in drv:
        assert drv[n] == pytest.approx(dist[n], rel=1e-12), n


def test_kcenter_driver_branch_matches_distributed(spark, monkeypatch):
    """BRANCH PARITY for the bounded driver k-center replay: same
    anchors, same order, from both branches."""
    from dataflowex_spark.operators import similarity

    rng = __import__("numpy").random.default_rng(11)
    rows = [
        (i, [float(v) for v in rng.normal(size=4)]) for i in range(60)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    drv = similarity.kcenter_select(df, k=5)
    monkeypatch.setattr(similarity, "DRIVER_ROWS_BOUND", -1)
    dist = similarity.kcenter_select(df, k=5)
    assert [i for i, _ in drv] == [i for i, _ in dist]
    for (_, va), (_, vb) in zip(drv, dist):
        assert list(va) == pytest.approx(list(vb), rel=1e-12)


def test_asof_composite_keys(spark):
    """asof_join with a multi-column equi-key (the composite
    dimension case): matches respect BOTH keys."""
    left = spark.createDataFrame(
        [Row(a=1, b="x", ts=10, lv=0), Row(a=1, b="y", ts=10, lv=1)]
    )
    right = spark.createDataFrame(
        [
            Row(a=1, b="x", ts=5, v="bx"),
            Row(a=1, b="y", ts=7, v="by"),
            Row(a=2, b="x", ts=9, v="nope"),
        ]
    )
    out = asof_join(
        left, right, on=["a", "b"], left_ts="ts", right_ts="ts"
    )
    got = {r.lv: r.v_r for r in out.collect()}
    assert got == {0: "bx", 1: "by"}


def test_token_budget_trim_and_priority_sample(spark):
    from dataflowex_spark.operators.sampling import (
        priority_sample,
        token_budget_trim,
    )

    df = spark.createDataFrame(
        [Row(g="s", i=i, n=10 * (i + 1)) for i in range(5)]
    )
    kept = token_budget_trim(df, "g", "i", "n", budget=95).collect()
    # longest-first: 50, 40 (cum 90) fit; 30 would hit 120 > 95
    assert sorted(r.n for r in kept) == [40, 50]
    assert max(r.cum_tokens for r in kept) == 90

    # priority sampling: inclusion ∝ weight — with one weight vastly
    # larger, that row is (deterministically, for this hash) included
    w = spark.createDataFrame(
        [Row(i=i, wt=1.0 if i else 1e9) for i in range(200)]
    )
    top = priority_sample(w, "i", "wt", k=20).collect()
    assert len(top) == 20
    assert any(r.i == 0 for r in top)  # the heavy row made the sample
    # deterministic: second run identical
    again = priority_sample(w, "i", "wt", k=20).collect()
    assert [(r.i, r.priority) for r in top] == [
        (r.i, r.priority) for r in again
    ]


def test_top_bigrams_survives_empty_documents(spark, tmp_path):
    """Regression (ADVICE r3): F.slice(toks, 1, n-1) threw
    INVALID_PARAMETER_VALUE.LENGTH for any zero-token document (empty
    or whitespace-only text); the slice length is now clamped >= 0."""
    from dataflowex_spark.queries import REGISTRY

    rows = [
        (1, "alpha beta alpha beta", "en", "web", 21),
        (2, "", "en", "web", 0),
        (3, "   \t  ", "en", "web", 6),
        (4, "solo", "en", "web", 4),
    ]
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(str(tmp_path / "documents.parquet"))
    fn, _sql = REGISTRY["q147_top_bigrams"]
    got = {(r.bigram, r.n) for r in fn(spark, str(tmp_path)).collect()}
    assert ("alpha beta", 2) in got
    assert ("beta alpha", 1) in got


def _make_png(w, h, rgb):
    """Hand-build a minimal valid RGB PNG with stdlib zlib/struct —
    no imaging library needed to CREATE the fixture, so the
    compressed-decode path is exercised (PIL present: real decode;
    absent: the honest NotImplementedError) with a REAL payload."""
    import struct
    import zlib

    def chunk(tag, data):
        c = tag + data
        return struct.pack(">I", len(data)) + c + struct.pack(
            ">I", zlib.crc32(c)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)  # 8-bit RGB
    raw = b"".join(
        b"\x00" + bytes(rgb) * w  # filter 0 + one row of pixels
        for _ in range(h)
    )
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def test_compressed_image_decode_hook(spark):
    """PNG decodes NATIVELY (stdlib zlib + numpy de-filtering) — no
    imaging library required; a structurally-invalid JPEG (SOI magic
    but no frame) still raises the honest NotImplementedError rather
    than a silent fake."""
    from dataflowex_spark.operators.multimodal import decode_image

    png = _make_png(4, 3, (10, 200, 30))
    out = decode_image(png)
    assert (out["width"], out["height"], out["channels"]) == (4, 3, 3)
    assert out["pixels"][0][0].tolist() == [10, 200, 30]
    assert out["pixels"][2][3].tolist() == [10, 200, 30]

    fake_jpeg = b"\xff\xd8\xff\xe0" + b"\x00" * 64  # JFIF magic, no SOF
    with pytest.raises(NotImplementedError, match="JPEG|PIL|imaging|decodable"):
        decode_image(fake_jpeg)


def test_png_decode_filters_and_channels(spark):
    """Per-filter PNG reconstruction: re-encode known pixels with each
    scanline filter type and assert bit-exact decode; gray and RGBA
    channel counts; out-of-scope variants raise (palette PNG)."""
    import struct
    import zlib

    import numpy as np

    from dataflowex_spark.operators.multimodal import _parse_png

    def chunk(tag, data):
        c = tag + data
        return struct.pack(">I", len(data)) + c + struct.pack(
            ">I", zlib.crc32(c)
        )

    rng = np.random.RandomState(7)
    arr = rng.randint(0, 256, size=(5, 4, 3), dtype=np.uint8)

    def encode(arr, filters, ctype=2):
        h, w, ch = arr.shape
        ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
        raw = bytearray()
        prev = np.zeros(w * ch, dtype=np.int16)
        for y in range(h):
            line = arr[y].reshape(-1).astype(np.int16)
            f = filters[y % len(filters)]
            if f == 0:
                enc = line.copy()
            elif f == 1:  # Sub
                left = np.concatenate([np.zeros(ch, np.int16), line[:-ch]])
                enc = (line - left) % 256
            elif f == 2:  # Up
                enc = (line - prev) % 256
            elif f == 3:  # Average
                enc = np.zeros_like(line)
                for x in range(w * ch):
                    a = int(line[x - ch]) if x >= ch else 0
                    enc[x] = (int(line[x]) - ((a + int(prev[x])) >> 1)) % 256
            else:  # Paeth
                enc = np.zeros_like(line)
                for x in range(w * ch):
                    a = int(line[x - ch]) if x >= ch else 0
                    b = int(prev[x])
                    c = int(arr[y - 1].reshape(-1)[x - ch]) if (x >= ch and y > 0) else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    enc[x] = (int(line[x]) - pr) % 256
            raw.append(f)
            raw.extend(enc.astype(np.uint8).tobytes())
            prev = line
        return (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(raw)))
            + chunk(b"IEND", b"")
        )

    for filters in ([0], [1], [2], [3], [4], [0, 1, 2, 3, 4]):
        w, h, ch, got = _parse_png(encode(arr, filters))
        assert (w, h, ch) == (4, 5, 3), filters
        assert np.array_equal(got, arr), f"filters={filters}"

    gray = rng.randint(0, 256, size=(3, 6, 1), dtype=np.uint8)
    _, _, ch_g, got_g = _parse_png(encode(gray, [0, 1, 2], ctype=0))
    assert ch_g == 1 and np.array_equal(got_g, gray)

    rgba = rng.randint(0, 256, size=(3, 3, 4), dtype=np.uint8)
    _, _, ch_a, got_a = _parse_png(encode(rgba, [4, 2, 1], ctype=6))
    assert ch_a == 4 and np.array_equal(got_a, rgba)

    # palette PNG (colortype 3) decodes natively since r5
    pal_ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0)
    plte = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255])
    idx_rows = bytes([0, 0, 1]) + bytes([0, 2, 0])  # filter 0 + 2 idx/row
    pal_png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", pal_ihdr)
        + chunk(b"PLTE", plte)
        + chunk(b"IDAT", zlib.compress(idx_rows))
        + chunk(b"IEND", b"")
    )
    w_p, h_p, ch_p, got_p = _parse_png(pal_png)
    assert (w_p, h_p, ch_p) == (2, 2, 3)
    assert got_p[0, 1].tolist() == [0, 255, 0]
    assert got_p[1, 0].tolist() == [0, 0, 255]

    # 16-bit gray: high byte survives
    g16 = struct.pack(">IIBBBBB", 2, 1, 16, 0, 0, 0, 0)
    row16 = bytes([0]) + bytes([0xAB, 0xCD, 0x12, 0x34])
    png16 = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", g16)
        + chunk(b"IDAT", zlib.compress(row16))
        + chunk(b"IEND", b"")
    )
    _, _, _, got16 = _parse_png(png16)
    assert got16[0, 0, 0] == 0xAB and got16[0, 1, 0] == 0x12

    # 1-bit gray scales to 0/255
    g1 = struct.pack(">IIBBBBB", 8, 1, 1, 0, 0, 0, 0)
    png1 = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", g1)
        + chunk(b"IDAT", zlib.compress(bytes([0, 0b10110001])))
        + chunk(b"IEND", b"")
    )
    _, _, _, got1 = _parse_png(png1)
    assert got1[0, :, 0].tolist() == [255, 0, 255, 255, 0, 0, 0, 255]

    # unknown colortype still raises honestly
    bad = struct.pack(">IIBBBBB", 2, 2, 8, 7, 0, 0, 0)
    with pytest.raises(NotImplementedError, match="colortype 7"):
        _parse_png(
            b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", bad) + chunk(b"IEND", b"")
        )


def test_png_adam7_interlaced_decode(spark):
    """Adam7: encode an 8x8 RGB image pass-by-pass (the 7-pass grid
    written out independently of the decoder) and assert bit-exact
    reassembly; a 9x5 odd-size image exercises partial passes."""
    import struct
    import zlib

    import numpy as np

    from dataflowex_spark.operators.multimodal import _ADAM7, _parse_png

    def chunk(tag, data):
        c = tag + data
        return struct.pack(">I", len(data)) + c + struct.pack(
            ">I", zlib.crc32(c)
        )

    def encode_adam7(arr):
        h, w, ch = arr.shape
        ihdr = struct.pack(">IIBBBBB", w, h, 8, 2 if ch == 3 else 0, 0, 0, 1)
        raw = bytearray()
        for xs, ys, xstep, ystep in _ADAM7:
            sub = arr[ys::ystep, xs::xstep]
            if sub.size == 0:
                continue
            for row in sub:
                raw.append(0)  # filter none
                raw.extend(row.reshape(-1).tobytes())
        return (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(raw)))
            + chunk(b"IEND", b"")
        )

    rng = np.random.RandomState(13)
    for shape in ((8, 8, 3), (5, 9, 3), (3, 2, 1)):
        arr = rng.randint(0, 256, size=shape, dtype=np.uint8)
        w, h, ch, got = _parse_png(encode_adam7(arr))
        assert (w, h, ch) == (shape[1], shape[0], shape[2])
        assert np.array_equal(got, arr), shape


def test_chunk_tokens_windows(spark):
    from dataflowex_spark.operators.text import chunk_tokens

    docs = spark.createDataFrame(
        [
            (1, " ".join(f"t{i}" for i in range(10))),  # 10 toks
            (2, "a b c"),  # shorter than one chunk
            (3, ""),  # empty: no chunks
            (4, "solo"),
        ],
        "doc_id long, text string",
    )
    out = chunk_tokens(docs, chunk=4, overlap=2)
    rows = {
        (r.doc_id, r.chunk_idx): (r.chunk_text, r.n_tok)
        for r in out.collect()
    }
    # stride 2: starts 1,3,5,7,9 → five chunks, tail shrinks
    assert rows[(1, 0)] == ("t0 t1 t2 t3", 4)
    assert rows[(1, 1)] == ("t2 t3 t4 t5", 4)
    assert rows[(1, 4)] == ("t8 t9", 2)
    # consecutive full chunks share exactly `overlap` tokens
    assert rows[(1, 0)][0].split()[-2:] == rows[(1, 1)][0].split()[:2]
    assert rows[(2, 0)] == ("a b c", 3)
    assert rows[(4, 0)] == ("solo", 1)
    assert not any(d == 3 for d, _ in rows)
    with pytest.raises(ValueError, match="overlap"):
        chunk_tokens(docs, chunk=4, overlap=4)


def test_triangle_count_canonicalizes(spark):
    from dataflowex_spark.operators.graph import triangle_count

    # K4 minus one edge = 2 triangles; plus noise: duplicate edges,
    # reversed direction, a self-loop, a pendant vertex
    edges = spark.createDataFrame(
        [
            (1, 2), (2, 3), (1, 3),          # triangle 1-2-3
            (2, 4), (3, 4),                  # triangle 2-3-4 (with 2-3)
            (3, 2),                          # reversed duplicate
            (2, 2),                          # self-loop: dropped
            (4, 5),                          # pendant
            (1, 2),                          # duplicate
        ],
        "src int, dst int",
    )
    row = triangle_count(edges).collect()[0]
    assert (row.n_edges, row.n_triangles) == (6, 2)

    empty = spark.createDataFrame([], "src int, dst int")
    row0 = triangle_count(empty).collect()[0]
    assert (row0.n_edges, row0.n_triangles) == (0, 0)


def test_chunk_tokens_reconstruction_property(spark):
    """Coverage property: dropping the first `overlap` tokens of every
    chunk after the first reconstructs the document's token stream
    exactly — no token lost or duplicated at any boundary, for
    assorted (chunk, overlap, length) shapes including exact-multiple
    and shorter-than-one-chunk lengths."""
    import random

    from dataflowex_spark.operators.text import chunk_tokens

    rng = random.Random(5)
    cases = [(32, 8), (7, 3), (5, 0), (4, 3)]
    docs = []
    for i, n_tok in enumerate([1, 3, 4, 5, 24, 29, 100, 101]):
        docs.append((i, " ".join(f"w{rng.randint(0,9)}x{j}" for j in range(n_tok))))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    for chunk, overlap in cases:
        out = chunk_tokens(df, chunk=chunk, overlap=overlap)
        rows = sorted(
            ((r.doc_id, r.chunk_idx, r.chunk_text) for r in out.collect())
        )
        rebuilt = {}
        for doc_id, idx, text in rows:
            toks = text.split(" ")
            if idx > 0:
                toks = toks[overlap:]
            rebuilt.setdefault(doc_id, []).extend(toks)
        for doc_id, text in docs:
            assert rebuilt[doc_id] == text.split(" "), (
                doc_id,
                chunk,
                overlap,
            )


def test_bloom_prefilter_no_false_negatives_and_prunes(spark, sf_dir):
    """Bloom semi-join reduction: (a) join through the bloom equals
    the plain join EXACTLY (no false negatives by construction),
    (b) the prefilter actually removes non-matching probe rows,
    (c) fill ratio stays in the sized-for regime."""
    from pyspark.sql import functions as F

    from dataflowex_spark.operators.bloom import bloom_build, bloom_prefilter

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    hi = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .filter(F.col("o_totalprice") > 250000)
        .select("o_orderkey")
    )
    bf = bloom_build(hi, "o_orderkey", num_bits=1 << 14, num_hashes=5)
    assert 0.0 < bf.fill_ratio < 0.5
    assert bf.n_items == hi.count()

    pruned = bloom_prefilter(li, "l_orderkey", bf)
    n_all, n_pruned = li.count(), pruned.count()
    assert n_pruned < n_all  # pruning actually happened

    plain = li.join(hi, li.l_orderkey == hi.o_orderkey)
    via = bloom_prefilter(li, "l_orderkey", bf).join(
        hi, F.col("l_orderkey") == F.col("o_orderkey")
    )
    assert plain.count() == via.count()
    # exact row-set equality, not just counts
    key = ["l_orderkey", "l_linenumber"]
    assert (
        plain.select(*key).exceptAll(via.select(*key)).count() == 0
        and via.select(*key).exceptAll(plain.select(*key)).count() == 0
    )

    # every build-side key passes its own filter (no false negatives)
    keys_through = bloom_prefilter(
        hi.withColumnRenamed("o_orderkey", "k"), "k", bf
    ).count()
    assert keys_through == bf.n_items


def test_predict_join_rows_exact_all_variants(spark):
    """The count-profile prediction equals the REAL join size for
    inner/left/right/full, including null keys (never match) and
    unmatched keys on both sides, with many-to-many multiplicity."""
    from dataflowex_spark.operators.joins import predict_join_rows

    a = spark.createDataFrame(
        [(1,), (1,), (2,), (3,), (None,)], "k int"
    )
    b = spark.createDataFrame(
        [(1,), (1,), (1,), (3,), (4,), (None,), (None,)], "k int"
    )
    for how in ("inner", "left", "right", "full"):
        pred = predict_join_rows(a, b, "k", how)["rows"]
        real = a.join(b, "k", how).count()
        assert pred == real, (how, pred, real)


def test_guarded_join_passes_and_raises(spark, sf_dir):
    """A healthy FK join passes the guard and equals the plain join;
    a hot-key many-to-many raises BEFORE executing, naming the
    predicted size."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from dataflowex_spark.operators.joins import (
        JoinSizeExceeded,
        guarded_join,
    )

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    ok = guarded_join(
        orders,
        cust.withColumnRenamed("c_custkey", "o_custkey"),
        "o_custkey",
        max_rows=10_000_000,
    )
    assert ok.count() == orders.join(
        cust, orders.o_custkey == cust.c_custkey
    ).count()

    hot = spark.range(2000).select(F.lit(7).alias("k"))
    with _pytest.raises(JoinSizeExceeded, match="4,000,000"):
        guarded_join(hot, hot, "k", max_rows=1_000_000)
    with _pytest.raises(JoinSizeExceeded, match="amplifies"):
        guarded_join(hot, hot, "k", max_rows=None, max_amplification=100.0)


# ---------------------------------------------------------------------
# mleval: AUC / KS / mutual information / calibration
# ---------------------------------------------------------------------


def test_roc_auc_matches_rank_reference(spark):
    """Tie-aware AUC equals the average-rank (Mann–Whitney) reference
    computed row-at-a-time in numpy, including tied scores."""
    import numpy as np
    from dataflowex_spark.operators.mleval import roc_auc
    import pyspark.sql.functions as F

    rng = np.random.default_rng(7)
    scores = rng.integers(0, 20, size=400)  # heavy ties on purpose
    labels = (rng.random(400) < (scores / 25.0)).astype(int)
    df = spark.createDataFrame(
        [(int(s), int(y)) for s, y in zip(scores, labels)], "s long, y int"
    )
    got = roc_auc(df, label=F.col("y") == 1, score=F.col("s")).collect()[0]

    # reference: average ranks (scipy-free)
    order = np.argsort(scores, kind="stable")
    ranks = np.empty(len(scores), dtype=float)
    sorted_s = scores[order]
    i = 0
    while i < len(sorted_s):
        j = i
        while j < len(sorted_s) and sorted_s[j] == sorted_s[i]:
            j += 1
        ranks[order[i:j]] = (i + j + 1) / 2.0  # avg of 1-based ranks
        i = j
    pos = labels == 1
    n_pos, n_neg = pos.sum(), (~pos).sum()
    auc_ref = (ranks[pos].sum() - n_pos * (n_pos + 1) / 2) / (n_pos * n_neg)
    assert got["n_pos"] == n_pos and got["n_neg"] == n_neg
    assert abs(got["auc"] - auc_ref) < 1e-6


def test_roc_auc_perfect_and_random():
    """AUC pins: perfectly separating scores → 1.0; identical scores
    for both classes → 0.5 (all ties, half credit)."""
    import pyspark.sql.functions as F
    from dataflowex_spark.operators.mleval import roc_auc
    from dataflowex_spark.session import get_spark

    spark = get_spark("t", master="local[2]", shuffle_partitions=2)
    perfect = spark.createDataFrame(
        [(i, 1 if i >= 50 else 0) for i in range(100)], "s long, y int"
    )
    assert roc_auc(perfect, F.col("y") == 1, F.col("s")).collect()[0][
        "auc"
    ] == 1.0
    allties = spark.createDataFrame(
        [(5, i % 2) for i in range(100)], "s long, y int"
    )
    assert roc_auc(allties, F.col("y") == 1, F.col("s")).collect()[0][
        "auc"
    ] == 0.5


def test_ks_statistic_reference(spark):
    """KS equals the brute-force max ECDF gap, and is 0 for identical
    samples / 1 for disjoint supports."""
    import numpy as np
    import pyspark.sql.functions as F
    from dataflowex_spark.operators.mleval import ks_statistic

    rng = np.random.default_rng(11)
    a = rng.integers(0, 50, 300)
    b = rng.integers(10, 60, 200)
    rows = [(int(v), True) for v in a] + [(int(v), False) for v in b]
    df = spark.createDataFrame(rows, "v long, g boolean")
    got = ks_statistic(df, group=F.col("g"), value=F.col("v")).collect()[0]

    grid = np.unique(np.concatenate([a, b]))
    fa = np.searchsorted(np.sort(a), grid, side="right") / len(a)
    fb = np.searchsorted(np.sort(b), grid, side="right") / len(b)
    ks_ref = np.abs(fa - fb).max()
    assert got["n_a"] == len(a) and got["n_b"] == len(b)
    assert abs(got["ks"] - ks_ref) < 1e-6

    same = spark.createDataFrame(
        [(int(v), s) for v in a for s in (True, False)], "v long, g boolean"
    )
    assert ks_statistic(same, F.col("g"), F.col("v")).collect()[0]["ks"] == 0.0
    disjoint = spark.createDataFrame(
        [(1, True), (2, True), (10, False), (11, False)], "v long, g boolean"
    )
    assert (
        ks_statistic(disjoint, F.col("g"), F.col("v")).collect()[0]["ks"] == 1.0
    )


def test_mutual_information_reference(spark):
    """MI and entropies match the direct numpy computation; MI of
    independent columns (one constant) is exactly 0; MI(X;X) = H(X)."""
    import numpy as np
    import pyspark.sql.functions as F
    from dataflowex_spark.operators.mleval import mutual_information

    rng = np.random.default_rng(3)
    xs = rng.integers(0, 4, 500)
    ys = (xs + rng.integers(0, 2, 500)) % 4  # correlated
    df = spark.createDataFrame(
        [(int(x), int(y)) for x, y in zip(xs, ys)], "x long, y long"
    )
    got = mutual_information(df, F.col("x"), F.col("y")).collect()[0]

    n = len(xs)
    mi_ref = 0.0
    for xv in np.unique(xs):
        for yv in np.unique(ys):
            cxy = int(((xs == xv) & (ys == yv)).sum())
            if cxy:
                cx = int((xs == xv).sum())
                cy = int((ys == yv).sum())
                mi_ref += (cxy / n) * np.log(cxy * n / (cx * cy))
    hx_ref = -sum(
        (c / n) * np.log(c / n)
        for c in np.bincount(xs) if c
    )
    assert abs(got["mi"] - mi_ref) < 1e-6
    assert abs(got["h_x"] - hx_ref) < 1e-6
    assert got["n"] == n

    const = df.withColumn("y", F.lit(1))
    assert (
        mutual_information(const, F.col("x"), F.col("y")).collect()[0]["mi"]
        == 0.0
    )
    self_mi = mutual_information(df, F.col("x"), F.col("x")).collect()[0]
    assert abs(self_mi["mi"] - self_mi["h_x"]) < 1e-9


def test_calibration_table_bins_and_rates(spark):
    """Calibration bins are equal-sized NTILE buckets in score order
    and the per-bin pos_rate matches a pandas recomputation."""
    import numpy as np
    import pandas as pd
    import pyspark.sql.functions as F
    from dataflowex_spark.operators.mleval import calibration_table

    rng = np.random.default_rng(5)
    scores = rng.random(437)  # deliberately not divisible by 10
    labels = (rng.random(437) < scores).astype(int)
    ids = np.arange(437)
    df = spark.createDataFrame(
        [(float(s), int(y), int(i)) for s, y, i in zip(scores, labels, ids)],
        "s double, y int, i long",
    )
    got = (
        calibration_table(
            df, F.col("s"), F.col("y") == 1, F.col("i"), n_bins=10
        )
        .toPandas()
        .set_index("bin")
    )
    pdf = pd.DataFrame({"s": scores, "y": labels, "i": ids}).sort_values(
        ["s", "i"]
    )
    # NTILE: first n%k tiles get one extra row
    n, k = len(pdf), 10
    sizes = [(n // k) + (1 if t < n % k else 0) for t in range(k)]
    start = 0
    for t, sz in enumerate(sizes, start=1):
        chunk = pdf.iloc[start : start + sz]
        start += sz
        assert got.loc[t, "n"] == sz
        assert abs(got.loc[t, "pos_rate"] - chunk["y"].mean()) < 1e-6
        assert abs(got.loc[t, "avg_score"] - chunk["s"].mean()) < 1e-6


# ---------------------------------------------------------------------
# linalg: distributed covariance / PCA
# ---------------------------------------------------------------------


def test_covariance_matrix_matches_numpy(spark):
    """Distributed partial-XᵀX covariance equals np.cov(bias=True) on
    the gathered matrix, across multiple partitions/batches."""
    import numpy as np
    from dataflowex_spark.operators.linalg import covariance_matrix

    rng = np.random.default_rng(2)
    X = rng.normal(size=(500, 6)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(X)],
        "id long, embedding array<float>",
    ).repartition(7)
    got = {
        (r["i"], r["j"]): r["cov"]
        for r in covariance_matrix(df, "embedding").collect()
    }
    ref = np.cov(X.astype(np.float64), rowvar=False, bias=True)
    assert len(got) == 6 * 7 // 2
    for (i, j), c in got.items():
        assert abs(c - ref[i, j]) < 1e-9


def test_pca_project_matches_numpy(spark):
    """PCA projection reproduces the numpy eigh projection (after the
    canonical sign fix) and its per-component variance equals the
    eigenvalues."""
    import numpy as np
    from dataflowex_spark.operators.linalg import (
        pca_components,
        pca_project,
    )

    rng = np.random.default_rng(9)
    base = rng.normal(size=(300, 4)) @ np.diag([5.0, 2.0, 0.5, 0.1])
    X = base.astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(X)],
        "id long, embedding array<float>",
    ).repartition(5)
    vals, W = pca_components(df, "embedding", k=2)
    assert vals[0] > vals[1] > 0

    proj = {
        r["id"]: r["pc"]
        for r in pca_project(df, "embedding", k=2, components=W).collect()
    }
    Xd = X.astype(np.float64)
    ref = Xd @ W
    for i in range(len(X)):
        assert np.allclose(proj[i], ref[i], atol=1e-9)
    # variance of centered projection ≈ eigenvalues of covariance
    P = np.array([proj[i] for i in range(len(X))])
    centered = P - P.mean(axis=0)
    var = (centered**2).mean(axis=0)
    assert np.allclose(var, vals, rtol=1e-6)


# ---------------------------------------------------------------------
# readability / correlation matrix / KMV sketch
# ---------------------------------------------------------------------


def test_readability_pinned_values(spark):
    """Flesch formula on hand-counted sentences: known word /
    sentence / syllable counts give the exact closed-form score."""
    from dataflowex_spark.operators.text import readability_scores

    df = spark.createDataFrame(
        [
            (1, "the cat sat. the dog ran!"),  # 6 words, 2 sent, 6 syl
            (2, ""),  # degenerate: clamps, finite score
        ],
        "id long, text string",
    )
    rows = {r["id"]: r["flesch"] for r in readability_scores(df).collect()}
    expected = 206.835 - 1.015 * (6 / 2) - 84.6 * (6 / 6)
    assert abs(rows[1] - expected) < 1e-9
    assert rows[2] == 206.835 - 1.015 * 1.0 - 84.6 * 0.0


def test_correlation_matrix_reference(spark):
    """corr() pairs equal numpy's corrcoef, including a perfectly
    linear pair (corr = 1)."""
    import numpy as np
    from dataflowex_spark.operators.validation import correlation_matrix

    rng = np.random.default_rng(4)
    a = rng.normal(size=200)
    b = 2 * a + 1  # perfectly correlated
    c = rng.normal(size=200)
    df = spark.createDataFrame(
        [(float(x), float(y), float(z)) for x, y, z in zip(a, b, c)],
        "a double, b double, c double",
    )
    got = {
        (r["col_a"], r["col_b"]): r["corr"]
        for r in correlation_matrix(df, ["a", "b", "c"]).collect()
    }
    assert len(got) == 3
    assert abs(got[("a", "b")] - 1.0) < 1e-6
    assert abs(got[("a", "c")] - np.corrcoef(a, c)[0, 1]) < 1e-5
    assert abs(got[("b", "c")] - np.corrcoef(b, c)[0, 1]) < 1e-5


def test_kmv_jaccard_estimate_and_exact(spark):
    """Exact column is exact; the KMV estimate is within the standard
    error bound of the true Jaccard, and degenerates to the exact
    value when k exceeds the union size."""
    from dataflowex_spark.operators.similarity import kmv_jaccard

    a = spark.createDataFrame([(i,) for i in range(600)], "u long")
    b = spark.createDataFrame([(i,) for i in range(300, 900)], "u long")
    # true: |A∩B| = 300, |A∪B| = 900 → 1/3
    r = kmv_jaccard(a, b, "u", k=256).collect()[0]
    assert r["jaccard"] == round(300 / 900, 6)
    assert r["n_a"] == 600 and r["n_b"] == 600
    assert abs(r["est_jaccard"] - 1 / 3) < 3 * ((1 / 3) * (2 / 3) / 256) ** 0.5
    # k >= |A∪B|: sketches are the full sets, estimate is exact
    r2 = kmv_jaccard(a, b, "u", k=2048).collect()[0]
    assert abs(r2["est_jaccard"] - r2["jaccard"]) < 1e-6


def test_psi_identical_zero_and_shift_positive(spark):
    """PSI of a distribution against itself is ~0 (only smoothing
    noise); a location shift produces a clearly larger PSI; and the
    value matches a direct numpy recomputation of the same pinned
    definition."""
    import numpy as np
    import pyspark.sql.functions as F
    from dataflowex_spark.operators.mleval import (
        population_stability_index,
    )

    rng = np.random.default_rng(6)
    ref_v = rng.integers(0, 100, 2000)
    cur_same = ref_v.copy()
    cur_shift = ref_v + 30
    mk = lambda arr: spark.createDataFrame(
        [(int(v),) for v in arr], "v long"
    )
    same = population_stability_index(
        mk(ref_v), mk(cur_same), F.col("v")
    ).collect()[0]
    assert abs(same["psi"]) < 1e-3
    shift = population_stability_index(
        mk(ref_v), mk(cur_shift), F.col("v")
    ).collect()[0]
    assert shift["psi"] > 0.5

    # numpy reference of the same pinned definition
    sref = np.sort(ref_v)
    n = len(sref)
    edges = [
        sref[
            np.searchsorted(
                np.cumsum(np.ones(n)) * 10 >= n * k, True
            )
        ]
        for k in range(1, 10)
    ]
    edges = np.unique(edges)  # pinned rule yields distinct cut values here

    def bins(arr):
        b = np.array([np.sum(np.array(edges) < v) for v in arr])
        return np.bincount(b, minlength=10)[:10]

    cr, cu = bins(ref_v), bins(cur_shift)
    pr = (cr + 1) / (len(ref_v) + 10)
    pc = (cu + 1) / (len(cur_shift) + 10)
    psi_ref = np.sum((pr - pc) * np.log(pr / pc))
    assert abs(shift["psi"] - psi_ref) < 1e-4


def test_isotonic_calibration_pav(spark):
    """PAV output is monotone non-decreasing, preserves the total
    positive mass, and matches a brute-force PAV reference."""
    import numpy as np
    import pyspark.sql.functions as F
    from dataflowex_spark.operators.mleval import isotonic_calibration

    rng = np.random.default_rng(8)
    scores = rng.integers(0, 30, 1000)
    labels = (rng.random(1000) < scores / 40.0).astype(int)
    df = spark.createDataFrame(
        [(int(s), int(y)) for s, y in zip(scores, labels)], "s long, y int"
    )
    out = (
        isotonic_calibration(df, F.col("s"), F.col("y") == 1)
        .orderBy("s")
        .collect()
    )
    ps = [r["p_iso"] for r in out]
    assert ps == sorted(ps)  # monotone
    # mass preservation: Σ n·p ≈ total positives (exact up to rounding)
    mass = sum(r["n"] * r["p_iso"] for r in out)
    assert abs(mass - labels.sum()) < 1e-2
    # brute-force PAV reference over the compacted buckets
    uniq = np.unique(scores)
    pos = np.array([labels[scores == s].sum() for s in uniq], dtype=float)
    cnt = np.array([(scores == s).sum() for s in uniq], dtype=float)
    blocks = []
    for p, n in zip(pos, cnt):
        blocks.append([p, n])
        while len(blocks) > 1 and (
            blocks[-2][0] / blocks[-2][1] >= blocks[-1][0] / blocks[-1][1]
        ):
            p2, n2 = blocks.pop()
            blocks[-1][0] += p2
            blocks[-1][1] += n2
    # expand by walking buckets against block boundaries
    ref_ps = []
    bi, used = 0, 0.0
    for n_b in cnt:
        ref_ps.append(blocks[bi][0] / blocks[bi][1])
        used += n_b
        if used >= blocks[bi][1] - 1e-9:
            used = 0.0
            bi += 1
    for got_r, want in zip(out, ref_ps):
        assert abs(got_r["p_iso"] - want) < 1e-6


def test_aqe_converts_filtered_join_to_broadcast(spark, sf_dir):
    """Adaptive Query Execution turns a planned sort-merge join into a
    broadcast join AT RUNTIME when the filtered build side turns out
    tiny — the mechanism the engine leans on at 100 TB when static
    stats can't see through a selective filter. Asserted from the
    final adaptive plan, not guessed."""
    import pyspark.sql.functions as F

    big = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    small = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .filter(F.col("o_totalprice") > 450000)  # few survivors
        .select("o_orderkey", "o_orderpriority")
    )
    # disable the static auto-broadcast so ONLY AQE can convert
    with_conf = spark.conf
    old_thresh = with_conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        with_conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        # ...while the ADAPTIVE threshold stays on: this is the split
        # that makes the conversion attributable to runtime stats only
        with_conf.set(
            "spark.sql.adaptive.autoBroadcastJoinThreshold", "10MB"
        )
        joined = big.join(
            small, F.col("l_orderkey") == F.col("o_orderkey")
        ).groupBy("o_orderpriority").count()
        joined.collect()  # execute so AQE finalizes the plan
        final = joined._jdf.queryExecution().executedPlan().toString()
        assert "AdaptiveSparkPlan isFinalPlan=true" in final
        assert "BroadcastHashJoin" in final, final[:2000]
    finally:
        with_conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        with_conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")


def test_ridge_regression_matches_numpy(spark):
    """Distributed normal-equation ridge equals numpy's closed form,
    exactly recovers known coefficients at λ=0, and shrinks toward
    zero as λ grows."""
    import numpy as np
    from dataflowex_spark.operators.linalg import ridge_regression

    rng = np.random.default_rng(13)
    X = rng.normal(size=(400, 3))
    beta_true = np.array([2.0, -1.5, 0.5])
    y = X @ beta_true + 4.0 + rng.normal(scale=0.01, size=400)
    df = spark.createDataFrame(
        [
            (float(a), float(b), float(c), float(t))
            for (a, b, c), t in zip(X, y)
        ],
        "f1 double, f2 double, f3 double, y double",
    ).repartition(5)

    fit0 = ridge_regression(df, ["f1", "f2", "f3"], "y", l2=0.0)
    for f, want in zip(["f1", "f2", "f3"], beta_true):
        assert abs(fit0["coef"][f] - want) < 0.01
    assert abs(fit0["intercept"] - 4.0) < 0.01

    # numpy reference with the same λ convention (intercept unshrunk)
    lam = 50.0
    fit = ridge_regression(df, ["f1", "f2", "f3"], "y", l2=lam)
    Xa = np.hstack([X, np.ones((len(X), 1))])
    G = Xa.T @ Xa + np.diag([lam, lam, lam, 0.0])
    ref = np.linalg.solve(G, Xa.T @ y)
    for i, f in enumerate(["f1", "f2", "f3"]):
        assert abs(fit["coef"][f] - ref[i]) < 1e-6
        assert abs(fit["coef"][f]) < abs(fit0["coef"][f])  # shrinkage


def test_mahalanobis_scores_match_numpy_and_flag_outlier(spark):
    """Distributed Mahalanobis equals the numpy quadratic form, and an
    injected correlation-breaking point outscores every inlier even
    though its Euclidean norm is unremarkable."""
    import numpy as np
    from dataflowex_spark.operators.linalg import mahalanobis_scores

    rng = np.random.default_rng(17)
    z = rng.normal(size=(300, 2))
    X = np.column_stack([z[:, 0], z[:, 0] * 0.95 + 0.05 * z[:, 1]])
    # outlier: breaks the correlation, modest magnitude
    X = np.vstack([X, [1.5, -1.5]])
    df = spark.createDataFrame(
        [(i, [float(a), float(b)]) for i, (a, b) in enumerate(X)],
        "vec_id long, embedding array<float>",
    ).repartition(4)
    got = {
        r["vec_id"]: r["maha"]
        for r in mahalanobis_scores(df).collect()
    }
    Xd = np.stack(
        [[float(np.float32(a)), float(np.float32(b))] for a, b in X]
    )
    mu = Xd.mean(axis=0)
    C = np.cov(Xd, rowvar=False, bias=True)
    P = np.linalg.pinv(C + 1e-9 * np.eye(2))
    ref = np.einsum("ij,jk,ik->i", Xd - mu, P, Xd - mu)
    for i in range(len(X)):
        assert abs(got[i] - ref[i]) < 1e-6 * max(1.0, ref[i])
    assert max(got, key=got.get) == len(X) - 1  # the injected point


def test_label_propagation_finds_disjoint_cliques(spark):
    """Two disjoint cliques converge to exactly two communities (the
    min node id of each clique), and a bridge-free isolated node
    keeps its own label."""
    from dataflowex_spark.operators.graph import label_propagation

    edges = []
    for grp in ([1, 2, 3, 4], [10, 11, 12, 13]):
        edges += [
            (a, b) for i, a in enumerate(grp) for b in grp[i + 1 :]
        ]
    edges.append((20, 21))  # tiny pair component
    df = spark.createDataFrame(edges, "src long, dst long")
    out = {r["node"]: r["lbl"] for r in label_propagation(df, iters=4).collect()}
    assert {out[n] for n in [1, 2, 3, 4]} == {1}
    assert {out[n] for n in [10, 11, 12, 13]} == {10}
    assert out[20] == out[21] == 20


def test_join_strategy_hints_control_physical_plan(spark, sf_dir):
    """The three join-strategy hints each produce their named physical
    operator for the same logical join — the explicit control surface
    when the optimizer's choice must be overridden."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")

    def plan_of(hint):
        j = li.join(
            orders.hint(hint), li.l_orderkey == orders.o_orderkey
        )
        return j._jdf.queryExecution().executedPlan().toString()

    assert "BroadcastHashJoin" in plan_of("broadcast")
    assert "ShuffledHashJoin" in plan_of("shuffle_hash")
    assert "SortMergeJoin" in plan_of("merge")


def test_transitive_root_pointer_doubling(spark):
    """Pointer doubling resolves root and EXACT depth for a depth-9
    chain plus a forest, with doublings = ceil(log2(depth))."""
    from dataflowex_spark.operators.graph import transitive_root

    rows = [(i, i - 1 if i > 0 else None) for i in range(10)]  # chain 0..9
    rows += [(100, None), (101, 100), (102, 100), (103, 102)]  # small tree
    df = spark.createDataFrame(rows, "node long, parent long")
    out = {
        r["node"]: (r["root"], r["depth"])
        for r in transitive_root(df, doublings=4).collect()
    }
    for i in range(10):
        assert out[i] == (0, i)
    assert out[100] == (100, 0)
    assert out[101] == (100, 1)
    assert out[103] == (100, 2)
    # extra rounds are no-ops (root self-loop has step 0)
    out8 = {
        r["node"]: (r["root"], r["depth"])
        for r in transitive_root(df, doublings=8).collect()
    }
    assert out8 == out


def test_bloom_prefilter_drops_null_keys(spark):
    """Null probe keys are DROPPED by the standalone prefilter, as the
    docstring promises: xxhash64(NULL, seed) hashes the seed alone, so
    without the explicit isNotNull a null-key row could alias a real
    key's bit positions and leak through."""
    from dataflowex_spark.operators.bloom import bloom_build, bloom_prefilter

    build = spark.createDataFrame([(i,) for i in range(50)], "k long")
    probe = spark.createDataFrame(
        [(None,), (None,), (3,), (999_999,)], "k long"
    )
    bf = bloom_build(build, "k", num_bits=1 << 12, num_hashes=5)
    kept = [r["k"] for r in bloom_prefilter(probe, "k", bf).collect()]
    assert None not in kept
    assert 3 in kept  # build-side key always passes


def test_mask_columns_partial_short_values_fully_redacted(spark):
    """'partial' never reveals the whole value: strings of <= 3 chars
    collapse to exactly '***' (no prefix), longer strings keep a
    3-char prefix."""
    from dataflowex_spark.operators.validation import mask_columns

    df = spark.createDataFrame(
        [("ab",), ("abc",), ("abcd",), (None,)], "s string"
    )
    got = {r["s"] for r in mask_columns(df, {"s": "partial"}).collect()}
    assert got == {"***", "abc***", None}


def test_psi_guards_empty_reference_and_bad_bins(spark):
    """PSI raises a diagnosable error instead of silently returning
    NULL when the reference side has no rows or n_bins < 2."""
    import pyspark.sql.functions as F
    import pytest as _pytest

    from dataflowex_spark.operators.mleval import (
        population_stability_index,
    )

    full = spark.createDataFrame([(i,) for i in range(100)], "v long")
    empty = full.filter(F.col("v") < 0)
    with _pytest.raises(ValueError, match="reference .* empty"):
        population_stability_index(empty, full, F.col("v"))
    with _pytest.raises(ValueError, match="n_bins"):
        population_stability_index(full, full, F.col("v"), n_bins=1)


def test_quantile_normalize_continuous_domain_capped(spark):
    """Adversarial continuous domain: every value distinct (#distinct
    == #rows), which would make the unpartitioned cumulative window
    row-sized. With max_levels the global compacted frame is capped by
    construction; the result matches a numpy recomputation of the
    same quantize-then-rank-match definition, and normalized outputs
    take at most max_levels distinct values. The exact path (no cap)
    still matches numpy on a small discrete domain."""
    import numpy as np

    from dataflowex_spark.operators.sampling import quantile_normalize

    rng = np.random.default_rng(9)
    n = 4000
    vals = rng.normal(loc=np.repeat([0.0, 5.0], n // 2), scale=1.0, size=n)
    grp = np.repeat(["a", "b"], n // 2)
    assert len(set(vals.tolist())) == n  # genuinely continuous
    df = spark.createDataFrame(
        [(int(i), str(g), float(v)) for i, (g, v) in enumerate(zip(grp, vals))],
        "rid long, src string, v double",
    )
    L = 64
    out = quantile_normalize(df, "v", "src", "rid", max_levels=L)
    rows = {r["rid"]: r["qn_value"] for r in out.collect()}
    assert len(rows) == n
    assert len(set(rows.values())) <= L

    # numpy oracle of the SAME pinned definition
    lo, hi = vals.min(), vals.max()
    width = (hi - lo) / L
    lev = np.minimum(np.floor((vals - lo) / width), L - 1).astype(int)
    qv = lo + (lev + 0.5) * width
    order_g = np.sort(np.unique(qv))
    cum = {}
    c = 0
    counts = {g: int((qv == g).sum()) for g in order_g}
    for g in order_g:
        c += counts[g]
        cum[g] = c
    N = n
    for g in ("a", "b"):
        idx = np.where(grp == g)[0]
        # rank within group by (qv, rid) — matches the operator's order
        ranked = sorted(idx, key=lambda i: (qv[i], i))
        ns = len(ranked)
        for rn0, i in enumerate(ranked):
            want = next(
                gg for gg in order_g
                if (cum[gg] - 1) * (ns - 1) >= rn0 * (N - 1)
            )
            assert abs(rows[i] - want) < 1e-9, (i, rows[i], want)

    # guard
    import pytest as _pytest

    with _pytest.raises(ValueError, match="max_levels"):
        quantile_normalize(df, "v", "src", "rid", max_levels=1)


def test_global_cumsum_matches_window(spark):
    """global_cumsum == F.sum(...).over(Window.orderBy(...)) exactly
    (inclusive AND exclusive frames, multiple columns), while its
    plan contains ZERO unpartitioned WindowExec nodes — the property
    the mleval rewiring relies on."""
    from pyspark.sql import Window

    from dataflowex_spark.operators.windows import global_cumsum
    from dataflowex_spark.plans import plan_stats

    df = spark.range(257).select(
        (F.col("id") * 37 % 1000).alias("k"),
        (F.col("id") % 7).alias("a"),
        (F.col("id") % 11).alias("b"),
    )
    w = Window.orderBy("k")
    expect_inc = {
        r.k: (r.ca, r.cb)
        for r in df.select(
            "k",
            F.sum("a").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("ca"),
            F.sum("b").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("cb"),
        ).collect()
    }
    got_inc_df = global_cumsum(df, [F.col("k")], ["a", "b"])
    got_inc = {r.k: (r.a_cum, r.b_cum) for r in got_inc_df.collect()}
    assert got_inc == expect_inc
    assert plan_stats(got_inc_df)["unpartitioned_windows"] == 0

    expect_exc = {
        r.k: r.ca
        for r in df.select(
            "k",
            F.coalesce(
                F.sum("a").over(w.rowsBetween(Window.unboundedPreceding, -1)),
                F.lit(0),
            ).alias("ca"),
        ).collect()
    }
    got_exc = {
        r.k: r.a_prev
        for r in global_cumsum(
            df, [F.col("k")], ["a"], include_current=False, suffix="_prev"
        ).collect()
    }
    assert got_exc == expect_exc


def test_roc_auc_continuous_scores_scale_shape(spark):
    """The r5 'weak' scenario head-on: a CONTINUOUS double score
    (every value distinct — compaction buys nothing) still computes
    the exact Mann-Whitney AUC and still plans zero unpartitioned
    windows, because the ordered prefix is the range-partitioned
    two-pass, not Window.orderBy."""
    from dataflowex_spark.operators.mleval import roc_auc
    from dataflowex_spark.plans import plan_stats

    n = 5000
    df = spark.range(n).select(
        (F.col("id") % 2).alias("y"),
        # deterministic irrational-ish spread: all distinct doubles,
        # positives shifted so AUC is strictly between 0.5 and 1
        (
            F.sin(F.col("id").cast("double")) * 1000.0
            + (F.col("id") % 2).cast("double") * 400.0
        ).alias("s"),
    )
    out = roc_auc(df, F.col("y") == 1, F.col("s"))
    assert plan_stats(out)["unpartitioned_windows"] == 0
    row = out.collect()[0]
    # python reference: exact pair counting over the collected frame
    rows = df.collect()
    pos = sorted(r.s for r in rows if r.y == 1)
    neg = sorted(r.s for r in rows if r.y == 0)
    import bisect

    half_pairs2 = 0
    for p in pos:
        lt = bisect.bisect_left(neg, p)
        eq = bisect.bisect_right(neg, p) - lt
        half_pairs2 += 2 * lt + eq
    want = round(half_pairs2 / (2.0 * len(pos) * len(neg)), 6)
    assert abs(row["auc"] - want) < 1e-9
    assert row["n_pos"] == len(pos) and row["n_neg"] == len(neg)


def test_sssp_weighted_hand_graph(spark):
    """Bellman-Ford on a hand graph where the weighted shortest path
    differs from the fewest-hop path: 0-1-2-3 costs 3 via unit edges
    while the direct 0-3 edge costs 10 — the weighted answer must
    take the longer-hop route. Also: parallel edges collapse to the
    lightest, multi-round exactness bound, undirected symmetry."""
    from dataflowex_spark.operators.graph import sssp_weighted

    edges = spark.createDataFrame(
        [
            (0, 1, 1), (1, 2, 1), (2, 3, 1),  # cheap 3-hop chain
            (0, 3, 10),                        # expensive shortcut
            (0, 3, 12),                        # parallel, heavier
            (3, 4, 2),
        ],
        "src long, dst long, w long",
    )
    src = spark.createDataFrame([(0,)], "node long")
    got = {
        r["node"]: r["d"]
        for r in sssp_weighted(edges, src, max_rounds=5).collect()
    }
    assert got == {0: 0, 1: 1, 2: 2, 3: 3, 4: 5}
    # with only 1 round, just direct edges relax (<=1-edge paths
    # exact: node 3 via the 10-weight shortcut)
    one = {
        r["node"]: r["d"]
        for r in sssp_weighted(edges, src, max_rounds=1).collect()
    }
    assert one[3] == 10 and one[1] == 1


def test_sax_words_invariances(spark):
    """SAX properties: (1) z-normalization makes the word invariant
    to affine transforms (shift/scale of the series); (2) a constant
    series hits the pinned variance-0 edge (all-'c' word: z==0);
    (3) keys with fewer than series_len observations are dropped;
    (4) a rising ramp and a falling ramp get mirror words."""
    from dataflowex_spark.operators.timeseries import sax_words

    def series(key, vals):
        return [
            (key, float(i), float(v), i) for i, v in enumerate(vals)
        ]

    base = [float(i % 16) for i in range(32)]         # two ramps up
    shifted = [v * 3.0 + 100.0 for v in base]         # affine copy
    falling = [15.0 - (i % 16) for i in range(32)]    # mirrored
    rows = (
        series(1, base)
        + series(2, shifted)
        + series(3, [7.0] * 32)                        # constant
        + series(4, base[:20])                         # too short
        + series(5, falling)
    )
    df = spark.createDataFrame(
        rows, "k long, t double, v double, tie long"
    )
    words = {
        r["k"]: r["word"]
        for r in sax_words(
            df, "k", "t", "v", series_len=32, paa_segments=8,
            tie_cols=("tie",),
        ).collect()
    }
    assert set(words) == {1, 2, 3, 5}   # key 4 dropped
    assert words[1] == words[2]          # affine invariance
    assert words[3] == "c" * 8           # variance-0 edge pinned
    # the falling ramp is the VALUE mirror of the rising one
    # (falling = 15 - rising pointwise), so its word is the symbol
    # complement — not a time reversal
    assert words[5] == words[1].translate(str.maketrans("abcd", "dcba"))


def test_brier_decomposition_identity_and_reference(spark):
    """When scores are constant within bins, Murphy's identity is
    EXACT: brier == reliability - resolution + uncertainty; all four
    terms match a row-at-a-time numpy reference."""
    import numpy as np
    from dataflowex_spark.operators.mleval import brier_decomposition
    import pyspark.sql.functions as F

    rng = np.random.default_rng(11)
    # 5 distinct score levels, 100 rows each -> 5 equal-count bins
    # with constant score inside each bin (identity holds exactly).
    levels = np.repeat(np.array([0.1, 0.3, 0.5, 0.7, 0.9]), 100)
    y = (rng.random(500) < levels).astype(int)
    df = spark.createDataFrame(
        [(float(p), int(yy), i) for i, (p, yy) in enumerate(zip(levels, y))],
        "p double, y int, i long",
    )
    row = brier_decomposition(
        df, label=F.col("y"), score=F.col("p"), bins=5,
        tiebreak=F.col("i"), round_digits=9,
    ).collect()[0]

    # numpy reference
    brier_ref = float(np.mean((levels - y) ** 2))
    obar = y.mean()
    rel = res = 0.0
    for lv in np.unique(levels):
        m = levels == lv
        ok = y[m].mean()
        rel += m.sum() * (lv - ok) ** 2
        res += m.sum() * (ok - obar) ** 2
    rel /= 500
    res /= 500
    unc = obar * (1 - obar)

    assert abs(row["brier"] - brier_ref) < 1e-8
    assert abs(row["reliability"] - rel) < 1e-8
    assert abs(row["resolution"] - res) < 1e-8
    assert abs(row["uncertainty"] - unc) < 1e-8
    # Murphy identity, exact under within-bin-constant scores
    assert abs(
        row["brier"]
        - (row["reliability"] - row["resolution"] + row["uncertainty"])
    ) < 1e-8
    assert row["n"] == 500


def test_textrank_star_center_wins(spark):
    """Hub-and-spoke corpus: the hub word co-occurs with every spoke,
    so TextRank must rank it first; spokes tie by symmetry. Exercises
    the q307 composition end-to-end (tokenize → vocab → symmetric
    co-occurrence → pagerank) on a graph whose answer is known."""
    import dataflowex_spark.queries as Q
    import tempfile, os

    docs = [("d%d" % i, "hub spoke%d" % i, "s") for i in range(6)]
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            docs, "doc_id string, text string, source string"
        ).write.parquet(os.path.join(d, "documents.parquet"))
        out = Q.REGISTRY["q307_textrank_keywords"][0](spark, d).collect()
    assert out[0]["token"] == "hub"
    spoke_ranks = {r["r"] for r in out[1:]}
    assert len(spoke_ranks) == 1  # all spokes identical by symmetry
    assert out[0]["r"] > out[1]["r"]
    # conservation: total rank mass stays ~1 over the 7-node graph
    assert abs(sum(r["r"] for r in out) - 1.0) < 1e-3


def test_bm25_properties(spark):
    """BM25 on a hand-built corpus pins the three defining behaviors:
    (1) exact closed-form score (idf and normalization denominator);
    (2) tf saturation — score grows with tf but sub-linearly (bounded
    by (k1+1)·idf); (3) length normalization — same tf, longer doc
    scores lower. Non-matching docs are absent from the result."""
    import math

    from dataflowex_spark.operators.text import bm25_scores

    docs = spark.createDataFrame(
        [
            ("rare1", "rare pad pad pad"),          # rare tf=1, dl=4
            ("comm1", "common pad pad pad"),        # common tf=1, dl=4
            ("rare2", "rare rare pad pad"),         # rare tf=2, dl=4
            ("rare_long", "rare pad pad pad pad pad pad pad"),  # dl=8
            ("comm2", "common pad pad pad"),
            ("comm3", "common pad pad pad"),
            ("nohit", "pad pad pad pad"),
        ],
        "doc_id string, text string",
    )
    terms = spark.createDataFrame([("rare",), ("common",)], "term string")
    got = {
        r["doc_id"]: r["bm25"]
        for r in bm25_scores(docs, terms).collect()
    }
    assert "nohit" not in got  # only matching docs are scored
    # (1) exact closed form on rare1 (df=3, tf=1, dl=4) pins idf and
    # the normalization denominator in one equality
    n, df_rare, dl, avgdl = 7, 3, 4, (4 + 4 + 4 + 8 + 4 + 4 + 4) / 7
    idf = math.log((n - df_rare + 0.5) / (df_rare + 0.5) + 1.0)
    exp_rare1 = idf * (1 * 2.2) / (1 + 1.2 * (0.25 + 0.75 * dl / avgdl))
    assert abs(got["rare1"] - exp_rare1) < 1e-9
    # (2) tf saturation: tf=2 beats tf=1 but less than 2x
    assert got["rare2"] > got["rare1"]
    assert got["rare2"] < 2 * got["rare1"]
    assert got["rare2"] < (1.2 + 1) * idf  # asymptotic bound
    # (3) length normalization: same tf=1, dl=8 < dl=4 score
    assert got["rare_long"] < got["rare1"]


def test_rrf_fuse_properties(spark):
    """RRF on two hand-built top-3 lists pins the closed-form score,
    the outer-join union semantics (docs in one list keep a NULL rank
    for the other), and rank-based order: a doc ranked mid in BOTH
    lists beats a doc ranked first in only one (1/61+1/63 > 1/61)."""
    from dataflowex_spark.operators.similarity import rrf_fuse

    lex = spark.createDataFrame(
        [(10, 1), (20, 2), (30, 3)], "doc_id long, rank int"
    )
    vec = spark.createDataFrame(
        [(20, 1), (30, 2), (40, 3)], "doc_id long, rank int"
    )
    got = {
        r["doc_id"]: r
        for r in rrf_fuse({"lex": lex, "vec": vec}).collect()
    }
    assert set(got) == {10, 20, 30, 40}
    assert abs(got[20]["rrf"] - (1 / 62 + 1 / 61)) < 1e-12
    assert abs(got[10]["rrf"] - 1 / 61) < 1e-12
    assert got[10]["vec_rank"] is None and got[40]["lex_rank"] is None
    # both-lists beats single-list-first
    assert got[30]["rrf"] > got[10]["rrf"]
    # single-system degenerates to rank order
    solo = rrf_fuse({"lex": lex}).collect()
    order = [r["doc_id"] for r in sorted(solo, key=lambda r: -r["rrf"])]
    assert order == [10, 20, 30]


def test_fellegi_sunter_link(spark):
    """Two-source linkage on a hand-built roster pins the F-S decision
    model: blocking (cross-block pairs never scored), the quantized
    agree/disagree weight sum, and the threshold classification."""
    from dataflowex_spark.operators.linkage import fellegi_sunter_link

    a = spark.createDataFrame(
        [(1, "x", "ann", 100), (2, "x", "bob", 200), (3, "y", "cat", 300)],
        "id long, blk string, name string, amt long",
    )
    b = spark.createDataFrame(
        [(10, "x", "ann", 105), (20, "x", "eve", 205), (30, "z", "cat", 300)],
        "id long, blk string, name string, amt long",
    )
    out = fellegi_sunter_link(
        a,
        block_cols=["blk"],
        comparisons=[
            ("name", lambda l, r: l("name") == r("name"), 30, -10),
            ("amt", lambda l, r: F.abs(l("amt") - r("amt")) <= 10, 15, -5),
        ],
        id_col="id",
        b=b,
        match_threshold=40,
        possible_threshold=0,
    )
    rows = {(r["id_a"], r["id_b"]): r for r in out.collect()}
    # blocking: only block-x pairs (2x2); 'cat' pair is cross-block
    assert set(rows) == {(1, 10), (1, 20), (2, 10), (2, 20)}
    assert rows[(1, 10)]["score"] == 45  # both agree
    assert rows[(1, 10)]["classification"] == "match"
    assert rows[(2, 20)]["score"] == -10 + 15  # amt diff 5 agrees
    assert rows[(2, 20)]["classification"] == "possible"
    assert rows[(2, 10)]["score"] == -15  # both fields disagree
    assert rows[(2, 10)]["classification"] == "non_match"
    # self-link mode: canonical id_a < id_b, no self pairs
    self_out = fellegi_sunter_link(
        a,
        block_cols=["blk"],
        comparisons=[("name", lambda l, r: l("name") == r("name"), 30, -10)],
        id_col="id",
    )
    pairs = {(r["id_a"], r["id_b"]) for r in self_out.collect()}
    assert pairs == {(1, 2)}


def test_naive_bayes_separable(spark):
    """Two perfectly separable vocabularies: NB must classify every
    doc correctly (including the add-one-smoothed never-seen-in-class
    terms), scores are integers, and a doc of pure cross-class tokens
    flips prediction — pinning that evidence, not priors, decides."""
    from dataflowex_spark.operators.text import naive_bayes_label

    rows = (
        [(i, "apple apple banana", "fruit") for i in range(4)]
        + [(i + 10, "bolt nut bolt", "hardware") for i in range(4)]
        # a fruit-labeled doc whose text is pure hardware vocabulary:
        + [(99, "bolt bolt nut nut", "fruit")]
    )
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {r["doc_id"]: r for r in naive_bayes_label(df).collect()}
    for i in range(4):
        assert out[i]["pred"] == "fruit"
        assert out[i + 10]["pred"] == "hardware"
    # evidence overrides the (tied-ish) prior
    assert out[99]["pred"] == "hardware"
    assert all(isinstance(r["score_q"], int) for r in out.values())
    # every input doc is scored exactly once
    assert len(out) == 9


def test_mmr_select_diversity(spark):
    """Three near-identical high-relevance vectors vs one distinct
    lower-relevance vector: pure relevance ranking would pick two
    clones; MMR must pick the distinct vector second. Also pins the
    greedy closed form at step 2."""
    from dataflowex_spark.operators.similarity import mmr_select

    cand = spark.createDataFrame(
        [
            (1, 0.95, [1.0, 0.0, 0.0]),
            (2, 0.94, [0.999, 0.01, 0.0]),   # clone of 1
            (3, 0.93, [0.998, 0.02, 0.0]),   # clone of 1
            (4, 0.60, [0.0, 1.0, 0.0]),      # orthogonal, less relevant
        ],
        "doc_id long, rel double, embedding array<double>",
    )
    out = mmr_select(cand, k=3, lam=0.7)
    rows = {r["step"]: r for r in out.collect()}
    assert rows[1]["doc_id"] == 1 and abs(rows[1]["mmr"] - 0.95) < 1e-9
    # step 2: clones score 0.7*0.94 - 0.3*~1 ≈ 0.36; doc 4 scores
    # 0.7*0.6 - 0.3*0 = 0.42 → diversity wins
    assert rows[2]["doc_id"] == 4
    assert abs(rows[2]["mmr"] - (0.7 * 0.6 - (1.0 - 0.7) * 0.0)) < 1e-9
    assert rows[3]["doc_id"] == 2  # best remaining clone
    assert out.count() == 3


def test_dtw_pairs_exact(spark):
    """Pins the banded-DTW DP exactly: identical series → 0; a known
    tiny alignment (shift-by-one) → the hand-computed warp cost; and
    the band constraint actually bites (narrow band forces the
    diagonal, so distance rises to the L1 diagonal cost)."""
    from dataflowex_spark.operators.timeseries import dtw_pairs

    a = [0, 0, 10, 0, 0, 0]
    b = [0, 0, 0, 10, 0, 0]  # same pulse, shifted right by one
    pairs = spark.createDataFrame(
        [
            (1, a, a),
            (2, a, b),
            (3, a, b),
        ],
        "pid int, seq_a array<long>, seq_b array<long>",
    )
    wide = {
        r["pid"]: r["dtw"]
        for r in dtw_pairs(pairs.filter("pid <= 2"), band=4).collect()
    }
    assert wide[1] == 0
    # warp absorbs the shift: align pulse to pulse, one duplicated 0
    assert wide[2] == 0
    narrow = dtw_pairs(pairs.filter("pid = 3"), band=0).collect()[0]["dtw"]
    # band 0 = pure diagonal = L1 distance = |10-0| + |0-10| = 20
    assert narrow == 20


def test_series_arrays_contract(spark):
    """series_arrays: time-ordered first-N quantized values per key;
    short keys dropped."""
    from dataflowex_spark.operators.timeseries import series_arrays

    df = spark.createDataFrame(
        [("u1", t, float(t) / 2, t) for t in range(5)]
        + [("u2", t, 1.0, t) for t in range(3)],
        "user_id string, ts long, value double, event_id long",
    )
    out = {
        r["user_id"]: r["seq"]
        for r in series_arrays(
            df, "user_id", "ts", "value", series_len=4,
            tie_cols=("event_id",),
        ).collect()
    }
    assert set(out) == {"u1"}  # u2 has only 3 < 4 observations
    assert out["u1"] == [0, 500, 1000, 1500]  # floor(v*1000), time order


def test_count_min_sketch_properties(spark):
    """CMS invariants on a known stream: estimates never undershoot
    (est ≥ exact for every present key), the grid holds exactly
    depth·width-or-fewer nonzero cells whose per-row mass equals the
    stream size, and weighted build counts weights, not rows."""
    from dataflowex_spark.operators.sketches import (
        count_min_build,
        count_min_lookup,
    )

    rows = [("a",)] * 50 + [("b",)] * 30 + [("c",)] * 1
    df = spark.createDataFrame(rows, "k string")
    cells = count_min_build(df, "k", depth=3, width=8)
    got_cells = cells.collect()
    # each of the 3 rows holds the full stream mass
    per_row = {}
    for r in got_cells:
        per_row[r["row"]] = per_row.get(r["row"], 0) + r["c"]
    assert per_row == {0: 81, 1: 81, 2: 81}
    keys = spark.createDataFrame([("a",), ("b",), ("c",)], "k string")
    est = {
        r["k"]: r["cms_est"]
        for r in count_min_lookup(cells, keys, "k", depth=3, width=8).collect()
    }
    assert est["a"] >= 50 and est["b"] >= 30 and est["c"] >= 1
    # weighted build: 2x weight doubles every estimate's floor
    wdf = spark.createDataFrame(
        [("a", 2)] * 50 + [("b", 2)] * 30 + [("c", 2)],
        "k string, w long",
    )
    wcells = count_min_build(wdf, "k", depth=3, width=8, weight_col="w")
    west = {
        r["k"]: r["cms_est"]
        for r in count_min_lookup(
            wcells, keys, "k", depth=3, width=8
        ).collect()
    }
    assert west["a"] == 2 * est["a"] and west["c"] == 2 * est["c"]


def test_hll_portable_properties(spark):
    """Portable-HLL invariants: registers are mergeable by MAX (two
    half-builds maxed register-wise == one full build), the raw
    estimate lands within the ~1.04/√64 relative-error regime on a
    known cardinality, and estimates are monotone under stream
    growth at fixed register count."""
    from pyspark.sql import functions as F
    from dataflowex_spark.operators.sketches import (
        hll_estimate,
        hll_registers,
    )

    df = spark.range(2000).select(
        F.lit("g").alias("g"), F.col("id").cast("string").alias("k")
    )
    full = hll_registers(df, ["g"], "k")
    est = hll_estimate(full, ["g"]).collect()[0]["hll_est"]
    # raw HLL at m=64: sigma ≈ 1.04/8 = 13%; allow 3 sigma
    assert abs(est - 2000) < 0.39 * 2000

    # mergeability: halves merged by register-wise MAX == full build
    lo = hll_registers(df.where("id < 1000"), ["g"], "k")
    hi = hll_registers(df.where("id >= 1000"), ["g"], "k")
    merged = (
        lo.unionAll(hi)
        .groupBy("g", "j")
        .agg(F.max("m_j").cast("long").alias("m_j"))
    )
    m_rows = {(r["j"]): r["m_j"] for r in merged.collect()}
    f_rows = {(r["j"]): r["m_j"] for r in full.collect()}
    assert m_rows == f_rows

    # superset stream never lowers any register, so S never grows
    sub_est = hll_estimate(lo, ["g"]).collect()[0]["hll_est"]
    assert sub_est <= est


def test_ams_f2_properties(spark):
    """AMS invariants: a single-key stream is estimated EXACTLY
    (every counter is ±n, so every estimator says n²); counters merge
    by addition across stream halves; distinct-heavy streams land in
    the documented variance regime."""
    from pyspark.sql import functions as F
    from dataflowex_spark.operators.sketches import (
        ams_f2_estimate,
        ams_f2_estimators,
    )

    one = spark.range(100).select(F.lit("hot").alias("k"))
    est = ams_f2_estimate(ams_f2_estimators(one, "k"), s=16).collect()
    assert est[0]["ams_est"] == 100 * 100

    # mergeability: z(full) == z(first half) + z(second half)
    df = spark.range(400).select(
        (F.col("id") % 37).cast("string").alias("k"), "id"
    )
    full = {
        r["i"]: r["z"] for r in ams_f2_estimators(df, "k").collect()
    }
    lo = {
        r["i"]: r["z"]
        for r in ams_f2_estimators(df.where("id < 200"), "k").collect()
    }
    hi = {
        r["i"]: r["z"]
        for r in ams_f2_estimators(df.where("id >= 200"), "k").collect()
    }
    assert full == {i: lo.get(i, 0) + hi.get(i, 0) for i in full}

    # all-distinct stream: F2 = n; mean-of-16 estimate within 5·σ
    # (σ ≤ sqrt(2)·F2/√16)
    dist = spark.range(1000).select(F.col("id").cast("string").alias("k"))
    got = ams_f2_estimate(ams_f2_estimators(dist, "k"), s=16).collect()
    assert abs(got[0]["ams_est"] - 1000) < 5 * 1.42 * 1000 / 4


def test_grid_radius_pairs(spark):
    """Blocked radius join == naive semantics on adversarial
    geometry: pairs straddling cell boundaries are found (3×3
    completeness), the r-exact pair is kept, r+1 is dropped, each
    pair appears exactly once."""
    from dataflowex_spark.operators.spatial import grid_radius_pairs

    r = 10
    pts = [
        (1, 9, 0),    # cell (0,0) edge
        (2, 11, 0),   # cell (1,0) — dist 2 from #1, crosses boundary
        (3, 9 + r, 0),  # exactly r from #1
        (4, 9 + r + 1, 0),  # r+1 from #1 (too far), 1 from #3
        (5, 500, 500),  # isolated
    ]
    df = spark.createDataFrame(pts, "pid int, x long, y long")
    got = {
        (row["pid_a"], row["pid_b"]): row["dist2"]
        for row in grid_radius_pairs(df, "pid", "x", "y", r).collect()
    }
    assert got == {
        (1, 2): 4,
        (1, 3): r * r,
        (2, 3): 64,
        (2, 4): 81,
        (3, 4): 1,
    }


def test_ngram_precision_bleu_edges(spark, tmp_path):
    """q318's scoring on constructed docs: identical text scores
    1e6/1e6; disjoint text scores 0/0; clipping caps repeated
    candidate tokens at the reference count; a single-token candidate
    gets p2 from the GREATEST(total,1) guard, not a null bigram."""
    import dataflowex_spark.queries as Q
    import duckdb, os, tempfile, shutil

    rows = [
        (1, "the cat sat on the mat", "en", "s1", 22),  # reference
        (2, "the cat sat on the mat", "en", "s1", 22),  # exact copy
        (3, "zebra quark lumen", "en", "s1", 17),       # disjoint
        (4, "the the the the", "en", "s1", 15),         # clip test
        (5, "the", "en", "s1", 3),                      # 1 token
    ]
    d = tempfile.mkdtemp(dir=tmp_path)
    try:
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        ).coalesce(1).write.parquet(f"{d}/documents.parquet")
        got = {
            r["doc_id"]: (r["p1_ppm"], r["p2_ppm"])
            for r in Q.REGISTRY["q318_ngram_precision_bleu"][0](
                spark, d
            ).collect()
        }
        assert got[2] == (1000000, 1000000)
        assert got[3] == (0, 0)
        # "the the the the": 4 tokens, ref has 2 "the" → p1 = 2/4
        assert got[4][0] == 500000
        # its bigrams are "the the"×3, ref has none → p2 = 0
        assert got[4][1] == 0
        # single-token doc: p1 = 1/1 ("the" appears in ref), p2 = 0/1
        assert got[5] == (1000000, 0)

        # same fixture through the oracle
        con = duckdb.connect()
        for t in ["documents"]:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{d}/{t}.parquet/*.parquet'"
            )
        sql = Q.REGISTRY["q318_ngram_precision_bleu"][1]
        oracle = {
            r[0]: (r[3], r[4]) for r in con.execute(sql).fetchall()
        }
        assert oracle == got
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_temperature_mixture_invariants(spark, tmp_path):
    """q319 allocation on a skewed synthetic corpus: slots sum to
    exactly 10,000 (largest remainder never over/under-allocates),
    every domain gets a slot, and τ=0.5 compresses the big/small
    ratio: a 100:1 corpus allocates ~10:1 (√-scaled)."""
    import tempfile, shutil
    import dataflowex_spark.queries as Q
    from pyspark.sql import functions as F

    d = tempfile.mkdtemp(dir=tmp_path)
    try:
        rows = (
            [(i, "x", "en", "big", 1) for i in range(400)]
            + [(10000 + i, "x", "en", "small", 1) for i in range(4)]
        )
        spark.createDataFrame(
            rows,
            "doc_id long, text string, lang string, source string, n_chars long",
        ).coalesce(1).write.parquet(f"{d}/documents.parquet")
        out = {
            r["source"]: r
            for r in Q.REGISTRY["q319_temperature_mixture"][0](
                spark, d
            ).collect()
        }
        total = sum(r["alloc"] for r in out.values())
        assert total == 10000
        raw_ratio = out["big"]["n_docs"] / out["small"]["n_docs"]  # 100
        alloc_ratio = out["big"]["alloc"] / out["small"]["alloc"]
        assert 8 < alloc_ratio < 12  # √100 = 10, quantized
        assert alloc_ratio < raw_ratio
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_dbscan_roles_geometry(spark):
    """DBSCAN role semantics on constructed geometry (eps=10,
    minPts=3 incl. self): a tight 4-clique is all core; a point
    within eps of a core but with too few neighbors is border; an
    isolated point is noise; a pair of mutually-close low-degree
    points (2-chain off nothing) is noise, not border."""
    from pyspark.sql import functions as F
    from dataflowex_spark.operators.spatial import grid_radius_pairs

    pts = [
        # tight cluster: 4 points pairwise within 10
        (1, 0, 0), (2, 3, 0), (3, 0, 3), (4, 3, 3),
        # border: within 10 of #4 only (dist² exactly eps²=100)
        (5, 13, 3),
        # isolated noise
        (6, 1000, 1000),
        # low-degree pair, far from all cores: both noise
        (7, 500, 500), (8, 503, 500),
    ]
    df = spark.createDataFrame(pts, "vec_id int, x long, y long")
    pairs = grid_radius_pairs(df, "vec_id", "x", "y", 10)
    edges = pairs.select(
        F.col("vec_id_a").alias("u"), F.col("vec_id_b").alias("v")
    ).unionAll(
        pairs.select(F.col("vec_id_b").alias("u"), F.col("vec_id_a").alias("v"))
    )
    nbr = (
        df.join(edges, df["vec_id"] == edges["u"], "left")
        .groupBy("vec_id")
        .agg(F.count("v").alias("n"))
    )
    counts = {r["vec_id"]: r["n"] for r in nbr.collect()}
    cores = {k for k, n in counts.items() if n + 1 >= 3}
    edge_rows = [(r["u"], r["v"]) for r in edges.collect()]
    borders = {
        u for (u, v) in edge_rows if v in cores and u not in cores
    }
    roles = {
        k: ("core" if k in cores else "border" if k in borders else "noise")
        for k in counts
    }
    assert roles == {
        1: "core", 2: "core", 3: "core", 4: "core",
        5: "border", 6: "noise", 7: "noise", 8: "noise",
    }


def test_phrase_search_positional_join(spark, tmp_path):
    """Phrase matching is POSITIONAL, not bag-of-words: a doc with
    all three words in the wrong order does not match; overlapping
    occurrences ("a b a b a" for "a b a") are each counted; a phrase
    spanning a doc boundary can't exist."""
    import tempfile, shutil
    import dataflowex_spark.queries as Q

    d = tempfile.mkdtemp(dir=tmp_path)
    try:
        rows = [
            # the dominant trigram "x y z" appears 3x here
            (1, "x y z q x y z q x y z", "en", "s", 1),
            (2, "z y x z y x z y x z y x", "en", "s", 1),  # wrong order
            (3, "a b a b a b a b a b a b", "en", "s", 1),  # self-overlap
            (4, "x y z", "en", "s", 1),
        ]
        spark.createDataFrame(
            rows,
            "doc_id long, text string, lang string, source string, n_chars long",
        ).coalesce(1).write.parquet(f"{d}/documents.parquet")
        got = {
            (r["phrase"], r["doc_id"]): r["n_occurrences"]
            for r in Q.REGISTRY["q321_phrase_search"][0](spark, d).collect()
        }
        # top-3 trigrams: "a b a" (5), "b a b" (5), ties then "x y z" (4)
        assert got[("x y z", 1)] == 3
        assert got[("x y z", 4)] == 1
        assert ("x y z", 2) not in got  # order matters
        assert got[("a b a", 3)] == 5  # overlapping hits all counted
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_sorted_neighborhood_blocking(spark, tmp_path):
    """q322 semantics on constructed records: near-ties that straddle
    an integer-bucket boundary (100.9 vs 101.05) ARE paired (the
    whole point vs equi-join blocking), far records are not, the
    nation filter applies, and the window bound w=3 holds."""
    import tempfile, shutil
    import dataflowex_spark.queries as Q

    d = tempfile.mkdtemp(dir=tmp_path)
    try:
        rows = [
            (1, "a", 10, 100.90, "AUTO"),
            (2, "b", 10, 101.05, "AUTO"),   # 0.15 away, different int bucket
            (3, "c", 20, 101.10, "AUTO"),   # close but other nation
            (4, "d", 10, 300.00, "AUTO"),   # far
            (5, "e", 10, 300.50, "AUTO"),   # pairs with 4
        ]
        spark.createDataFrame(
            rows,
            "c_custkey long, c_name string, c_nationkey int,"
            " c_acctbal double, c_mktsegment string",
        ).coalesce(1).write.parquet(f"{d}/customer.parquet")
        got = {
            (r["custkey_a"], r["custkey_b"])
            for r in Q.REGISTRY["q322_sorted_neighborhood"][0](
                spark, d
            ).collect()
        }
        assert got == {(1, 2), (4, 5)}
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_consistent_hash_minimal_movement(spark):
    """The consistent-hashing contract on real keys: growing 8→9
    shards moves ONLY keys that land on the new shard (every mover's
    new owner is 8), the moved fraction is ~1/9 (within 3× either
    way for vnodes=16 variance), and ownership is total (every key
    owned at both sizes)."""
    from pyspark.sql import functions as F
    from dataflowex_spark.operators.etl import consistent_hash_owner

    keys = spark.range(2000).select(F.col("id").alias("k"))
    o8 = consistent_hash_owner(keys, "k", 8, owner_col="o8")
    o9 = consistent_hash_owner(keys, "k", 9, owner_col="o9")
    rows = o8.join(o9, "k").collect()
    assert len(rows) == 2000
    movers = [r for r in rows if r["o8"] != r["o9"]]
    assert all(r["o9"] == 8 for r in movers)  # moves go ONLY to the new shard
    frac = len(movers) / len(rows)
    assert 1 / 27 < frac < 3 / 9
    assert all(0 <= r["o8"] < 8 and 0 <= r["o9"] < 9 for r in rows)


def test_kendall_rbo_identities(spark):
    """Metric identities on constructed rankings: identical rankings
    give tau = +1 (10000 bp) and the maximum RBO mass; a fully
    reversed ranking gives tau = -1; RBO of identical lists equals
    Σ w_d·d·(LCM/d) (overlap at depth d is d itself)."""
    from pyspark.sql import functions as F

    # identical and reversed rank frames, k=5 → 10 pairs
    k = 5
    ident = spark.createDataFrame(
        [(i, i, i) for i in range(1, k + 1)], "vec_id int, ra int, rb int"
    )
    rev = spark.createDataFrame(
        [(i, i, k + 1 - i) for i in range(1, k + 1)],
        "vec_id int, ra int, rb int",
    )

    def tau_bp(ranked):
        b = ranked.select(
            F.col("vec_id").alias("vid_b"),
            F.col("ra").alias("ra_b"),
            F.col("rb").alias("rb_b"),
        )
        pairs = ranked.join(b, F.col("vec_id") < F.col("vid_b"))
        sgn = (F.col("ra") - F.col("ra_b")) * (F.col("rb") - F.col("rb_b"))
        conc = F.sum(F.when(sgn > 0, 1).otherwise(0)).cast("long")
        disc = F.sum(F.when(sgn < 0, 1).otherwise(0)).cast("long")
        npairs = k * (k - 1) // 2
        return pairs.agg(
            F.floor(((conc - disc) * 10000).cast("double") / npairs)
            .cast("long")
            .alias("t")
        ).collect()[0]["t"]

    assert tau_bp(ident) == 10000
    assert tau_bp(rev) == -10000

    # live q325 output sits inside the metric's hard bounds:
    # 0 ≤ rbo_scaled ≤ Σ w_d·d·(LCM/d) (identical lists), overlap ≤ 20
    import dataflowex_spark.queries as Q

    LCM = 232792560
    ws = [int(0.9 ** (d - 1) * 1e6) for d in range(1, 21)]
    max_mass = sum(ws[d - 1] * d * (LCM // d) for d in range(1, 21))
    row = Q.REGISTRY["q325_rank_biased_overlap"][0](
        spark, "/root/testdata/sf0.01"
    ).collect()[0]
    assert 0 <= row["rbo_scaled"] <= max_mass
    assert 0 <= row["overlap_at_20"] <= 20


def test_hits_star_graph(spark, tmp_path):
    """HITS mutual reinforcement on a constructed star: one supplier
    shared by every customer gets authority 1e6 (the max), a
    supplier used by a single light hub scores strictly lower, and
    scores are invariant to row order (exact integer path)."""
    import tempfile, shutil
    import dataflowex_spark.queries as Q

    d = tempfile.mkdtemp(dir=tmp_path)
    try:
        # orders: customers 1..3 each have one order
        orders = [(i, i, "O", 1.0, f"2024-01-0{i}") for i in (1, 2, 3)]
        spark.createDataFrame(
            orders,
            "o_orderkey long, o_custkey long, o_orderstatus string,"
            " o_totalprice double, o_orderdate string",
        ).coalesce(1).write.parquet(f"{d}/orders.parquet")
        # supplier 100 sold to everyone; supplier 200 only to cust 3
        li = [
            (1, 100), (2, 100), (3, 100),
            (3, 200),
        ]
        spark.createDataFrame(
            [(ok, sk, 1, 1.0) for ok, sk in li],
            "l_orderkey long, l_suppkey long, l_linenumber int,"
            " l_quantity double",
        ).coalesce(1).write.parquet(f"{d}/lineitem.parquet")
        rows = {
            r["s_suppkey"]: r["authority"]
            for r in Q.REGISTRY["q326_hits_bipartite"][0](
                spark, d
            ).collect()
        }
        assert rows[100] == 1000000
        assert 0 < rows[200] < 1000000
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_lateness_audit_semantics(spark, tmp_path):
    """q328 on a constructed arrival sequence: an event arriving
    (by id) after a later-timestamped one is late by exactly the
    gap; in-order arrivals are never late; the first arrival per
    user has no high-water mark and can't be late."""
    import tempfile, shutil
    import datetime as dt
    import dataflowex_spark.queries as Q

    d = tempfile.mkdtemp(dir=tmp_path)
    try:
        t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
        s = lambda sec: t0 + dt.timedelta(seconds=sec)
        rows = [
            # user 1: in order → 0 late
            (1, s(0), 1, "a", 1.0, "{}"),
            (2, s(10), 1, "a", 1.0, "{}"),
            # user 2: event 4 arrives after ts 100 but carries ts 40
            (3, s(100), 2, "b", 1.0, "{}"),
            (4, s(40), 2, "b", 1.0, "{}"),   # late by 60
            (5, s(90), 2, "b", 1.0, "{}"),   # late by 10
        ]
        spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, event_type string,"
            " value double, props string",
        ).coalesce(1).write.parquet(f"{d}/events.parquet")
        got = {
            r["event_type"]: (r["n_events"], r["n_late"], r["max_lateness_s"])
            for r in Q.REGISTRY["q328_lateness_audit"][0](spark, d).collect()
        }
        assert got["a"] == (2, 0, 0)
        assert got["b"] == (3, 2, 60)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_bitpack_layout_audit(spark):
    """q329 on the fixture: the sorted layout needs strictly fewer
    total bits than the hash-shuffled layout of the SAME values —
    the measurable reason range-partitioned/Z-ordered writes exist."""
    import dataflowex_spark.queries as Q

    rows = {
        r["ordering"]: r
        for r in Q.REGISTRY["q329_bitpack_layout_audit"][0](
            spark, "/root/testdata/sf0.01"
        ).collect()
    }
    assert rows["sorted"]["n_blocks"] == rows["hashed"]["n_blocks"]
    assert rows["sorted"]["total_bits"] < rows["hashed"]["total_bits"] / 2


def test_vocab_growth_and_burstiness(spark, tmp_path):
    """q330: vocab_size is the cumulative sum of new_terms, is
    non-decreasing, and ends at the corpus's distinct token count;
    a fully duplicated corpus puts ALL new terms in bucket 0.
    q331: a metronome user (constant gaps) scores CV² = 0 bp and a
    bursty user scores ≫ 10000 bp."""
    import tempfile, shutil
    import datetime as dt
    import dataflowex_spark.queries as Q

    d = tempfile.mkdtemp(dir=tmp_path)
    try:
        docs = [(i, "alpha beta gamma", "en", "s", 10) for i in range(120)]
        spark.createDataFrame(
            docs,
            "doc_id long, text string, lang string, source string,"
            " n_chars long",
        ).coalesce(1).write.parquet(f"{d}/documents.parquet")
        rows = Q.REGISTRY["q330_vocab_growth"][0](spark, d).collect()
        assert [r["new_terms"] for r in rows] == [3, 0, 0]
        assert [r["vocab_size"] for r in rows] == [3, 3, 3]

        t0 = dt.datetime(2024, 1, 1)
        ev = []
        # user 1 "metronome": every 60s
        for i in range(10):
            ev.append((i, t0 + dt.timedelta(seconds=60 * i), 1, "m", 1.0, "{}"))
        # user 2 "bursty": 9 gaps of 1s then one gap of 10000s
        ts = 0
        for i in range(10):
            ev.append((100 + i, t0 + dt.timedelta(seconds=ts), 2, "b", 1.0, "{}"))
            ts += 1
        ev.append((110, t0 + dt.timedelta(seconds=ts + 10000), 2, "b", 1.0, "{}"))
        spark.createDataFrame(
            ev,
            "event_id long, ts timestamp, user_id long, event_type string,"
            " value double, props string",
        ).coalesce(1).write.parquet(f"{d}/events.parquet")
        got = {
            r["event_type"]: r["cv2_bp"]
            for r in Q.REGISTRY["q331_burstiness"][0](spark, d).collect()
        }
        assert got["m"] == 10000  # constant gaps: CV²=... n·Σg²/(Σg)²=1
        assert got["b"] > 50000
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_hdr_percentile_contains_exact(spark):
    """The HDR octave bucket reported for each quantile always
    CONTAINS the exact percentile (hdr_lo ≤ exact ≤ hdr_hi) — the
    sketch's defining guarantee — on the real fixture."""
    import dataflowex_spark.queries as Q

    for r in Q.REGISTRY["q334_hdr_percentile_sketch"][0](
        spark, "/root/testdata/sf0.01"
    ).collect():
        assert r["hdr_lo"] <= r["exact_v"] <= r["hdr_hi"], r


def test_hll_parameter_sweep_accuracy(spark):
    """The sweep's defining property on the fixture: every setting's
    estimate is within 5·(1.04/√m) of exact, and p=8's absolute
    relative error is no worse than 1.5× p=4's (error tightens with
    m, modulo single-draw noise)."""
    import dataflowex_spark.queries as Q

    rows = {
        r["p"]: r
        for r in Q.REGISTRY["q335_hll_parameter_sweep"][0](
            spark, "/root/testdata/sf0.01"
        ).collect()
    }
    for p, r in rows.items():
        rel = abs(r["err"]) / r["exact_n"]
        assert rel < 5 * 1.04 / (r["m"] ** 0.5), (p, rel)
    rel4 = abs(rows[4]["err"]) / rows[4]["exact_n"]
    rel8 = abs(rows[8]["err"]) / rows[8]["exact_n"]
    assert rel8 <= max(rel4 * 1.5, 0.07)


def test_source_overlap_matrix_semantics(spark, tmp_path):
    """Containment vs Jaccard distinction on constructed sources: a
    strict-subset source shows containment 1e6 with Jaccard < 1e6;
    disjoint sources produce no pair row at all."""
    import tempfile, shutil
    import dataflowex_spark.queries as Q

    d = tempfile.mkdtemp(dir=tmp_path)
    try:
        rows = [
            (1, "a b c d", "en", "big", 1),
            (2, "a b", "en", "sub", 1),       # subset of big
            (3, "x y z", "en", "other", 1),   # disjoint
        ]
        spark.createDataFrame(
            rows,
            "doc_id long, text string, lang string, source string,"
            " n_chars long",
        ).coalesce(1).write.parquet(f"{d}/documents.parquet")
        got = {
            (r["source_a"], r["source_b"]): r
            for r in Q.REGISTRY["q336_source_overlap_matrix"][0](
                spark, d
            ).collect()
        }
        r = got[("big", "sub")]
        assert r["containment_ppm"] == 1000000
        assert r["jaccard_ppm"] == 500000  # |∩|=2, |∪|=4
        assert ("big", "other") not in got
        assert ("other", "sub") not in got
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_incremental_cms_merge_equals_single_pass(spark):
    """The q337 invariant stated as an exact frame equality: the
    cell-wise sum of per-half grids is IDENTICAL to the grid built
    in one pass over the whole stream (sum associativity — the
    reason the sketch can be maintained per-batch forever)."""
    from pyspark.sql import functions as F
    from dataflowex_spark.operators.sketches import count_min_build

    from dataflowex_spark.catalog import Catalog

    ev = Catalog(spark, "/root/testdata/sf0.001")["events"].select(
        F.col("user_id").cast("string").alias("k"), "ts"
    )
    cut = F.lit("2024-02-15").cast("timestamp_ntz")
    lo = count_min_build(ev.where(F.col("ts") < cut), "k")
    hi = count_min_build(ev.where(F.col("ts") >= cut), "k")
    merged = {
        (r["row"], r["bucket"]): r["c"]
        for r in lo.unionAll(hi)
        .groupBy("row", "bucket")
        .agg(F.sum("c").cast("long").alias("c"))
        .collect()
    }
    single = {
        (r["row"], r["bucket"]): r["c"]
        for r in count_min_build(ev, "k").collect()
    }
    assert merged == single


def test_graph_metrics_constructed(spark, tmp_path):
    """q338/q339 semantics on a constructed co-purchase graph: a
    path graph's endpoints (degree 1) attach to centers (degree 2) —
    negative assortativity; link prediction surfaces the 2-hop
    endpoint pair with the right common-neighbor count and excludes
    adjacent pairs."""
    import tempfile, shutil
    import dataflowex_spark.queries as Q

    d = tempfile.mkdtemp(dir=tmp_path)
    try:
        # orders: {1,2} {2,3} {3,4} — path 1-2-3-4 on parts
        rows = []
        lk = 0
        for ok, (p1, p2) in enumerate([(1, 2), (2, 3), (3, 4)], start=1):
            for pk in (p1, p2):
                lk += 1
                rows.append((ok, pk, 100 + lk, lk, 1.0))
        spark.createDataFrame(
            rows,
            "l_orderkey long, l_partkey long, l_suppkey long,"
            " l_linenumber long, l_quantity double",
        ).coalesce(1).write.parquet(f"{d}/lineitem.parquet")
        r = Q.REGISTRY["q338_degree_assortativity"][0](spark, d).collect()[0]
        # path graph: deg(1)=deg(4)=1, deg(2)=deg(3)=2 → r = -0.5
        assert r["assortativity_ppm"] == -500000
        links = {
            (x["part_a"], x["part_b"]): x["common_neighbors"]
            for x in Q.REGISTRY["q339_link_prediction"][0](spark, d).collect()
        }
        # non-adjacent 2-hop pairs: (1,3) via 2, (2,4) via 3, and
        # (1,4) has no common neighbor → absent; adjacent pairs absent
        assert links == {(1, 3): 1, (2, 4): 1}
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_ndcg_identities(spark):
    """nDCG identities on the live q340 output: ndcg ∈ [0, 1e6];
    a probe whose relevant docs all rank first would hit exactly
    1e6 (dcg == idcg); rr_ppm = 1e6 exactly when the top hit is
    relevant; and idcg is the max possible dcg (dcg ≤ idcg)."""
    import dataflowex_spark.queries as Q

    rows = Q.REGISTRY["q340_ndcg_retrieval"][0](
        spark, "/root/testdata/sf0.01"
    ).collect()
    assert len(rows) == 5
    for r in rows:
        assert 0 <= r["ndcg_ppm"] <= 1000000
        assert r["dcg_e9"] <= r["idcg_e9"]
        if r["rr_ppm"] == 1000000:
            # first-ranked doc relevant ⇒ dcg includes w_1 = 1e9
            assert r["dcg_e9"] >= 10 ** 9


def test_sql_udf_stays_jvm_side(spark):
    """The q341 claim, plan-asserted: a Spark 4 SQL UDF inlines into
    codegen — zero PythonEval nodes — and computes the same bucket
    as the DataFrame-side portable_bucket expression."""
    from pyspark.sql import functions as F
    from dataflowex_spark.plans import plan_stats
    from dataflowex_spark.operators.sampling import portable_bucket
    import dataflowex_spark.queries as Q

    df = Q.REGISTRY["q341_sql_udf_surface"][0](
        spark, "/root/testdata/sf0.001"
    )
    assert plan_stats(df)["python_evals"] == 0
    got = {r["bucket"]: r["n"] for r in df.collect()}

    from dataflowex_spark.catalog import Catalog

    ref = {
        r["bucket"]: r["n"]
        for r in Catalog(spark, "/root/testdata/sf0.001")["customer"]
        .groupBy(
            portable_bucket(F.col("c_custkey"), 10).alias("bucket")
        )
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == ref


def test_recursive_cte_and_pipe(spark):
    """q342: the recursive closure covers EVERY supplier exactly once
    (binary-tree parents reach all keys from root 1) with binary-log
    depth; q343: the pipe-syntax plan produces identical rows to the
    classic spelling."""
    import dataflowex_spark.queries as Q
    from dataflowex_spark.catalog import Catalog
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    rows = Q.REGISTRY["q342_recursive_cte_closure"][0](spark, sf).collect()
    n_sup = Catalog(spark, sf)["supplier"].count()
    assert sum(r["n_nodes"] for r in rows) == n_sup
    assert rows[0]["n_nodes"] == 1 and rows[0]["min_node"] == 1
    # depth d holds nodes [2^d, 2^(d+1)) clipped to the table
    for r in rows:
        assert r["min_node"] >= 2 ** r["depth"]
        assert r["max_node"] < 2 ** (r["depth"] + 1)

    pipe = Q.REGISTRY["q343_sql_pipe_syntax"][0](spark, sf).collect()
    classic = (
        Catalog(spark, sf)["lineitem"]
        .where("l_quantity < 30")
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_qty"),
            F.count("*").alias("n"),
        )
        .orderBy("l_returnflag")
        .collect()
    )
    assert [tuple(r) for r in pipe] == [tuple(r) for r in classic]


def test_collation_and_params_surface(spark, tmp_path):
    """q344: a mixed-case fixture groups case-insensitively under the
    UTF8_LCASE-collated column (one group, not three); q345: changing
    the bound parameter changes results without changing SQL text."""
    import tempfile, shutil
    import dataflowex_spark.queries as Q

    d = tempfile.mkdtemp(dir=tmp_path)
    try:
        spark.createDataFrame(
            [
                (1, "x", 10, 0.0, "AUTO"),
                (2, "y", 11, 0.0, "auto"),
                (3, "z", 12, 0.0, "AuTo"),
            ],
            "c_custkey long, c_name string, c_nationkey int,"
            " c_acctbal double, c_mktsegment string",
        ).coalesce(1).write.parquet(f"{d}/customer.parquet")
        rows = Q.REGISTRY["q344_collated_grouping"][0](spark, d).collect()
        assert len(rows) == 1
        assert rows[0]["segment"] == "auto" and rows[0]["n"] == 3
        assert rows[0]["n_nations"] == 3
    finally:
        shutil.rmtree(d, ignore_errors=True)

    # parameterized: rerun the same SQL text with a different binding
    from dataflowex_spark.catalog import Catalog
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    base = Q.REGISTRY["q345_parameterized_sql"][0](spark, sf).collect()
    alt = spark.sql(
        """
        SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n
        FROM __q345_orders
        WHERE o_totalprice > :min_price AND o_orderstatus = :status
        GROUP BY o_orderpriority ORDER BY o_orderpriority
        """,
        args={"min_price": 0.0, "status": "F"},
    ).collect()
    assert sum(r["n"] for r in alt) >= sum(r["n"] for r in base)


def test_hll_set_ops_identities(spark):
    """Set-operation identities on the live q346 output: the union
    estimate never falls below either input's estimate (register MAX
    dominates), the inclusion–exclusion intersection is ≤ both
    inputs, and union estimates track the exact union within the
    m=64 error regime (5σ)."""
    import dataflowex_spark.queries as Q
    from dataflowex_spark.operators.sketches import (
        hll_estimate,
        hll_registers,
    )
    from dataflowex_spark.catalog import Catalog

    sf = "/root/testdata/sf0.01"
    singles = {
        r["event_type"]: r["hll_est"]
        for r in hll_estimate(
            hll_registers(
                Catalog(spark, sf)["events"], ["event_type"], "user_id"
            ),
            ["event_type"],
        ).collect()
    }
    for r in Q.REGISTRY["q346_hll_set_ops"][0](spark, sf).collect():
        ha, hb = singles[r["type_a"]], singles[r["type_b"]]
        assert r["hll_union"] >= max(ha, hb)
        assert r["hll_intersection"] <= min(ha, hb)
        assert abs(r["hll_union"] - r["exact_union"]) < (
            5 * 1.04 / 8
        ) * r["exact_union"]


def test_ansi_strict_cast_throws_where_try_cast_nulls(spark):
    """q355's load-bearing premise: under Spark 4's ANSI default a
    strict CAST on a malformed or overflowing numeric string THROWS
    (fail-fast warehouse semantics), and the `try_` family is the
    per-row escape hatch — NULL for both failure modes, plus NULL on
    try_divide-by-zero where plain division would raise."""
    import pytest as _pytest

    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    bad = spark.createDataFrame(
        [("123x",), ("9" * 25,), ("42",)], "tok string"
    )
    with _pytest.raises(Exception, match="CAST_INVALID_INPUT"):
        bad.select(F.col("tok").cast("bigint").alias("v")).collect()
    got = {
        r["v"]
        for r in bad.select(
            F.col("tok").try_cast("bigint").alias("v")
        ).collect()
    }
    assert got == {None, 42}
    div = spark.createDataFrame([(10, 0), (10, 2)], "a long, b long")
    with _pytest.raises(Exception):
        div.select((F.col("a") / F.col("b")).alias("q")).collect()
    safe = {
        r["q"]
        for r in div.select(
            F.try_divide("a", "b").alias("q")
        ).collect()
    }
    assert safe == {None, 5.0}


def test_bucketed_cojoin_elides_join_exchanges(spark, tmp_path):
    """q356's load-bearing property: two tables written through
    write_bucketed_table with the SAME bucket count and key join with
    ZERO exchanges (and a key-grain aggregate on top adds none) —
    the scans' HashPartitioning satisfies the SortMergeJoin's
    distribution requirement, so the only shuffle a report query
    pays is its own final re-key. Also pins result equality against
    the plain (shuffling) join."""
    import uuid as _uuid

    from dataflowex_spark.plans import plan_stats
    from dataflowex_spark.sources import write_bucketed_table

    tag = _uuid.uuid4().hex[:8]
    left = spark.range(0, 500).select(
        (F.col("id") % 97).alias("k"), F.col("id").alias("v")
    )
    right = spark.range(0, 300).select(
        (F.col("id") % 97).alias("k"), (F.col("id") * 2).alias("w")
    )
    write_bucketed_table(
        left, f"tb_l_{tag}", str(tmp_path / "l"), ["k"], n_buckets=4
    )
    write_bucketed_table(
        right, f"tb_r_{tag}", str(tmp_path / "r"), ["k"], n_buckets=4
    )
    l, r = spark.table(f"tb_l_{tag}"), spark.table(f"tb_r_{tag}")
    joined = (
        l.hint("merge")
        .join(r, "k")
        .groupBy("k")
        .agg(F.count("*").alias("n"), F.sum("v").alias("sv"))
    )
    s = plan_stats(joined, execute=True)
    # formatted explain repeats the node name in its details section,
    # so assert presence, not count
    assert s["sortmerge_joins"] >= 1, s
    assert s["exchanges"] == 0, s
    plain = (
        left.join(right, "k")
        .groupBy("k")
        .agg(F.count("*").alias("n"), F.sum("v").alias("sv"))
    )
    assert sorted(map(tuple, joined.collect())) == sorted(
        map(tuple, plain.collect())
    )


def test_random_walks_deterministic_and_deadend(spark):
    """random_walks: (a) hash-rank neighbor choice is reproducible
    run-to-run; (b) a dead-end node terminates its walk (no rows past
    the final step); (c) every emitted hop follows a real edge; (d) a
    single-out-neighbor chain is followed exactly."""
    import hashlib

    from pyspark.sql import functions as F

    from dataflowex_spark.operators.graph import random_walks

    # chain 1->2->3 (forced path), fan 10->{11,12,13}, dead end at 3
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (10, 12), (10, 13)], "src long, dst long"
    )
    starts = spark.createDataFrame([(1,), (10,)], "node long")
    out = random_walks(edges, starts, steps=3, seed="w")
    rows = {(r["walk"], r["step"]): r["node"] for r in out.collect()}

    # (d) forced chain followed; (b) terminates at the dead end
    assert rows[(1, 0)] == 1 and rows[(1, 1)] == 2 and rows[(1, 2)] == 3
    assert (1, 3) not in rows

    # (a)+(c): the fan choice equals the md5 argmin computed directly
    def pick(walk, step, cands):
        key = lambda d: hashlib.md5(  # noqa: E731
            f"w#{walk}#{step}#{d}".encode()
        ).hexdigest()
        return min(cands, key=key)

    first = pick(10, 1, [11, 12, 13])
    assert rows[(10, 1)] == first
    assert (10, 2) not in rows  # 11/12/13 have no out-edges

    again = {
        (r["walk"], r["step"]): r["node"]
        for r in random_walks(edges, starts, steps=3, seed="w").collect()
    }
    assert again == rows


def test_tdigest_unit_compress_matches_reference():
    """The vectorized unit-weight first-level compress
    (_compress_sorted_unit, r12) must produce the SAME run boundaries
    (weights are exact integers) as the reference sequential loop
    (tdigest_compress with unit weights), and means equal to the
    reference up to summation-order rounding."""
    import numpy as np

    from dataflowex_spark.operators.sketches import (
        _compress_sorted_unit,
        tdigest_compress,
    )

    rng = np.random.default_rng(7)
    for n, delta in [(1, 100), (7, 100), (1000, 50), (20000, 200)]:
        v = np.sort(rng.normal(size=n) * 100.0)
        m_ref, w_ref = tdigest_compress(
            v, np.ones(n), float(n), delta
        )
        m_fast, w_fast = _compress_sorted_unit(v, delta)
        assert np.array_equal(w_ref, w_fast), (n, delta)  # exact cuts
        assert np.allclose(m_ref, m_fast, rtol=1e-12, atol=1e-9), (
            n,
            delta,
        )
    # empty input
    m0, w0 = _compress_sorted_unit(np.zeros(0), 100)
    assert len(m0) == 0 and len(w0) == 0


def test_tdigest_deterministic_bounded_accurate(spark):
    """t-digest: (a) two builds over the same data produce identical
    centroids (bit-determinism); (b) the k1 weight invariant holds
    (every centroid's k-span ≤ 1, so max weight obeys the q(1−q)
    bound); (c) quantile reads on uniform 0..9999 land within the
    documented rank bound; (d) compression keeps ≤2δ centroids."""
    import numpy as np
    from pyspark.sql import functions as F

    from dataflowex_spark.operators.sketches import (
        _k1,
        tdigest_build,
        tdigest_quantile,
    )

    delta = 100
    df = spark.range(10000).select(
        (F.col("id").cast("double")).alias("value")
    )
    m1, w1, n1 = tdigest_build(df, "value", delta=delta, n_parts=8)
    m2, w2, n2 = tdigest_build(df, "value", delta=delta, n_parts=8)
    assert n1 == n2 == 10000
    assert np.array_equal(m1, m2) and np.array_equal(w1, w2)  # (a)

    assert len(m1) <= 2 * delta  # (d)
    assert w1.sum() == 10000.0

    # (b) k1 span per centroid ≤ 1 (small fp slack)
    cum = 0.0
    for w in w1:
        assert _k1((cum + w) / 10000.0, delta) - _k1(
            cum / 10000.0, delta
        ) <= 1.0 + 1e-9
        cum += w

    # (c) uniform data: value at quantile q is ~q*9999
    for q in (0.01, 0.5, 0.9, 0.99):
        est = tdigest_quantile(m1, w1, 10000, q)
        bound = 8 * 10000 * q * (1 - q) / delta + 4
        assert abs(est - q * 9999) <= bound, (q, est, bound)


def test_runtime_bloom_filter_injection_sound(spark):
    """The engine-injected runtime Bloom filter (q364): with the cost
    thresholds lowered the optimized plan plants bloom_filter_agg on
    the filtered side and might_contain inside the big side's filter,
    and the result is IDENTICAL to the plain join (bloom soundness:
    no false negatives)."""
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    li = spark.read.parquet(f"{sf}/lineitem.parquet").select(
        "l_orderkey", "l_extendedprice"
    )
    o = spark.read.parquet(f"{sf}/orders.parquet").filter(
        "o_totalprice > 300000"
    ).select("o_orderkey", "o_orderpriority")

    def agg(join_df):
        return sorted(
            (r["o_orderpriority"], r["n"])
            for r in join_df.groupBy("o_orderpriority")
            .agg(F.count("*").alias("n"))
            .collect()
        )

    plain = agg(li.join(o, li["l_orderkey"] == o["o_orderkey"]))

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold":
            "100MB",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        j = li.join(o, li["l_orderkey"] == o["o_orderkey"])
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in plan
        assert "might_contain" in plan
        bloomed = agg(j)
    finally:
        for k, v in prev.items():
            spark.conf.unset(k) if v is None else spark.conf.set(k, v)
    assert bloomed == plain


def test_constraint_suggestion_holdout_falsifies(spark):
    """suggest_constraints proposes only profile-supported rules, and
    validate_constraints can REJECT a suggestion on data it wasn't
    derived from — the holdout split is what makes suggestions
    falsifiable (here: train is all-positive, holdout has a negative
    and a duplicate)."""
    from pyspark.sql import Row

    from dataflowex_spark.operators.validation import (
        suggest_constraints,
        validate_constraints,
    )

    train = spark.createDataFrame(
        [Row(k=1, v=10.0), Row(k=2, v=5.0), Row(k=3, v=0.0)]
    )
    holdout = spark.createDataFrame(
        [Row(k=4, v=-1.0), Row(k=5, v=2.0), Row(k=5, v=None)]
    )
    rules = suggest_constraints(train, ["k", "v"], numeric={"k", "v"})
    assert ("k", "not_null") in rules and ("k", "unique") in rules
    assert ("v", "non_negative") in rules
    got = {(c, r): h for c, r, h in validate_constraints(holdout, rules)}
    assert got[("k", "not_null")] is True
    assert got[("k", "unique")] is False        # dup k=5
    assert got[("v", "non_negative")] is False  # -1.0
    assert got[("v", "not_null")] is False      # null v


def test_arrow_optimized_python_udf_plan_and_equality(spark):
    """Spark 4 Arrow-optimized Python UDF (useArrow=True): the plan
    node is ArrowEvalPython (vectorized Arrow transfer) instead of
    row-pickling BatchEvalPython, and results match both the classic
    UDF and the pure-JVM expression. The repo's hot paths stay
    UDF-free (plan-gate pyeval=0); this pins the escape hatch's
    fast variant for when Python IS unavoidable."""
    from pyspark.sql import functions as F

    df = spark.range(1000).select(F.col("id").cast("long").alias("v"))

    def tri(x):
        return x * (x + 1) // 2

    arrow_udf = F.udf(tri, "long", useArrow=True)
    classic_udf = F.udf(tri, "long", useArrow=False)

    a = df.select(arrow_udf("v").alias("t"))
    c = df.select(classic_udf("v").alias("t"))
    jvm = df.select((F.col("v") * (F.col("v") + 1) / 2).cast("long").alias("t"))

    plan_a = a._jdf.queryExecution().executedPlan().toString()
    plan_c = c._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan_a
    assert "BatchEvalPython" in plan_c and "ArrowEvalPython" not in plan_c

    ra = sorted(r["t"] for r in a.collect())
    rc = sorted(r["t"] for r in c.collect())
    rj = sorted(r["t"] for r in jvm.collect())
    assert ra == rc == rj


def test_scc_hand_graph(spark):
    """scc: two directed cycles bridged one-way + a DAG tail resolve
    to the known components — the bridge must NOT merge the cycles
    (reachability is one-way), and every tail node is a singleton."""
    from dataflowex_spark.operators.graph import scc

    edges = spark.createDataFrame(
        # cycle A: 1→2→3→1; bridge 3→10 (one-way); cycle B: 10→11→10
        # DAG tail: 11→20→21
        [(1, 2), (2, 3), (3, 1), (3, 10), (10, 11), (11, 10),
         (11, 20), (20, 21)],
        "src long, dst long",
    )
    want = {
        (1, 1), (2, 1), (3, 1),
        (10, 10), (11, 10),
        (20, 20), (21, 21),
    }
    # driver (Kosaraju) path and distributed (coloring) path agree
    got_driver = {(r["node"], r["scc_id"]) for r in scc(edges).collect()}
    got_dist = {
        (r["node"], r["scc_id"])
        for r in scc(edges, driver_threshold=0).collect()
    }
    assert got_driver == want
    assert got_dist == want


def test_scc_matches_tarjan_reference(spark):
    """scc == iterative Tarjan on a deterministic pseudo-random
    digraph (the same md5-style arithmetic draw used by the sampling
    operators, so the fixture never changes across runs)."""
    import hashlib

    from dataflowex_spark.operators.graph import scc

    n = 60
    edges = []
    for i in range(n):
        for j in range(3):
            h = int(
                hashlib.md5(f"scc-{i}-{j}".encode()).hexdigest()[:8], 16
            )
            d = h % n
            if d != i:
                edges.append((i, d))
    edges = sorted(set(edges))

    # iterative Tarjan reference
    adj = {i: [] for i in range(n)}
    for s, d in edges:
        adj[s].append(d)
    index = {}
    low = {}
    on_stack = set()
    stack = []
    comp = {}
    counter = [0]

    def strongconnect(v0):
        work = [(v0, 0)]
        while work:
            v, pi = work.pop()
            if pi == 0:
                index[v] = low[v] = counter[0]
                counter[0] += 1
                stack.append(v)
                on_stack.add(v)
            recurse = False
            for i in range(pi, len(adj[v])):
                w = adj[v][i]
                if w not in index:
                    work.append((v, i + 1))
                    work.append((w, 0))
                    recurse = True
                    break
                elif w in on_stack:
                    low[v] = min(low[v], index[w])
            if not recurse:
                if low[v] == index[v]:
                    members = []
                    while True:
                        w = stack.pop()
                        on_stack.discard(w)
                        members.append(w)
                        if w == v:
                            break
                    root = min(members)
                    for m in members:
                        comp[m] = root
                if work:
                    parent = work[-1][0]
                    low[parent] = min(low[parent], low[v])

    for v in range(n):
        if v not in index:
            strongconnect(v)

    touched = {s for s, _ in edges} | {d for _, d in edges}
    expect = {(v, comp[v]) for v in touched}
    frame = spark.createDataFrame(edges, "src long, dst long")
    got_driver = {
        (r["node"], r["scc_id"]) for r in scc(frame).collect()
    }
    got_dist = {
        (r["node"], r["scc_id"])
        for r in scc(frame, driver_threshold=0).collect()
    }
    assert got_driver == expect
    assert got_dist == expect


def test_bh_reject_step_up_semantics(spark):
    """bh_reject pins the BH STEP-UP rule: a low-ranked statistic that
    clears its (laxer) threshold resurrects every better-ranked test,
    including ones that missed their own stricter threshold."""
    from dataflowex_spark.operators.mleval import bh_reject

    stats = spark.createDataFrame(
        [("a", 1000), ("b", 450), ("c", 120)], "k string, s long"
    )
    got = {
        (r["k"], r["rnk"], r["rejected"])
        for r in bh_reject(stats, "s", "k", [900, 500, 100]).collect()
    }
    # ranks: a=1 (1000>=900 pass), b=2 (450<500 fail), c=3 (120>=100
    # pass) -> kmax=3 -> ALL rejected
    assert got == {("a", 1, True), ("b", 2, True), ("c", 3, True)}

    # and without the resurrecting tail: c drops below its threshold
    got2 = {
        (r["k"], r["rejected"])
        for r in bh_reject(
            spark.createDataFrame(
                [("a", 1000), ("b", 450), ("c", 90)], "k string, s long"
            ),
            "s", "k", [900, 500, 100],
        ).collect()
    }
    assert got2 == {("a", True), ("b", False), ("c", False)}


def test_golden_records_rules(spark):
    """golden_records: trust-ladder first-non-null skips a null in the
    top source; mode takes the majority and breaks ties to the
    smallest value; max takes the freshest balance."""
    from dataflowex_spark.operators.linkage import golden_records

    recs = spark.createDataFrame(
        [
            # entity 1: crm name NULL -> web's survives; phone only in
            # app; segment 2:1 majority; balances max
            (1, 1, None, None, "AUTO", 100),
            (1, 2, "web-name", None, "BIKE", 90),
            (1, 3, "app-name", "555", "AUTO", 95),
            # entity 2: two sources, segment tie -> lexicographic min
            (2, 1, "crm2", "111", "HOUSE", 10),
            (2, 2, "web2", "222", "AUTO", 20),
        ],
        "entity long, priority int, name string, phone string, "
        "segment string, bal long",
    )
    out = {
        r["entity"]: r
        for r in golden_records(
            recs,
            "entity",
            first_non_null=["name", "phone"],
            mode=["segment"],
            maximum=["bal"],
        ).collect()
    }
    assert out[1]["name"] == "web-name"
    assert out[1]["phone"] == "555"
    assert out[1]["segment"] == "AUTO"
    assert out[1]["bal"] == 100
    assert out[1]["n_records"] == 3
    assert out[2]["name"] == "crm2"
    assert out[2]["phone"] == "111"
    assert out[2]["segment"] == "AUTO"  # tie 1-1 -> lexicographic min
    assert out[2]["bal"] == 20


def test_approx_sum_ci_matches_python_reference(spark):
    """approx_sum_ci == a Python replay of the same md5 sample and
    CLT arithmetic (estimate exact-integer, half-width IEEE)."""
    import hashlib
    import math

    from dataflowex_spark.operators.sampling import approx_sum_ci

    rows = [("g" + str(i % 3), i, (i * 37) % 1000 + 1) for i in range(500)]
    df = spark.createDataFrame(rows, "g string, id long, cents long")

    def bucket(v):
        return int(hashlib.md5(str(v).encode()).hexdigest()[:15], 16) % 10

    exp = {}
    for g, i, c in rows:
        if bucket(i) == 0:
            n, s, ss = exp.get(g, (0, 0, 0))
            exp[g] = (n + 1, s + c, ss + c * c)
    got = {
        r["g"]: (r["n_sampled"], r["est"], r["half"])
        for r in approx_sum_ci(
            df, ["g"], "cents", "id", buckets=10
        ).collect()
    }
    assert set(got) == set(exp)
    for g, (n, s, ss) in exp.items():
        half = round(1.959964 * math.sqrt(float(ss) * 90.0))
        assert got[g] == (n, s * 10, half), g


def test_als_recovers_planted_low_rank(spark):
    """als: ratings generated from planted rank-2 factors are
    reconstructed to small RMSE, and two runs produce bit-identical
    factors (md5 init + sorted-group solves — no RNG anywhere)."""
    import math

    from dataflowex_spark.operators.recsys import als, predict

    # planted factors: user u -> (1, u/10), item i -> (i/5, 1)
    rows = [
        (u, i, float((1.0 * (i / 5.0)) + (u / 10.0) * 1.0))
        for u in range(12)
        for i in range(10)
    ]
    ratings = spark.createDataFrame(rows, "user long, item long, rating double")
    uf1, if1 = als(ratings, rank=2, iters=8, reg=0.01)
    preds = predict(uf1, if1).collect()
    truth = {(u, i): r for u, i, r in rows}
    se = [(p["score"] - truth[(p["user"], p["item"])]) ** 2 for p in preds]
    rmse = math.sqrt(sum(se) / len(se))
    assert rmse < 0.05, rmse

    uf2, _ = als(ratings, rank=2, iters=8, reg=0.01)
    v1 = {r["user"]: r["vec"] for r in uf1.collect()}
    v2 = {r["user"]: r["vec"] for r in uf2.collect()}
    assert v1 == v2


def test_als_driver_matches_distributed(spark):
    """The bounded-ratings driver path of als() must replay the
    distributed sweeps BIT-IDENTICALLY — same md5 init, same
    (key, fixed-id) group order, same normal-equation assembly and
    numpy solve — including ragged interaction counts and negative
    ratings."""
    from dataflowex_spark.operators.recsys import _als_dist, _als_driver

    rows = [
        (u, i, float(((u * 7 + i * 13) % 11) - 3))
        for u in range(25)
        for i in range(15)
        if (u + i) % 3 != 1  # ragged: users/items see different counts
    ]
    ratings = spark.createDataFrame(
        rows, "user long, item long, rating double"
    ).localCheckpoint(eager=True)
    args = ("user", "item", "rating", 3, 4, 0.05)
    ufd, ifd = _als_driver(ratings, *args)
    ufx, ifx = _als_dist(ratings, *args)
    assert {r["user"]: r["vec"] for r in ufd.collect()} == {
        r["user"]: r["vec"] for r in ufx.collect()
    }
    assert {r["item"]: r["vec"] for r in ifd.collect()} == {
        r["item"]: r["vec"] for r in ifx.collect()
    }


def test_iblt_diff_recovers_symmetric_difference(spark):
    """iblt_diff == the anti-join truth on sets differing by a few
    dozen keys, and raises (never silently truncates) when the
    sketch is undersized for the difference."""
    import pytest as _pytest

    from dataflowex_spark.operators.reconcile import (
        IBLTDecodeError,
        iblt_diff,
    )

    a_keys = list(range(1000, 2000))
    b_keys = [k for k in a_keys if k % 83 != 7] + [5001, 5002, 5003]
    a = spark.createDataFrame([(k,) for k in a_keys], "k long")
    b = spark.createDataFrame([(k,) for k in b_keys], "k long")
    got = iblt_diff(a, b, "k", cells=128)
    want = sorted(
        [(k, "a_only") for k in a_keys if k % 83 == 7]
        + [(k, "b_only") for k in (5001, 5002, 5003)]
    )
    assert got == want

    with _pytest.raises(IBLTDecodeError):
        iblt_diff(
            a, spark.createDataFrame([(9,)], "k long"), "k", cells=8
        )


def test_iblt_identical_sets_decode_empty(spark):
    from dataflowex_spark.operators.reconcile import iblt_diff

    a = spark.createDataFrame([(k,) for k in range(500)], "k long")
    b = spark.createDataFrame([(k,) for k in range(500)], "k long")
    assert iblt_diff(a, b, "k", cells=64) == []


def test_dag_layers_longest_path_and_cycle_guard(spark):
    """dag_layers: diamond + tail gives longest-path levels (the
    join node waits for the LONGEST branch); a cycle raises instead
    of spinning."""
    import pytest as _pytest

    from dataflowex_spark.operators.graph import dag_layers

    dag = spark.createDataFrame(
        # 1→2→4, 1→3→5→4, 4→6: node 4 must be layer 3 (via 3,5)
        [(1, 2), (2, 4), (1, 3), (3, 5), (5, 4), (4, 6)],
        "src long, dst long",
    )
    want = {(1, 0), (2, 1), (3, 1), (5, 2), (4, 3), (6, 4)}
    got_driver = {(r["node"], r["layer"]) for r in dag_layers(dag).collect()}
    got_dist = {
        (r["node"], r["layer"])
        for r in dag_layers(dag, driver_threshold=0).collect()
    }
    assert got_driver == want
    assert got_dist == want

    cyc = spark.createDataFrame([(1, 2), (2, 1)], "src long, dst long")
    with _pytest.raises(RuntimeError, match="cyclic"):
        dag_layers(cyc, max_rounds=5, driver_threshold=0)
    with _pytest.raises(RuntimeError, match="cyclic"):
        dag_layers(cyc)


def test_merkle_tree_localizes_single_mutation(spark):
    """merkle_tree: one mutated row flags exactly its leaf and the
    ancestor chain — every other node digest is identical (the
    localization property repair relies on)."""
    from dataflowex_spark.operators.reconcile import merkle_tree

    rows = [(k, f"d{k}") for k in range(4096)]
    mutated = [(k, "CORRUPT" if k == 1500 else f"d{k}") for k in range(4096)]
    a = spark.createDataFrame(rows, "k long, d string")
    b = spark.createDataFrame(mutated, "k long, d string")
    ta = {
        (r["level"], r["node_id"]): r["digest"]
        for r in merkle_tree(
            a, "k", F.col("d"), leaf_width=256, fanout=4, levels=3
        ).collect()
    }
    tb = {
        (r["level"], r["node_id"]): r["digest"]
        for r in merkle_tree(
            b, "k", F.col("d"), leaf_width=256, fanout=4, levels=3
        ).collect()
    }
    assert set(ta) == set(tb)
    diff = {k for k in ta if ta[k] != tb[k]}
    # 1500 // 256 = leaf 5; 5 // 4 = 1; 1 // 4 = 0
    assert diff == {(0, 5), (1, 1), (2, 0)}


def test_hilbert_key_matches_reference_and_locality():
    """hilbert_key_np (q379's key) == the classic xy2d reference for
    every cell of a 16×16 grid, is a bijection, and beats Morton on
    locality: consecutive Hilbert positions are always distance-1
    neighbors (Morton jumps at quadrant seams). morton_key_np is
    pinned to a plain bit interleave on the same grid."""
    import numpy as np

    from dataflowex_spark.sources import hilbert_key_np, morton_key_np

    bits = 4
    n = 1 << bits

    def xy2d(x, y):
        d = 0
        s = n >> 1
        while s > 0:
            rx = 1 if (x & s) > 0 else 0
            ry = 1 if (y & s) > 0 else 0
            d += s * s * ((3 * rx) ^ ry)
            if ry == 0:
                if rx == 1:
                    x, y = n - 1 - x, n - 1 - y
                x, y = y, x
            s >>= 1
        return d

    gx = np.array([x for x in range(n) for _ in range(n)], dtype=np.int64)
    gy = np.array([y for _ in range(n) for y in range(n)], dtype=np.int64)
    hk = hilbert_key_np(gx, gy, bits=bits)
    got = {(int(a), int(b)): int(d) for a, b, d in zip(gx, gy, hk)}
    assert got == {(x, y): xy2d(x, y) for x in range(n) for y in range(n)}
    # bijection over the full grid
    assert sorted(got.values()) == list(range(n * n))
    # locality: every consecutive pair of curve positions is adjacent
    pos = {d: xy for xy, d in got.items()}
    for d in range(n * n - 1):
        (x1, y1), (x2, y2) = pos[d], pos[d + 1]
        assert abs(x1 - x2) + abs(y1 - y2) == 1, (d, pos[d], pos[d + 1])

    def interleave(x, y):
        out = 0
        for i in range(bits):
            out |= ((x >> i) & 1) << (2 * i + 1)
            out |= ((y >> i) & 1) << (2 * i)
        return out

    mk = morton_key_np(gx, gy, bits=bits)
    assert all(
        int(d) == interleave(int(a), int(b))
        for a, b, d in zip(gx, gy, mk)
    )


def test_iblt_size_estimate(spark):
    """Strata estimator: exact when every stratum decodes (small
    diff), within ~2x for a large diff, and 0 for identical sets —
    the sizing step the IBLTDecodeError ladder prescribes."""
    from dataflowex_spark.operators.reconcile import iblt_size_estimate

    a = spark.createDataFrame([(k,) for k in range(5000)], "k long")
    same = spark.createDataFrame([(k,) for k in range(5000)], "k long")
    assert iblt_size_estimate(a, same, "k") == 0

    b_small = spark.createDataFrame(
        [(k,) for k in range(5000) if k % 500 != 3], "k long"
    )
    est_small = iblt_size_estimate(a, b_small, "k")
    assert est_small == 10  # small diffs decode exactly

    b_big = spark.createDataFrame(
        [(k,) for k in range(5000) if k % 5 != 3], "k long"
    )
    est_big = iblt_size_estimate(a, b_big, "k")
    assert 500 <= est_big <= 2000, est_big  # true diff 1000


def test_reconcile_protocol_end_to_end(spark):
    """reconcile(): estimate → size → decode, with the doubling
    retry making an underestimate harmless."""
    from dataflowex_spark.operators.reconcile import reconcile

    a = spark.createDataFrame([(k,) for k in range(3000)], "k long")
    b = spark.createDataFrame(
        [(k,) for k in range(3000) if k % 100 != 7] + [(9001,)], "k long"
    )
    got = reconcile(a, b, "k")
    want = sorted(
        [(k, "a_only") for k in range(3000) if k % 100 == 7]
        + [(9001, "b_only")]
    )
    assert got == want
    assert reconcile(a, a, "k") == []


def test_multi_source_bfs_path_graph(spark):
    """Path 1-2-3-4-5, landmarks {1,5}: distances are exact hop
    counts from the NEAREST occurrence of each landmark key."""
    from dataflowex_spark.operators.graph import multi_source_bfs

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "src int, dst int"
    )
    lms = spark.createDataFrame([(1,), (5,)], "node int")
    got = {
        (r["lm"], r["node"]): r["d"]
        for r in multi_source_bfs(edges, lms, max_hops=4).collect()
    }
    for node in range(1, 6):
        assert got[(1, node)] == node - 1
        assert got[(5, node)] == 5 - node
    # hop cap: with max_hops=2 landmark 1 cannot reach node 5
    capped = multi_source_bfs(edges, lms, max_hops=2)
    pairs = {(r["lm"], r["node"]) for r in capped.collect()}
    assert (1, 5) not in pairs and (1, 3) in pairs


def test_t_closeness_exact_and_skewed(spark):
    """A group mirroring the global mix scores 0; a fully skewed
    group scores the hand-computed EMD."""
    from dataflowex_spark.operators.validation import t_closeness

    # n=10, bins {0,1}, global cum(0)=6; g2 all-zeros: cum_g(0)=4,
    # |4*10 - 6*4| = 16 over n_g*n*(m-1) = 40 -> t = 0.4
    rows = [("g1", 0)] * 2 + [("g1", 1)] * 2 + [("g2", 0)] * 4
    rows += [("g3", 1)] * 2  # skewed the other way, smaller group
    df = spark.createDataFrame(rows, "g string, b int")
    got = {r["g"]: (r["n_g"], r["t_ppm"]) for r in t_closeness(
        df, ["g"], "b"
    ).collect()}
    assert got["g2"] == (4, 400_000)
    # recompute every group against a python reference
    import itertools

    bins = sorted({b for _, b in rows})
    tot = len(rows)
    gcum = {}
    c = 0
    for b in bins:
        c += sum(1 for _, x in rows if x == b)
        gcum[b] = c
    for gname, grp in itertools.groupby(
        sorted(rows), key=lambda r: r[0]
    ):
        vals = [b for _, b in grp]
        ng = len(vals)
        cg, num = 0, 0
        for b in bins:
            cg += sum(1 for x in vals if x == b)
            num += abs(cg * tot - gcum[b] * ng)
        want = (1_000_000 * num) // (ng * tot * (len(bins) - 1))
        assert got[gname] == (ng, want), gname
    with __import__("pytest").raises(ValueError, match="2 bins"):
        t_closeness(
            spark.createDataFrame([("g", 0)], "g string, b int"),
            ["g"],
            "b",
        )


def test_shapley_attribution_hand_computed(spark):
    """d=2 coalition game computed by hand; efficiency property."""
    from dataflowex_spark.operators.attribution import shapley_attribution

    journeys = spark.createDataFrame(
        # mask 1: 2 conversions; mask 2: 1; mask 3: 4; mask 0: none
        [(1, 1)] * 2 + [(1, 0)] * 3
        + [(2, 1)] + [(3, 1)] * 4 + [(0, 0)] * 2,
        "mask int, conv int",
    )
    got = {
        r["channel"]: r["shapley_xdfact"]
        for r in shapley_attribution(journeys, [(1, "A"), (2, "B")]).collect()
    }
    # v(∅)=0, v(A)=2, v(B)=1, v(AB)=7
    # A: 0!1!(2-0) + 1!0!(7-1) = 8 ; B: (1-0) + (7-2) = 6
    assert got == {"A": 8, "B": 6}
    # efficiency: Σ = d!·(v(full) − v(∅)) = 2·7
    assert sum(got.values()) == 14
    import pytest as _pt

    with _pt.raises(ValueError, match="2\\^d"):
        shapley_attribution(journeys, [(1 << i, str(i)) for i in range(13)])


def test_markov_removal_effect_hand_computed(spark):
    """START splits to A/B; only A converts — removing A kills all
    conversion mass, removing B costs nothing."""
    from dataflowex_spark.operators.attribution import (
        markov_removal_effect,
    )

    trans = spark.createDataFrame(
        [
            ("START", "A", 2),
            ("START", "B", 2),
            ("A", "CONV", 1),
            ("A", "DROP", 1),
            ("B", "DROP", 2),
        ],
        "src string, dst string, c long",
    )
    got = {
        r["channel"]: (r["conv_mass_ppm"], r["removal_ppm"])
        for r in markov_removal_effect(trans, ["A", "B"], rounds=4).collect()
    }
    assert got == {"A": (0, 1_000_000), "B": (250_000, 0)}


def test_fellegi_sunter_em_recovers_planted_mixture(spark):
    """EM on exact expected pattern counts from a known mixture
    recovers λ/m/u; likelihood is non-decreasing; deterministic."""
    from dataflowex_spark.operators.linkage import (
        comparison_patterns,
        fellegi_sunter_em,
    )

    lam, m, u = 0.2, [0.95, 0.85], [0.30, 0.05]
    N = 1_000_000
    pats = []
    for pat in range(4):
        pm, pu = lam, 1 - lam
        for i in range(2):
            g = (pat >> i) & 1
            pm *= m[i] if g else 1 - m[i]
            pu *= u[i] if g else 1 - u[i]
        pats.append((pat, round(N * (pm + pu))))
    est = fellegi_sunter_em(pats, 2, iters=200)
    # EM monotonicity (tolerance: converged steps differ only in the
    # last float bits, which can tick down by ~1e-16 relative)
    for prev, cur in zip(est["ll"], est["ll"][1:]):
        assert cur >= prev - 1e-6 * abs(prev)
    # mixture recovered (label order is identifiable here: m > u)
    assert abs(est["lam"] - lam) < 0.02
    for i in range(2):
        assert abs(est["m"][i] - m[i]) < 0.03, (i, est["m"])
        assert abs(est["u"][i] - u[i]) < 0.03, (i, est["u"])
    # agree weight positive, disagree negative for informative fields
    for aw, dw in est["weights"]:
        assert aw > 0 > dw
    assert fellegi_sunter_em(pats, 2, iters=200) == est  # deterministic

    df = spark.createDataFrame(
        [(1, 1), (1, 0), (0, 0), (1, 1)], "x int, y int"
    )
    got = {
        r["pattern"]: r["c"]
        for r in comparison_patterns(df, ["x", "y"]).collect()
    }
    assert got == {3: 2, 1: 1, 0: 1}
    import pytest as _pt

    with _pt.raises(ValueError, match="2\\^k"):
        comparison_patterns(df, ["x"] * 21)
    with _pt.raises(ValueError, match="no comparison"):
        fellegi_sunter_em([], 2)


def test_wasserstein_drift_hand_computed(spark):
    """Shifted-by-one-bin distribution: W1 = bin width exactly;
    identical cohorts: 0."""
    from dataflowex_spark.operators.mleval import wasserstein_drift

    rows = []
    for b in range(4):  # cohort 0 uniform on bins 0..3
        rows += [("g", b, 0)] * 5
    for b in range(1, 5):  # cohort 1 = same shape shifted +1 bin
        rows += [("g", b, 1)] * 5
    rows += [("h", 2, 0)] * 7 + [("h", 2, 1)] * 3  # identical shapes
    df = spark.createDataFrame(rows, "g string, b int, coh int")
    got = {
        r["g"]: (r["n_a"], r["n_b"], r["w1_milli"])
        for r in wasserstein_drift(df, ["g"], "b", "coh", 10).collect()
    }
    assert got["g"] == (20, 20, 10_000)  # shift by one 10-wide bin
    assert got["h"] == (7, 3, 0)
