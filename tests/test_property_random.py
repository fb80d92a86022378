"""Hypothesis-driven randomized properties (SURVEY §5.4): Spark
column expressions vs plain-Python reference implementations on
arbitrary text, batched into one DataFrame per property run."""

import re

from hypothesis import given, settings, strategies as st
from pyspark.sql import Row, functions as F

from dataflowex_spark.functions.text import (
    TOKEN_REGEX,
    rolling_fingerprint,
    token_count,
    tokens,
    word_shingles,
)

TEXT = st.text(
    alphabet=st.characters(whitelist_categories=("Lu", "Ll", "Nd", "Zs", "Po")),
    min_size=0,
    max_size=120,
)


def py_ws_tokens(s: str) -> list[str]:
    return [t for t in re.split(r"\s+", s) if t != ""]


def py_fingerprint(s: str, base: int = 31, mod: int = 2**31 - 1) -> int:
    acc = 0
    for ch in s:
        # Spark's ascii() = code point of the first character
        acc = (acc * base + ord(ch)) % mod
    return acc


@settings(max_examples=5, deadline=None)
@given(st.lists(TEXT, min_size=1, max_size=30))
def check_token_count_matches_python(texts):
    spark = check_token_count_matches_python._spark
    df = spark.createDataFrame([Row(i=i, text=t) for i, t in enumerate(texts)])
    got = {
        r.i: (r.n, r.toks)
        for r in df.select(
            "i",
            token_count(F.col("text")).alias("n"),
            tokens(F.col("text")).alias("toks"),
        ).collect()
    }
    for i, t in enumerate(texts):
        expect = py_ws_tokens(t)
        assert got[i][0] == len(expect), repr(t)
        assert got[i][1] == expect, repr(t)


@settings(max_examples=5, deadline=None)
@given(st.lists(st.text(alphabet=st.characters(codec="ascii", exclude_characters="\x00"), min_size=0, max_size=80), min_size=1, max_size=30))
def check_fingerprint_matches_python(texts):
    spark = check_fingerprint_matches_python._spark
    df = spark.createDataFrame([Row(i=i, text=t) for i, t in enumerate(texts)])
    out1 = {
        r.i: r.fp
        for r in df.select("i", rolling_fingerprint(F.col("text")).alias("fp")).collect()
    }
    out2 = {
        r.i: r.fp
        for r in df.repartition(5)
        .select("i", rolling_fingerprint(F.col("text")).alias("fp"))
        .collect()
    }
    assert out1 == out2  # partitioning-invariant
    for i, t in enumerate(texts):
        assert out1[i] == py_fingerprint(t), repr(t)


def py_shingles(s: str, k: int) -> list[str]:
    toks = py_ws_tokens(s)
    if not toks:
        return [""]
    if len(toks) < k:
        return [" ".join(toks)]
    return [" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)]


@settings(max_examples=5, deadline=None)
@given(st.lists(TEXT, min_size=1, max_size=20), st.integers(min_value=2, max_value=13))
def check_word_shingles_match_python(texts, k):
    spark = check_word_shingles_match_python._spark
    df = spark.createDataFrame([Row(i=i, text=t) for i, t in enumerate(texts)])
    got = {
        r.i: r.sh
        for r in df.select(
            "i", word_shingles(F.col("text"), k).alias("sh")
        ).collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == py_shingles(t, k), (k, repr(t))


def py_winnow(s: str, k: int, w: int):
    import hashlib

    grams = py_shingles(s, k)
    tags = [
        hashlib.md5(g.encode()).hexdigest() + ":" + str(i).zfill(8)
        for i, g in enumerate(grams)
    ]
    sel = {min(tags[i : i + w]) for i in range(max(len(tags) - (w - 1), 1))}
    return {(t[:32], int(t[33:])) for t in sel}


@settings(max_examples=5, deadline=None)
@given(
    st.lists(TEXT, min_size=1, max_size=15),
    st.integers(min_value=1, max_value=5),
    st.integers(min_value=2, max_value=6),
)
def check_winnow_matches_python(texts, k, w):
    from dataflowex_spark.operators.text import winnow_fingerprints

    spark = check_winnow_matches_python._spark
    df = spark.createDataFrame([Row(i=i, text=t) for i, t in enumerate(texts)])
    got = {}
    for r in winnow_fingerprints(df, id_col="i", text_col="text", k=k, w=w).collect():
        got.setdefault(r.i, set()).add((r.fp_hash, r.fp_pos))
    for i, t in enumerate(texts):
        assert got.get(i, set()) == py_winnow(t, k, w), (k, w, repr(t))


def test_randomized_text_properties(spark):
    """Run the hypothesis properties with the session fixture bound
    (hypothesis can't take pytest fixtures directly)."""
    check_token_count_matches_python._spark = spark
    check_fingerprint_matches_python._spark = spark
    check_word_shingles_match_python._spark = spark
    check_winnow_matches_python._spark = spark
    check_token_count_matches_python()
    check_fingerprint_matches_python()
    check_word_shingles_match_python()
    check_winnow_matches_python()


def py_pack(sizes, budget):
    """Greedy next-fit reference: seq id per element of sizes."""
    out, seq, acc = [], 0, 0
    for i, n in enumerate(sizes):
        if i > 0 and acc + n > budget:
            seq += 1
            acc = n
        else:
            acc += n
        out.append(seq)
    return out


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["g1", "g2", "g3"]),
            st.integers(min_value=0, max_value=200),
        ),
        min_size=1,
        max_size=60,
    ),
    st.integers(min_value=1, max_value=128),
)
def check_pack_sequences_matches_python(rows, budget):
    from dataflowex_spark.operators.packing import pack_sequences

    spark = check_pack_sequences_matches_python._spark
    df = spark.createDataFrame(
        [Row(g=g, i=i, n=n) for i, (g, n) in enumerate(rows)]
    )
    got = {
        (r.g, r.i): r.seq_id
        for r in pack_sequences(df, "g", "i", "n", budget=budget).collect()
    }
    by_group = {}
    for i, (g, n) in enumerate(rows):
        by_group.setdefault(g, []).append((i, n))
    for g, pairs in by_group.items():
        pairs.sort()
        expect = py_pack([n for _, n in pairs], budget)
        for (i, _), e in zip(pairs, expect):
            assert got[(g, i)] == e, (g, i, budget)


def py_scd2(events):
    """events: sorted (ts, tie, state) per key → list of
    (state, valid_from, valid_to, n_events)."""
    islands = []
    for ts, tie, state in events:
        if islands and islands[-1][0] == state:
            islands[-1][3] += 1
        else:
            islands.append([state, ts, None, 1])
    for a, b in zip(islands, islands[1:]):
        a[2] = b[1]
    return [tuple(x) for x in islands]


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["u1", "u2"]),
            st.integers(min_value=0, max_value=20),
            st.sampled_from(["a", "b", "c"]),
        ),
        min_size=1,
        max_size=40,
    )
)
def check_scd2_matches_python(rows):
    from dataflowex_spark.operators.etl import scd2_history

    spark = check_scd2_matches_python._spark
    df = spark.createDataFrame(
        [Row(k=k, ts=ts, state=s, tie=i) for i, (k, ts, s) in enumerate(rows)]
    )
    got = {}
    for r in scd2_history(df, "k", "ts", "state", tie_col="tie").collect():
        got.setdefault(r.k, []).append(
            (r.state, r.valid_from, r.valid_to, r.n_events)
        )
    for k in got:
        got[k].sort(key=lambda x: x[1])
    by_key = {}
    for i, (k, ts, s) in enumerate(rows):
        by_key.setdefault(k, []).append((ts, i, s))
    for k, evs in by_key.items():
        evs.sort()
        assert got[k] == py_scd2(evs), k


def test_randomized_etl_properties(spark):
    check_pack_sequences_matches_python._spark = spark
    check_scd2_matches_python._spark = spark
    check_pack_sequences_matches_python()
    check_scd2_matches_python()


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.lists(
            st.sampled_from("abcdefgh"), min_size=10, max_size=40
        ).map(lambda cs: " ".join(cs)),
        min_size=1,
        max_size=8,
    )
)
def check_segment_dedup_conservation(texts):
    """Property: segment dedup (a) reassembles every document from a
    subset of its own segments in order, and (b) kept + removed
    segment counts add to the original segment count."""
    spark = check_segment_dedup_conservation._spark
    import math

    from dataflowex_spark.operators.dedup import dedup_segments

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in dedup_segments(df, seg_tokens=5).collect()}
    for i, t in rows:
        toks = t.split(" ")
        segs = [
            " ".join(toks[j : j + 5]) for j in range(0, len(toks), 5)
        ]
        r = got[i]
        kept = r.kept_text.split(" ") if r.kept_text else []
        # (a) kept_text is a concatenation of a subsequence of segments
        kept_segs = [
            " ".join(kept[j : j + 5]) for j in range(0, len(kept), 5)
        ]
        assert all(s in segs for s in kept_segs)
        # (b) conservation
        n_kept = math.ceil(len(kept) / 5) if kept else 0
        assert n_kept + r.removed_segments == len(segs)


def test_segment_dedup_property(spark):
    check_segment_dedup_conservation._spark = spark
    check_segment_dedup_conservation()


@settings(max_examples=5, deadline=None)
@given(
    st.lists(st.integers(0, 30), min_size=2, max_size=40),
    st.lists(st.integers(0, 30), min_size=2, max_size=40),
    st.integers(2, 4),
)
def check_incremental_join_equals_full(akeys, bkeys, nbatches):
    """Property: folding incremental_join_delta over arbitrary batch
    splits reproduces the full join exactly (multiset semantics)."""
    spark = check_incremental_join_equals_full._spark
    from collections import Counter

    from pyspark.sql import functions as F

    from dataflowex_spark.operators.etl import incremental_join_delta

    a = spark.createDataFrame(
        [(k, i) for i, k in enumerate(akeys)], "k long, av long"
    )
    b = spark.createDataFrame(
        [(k, i) for i, k in enumerate(bkeys)], "k long, bv long"
    )
    a_old = b_old = None
    parts = []
    for i in range(nbatches):
        da = a.filter((F.col("av") % nbatches) == i)
        db = b.filter((F.col("bv") % nbatches) == i)
        d = incremental_join_delta(a_old, b_old, da, db, on="k")
        if d is not None:
            parts.append(d)
        a_old = da if a_old is None else a_old.unionByName(da)
        b_old = db if b_old is None else b_old.unionByName(db)
    inc = parts[0]
    for p in parts[1:]:
        inc = inc.unionByName(p)
    got = Counter((r.k, r.av, r.bv) for r in inc.collect())
    want = Counter((r.k, r.av, r.bv) for r in a.join(b, "k").collect())
    assert got == want


def test_incremental_join_property(spark):
    check_incremental_join_equals_full._spark = spark
    check_incremental_join_equals_full()


def test_kmv_and_covariance_algebra_properties(spark):
    """Sketch/linear-algebra laws the scale story depends on:

    - KMV MERGEABILITY: the k-min sketch of A∪B equals the k smallest
      of sketch(A) ∪ sketch(B) — the property that lets sketches be
      combined across partitions/batches without touching raw keys.
    - Covariance SHIFT INVARIANCE: cov(X + c) == cov(X) — catches
      catastrophic-cancellation bugs in the Σxy − (Σx)(Σy)/n form.
    """
    import numpy as np
    import pyspark.sql.functions as F
    from dataflowex_spark.operators.linalg import covariance_matrix
    from dataflowex_spark.operators.similarity import kmv_sketch

    rng = np.random.default_rng(21)
    a_keys = rng.integers(0, 5000, 800)
    b_keys = rng.integers(2500, 7500, 800)
    mk = lambda arr: spark.createDataFrame(
        [(int(v),) for v in arr], "u long"
    )
    k = 64
    sa = {r["h"] for r in kmv_sketch(mk(a_keys), "u", k).collect()}
    sb = {r["h"] for r in kmv_sketch(mk(b_keys), "u", k).collect()}
    su = {
        r["h"]
        for r in kmv_sketch(
            mk(np.concatenate([a_keys, b_keys])), "u", k
        ).collect()
    }
    assert su == set(sorted(sa | sb)[:k])

    X = rng.normal(size=(300, 5))
    shift = X + np.array([100.0, -50.0, 7.0, 0.0, 1e4])
    mk_emb = lambda M: spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(M)],
        "id long, embedding array<float>",
    )
    c0 = {
        (r["i"], r["j"]): r["cov"]
        for r in covariance_matrix(mk_emb(X), "embedding").collect()
    }
    c1 = {
        (r["i"], r["j"]): r["cov"]
        for r in covariance_matrix(mk_emb(shift), "embedding").collect()
    }
    for key in c0:
        # float32 storage of the shifted values costs precision at the
        # 1e4 offset; the law holds to the storage precision
        assert abs(c0[key] - c1[key]) < 5e-2


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.text(alphabet="abcdef", min_size=1, max_size=3),
        min_size=1,
        max_size=60,
    )
)
def check_sketch_invariants(keys):
    """Random-multiset sketch laws, each against a pure-Python
    reference of the same portable hash: CMS never undercounts any
    present key; HLL registers of a split stream merge by MAX to the
    full build; AMS counters of a split stream merge by ADDITION."""
    import hashlib

    from pyspark.sql import functions as F
    from dataflowex_spark.operators.sketches import (
        ams_f2_estimators,
        count_min_build,
        count_min_lookup,
        hll_registers,
    )

    spark = check_sketch_invariants._spark
    df = spark.createDataFrame([(k,) for k in keys], "k string")
    exact = {}
    for k in keys:
        exact[k] = exact.get(k, 0) + 1

    est = {
        r["k"]: r["cms_est"]
        for r in count_min_lookup(
            count_min_build(df, "k", depth=3, width=16),
            df,
            "k",
            depth=3,
            width=16,
        ).collect()
    }
    assert all(est[k] >= c for k, c in exact.items())

    half = len(keys) // 2
    lo = spark.createDataFrame([(k,) for k in keys[:half]] or [("",)], "k string")
    hi = spark.createDataFrame([(k,) for k in keys[half:]] or [("",)], "k string")
    full = {
        r["j"]: r["m_j"]
        for r in hll_registers(
            df.select(F.lit("g").alias("g"), "k"), ["g"], "k"
        ).collect()
    }
    merged: dict = {}
    for part, src in (("lo", keys[:half]), ("hi", keys[half:])):
        if not src:
            continue
        pdf = spark.createDataFrame([(k,) for k in src], "k string")
        for r in hll_registers(
            pdf.select(F.lit("g").alias("g"), "k"), ["g"], "k"
        ).collect():
            merged[r["j"]] = max(merged.get(r["j"], 0), r["m_j"])
    assert merged == full

    zfull = {r["i"]: r["z"] for r in ams_f2_estimators(df, "k", s=8).collect()}
    zsum: dict = {}
    for src in (keys[:half], keys[half:]):
        if not src:
            continue
        pdf = spark.createDataFrame([(k,) for k in src], "k string")
        for r in ams_f2_estimators(pdf, "k", s=8).collect():
            zsum[r["i"]] = zsum.get(r["i"], 0) + r["z"]
    assert {i: z for i, z in zsum.items() if z != 0} == {
        i: z for i, z in zfull.items() if z != 0
    }


def test_randomized_sketch_properties(spark):
    check_sketch_invariants._spark = spark
    check_sketch_invariants()


# ---- r10 codec + pruning-soundness properties (no Spark needed)

POSITIONS = st.lists(
    st.integers(min_value=0, max_value=(1 << 40)),
    min_size=0, max_size=300, unique=True,
).map(sorted)


@given(POSITIONS)
@settings(max_examples=60, deadline=None)
def test_roaring64_portable_roundtrip(ps):
    """Portable 64-bit roaring (the Iceberg v3 DV form) round-trips
    arbitrary sparse/dense position sets exactly."""
    from dataflowex_spark.sources.roaring import (
        roaring64_portable_deserialize,
        roaring64_portable_serialize,
    )

    assert roaring64_portable_deserialize(
        roaring64_portable_serialize(ps)
    ) == ps


@given(
    st.dictionaries(
        st.text(
            alphabet=st.characters(
                whitelist_categories=("Lu", "Ll", "Nd"),
            ),
            min_size=1, max_size=20,
        ).map(lambda s: "/data/" + s + ".parquet"),
        POSITIONS,
        min_size=0, max_size=4,
    )
)
@settings(max_examples=40, deadline=None)
def test_puffin_dv_file_roundtrip(dvs):
    """A Puffin file holding N deletion-vector blobs round-trips
    every (referenced file, position set) pair, CRC-validated."""
    import os
    import tempfile

    from dataflowex_spark.sources.puffin import (
        read_puffin_dvs,
        write_puffin_dvs,
    )

    p = tempfile.mktemp(suffix=".puffin")
    try:
        write_puffin_dvs(p, dvs)
        got = dict(read_puffin_dvs(p))
        assert got == {k: sorted(v) for k, v in dvs.items()}
    finally:
        if os.path.exists(p):
            os.unlink(p)


@given(
    st.lists(
        st.integers(min_value=-10**6, max_value=10**6),
        min_size=1, max_size=40,
    ),
    st.integers(min_value=-10**6, max_value=10**6),
    st.sampled_from(["=", "<", "<=", ">", ">="]),
    st.sampled_from(
        [("identity", None), ("bucket", 8), ("truncate", 10)]
    ),
)
@settings(max_examples=200, deadline=None)
def test_manifest_summary_pruning_sound(values, lit, op, transform):
    """SOUNDNESS of list-level pruning: if ANY file-level tuple in a
    manifest allows the predicate, the manifest's summary MUST allow
    it too (a summary may keep extra manifests, never drop a
    matching one) — for long-typed identity/bucket/truncate
    transforms across random value sets, literals, and ops."""
    from dataflowex_spark.sources.iceberg_reader import (
        _bucket_of,
        _cell_allows,
        _summary_cell,
        _truncate_of,
    )

    kind, param = transform
    if kind == "identity":
        tuples = values
    elif kind == "bucket":
        tuples = [_bucket_of(v, "long", param) for v in values]
    else:
        tuples = [_truncate_of(v, "long", param) for v in values]
    file_allows = [
        _cell_allows(t, t, kind, param, "long", op, lit, True)
        for t in tuples
    ]
    lo, hi = min(tuples), max(tuples)
    fs = {
        "contains_null": False,
        "lower_bound": str(lo),
        "upper_bound": str(hi),
    }
    summary_allows = _cell_allows(
        *_summary_cell(fs, kind, "long"), kind, param, "long", op, lit, True
    )
    if any(file_allows):
        assert summary_allows, (
            f"summary excluded a manifest with a matching tuple: "
            f"kind={kind} op={op} lit={lit} lo={lo} hi={hi} "
            f"tuples={tuples}"
        )


@given(POSITIONS.filter(lambda x: len(x) > 0))
@settings(max_examples=40, deadline=None)
def test_delta_vs_iceberg_bitmap_forms_agree(ps):
    """Delta's RoaringBitmapArray and the portable roaring64 are
    DIFFERENT serializations of the same set — decoding each returns
    the identical positions (cross-form consistency of the two DV
    stacks)."""
    from dataflowex_spark.sources.roaring import (
        bitmap_array_deserialize,
        bitmap_array_serialize,
        roaring64_portable_deserialize,
        roaring64_portable_serialize,
    )

    assert bitmap_array_deserialize(
        bitmap_array_serialize(ps)
    ) == roaring64_portable_deserialize(
        roaring64_portable_serialize(ps)
    ) == ps
