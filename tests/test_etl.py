"""ETL operator tests: dim_join insert-missing semantics (A12) and
shard routing (A11) — the reference's DbDataJoiner/MultiDbBulkInserter
behavioral contract."""

import pytest
from pyspark.sql import Row, functions as F

from dataflowex_spark.operators.etl import (
    dim_join,
    dim_join_insert_missing,
    shard_assign,
    sharded_sink,
)


@pytest.fixture()
def fact(spark):
    return spark.createDataFrame(
        [Row(k="a", v=1), Row(k="b", v=2), Row(k="b", v=3), Row(k="new1", v=4), Row(k="new2", v=5)]
    )


@pytest.fixture()
def dim(spark):
    return spark.createDataFrame([Row(k="a", sk=10), Row(k="b", sk=20)])


def test_dim_join_left_enrichment(fact, dim):
    out = dim_join(fact, dim, on="k").collect()
    assert len(out) == 5  # every input row emitted
    by_k = {(r.k, r.v): r.sk for r in out}
    assert by_k[("a", 1)] == 10 and by_k[("b", 2)] == 20
    assert by_k[("new1", 4)] is None  # miss → null before insert


def test_dim_join_insert_missing(fact, dim):
    enriched, updated_dim, inserted = dim_join_insert_missing(fact, dim, key="k")
    ins = {r.k: r.sk for r in inserted.collect()}
    # distinct missing keys got fresh surrogate keys above max(existing)
    assert set(ins) == {"new1", "new2"}
    assert min(ins.values()) > 20
    assert len(set(ins.values())) == 2
    # updated dim = old ∪ new
    assert updated_dim.count() == 4
    # every fact row now resolves a surrogate key
    got = {(r.k, r.v): r.sk for r in enriched.collect()}
    assert len(got) == 5 and all(sk is not None for sk in got.values())
    # idempotent: second pass inserts nothing
    _, dim2, inserted2 = dim_join_insert_missing(fact, updated_dim, key="k")
    assert inserted2.count() == 0 and dim2.count() == 4


def test_shard_assign_deterministic_and_bounded(fact):
    s1 = shard_assign(fact, "k", 4).collect()
    s2 = shard_assign(fact, "k", 4).collect()
    assert {(r.k, r.shard) for r in s1} == {(r.k, r.shard) for r in s2}
    assert all(0 <= r.shard < 4 for r in s1)
    # same key → same shard
    shards_b = {r.shard for r in s1 if r.k == "b"}
    assert len(shards_b) == 1


def test_sharded_sink_layout(fact, tmp_path):
    path = str(tmp_path / "shards")
    sharded_sink(fact, path, key="k", n_shards=2)
    spark = fact.sparkSession
    back = spark.read.parquet(path)
    assert back.count() == 5
    assert set(back.select("shard").distinct().toPandas()["shard"]) <= {0, 1}


def test_salted_agg_matches_plain(spark):
    from dataflowex_spark.operators.skew import salted_agg
    import pyspark.sql.functions as SF

    df = spark.createDataFrame(
        [Row(k="hot", v=float(i)) for i in range(1000)]
        + [Row(k="cold", v=1.0), Row(k="cold", v=2.0)]
    )
    out = salted_agg(
        df,
        ["k"],
        {"n": SF.count(SF.lit(1)), "total": SF.sum("v"), "mx": SF.max("v")},
        n_salts=8,
    )
    got = {r.k: (r.n, r.total, r.mx) for r in out.collect()}
    assert got["hot"] == (1000, float(sum(range(1000))), 999.0)
    assert got["cold"] == (2, 3.0, 2.0)


def test_salted_join_matches_plain(spark):
    from dataflowex_spark.operators.skew import salted_join

    left = spark.createDataFrame(
        [Row(k="hot", i=i) for i in range(500)] + [Row(k="x", i=-1)]
    )
    right = spark.createDataFrame([Row(k="hot", tag="H"), Row(k="y", tag="Y")])
    out = salted_join(left, right, on="k", n_salts=4)
    plain = left.join(right, on="k")
    assert out.count() == plain.count() == 500
    assert {r.tag for r in out.collect()} == {"H"}


def test_bucketed_join_skips_shuffle(spark, tmp_path):
    """Bucketed tables co-locate join keys at rest: joining two
    same-bucketed tables must plan ZERO exchanges."""
    import re
    from dataflowex_spark.sources import write_batch
    from dataflowex_spark.plans import formatted_plan

    a = spark.range(0, 1000).withColumn("v", F.col("id") * 2)
    b = spark.range(0, 1000).withColumn("w", F.col("id") * 3)
    write_batch(a, str(tmp_path / "a"), bucket_by=(4, "id"), table_name="bkt_a")
    write_batch(b, str(tmp_path / "b"), bucket_by=(4, "id"), table_name="bkt_b")
    ta, tb = spark.table("bkt_a"), spark.table("bkt_b")
    try:
        joined = ta.join(tb, "id")
        plan = formatted_plan(joined)
        assert joined.count() == 1000
        assert len(re.findall(r"\bExchange\b", plan)) == 0
    finally:
        spark.sql("DROP TABLE IF EXISTS bkt_a")
        spark.sql("DROP TABLE IF EXISTS bkt_b")


def test_dim_join_insert_missing_parallel_ids(fact, dim):
    """dense=False: surrogate assignment without the single-reducer
    window — ids still unique, above max(existing), and the join
    still completes every row."""
    enriched, updated, inserted = dim_join_insert_missing(
        fact, dim, key="k", dense=False
    )
    ins = {r.k: r.sk for r in inserted.collect()}
    assert set(ins) == {"new1", "new2"}
    assert min(ins.values()) > 20
    assert len(set(ins.values())) == 2
    assert enriched.filter(F.col("sk").isNull()).count() == 0


def test_jdbc_roundtrip_embedded_derby(spark, tmp_path):
    """Real JDBC sink/source roundtrip against embedded Derby (the
    bundled metastore engine) — the DbBulkInserter contract with an
    actual database: batched insert, then partitioned read-back."""
    from dataflowex_spark.sources import read_jdbc, write_jdbc

    url = f"jdbc:derby:{tmp_path}/derbydb;create=true"
    df = spark.createDataFrame(
        [Row(id=i, name=f"row{i}", amount=float(i) * 1.5) for i in range(100)]
    )
    write_jdbc(
        df,
        url,
        "people",
        mode="overwrite",
        batchsize=25,
        driver="org.apache.derby.jdbc.EmbeddedDriver",
    )
    back = read_jdbc(
        spark,
        url,
        "people",
        partition_column="id",
        num_partitions=4,
        lower_bound=0,
        upper_bound=100,
        driver="org.apache.derby.jdbc.EmbeddedDriver",
    )
    assert back.count() == 100
    assert back.rdd.getNumPartitions() == 4
    got = {r.id: (r.name, r.amount) for r in back.collect()}
    assert got[7] == ("row7", 10.5)


def test_write_sorted_tightens_row_groups(spark, tmp_path):
    """Sorted writes give tight, non-overlapping row-group min/max —
    the data-skipping property, verified from the parquet metadata."""
    import duckdb

    df = spark.range(0, 50_000).withColumn("v", F.col("id") % 997)
    unsorted = str(tmp_path / "unsorted")
    df.orderBy(F.rand(seed=1)).repartition(4).write.parquet(unsorted)
    from dataflowex_spark.sources import write_sorted

    sorted_path = str(tmp_path / "sorted")
    write_sorted(df, sorted_path, ["id"], n_files=4)

    def spans(p):
        q = f"""
        SELECT sum(CAST(stats_max AS BIGINT) - CAST(stats_min AS BIGINT))
        FROM parquet_metadata('{p}/*.parquet')
        WHERE path_in_schema = 'id'
        """
        return duckdb.sql(q).fetchone()[0]

    # unsorted row groups each span nearly the whole id domain;
    # sorted ones tile it — total span collapses by ~#row-groups
    assert spans(sorted_path) * 2 < spans(unsorted)


def test_compact_reduces_files(spark, tmp_path):
    from dataflowex_spark.sources import compact

    path = str(tmp_path / "many")
    spark.range(0, 10_000).repartition(24).write.parquet(path)
    n = compact(spark, path, target_files=3, sort_cols=["id"])
    assert n <= 4
    assert spark.read.parquet(path).count() == 10_000


def test_incremental_append_idempotent(spark, tmp_path):
    from dataflowex_spark.sources import incremental_append

    path = str(tmp_path / "inc")
    batch1 = spark.createDataFrame([Row(k=i, v=i * 2) for i in range(10)])
    assert incremental_append(batch1, path, "k") == 10
    # replay the same batch → no-op
    assert incremental_append(batch1, path, "k") == 0
    # overlapping batch → only new keys land
    batch2 = spark.createDataFrame([Row(k=i, v=i * 2) for i in range(5, 15)])
    assert incremental_append(batch2, path, "k") == 5
    assert spark.read.parquet(path).count() == 15


def test_incremental_append_crash_before_commit_publishes_nothing(
    spark, tmp_path
):
    """Crash injected between stage and commit: the table is
    byte-identical (no torn append), the orphaned staging dir is
    swept by clean_staging, and the replayed batch lands whole —
    still idempotent afterwards."""
    from dataflowex_spark.sources import clean_staging, incremental_append

    path = str(tmp_path / "inc")
    batch1 = spark.createDataFrame([Row(k=i, v=i) for i in range(10)])
    assert incremental_append(batch1, path, "k") == 10
    before = sorted((r.k, r.v) for r in spark.read.parquet(path).collect())

    batch2 = spark.createDataFrame([Row(k=i, v=i) for i in range(10, 20)])

    class Boom(RuntimeError):
        pass

    def crash(staging_dir):
        raise Boom("injected crash between stage and commit")

    with pytest.raises(Boom):
        incremental_append(batch2, path, "k", on_staged=crash)
    after = sorted((r.k, r.v) for r in spark.read.parquet(path).collect())
    assert after == before  # full batch or no batch: this is "no batch"
    # an exception path cleans its own staging dir...
    assert clean_staging(spark, path) == 0
    # ...while a hard kill (no finally) leaves an orphan: simulate one
    # and sweep it
    orphan = str(tmp_path / "inc.__staging__-deadbeef")
    batch2.write.parquet(orphan)
    assert clean_staging(spark, path) == 1
    before_rows = spark.read.parquet(path).count()
    assert before_rows == 10  # sweep never touches committed data

    # replay without the crash → the whole batch lands exactly once
    assert incremental_append(batch2, path, "k") == 10
    assert incremental_append(batch2, path, "k") == 0
    assert spark.read.parquet(path).count() == 20


def test_atomic_append_torn_commit_heals_on_replay(spark, tmp_path):
    """Simulate a torn commit (a prefix of the batch's files landed,
    the rest did not): replaying through the keyed anti-join appends
    only the missing rows — convergent, no duplicates."""
    from dataflowex_spark.sources import incremental_append

    path = str(tmp_path / "inc")
    incremental_append(
        spark.createDataFrame([Row(k=i, v=i) for i in range(5)]), path, "k"
    )
    # hand-craft the torn state: half of batch2 written straight in,
    # as if the crash hit after some renames
    torn = spark.createDataFrame([Row(k=i, v=i) for i in range(5, 8)])
    torn.write.mode("append").parquet(path)

    batch2 = spark.createDataFrame([Row(k=i, v=i) for i in range(5, 15)])
    assert incremental_append(batch2, path, "k") == 7  # 8..14 only
    got = sorted(r.k for r in spark.read.parquet(path).collect())
    assert got == list(range(15))


def test_incremental_append_prunes_probe_scan(spark, tmp_path):
    """The anti-join probe must carry the batch's key range as pushed
    parquet filters — at 100 TB that means footer-stats pruning instead
    of a full key-column scan per micro-batch."""
    from dataflowex_spark.sources import _incremental_plan, incremental_append
    from dataflowex_spark.plans import formatted_plan

    path = str(tmp_path / "inc")
    base = spark.createDataFrame([Row(k=i, v=i) for i in range(1000)])
    incremental_append(base, path, "k")
    batch = spark.createDataFrame([Row(k=i, v=i) for i in range(990, 1010)])
    plan = formatted_plan(_incremental_plan(batch, path, "k"))
    assert "GreaterThanOrEqual(k,990)" in plan, plan
    assert "LessThanOrEqual(k,1009)" in plan, plan
    # pruning must not change the idempotency contract
    assert incremental_append(batch, path, "k") == 10
    assert incremental_append(batch, path, "k") == 0
    assert spark.read.parquet(path).count() == 1010


def test_compact_refuses_partitioned_layout(spark, tmp_path):
    path = str(tmp_path / "parted")
    spark.range(0, 100).withColumn("p", F.col("id") % 2).write.partitionBy(
        "p"
    ).parquet(path)
    from dataflowex_spark.sources import compact

    with pytest.raises(ValueError, match="partitioned"):
        compact(spark, path, target_files=1)


def test_incremental_append_dedupes_within_batch(spark, tmp_path):
    from dataflowex_spark.sources import incremental_append

    path = str(tmp_path / "incdup")
    batch = spark.createDataFrame(
        [Row(k=1, v=10), Row(k=1, v=11), Row(k=2, v=20)]
    )
    assert incremental_append(batch, path, "k") == 2
    assert spark.read.parquet(path).select("k").distinct().count() == 2


def test_salted_agg_rejects_non_decomposable(spark):
    from dataflowex_spark.operators.skew import salted_agg
    import pyspark.sql.functions as SF

    df = spark.createDataFrame([Row(k="a", v=1.0)])
    with pytest.raises(ValueError, match="salted_agg only supports"):
        salted_agg(df, ["k"], {"m": SF.avg("v")}).collect()


def test_salted_agg_rejects_distinct(spark):
    """sum_distinct prints as 'sum(v)' — the old string-prefix guard
    let it through and silently double-counted across salts."""
    from dataflowex_spark.operators.skew import salted_agg
    import pyspark.sql.functions as SF

    df = spark.createDataFrame(
        [Row(k="a", v=1.0)] * 5 + [Row(k="a", v=2.0)] * 5
    )
    with pytest.raises(ValueError, match="DISTINCT"):
        salted_agg(df, ["k"], {"m": SF.sum_distinct(SF.col("v"))}).collect()
    with pytest.raises(ValueError, match="DISTINCT"):
        salted_agg(df, ["k"], {"m": SF.count_distinct(SF.col("v"))}).collect()


def test_salted_agg_explicit_combiner(spark):
    from dataflowex_spark.operators.skew import salted_agg
    import pyspark.sql.functions as SF

    df = spark.createDataFrame(
        [Row(k="hot", v=float(i)) for i in range(100)]
        + [Row(k="cold", v=5.0)]
    )
    out = salted_agg(
        df,
        ["k"],
        {
            "total": (SF.sum("v"), "sum"),
            "mn": (SF.min("v"), "min"),
            # callable combiner: recombine per-salt maxes by max
            "mx": (SF.max("v"), lambda c: SF.max(c)),
        },
        n_salts=8,
    )
    got = {r.k: (r.total, r.mn, r.mx) for r in out.collect()}
    assert got["hot"] == (float(sum(range(100))), 0.0, 99.0)
    assert got["cold"] == (5.0, 5.0, 5.0)
    with pytest.raises(ValueError, match="unknown combiner"):
        salted_agg(df, ["k"], {"m": (SF.sum("v"), "avg")}).collect()


def test_compact_recovers_from_stale_dirs(spark, tmp_path):
    """Leftovers of a crashed compact must not wedge the table."""
    import os
    from dataflowex_spark.sources import compact

    path = str(tmp_path / "tbl")
    spark.range(0, 1000).repartition(8).write.parquet(path)
    # simulate a crash that left both stale dirs behind
    os.makedirs(path + ".__compact_tmp")
    spark.range(0, 5).write.parquet(path + ".__compact_old")
    n = compact(spark, path, target_files=2)
    assert n <= 3
    assert spark.read.parquet(path).count() == 1000
    assert not os.path.isdir(path + ".__compact_old")


def test_orc_and_text_roundtrip(spark, tmp_path):
    from dataflowex_spark.sources import read_orc, read_text, write_batch

    df = spark.createDataFrame([Row(k=i, v=f"row{i}") for i in range(100)])
    orc_path = str(tmp_path / "t.orc")
    write_batch(df, orc_path, fmt="orc")
    back = read_orc(spark, orc_path)
    assert sorted((r.k, r.v) for r in back.collect()) == sorted(
        (r.k, r.v) for r in df.collect()
    )
    # ORC gets pushed filters like parquet (columnar footer stats)
    plan = back.filter(F.col("k") > 90)._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "GreaterThan(k,90)" in plan

    txt_path = str(tmp_path / "lines")
    df.select(F.col("v")).write.mode("overwrite").text(txt_path)
    lines = read_text(spark, txt_path)
    assert lines.count() == 100 and lines.columns == ["value"]


def _ref_morton(x: int, y: int, bits: int) -> int:
    out = 0
    for i in range(bits):
        out |= ((x >> i) & 1) << (2 * i + 1)
        out |= ((y >> i) & 1) << (2 * i)
    return out


def test_zorder_key_matches_reference(spark):
    from dataflowex_spark.sources import zorder_key

    pts = [(x, y) for x in range(8) for y in range(8)]
    df = spark.createDataFrame(pts, "x int, y int")
    got = {
        (r.x, r.y): r.z
        for r in df.select(
            "x", "y", zorder_key([F.col("x"), F.col("y")], bits=3).alias("z")
        ).collect()
    }
    for x, y in pts:
        assert got[(x, y)] == _ref_morton(x, y, 3), (x, y)


def test_write_zordered_clusters_every_dimension(spark, tmp_path):
    """Z-order layout: per-file value ranges shrink on BOTH cluster
    columns (a 1-D sort only tightens the leading one)."""
    import glob

    from dataflowex_spark.sources import write_zordered

    pts = [(x, y) for x in range(64) for y in range(64)]
    df = spark.createDataFrame(pts, "x int, y int")
    out = str(tmp_path / "zordered")
    write_zordered(df, out, ["x", "y"], bits=6, n_files=16)

    spans = {"x": [], "y": []}
    files = glob.glob(out + "/part-*.parquet")
    assert len(files) >= 8
    for f in files:
        part = spark.read.parquet(f)
        s = part.agg(
            F.min("x"), F.max("x"), F.min("y"), F.max("y")
        ).first()
        spans["x"].append(s[1] - s[0])
        spans["y"].append(s[3] - s[2])
    for c in ("x", "y"):
        avg_span = sum(spans[c]) / len(spans[c])
        assert avg_span < 0.8 * 63, (c, avg_span)


def test_scd2_history_collapses_runs(spark):
    from datetime import datetime as dt

    from dataflowex_spark.operators.etl import scd2_history

    log = spark.createDataFrame(
        [
            ("u1", dt(2024, 1, 1), "gold", 1),
            ("u1", dt(2024, 1, 2), "gold", 2),    # same state: no new row
            ("u1", dt(2024, 1, 5), "silver", 3),
            ("u1", dt(2024, 1, 9), "gold", 4),    # back to gold: NEW island
            ("u2", dt(2024, 3, 1), "gold", 5),
        ],
        "k string, ts timestamp_ntz, state string, eid long",
    )
    hist = scd2_history(log, "k", "ts", "state", tie_col="eid").orderBy(
        "k", "valid_from"
    )
    rows = [
        (r["k"], r["state"], r["valid_from"].day,
         r["valid_to"].day if r["valid_to"] else None, r["n_events"])
        for r in hist.collect()
    ]
    assert rows == [
        ("u1", "gold", 1, 5, 2),
        ("u1", "silver", 5, 9, 1),
        ("u1", "gold", 9, None, 1),
        ("u2", "gold", 1, None, 1),
    ]


def test_cdc_merge_upsert_delete_insert(spark):
    from datetime import datetime as dt

    from dataflowex_spark.operators.etl import cdc_merge

    snap = spark.createDataFrame(
        [(1, 10.0, "a"), (2, 20.0, "b"), (3, 30.0, "c")],
        "key long, bal double, tag string",
    )
    changes = spark.createDataFrame(
        [
            (1, dt(2024, 1, 1), 1, "U", 11.0),   # stale update ...
            (1, dt(2024, 1, 2), 2, "U", 12.0),   # ... latest wins
            (2, dt(2024, 1, 1), 3, "D", None),   # delete
            (4, dt(2024, 1, 1), 4, "U", 40.0),   # insert (new key)
            (5, dt(2024, 1, 1), 5, "D", None),   # delete of absent key: no-op
        ],
        "key long, ts timestamp_ntz, eid long, op string, bal double",
    )
    out = cdc_merge(snap, changes, "key", "ts", "op", "eid", ["bal"])
    got = {r["key"]: (r["bal"], r["tag"]) for r in out.collect()}
    assert got == {
        1: (12.0, "a"),      # updated, non-value col preserved
        3: (30.0, "c"),      # untouched passthrough
        4: (40.0, None),     # inserted
    }

    # same-key delete-then-update ordering: latest op decides
    changes2 = spark.createDataFrame(
        [(3, dt(2024, 1, 1), 1, "U", 99.0), (3, dt(2024, 1, 2), 2, "D", None)],
        "key long, ts timestamp_ntz, eid long, op string, bal double",
    )
    out2 = cdc_merge(snap, changes2, "key", "ts", "op", "eid", ["bal"])
    assert sorted(r["key"] for r in out2.collect()) == [1, 2]


def test_snapshot_diff_row_level(spark):
    from dataflowex_spark.operators.etl import snapshot_diff

    old = spark.createDataFrame(
        [(1, 10.0, "a"), (2, None, "b"), (3, 30.0, "c"), (4, 40.0, "d")],
        "k long, v double, t string",
    )
    new = spark.createDataFrame(
        [(1, 10.0, "a"), (2, 20.0, "b"), (3, 30.0, "X"), (5, 50.0, "e")],
        "k long, v double, t string",
    )
    got = {r["k"]: r["status"] for r in snapshot_diff(old, new, ["k"]).collect()}
    assert got == {
        1: "unchanged",
        2: "changed",   # NULL → value is a change (null-safe compare)
        3: "changed",   # second compare column differs
        4: "removed",
        5: "added",
    }
    # restricting compare columns changes the verdict
    got_v = {
        r["k"]: r["status"]
        for r in snapshot_diff(old, new, ["k"], compare_cols=["v"]).collect()
    }
    assert got_v[3] == "unchanged"


def test_write_time_partitioned_prunes(spark, sf_dir, tmp_path):
    """Date filters on a time-partitioned table must prune at plan
    time: the scan's partition filters carry the predicate, and the
    matched file count covers only the selected days."""
    from dataflowex_spark.catalog import Catalog
    from dataflowex_spark.sources import write_time_partitioned

    events = Catalog(spark, sf_dir)["events"]
    path = str(tmp_path / "events_by_day")
    write_time_partitioned(events, path, "ts", unit="day")

    table = spark.read.parquet(path)
    one_day = table.filter(F.col("part_date") == "2024-01-05")
    plan = one_day._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "part_date" in plan.split(
        "PartitionFilters"
    )[1].split("]")[0]
    # correctness: partitioned round-trip preserves every row
    assert table.count() == events.count()
    got = one_day.count()
    want = events.filter(
        F.date_trunc("DAY", "ts").cast("date") == F.lit("2024-01-05").cast("date")
    ).count()
    assert got == want and got > 0


def test_merge_aggregate_equals_single_pass(spark):
    """Folding N batches through partial_aggregate + merge_aggregate
    equals the one-shot aggregate, regardless of batch split — the
    decomposable-aggregate contract, in DECIMAL so float order can't
    blur the comparison."""
    import random

    from dataflowex_spark.operators.etl import merge_aggregate, partial_aggregate

    rng = random.Random(23)
    rows = [
        Row(k=rng.randint(1, 5), v=rng.randint(-100, 100))
        for _ in range(300)
    ]
    df = spark.createDataFrame(rows).withColumn(
        "v", F.col("v").cast("decimal(18,2)")
    )
    spec = {"v": ["sum", "count", "min", "max"]}
    want = sorted(
        (r.k, float(r.v_sum), r.v_count, float(r.v_min), float(r.v_max))
        for r in partial_aggregate(df, ["k"], spec).collect()
    )
    for n_batches in (1, 3, 7):
        state = None
        for i in range(n_batches):
            batch = df.filter(F.crc32(F.concat_ws("|", "k", "v")) % n_batches == i)
            state = merge_aggregate(
                state, partial_aggregate(batch, ["k"], spec), ["k"], spec
            )
        got = sorted(
            (r.k, float(r.v_sum), r.v_count, float(r.v_min), float(r.v_max))
            for r in state.collect()
        )
        assert got == want, n_batches


def test_merge_aggregate_rejects_non_mergeable(spark):
    from dataflowex_spark.operators.etl import partial_aggregate

    df = spark.createDataFrame([Row(k=1, v=1)])
    with pytest.raises(ValueError, match="not re-mergeable"):
        partial_aggregate(df, ["k"], {"v": ["avg"]})


def test_distinct_sketch_merge_equals_single_pass(spark):
    """HLL sketch union across batches estimates exactly what the
    single-pass sketch estimates, and lands within 5% of truth."""
    import random

    from dataflowex_spark.operators.etl import (
        distinct_sketch,
        merge_distinct_sketch,
    )

    rng = random.Random(31)
    rows = [
        Row(k=rng.randint(1, 3), u=rng.randint(1, 2000)) for _ in range(6000)
    ]
    df = spark.createDataFrame(rows)
    single = {
        r.k: r.est
        for r in distinct_sketch(df, ["k"], "u")
        .select("k", F.hll_sketch_estimate("u_hll").alias("est"))
        .collect()
    }
    state = None
    for i in range(3):
        batch = df.filter(F.col("u") % 3 == i)
        state = merge_distinct_sketch(
            state, distinct_sketch(batch, ["k"], "u"), ["k"], "u"
        )
    merged = {
        r.k: r.est
        for r in state.select(
            "k", F.hll_sketch_estimate("u_hll").alias("est")
        ).collect()
    }
    assert merged == single  # sketch union is lossless over sketches
    truth = {
        r.k: r.n
        for r in df.groupBy("k").agg(F.countDistinct("u").alias("n")).collect()
    }
    for k, est in merged.items():
        assert abs(est - truth[k]) / truth[k] < 0.05, (k, est, truth[k])


def test_pit_join_interval_and_gap_semantics(spark):
    """pit_join returns the interval containing the fact ts, NULLs a
    fact that falls in a history gap (no stale inheritance), resolves
    zero-length intervals to the successor, and keeps output == facts."""
    from dataflowex_spark.operators.etl import pit_join

    hist = spark.createDataFrame(
        [
            Row(k=1, attr="A", valid_from=10, valid_to=20),
            # gap 20..30
            Row(k=1, attr="B", valid_from=30, valid_to=40),
            # zero-length interval at 40, real successor also starts at 40
            Row(k=1, attr="Z", valid_from=40, valid_to=40),
            Row(k=1, attr="C", valid_from=40, valid_to=None),
        ]
    )
    facts = spark.createDataFrame(
        [Row(k=1, ts=t, fid=i) for i, t in enumerate([5, 15, 25, 35, 40, 99])]
    )
    out = pit_join(facts, hist, key="k", fact_ts="ts")
    got = {r.fid: r.attr_dim for r in out.collect()}
    assert got == {0: None, 1: "A", 2: None, 3: "B", 4: "C", 5: "C"}
    assert out.count() == facts.count()


def test_atomic_append_mid_commit_failure_keeps_staging(spark, tmp_path):
    """Regression (ADVICE r3): a failure DURING the rename loop must
    leave the staging dir in place — it holds the only copy of the
    batch's not-yet-renamed remainder — while a pre-commit failure
    still cleans up after itself (covered by the crash test above)."""
    import os

    from dataflowex_spark.sources import atomic_append, clean_staging

    path = str(tmp_path / "tbl")
    atomic_append(
        spark.createDataFrame([Row(k=i) for i in range(5)]).coalesce(1), path
    )

    def collide(staging_dir):
        # pre-create every staged part name at the destination so the
        # FileSystem.rename returns false mid-commit
        for f in os.listdir(staging_dir):
            if f.startswith("part-"):
                open(os.path.join(path, f), "w").close()

    batch = spark.createDataFrame([Row(k=i) for i in range(5, 10)]).coalesce(1)
    with pytest.raises(IOError):
        atomic_append(batch, path, on_staged=collide)
    # the staging dir survived the torn commit for inspection/retry
    assert clean_staging(spark, path) == 1


def test_dim_join_insert_missing_auto_switch(spark, tmp_path):
    """dense='auto' (the default) picks the gap-free single-window
    path for small miss sets and the parallel zipWithIndex path once
    the miss count crosses dense_threshold — a million-key backfill
    must never funnel through one reducer."""
    dim = spark.createDataFrame([Row(k=0, sk=1)])
    small_fact = spark.createDataFrame([Row(k=i) for i in range(4)])
    _, updated, inserted = dim_join_insert_missing(
        small_fact, dim, key="k", dense_threshold=100
    )
    # dense ids: contiguous from max(sk)+1
    assert sorted(r.sk for r in inserted.collect()) == [2, 3, 4]

    big_fact = spark.range(0, 500).withColumnRenamed("id", "k")
    _, updated2, inserted2 = dim_join_insert_missing(
        big_fact, dim, key="k", dense_threshold=100
    )
    got = inserted2.collect()
    assert len(got) == 499  # k=0 already present
    sks = [r.sk for r in got]
    assert len(set(sks)) == len(sks) and min(sks) >= 2  # unique, > max
    # key→sk assignment is deterministic across runs
    again = dim_join_insert_missing(
        big_fact, dim, key="k", dense_threshold=100
    )[2].collect()
    assert sorted((r.k, r.sk) for r in got) == sorted(
        (r.k, r.sk) for r in again
    )


def test_dim_join_persistent_crash_converges(spark, tmp_path):
    """Persistent dim-join full cycle: a crash between probe and
    publish leaves the on-disk dim untouched; the rerun assigns the
    same keys again and converges — one surrogate per key, ever."""
    from dataflowex_spark.operators.etl import (
        dim_join_insert_missing_persistent,
    )

    dim_path = str(tmp_path / "dim")
    fact1 = spark.createDataFrame([Row(k=i, v=i * 10) for i in range(5)])
    out1 = dim_join_insert_missing_persistent(fact1, dim_path, key="k")
    assert out1.count() == 5
    assert spark.read.parquet(dim_path).count() == 5

    class Boom(RuntimeError):
        pass

    def crash(staging_dir):
        raise Boom("injected")

    fact2 = spark.createDataFrame([Row(k=i, v=i * 10) for i in range(3, 9)])
    with pytest.raises(Boom):
        dim_join_insert_missing_persistent(
            fact2, dim_path, key="k", on_staged=crash
        )
    assert spark.read.parquet(dim_path).count() == 5  # nothing published

    out2 = dim_join_insert_missing_persistent(fact2, dim_path, key="k")
    dim_rows = spark.read.parquet(dim_path).collect()
    assert sorted(r.k for r in dim_rows) == list(range(9))
    sks = [r.sk for r in dim_rows]
    assert len(set(sks)) == 9  # unique surrogates across the crash
    # enriched fact carries the on-disk surrogate for every row
    got = {(r.k, r.sk) for r in out2.select("k", "sk").collect()}
    want = {(r.k, r.sk) for r in dim_rows if 3 <= r.k <= 8}
    assert got == want
    # clean rerun appends nothing
    dim_join_insert_missing_persistent(fact2, dim_path, key="k")
    assert spark.read.parquet(dim_path).count() == 9


def test_manifest_parquet_datasource_reads_exact_file_set(spark, sf_dir, tmp_path):
    """The Python DataSource reads EXACTLY the manifest's files (a
    file added to the directory after the manifest was cut is
    invisible), partitions one-per-file, and round-trips values."""
    import glob
    import os

    import pyspark.sql.functions as F

    from dataflowex_spark.sources.manifest_ds import (
        ManifestParquetDataSource,
        write_manifest,
    )

    src = spark.read.parquet(f"{sf_dir}/nation.parquet")
    d = str(tmp_path / "tbl")
    src.repartition(3).write.parquet(d)
    files = sorted(glob.glob(d + "/part-*.parquet"))
    assert len(files) == 3

    # cut a manifest over the first two files only
    manifest = str(tmp_path / "v1.manifest")
    write_manifest(files[:2], manifest)

    spark.dataSource.register(ManifestParquetDataSource)
    got = spark.read.format("manifest_parquet").load(manifest)
    assert got.schema == spark.read.parquet(d).schema

    expected = (
        spark.read.parquet(files[0])
        .unionByName(spark.read.parquet(files[1]))
        .count()
    )
    assert got.count() == expected
    # the third file exists in the directory but NOT in the snapshot
    assert got.count() < src.count()
    # partition parallelism = manifest length
    assert got.rdd.getNumPartitions() == 2
    # values round-trip through the Arrow batches
    a = {tuple(r) for r in got.collect()}
    b = {
        tuple(r)
        for r in spark.read.parquet(files[0])
        .unionByName(spark.read.parquet(files[1]))
        .collect()
    }
    assert a == b


def test_mtable_merge_prune_timetravel_vacuum(spark, tmp_path):
    """MTable end-to-end: (1) MERGE applies cdc_merge semantics and
    the new version rewrites ONLY key-range-affected files — every
    other file is carried into the new manifest BY REFERENCE (same
    path strings); (2) the old version stays readable (time travel);
    (3) a concurrent commit raises MTableConflict instead of
    clobbering; (4) vacuum deletes exactly the unreferenced files and
    keeps the current version readable."""
    import pytest as _pytest

    from dataflowex_spark.sources.mtable import MTable, MTableConflict

    # 1000 keys range-partitioned into 8 files -> tight per-file ranges
    base = (
        spark.range(1000)
        .select(
            F.col("id").alias("k"),
            (F.col("id") * 10).alias("v"),
            F.lit("base").alias("tag"),
        )
        .repartitionByRange(8, "k")
    )
    t = MTable.create(spark, str(tmp_path / "t"), base, "k")
    m1 = t.manifest()
    assert m1["version"] == 1 and len(m1["files"]) == 8

    # changes touch keys 0..49 (one or two files) + insert 5000 + delete 7
    changes = spark.createDataFrame(
        [(k, 1, "U", 0, -k) for k in range(50)]
        + [(5000, 1, "I", 0, 999), (7, 2, "D", 0, 0)],
        "k long, ts long, op string, tie long, v long",
    )
    affected = {e["path"] for e in t.affected_files(changes)}
    v2 = t.merge(changes, "ts", "op", "tie", ["v"])
    assert v2 == 2

    m2 = t.manifest()
    carried = {e["path"] for e in m1["files"]} & {
        e["path"] for e in m2["files"]
    }
    # pruning: exactly the non-affected files carried by reference
    assert carried == {e["path"] for e in m1["files"]} - affected
    assert 0 < len(affected) < len(m1["files"])

    # merge semantics (delete wins for key 7 - its ts=2 is latest)
    got = {r["k"]: (r["v"], r["tag"]) for r in t.read().collect()}
    assert 7 not in got
    assert got[3] == (-3, "base")          # updated, non-value col kept
    assert got[500] == (5000, "base")      # untouched row intact
    assert got[5000] == (999, None)        # insert: no base attrs
    assert len(got) == 1000 - 1 + 1

    # time travel: v1 unchanged
    old = {r["k"]: r["v"] for r in t.read(version=1).collect()}
    assert old[3] == 30 and 5000 not in old and old[7] == 70

    # optimistic concurrency: commit against a stale parent conflicts
    with _pytest.raises(MTableConflict):
        t._commit(m2["files"], "k", parent=1)

    # vacuum: v1-only files deleted, current still reads
    deleted = t.vacuum(keep_last=1)
    assert set(deleted) == affected  # the rewritten originals
    assert t.versions() == [2]
    assert t.read().count() == 1000
    with _pytest.raises(FileNotFoundError):
        t.manifest(version=1)


def test_mtable_compact_small_files(spark, tmp_path):
    """Compaction: many small files (the residue of per-batch MERGE
    commits) collapse into ~target-sized range-partitioned files in
    one manifest commit; large files carry by reference; the row set
    is untouched; below min_files it's a no-op."""
    from dataflowex_spark.sources.mtable import MTable

    base = (
        spark.range(1000)
        .select(F.col("id").alias("k"), (F.col("id") + 7).alias("v"))
        .repartitionByRange(10, "k")  # 10 files of ~100 rows
    )
    t = MTable.create(spark, str(tmp_path / "t"), base, "k")
    m1 = t.manifest()
    assert len(m1["files"]) == 10

    v2 = t.compact(target_rows=600)  # every file is "small"
    assert v2 == 2
    m2 = t.manifest()
    assert len(m2["files"]) == 2  # 1000 rows / 600 -> 2 files
    got = sorted((r["k"], r["v"]) for r in t.read().collect())
    assert got == [(k, k + 7) for k in range(1000)]
    # compacted files have disjoint key ranges (pruning stays sharp)
    f0, f1 = sorted(m2["files"], key=lambda e: e["min_key"])
    assert f0["max_key"] < f1["min_key"]

    # now both files are >= 600 rows? (500 each) -> still small, but
    # min_files=3 makes it a no-op
    assert t.compact(target_rows=600, min_files=3) is None
    assert t.current_version() == 2


def test_mtable_read_where_prunes_files(spark, tmp_path):
    """read_where scans ONLY files whose manifest key range intersects
    the predicate (checked via input_file_name), applies the residual
    row predicate, and returns exactly the plain-filter result; an
    out-of-range read returns an empty frame with the right schema.
    history() summarizes the version chain."""
    from dataflowex_spark.sources.mtable import MTable

    base = (
        spark.range(1000)
        .select(F.col("id").alias("k"), (F.col("id") * 3).alias("v"))
        .repartitionByRange(10, "k")
    )
    t = MTable.create(spark, str(tmp_path / "t"), base, "k")

    out = t.read_where(250, 349)
    scanned = {
        r[0]
        for r in out.select(F.input_file_name()).distinct().collect()
    }
    assert len(scanned) <= 2  # 100-key slice spans at most 2 of 10 files
    got = sorted(r["k"] for r in out.collect())
    assert got == list(range(250, 350))

    empty = t.read_where(5000, 6000)
    assert empty.count() == 0 and empty.columns == ["k", "v"]

    h = t.history()
    assert h[-1]["version"] == 1 and h[-1]["rows"] == 1000
    assert h[-1]["n_files"] == 10


def test_mtable_merge_rejects_schema_widening(spark, tmp_path):
    """A merge whose value_cols add a NEW column is refused: only the
    rewritten files would carry it, giving the manifest a torn
    schema. overwrite() after an explicit withColumn is the evolution
    path, and a follow-up merge on the widened schema succeeds."""
    import pytest as _pytest

    from dataflowex_spark.sources.mtable import MTable

    base = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    t = MTable.create(spark, str(tmp_path / "t"), base, "k")
    ch = spark.createDataFrame(
        [(1, 1, "U", 0, 5, 9)],
        "k long, ts long, op string, tie long, v long, extra long",
    )
    with _pytest.raises(ValueError, match="add column"):
        t.merge(ch, "ts", "op", "tie", ["v", "extra"])

    # type-widening is refused too (int extra vs long changes)
    t.overwrite(t.read().withColumn("extra", F.lit(0)))
    with _pytest.raises(ValueError, match="type"):
        t.merge(ch, "ts", "op", "tie", ["v", "extra"])
    t.overwrite(t.read().withColumn("extra", F.col("extra").cast("long")))
    v = t.merge(ch, "ts", "op", "tie", ["v", "extra"])
    assert v == 4
    row = t.read().filter(F.col("k") == 1).collect()[0]
    assert (row["v"], row["extra"]) == (5, 9)
    assert t.read().filter(F.col("extra") == 0).count() == 99


def test_mtable_commit_race_and_vacuum_inflight_safety(spark, tmp_path):
    """r6 advice closures on MTable's concurrency story:

    (1) the version claim is the atomic os.link — a writer that
    passes the fast current_version()==parent check but finds its
    target manifest already claimed (the check-then-write race
    window) gets MTableConflict, never a silent overwrite, and the
    first committer's manifest is untouched;
    (2) vacuum deletes ONLY dropped-manifest references — a fresh
    in-flight data file (concurrent uncommitted merge) survives the
    default sweep, is kept by delete_orphans while younger than the
    retention age, and is reclaimed once old enough."""
    import json as _json
    import os as _os

    import pytest as _pytest

    from dataflowex_spark.sources.mtable import MTable, MTableConflict

    df = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    t = MTable.create(spark, str(tmp_path / "t"), df, "k")
    v2 = t.overwrite(df)
    assert v2 == 2

    # (1) simulate the loser of a commit race: v3 already claimed by
    # "another writer" after our fast parent check would have passed
    winner = dict(t.manifest(2))
    winner["version"] = 3
    winner["parent"] = 2
    mpath = _os.path.join(t._vdir(), "3.manifest.json")
    with open(mpath, "w") as f:
        f.write(_json.dumps(winner))
    with _pytest.raises(MTableConflict, match="already committed v3"):
        t._commit(t.manifest(2)["files"], "k", parent=2)
    with open(mpath) as f:
        assert _json.load(f)["parent"] == 2  # winner's file untouched
    # r6 roll-forward: the winner's complete-but-unpointed commit was
    # advanced (a claim-then-crash writer can no longer wedge the
    # table), so the conflict left the table at v3
    assert t.current_version() == 3
    # no temp-file litter from the failed commit
    assert not [
        n for n in _os.listdir(t._vdir()) if n.startswith(".mtable_")
    ]

    # (2) an in-flight (never-committed) data file
    inflight_dir = _os.path.join(str(tmp_path / "t"), "data", "job-inflight")
    _os.makedirs(inflight_dir)
    inflight = _os.path.join(inflight_dir, "part-00000.parquet")
    with open(inflight, "wb") as f:
        f.write(b"PAR1stub")
    deleted = t.vacuum(keep_last=1)
    # v1's files (dropped manifest, unreferenced by v2) went; the
    # in-flight file did not, despite being unreferenced
    assert deleted and inflight not in deleted
    assert _os.path.exists(inflight)
    # orphan sweep honors the minimum age...
    assert t.vacuum(keep_last=1, delete_orphans=True) == []
    assert _os.path.exists(inflight)
    # ...and reclaims past it
    gone = t.vacuum(keep_last=1, delete_orphans=True, orphan_min_age_s=0.0)
    assert gone == [inflight]
    assert t.read().count() == 100


def test_mtable_2d_stats_zorder_and_changefeed(spark, tmp_path):
    """r6 verdict items 2b/3: (a) declared stats_cols are recorded
    per file and survive merge commits; (b) optimize_zorder makes a
    BETWEEN x BETWEEN conjunction prune files on BOTH dimensions
    (files opened < total, and strictly fewer than either single
    dimension alone); (c) read_changes computes the net key-level
    changefeed from the manifest diff — inserts/updates/deletes
    classified, carried-forward rows never read, rewrite-noise rows
    (unchanged neighbors in rewritten files) dropped by the value
    compare, and compaction between the endpoints contributes no
    phantom changes."""
    from dataflowex_spark.sources.mtable import MTable

    df = spark.range(20_000).select(
        F.col("id").alias("k"),
        (F.col("id") % 365).alias("day"),
        (F.col("id") * 3).alias("v"),
    )
    t = MTable.create(
        spark,
        str(tmp_path / "t"),
        df.repartitionByRange(16, "k"),
        "k",
        stats_cols=["day"],
    )
    m1 = t.manifest()
    assert m1["stats_cols"] == ["day"]
    assert all("day" in e["col_stats"] for e in m1["files"])

    # (b) pre-zorder: day is uniform within every key-range file, so
    # a day predicate prunes nothing; post-zorder both dims prune
    assert len(t.prune_files(where={"day": (100, 120)})) == 16
    t.optimize_zorder(["day"], n_files=16)
    n_total = len(t.manifest()["files"])
    n_key = len(t.prune_files(lo=0, hi=4000))
    n_day = len(t.prune_files(where={"day": (100, 120)}))
    n_both = len(t.prune_files(lo=0, hi=4000, where={"day": (100, 120)}))
    assert n_key < n_total and n_day < n_total
    assert n_both < min(n_key, n_day) or n_both <= 2, (
        n_total, n_key, n_day, n_both,
    )
    got = t.read_where(0, 4000, where={"day": (100, 120)})
    want = df.filter(
        F.col("k").between(0, 4000) & F.col("day").between(100, 120)
    )
    assert sorted(tuple(r) for r in got.collect()) == sorted(
        tuple(r) for r in want.collect()
    )

    # (c) changefeed: merge touching few keys, then compaction churn
    v_before = t.current_version()
    chg = spark.createDataFrame(
        [(5, 1, "U", 0, 999), (3, 1, "U", 0, 9), (90_000, 1, "I", 0, 7),
         (17, 1, "D", 0, 0)],
        "k long, ts long, op string, tie long, v long",
    )
    t.merge(chg, "ts", "op", "tie", ["v"])
    t.compact(target_rows=50_000)  # rewrites everything small: churn
    feed = t.read_changes(v_before)
    rows = {r["k"]: (r["op"], r["v"]) for r in feed.collect()}
    # k=3's update sets v to 9 == 3*3, the PRE-EXISTING value: no net
    # change, must be absent despite the key being in the change-set
    assert rows == {
        5: ("U", 999),
        90_000: ("I", 7),
        17: ("D", 51),  # delete carries the pre-image
    }
    # the feed reads ONLY diffed files, never the carried majority
    m_from = {e["path"] for e in t.manifest(v_before)["files"]}
    m_to = {e["path"] for e in t.manifest()["files"]}
    touched = (m_from - m_to) | (m_to - m_from)
    from dataflowex_spark.sources.footer_stats import local_path

    read_files = {local_path(p) for p in feed.inputFiles()}
    assert read_files and read_files <= touched

    # span with no file changes -> empty feed, correct schema
    v_now = t.current_version()
    empty = t.read_changes(v_now, v_now)
    assert empty.columns[0] == "op" and empty.count() == 0


def test_mtable_schema_evolution_timetravel_ts_and_commit_backends(
    spark, tmp_path
):
    """Three r6 follow-ons on MTable:

    (1) METADATA-ONLY ADD COLUMN: add_column commits the same file
    list with an extended schema — no data file is touched; old rows
    null-fill through the explicit-schema read, a subsequent merge
    populates the column for touched keys only, and read_changes
    across the evolution reports the null->value updates;
    (2) TIMESTAMP time travel: version_as_of(t) resolves the version
    current at t, same retention as version travel;
    (3) the commit protocol is PLUGGABLE: the ConditionalPutCommitBackend
    (object-store primitives — put-if-absent + put, no renames) runs
    the same create/merge/conflict lifecycle, and the version-claim
    race still raises MTableConflict."""
    import time as _time

    import pytest as _pytest

    from dataflowex_spark.sources.mtable import (
        ConditionalPutCommitBackend,
        MTable,
        MTableConflict,
    )

    df = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    t = MTable.create(
        spark, str(tmp_path / "t"), df.repartitionByRange(4, "k"), "k"
    )
    t0 = _time.time()

    # (1) metadata-only evolution
    files_before = [e["path"] for e in t.manifest()["files"]]
    v2 = t.add_column("score", "double")
    assert [e["path"] for e in t.manifest()["files"]] == files_before
    got = t.read()
    assert got.schema["score"].dataType.simpleString() == "double"
    assert got.filter(F.col("score").isNotNull()).count() == 0

    chg = spark.createDataFrame(
        [(5, 1, "U", 0, 0.9), (7, 1, "U", 0, 0.1)],
        "k long, ts long, op string, tie long, score double",
    )
    v3 = t.merge(chg, "ts", "op", "tie", ["score"])
    rows = {r["k"]: (r["v"], r["score"]) for r in t.read().collect()}
    assert rows[5] == (10, 0.9) and rows[7] == (14, 0.1)
    assert rows[3] == (6, None)  # untouched rows: still null
    assert t.read().count() == 100
    feed = {
        r["k"]: (r["op"], r["score"])
        for r in t.read_changes(1, v3).collect()
    }
    assert feed == {5: ("U", 0.9), 7: ("U", 0.1)}
    # v1 still reads with its own (pre-evolution) schema
    assert "score" not in t.read(version=1).columns

    # (2) timestamp travel
    assert t.version_as_of(t0) == 1
    assert t.version_as_of(_time.time()) == v3
    with _pytest.raises(ValueError, match="no kept version"):
        t.version_as_of(t0 - 10_000)
    assert t.history()[0]["committed_at"] is not None

    # (3) object-store commit backend: full lifecycle + race
    be = ConditionalPutCommitBackend()
    t2 = MTable.create(
        spark,
        str(tmp_path / "t2"),
        df.repartitionByRange(4, "k"),
        "k",
        commit_backend=be,
    )
    t2.merge(
        spark.createDataFrame(
            [(1, 1, "U", 0, 99)],
            "k long, ts long, op string, tie long, v long",
        ),
        "ts", "op", "tie", ["v"],
    )
    assert {r["k"]: r["v"] for r in t2.read().collect()}[1] == 99
    # loser of the claim race: target version already exists
    import json as _json
    import os as _os

    m2 = dict(t2.manifest())
    m2["version"] = 3
    with open(_os.path.join(t2._vdir(), "3.manifest.json"), "w") as f:
        f.write(_json.dumps(m2))
    with _pytest.raises(MTableConflict, match="already committed v3"):
        t2._commit(t2.manifest()["files"], "k", parent=2)


def test_mtable_check_constraints_and_concurrent_merge_retry(
    spark, tmp_path
):
    """(1) CHECK constraints: declared as metadata, enforced on every
    merge/overwrite BEFORE commit — a violating change-set raises and
    NOTHING becomes visible (version unchanged, reads unchanged);
    NULL evaluates as unknown and passes (SQL CHECK semantics);
    add_check refuses when standing data already violates.
    (2) Concurrent writers: two threads merging DISJOINT key ranges
    through merge_retry — the loser of each commit race re-runs
    against the winner's manifest; both change-sets land, exactly
    once each."""
    import threading

    import pytest as _pytest

    from dataflowex_spark.sources.mtable import (
        MTable,
        MTableCheckViolation,
    )

    df = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") % 100).alias("v")
    )
    t = MTable.create(
        spark, str(tmp_path / "t"), df.repartitionByRange(8, "k"), "k"
    )
    t.add_check("v_bounded", "v BETWEEN 0 AND 999")
    assert t.manifest()["checks"] == {"v_bounded": "v BETWEEN 0 AND 999"}
    with _pytest.raises(ValueError, match="exists"):
        t.add_check("v_bounded", "v >= 0")
    with _pytest.raises(MTableCheckViolation, match="existing data"):
        t.add_check("v_small", "v < 50")

    def chg(rows):
        return spark.createDataFrame(
            rows, "k long, ts long, op string, tie long, v long"
        )

    v_before = t.current_version()
    with _pytest.raises(MTableCheckViolation, match="v_bounded"):
        t.merge(chg([(5, 1, "U", 0, 5000)]), "ts", "op", "tie", ["v"])
    assert t.current_version() == v_before  # nothing visible
    assert {r["k"]: r["v"] for r in t.read().collect()}[5] == 5
    # a NULL change value means "keep the base" (cdc_merge coalesce
    # semantics) and trips no check; a valid update applies
    t.merge(
        chg([(5, 2, "U", 0, None), (6, 2, "U", 0, 42)]),
        "ts", "op", "tie", ["v"],
    )
    got = {r["k"]: r["v"] for r in t.read().collect()}
    assert got[5] == 5 and got[6] == 42

    # (2) two racing writers, disjoint key ranges
    errs = []

    def writer(lo, val):
        try:
            t2 = MTable(spark, str(tmp_path / "t"))
            t2.merge_retry(
                chg([(k, 9, "U", 0, val) for k in range(lo, lo + 20)]),
                "ts", "op", "tie", ["v"],
            )
        except Exception as e:  # surfaced after join
            errs.append(e)

    a = threading.Thread(target=writer, args=(100, 111))
    b = threading.Thread(target=writer, args=(500, 222))
    a.start(); b.start(); a.join(); b.join()
    assert not errs, errs
    final = {r["k"]: r["v"] for r in t.read().collect()}
    assert all(final[k] == 111 for k in range(100, 120))
    assert all(final[k] == 222 for k in range(500, 520))
    assert t.read().count() == 1000


def test_mtable_model_based_random_ops(spark, tmp_path):
    """Model-based check of the storage layer: a seeded random
    sequence of merges (upserts + deletes), compactions, and an
    overwrite runs against BOTH the MTable and an in-memory dict
    model; after every op the table must read back exactly the model,
    and read_changes between random version pairs must equal the
    model snapshots' diff — the property that all the bookkeeping
    (manifests, carried files, rewrites, changefeed classification)
    composes over arbitrary histories."""
    import random

    from dataflowex_spark.sources.mtable import MTable

    rng = random.Random(20260814)
    model: dict[int, int] = {k: k * 3 for k in range(500)}
    df = spark.createDataFrame(
        [(k, v) for k, v in model.items()], "k long, v long"
    )
    t = MTable.create(
        spark, str(tmp_path / "t"), df.repartitionByRange(6, "k"), "k"
    )
    snapshots = {t.current_version(): dict(model)}

    def apply_merge():
        ups = {
            rng.randrange(0, 700): rng.randrange(0, 10_000)
            for _ in range(rng.randrange(1, 40))
        }
        dels = {
            rng.randrange(0, 700)
            for _ in range(rng.randrange(0, 10))
        } - set(ups)
        rows = [(k, 1, "U", 0, v) for k, v in ups.items()] + [
            (k, 2, "D", 0, 0) for k in dels
        ]
        chg = spark.createDataFrame(
            rows, "k long, ts long, op string, tie long, v long"
        )
        t.merge(chg, "ts", "op", "tie", ["v"])
        model.update(ups)
        for k in dels:
            model.pop(k, None)

    for i in range(8):
        op = rng.random()
        if op < 0.6:
            apply_merge()
        elif op < 0.8:
            t.compact(target_rows=200, min_files=2)
        else:
            # overwrite with the model itself, reshuffled
            t.overwrite(
                spark.createDataFrame(
                    sorted(model.items()), "k long, v long"
                ).repartitionByRange(4, "k")
            )
        snapshots[t.current_version()] = dict(model)
        got = {r["k"]: r["v"] for r in t.read().collect()}
        assert got == model, f"divergence after op {i}"

    versions = sorted(snapshots)
    for _ in range(4):
        a, b = sorted(rng.sample(versions, 2))
        sa, sb = snapshots[a], snapshots[b]
        want = {}
        for k in sb.keys() - sa.keys():
            want[k] = ("I", sb[k])
        for k in sa.keys() - sb.keys():
            want[k] = ("D", sa[k])
        for k in sa.keys() & sb.keys():
            if sa[k] != sb[k]:
                want[k] = ("U", sb[k])
        got = {
            r["k"]: (r["op"], r["v"])
            for r in t.read_changes(a, b).collect()
        }
        assert got == want, (a, b)


def test_mtable_temporal_prune_boundary_and_crash_recovery(
    spark, tmp_path
):
    """r6 self-review closures:

    (1) DATE-granularity file stats vs DATETIME bounds (and vice
    versa) must compare as TIME, not strings — the lexicographic
    form drops the boundary file ('2024-06-01' > '2024-06-01
    00:00:00' as strings) and silently loses rows;
    (2) a writer that crashed between its manifest claim and the
    _CURRENT swap must not wedge the table: the next committer rolls
    the complete orphan forward and merge_retry then lands;
    (3) a TORN manifest from a crashed non-atomic writer is
    quarantined and the version becomes claimable again;
    (4) versions()/history()/version_as_of never expose an
    unpointed claim as committed state."""
    import datetime as _dt
    import json as _json
    import os as _os

    from dataflowex_spark.sources.mtable import MTable

    # (1) DATE stats column, datetime bounds hitting the exact boundary
    df = spark.range(90).select(
        F.col("id").alias("k"),
        F.date_add(F.lit("2024-06-01").cast("date"), F.col("id").cast("int")).alias("d"),
        (F.col("id") * 2).alias("v"),
    )
    t = MTable.create(
        spark, str(tmp_path / "t"), df.repartitionByRange(9, "k"),
        "k", stats_cols=["d"],
    )
    lo, hi = _dt.datetime(2024, 6, 20), _dt.datetime(2024, 7, 10)
    got = t.read_where(where={"d": (lo, hi)})
    want = df.filter(F.col("d").between(F.lit(lo), F.lit(hi)))
    assert sorted(tuple(r) for r in got.collect()) == sorted(
        tuple(r) for r in want.collect()
    )
    assert want.count() > 0
    # and the date-typed bound form agrees too
    got2 = t.read_where(
        where={"d": (_dt.date(2024, 6, 20), _dt.date(2024, 7, 10))}
    )
    assert got2.count() == want.count()

    # (2) crashed-after-claim writer: complete v2 manifest, pointer
    # still at v1 -> next merge_retry rolls forward then lands as v3
    m1 = dict(t.manifest(1))
    orphan = dict(m1)
    orphan["version"] = 2
    orphan["parent"] = 1
    with open(_os.path.join(t._vdir(), "2.manifest.json"), "w") as f:
        f.write(_json.dumps(orphan))
    assert t.current_version() == 1
    # (4) the unpointed claim is not committed state
    assert t.committed_versions() == [1]
    assert all(h["version"] == 1 for h in t.history())
    chg = spark.createDataFrame(
        [(5, 1, "U", 0, 999)],
        "k long, ts long, op string, tie long, v long",
    )
    v = t.merge_retry(chg, "ts", "op", "tie", ["v"])
    assert v == 3 and t.current_version() == 3
    assert {r["k"]: r["v"] for r in t.read().collect()}[5] == 999

    # (3) torn manifest (invalid JSON) quarantines; version claimable
    with open(_os.path.join(t._vdir(), "4.manifest.json"), "w") as f:
        f.write('{"version": 4, "par')  # torn mid-write
    v = t.merge(chg, "ts", "op", "tie", ["v"])
    assert v == 4 and t.current_version() == 4
    assert t.manifest(4)["parent"] == 3  # OUR commit, not the junk


def test_mtable_restore(spark, tmp_path):
    """RESTORE re-commits an earlier version's state on TOP of the
    history: the bad merge stays auditable, the restored state reads
    exactly like the target version, files re-enter by reference
    (no rewrite), metadata (schema/checks) travels with the target,
    and only committed versions are restorable."""
    import pytest as _pytest

    from dataflowex_spark.sources.mtable import MTable

    df = spark.range(200).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    t = MTable.create(
        spark, str(tmp_path / "t"), df.repartitionByRange(4, "k"), "k"
    )
    good = sorted(tuple(r) for r in t.read().collect())
    bad = spark.createDataFrame(
        [(k, 1, "D", 0, 0) for k in range(0, 200, 2)],
        "k long, ts long, op string, tie long, v long",
    )
    t.merge(bad, "ts", "op", "tie", ["v"])  # v2: oops, deleted evens
    assert t.read().count() == 100
    v3 = t.restore(1)
    assert v3 == 3 and t.current_version() == 3
    assert sorted(tuple(r) for r in t.read().collect()) == good
    # audit trail intact; restored files are v1's, by reference
    assert t.committed_versions() == [1, 2, 3]
    assert {e["path"] for e in t.manifest(3)["files"]} == {
        e["path"] for e in t.manifest(1)["files"]
    }
    assert t.read(version=2).count() == 100  # the bad state still reads
    with _pytest.raises(ValueError, match="not committed"):
        t.restore(99)


def test_mtable_read_changes_both_images(spark, tmp_path):
    """images='both' emits pre+post per value column — the IVM form:
    U rows carry (pre, post), I rows (NULL, post), D rows (pre,
    NULL); a sum/count aggregate maintained as old + (post - pre)
    equals the direct recompute."""
    from dataflowex_spark.sources.mtable import MTable

    df = spark.range(100).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).cast("string").alias("g"),
        (F.col("id") * 10).alias("v"),
    )
    t = MTable.create(
        spark, str(tmp_path / "t"), df.repartitionByRange(4, "k"), "k"
    )
    chg = spark.createDataFrame(
        [(5, 1, "U", 0, 999), (300, 1, "I", 0, 7), (17, 1, "D", 0, 0)],
        "k long, ts long, op string, tie long, v long",
    )
    t.merge(chg, "ts", "op", "tie", ["v"])
    feed = {
        r["k"]: r for r in t.read_changes(1, 2, images="both").collect()
    }
    assert feed[5]["v__pre"] == 50 and feed[5]["v__post"] == 999
    assert feed[300]["v__pre"] is None and feed[300]["v__post"] == 7
    assert feed[17]["v__pre"] == 170 and feed[17]["v__post"] is None
    assert feed[5]["g__pre"] == feed[5]["g__post"] == "2"

    # maintained aggregate == direct recompute
    agg0 = {
        (r["g"],): (r["n"], r["s"])
        for r in t.read(version=1)
        .groupBy("g")
        .agg(F.count("*").alias("n"), F.sum("v").alias("s"))
        .collect()
    }
    for r in feed.values():
        g = r["g__pre"] if r["op"] == "D" else (
            r["g__post"] or r["g__pre"]
        )
        n, s = agg0.get((g,), (0, 0))
        if r["op"] == "D":
            agg0[(g,)] = (n - 1, s - r["v__pre"])
        elif r["op"] == "I":
            agg0[(g,)] = (n + 1, s + r["v__post"])
        else:
            agg0[(g,)] = (n, s + r["v__post"] - r["v__pre"])
    direct = {
        (r["g"],): (r["n"], r["s"])
        for r in t.read()
        .groupBy("g")
        .agg(F.count("*").alias("n"), F.sum("v").alias("s"))
        .collect()
    }
    assert {k: v for k, v in agg0.items() if v[0] > 0} == direct


def test_mtable_shallow_clone(spark, tmp_path):
    """clone(): zero-copy fork — the clone's v1 references the
    source's files verbatim; reads match exactly at clone time;
    post-clone merges are isolated both directions; cloning onto an
    existing table refuses."""
    import pytest
    from pyspark.sql import functions as F
    from dataflowex_spark.sources.mtable import MTable

    df = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    src = MTable.create(spark, str(tmp_path / "src"), df, "k")
    dup = src.clone(str(tmp_path / "fork"))

    src_files = {e["path"] for e in src.manifest()["files"]}
    dup_files = {e["path"] for e in dup.manifest()["files"]}
    assert dup_files == src_files  # zero bytes copied

    assert sorted(map(tuple, dup.read().collect())) == sorted(
        map(tuple, src.read().collect())
    )

    chg = spark.createDataFrame(
        [(5, 999, "U", 1, 1)], "k long, v long, op string, ts int, tie int"
    )
    dup.merge(chg, "ts", "op", "tie", ["v"])
    assert dup.read().where("k = 5").collect()[0]["v"] == 999
    assert src.read().where("k = 5").collect()[0]["v"] == 10  # isolated

    chg2 = spark.createDataFrame(
        [(7, 777, "U", 1, 1)], "k long, v long, op string, ts int, tie int"
    )
    src.merge(chg2, "ts", "op", "tie", ["v"])
    assert dup.read().where("k = 7").collect()[0]["v"] == 14  # isolated

    with pytest.raises(ValueError, match="already exists"):
        src.clone(str(tmp_path / "fork"))


def test_mtable_purge_audit_stages(spark, tmp_path):
    """The three purge stages q333 reports, pinned end-to-end:
    logically gone at current, readable via time travel before
    vacuum, unreadable at any version after vacuum (and the purged
    keys' files are physically deleted)."""
    import os
    import pytest
    from pyspark.sql import functions as F
    from dataflowex_spark.sources.mtable import MTable

    df = spark.range(200).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v")
    )
    import tempfile

    root = tempfile.mkdtemp(prefix="purge_t_", dir=tmp_path)
    t = MTable.create(spark, root + "/t", df.repartitionByRange(4, "k"), "k")
    v0 = t.current_version()
    chg = spark.createDataFrame(
        [(k, 0, "D", 1, 1) for k in range(0, 200, 25)],
        "k long, v long, op string, ts int, tie int",
    )
    t.merge(chg, "ts", "op", "tie", ["v"])

    assert t.read().where("k % 25 = 0").count() == 0  # logically gone
    assert t.read(v0).where("k % 25 = 0").count() == 8  # history intact

    deleted = t.vacuum(keep_last=1)
    assert v0 not in t.committed_versions()  # travel horizon moved
    assert all(not os.path.exists(p) for p in deleted)
    assert t.read().where("k % 25 = 0").count() == 0
    with pytest.raises(Exception):
        t.read(v0).collect()


def test_mtable_bloom_index_point_lookup_pruning(spark, tmp_path):
    """Per-file Bloom bitmaps prune EQUALITY probes on a column the
    layout does NOT cluster: (a) a present value scans strictly fewer
    files than the manifest lists while returning exactly the plain
    filter's rows (no false negatives, swept over many probes); (b)
    an absent value prunes everything and returns an empty frame;
    (c) blooms survive merge/compact/zorder commits (rewritten files
    get fresh bitmaps, carried files keep theirs); (d) range [v,v]
    stats compose: an eq probe on the KEY prunes by min/max even
    without a bloom on it."""
    from dataflowex_spark.sources.mtable import MTable

    base = (
        spark.range(4000)
        .select(
            F.col("id").alias("k"),
            F.pmod(F.xxhash64("id"), F.lit(499)).alias("pk"),
            (F.col("id") % 7).alias("grp"),
        )
        .repartitionByRange(8, "k")
    )
    t = MTable.create(
        spark, str(tmp_path / "t"), base, "k", bloom_cols=["pk"]
    )
    n_total = len(t.manifest()["files"])
    assert n_total == 8
    assert t.manifest()["bloom_cols"] == ["pk"]

    # (a) present probe: strictly pruned, exactly the filter's rows
    probe = base.select("pk").first()["pk"]
    assert len(t.prune_files(eq={"pk": probe})) < n_total
    want = sorted(
        r["k"] for r in base.filter(F.col("pk") == probe).collect()
    )
    got = sorted(
        r["k"] for r in t.read_where(eq={"pk": probe}).collect()
    )
    assert got == want and got
    # no-false-negative sweep
    vals = [
        r["pk"]
        for r in base.select("pk").distinct().limit(40).collect()
    ]
    for v in vals:
        assert (
            t.read_where(eq={"pk": v}).count()
            == base.filter(F.col("pk") == v).count()
        )

    # (b) absent probe: everything pruned, empty frame, right schema
    assert t.prune_files(eq={"pk": -987654}) == []
    empty = t.read_where(eq={"pk": -987654})
    assert empty.count() == 0 and empty.columns == ["k", "pk", "grp"]

    # (c) maintenance commits keep the index: merge a brand-new value
    ch = spark.createDataFrame(
        [(5, 1, "U", 0, 999999, 3)],
        "k long, ts long, op string, tie long, pk long, grp long",
    )
    t.merge(ch, "ts", "op", "tie", ["pk", "grp"])
    assert all("blooms" in e for e in t.manifest()["files"])
    assert len(t.prune_files(eq={"pk": 999999})) < len(
        t.manifest()["files"]
    )
    assert t.read_where(eq={"pk": 999999}).count() == 1
    t.optimize_zorder(["grp"])
    assert all("blooms" in e for e in t.manifest()["files"])
    assert t.read_where(eq={"pk": 999999}).count() == 1

    # (d) eq on the clustered KEY prunes via [min,max] composition
    assert len(t.prune_files(eq={"k": 5})) < len(t.manifest()["files"])
    assert t.read_where(eq={"k": 5}).count() == 1


def test_dynamic_partition_pruning_fires_on_dim_filter(spark, tmp_path):
    """The q352 shape's load-bearing property: with the selective
    filter on a DIM ATTRIBUTE (not the join column — nothing static
    reaches the fact side), the fact scan's PartitionFilters must
    contain a runtime `dynamicpruning` subquery, and the join result
    must equal the plain unpartitioned join. At 100 TB this is what
    keeps a star-schema query from scanning every fact partition."""
    base = spark.range(4000).select(
        F.col("id").alias("k"),
        F.concat(F.lit("m"), (F.col("id") % 12).cast("string")).alias("mo"),
        (F.col("id") * 3).alias("v"),
    )
    root = str(tmp_path / "fact")
    base.write.partitionBy("mo").parquet(root)
    fact = spark.read.parquet(root)
    dim = spark.createDataFrame(
        [("m" + str(m), "Q" + str(m // 3 + 1)) for m in range(12)],
        "mo string, quarter string",
    )
    j = fact.join(
        F.broadcast(dim.where(F.col("quarter") == "Q1")), "mo"
    ).groupBy("mo").agg(F.sum("v").alias("sv"))
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]
    got = {(r["mo"], r["sv"]) for r in j.collect()}
    want = {
        (r["mo"], r["sv"])
        for r in base.join(
            dim.where(F.col("quarter") == "Q1"), "mo"
        )
        .groupBy("mo")
        .agg(F.sum("v").alias("sv"))
        .collect()
    }
    assert got == want and len(got) == 3


def test_mtable_deletion_vectors(spark, tmp_path):
    """Merge-on-read deletes: (1) delete_where commits a DELETION
    VECTOR — every data file path carries forward unchanged (zero
    rewrite), entries record (dv, dv_rows), reads anti-join the
    positions; (2) a second delete MERGES positions into one new DV
    per file; (3) re-deleting already-deleted rows is a no-op (None,
    no commit); (4) time travel shows pre-delete rows; (5) the
    changefeed reports DV-only commits as D rows (entry-level diff);
    (6) a merge rewriting a DV'd file does NOT resurrect deleted rows
    and the rewritten entries are dv-free; (7) apply_deletion_vectors
    folds the debt: no dv entries remain, row set unchanged; (8) a
    file whose every row is deleted drops out of the manifest;
    (9) vacuum reclaims superseded DV sidecars but never a referenced
    one."""
    from dataflowex_spark.sources.mtable import MTable

    base = (
        spark.range(1000)
        .select(F.col("id").alias("k"), (F.col("id") * 10).alias("v"))
        .repartitionByRange(8, "k")
    )
    t = MTable.create(spark, str(tmp_path / "t"), base, "k")
    m1 = t.manifest()
    paths1 = [e["path"] for e in m1["files"]]

    # (1) DV delete: zero data files rewritten
    v2 = t.delete_where("k % 10 = 3")
    assert v2 == 2
    m2 = t.manifest()
    assert [e["path"] for e in m2["files"]] == paths1  # same files
    assert sum(e.get("dv_rows", 0) for e in m2["files"]) == 100
    assert all(e.get("dv") for e in m2["files"] if e.get("dv_rows"))
    got = {r["k"] for r in t.read().collect()}
    assert len(got) == 900 and 3 not in got and 993 not in got

    # (4) time travel: v1 still has them
    assert t.read(version=1).count() == 1000

    # (2) second delete merges DVs (one DV file per commit)
    v3 = t.delete_where("k % 10 = 4")
    assert v3 == 3
    m3 = t.manifest()
    dv_files3 = {e["dv"] for e in m3["files"] if e.get("dv")}
    assert len(dv_files3) == 1
    assert sum(e.get("dv_rows", 0) for e in m3["files"]) == 200
    got = {r["k"] for r in t.read().collect()}
    assert len(got) == 800 and 4 not in got and 13 not in got

    # (3) idempotence: all matching rows already dead -> no commit
    assert t.delete_where("k % 10 = 3") is None
    assert t.current_version() == 3

    # read_where still applies the DV on pruned reads
    sub = {r["k"] for r in t.read_where(lo=0, hi=99).collect()}
    assert sub == {k for k in range(100) if k % 10 not in (3, 4)}

    # (5) changefeed sees DV-only commits as deletes
    ch = t.read_changes(1, 3).collect()
    assert {r["op"] for r in ch} == {"D"}
    assert {r["k"] for r in ch} == {
        k for k in range(1000) if k % 10 in (3, 4)
    }

    # (6) merge on DV'd files does not resurrect deleted rows
    changes = spark.createDataFrame(
        [(5, 1, "U", 0, -50)], "k long, ts long, op string, tie long, v long"
    )
    v4 = t.merge(changes, "ts", "op", "tie", ["v"])
    m4 = t.manifest(v4)
    rewritten = [
        e for e in m4["files"] if e["path"] not in set(paths1)
    ]
    assert rewritten and all(not e.get("dv") for e in rewritten)
    got = {r["k"]: r["v"] for r in t.read().collect()}
    assert got[5] == -50 and 3 not in got and 4 not in got
    assert len(got) == 800

    # (7) fold the remaining DVs back into data files
    v5 = t.apply_deletion_vectors()
    assert v5 == 5
    m5 = t.manifest()
    assert all(not e.get("dv") for e in m5["files"])
    assert t.read().count() == 800
    assert t.apply_deletion_vectors() is None  # nothing left to fold

    # (8) fully-deleted file drops from the manifest (apply_deletion_
    # vectors' rewrite may overlap key ranges with kept files, so the
    # expected loss is computed from the live table, not the one file)
    first = min(m5["files"], key=lambda e: e["min_key"])
    n_cut = t.read().filter(f"k <= {first['max_key']}").count()
    v6 = t.delete_where(f"k <= {first['max_key']}")
    m6 = t.manifest(v6)
    assert first["path"] not in [e["path"] for e in m6["files"]]
    assert t.read().count() == 800 - n_cut

    # (9) vacuum: superseded DV sidecars (v2/v3's) are reclaimed with
    # their manifests; nothing the current version references is
    import os as _os

    deleted = t.vacuum(keep_last=1)
    for e in t.manifest()["files"]:
        assert _os.path.exists(e["path"])
        if e.get("dv"):
            assert _os.path.exists(e["dv"])
    assert any("dvjob-" in p for p in deleted)  # old DVs reclaimed
    assert t.read().count() == 800 - n_cut


def test_mtable_delete_where_guards(spark, tmp_path):
    """delete_where refuses to empty the table (overwrite() states
    that intent); a no-match predicate is None without a commit."""
    from dataflowex_spark.sources.mtable import MTable

    base = spark.range(10).select(
        F.col("id").alias("k"), F.col("id").alias("v")
    )
    t = MTable.create(spark, str(tmp_path / "t"), base, "k")
    assert t.delete_where("k > 1000") is None
    assert t.current_version() == 1
    with pytest.raises(ValueError, match="every row"):
        t.delete_where("k >= 0")


def test_mtable_compact_folds_dv_and_clone_carries_dv(spark, tmp_path):
    """(a) compact uses LIVE-row accounting (a heavily-deleted file
    is 'small' even when physically large) and its rewrite folds the
    deletion vectors in — no dv entries survive on rewritten files;
    (b) a shallow clone of a DV'd table reads the same live rows
    (the clone manifest carries the dv references); (c) history
    reports live rows and DV debt."""
    from dataflowex_spark.sources.mtable import MTable

    base = (
        spark.range(1000)
        .select(F.col("id").alias("k"), (F.col("id") * 3).alias("v"))
        .repartitionByRange(4, "k")
    )
    t = MTable.create(spark, str(tmp_path / "t"), base, "k")
    # kill 80% of the first file's range
    t.delete_where("k < 200")
    h = t.history()[-1]
    assert h["rows"] == 800 and h["dv_rows"] == 200  # (c)

    dest = t.clone(str(tmp_path / "c"))
    assert dest.read().count() == 800  # (b)
    assert {r["k"] for r in dest.read_where(lo=0, hi=299).collect()} == set(
        range(200, 300)
    )

    # (a) each file holds 250 physical rows; the first has 50 live —
    # target 200 makes ONLY the gutted file compactable
    v = t.compact(target_rows=200, min_files=1)
    assert v is not None
    m = t.manifest()
    assert all(not e.get("dv") for e in m["files"])
    assert t.read().count() == 800
    got = sorted(r["k"] for r in t.read().collect())
    assert got == list(range(200, 1000))


def test_mtable_delete_where_conflict_and_retry_converges(spark, tmp_path):
    """Optimistic concurrency for DV deletes: a delete_where whose
    parent went stale raises MTableConflict WITHOUT leaking its
    sidecar (the losing DV file is unlinked), and a plain re-run
    against the advanced version lands both deletes."""
    import os

    from dataflowex_spark.sources.mtable import MTable, MTableConflict

    base = (
        spark.range(400)
        .select(F.col("id").alias("k"), F.col("id").alias("v"))
        .repartitionByRange(4, "k")
    )
    t = MTable.create(spark, str(tmp_path / "t"), base, "k")

    # simulate the race: capture v1, let a competing delete commit,
    # then force the stale-parent commit path via _commit's check
    m1 = t.manifest()
    t.delete_where("k % 10 = 1")  # the competitor wins (v2)

    def dv_files():
        return {
            fn
            for _d, _s, files in os.walk(str(tmp_path / "t" / "data"))
            for fn in files
        }

    before = dv_files()
    with __import__("pytest").raises(MTableConflict):
        # stale-parent commit: exactly what a concurrent delete_where
        # that read m1 would attempt
        t._commit(m1["files"], m1["key_col"], parent=m1["version"])
    # the loser's retry: re-run against the CURRENT version
    assert t.delete_where("k % 10 = 2") == 3
    after = dv_files()
    assert before < after  # winner + retry DVs exist
    got = {r["k"] for r in t.read().collect()}
    assert got == {k for k in range(400) if k % 10 not in (1, 2)}


def test_mtable_equality_deletes(spark, tmp_path):
    """delete_keys: (a) ZERO data-file access at delete time — only
    range-affected entries gain an `eq` sidecar ref, no file is
    rewritten; (b) reads anti-join the key list (rows gone); (c) a
    key matching no file's range is a no-op (None); (d) stacked
    delete_keys commits accumulate sidecars; (e) merge re-inserting
    a deleted key rewrites the range-affected files, dropping their
    eq refs — the key comes back; (f) apply_deletion_vectors folds
    eq sidecars unconditionally; (g) changefeed reports eq commits
    as D rows; (h) vacuum keeps referenced sidecars."""
    from dataflowex_spark.sources.mtable import MTable

    base = (
        spark.range(1000)
        .select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
        .repartitionByRange(8, "k")
    )
    t = MTable.create(spark, str(tmp_path / "t"), base, "k")
    paths1 = [e["path"] for e in t.manifest()["files"]]

    # (a)+(b)
    v2 = t.delete_keys(spark.createDataFrame([(7,), (130,)], "k long"))
    assert v2 == 2
    m2 = t.manifest()
    assert [e["path"] for e in m2["files"]] == paths1
    marked = [e for e in m2["files"] if e.get("eq")]
    assert 0 < len(marked) < len(m2["files"])  # range-pruned marking
    got = {r["k"] for r in t.read().collect()}
    assert got == set(range(1000)) - {7, 130}

    # (c) out-of-range key: no commit
    assert t.delete_keys(spark.createDataFrame([(10**9,)], "k long")) is None

    # (d) stacking
    v3 = t.delete_keys(spark.createDataFrame([(8,)], "k long"))
    assert v3 == 3
    first = min(t.manifest()["files"], key=lambda e: e["min_key"])
    assert len(first.get("eq", [])) == 2
    assert t.read().count() == 997

    # (g) changefeed sees the eq deletes
    ch = t.read_changes(1, 3).collect()
    assert {r["op"] for r in ch} == {"D"}
    assert {r["k"] for r in ch} == {7, 8, 130}

    # (e) re-insert key 7 via merge
    ins = spark.createDataFrame(
        [(7, 1, "I", 0, 777)], "k long, ts long, op string, tie long, v long"
    )
    t.merge(ins, "ts", "op", "tie", ["v"])
    got = {r["k"]: r["v"] for r in t.read().collect()}
    assert got[7] == 777 and 8 not in got and 130 not in got

    # (f) fold: no eq/dv refs survive
    v5 = t.apply_deletion_vectors()
    assert v5 is not None
    assert all(
        not e.get("eq") and not e.get("dv")
        for e in t.manifest()["files"]
    )
    assert t.read().count() == 998  # 1000 - {8,130} + re-inserted 7

    # (h) vacuum: current version references no sidecars now; the
    # dropped versions' sidecars are reclaimed
    import os as _os

    deleted = t.vacuum(keep_last=1)
    assert any("eqjob-" in p for p in deleted)
    for e in t.manifest()["files"]:
        assert _os.path.exists(e["path"])
    assert t.read().count() == 998


def test_mtable_with_retry_delete_under_race(spark, tmp_path):
    """with_retry: a delete_where that loses the commit race once
    converges on retry against the winner's manifest — both deletes
    land, no sidecar leaks (the generalized merge_retry contract for
    deletes/maintenance)."""
    from dataflowex_spark.sources.mtable import MTable, MTableConflict

    base = (
        spark.range(300)
        .select(F.col("id").alias("k"), F.col("id").alias("v"))
        .repartitionByRange(2, "k")
    )
    t = MTable.create(spark, str(tmp_path / "t"), base, "k")

    raced = {"done": False}

    def racy_delete():
        # a competing writer lands between our snapshot and commit on
        # the FIRST attempt only
        if not raced["done"]:
            raced["done"] = True
            t.delete_where("k % 10 = 1")
            raise MTableConflict("simulated lost race")
        return t.delete_where("k % 10 = 2")

    v = t.with_retry(racy_delete)
    assert v == 3
    got = {r["k"] for r in t.read().collect()}
    assert got == {k for k in range(300) if k % 10 not in (1, 2)}

    with __import__("pytest").raises(MTableConflict, match="gave up"):
        t.with_retry(
            lambda: (_ for _ in ()).throw(MTableConflict("always")),
            max_attempts=2,
        )


def test_mtable_metadata_agg_guards(spark, tmp_path):
    """metadata_agg: exact from the manifest on a clean table; COUNT
    stays exact under position DVs but min/max RAISE; equality
    sidecars make even COUNT raise — refuse, never approximate."""
    import pytest as _pytest

    from pyspark.sql import functions as F

    from dataflowex_spark.sources.mtable import MTable

    df = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") % 97).cast("double").alias("v")
    )
    t = MTable.create(
        spark, str(tmp_path / "t"), df.repartitionByRange(4, "k"), "k",
        stats_cols=["v"],
    )
    m = t.metadata_agg(cols=["v"])
    assert m == {
        "rows": 1000, "min_key": 0, "max_key": 999,
        "min_v": 0.0, "max_v": 96.0,
    }

    t.delete_where("k % 10 = 3")  # position DVs
    m2 = t.metadata_agg()
    assert m2 == {"rows": 900}  # COUNT exact under DVs
    with _pytest.raises(ValueError, match="bounds"):
        t.metadata_agg(cols=["v"])

    t.delete_keys(spark.range(0, 5).select(F.col("id").alias("k")))
    with _pytest.raises(ValueError, match="equality"):
        t.metadata_agg()


def test_mtable_incremental_optimize(spark, tmp_path):
    """optimize_zorder_incremental: rewrites ONLY the worst-clustered
    files (metadata-only scoring), content survives exactly, carried
    files keep their paths, and repeated calls converge to a no-op
    (absolute min_score — a relative floor would churn on its own
    output)."""
    from pyspark.sql import functions as F

    from dataflowex_spark.sources.mtable import MTable

    # 6 hash-scattered files: every file spans the whole key and v
    # range — the fully unoptimized layout
    base = spark.range(0, 6000).select(
        F.col("id").alias("k"), (F.col("id") % 1000).cast("double").alias("v")
    )
    t = MTable.create(
        spark, str(tmp_path / "t"), base.repartition(6), "k",
        stats_cols=["v"],
    )
    before = {e["path"] for e in t.manifest()["files"]}
    assert len(before) == 6
    content_before = sorted((r["k"], r["v"]) for r in t.read().collect())

    v, n = t.optimize_zorder_incremental(["v"], max_files=2)
    assert v is not None and n == 2
    after = t.manifest()["files"]
    assert len(before & {e["path"] for e in after}) == 4  # 2 replaced
    assert sorted((r["k"], r["v"]) for r in t.read().collect()) == (
        content_before
    )
    # keeps absorbing the scattered tail, then converges to a no-op
    rounds = 0
    for _ in range(6):
        v2, n2 = t.optimize_zorder_incremental(["v"], max_files=2)
        if v2 is None:
            break
        rounds += 1
    else:
        raise AssertionError("incremental optimize did not converge")
    assert rounds == 2  # remaining 4 scattered files, 2 per call
    assert sorted((r["k"], r["v"]) for r in t.read().collect()) == (
        content_before
    )


def test_for_portion_of_update_boundaries(spark):
    """Half-open split algebra: contained, spanning, touching, and
    disjoint periods; lossless contiguity; degenerate segments
    dropped."""
    from pyspark.sql import functions as F

    from dataflowex_spark.operators.etl import for_portion_of_update

    rows = [
        (1, 0, 10, 5),    # disjoint (before)
        (2, 40, 50, 5),   # touching at hi (disjoint: half-open)
        (3, 25, 35, 5),   # contained -> single updated segment
        (4, 10, 50, 5),   # spans -> head + mid + tail
        (5, 15, 30, 5),   # overlaps left -> head + mid
        (6, 30, 45, 5),   # overlaps right -> mid + tail
        (7, 20, 40, 5),   # exact match -> single updated segment
    ]
    df = spark.createDataFrame(rows, "k int, s long, e long, bal long")
    out = for_portion_of_update(
        df, "s", "e", 20, 40, {"bal": F.col("bal") * 2}
    )
    got = sorted(tuple(r) for r in out.collect())
    assert got == sorted(
        [
            (1, 0, 10, 5),
            (2, 40, 50, 5),
            (3, 25, 35, 10),
            (4, 10, 20, 5), (4, 20, 40, 10), (4, 40, 50, 5),
            (5, 15, 20, 5), (5, 20, 30, 10),
            (6, 30, 40, 10), (6, 40, 45, 5),
            (7, 20, 40, 10),
        ]
    )
    # lossless: per key, total covered length is unchanged
    for k, spans in {
        k: [(s, e) for kk, s, e, _ in got if kk == k]
        for k in range(1, 8)
    }.items():
        orig = next((e - s) for kk, s, e, _ in rows if kk == k)
        assert sum(e - s for s, e in spans) == orig, k
