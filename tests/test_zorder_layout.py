"""The one z-order layout path: ``sources.zorder_sort_key`` plus the
metadata stats fold ``sources.fold_zorder_bounds`` behind
``write_zordered``, MTable's ``optimize_zorder[_incremental]`` and
``optimize_delta``."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

N = 4000


def _value(dtype: str, i: int):
    if dtype == "int":
        return i % 97
    if dtype == "date":
        return dt.date(1995, 1, 1) + dt.timedelta(days=i % 900)
    if dtype.startswith("timestamp"):
        return dt.datetime(1995, 1, 1) + dt.timedelta(
            hours=i, microseconds=i
        )
    return float(i) / 7.0


def _scan_bounds(df, cols):
    from dataflowex_spark.sources import _zorder_num

    dtypes = dict(df.dtypes)
    row = df.agg(
        *[F.min(_zorder_num(c, dtypes[c])).alias(f"mn_{c}") for c in cols],
        *[F.max(_zorder_num(c, dtypes[c])).alias(f"mx_{c}") for c in cols],
    ).first()
    return {c: (row[f"mn_{c}"], row[f"mx_{c}"]) for c in cols}


@pytest.mark.parametrize("deletes", [False, True], ids=["clean", "deletes"])
@pytest.mark.parametrize(
    "dtype", ["int", "date", "timestamp", "timestamp_ntz", "double"]
)
@pytest.mark.parametrize("fmt", ["mtable", "delta"])
def test_zorder_fold_matches_scan(spark, tmp_path, fmt, dtype, deletes):
    """The bounds folded from table metadata equal the scan aggregate
    of the live rows, or the fold refuses (None -> scan fallback).

    It must fold for ints and dates in both formats and for
    timestamps from MTable's manifest (UTC session); it must refuse
    for doubles (rendered floats are not provably exact), for
    timestamps from the Delta log (millisecond-truncated), and after
    deletes (MTable equality deletes, Delta deletion vectors), whose
    removed rows still sit inside the recorded per-file stats."""
    from dataflowex_spark.sources import fold_zorder_bounds

    df = spark.createDataFrame(
        [(i * 3 - 500, _value(dtype, i)) for i in range(N)],
        f"k long, c {'int' if dtype == 'int' else dtype}",
    ).repartition(5)
    root = str(tmp_path / "t")
    top_k = (N - 1) * 3 - 500
    if fmt == "mtable":
        from dataflowex_spark.sources.mtable import (
            MTable,
            _zorder_file_bounds,
        )

        t = MTable.create(spark, root, df, "k", stats_cols=["c"])
        if deletes:
            t.delete_keys(spark.createDataFrame([(top_k,)], "k long"))
            assert any(e.get("eq") for e in t.manifest()["files"])
        live = t.read()

        def fold(cols):
            return fold_zorder_bounds(
                spark, cols, dict(live.dtypes),
                _zorder_file_bounds(t.manifest(), cols),
            )
    else:
        import dataflowex_spark.sources.delta_reader as dr

        dr.write_delta(spark, df, root)
        if deletes:
            dr.delete_from_delta(spark, root, f"k = {top_k}")
        _meta, adds = dr._snapshot(spark, root, None)
        assert deletes == any(
            a.get("deletionVector") for a in adds.values()
        )
        live = dr.read_delta(spark, root)

        def fold(cols):
            dtypes = dict(live.dtypes)
            phys = {c: c for c in cols}
            return fold_zorder_bounds(
                spark, cols, dtypes,
                dr._zorder_log_bounds(adds, cols, dtypes, phys),
            )

    assert live.count() == N - deletes
    got = fold(["k", "c"])
    scan = _scan_bounds(live, ["k", "c"])
    must_fold = not deletes and (
        dtype in ("int", "date")
        or (fmt == "mtable" and dtype.startswith("timestamp"))
    )
    if must_fold:
        assert got == scan
    else:
        assert got is None, (got, scan)
    if deletes:
        # the deleted key was the table max: stats that counted it
        # would widen the span
        assert scan["k"][1] == top_k - 3
    if fmt == "mtable":
        # a column without declared per-file stats refuses
        assert fold(["k", "zz"]) is None


def test_fold_refuses_offset_aware_timestamp_stat(spark, monkeypatch):
    """An offset-aware timestamp stat string cannot be matched to the
    naive session-UTC rendering: the fold refuses instead of raising
    TypeError (naive minus aware). Naive strings fold only under a
    UTC driver clock too (collected Rows render in the OS zone)."""
    import time
    from dataflowex_spark.sources import fold_zorder_bounds, zorder_stat_num
    from dataflowex_spark.sources.mtable import _zorder_file_bounds

    aware = "1995-01-01 00:00:00+02:00"
    assert zorder_stat_num(aware, "timestamp") is None
    assert zorder_stat_num("1970-01-01 00:00:01.500000", "timestamp") == (
        1_500_000
    )
    m = {
        "key_col": "k",
        "files": [
            {
                "path": "p0", "rows": 2, "min_key": 0, "max_key": 9,
                "col_stats": {"ts": [aware, "1995-01-02 00:00:00"]},
            }
        ],
    }
    dtypes = {"k": "bigint", "ts": "timestamp"}
    cols = ["k", "ts"]
    assert fold_zorder_bounds(
        spark, cols, dtypes, _zorder_file_bounds(m, cols)
    ) is None
    m["files"][0]["col_stats"]["ts"][0] = "1995-01-01 00:00:00"
    assert fold_zorder_bounds(
        spark, cols, dtypes, _zorder_file_bounds(m, cols)
    ) == {"k": (0.0, 9.0), "ts": (788918400e6, 789004800e6)}
    monkeypatch.setattr(time, "timezone", -3600)
    assert fold_zorder_bounds(
        spark, cols, dtypes, _zorder_file_bounds(m, cols)
    ) is None


@pytest.mark.parametrize("dtype", ["date", "timestamp"])
def test_mtable_incremental_optimize_temporal(spark, tmp_path, dtype):
    """optimize_zorder_incremental clusters on date and timestamp
    columns: their ISO manifest stats convert to the sort key's
    surrogate (day counts, micros) instead of failing float()."""
    from dataflowex_spark.sources.mtable import MTable

    df = spark.createDataFrame(
        [(i, _value(dtype, i)) for i in range(3000)], f"k long, d {dtype}"
    )
    t = MTable.create(
        spark, str(tmp_path / "t"), df.repartition(6), "k",
        stats_cols=["d"],
    )
    before = sorted(map(tuple, t.read().collect()))
    v, n = t.optimize_zorder_incremental(["d"], max_files=3)
    assert v is not None and n == 3
    assert sorted(map(tuple, t.read().collect())) == before
    # rewritten files tighten the date dimension
    spans = [
        e["col_stats"]["d"] for e in t.manifest()["files"] if e.get("zorder")
    ]
    assert len(spans) == 3 and all(lo < hi for lo, hi in spans)


def test_write_zordered_date_column(spark, tmp_path):
    """write_zordered clusters a date column through its unix_date
    surrogate (casting DATE to DOUBLE is not allowed)."""
    from dataflowex_spark.sources import write_zordered

    df = spark.createDataFrame(
        [(x, dt.date(2000, 1, 1) + dt.timedelta(days=y))
         for x in range(32) for y in range(32)],
        "x int, d date",
    )
    out = str(tmp_path / "z")
    write_zordered(df, out, ["x", "d"], bits=5, n_files=8)
    back = spark.read.parquet(out)
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, df.collect())
    )
    per_file = back.groupBy(F.input_file_name()).agg(
        F.datediff(F.max("d"), F.min("d")).alias("span")
    ).collect()
    assert len(per_file) >= 4
    assert sum(r["span"] for r in per_file) / len(per_file) < 0.8 * 31


def test_zorder_sort_key_names_bad_column(spark):
    """The type check names the offending column; every type either
    table format accepts (numerics incl. decimal, date, timestamp)
    builds a key."""
    from decimal import Decimal

    from dataflowex_spark.sources import zorder_sort_key

    df = spark.createDataFrame(
        [(1, "a", Decimal("1.50"))], "k long, s string, p decimal(10,2)"
    )
    dtypes = dict(df.dtypes)
    with pytest.raises(ValueError, match="'s'.*non-orderable"):
        zorder_sort_key(df, ["k", "s"], dtypes, None)
    with pytest.raises(ValueError, match="'nope' not in schema"):
        zorder_sort_key(df, ["k", "nope"], dtypes, None)
    key = zorder_sort_key(df, ["k", "p"], dtypes, {"k": (0, 2), "p": (0, 2)})
    assert df.select(key.alias("z")).first()["z"] is not None
