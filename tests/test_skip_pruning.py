"""One skip-pruning rule across MTable, Delta and Iceberg.

Every table format prunes files by asking one question of its per-file
metadata: can a file whose stats say ``[lo, hi]`` hold a row matching
``col OP literal``? This grid asks it of each format, column type,
operator and literal form, and checks two things:

- the pruned read returns exactly the rows ``df.filter(col OP lit)``
  returns on the same data (pruning may keep extra files, never drop
  a matching one);
- a native or canonical literal at a file boundary on a column the
  format keeps stats for still opens fewer files than the table has,
  so a refusal cannot quietly turn into "never prune".

Forty rows, ``i`` in 0..39, are laid out so that every column is
monotone in ``i`` and the unpartitioned tables hold ``i // 10`` per
file; every literal sits at ``i = 10``, the first row of the second
file (or, for the coarser forms, next to it).
"""

from __future__ import annotations

import datetime as dt
import time

import pytest
from pyspark.sql import functions as F

OPS = ("=", "<", "<=", ">", ">=")

# (column, literal, prunes): ``prunes`` marks the native and canonical
# literal forms at the file boundary, which must open fewer files than
# the table has wherever the format keeps stats for the column
LITERALS = {
    "k": [(10, True), (10.0, False), ("10", False)],
    "x": [(1.0, True), (1, False)],
    "d": [
        (dt.date(1995, 1, 2), True),
        ("1995-01-02", True),
        ("1995-01-02 00:00:00", False),
        ("1995-01-01 12:00:00", False),
        (dt.datetime(1995, 1, 1, 12), False),
    ],
    "t": [
        (dt.datetime(1995, 1, 3, 12), True),
        ("1995-01-03 12:00:00", True),
        ("1995-01-03 12:00:00+00:00", False),
        (dt.date(1995, 1, 3), False),
    ],
    "s": [("s10", True), ("s1", False)],
}

CASES = [
    (col, op, lit, prunes)
    for col, lits in LITERALS.items()
    for lit, prunes in lits
    for op in OPS
]

# which (format, column) pairs carry per-file metadata the format
# prunes on: Iceberg writes no bounds for date/timestamp columns, so
# those prune only through a partition transform
STATS = {
    "mtable": set("kxdts"),
    "delta": set("kxdts"),
    "delta_part": set("kxdts"),
    "iceberg": set("kxs"),
    "iceberg_identity": set("kxsd"),
    "iceberg_day": set("kxsdt"),
}

_UTC_CLOCK = time.timezone == 0 and not time.daylight


def _base(spark):
    rows = [
        (
            i,
            float(i // 10),
            dt.date(1995, 1, 1) + dt.timedelta(days=i // 10),
            dt.datetime(1995, 1, 1) + dt.timedelta(hours=6 * i),
            f"s{i:02d}",
        )
        for i in range(40)
    ]
    return spark.createDataFrame(
        rows, "k long, x double, d date, t timestamp, s string"
    )


@pytest.fixture(scope="module")
def tables(spark, tmp_path_factory):
    """Every format's copy of the same forty rows, built once."""
    from dataflowex_spark.sources.delta_reader import read_delta, write_delta
    from dataflowex_spark.sources.iceberg_reader import read_iceberg, write_iceberg
    from dataflowex_spark.sources.mtable import MTable

    root = tmp_path_factory.mktemp("skip")
    base = _base(spark).cache()
    four = base.repartitionByRange(4, "k")
    one = base.repartition(1)
    out = {
        "mtable": MTable.create(
            spark, str(root / "m"), four, "k", stats_cols=["x", "d", "t", "s"]
        )
    }
    # timestamps carry no Delta stats by default: declare them
    write_delta(spark, four, str(root / "delta"), stats_cols=list("kxdts"))
    write_delta(
        spark,
        one,
        str(root / "delta_part"),
        stats_cols=list("kts"),
        partition_by=["d", "x"],
    )
    write_iceberg(spark, four, str(root / "iceberg"))
    write_iceberg(spark, one, str(root / "iceberg_identity"), partition_by=["d"])
    write_iceberg(
        spark,
        one,
        str(root / "iceberg_day"),
        partition_by=[("d", "day"), ("t", "day")],
    )
    out["total"] = {"mtable": len(out["mtable"].manifest()["files"])}
    for name in ("delta", "delta_part", "iceberg", "iceberg_identity", "iceberg_day"):
        out[name] = str(root / name)
        read = read_delta if name.startswith("delta") else read_iceberg
        out["total"][name] = len(read(spark, out[name]).inputFiles())
    out["expected"] = {}
    yield base, out
    base.unpersist()


def _filter(df, col, op, lit):
    c = F.col(col)
    return df.filter(
        {"=": c == lit, "<": c < lit, "<=": c <= lit, ">": c > lit, ">=": c >= lit}[op]
    )


def _pruned(spark, fmt, table, col, op, lit):
    """(the pruned read, a thunk counting the files it opens)."""
    from dataflowex_spark.sources.delta_reader import read_delta
    from dataflowex_spark.sources.iceberg_reader import read_iceberg

    if fmt == "mtable":
        kw = {
            "=": {"eq": {col: lit}},
            ">=": {"where": {col: (lit, None)}},
            "<=": {"where": {col: (None, lit)}},
        }[op]
        return table.read_where(**kw), lambda: len(table.prune_files(**kw))
    read = read_delta if fmt.startswith("delta") else read_iceberg
    got = read(spark, table, skip_where=[(col, op, lit)])
    return got, lambda: len(got.inputFiles())


@pytest.mark.parametrize(
    "fmt,col,op,lit,prunes",
    [
        (fmt, *case)
        for fmt in sorted(STATS)
        for case in CASES
        # MTable.read_where takes inclusive ranges and equality probes
        if fmt != "mtable" or case[1] in ("=", "<=", ">=")
    ],
    ids=repr,
)
def test_pruned_read_equals_filter(spark, tables, fmt, col, op, lit, prunes):
    base, out = tables
    key = (col, op, repr(lit))
    if key not in out["expected"]:
        out["expected"][key] = sorted(
            r["k"] for r in _filter(base, col, op, lit).select("k").collect()
        )
    got, opened = _pruned(spark, fmt, out[fmt], col, op, lit)
    assert sorted(r["k"] for r in got.select("k").collect()) == out["expected"][
        key
    ], (fmt, col, op, lit)
    if prunes and col in STATS[fmt] and (col != "t" or _UTC_CLOCK):
        n, total = opened(), out["total"][fmt]
        assert 0 < n < total, (fmt, col, op, lit, n, total)
