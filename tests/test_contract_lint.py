"""Contract-surface lints against the DRIVER's canonicalizer.

Round-6 postmortem: the engine's values were right everywhere
(390/390 exact-value), but two driver-gate reds shipped anyway —
q185's oracle leaked DuckDB HUGEINT (SUM over BIGINT) which the
driver hashes differently from Spark's int64, and q192 returned an
``array<bigint>`` column that crashes the driver's pandas
``sort_values`` canonicalizer. Six more oracles carried the same
latent HUGEINT leak. The old selfcheck was blind to both classes
(it rewrote dtypes before comparing and skipped rows-only shapes).

These tests pin the hardened ``tools/selfcheck.py`` lints so the
class cannot ship again:

- every registered oracle DESCRIBEs clean in DuckDB (no HUGEINT /
  UHUGEINT / nested result types) — the static scan that would have
  caught all seven r6 leaks before any driver window;
- the comparator itself flags dtype-class mismatches and nested
  cells (unit-pinned on synthetic frames, so a regression in the
  lint logic is a test failure, not a silent re-blinding).

The registry-wide NESTED-OUTPUT scan (build all 390 Spark plans,
assert no array/map/struct output column) costs ~4 min, so it runs
in the per-round ``tools/selfcheck.py --json SELFCHECK_rN.json``
sweep rather than here; set ``SELFCHECK_FULL=1`` to run it in
pytest too.
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, "/root/repo")

from tools.selfcheck import (  # noqa: E402
    compare,
    duck_connection,
    lint_oracle_types,
    nested_cells,
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_SMALL", "/root/testdata/sf0.001")


def test_all_oracles_describe_clean():
    """The r6 failure class, statically: no oracle may produce a
    HUGEINT/UHUGEINT or nested result column (driver hash-unsafe)."""
    import __spark_entry__ as entrymod

    con = duck_connection(SF_DIR)
    bad = lint_oracle_types(con, entrymod.oracle_sql())
    assert bad == {}, f"driver-hash-unsafe oracle result types: {bad}"


def test_lint_catches_hugeint():
    """An uncast SUM(BIGINT) — exactly q185's bug — must be flagged."""
    con = duck_connection(SF_DIR)
    bad = lint_oracle_types(
        con,
        {"synthetic": "SELECT SUM(CAST(1 AS BIGINT)) AS s FROM region"},
    )
    assert "synthetic" in bad and "HUGEINT" in bad["synthetic"][0]


def test_lint_catches_nested():
    con = duck_connection(SF_DIR)
    bad = lint_oracle_types(
        con, {"synthetic": "SELECT [1, 2] AS a FROM region"}
    )
    assert "synthetic" in bad


def test_comparator_flags_dtype_class_mismatch():
    """Equal VALUES, different dtype class (int64 vs float64 — the
    HUGEINT-through-pandas rendering) must fail, not pass."""
    a = pd.DataFrame({"k": [1, 2], "v": pd.array([10, 20], dtype="int64")})
    b = pd.DataFrame({"k": [1, 2], "v": [10.0, 20.0]})
    problems = compare("synthetic", a, b)
    assert any("dtype-class" in p for p in problems)


def test_comparator_passes_equal_frames():
    a = pd.DataFrame({"k": [2, 1], "v": [20, 10]})
    b = pd.DataFrame({"v": [10, 20], "k": [1, 2]})
    assert compare("synthetic", a, b) == []


def test_nested_cells_detected():
    """q192's bug shape: an ndarray cell breaks the driver's
    sort_values canonicalizer before even the rows-only count."""
    df = pd.DataFrame({"u": ["a"], "band": [np.array([1, 2, 3])]})
    assert nested_cells(df) == ["band"]
    assert nested_cells(pd.DataFrame({"u": ["a"], "x": [1]})) == []


@pytest.mark.skipif(
    os.environ.get("SELFCHECK_FULL") != "1",
    reason="registry-wide Spark schema scan (~4 min) runs in the"
    " per-round selfcheck sweep; set SELFCHECK_FULL=1 to run here",
)
def test_no_nested_output_columns_registry_wide():
    import __spark_entry__ as entrymod
    from pyspark.sql import types as T

    from dataflowex_spark.session import get_spark

    spark = get_spark("contract-lint")
    bad = []
    for name, fn in entrymod.queries().items():
        df = fn(spark, SF_DIR)
        for f in df.schema.fields:
            if isinstance(
                f.dataType, (T.ArrayType, T.MapType, T.StructType)
            ):
                bad.append((name, f.name, str(f.dataType)))
    assert bad == [], f"nested output columns (driver-canon-unsafe): {bad}"


def test_selfcheck_refuses_unknown_query_names(monkeypatch, capsys):
    """A name that matches no query is listed and exits 2 before
    Spark or DuckDB start, instead of failing as a Spark error."""
    import tools.selfcheck as sc

    def no_engine(*_a, **_k):
        raise AssertionError("started an engine for an unknown name")

    monkeypatch.setattr(sc, "get_spark", no_engine)
    monkeypatch.setattr(sc, "duck_connection", no_engine)
    monkeypatch.setattr(
        sys, "argv",
        ["selfcheck.py", SF_DIR, "q20_join_inner_multi", "q0_no_such"],
    )
    assert sc.main() == 2
    assert capsys.readouterr().err.strip() == (
        "unknown query names: q0_no_such"
    )
