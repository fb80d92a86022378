"""Self-check harness mimicking the driver's correctness gate.

Runs every ``queries()`` entry at a given sf_dir, runs the matching
``oracle_sql()`` in DuckDB on the same parquet, and compares the way
the DRIVER does — not a friendlier way. Round-6 lesson: the old
normalize() coerced both sides to Int64/float64 before comparing,
which made it BLIND to exactly the class of failure the driver's
value-hash catches (DuckDB types SUM(BIGINT) as HUGEINT, which
``.df()`` renders as float64/object — hash-different from Spark's
int64 even when every value is equal), and it skipped rows-only
outputs entirely (so a nested ``array<bigint>`` column that crashes
the driver's pandas ``sort_values`` canonicalizer was invisible).

This version is dtype-faithful and shape-strict:

- **dtype-class compare**: spark/duck columns must land in the same
  pandas dtype class (int vs float vs bool vs datetime vs string).
  A HUGEINT leak fails here even when values match.
- **nested-cell rejection**: ANY query output cell that is a
  list/dict/ndarray fails (the driver's canonicalizer raises
  TypeError on them) — enforced for oracled AND rows-only queries.
- **oracle DESCRIBE lint** (``--lint``, also run before a full
  sweep): every oracle is DESCRIBEd in DuckDB; HUGEINT/UHUGEINT or
  nested (LIST/STRUCT/MAP/[]) result columns fail without running
  anything.
- **value hash**: both frames are column-sorted, row-sorted, and
  rendered to CSV; equal hash is the pass bar (mirrors the driver's
  hash_match).
- ``--json PATH`` writes a CORRECTNESS-shaped artifact
  (rows_match/schema_match/hash_match/spark_rows/oracle_rows/err per
  query) so rounds ship machine-readable evidence for queries the
  driver's rotation hasn't windowed yet.

Usage:
    python tools/selfcheck.py [sf_dir] [--lint] [--json OUT] [name ...]
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time
import traceback

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from dataflowex_spark.catalog import TABLES  # noqa: E402
from dataflowex_spark.session import get_spark  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402

#: DuckDB result types the driver's hasher renders differently from
#: Spark (HUGEINT -> float64/object) or crashes on (nested).
BANNED_DUCK_TYPES = ("HUGEINT", "UHUGEINT")
NESTED_DUCK_MARKERS = ("[]", "STRUCT", "MAP(", "LIST", "UNION")


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def lint_oracle_types(
    con: duckdb.DuckDBPyConnection, oracles: dict[str, str]
) -> dict[str, list[str]]:
    """DESCRIBE every oracle; return {name: [offending 'col TYPE', ...]}.

    Catches the round-6 failure class statically: an uncast
    SUM(BIGINT) types as HUGEINT in DuckDB and hash-mismatches the
    driver even though every value equals Spark's int64.
    """
    bad: dict[str, list[str]] = {}
    for name, sql in oracles.items():
        try:
            desc = con.execute(f"DESCRIBE {sql}").fetchall()
        except Exception as e:  # malformed oracle: surface loudly
            bad[name] = [f"DESCRIBE failed: {e}"]
            continue
        offenders = []
        for row in desc:
            col, typ = row[0], str(row[1]).upper()
            if any(b in typ for b in BANNED_DUCK_TYPES) or any(
                m in typ for m in NESTED_DUCK_MARKERS
            ):
                offenders.append(f"{col} {typ}")
        if offenders:
            bad[name] = offenders
    return bad


def nested_cells(df: pd.DataFrame) -> list[str]:
    """Column names whose first non-null cell is list/dict/ndarray.

    The driver canonicalizes with ``sort_values`` over all columns,
    which raises TypeError on such cells — so they are a contract
    violation regardless of values.
    """
    bad = []
    for c in df.columns:
        s = df[c].dropna()
        if len(s) and isinstance(
            s.iloc[0], (list, dict, set, tuple, np.ndarray)
        ):
            bad.append(str(c))
    return bad


def dtype_class(s: pd.Series) -> str:
    if pd.api.types.is_bool_dtype(s):
        return "bool"
    if pd.api.types.is_integer_dtype(s):
        return "int"
    if pd.api.types.is_float_dtype(s):
        return "float"
    if pd.api.types.is_datetime64_any_dtype(s):
        return "datetime"
    return "object"


def canon(df: pd.DataFrame) -> pd.DataFrame:
    """Driver-shaped canonicalization: sort columns by name, sort rows.

    Unlike the r1–r6 normalize(), this does NOT rewrite dtypes — the
    point is to see what the driver's hasher sees. Datetimes lose tz
    only (both engines agree on the instant)."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            try:
                s = s.dt.tz_localize(None)
            except TypeError:
                pass
            df[c] = s.astype("datetime64[us]")
    return df.sort_values(
        by=list(df.columns), ignore_index=True, na_position="last"
    )


def value_hash(df: pd.DataFrame) -> str:
    """Hash the canonical CSV rendering — dtype-faithful: int64 123
    renders '123', a HUGEINT leaked through float64 renders '123.0',
    and the hashes differ, exactly like the driver's."""
    body = df.to_csv(index=False, float_format="%.10g")
    return hashlib.md5(body.encode()).hexdigest()


def compare(
    name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame
) -> list[str]:
    problems = []
    if len(spark_pdf) != len(duck_pdf):
        problems.append(
            f"rowcount spark={len(spark_pdf)} duck={len(duck_pdf)}"
        )
    sc, dc = sorted(map(str, spark_pdf.columns)), sorted(
        map(str, duck_pdf.columns)
    )
    if sc != dc:
        problems.append(f"columns spark={sc} duck={dc}")
        return problems
    if problems:
        return problems
    a, b = canon(spark_pdf), canon(duck_pdf)
    for c in a.columns:
        ca, cb = dtype_class(a[c]), dtype_class(b[c])
        if ca != cb:
            problems.append(
                f"dtype-class mismatch on '{c}': spark={ca}({a[c].dtype})"
                f" duck={cb}({b[c].dtype}) — driver hash WILL differ"
            )
    if problems:
        return problems
    if value_hash(a) != value_hash(b):
        problems.append("value-hash mismatch")
        try:
            astr, bstr = a.astype(str), b.astype(str)
            bad = (astr != bstr).any(axis=1)
            for i in a.index[bad][:3]:
                problems.append(f"  spark:{a.loc[i].to_dict()}")
                problems.append(f"  duck :{b.loc[i].to_dict()}")
        except Exception:
            pass
    return problems


def main() -> int:
    args = sys.argv[1:]
    lint_only = "--lint" in args
    args = [a for a in args if a != "--lint"]
    json_out = None
    if "--json" in args:
        i = args.index("--json")
        json_out = args[i + 1]
        del args[i : i + 2]
    sf_dir = args[0] if args and "/" in args[0] else "/root/testdata/sf0.01"
    only = [a for a in args if "/" not in a]
    qs = entrymod.queries()
    unknown = [a for a in only if a not in qs]
    if unknown:
        print(f"unknown query names: {' '.join(unknown)}", file=sys.stderr)
        return 2

    oracles = entrymod.oracle_sql()
    con = duck_connection(sf_dir)

    # Static oracle-type lint runs FIRST, always — it is what would
    # have caught the seven r6 HUGEINT leaks before any driver window.
    lint_bad = lint_oracle_types(con, oracles)
    for name, offenders in sorted(lint_bad.items()):
        print(f"LINT {name}: oracle result type banned: {offenders}")
    if lint_only:
        print(
            f"\nlint: {len(oracles) - len(lint_bad)} clean,"
            f" {len(lint_bad)} flagged"
        )
        return 1 if lint_bad else 0

    spark = get_spark("selfcheck")
    names = only or list(qs)
    n_pass = n_fail = 0
    report: dict[str, dict] = {}
    for name in names:
        t0 = time.time()
        rec = {
            "rows_match": None,
            "schema_match": None,
            "hash_match": None,
            "spark_rows": None,
            "oracle_rows": None,
            "err": None,
        }
        report[name] = rec
        try:
            sdf = qs[name](spark, sf_dir)
            spark_pdf = sdf.toPandas()
            rec["spark_rows"] = len(spark_pdf)
        except Exception:
            rec["err"] = "spark error"
            print(f"FAIL {name}: SPARK ERROR\n{traceback.format_exc()}")
            n_fail += 1
            continue
        nest = nested_cells(spark_pdf)
        if nest:
            rec["err"] = f"nested output columns {nest}"
            print(
                f"FAIL {name}: nested output columns {nest} — the"
                " driver's sort_values canonicalizer raises on these"
            )
            n_fail += 1
            continue
        if name not in oracles:
            n_pass += 1
            print(
                f"ok   {name} (rows-only: {len(spark_pdf)} rows)"
                f" [{time.time() - t0:.1f}s]"
            )
            continue
        if name in lint_bad:
            rec["err"] = f"oracle type lint: {lint_bad[name]}"
            print(f"FAIL {name}: oracle type lint {lint_bad[name]}")
            n_fail += 1
            continue
        try:
            duck_pdf = con.execute(oracles[name]).df()
            rec["oracle_rows"] = len(duck_pdf)
        except Exception:
            rec["err"] = "duckdb error"
            print(f"FAIL {name}: DUCKDB ERROR\n{traceback.format_exc()}")
            n_fail += 1
            continue
        problems = compare(name, spark_pdf, duck_pdf)
        rec["rows_match"] = len(spark_pdf) == len(duck_pdf)
        rec["schema_match"] = sorted(map(str, spark_pdf.columns)) == sorted(
            map(str, duck_pdf.columns)
        )
        rec["hash_match"] = not problems
        if problems:
            n_fail += 1
            print(f"FAIL {name} [{time.time() - t0:.1f}s]")
            for p in problems:
                print(f"     {p}")
        else:
            n_pass += 1
            print(
                f"ok   {name} ({len(spark_pdf)} rows)"
                f" [{time.time() - t0:.1f}s]"
            )
    if json_out:
        with open(json_out, "w") as fh:
            json.dump(report, fh, indent=1, sort_keys=True)
        print(f"wrote {json_out}")
    print(f"\n{n_pass} passed, {n_fail} failed")
    return 1 if n_fail or lint_bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
