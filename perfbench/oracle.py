"""Output checks: DuckDB oracle digests and the Spark-side pass digest.

The oracle side reuses ``canon`` and ``value_hash`` from
``tools/selfcheck.py`` (imported, not copied), so an op passes when the
canonical value hash of its output equals the DuckDB oracle's, the
self-check's pass bar.  Expected digests depend only on the generated
inputs and the oracle SQL, so they are cached per key in the checkout.
"""

from __future__ import annotations

import hashlib
import importlib.util
import json
import os
import sys

import pandas as pd
from pyspark.sql import DataFrame, functions as F


def load_selfcheck(root: str):
    """Import ``tools/selfcheck.py`` from ``root`` without letting its
    module-level ``sys.path`` edit outlive the import."""
    saved = list(sys.path)
    try:
        spec = importlib.util.spec_from_file_location(
            "perfbench_selfcheck", os.path.join(root, "tools", "selfcheck.py")
        )
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
    finally:
        sys.path[:] = saved
    return mod


def frame_digest(selfcheck, pdf: pd.DataFrame) -> str:
    """The self-check's order-insensitive value hash of a result frame."""
    return selfcheck.value_hash(selfcheck.canon(pdf))


def expected_digests(
    selfcheck, sqls: dict[str, str], inputs_dir: str, tables: list[str],
    cache_dir: str, key_parts: list[str],
) -> dict[str, dict]:
    """``{op: {"rows": n, "digest": h}}`` from DuckDB over the generated
    inputs, cached under ``cache_dir`` by a key of ``key_parts`` and the
    oracle SQL texts."""
    import duckdb

    key = hashlib.sha256(
        json.dumps([key_parts, sorted(sqls.items())]).encode()
    ).hexdigest()[:20]
    path = os.path.join(cache_dir, f"oracle-{key}.json")
    if os.path.exists(path):
        with open(path) as fh:
            return json.load(fh)
    con = duckdb.connect()
    try:
        for t in tables:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{inputs_dir}/{t}.parquet/*.parquet')"
            )
        out = {}
        for name, sql in sqls.items():
            pdf = con.execute(sql).df()
            out[name] = {"rows": len(pdf), "digest": frame_digest(selfcheck, pdf)}
    finally:
        con.close()
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{path}.{os.getpid()}"
    with open(tmp, "w") as fh:
        json.dump(out, fh)
    os.replace(tmp, path)
    return out


def spark_digest(df: DataFrame) -> tuple[int, int, int]:
    """The timed action: one job that evaluates every output column
    (hashes all of them) and returns (rows, hash sum, hash xor)."""
    h = F.xxhash64(*[F.col(f"`{c}`") for c in df.columns])
    row = (
        df.select(h.alias("h"))
        .agg(
            F.count(F.lit(1)),
            F.sum(F.pmod("h", F.lit(2**31 - 1))),
            F.bit_xor("h"),
        )
        .collect()[0]
    )
    return int(row[0]), int(row[1] or 0), int(row[2] or 0)
