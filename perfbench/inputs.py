"""Seeded benchmark inputs: a permuted, re-split copy of the fixture tables.

Each table of the source directory is read with pyarrow, its rows are
permuted by a generator seeded from ``--seed`` and the table name, and it
is written back as a directory ``<name>.parquet/`` of ``FILES_PER_TABLE``
part files.  The arrow schema (metadata included) and the parquet schema
(physical and logical types, e.g. the timestamp unit of ``events.ts``) are
checked equal to the source after writing.  Permuting ``events`` also
changes the order in which the streaming queries' file replay sees rows.
"""

from __future__ import annotations

import os
import zlib

import numpy as np
import pyarrow.parquet as pq

#: Fixed file count per table: the seed changes which rows land in which
#: file, never how many files a scan lists.
FILES_PER_TABLE = 4


def default_source() -> str:
    """The fixture directory: ``$SPARK_GRAFT_SF_DIR``, else the read-only
    sf0.1 fixtures described in TESTDATA.md (``~/testdata/sf0.1``)."""
    return os.environ.get("SPARK_GRAFT_SF_DIR") or os.path.expanduser(
        "~/testdata/sf0.1"
    )


def _table_seed(seed: int, name: str) -> int:
    return (seed * 1_000_003 + zlib.crc32(name.encode())) % 2**32


def generate(source: str, dest: str, seed: int, tables: list[str]) -> dict:
    """Write the seeded copy of ``tables`` under ``dest``; return
    ``{table: {"rows": n, "bytes": b}}`` for the written copy."""
    os.makedirs(dest, exist_ok=True)
    stats = {}
    for name in tables:
        src = os.path.join(source, f"{name}.parquet")
        table = pq.read_table(src)
        perm = np.random.default_rng(_table_seed(seed, name)).permutation(
            table.num_rows
        )
        table = table.take(perm)
        out_dir = os.path.join(dest, f"{name}.parquet")
        os.makedirs(out_dir)
        bounds = np.linspace(0, table.num_rows, FILES_PER_TABLE + 1).astype(int)
        size = 0
        for i in range(FILES_PER_TABLE):
            path = os.path.join(out_dir, f"part-{i:05d}.parquet")
            pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]), path)
            size += os.path.getsize(path)
        _check_schema(src, path)
        stats[name] = {"rows": table.num_rows, "bytes": size}
    return stats


def _check_schema(src: str, copy: str) -> None:
    a, b = pq.ParquetFile(src), pq.ParquetFile(copy)
    if not a.schema_arrow.equals(b.schema_arrow, check_metadata=True):
        raise RuntimeError(f"arrow schema of {copy} differs from {src}")
    if not a.schema.equals(b.schema):
        raise RuntimeError(f"parquet schema of {copy} differs from {src}")
