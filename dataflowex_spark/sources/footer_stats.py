"""Per-file identity and stats for every table-format writer: the
on-disk path a scanned or written file maps to, the partition values
its hive dirs encode, and its min/max stats.

FILE-IDENTITY RULE. A path is one of two things:

- a URI that Spark produced (``input_file_name()``,
  ``_metadata.file_path``): :func:`local_path` strips the ``file:``
  scheme and percent-decodes it ONCE; :func:`file_path_col` is the
  same rule as a Column;
- a raw path (a footer walk, a caller's root, a path read back from a
  manifest): already the on-disk name, NEVER decoded, so a
  hive-escaped dir (``k=a%20b`` on disk) keeps its literal ``%``.

Both then go through ``os.path.abspath``, so two spellings of one file
(a relative root, ``root/./data``) compare equal. Paths a format
STORES in its own metadata (Iceberg ``file_path``, Delta ``add.path``,
MTable deletion-vector sidecars) are out of scope: each format renders
and resolves its stored form itself. :func:`hive_values` decodes the
``k=v`` dirs of a partitioned write (``__HIVE_DEFAULT_PARTITION__`` is
None); each format renders the values itself.

STATS. Every writer (MTable, Delta, Iceberg) used to follow
``df.write.parquet(job)`` with a second Spark job —
``spark.read.parquet(job).groupBy(input_file_name()).agg(min/max)``
— to collect the per-file stats its manifest/commit records. The
write tasks already computed exactly those numbers into the parquet
footers; reading N footers (KBs of metadata each) costs microseconds
per file where the re-scan job re-reads the full data. This is how
the reference formats source file stats: the writer emits them, the
committer never re-scans. :func:`file_stats` tries the footers and
keeps that grouped scan only as the fallback.

``footer_file_stats`` returns ``None`` whenever the footers cannot
reproduce the Spark scan EXACTLY:

- column types outside the proven-faithful set (ints, bool, string,
  date, timestamp, float/double) — e.g. decimals, whose pyarrow stat
  rendering differs from Spark's collected Row values;
- missing/omitted min-max (parquet drops statistics for very long
  binary values) on any row group that has values;
- NaN-poisoned float stats: parquet-mr propagates NaN into min/max,
  while Spark's max() orders NaN above every double — the footer
  cannot be trusted, the fallback scan reproduces Spark's ordering.

tz-aware timestamp stats are normalized to naive UTC, matching the
session-UTC naive datetimes Spark's collected Rows carry (this
engine pins spark.sql.session.timeZone=UTC).
"""

from __future__ import annotations

import os
import re
from urllib.parse import unquote


def local_path(p: str) -> str:
    """The absolute on-disk path of ``p``: a ``file:`` URI loses its
    scheme and is percent-decoded once; any other string is already
    on disk and is not decoded (see the module docstring)."""
    if p.startswith("file:"):
        p = unquote(re.sub(r"^file:/*", "/", p))
    return os.path.abspath(p)


def file_path_col():
    """``_metadata.file_path`` through the :func:`local_path` rule, as
    a Column (a literal ``+`` is pre-escaped so ``url_decode``'s form
    decoding cannot turn it into a space). Scan URIs are absolute, so
    no ``abspath`` step is needed."""
    from pyspark.sql import functions as F

    c = F.regexp_replace(F.col("_metadata.file_path"), "^file:/*", "/")
    return F.url_decode(F.regexp_replace(c, r"\+", "%2B"))


def hive_values(rel_dir: str) -> dict[str, str | None]:
    """``{key: value}`` from the ``k=v`` segments of a relative dir
    of a partitioned write; values are percent-decoded and
    ``__HIVE_DEFAULT_PARTITION__`` (a null) maps to None."""
    out: dict[str, str | None] = {}
    for seg in rel_dir.split(os.sep):
        k, eq, raw = seg.partition("=")
        if eq:
            null = raw == "__HIVE_DEFAULT_PARTITION__"
            out[k] = None if null else unquote(raw)
    return out


def file_stats(
    spark,
    job: str,
    cols: list[str],
    recursive: bool = False,
    paths: list[str] | None = None,
    fmt: str = "parquet",
    scan=None,
) -> list[dict]:
    """Per-file ``{"path", "__rows", "__mn_<c>", "__mx_<c>"}`` rows for
    the files under ``job`` (or ``paths``): from the parquet footers
    when :func:`footer_file_stats` can reproduce the scan, else from
    ONE scan grouped by ``input_file_name()`` — of ``scan`` when given,
    else of ``job`` read as ``fmt``. Every ``path`` is already through
    :func:`local_path`; zero-row files have no row."""
    rows = (
        footer_file_stats(job, cols, recursive=recursive, paths=paths)
        if fmt == "parquet"
        else None
    )
    if rows is None:
        from pyspark.sql import functions as F

        aggs = [F.count(F.lit(1)).alias("__rows")]
        for c in cols:
            aggs.append(F.min(c).alias(f"__mn_{c}"))
            aggs.append(F.max(c).alias(f"__mx_{c}"))
        if scan is None:
            scan = getattr(spark.read, fmt)(job)
        rows = [
            r.asDict()
            for r in scan.groupBy(F.input_file_name().alias("path"))
            .agg(*aggs)
            .collect()
        ]
    return [{**r, "path": local_path(r["path"])} for r in rows]


def footer_file_stats(
    job: str,
    cols: list[str],
    recursive: bool = False,
    paths: list[str] | None = None,
) -> list[dict] | None:
    """Per-file ``{"path", "__rows", "__mn_<c>", "__mx_<c>"}`` rows
    for every non-empty ``*.parquet`` under ``job`` (``recursive``
    descends into hive partition dirs), or ``None`` when footers
    can't reproduce the scan — see module docstring. Values are RAW
    (same python types as collected Spark Rows); callers apply their
    own JSON rendering exactly as before. Zero-row files are skipped
    (no scan group would have produced a row for them either).
    ``paths`` bypasses the directory walk with the caller's explicit
    file list (the convert case, where the caller already decided
    exactly which files the table registers).
    """
    try:
        import pyarrow as pa
        import pyarrow.parquet as pq
    except Exception:
        return None
    import datetime as dt
    import math

    def _ok_type(t) -> bool:
        return (
            pa.types.is_integer(t)
            or pa.types.is_boolean(t)
            or pa.types.is_string(t)
            or pa.types.is_large_string(t)
            or pa.types.is_date(t)
            or pa.types.is_timestamp(t)
            or pa.types.is_floating(t)
        )

    def _norm(v):
        if isinstance(v, dt.datetime) and v.tzinfo is not None:
            return v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v

    def _is_part(name: str) -> bool:
        return name.endswith(".parquet") and not name.startswith((".", "_"))

    try:
        if paths is not None:
            parts = sorted(paths)
        elif recursive:
            parts = sorted(
                os.path.join(d, f)
                for d, _dirs, files in os.walk(job)
                for f in files
                if _is_part(f)
            )
        else:
            parts = sorted(
                os.path.join(job, f)
                for f in os.listdir(job)
                if _is_part(f)
            )
        out: list[dict] = []
        for path in parts:
            pf = pq.ParquetFile(path)
            md = pf.metadata
            if md.num_rows == 0:
                continue
            schema = pf.schema_arrow
            names = set(schema.names)
            entry: dict = {"path": path, "__rows": md.num_rows}
            for c in cols:
                if c not in names:
                    return None
                if not _ok_type(schema.field(c).type):
                    return None
                mins, maxs = [], []
                for rg in range(md.num_row_groups):
                    rgm = md.row_group(rg)
                    col = None
                    for ci in range(rgm.num_columns):
                        if rgm.column(ci).path_in_schema == c:
                            col = rgm.column(ci)
                            break
                    if col is None:
                        # nested field shadowing the name — bail
                        return None
                    st = col.statistics
                    if st is None:
                        return None
                    if st.num_values == 0:
                        continue  # all-null group contributes nothing
                    if not st.has_min_max:
                        return None
                    lo, hi = _norm(st.min), _norm(st.max)
                    if isinstance(lo, float) and (
                        math.isnan(lo) or math.isnan(hi)
                    ):
                        return None
                    mins.append(lo)
                    maxs.append(hi)
                entry[f"__mn_{c}"] = min(mins) if mins else None
                entry[f"__mx_{c}"] = max(maxs) if maxs else None
            out.append(entry)
        return out
    except Exception:
        return None
