"""Sources & sinks — the engine's I/O surface (SURVEY.md §2-B).

Reference parity: DataflowEx ingests from IEnumerable / Post
([R: Gridsum.DataflowEx/Dataflow.cs # ProcessAsync]) and sinks via
SqlBulkCopy ([R: Gridsum.DataflowEx/Databases/DbBulkInserter.cs]).
Here: declarative readers (parquet/orc/text/audited csv/jdbc, plus
streaming variants) and writers with batch semantics.
"""

from __future__ import annotations

import datetime as _dt
import operator
import re
import time as _time
from collections.abc import Iterable, Sequence

from pyspark.sql import Column, DataFrame, SparkSession, functions as F


def read_orc(spark: SparkSession, path: str, **options) -> DataFrame:
    """ORC scan — same pushdown/pruning story as parquet (columnar,
    footer stats); the second first-class at-rest format."""
    return spark.read.options(**options).orc(path)


def read_text(
    spark: SparkSession, path: str, whole_file: bool = False, **options
) -> DataFrame:
    """Line-oriented text source (one row per line, column ``value``);
    ``whole_file=True`` reads each file as a single row — the raw-
    document ingest path for corpus pipelines."""
    r = spark.read.options(**options)
    if whole_file:
        r = r.option("wholetext", "true")
    return r.text(path)


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    partition_column: str | None = None,
    num_partitions: int = 8,
    lower_bound=None,
    upper_bound=None,
    **options,
) -> DataFrame:
    """JDBC read with explicit range partitioning — a single-connection
    JDBC scan is the classic accidental bottleneck; always pass a
    partition column for big tables."""
    r = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    if partition_column is not None:
        if lower_bound is None or upper_bound is None:
            raise ValueError(
                "partition_column requires lower_bound and upper_bound"
            )
        r = (
            r.option("partitionColumn", partition_column)
            .option("numPartitions", str(num_partitions))
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
        )
    for k, v in options.items():
        r = r.option(k, v)
    return r.load()


def write_batch(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    bucket_by: tuple[int, str] | None = None,
    table_name: str | None = None,
    **options,
) -> None:
    """Bulk sink. ``bucket_by=(n, col)`` + ``table_name`` writes a
    bucketed table — pre-shuffled storage so later joins/aggs on that
    key skip their exchange entirely (the at-rest co-location story)."""
    w = df.write.format(fmt).mode(mode).options(**options)
    if partition_by:
        w = w.partitionBy(*partition_by)
    if bucket_by is not None:
        n, col = bucket_by
        if table_name is None:
            raise ValueError("bucketed writes require table_name (saveAsTable)")
        w.bucketBy(n, col).sortBy(col).option("path", path).saveAsTable(table_name)
        return
    w.save(path)


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "append",
    batchsize: int = 10000,
    **options,
) -> None:
    """JDBC bulk sink — ``batchsize`` is DbBulkInserter's bulkSize."""
    (
        df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("batchsize", str(batchsize))
        .options(**options)
        .mode(mode)
        .save()
    )


def write_sorted(
    df: DataFrame,
    path: str,
    sort_cols: list[str],
    n_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Range-partitioned, sorted parquet write (poor man's Z-order for
    one dimension): repartitionByRange clusters by sort key across
    files, sortWithinPartitions orders inside each file — so parquet
    row-group min/max stats become tight and selective scans skip
    whole files/row groups at read time."""
    parted = (
        df.repartitionByRange(n_files, *sort_cols)
        if n_files is not None
        else df.repartitionByRange(*sort_cols)
    )
    parted.sortWithinPartitions(*sort_cols).write.mode(mode).parquet(path)


def zorder_key(cols: list[Column], bits: int = 12) -> Column:
    """Morton (Z-order) interleave of pre-normalized integer columns
    (each in [0, 2**bits)) into one long sort key — pure bitwise
    Column exprs, whole-stage-codegen'd. ``len(cols) * bits`` must
    stay ≤ 63."""
    m = len(cols)
    if m * bits > 63:
        raise ValueError(f"{m} cols x {bits} bits exceeds a long key")
    terms = [
        F.shiftleft(
            F.shiftright(c.cast("long"), i).bitwiseAND(F.lit(1)),
            i * m + (m - 1 - j),
        )
        for i in range(bits)
        for j, c in enumerate(cols)
    ]
    key = terms[0]
    for t in terms[1:]:
        key = key.bitwiseOR(t)
    return key


_ZORDER_INTS = frozenset({"bigint", "int", "smallint", "tinyint"})
_TEMPORAL = frozenset({"date", "timestamp", "timestamp_ntz"})
_EPOCH = _dt.datetime(1970, 1, 1)


def _zorder_num(c: str, dtype: str | None) -> Column:
    """Order-preserving double surrogate of column ``c``: Morton
    interleave needs ranks, not raw values. Numerics cast, dates
    become ``unix_date`` day counts, timestamps ``unix_micros``."""
    if dtype is None:
        raise ValueError(f"zorder column {c!r} not in schema")
    if dtype.startswith("timestamp"):
        return F.unix_micros(F.col(c).cast("timestamp")).cast("double")
    if dtype == "date":
        return F.unix_date(F.col(c)).cast("double")
    if dtype in ("string", "binary", "boolean") or dtype.startswith(
        ("array", "map", "struct")
    ):
        raise ValueError(
            f"zorder column {c!r}: non-orderable-numeric type {dtype}; "
            "derive a numeric rank column upstream (e.g. a dictionary "
            "code) and cluster on that"
        )
    return F.col(c).cast("double")


def zorder_sort_key(
    df: DataFrame,
    cols: list[str],
    dtypes: dict[str, str],
    bounds: dict[str, tuple] | None,
    bits: int = 12,
) -> Column:
    """The z-order sort key of every layout writer (``write_zordered``,
    MTable's ``optimize_zorder[_incremental]``, ``optimize_delta``):
    each column's surrogate (:func:`_zorder_num`) is min/max-scaled
    to ``bits``-bit rank space, clamped, and Morton-interleaved by
    :func:`zorder_key`. ``bounds`` maps each column to its surrogate
    ``(min, max)`` — from :func:`fold_zorder_bounds` or a caller's
    own estimate (values outside clamp, a ``None`` side means
    unknown); ``None`` runs one min/max aggregate over ``df``
    instead. Nulls sort with the minimum."""
    nums = {c: _zorder_num(c, dtypes.get(c)) for c in cols}
    if bounds is None:
        row = df.agg(
            *[F.min(nums[c]).alias(f"mn_{c}") for c in cols],
            *[F.max(nums[c]).alias(f"mx_{c}") for c in cols],
        ).first()
        bounds = {c: (row[f"mn_{c}"], row[f"mx_{c}"]) for c in cols}
    top = (1 << bits) - 1
    norm = []
    for c in cols:
        lo, hi = bounds[c]
        lo = 0.0 if lo is None else lo
        span = (hi - lo) if hi is not None and hi > lo else 1.0
        scaled = F.floor(
            (F.coalesce(nums[c], F.lit(lo)) - F.lit(lo)) * (top / span)
        )
        norm.append(F.least(F.greatest(scaled, F.lit(0)), F.lit(top)))
    return zorder_key(norm, bits)


def _temporal_num(v, dtype: str) -> int:
    """An ISO date or timestamp as an exact int: a date's day count,
    a naive timestamp's micros read as UTC. Raises on anything else
    (an offset-aware string cannot subtract from the naive epoch)."""
    if dtype == "date":
        return (_dt.date.fromisoformat(v) - _EPOCH.date()).days
    return (_dt.datetime.fromisoformat(v) - _EPOCH) // _dt.timedelta(
        microseconds=1
    )


def zorder_stat_num(v, dtype: str | None) -> float | None:
    """One metadata stat value as its :func:`_zorder_num` surrogate,
    or None when it does not convert exactly: integers pass through,
    ISO dates become day counts, naive ISO timestamps become micros
    read as UTC (an offset-aware string refuses), other numbers
    become floats."""
    try:
        if dtype in _TEMPORAL:
            return float(_temporal_num(v, dtype))
        if dtype in _ZORDER_INTS:
            return float(v) if type(v) is int else None
        return None if isinstance(v, bool) else float(v)
    except (TypeError, ValueError, OverflowError):
        return None


def utc_clock(spark: SparkSession) -> bool:
    """Whether naive timestamps mean the same instant everywhere they
    meet: a UTC session zone (Spark's casts and renderings) and a UTC
    driver clock (collected Rows and PySpark's naive datetime
    literals use the OS zone)."""
    return (
        spark.conf.get("spark.sql.session.timeZone", "") == "UTC"
        and _time.timezone == 0
        and not _time.daylight
    )


def fold_zorder_bounds(
    spark: SparkSession,
    cols: list[str],
    dtypes: dict[str, str],
    files: Iterable[dict | None],
) -> dict[str, tuple[float, float]] | None:
    """Global surrogate ``(min, max)`` per column for
    :func:`zorder_sort_key`, folded on the driver from per-file
    metadata instead of a full-table aggregate. ``files`` yields each
    file's ``{col: (min, max)}`` as its format recorded them, or None
    for a file whose metadata cannot vouch for its live rows (a
    format's extractor decides: deletes not reflected in the stats,
    lossy stats).

    Returns None — caller scans — unless the fold provably equals the
    scan: every column an integer (JSON round-trips exactly; the
    min of casts is the cast of the min), a date, or a timestamp
    whose naive stat strings were rendered in UTC
    (:func:`utc_clock`); every file vouched for; every stat present
    and exactly convertible. Floats refuse: their rendered form is
    not provably exact."""
    exact = set(_ZORDER_INTS) | {"date"}
    if utc_clock(spark):
        exact |= {"timestamp", "timestamp_ntz"}
    if any(dtypes.get(c) not in exact for c in cols):
        return None
    out: dict[str, tuple[float, float]] = {}
    for f in files:
        if f is None:
            return None
        for c in cols:
            mn, mx = (
                zorder_stat_num(v, dtypes[c]) for v in f.get(c, (None, None))
            )
            if mn is None or mx is None:
                return None
            lo, hi = out.get(c, (mn, mx))
            out[c] = (min(lo, mn), max(hi, mx))
    return out or None


# ---- Skip pruning: one rule for every table format's file metadata ----

SKIP_OPS = {
    "=": operator.eq,
    "<": operator.lt,
    "<=": operator.le,
    ">": operator.gt,
    ">=": operator.ge,
}
_DAY_US = 86_400_000_000
_FLOATS = frozenset({"double", "float"})
# the literal strings whose Spark cast Python reproduces exactly (Spark
# casts '1995-01-03 12:00:00' on a date column to 1995-01-03)
_ISO_DATE = r"\d{4}-\d{2}-\d{2}"
_ISO_TS = re.compile(_ISO_DATE + r"([ T]\d{2}:\d{2}:\d{2}(\.\d{1,6})?)?")
_ISO_LITERAL = {
    "date": re.compile(_ISO_DATE),
    "timestamp": _ISO_TS,
    "timestamp_ntz": _ISO_TS,
}


def check_skip_specs(specs, columns) -> list[tuple]:
    """``skip_where`` as a list, once every ``(column, op, literal)``
    names one of ``columns`` and an op in ``= < <= > >=``."""
    specs = list(specs or [])
    for col, op, _v in specs:
        if op not in SKIP_OPS:
            raise ValueError(
                f"skip_where op {op!r} unsupported (one of "
                f"{' '.join(SKIP_OPS)})"
            )
        if col not in columns:
            raise ValueError(f"skip_where column {col!r} not in schema")
    return specs


def apply_skip_filter(df: DataFrame, specs: list[tuple]) -> DataFrame:
    """The skip conjunction as in-plan filters: pruning only picks the
    files to open, these keep the rows exact."""
    for col, op, v in specs:
        df = df.filter(SKIP_OPS[op](F.col(col), F.lit(v)))
    return df


def _skip_key(v, dtype: str | None, utc: bool):
    """A recorded stat value as an exactly comparable key for a column
    of Spark type ``dtype`` (``simpleString``), or None: integers stay
    ints (canonical integer strings parse), doubles become floats
    (NaN refuses: Spark orders it above every number), strings stay,
    dates and timestamps (ISO strings or objects) become micros —
    dates at midnight, timestamps only under ``utc``
    (:func:`utc_clock`)."""
    try:
        if isinstance(v, bool) or v is None:
            return None
        if dtype in _TEMPORAL:
            if isinstance(v, _dt.date):
                v = v.isoformat()
            if dtype == "date":
                return _temporal_num(v, dtype) * _DAY_US
            return _temporal_num(v, dtype) if utc else None
        if dtype in _ZORDER_INTS:
            if isinstance(v, str) and re.fullmatch(r"-?\d+", v):
                return int(v)
            return v if type(v) is int else None
        if dtype in _FLOATS:
            x = float(v)
            return None if x != x else x
        return v if dtype == "string" and isinstance(v, str) else None
    except (TypeError, ValueError, OverflowError):
        return None


def skip_literal_key(lit, dtype: str | None, utc: bool):
    """The :func:`_skip_key` Spark's coercion of ``col OP lit`` compares
    ``lit`` as, or None where it is not reproduced exactly: a string
    is cast to the column type (only the :data:`_ISO_LITERAL` forms
    of temporal columns are), a datetime makes a date column compare
    as timestamps, a float literal or a double column compares as
    doubles."""
    if isinstance(lit, str) and dtype != "string":
        form = _ISO_LITERAL.get(dtype)
        ok = form is not None and form.fullmatch(lit)
        return _skip_key(lit, dtype, utc) if ok else None
    if isinstance(lit, _dt.datetime) and dtype in _TEMPORAL:
        return _skip_key(lit, "timestamp", utc)
    if isinstance(lit, float) or (type(lit) is int and dtype in _FLOATS):
        numeric = dtype in _ZORDER_INTS or dtype in _FLOATS
        return _skip_key(lit, "double", utc) if numeric else None
    return _skip_key(lit, dtype, utc)


def range_admits(lo, hi, op: str, t) -> bool:
    """Can some ``x`` in ``[lo, hi]`` satisfy ``x OP t``? Incomparable
    keys keep the file."""
    try:
        if op == "=":
            return lo <= t <= hi
        return SKIP_OPS[op](lo if op[0] == "<" else hi, t)
    except TypeError:
        return True


def skip_admits(lo, hi, op: str, lit, dtype: str | None, utc: bool) -> bool:
    """The skip-pruning rule of every table format (MTable manifests,
    Delta stats and partition values, Iceberg bounds and partition
    cells): False only when no value in ``[lo, hi]`` — a file's
    recorded min and max, ``lo == hi`` for a point value — can satisfy
    ``x OP lit`` the way Spark's residual filter evaluates it on a
    ``dtype`` column. None bounds, unknown types, incomparable or
    unconvertible values, and literals whose coercion
    :func:`skip_literal_key` cannot reproduce keep the file. ``utc``
    is :func:`utc_clock` of the reading session."""
    t = skip_literal_key(lit, dtype, utc)
    lo, hi = _skip_key(lo, dtype, utc), _skip_key(hi, dtype, utc)
    if t is None or lo is None or hi is None:
        return True
    if isinstance(t, float):
        lo, hi = float(lo), float(hi)
    return range_admits(lo, hi, op, t)


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    bits: int = 12,
    n_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Multi-dimensional data clustering: range-partition + sort by
    the Z-order key of :func:`zorder_sort_key` (each column
    rank-normalized from one tiny min/max agg to the driver; dates
    rank by ``unix_date``, timestamps by ``unix_micros`` — the units
    every z-order writer shares). Unlike
    :func:`write_sorted` (tight stats on ONE leading column), every
    clustered column gets selective parquet min/max stats, so scans
    filtered on ANY of them skip files/row groups. This is the
    layout side of Delta/Iceberg-style OPTIMIZE ZORDER BY, done with
    plain exprs."""
    zk = zorder_sort_key(df, cols, dict(df.dtypes), None, bits)
    keyed = df.withColumn("_zkey", zk)
    parted = (
        keyed.repartitionByRange(n_files, "_zkey")
        if n_files is not None
        else keyed.repartitionByRange("_zkey")
    )
    parted.sortWithinPartitions("_zkey").drop("_zkey").write.mode(mode).parquet(path)


def write_bucketed_table(
    df: DataFrame,
    table: str,
    path: str,
    bucket_cols: list[str],
    n_buckets: int = 16,
    mode: str = "overwrite",
) -> None:
    """Hash-bucketed, bucket-sorted catalog table — the AT-REST
    pre-shuffle. Every output file holds exactly one hash bucket of
    ``bucket_cols`` rows, sorted by the same key, and the catalog
    records that layout; a later equi-join or aggregation keyed on
    the bucket columns then consumes the files AS-IS — Catalyst
    plans a SortMergeJoin with NO Exchange under either co-bucketed
    side (plan-asserted in tests/test_operators.py). At 100 TB this
    turns a recurring fact-to-fact join from two full-table shuffles
    per run into a file-local merge paid ONCE at write time — the
    same contract as Hive bucketing / Iceberg bucket partition
    transforms, and the general form of the LSH band index
    (operators/dedup.py lsh_index_build). Both sides must use the
    SAME ``n_buckets`` (Spark only elides the exchange on matching
    bucket counts)."""
    (
        df.write.mode(mode)
        .bucketBy(n_buckets, *bucket_cols)
        .sortBy(*bucket_cols)
        .option("path", path)
        .saveAsTable(table)
    )


def compact(
    spark: SparkSession,
    path: str,
    target_files: int,
    sort_cols: list[str] | None = None,
) -> int:
    """Compact a small-files directory into ``target_files`` parquet
    files (the standing operational chore of any streaming/incremental
    sink). Returns the new file count.

    Local-filesystem tables only (swap uses POSIX renames; a remote
    object store needs its own atomic-swap/commit mechanism). Refuses
    hive-partitioned layouts — flattening them would silently destroy
    partition pruning for downstream readers. The swap renames the old
    table aside before moving the rewrite into place, so the data
    always exists in at least one complete copy.
    """
    import os
    import shutil

    path = path.rstrip("/")
    tmp = path + ".__compact_tmp"
    old = path + ".__compact_old"
    # recover from a prior crashed compact: a stale old-dir either
    # replaces a missing table (crash between the two renames) or is
    # garbage next to a live one; stale tmp is always garbage
    if os.path.isdir(old):
        if os.path.isdir(path):
            shutil.rmtree(old)
        else:
            os.rename(old, path)
    if os.path.isdir(tmp):
        shutil.rmtree(tmp)
    if any(
        "=" in d and os.path.isdir(os.path.join(path, d))
        for d in os.listdir(path)
    ):
        raise ValueError(
            f"{path} is hive-partitioned; compact per partition (or "
            "rewrite with an explicit partitionBy) instead of flattening"
        )
    df = spark.read.parquet(path)
    if sort_cols:
        write_sorted(df, tmp, list(sort_cols), n_files=target_files)
    else:
        df.repartition(target_files).write.mode("overwrite").parquet(tmp)
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    return len(
        [f for f in os.listdir(path) if f.endswith(".parquet")]
    )


def _incremental_plan(
    new_df: DataFrame,
    existing_path: str,
    key: str,
    spark: SparkSession | None = None,
) -> DataFrame:
    """Build the to-append frame for :func:`incremental_append`
    (separate so tests can audit the probe's pushed filters)."""
    from pyspark.sql import functions as F

    spark = spark or new_df.sparkSession
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    jpath = jvm.org.apache.hadoop.fs.Path(existing_path)
    fs = jpath.getFileSystem(hconf)
    fresh = new_df.dropDuplicates([key])
    if fs.exists(jpath):
        lo, hi = fresh.agg(F.min(key), F.max(key)).first()
        existing_keys = spark.read.parquet(existing_path).select(key)
        if lo is not None:
            existing_keys = existing_keys.filter(F.col(key).between(lo, hi))
        fresh = fresh.join(existing_keys, on=key, how="left_anti")
    return fresh


def _hadoop_fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jvm, jpath, jpath.getFileSystem(spark._jsc.hadoopConfiguration())


_STAGING_MARK = ".__staging__-"


def atomic_append(
    df: DataFrame,
    path: str,
    spark: SparkSession | None = None,
    on_staged=None,
) -> int:
    """Append ``df`` to a parquet directory via a stage-then-commit
    protocol instead of writing part files straight into the table.

    1. STAGE: the plan executes once into a sibling staging directory
       (``<path>.__staging__-<uuid>``) — the expensive, minutes-long
       data write happens entirely outside the table.
    2. COUNT: the appended row count is read back from the staged
       files (exact — no re-execution of a possibly non-deterministic
       plan).
    3. COMMIT: each staged part file is moved into the table with an
       atomic FileSystem.rename (metadata-only, milliseconds); the
       staging dir is then deleted.

    A crash before commit leaves the table byte-identical (the staged
    orphan is invisible — it is a *sibling*, never scanned — and is
    swept by :func:`clean_staging`). A crash mid-commit can leave a
    prefix of the batch's files; the staging dir is then deliberately
    LEFT IN PLACE (deleting it would discard the not-yet-renamed
    remainder) for :func:`clean_staging` or an operator to inspect.
    The keyed retry heals the torn table: replaying through
    :func:`incremental_append` anti-joins away the rows that landed
    and appends only the remainder — convergent, no duplicates. Bare
    ``atomic_append`` (no key) is NOT replay-safe after a torn commit:
    a blind retry would duplicate the already-renamed prefix — route
    replays through a keyed sink (:func:`incremental_append`, also as
    a ``streaming.run_foreach_batch`` handler) or a per-batch overwrite
    directory (``streaming.asof_join_stream``). The prior direct
    ``mode("append")`` write exposed the whole data-write duration as
    the torn window; this narrows it to the rename loop. (True
    multi-file atomicity needs a manifest table format — out of
    environment scope, documented trade.)

    ``on_staged`` is a test hook invoked between stage and commit
    (crash injection).
    """
    spark = spark or df.sparkSession
    import uuid

    staging = path.rstrip("/") + _STAGING_MARK + uuid.uuid4().hex
    df.write.mode("overwrite").parquet(staging)
    commit_started = False
    try:
        n = int(spark.read.parquet(staging).count())
        if on_staged is not None:
            on_staged(staging)
        if n:
            jvm, dst_dir, fs = _hadoop_fs(spark, path)
            if not fs.exists(dst_dir):
                fs.mkdirs(dst_dir)
            _, src, _ = _hadoop_fs(spark, staging)
            for status in fs.listStatus(src):
                name = status.getPath().getName()
                if name.startswith("_") or name.startswith("."):
                    continue  # _SUCCESS / committer metadata
                commit_started = True
                dst = jvm.org.apache.hadoop.fs.Path(dst_dir, name)
                if not fs.rename(status.getPath(), dst):
                    raise IOError(
                        f"atomic_append: rename {name} -> {path} failed"
                    )
    except BaseException:
        if not commit_started:
            # pre-commit failure: table untouched, stage is garbage
            _, src, fs = _hadoop_fs(spark, staging)
            fs.delete(src, True)
        # mid-commit failure: keep staging — it holds the only copy of
        # the batch's not-yet-renamed remainder
        raise
    else:
        _, src, fs = _hadoop_fs(spark, staging)
        fs.delete(src, True)
        return n


def clean_staging(spark: SparkSession, path: str) -> int:
    """Sweep orphaned staging directories left by a crash between
    stage and commit (they are siblings of ``path`` named
    ``<basename>.__staging__-*``). Returns the number removed. Safe to
    run any time — committed data never lives under a staging name."""
    jvm, jpath, fs = _hadoop_fs(spark, path.rstrip("/"))
    parent = jpath.getParent()
    if parent is None or not fs.exists(parent):
        return 0
    prefix = jpath.getName() + _STAGING_MARK
    removed = 0
    for status in fs.listStatus(parent):
        if status.getPath().getName().startswith(prefix):
            fs.delete(status.getPath(), True)
            removed += 1
    return removed


def incremental_append(
    new_df: DataFrame,
    existing_path: str,
    key: str,
    spark: SparkSession | None = None,
    on_staged=None,
) -> int:
    """Idempotent incremental ingest: append only rows whose ``key`` is
    not already present (left_anti against the existing table) — the
    fact-table cousin of dim_join_insert_missing. Returns the number
    of appended rows. Replaying the same batch is a no-op; duplicate
    keys *within* a batch are collapsed to one arbitrary row
    (dropDuplicates) so the keyed contract holds.

    Existence is checked through the Hadoop FileSystem API, so remote
    table URIs (hdfs://, s3a://) behave the same as local paths —
    a driver-local isdir() would silently skip the anti-join there
    and duplicate the whole batch.

    Scale shape: the anti-join probe is restricted to the batch's own
    key range (``key BETWEEN min(batch) AND max(batch)``) — the range
    predicate pushes down to the parquet scan, so row groups/partitions
    outside the touched range are pruned by footer stats instead of the
    probe re-reading the key column of the whole 100 TB table on every
    micro-batch. Keys outside the batch range can't anti-match anyway,
    so pruning never changes the result.

    Publication goes through :func:`atomic_append`: the anti-join
    executes once into a staging dir (also what guarantees count and
    data agree under non-deterministic inputs — no persist needed),
    then commits by atomic renames. A crash before commit publishes
    nothing; a torn commit heals on replay via this very anti-join.
    """
    fresh = _incremental_plan(new_df, existing_path, key, spark)
    return atomic_append(fresh, existing_path, spark=spark, on_staged=on_staged)


def write_time_partitioned(
    df: DataFrame,
    path: str,
    ts_col: str,
    unit: str = "day",
    part_col: str = "part_date",
    files_per_partition: int = 1,
    mode: str = "overwrite",
) -> None:
    """Hive-style time-partitioned layout: one directory per
    ``unit``-truncated date — the table format 100 TB fact tables
    live in, because a time-filtered read then PRUNES whole
    directories at planning time (PartitionFilters in the scan, zero
    I/O for untouched days).

    ``repartition(part_col)`` first, so each partition directory is
    written by at most ``files_per_partition`` tasks (no
    days × tasks small-file explosion at 1000 executors).
    """
    parted = df.withColumn(
        part_col, F.date_trunc(unit, F.col(ts_col)).cast("date")
    )
    (
        parted.repartition(files_per_partition, F.col(part_col))
        .write.mode(mode)
        .partitionBy(part_col)
        .parquet(path)
    )


def kafka_source_options(
    brokers: str,
    topics: str | Sequence[str],
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = None,
    fail_on_data_loss: bool = False,
    extra: dict[str, str] | None = None,
) -> dict[str, str]:
    """Spark Structured Streaming Kafka source options, as one audited
    dict (the config surface is the contract here — this container
    ships no Kafka broker or connector JAR, so the *wiring* is what
    can be built and tested; see :func:`read_kafka_stream`).

    ``max_offsets_per_trigger`` is the back-pressure knob — the
    message-bus analog of the file source's ``maxFilesPerTrigger``
    replay throttle (A20). ``fail_on_data_loss=False`` keeps a
    long-running job alive across retention-expired offsets (log and
    continue) — flip to True for pipelines where a gap must abort.
    """
    topic_list = [topics] if isinstance(topics, str) else list(topics)
    opts = {
        "kafka.bootstrap.servers": brokers,
        "subscribe": ",".join(topic_list),
        "startingOffsets": starting_offsets,
        "failOnDataLoss": "true" if fail_on_data_loss else "false",
    }
    if max_offsets_per_trigger is not None:
        opts["maxOffsetsPerTrigger"] = str(max_offsets_per_trigger)
    if extra:
        opts.update(extra)
    return opts


def read_kafka_stream(
    spark: SparkSession,
    brokers: str,
    topics: str | Sequence[str],
    value_schema: str | None = None,
    **kwargs,
) -> DataFrame:
    """Streaming Kafka source → DataFrame of (key string, value,
    topic, partition, offset, ts). With ``value_schema`` (a DDL
    string) the JSON value is parsed into a ``value`` struct;
    otherwise the raw value is cast to string.

    Requires the ``spark-sql-kafka`` connector package on the
    classpath; absent (as in this container) the ``load()`` raises
    Spark's data-source-not-found error — re-raised with the package
    coordinates a cluster user needs. Everything downstream of the
    source (watermarks, windows, sinks in ``streaming.ops``) is
    source-agnostic, so swapping file-replay for Kafka is this one
    call.
    """
    from pyspark.sql import functions as F

    reader = spark.readStream.format("kafka")
    for k, v in kafka_source_options(brokers, topics, **kwargs).items():
        reader = reader.option(k, v)
    try:
        raw = reader.load()
    except Exception as e:
        raise RuntimeError(
            "Kafka connector not on the classpath — submit with "
            "--packages org.apache.spark:spark-sql-kafka-0-10_2.13:<spark-version> "
            f"(underlying error: {e})"
        ) from e
    return kafka_wire_projection(raw, value_schema)


def kafka_wire_projection(
    raw: DataFrame, value_schema: str | None = None
) -> DataFrame:
    """Kafka wire frame (the connector's fixed schema: ``key``/
    ``value`` binary, ``topic``, ``partition``, ``offset``,
    ``timestamp``) → the engine's public stream shape. Split out of
    :func:`read_kafka_stream` so the contract test can drive the
    REAL projection against a mock wire source (this container ships
    no broker/connector JAR — the projection and options dict ARE
    the testable surface)."""
    from pyspark.sql import functions as F

    value = (
        F.from_json(F.col("value").cast("string"), value_schema).alias("value")
        if value_schema
        else F.col("value").cast("string").alias("value")
    )
    return raw.select(
        F.col("key").cast("string").alias("key"),
        value,
        "topic",
        "partition",
        "offset",
        F.col("timestamp").alias("ts"),
    )


def schema_diff(spark, path_a: str, path_b: str):
    """Data-contract drift detection between two parquet datasets:
    returns a DataFrame (column, change, from_type, to_type) with one
    row per added / removed / type-changed column (nested fields
    compared by their flattened dotted path, matching the engine's
    TypeAccessor-style deep flatten — schema.py). Empty result ⇒ the
    contract holds.

    Metadata-only: reads the two parquet FOOTERS, never row data —
    the 100 TB check costs two file listings. The standard gate in
    front of incremental loads (q203's fingerprint diff tells you
    WHICH partitions changed; this tells you whether their SHAPE
    still matches the contract)."""
    from dataflowex_spark.schema import schema_paths

    def fields(path: str) -> dict[str, str]:
        df = spark.read.parquet(path)
        return {
            name: dtype.simpleString()
            for name, dtype in schema_paths(df.schema)
        }

    a, b = fields(path_a), fields(path_b)
    rows = []
    for name in sorted(set(a) | set(b)):
        if name not in b:
            rows.append((name, "removed", a[name], None))
        elif name not in a:
            rows.append((name, "added", None, b[name]))
        elif a[name] != b[name]:
            rows.append((name, "type_changed", a[name], b[name]))
    return spark.createDataFrame(
        rows, "column string, change string, from_type string, to_type string"
    )


def publish_snapshot(
    tables: dict, root: str, snapshot_id: int | None = None
) -> str:
    """Cross-TABLE atomic publish: write a consistent set of tables as
    one versioned snapshot and flip a single ``_CURRENT`` pointer —
    readers never observe table A from the new load next to table B
    from the old one (the torn-read problem per-table atomic appends
    cannot solve). The Iceberg/Delta snapshot idea with filesystem
    primitives:

    - each table writes under ``root/v{id}/{name}``;
    - the pointer file flips with atomic ``os.replace`` only after
      EVERY table landed — a crash mid-publish leaves the previous
      snapshot fully served and the partial version inert on disk;
    - monotone snapshot ids make retried publishes idempotent
      (a lower-or-equal id is refused).

    Returns the snapshot directory. Read with :func:`read_snapshot`."""
    import os

    r = root.rstrip("/")
    os.makedirs(r, exist_ok=True)
    pointer = os.path.join(r, "_CURRENT")
    cur = -1
    try:
        with open(pointer) as f:
            cur = int(f.read().strip().rsplit("v", 1)[1])
    except (OSError, ValueError, IndexError):
        pass
    sid = snapshot_id if snapshot_id is not None else cur + 1
    if sid <= cur:
        raise ValueError(
            f"publish_snapshot: id {sid} already published (current {cur})"
        )
    vdir = os.path.join(r, f"v{sid}")
    for name, df in tables.items():
        df.write.mode("overwrite").parquet(os.path.join(vdir, name))
    tmp = pointer + ".tmp"
    with open(tmp, "w") as f:
        f.write(f"v{sid}")
    os.replace(tmp, pointer)
    return vdir


def read_snapshot(spark: SparkSession, root: str, name: str) -> DataFrame:
    """Read table ``name`` from the CURRENT committed snapshot (see
    :func:`publish_snapshot`)."""
    import os

    r = root.rstrip("/")
    with open(os.path.join(r, "_CURRENT")) as f:
        v = f.read().strip()
    return spark.read.parquet(os.path.join(r, v, name))


def read_csv_audited(
    spark: SparkSession,
    path: str,
    schema: str,
    corrupt_col: str = "_corrupt_record",
    **options,
):
    """Ingestion with a QUARANTINE LANE: parse CSV in PERMISSIVE mode
    with an explicit corrupt-record column, returning (good, bad) —
    good rows with the contract schema, bad rows as (raw_line) for the
    dead-letter store. The reference's left-over/dead-letter routing
    (SURVEY §2 A5) applied at the SOURCE boundary, where most real
    pipelines actually need it: a single malformed line must neither
    kill a 100 TB load (FAILFAST) nor vanish silently (DROPMALFORMED).

    The split is one cached pass: rows where the corrupt column is
    set go to ``bad``; the rest project the contract columns. Spark
    requires the corrupt column declared in the schema — appended
    here so callers pass only the business schema."""
    full_schema = f"{schema}, {corrupt_col} string"
    df = (
        spark.read.options(
            **{
                "header": "true",
                "mode": "PERMISSIVE",
                "columnNameOfCorruptRecord": corrupt_col,
                **options,
            }
        )
        .schema(full_schema)
        .csv(path)
        .cache()
    )
    bad = df.filter(F.col(corrupt_col).isNotNull()).select(
        F.col(corrupt_col).alias("raw_line")
    )
    good = df.filter(F.col(corrupt_col).isNull()).drop(corrupt_col)
    return good, bad


def hilbert_key_np(hx0, hy0, bits: int = 8):
    """HILBERT-curve key (the xy2d state machine) over int64 arrays in
    [0, 2**bits), for bounded driver-side replays (q379's cell-space
    audit, whose oracle emits the same machine as SQL CTEs)."""
    import numpy as np

    n = 1 << bits
    hx, hy = hx0.copy(), hy0.copy()
    hd = np.zeros_like(hx)
    s = n >> 1
    while s > 0:
        rx = ((hx & s) > 0).astype(np.int64)
        ry = ((hy & s) > 0).astype(np.int64)
        hd += s * s * ((3 * rx) ^ ry)
        swap = ry == 0
        flip = swap & (rx == 1)
        nx = np.where(swap, np.where(flip, n - 1 - hy, hy), hx)
        ny = np.where(swap, np.where(flip, n - 1 - hx, hx), hy)
        hx, hy = nx, ny
        s >>= 1
    return hd


def morton_key_np(mx, my, bits: int = 8):
    """Vectorized numpy twin of :func:`zorder_key`'s 2-D bit
    interleave (x → odd bits, y → even), for bounded driver-side
    replays — same placement as the q379 oracle's ``_morton_sql``."""
    import numpy as np

    mk = np.zeros_like(mx)
    for i in range(bits):
        mk |= ((mx >> i) & 1) << (2 * i + 1)
        mk |= ((my >> i) & 1) << (2 * i)
    return mk
