"""MTable: a manifest-versioned parquet table with copy-on-write
MERGE, file-level key-range pruning, time travel, and vacuum — the
storage half of the warehouse MERGE the plan half
(:func:`~dataflowex_spark.operators.etl.cdc_merge`) already provides.

Why this exists: plain directory tables cannot atomically replace a
SUBSET of their files, so an upsert either rewrites everything or
leaves readers a torn view. Table formats (Delta/Iceberg) solve this
with one idea — readers never list directories, they read an explicit
versioned manifest, and a commit is a single atomic swap of the
current-version pointer. This module implements exactly that idea on
the primitives already proven here (`manifest_ds`' write-final-files
protocol, `atomic` pointer replace), scoped to one merge key column:

- ``_v/N.manifest.json`` — version N's file list, each entry carrying
  ``(path, rows, min_key, max_key)`` stats;
- ``_CURRENT`` — the committed version number, atomically replaced;
  the swap IS the commit point (torn commits impossible: either the
  old pointer or the new one);
- data files are immutable, uuid-job-named, written ONCE to their
  final location by executors and never moved or edited — that half
  of the protocol is object-store friendly (no data-file renames).

COMMIT PROTOCOL — PLUGGABLE: a commit is exactly two store
operations, (1) put-if-absent of the fully-written version manifest
(the atomic claim; losing the race raises ``MTableConflict``) and
(2) unconditional put of ``_CURRENT``. The default
:class:`PosixCommitBackend` implements them with ``os.link`` + 
``os.replace`` (LOCAL or SHARED POSIX filesystems — NFS/Lustre/EFS);
:class:`ConditionalPutCommitBackend` implements the same protocol on
object-store primitives (conditional PUT, no renames anywhere) and
is what a real S3 (``If-None-Match: *``) / GCS
(``ifGenerationMatch=0``) backend would subclass. Data files never
need either guarantee: they are immutable, uuid-named, written once
to final locations.

MERGE is copy-on-write with FILE-LEVEL PRUNING — the property that
makes it work at 100 TB: the change-set's distinct keys are ranged
against the manifest's per-file (min_key, max_key) stats in ONE
distributed pass (keys join a broadcast frame of file ranges), so
only files that could contain a matched key are read and rewritten;
every other file is carried into the new manifest BY REFERENCE. A
trickle of CDC against a 100 TB table rewrites the handful of files
whose key ranges the changes touch, not the table. Old versions stay
readable (time travel) until ``vacuum`` drops them.

Concurrency: optimistic — ``merge``/``overwrite`` record the parent
version and the commit re-reads ``_CURRENT``; a concurrent commit in
between raises ``MTableConflict`` (retry semantics, the
Delta/Iceberg model) instead of silently clobbering.
"""

from __future__ import annotations

import json
import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

from dataflowex_spark.sources import apply_skip_filter, skip_admits, utc_clock
from dataflowex_spark.sources.footer_stats import file_stats, local_path

# Per-file Bloom index geometry (Parquet/Delta "bloom filter index"
# shape, lifted to the MANIFEST so equality probes prune whole files
# without opening any footer). 2048 bits / 5 hashes ≈ 1% FPR at ~200
# distinct values per file and degrades gracefully above that — a
# false positive only costs scanning one extra file, never a wrong
# answer (Bloom filters have no false negatives).
BLOOM_BITS = 2048
BLOOM_HASHES = 5
_BLOOM_WORDS = BLOOM_BITS // 64


def _bloom_member(words: list[int], positions: list[int]) -> bool:
    """True when every probe bit is set (value MAY be in the file);
    any clear bit proves absence."""
    return all((words[p >> 6] >> (p & 63)) & 1 for p in positions)


class MTableConflict(RuntimeError):
    """Another writer committed between this operation's snapshot and
    its commit attempt — re-run against the new current version."""


class MTableCheckViolation(RuntimeError):
    """Data rejected by a declared CHECK constraint — the commit did
    not happen; nothing became visible (orphaned staging files are
    reclaimed by ``vacuum(delete_orphans=True)``)."""


def _jsonable(v):
    """Manifest stat values must round-trip through JSON. Primitives
    pass through; date/datetime become ISO strings, which
    :func:`sources.skip_admits` and :func:`sources.zorder_stat_num`
    parse by the column's type; anything else goes through str()."""
    if v is None or isinstance(v, (int, float, str, bool)):
        return v
    return str(v)


def _entry_stats(e: dict, key_col: str, cols: list[str]) -> dict:
    """One manifest entry's recorded ``{col: (min, max)}`` (the key's
    from ``min_key``/``max_key``, the rest from ``col_stats``;
    ``(None, None)`` where the entry records none)."""
    st = e.get("col_stats") or {}
    return {
        c: (e["min_key"], e["max_key"])
        if c == key_col
        else tuple(st.get(c, (None, None)))
        for c in cols
    }


def _zorder_file_bounds(m: dict, cols: list[str]):
    """Per-file stats of manifest ``m`` for
    :func:`sources.fold_zorder_bounds`: None for an entry carrying a
    deletion vector or equality deletes, whose stats still count the
    deleted rows the scan drops."""
    for e in m["files"]:
        yield (
            None
            if e.get("dv") or e.get("eq")
            else _entry_stats(e, m["key_col"], cols)
        )


def _atomic_write(path: str, content: str) -> None:
    d = os.path.dirname(path) or "."
    fd, tmp = tempfile.mkstemp(dir=d, prefix=".mtable_")
    try:
        with os.fdopen(fd, "w") as f:
            f.write(content)
        os.replace(tmp, path)
    except BaseException:
        if os.path.exists(tmp):
            os.unlink(tmp)
        raise


from dataflowex_spark.sources.commit_backend import (  # noqa: F401
    ConditionalPutCommitBackend,
    PosixCommitBackend,
)


class MTable:
    """Handle to an MTable rooted at ``root``. Use :meth:`create` to
    initialize, then :meth:`read` / :meth:`merge` / :meth:`overwrite` /
    :meth:`vacuum`."""

    def __init__(
        self, spark: SparkSession, root: str, commit_backend=None
    ):
        self.spark = spark
        # one spelling of the root (see footer_stats.local_path):
        # manifest entries, DV and bloom keys and vacuum's walk all
        # derive from it, and Spark resolves no relative path itself
        self.root = local_path(root)
        self.commit_backend = commit_backend or PosixCommitBackend()

    # -- metadata ------------------------------------------------------

    def _vdir(self) -> str:
        return os.path.join(self.root, "_v")

    def current_version(self) -> int:
        with open(os.path.join(self.root, "_CURRENT")) as f:
            return int(f.read().strip())

    def versions(self) -> list[int]:
        """Every manifest ON DISK, including (transiently) a version
        another writer has claimed but not yet pointed ``_CURRENT``
        at. Read paths that must see only durable state use
        :meth:`committed_versions`."""
        out = []
        for n in os.listdir(self._vdir()):
            if n.endswith(".manifest.json"):
                out.append(int(n.split(".")[0]))
        return sorted(out)

    def committed_versions(self) -> list[int]:
        """Kept versions that are actually COMMITTED (<= _CURRENT) —
        an in-flight claim of version N+1 is not readable state."""
        cur = self.current_version()
        return [v for v in self.versions() if v <= cur]

    def manifest(self, version: int | None = None) -> dict:
        v = self.current_version() if version is None else version
        p = os.path.join(self._vdir(), f"{v}.manifest.json")
        with open(p) as f:
            return json.load(f)

    # -- data-file authoring ------------------------------------------

    def _write_data_files(
        self,
        df: DataFrame,
        key_col: str,
        n_files: int | None = None,
        stats_cols: list[str] | None = None,
        sort_expr=None,
        bloom_cols: list[str] | None = None,
        range_bounds: list | None = None,
    ) -> list[dict]:
        """Write ``df`` as immutable parquet files under a fresh
        job directory (final names — never moved) and return manifest
        entries with per-file key stats. ``n_files`` range-partitions
        by the key first — rewritten files get tight DISJOINT key
        ranges (what keeps future merges' pruning sharp) and the file
        count tracks the rewrite size instead of
        ``spark.sql.shuffle.partitions``. ``sort_expr`` overrides the
        clustering (the Z-order path: range-partition + sort by the
        Morton key instead of the merge key). ``stats_cols`` adds
        per-file [min, max] for secondary columns to each entry
        (``col_stats``) so :meth:`read_where` can prune on
        conjunctions. The stats pass reads only the needed columns
        (column-pruned scan). Zero-row part files are dropped from
        the manifest (and are inert until vacuum).

        ``bloom_cols`` additionally records a per-file BLOOM BITMAP
        (``BLOOM_BITS`` bits packed as ``_BLOOM_WORDS`` signed-64
        words) per listed column — the min/max complement: range
        stats prune RANGE predicates on clustered columns, blooms
        prune EQUALITY probes on columns with no useful ordering
        (the classic point lookup on a non-cluster key, where every
        file's [min,max] straddles the value). Values are hashed
        through ``xxhash64(cast(v AS STRING), seed)`` so the probe
        side can rebuild positions for any literal without caring
        about the physical column type. One extra column-pruned scan
        over the just-written files computes ALL requested blooms
        (stacked), with map-side-combining ``bit_or`` partials; the
        collect is bounded at files × words × columns."""
        job = os.path.join(self.root, "data", f"job-{uuid.uuid4().hex}")
        scols = list(stats_cols or [])
        bucketed = False
        if sort_expr is not None:
            keyed = df.withColumn("__zk", sort_expr)
            parts = max(1, n_files or 1)
            df = (
                keyed.repartitionByRange(parts, "__zk")
                .sortWithinPartitions("__zk")
                .drop("__zk")
            )
        elif range_bounds is not None:
            # MANIFEST-KNOWN range bounds instead of sampling:
            # repartitionByRange must SAMPLE its input, which is a
            # full extra pass over ``df`` — and an un-materialized
            # upstream (the whole MERGE computation) runs TWICE. The
            # rewritten files' key ranges are already known from the
            # manifest, so bucket rows by those sorted upper bounds
            # (bucket = #bounds strictly below the key) and let the
            # dynamic-partition writer emit one file per bucket:
            # ranges stay DISJOINT by construction with ZERO sampling
            # jobs (guide §1.2/§6). One-partition-per-bucket keeps a
            # bucket's rows in a single task, hence a single file.
            n_buckets = len(range_bounds) + 1
            if range_bounds:
                bnd = F.array(*[F.lit(b) for b in range_bounds])
                bucket = F.size(
                    F.filter(bnd, lambda b: F.col(key_col) > b)
                )
            else:
                bucket = F.lit(0)
            df = df.withColumn("__bucket", bucket).repartition(
                n_buckets, "__bucket"
            )
            df.write.partitionBy("__bucket").parquet(job)
            # flatten the hive dirs into the job root with the bucket
            # id prefixed: a task writing two buckets emits the SAME
            # basename under both dirs (same task id + job uuid), and
            # downstream zero-copy exports map files BY BASENAME —
            # unique flat names keep every consumer's layout
            # assumptions intact. Rename is same-filesystem metadata.
            for d in sorted(os.listdir(job)):
                full = os.path.join(job, d)
                if not (d.startswith("__bucket=") and os.path.isdir(full)):
                    continue
                b = d.split("=", 1)[1]
                for fn in sorted(os.listdir(full)):
                    if fn.endswith(".parquet"):
                        os.rename(
                            os.path.join(full, fn),
                            os.path.join(job, f"b{b}-{fn}"),
                        )
                    else:
                        # .crc sidecars would no longer match the
                        # renamed data file; readers don't need them
                        os.unlink(os.path.join(full, fn))
                os.rmdir(full)
            bucketed = True
        elif n_files is not None:
            df = df.repartitionByRange(max(1, n_files), key_col)
        if not bucketed:
            df.write.parquet(job)
        stat_cols = list(dict.fromkeys([key_col] + scols))
        stats = file_stats(self.spark, job, stat_cols)
        entries = []
        for r in stats:
            e = {
                "path": r["path"],
                "rows": r["__rows"],
                "min_key": _jsonable(r[f"__mn_{key_col}"]),
                "max_key": _jsonable(r[f"__mx_{key_col}"]),
            }
            if scols:
                e["col_stats"] = {
                    c: [
                        _jsonable(r[f"__mn_{c}"]),
                        _jsonable(r[f"__mx_{c}"]),
                    ]
                    for c in scols
                }
            entries.append(e)
        bcols = list(bloom_cols or [])
        if bcols:
            reader = self.spark.read.parquet(job)
            stacked = (
                reader.select(
                    F.input_file_name().alias("path"),
                    F.explode(
                        F.array(
                            *[
                                F.struct(
                                    F.lit(c).alias("c"),
                                    F.col(c).cast("string").alias("v"),
                                )
                                for c in bcols
                            ]
                        )
                    ).alias("cv"),
                )
                .select(
                    "path",
                    F.col("cv.c").alias("c"),
                    F.col("cv.v").alias("v"),
                )
                .where(F.col("v").isNotNull())
            )
            word_rows = (
                stacked.select(
                    "path",
                    "c",
                    F.explode(
                        F.array(
                            *[
                                F.pmod(
                                    F.xxhash64("v", F.lit(i)),
                                    F.lit(BLOOM_BITS),
                                )
                                for i in range(BLOOM_HASHES)
                            ]
                        )
                    ).alias("p"),
                )
                .groupBy("path", "c", F.shiftright("p", 6).alias("w"))
                .agg(
                    F.expr("bit_or(shiftleft(1L, int(p % 64)))").alias("m")
                )
                .collect()
            )
            by_file: dict[str, dict[str, list[int]]] = {}
            for r in word_rows:
                words = by_file.setdefault(
                    local_path(r["path"]), {}
                ).setdefault(r["c"], [0] * _BLOOM_WORDS)
                words[int(r["w"])] = int(r["m"])
            for e in entries:
                fb = by_file.get(e["path"], {})
                e["blooms"] = {
                    c: fb.get(c, [0] * _BLOOM_WORDS) for c in bcols
                }
        return sorted(entries, key=lambda e: e["path"])

    def _commit(
        self,
        entries: list[dict],
        key_col: str,
        parent: int | None,
        stream_batch: tuple[str, int] | None = None,
        stats_cols: list[str] | None = None,
        schema: dict | None = None,
        checks: dict | None = None,
        bloom_cols: list[str] | None = None,
    ) -> int:
        """Cut manifest parent+1 and atomically swap ``_CURRENT``.
        Optimistic check: someone else advancing the table between our
        snapshot and this commit raises :class:`MTableConflict`.
        ``stream_batch=(app_id, batch_id)`` records the highest
        committed micro-batch per streaming writer in the manifest —
        the transactional-version idiom that makes an at-least-once
        ``foreachBatch`` replay detectable (and hence exactly-once).

        The atomic step is CLAIMING THE VERSION FILE: the manifest is
        written complete to a temp file, then ``os.link``-ed to
        ``_v/N.manifest.json`` — link fails with ``FileExistsError``
        when another writer already claimed N, which maps to
        :class:`MTableConflict`. A plain check-then-``os.replace``
        would let two writers that both read parent=N silently
        overwrite each other's v(N+1); the exclusive link closes that
        window (and a crash mid-write leaves only an invisible temp
        file, never a partial manifest)."""
        cur_path = os.path.join(self.root, "_CURRENT")
        if parent is not None and os.path.exists(cur_path):
            if self.current_version() != parent:
                raise MTableConflict(
                    f"table advanced past v{parent} during the operation"
                )
        v = 1 if parent is None else parent + 1
        batches = {}
        inherited_stats: list[str] = []
        inherited_blooms: list[str] = []
        inherited_schema: dict | None = None
        inherited_checks: dict = {}
        if parent is not None:
            pm = self.manifest(parent)
            batches = dict(pm.get("stream_batches", {}))
            inherited_stats = list(pm.get("stats_cols", []))
            inherited_blooms = list(pm.get("bloom_cols", []))
            inherited_schema = pm.get("schema")
            inherited_checks = dict(pm.get("checks", {}))
        if stream_batch is not None:
            batches[stream_batch[0]] = stream_batch[1]
        import time as _time

        manifest = {
            "version": v,
            "parent": parent,
            "committed_at": _time.time(),
            "key_col": key_col,
            "stats_cols": (
                list(stats_cols) if stats_cols is not None else inherited_stats
            ),
            "bloom_cols": (
                list(bloom_cols)
                if bloom_cols is not None
                else inherited_blooms
            ),
            "schema": schema if schema is not None else inherited_schema,
            "checks": checks if checks is not None else inherited_checks,
            "stream_batches": batches,
            "files": entries,
        }
        os.makedirs(self._vdir(), exist_ok=True)
        mpath = os.path.join(self._vdir(), f"{v}.manifest.json")
        payload = json.dumps(manifest, indent=1)
        for attempt in (0, 1):
            try:
                self.commit_backend.put_if_absent(mpath, payload)
                break
            except FileExistsError:
                # inspect the claimant: a writer that died BETWEEN its
                # claim and its pointer swap must not wedge the table
                # forever (every retry would hit v again)
                try:
                    with open(mpath) as f:
                        json.load(f)
                    complete = True
                except (OSError, ValueError):
                    complete = False
                if not complete and attempt == 0:
                    # torn manifest from a crashed writer (possible
                    # only with a non-atomic backend): quarantine the
                    # junk and retry the claim once
                    try:
                        os.unlink(mpath)
                    except OSError:
                        pass
                    continue
                if complete and self.current_version() < v:
                    # the claimant finished its manifest but never
                    # swapped the pointer: ROLL ITS COMMIT FORWARD
                    # (its data files were fully written before the
                    # claim), then report the conflict as usual — the
                    # table has advanced, our parent is stale
                    self.commit_backend.put(cur_path, str(v))
                raise MTableConflict(
                    f"another writer already committed v{v}"
                ) from None
        self.commit_backend.put(cur_path, str(v))
        return v

    # -- operations ----------------------------------------------------

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        root: str,
        df: DataFrame,
        key_col: str,
        stats_cols: list[str] | None = None,
        commit_backend=None,
        bloom_cols: list[str] | None = None,
    ) -> "MTable":
        """``stats_cols`` declares secondary columns whose per-file
        [min, max] every subsequent commit records in the manifest —
        the metadata that lets :meth:`read_where` prune on
        conjunctions (e.g. key BETWEEN × date BETWEEN).
        ``commit_backend`` swaps the two-operation commit protocol
        (default POSIX link/rename; see
        :class:`ConditionalPutCommitBackend` for the object-store
        shape). ``bloom_cols`` declares columns that get a PER-FILE
        BLOOM BITMAP in every commit's manifest — equality-probe file
        pruning on non-clustered columns (see :meth:`read_where`'s
        ``eq``)."""
        t = cls(spark, root, commit_backend=commit_backend)
        entries = t._write_data_files(
            df, key_col, stats_cols=stats_cols, bloom_cols=bloom_cols
        )
        t._commit(
            entries,
            key_col,
            parent=None,
            stats_cols=stats_cols,
            schema=df.schema.jsonValue(),
            bloom_cols=bloom_cols,
        )
        return t

    def table_schema(self, version: int | None = None):
        """The committed table schema (a StructType), or None for
        manifests predating schema tracking."""
        sj = self.manifest(version).get("schema")
        if sj is None:
            return None
        from pyspark.sql.types import StructType

        return StructType.fromJson(sj)

    def _read_paths(self, paths: list[str], version: int | None = None):
        """Read data files UNDER THE COMMITTED SCHEMA: files written
        before a metadata-only :meth:`add_column` lack the new column
        physically, and the explicit schema makes the parquet reader
        null-fill it — the mechanism that lets ADD COLUMN cost one
        manifest write instead of a table rewrite. (Also skips footer
        schema inference, which at 100 TB is itself a win.)"""
        schema = self.table_schema(version)
        r = self.spark.read
        if schema is not None:
            r = r.schema(schema)
        return r.parquet(*paths)

    def _read_entries(
        self, entries: list[dict], version: int | None = None
    ) -> DataFrame:
        """DV-aware read of a set of manifest entries: files without a
        deletion vector scan exactly as before; files WITH one scan
        with the parquet reader's ``_metadata.file_path`` /
        ``_metadata.row_index`` exposed and LEFT-ANTI join the
        (broadcast) DV positions — merge-on-read, the Delta/Iceberg
        "position delete" read path. Data files are immutable and
        uuid-named, so a physical row index identifies a row forever
        and a stale DV row (for a path no longer scanned) can never
        match anything. The anti join is broadcast because a DV is
        bounded by the deleted-row count of a handful of files —
        tables whose DVs grow large should fold them with
        :meth:`apply_deletion_vectors` (ratio-gated maintenance),
        which is also what keeps this plan honest at 100 TB."""
        plain = [
            e for e in entries if not e.get("dv") and not e.get("eq")
        ]
        dved = [e for e in entries if e.get("dv") or e.get("eq")]
        parts = []
        if plain:
            parts.append(
                self._read_paths(sorted(e["path"] for e in plain), version)
            )
        if dved:
            df = self._read_paths(
                sorted(e["path"] for e in dved), version
            )
            cols = df.columns
            dv_files = sorted(
                {e["dv"] for e in dved if e.get("dv")}
            )
            if dv_files:
                df = df.select(
                    *cols,
                    F.col("_metadata.file_path").alias("__fp"),
                    F.col("_metadata.row_index").alias("__ri"),
                )
                dv = self.spark.read.parquet(*dv_files).select(
                    F.col("file_path").alias("__fp"),
                    F.col("row_index").alias("__ri"),
                )
                df = df.join(
                    F.broadcast(dv), ["__fp", "__ri"], "left_anti"
                ).select(*cols)
            eq_files = sorted(
                {p for e in dved for p in e.get("eq", [])}
            )
            if eq_files:
                key_col = self.manifest(version)["key_col"]
                dead = self.spark.read.parquet(*eq_files).select(key_col)
                df = df.join(F.broadcast(dead), key_col, "left_anti")
            parts.append(df)
        if not parts:
            raise ValueError("mtable: no files to read")
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def read(self, version: int | None = None) -> DataFrame:
        m = self.manifest(version)
        if not m["files"]:
            raise ValueError(f"mtable v{m['version']} lists no files")
        return self._read_entries(m["files"], version)

    def add_column(self, name: str, dtype: str) -> int:
        """METADATA-ONLY schema evolution: commit a new version with
        the same file list and ``name dtype`` appended to the table
        schema (nullable). No data file is touched — existing rows
        read back NULL via the explicit-schema read; the next
        :meth:`merge` may then populate the column (rewritten files
        carry real values, carried files keep null-filling). This is
        the Delta/Iceberg ADD COLUMN cost model: O(manifest), never
        O(table)."""
        m = self.manifest()
        schema = self.table_schema()
        if schema is None:
            schema = self.read().schema
        if name in schema.fieldNames():
            raise ValueError(f"add_column: column {name!r} already exists")
        new_schema = schema.add(name, dtype, True)
        return self._commit(
            m["files"],
            m["key_col"],
            parent=m["version"],
            schema=new_schema.jsonValue(),
        )

    def read_where(
        self,
        lo=None,
        hi=None,
        version: int | None = None,
        where: dict | None = None,
        eq: dict | None = None,
    ) -> DataFrame:
        """Range read with MANIFEST-LEVEL file pruning: only files
        whose recorded ranges intersect EVERY requested range are
        scanned at all — the same skip parquet row-group stats give
        WITHIN a file, lifted to the file list so Spark never even
        opens the others (at 100 TB the difference between "open 100k
        footers" and "open 12"). The residual per-row predicates are
        still applied (file ranges are necessary, not sufficient) and
        push down into the pruned scans.

        ``lo``/``hi`` bound the merge key (as before); ``where`` adds
        conjunctive ``{col: (lo, hi)}`` ranges pruned against the
        per-file ``col_stats`` recorded when the table declared
        ``stats_cols`` (files predating the declaration, or columns
        never declared, are conservatively kept and filtered
        row-wise). Combine with :meth:`optimize_zorder` so ONE layout
        gives tight file ranges on every clustered column.

        ``eq`` adds conjunctive ``{col: value}`` EQUALITY probes
        pruned against the per-file Bloom bitmaps recorded when the
        table declared ``bloom_cols`` — the point-lookup complement
        to range stats: on a column the layout does NOT cluster,
        every file's [min,max] straddles the probe value and range
        pruning keeps everything, while the bloom proves absence for
        all but the (few, FPR-bounded) files that may contain it.
        Bloom pruning is sound (no false negatives), and the residual
        ``col == value`` predicate still applies row-wise and pushes
        into the pruned scans. Columns without a recorded bloom are
        conservatively kept.

        Range pruning is the rule every table format shares,
        :func:`sources.skip_admits` (see :meth:`prune_files`)."""
        specs = self._skip_specs(lo, hi, version, where, eq)
        if not specs:
            return self.read(version)
        files = self.prune_files(
            lo, hi, version=version, where=where, eq=eq
        )
        if not files:
            return self.read(version).filter(F.lit(False))
        fset = set(files)
        out = self._read_entries(
            [e for e in self.manifest(version)["files"] if e["path"] in fset],
            version,
        )
        return apply_skip_filter(out, specs)

    def _skip_specs(self, lo, hi, version, where, eq) -> list[tuple]:
        """``lo``/``hi`` (the merge key), ``where`` ranges and ``eq``
        probes as one ``(col, op, value)`` conjunction: inclusive
        bounds become ``>=``/``<=``, probes ``=``."""
        key_col = self.manifest(version)["key_col"]
        ranges = [(key_col, lo, hi)]
        ranges += [(c, clo, chi) for c, (clo, chi) in (where or {}).items()]
        specs = [
            (c, op, v)
            for c, clo, chi in ranges
            for op, v in ((">=", clo), ("<=", chi))
            if v is not None
        ]
        return specs + [(c, "=", v) for c, v in (eq or {}).items()]

    def _bloom_probe_positions(self, col: str, value, version=None):
        """The ``BLOOM_HASHES`` bit positions a literal probe value
        maps to — computed with the SAME Spark expressions the write
        path hashed with (``xxhash64(cast(lit AS <coltype>) AS
        STRING, seed)``), via a one-row local job, so there is no
        Python reimplementation of xxhash64 to drift. The literal is
        first cast to the table's column type so ``eq={"k": 5}``
        probes a bigint column identically to how its values were
        hashed."""
        schema = self.table_schema(version)
        lit = F.lit(value)
        if schema is not None and col in schema.fieldNames():
            lit = lit.cast(schema[col].dataType)
        probe = lit.cast("string")
        row = self.spark.range(1).select(
            *[
                F.pmod(F.xxhash64(probe, F.lit(i)), F.lit(BLOOM_BITS))
                .cast("int")
                .alias(f"p{i}")
                for i in range(BLOOM_HASHES)
            ]
        ).first()
        return [row[f"p{i}"] for i in range(BLOOM_HASHES)]

    def prune_files(
        self, lo=None, hi=None, version: int | None = None,
        where: dict | None = None,
        eq: dict | None = None,
    ) -> list[str]:
        """The file list surviving manifest-level pruning for the
        given conjunctive ranges — the observable the 2-D pruning
        tests and probes pin (``len(prune_files(...)) <
        len(manifest.files)`` is the win). ``eq`` values prune via
        per-file Bloom bitmaps and, like the ``lo``/``hi``/``where``
        bounds (as ``=``, ``>=`` and ``<=``), through
        :func:`sources.skip_admits` on the entry's recorded
        ``[min, max]``: a file drops only when no value in its range
        can match the way Spark's residual filter compares it under
        the table's column type. Missing stats, a manifest without a
        schema, and bounds whose Spark cast the helper cannot
        reproduce keep the file."""
        m = self.manifest(version)
        specs = self._skip_specs(lo, hi, version, where, eq)
        schema = self.table_schema(version)
        dtypes = {
            f.name: f.dataType.simpleString()
            for f in (schema.fields if schema is not None else [])
        }
        utc = utc_clock(self.spark)
        cols = sorted({c for c, _op, _v in specs})
        eq_probes = [
            (c, self._bloom_probe_positions(c, v, version))
            for c, v in (eq or {}).items()
        ]

        def keep(e: dict) -> bool:
            for c, positions in eq_probes:
                words = e.get("blooms", {}).get(c)
                if words is None:
                    continue  # no bloom recorded -> cannot exclude
                if not _bloom_member(words, positions):
                    return False
            stats = _entry_stats(e, m["key_col"], cols)
            return all(
                skip_admits(*stats[c], op, v, dtypes.get(c), utc)
                for c, op, v in specs
            )

        return [e["path"] for e in m["files"] if keep(e)]

    def history(self) -> list[dict]:
        """One summary row per kept version (oldest first): version,
        parent, file count, LIVE rows (physical minus deletion-vector
        positions — what read() returns), DV debt, committed stream
        batches — the table's audit log."""
        out = []
        for v in self.committed_versions():
            m = self.manifest(v)
            dv_rows = sum(e.get("dv_rows", 0) for e in m["files"])
            out.append(
                {
                    "version": m["version"],
                    "parent": m["parent"],
                    "committed_at": m.get("committed_at"),
                    "n_files": len(m["files"]),
                    "rows": sum(e["rows"] for e in m["files"]) - dv_rows,
                    "dv_rows": dv_rows,
                    "stream_batches": dict(m.get("stream_batches", {})),
                }
            )
        return out

    def metadata_agg(
        self, cols: list[str] | None = None, version: int | None = None
    ) -> dict:
        """ZERO-SCAN aggregates answered from the manifest alone —
        the Delta/Iceberg metadata-only query: COUNT(*) from per-file
        row counts (minus position-DV debt, which records EXACT
        per-file deletions), MIN/MAX of the cluster key and any
        ``stats_cols`` from the per-file stats. No data file is
        opened; the cost is the manifest read, flat in table size.

        Exactness guards (refuse rather than silently approximate):

        - COUNT raises if any EQUALITY-delete sidecar is attached —
          a key list gives no per-file live count without a scan
          (fold with :meth:`apply_deletion_vectors` first);
        - MIN/MAX raise if ANY delete (DV or sidecar) exists: a
          delete may have removed the extremal row, demoting the
          stored stat from exact value to bound. COUNT alone still
          works under position DVs.
        """
        m = self.manifest(version)
        files = m["files"]
        if any(e.get("eq") for e in files):
            raise ValueError(
                "metadata_agg: equality-delete sidecars present — "
                "per-file live counts unknown without a scan; fold "
                "them first (apply_deletion_vectors)"
            )
        out = {
            "rows": sum(e["rows"] for e in files)
            - sum(e.get("dv_rows", 0) for e in files)
        }
        wanted = list(cols or [])
        if any(e.get("dv") for e in files):
            # min/max demote to bounds under any delete; COUNT stays
            # exact (DV positions are exact per file) — return it alone
            if wanted:
                raise ValueError(
                    "metadata_agg: deletes present — stored min/max "
                    "are bounds, not exact values; fold first or scan"
                )
            return out
        if files:
            out["min_key"] = min(e["min_key"] for e in files)
            out["max_key"] = max(e["max_key"] for e in files)
        for c in wanted:
            stats = [e.get("col_stats", {}).get(c) for e in files]
            if any(s is None for s in stats) or not stats:
                raise ValueError(
                    f"metadata_agg: no per-file stats for {c!r} — "
                    "create/compact the table with stats_cols"
                )
            out[f"min_{c}"] = min(s[0] for s in stats)
            out[f"max_{c}"] = max(s[1] for s in stats)
        return out

    def add_check(self, name: str, expr: str) -> int:
        """Declare a CHECK constraint (a SQL boolean expression over
        the table's columns) as a metadata commit. SQL CHECK
        semantics: a row violates only when the expression is FALSE
        (NULL/unknown passes). The STANDING data must already satisfy
        it — add_check scans once and refuses otherwise — and every
        subsequent merge/overwrite validates its newly written files
        BEFORE committing, so a bad change-set raises
        :class:`MTableCheckViolation` and nothing becomes visible.
        Validation cost tracks the rewrite, never the table."""
        m = self.manifest()
        checks = dict(m.get("checks", {}))
        if name in checks:
            raise ValueError(f"add_check: constraint {name!r} exists")
        bad = self.read().filter(f"({expr}) = false").count()
        if bad:
            raise MTableCheckViolation(
                f"existing data violates {name!r} ({expr}): {bad} rows"
            )
        checks[name] = expr
        return self._commit(
            m["files"], m["key_col"], parent=m["version"], checks=checks
        )

    def _validate_new_files(self, entries: list[dict]) -> None:
        """One aggregate pass evaluating every declared CHECK over
        freshly written (not yet committed) files; raises with the
        per-check violation counts."""
        checks = self.manifest().get("checks", {})
        paths = [e["path"] for e in entries]
        if not checks or not paths:
            return
        row = (
            self._read_paths(sorted(paths))
            .agg(
                *[
                    F.count(
                        F.when(F.expr(e) == F.lit(False), F.lit(1))
                    ).alias(n)
                    for n, e in checks.items()
                ]
            )
            .first()
        )
        bad = {n: row[n] for n in checks if row[n]}
        if bad:
            raise MTableCheckViolation(
                "change-set violates CHECK constraint(s) "
                + ", ".join(
                    f"{n} ({checks[n]}): {c} rows" for n, c in bad.items()
                )
            )

    def merge_retry(
        self,
        changes: DataFrame,
        ts_col: str,
        op_col: str,
        tie_col: str,
        value_cols: list[str],
        max_attempts: int = 5,
        stream_batch: tuple[str, int] | None = None,
    ) -> int:
        """Optimistic-concurrency retry loop around :meth:`merge` —
        the Delta/Iceberg commit-retry semantics: on
        :class:`MTableConflict` the merge re-runs against the NEW
        current version (re-pruning against the winner's manifest, so
        disjoint writers serialize correctly). ``changes`` must be
        re-evaluable (a deterministic plan or checkpointed frame).
        Raises the last conflict after ``max_attempts``."""
        last: MTableConflict | None = None
        for _ in range(max_attempts):
            try:
                return self.merge(
                    changes,
                    ts_col,
                    op_col,
                    tie_col,
                    value_cols,
                    stream_batch=stream_batch,
                )
            except MTableConflict as e:
                last = e
        raise MTableConflict(
            f"merge_retry: gave up after {max_attempts} attempts"
        ) from last

    def with_retry(self, op, max_attempts: int = 5):
        """Commit-retry for ANY optimistic table operation — the
        :meth:`merge_retry` semantics generalized to deletes and
        maintenance: ``op`` is a zero-arg callable issuing one
        operation against the CURRENT version (e.g.
        ``lambda: t.delete_where(pred)``); on :class:`MTableConflict`
        it re-runs against the winner's manifest. The callable must
        be re-evaluable (deterministic plan or checkpointed inputs).
        Returns op's result; raises the last conflict after
        ``max_attempts``."""
        last: MTableConflict | None = None
        for _ in range(max_attempts):
            try:
                return op()
            except MTableConflict as e:
                last = e
        raise MTableConflict(
            f"with_retry: gave up after {max_attempts} attempts"
        ) from last

    def restore(self, version: int) -> int:
        """Delta-style RESTORE: make an earlier committed version's
        state current again AS A NEW COMMIT — the target's file list
        (and schema/stats metadata) is re-committed on top of the
        history, so the bad versions in between stay visible for
        audit and the operation itself is just one manifest write
        (files re-enter BY REFERENCE; nothing is copied). The
        standard answer to 'the last merge was wrong, roll back
        without losing the audit trail'. Returns the new version."""
        if version not in self.committed_versions():
            raise ValueError(f"restore: v{version} is not committed")
        cur = self.manifest()
        m = self.manifest(version)
        return self._commit(
            m["files"],
            m["key_col"],
            parent=cur["version"],
            stats_cols=m.get("stats_cols"),
            schema=m.get("schema"),
            checks=m.get("checks"),
            bloom_cols=m.get("bloom_cols"),
        )

    def clone(self, dest_root: str, version: int | None = None) -> "MTable":
        """Delta-style SHALLOW CLONE: a new table whose v1 manifest
        references the source's data files BY PATH — zero bytes
        copied, one manifest write, at any committed source version.
        After the clone, the two tables diverge freely: each writes
        new files under its OWN root, so merges/compactions on one
        never appear in the other. The standard way to fork a 100 TB
        table for an experiment in O(metadata).

        Caveat (same as Delta shallow clones): the clone borrows the
        source's files, so a ``vacuum`` on the SOURCE can delete
        files the clone still references. Retain the source, deep-copy
        later, or vacuum only with the clone's horizon in mind."""
        if os.path.exists(os.path.join(dest_root, "_CURRENT")):
            raise ValueError(f"clone destination {dest_root} already exists")
        m = self.manifest(version)
        dest = MTable(
            self.spark, dest_root, commit_backend=self.commit_backend
        )
        os.makedirs(dest_root, exist_ok=True)
        dest._commit(
            m["files"],
            m["key_col"],
            parent=None,
            stats_cols=m.get("stats_cols"),
            schema=m.get("schema"),
            checks=m.get("checks"),
            bloom_cols=m.get("bloom_cols"),
        )
        return dest

    def version_as_of(self, ts: float) -> int:
        """TIME-TRAVEL BY TIMESTAMP: the version current at unix time
        ``ts`` — the largest kept version committed at or before it
        (``read(version_as_of(t))`` is Delta's ``TIMESTAMP AS OF``).
        Raises for a time before the first kept commit (vacuum moves
        the reachable horizon forward, same retention semantics as
        version travel)."""
        best = None
        for v in self.committed_versions():
            ca = self.manifest(v).get("committed_at")
            if ca is not None and ca <= ts:
                best = v
        if best is None:
            raise ValueError(
                f"no kept version committed at or before {ts}"
            )
        return best

    def overwrite(self, df: DataFrame) -> int:
        m = self.manifest()
        entries = self._write_data_files(
            df,
            m["key_col"],
            stats_cols=m.get("stats_cols"),
            bloom_cols=m.get("bloom_cols"),
        )
        self._validate_new_files(entries)
        return self._commit(
            entries,
            m["key_col"],
            parent=m["version"],
            schema=df.schema.jsonValue(),
        )

    def affected_files(self, changes: DataFrame) -> list[dict]:
        """The manifest entries whose [min_key, max_key] range could
        contain a change key — decided in ONE distributed pass: the
        change-set's distinct keys are joined against a BROADCAST
        frame of the (file, range) stats, and only the distinct hit
        file ids come back to the driver (bounded by file count, the
        same size as the manifest itself)."""
        m = self.manifest()
        key_col = m["key_col"]
        rows = [
            (i, e["min_key"], e["max_key"])
            for i, e in enumerate(m["files"])
            if e["min_key"] is not None
        ]
        if not rows:
            return []
        # schema inferred from the manifest values — key stats keep
        # whatever type the key column has (long, string, ...)
        ranges = self.spark.createDataFrame(
            rows, ["fid", "min_key", "max_key"]
        )
        hits = (
            changes.select(F.col(key_col).alias("__k"))
            .distinct()
            .join(
                F.broadcast(ranges),
                (F.col("__k") >= F.col("min_key"))
                & (F.col("__k") <= F.col("max_key")),
            )
            .select("fid")
            .distinct()
            .collect()
        )
        hit_ids = {r["fid"] for r in hits}
        return [e for i, e in enumerate(m["files"]) if i in hit_ids]

    def last_stream_batch(self, app_id: str) -> int:
        """Highest micro-batch id ``app_id`` has committed (−1 if
        none) — the replay guard for streaming writers."""
        return self.manifest().get("stream_batches", {}).get(app_id, -1)

    def merge(
        self,
        changes: DataFrame,
        ts_col: str,
        op_col: str,
        tie_col: str,
        value_cols: list[str],
        stream_batch: tuple[str, int] | None = None,
    ) -> int:
        """Copy-on-write MERGE: apply a CDC change-set (latest-wins
        per key; op 'D' deletes, others upsert — exactly
        :func:`~dataflowex_spark.operators.etl.cdc_merge` semantics)
        and commit a new version that rewrites ONLY the key-range-
        affected files; all other files carry forward by reference.
        Insert-only keys (matching no file's range) land in the
        rewritten file set. Returns the new version number."""
        from dataflowex_spark.operators.etl import cdc_merge

        m = self.manifest()
        key_col = m["key_col"]
        base_schema = {f.name: f.dataType for f in self.read().schema.fields}
        new_cols = [c for c in value_cols if c not in base_schema]
        if new_cols:
            # a column only the rewritten files carry would give the
            # manifest a torn schema (carried-forward files lack it);
            # adding a column is an overwrite-shaped operation here
            raise ValueError(
                f"merge would add column(s) {new_cols} to only the "
                "rewritten files; declare them first with "
                "add_column() (metadata-only) or evolve by "
                "overwrite() over read().withColumn(...)"
            )
        chg_schema = {f.name: f.dataType for f in changes.schema.fields}
        mismatched = [
            c
            for c in value_cols
            if c in chg_schema and chg_schema[c] != base_schema[c]
        ]
        if mismatched:
            # same hazard, type-shaped: rewritten files would store a
            # widened type (e.g. INT64 vs the carried files' INT32)
            # and the mixed-file read fails
            raise ValueError(
                "merge value column type(s) differ from the table's: "
                + ", ".join(
                    f"{c} {chg_schema[c].simpleString()}!="
                    f"{base_schema[c].simpleString()}"
                    for c in mismatched
                )
                + "; cast the changes (or overwrite() to evolve the type)"
            )
        affected = self.affected_files(changes)
        affected_paths = {e["path"] for e in affected}
        keep = [e for e in m["files"] if e["path"] not in affected_paths]

        if affected:
            # DV-aware: a file carrying a deletion vector contributes
            # only its LIVE rows to the merge base, so a rewrite never
            # resurrects deleted rows (the rewritten file is dv-free)
            base = self._read_entries(affected)
        else:
            base = self.read().limit(0)
        merged = cdc_merge(
            base, changes, key_col, ts_col, op_col, tie_col, value_cols
        )
        # rewrite into ~as many files as were read: file sizes stay
        # stable across merges and the new files keep disjoint ranges.
        # The rewritten ranges are derived from the MANIFEST's own
        # per-file max_key bounds (sorted upper bounds; insert-only
        # keys above every range join the last bucket, below the
        # first range the first) — no repartitionByRange sampling
        # pass, so the merged frame is computed ONCE. Temporal /
        # exotic key stats are stored as strings in the manifest and
        # can't be compared against the column directly; those tables
        # keep the sampled range write.
        kt = {
            f.name: f.dataType.simpleString() for f in merged.schema.fields
        }[key_col]
        maxes = [e["max_key"] for e in affected]
        numeric = kt in ("bigint", "int", "smallint", "tinyint",
                         "double", "float")
        bounds_ok = bool(affected) and all(
            mx is not None for mx in maxes
        ) and (
            (
                numeric
                and all(
                    isinstance(mx, (int, float))
                    and not isinstance(mx, bool)
                    for mx in maxes
                )
            )
            or (kt == "string" and all(isinstance(mx, str) for mx in maxes))
        )
        new_entries = self._write_data_files(
            merged,
            key_col,
            n_files=max(1, len(affected)),
            stats_cols=m.get("stats_cols"),
            bloom_cols=m.get("bloom_cols"),
            range_bounds=sorted(maxes)[:-1] if bounds_ok else None,
        )
        self._validate_new_files(new_entries)
        return self._commit(
            keep + new_entries,
            key_col,
            parent=m["version"],
            stream_batch=stream_batch,
        )

    def _write_dv_file(self, dv: DataFrame) -> str:
        """Persist a deletion-vector frame (``file_path`` string as
        the parquet reader's ``_metadata.file_path`` spells it,
        ``row_index`` long) as ONE immutable parquet file under
        ``data/`` and return its path. DV files follow the exact
        data-file protocol — uuid job dir, written once to the final
        location, never edited — so commit atomicity and vacuum need
        no new rules for them."""
        job = os.path.join(self.root, "data", f"dvjob-{uuid.uuid4().hex}")
        dv.select("file_path", "row_index").coalesce(1).write.parquet(job)
        parts = [
            os.path.join(job, fn)
            for fn in os.listdir(job)
            if fn.endswith(".parquet")
        ]
        assert len(parts) == 1, f"dv write produced {len(parts)} files"
        return parts[0]

    def delete_where(self, predicate: str) -> int | None:
        """MERGE-ON-READ row deletion via DELETION VECTORS (the
        Delta DV / Iceberg position-delete model): instead of
        rewriting every file that holds a matching row (copy-on-write
        — what :meth:`merge` with op='D' does, O(affected file
        bytes)), record the matching rows' (file, physical row index)
        positions in an immutable sidecar parquet and commit a new
        manifest whose entries point at it. Cost is one column-pruned
        predicate scan plus a DV write proportional to the DELETED
        ROW COUNT — on a 100 TB table a GDPR-style trickle delete
        touches kilobytes of DV instead of rewriting terabytes of
        parquet. Readers anti-join the (broadcast) DV; the debt is
        repaid by :meth:`apply_deletion_vectors` / :meth:`compact` /
        :meth:`merge`, all of which rewrite dv-free files.

        A file deleted against twice gets ONE merged DV (old
        positions ∪ new matches — positions are physical, so they
        never shift). Returns the new version, or None when the
        predicate matches no live row (no commit — deletes are
        idempotent)."""
        m = self.manifest()
        pred = F.expr(predicate)
        # ONE distributed predicate scan over the whole live file list
        # (column-pruned to the predicate's columns by Catalyst)
        hits = (
            self._read_paths(
                sorted(e["path"] for e in m["files"]), m["version"]
            )
            .where(pred)
            .select(
                F.col("_metadata.file_path").alias("file_path"),
                F.col("_metadata.row_index").alias("row_index"),
            )
        )
        # existing DV positions for files this manifest still lists
        # (rows for long-rewritten paths are inert — drop them here so
        # DV files don't accumulate dead weight across generations);
        # path-form note: DV rows carry the reader's _metadata form
        # ("file:/..."), manifests the local form — bridge via
        # local_path in Python over the (small) distinct DV paths
        old_dv_files = sorted({e["dv"] for e in m["files"] if e.get("dv")})
        old = None
        if old_dv_files:
            old_all = self.spark.read.parquet(*old_dv_files).select(
                "file_path", "row_index"
            )
            live = {local_path(e["path"]) for e in m["files"]}
            keep_fps = [
                r["file_path"]
                for r in old_all.select("file_path").distinct().collect()
                if local_path(r["file_path"]) in live
            ]
            old = old_all.where(F.col("file_path").isin(keep_fps))
            new_hits = hits.join(
                F.broadcast(old), ["file_path", "row_index"], "left_anti"
            )
        else:
            new_hits = hits
        # materialize the predicate scan ONCE: everything downstream
        # (existence probe, per-file counts, the DV write) reads the
        # checkpointed positions — bounded by the DELETED row count —
        # instead of re-running the full-table scan three times
        new_hits = new_hits.localCheckpoint(eager=True)
        # ONE bounded collect decides everything: per-file NEW hit
        # counts (empty ⇒ idempotent no-op, replacing a separate
        # take(1) probe job), and the carried DV rows are counted
        # from the manifest's per-entry dv_rows instead of re-reading
        # and re-aggregating the old sidecars — new and old are
        # disjoint by the anti-join above
        new_counts = {
            local_path(r["file_path"]): r["n"]
            for r in new_hits.groupBy("file_path")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        if not new_counts:
            return None  # idempotent: nothing newly deleted
        matched = (
            new_hits.unionByName(old) if old is not None else new_hits
        )
        by_local = {
            e["path"]: new_counts.get(local_path(e["path"]), 0)
            + (e.get("dv_rows") or 0)
            for e in m["files"]
        }
        # guards run BEFORE the sidecar write so the failure path
        # leaves nothing behind
        survivors = [
            e for e in m["files"]
            if by_local.get(e["path"], 0) < e["rows"]
        ]
        if not survivors:
            raise ValueError(
                "delete_where would delete every row; use overwrite() "
                "with an empty frame if that is intended"
            )
        dv_path = self._write_dv_file(matched)
        entries = []
        for e in m["files"]:
            n = by_local.get(e["path"], 0)
            e2 = dict(e)
            if n:
                if n >= e["rows"]:
                    # fully-deleted file: drop it from the manifest
                    # entirely (its DV rows stay inert in the sidecar)
                    continue
                e2["dv"] = dv_path
                e2["dv_rows"] = n
            else:
                e2.pop("dv", None)
                e2.pop("dv_rows", None)
            entries.append(e2)
        try:
            return self._commit(entries, m["key_col"], parent=m["version"])
        except MTableConflict:
            # losing the race must not leak the sidecar (vacuum only
            # reclaims manifest-referenced paths)
            try:
                os.unlink(dv_path)
            except OSError:
                pass
            raise

    def delete_keys(self, keys: DataFrame) -> int | None:
        """EQUALITY DELETES (the Iceberg equality-delete-file model) —
        the third point on the delete cost spectrum:

        - copy-on-write ``merge(op='D')``: O(affected file REWRITE);
        - position DVs ``delete_where``: O(one predicate SCAN) +
          O(deleted rows) sidecar;
        - equality deletes (this): **ZERO data-file access** — the key
          list is ranged against the manifest's per-file stats (one
          broadcast join over metadata) and written as a key sidecar;
          no data row is read, no position computed. The GDPR "delete
          these 10k user ids from 100 TB" answer where even one scan
          is too expensive.

        The read side pays instead: files carrying ``eq`` sidecars
        anti-join their rows against the (broadcast) key list —
        costlier than a position anti-join (every row of the file
        probes, not just an index compare), which is why
        :meth:`apply_deletion_vectors` folds equality sidecars
        unconditionally (their deleted fraction is unknowable without
        the scan this method exists to avoid). Multiple delete_keys
        commits stack sidecars per entry; merge/compact/zorder
        rewrites drop them. Keys matching no file's range commit
        nothing (returns None)."""
        m = self.manifest()
        key_col = m["key_col"]
        kdf = keys.select(F.col(keys.columns[0]).alias(key_col)).distinct()
        affected = self.affected_files(kdf)
        if not affected:
            return None
        job = os.path.join(self.root, "data", f"eqjob-{uuid.uuid4().hex}")
        kdf.coalesce(1).write.parquet(job)
        parts = [
            os.path.join(job, fn)
            for fn in os.listdir(job)
            if fn.endswith(".parquet")
        ]
        assert len(parts) == 1
        eq_path = parts[0]
        affected_paths = {e["path"] for e in affected}
        entries = []
        for e in m["files"]:
            e2 = dict(e)
            if e["path"] in affected_paths:
                e2["eq"] = list(e.get("eq", [])) + [eq_path]
            entries.append(e2)
        try:
            return self._commit(entries, key_col, parent=m["version"])
        except MTableConflict:
            try:
                os.unlink(eq_path)
            except OSError:
                pass
            raise

    def apply_deletion_vectors(self, min_ratio: float = 0.0) -> int | None:
        """Fold deletion vectors back into the data: rewrite every
        file whose deleted fraction is ≥ ``min_ratio`` WITHOUT its
        deleted rows (one DV-aware read, range-repartitioned like any
        rewrite) and commit a manifest where those entries are
        dv-free; files below the ratio keep riding their DV. This is
        the maintenance half of merge-on-read — the knob that bounds
        both read-side anti-join size and broadcast cost. Returns the
        new version, or None when no file qualifies."""
        m = self.manifest()
        def qualifies(e: dict) -> bool:
            # equality sidecars always qualify: their deleted fraction
            # is unknowable without the scan the write path avoided,
            # and every read of the file pays a full-row key probe
            if e.get("eq"):
                return True
            return bool(e.get("dv")) and (
                e.get("dv_rows", 0) / e["rows"] >= min_ratio
            )

        todo = [e for e in m["files"] if qualifies(e)]
        if not todo:
            return None
        keep = [e for e in m["files"] if not qualifies(e)]
        df = self._read_entries(todo)
        new_entries = self._write_data_files(
            df,
            m["key_col"],
            n_files=max(1, len(todo)),
            stats_cols=m.get("stats_cols"),
            bloom_cols=m.get("bloom_cols"),
        )
        return self._commit(
            keep + new_entries, m["key_col"], parent=m["version"]
        )

    def compact(
        self, target_rows: int = 1_000_000, min_files: int = 2
    ) -> int | None:
        """Small-file compaction as an ordinary manifest commit: files
        under ``target_rows`` are read back, range-repartitioned by
        the key into ~``target_rows``-sized files, and the new version
        lists the rewrites plus every already-large file BY REFERENCE.
        Readers never see a torn state (the _CURRENT swap is the
        commit), old versions still time-travel, vacuum reclaims the
        replaced small files.

        This is the maintenance loop every streaming MERGE table
        needs: each micro-batch commit writes batch-sized files, and
        without compaction a month of 1-minute batches is 43 k tiny
        files whose per-file open/footer cost dominates scans.
        Returns the new version, or None when fewer than ``min_files``
        files are under the threshold (nothing worth rewriting)."""
        import math

        m = self.manifest()
        # live-row accounting: a file's deletion vector shrinks its
        # effective size, so a heavily-deleted big file IS a small
        # file for compaction purposes — and the rewrite folds the DV
        # in (the new files are dv-free)
        live = lambda e: e["rows"] - e.get("dv_rows", 0)  # noqa: E731
        small = [e for e in m["files"] if live(e) < target_rows]
        if len(small) < min_files:
            return None
        keep = [e for e in m["files"] if live(e) >= target_rows]
        df = self._read_entries(small)
        total = sum(live(e) for e in small)
        n_files = max(1, math.ceil(total / target_rows))
        entries = self._write_data_files(
            df, m["key_col"], n_files=n_files,
            stats_cols=m.get("stats_cols"),
            bloom_cols=m.get("bloom_cols"),
        )
        return self._commit(keep + entries, m["key_col"], parent=m["version"])

    def optimize_zorder(
        self,
        cols: list[str],
        n_files: int | None = None,
        bits: int = 12,
    ) -> int:
        """Re-cluster the WHOLE table on the Morton interleave of the
        merge key plus ``cols`` (the layout side of Delta/Iceberg
        OPTIMIZE ZORDER BY) as one ordinary manifest commit. After
        this, every clustered column's per-file [min, max] is a tight
        hypercube face, so :meth:`read_where` conjunctions
        (key BETWEEN × date BETWEEN × ...) each prune files — one
        layout serves all the declared predicates, where pure
        key-range layout serves only the key.

        Trade-off stated honestly: per-file KEY ranges widen from
        disjoint intervals to overlapping hypercube projections, so
        subsequent merges rewrite somewhat more files per change-set;
        tables that are merge-hot and rarely range-read should stay
        range-clustered. ``cols`` must already be declared (or become
        declared) stats columns — the commit records them.

        The sort key is :func:`sources.zorder_sort_key`; its bounds
        fold from the manifest's per-file stats
        (:func:`sources.fold_zorder_bounds` over
        :func:`_zorder_file_bounds`) when they provably equal the
        scan, else one driver-side min/max agg. The rewrite is a
        single distributed pass."""
        from dataflowex_spark.sources import (
            fold_zorder_bounds,
            zorder_sort_key,
        )

        m = self.manifest()
        key_col = m["key_col"]
        zcols = [key_col] + [c for c in cols if c != key_col]
        stats_cols = sorted(
            set(m.get("stats_cols", [])) | {c for c in cols if c != key_col}
        )
        df = self.read()
        dtypes = dict(df.dtypes)
        bounds = fold_zorder_bounds(
            self.spark, zcols, dtypes, _zorder_file_bounds(m, zcols)
        )
        entries = self._write_data_files(
            df,
            key_col,
            n_files=n_files or len(m["files"]),
            stats_cols=stats_cols,
            sort_expr=zorder_sort_key(df, zcols, dtypes, bounds, bits),
            bloom_cols=m.get("bloom_cols"),
        )
        return self._commit(
            entries, key_col, parent=m["version"], stats_cols=stats_cols
        )

    def optimize_zorder_incremental(
        self,
        cols: list[str],
        max_files: int = 8,
        bits: int = 12,
        min_score: float = 0.6,
    ) -> tuple[int | None, int]:
        """INCREMENTAL OPTIMIZE — re-cluster only the WORST-clustered
        files instead of rewriting the table (the maintenance-window
        form of :meth:`optimize_zorder`: a 100 TB table is optimized
        in bounded slices, each slice one commit, interruptible and
        resumable because every commit leaves the table consistent).

        File selection is METADATA-ONLY: each file scores by the
        product over cluster dimensions of its span fraction
        (file span / table span, from the manifest's per-file stats —
        a well-clustered file covers a small hypercube, a
        hash-scattered one scores ~1); the ``max_files`` worst score
        above ``min_score`` get rewritten with the Morton sort,
        everything else carries by reference. Files with no recorded
        stats for a dimension score worst (they are exactly the
        unoptimized tail). ``min_score`` is an ABSOLUTE volume
        threshold (default 0.6 — only near-full-space scatter
        qualifies), deliberately not relative to the file count: a
        k-file rewrite can't produce per-file volume below ~1/k, so
        a relative floor would re-rewrite its own output forever
        instead of converging. Convergence does NOT rest on the
        threshold alone: rewritten files are tagged in the manifest
        with the clustering spec (``zorder``) and are never
        re-selected under the same spec — range-partition boundaries
        are SAMPLED, so an unevenly split output file can score above
        any absolute threshold; the tag makes a fixed point
        structural (changing ``cols`` re-qualifies everything).
        Returns
        (new_version | None, files_rewritten) — None when nothing
        qualifies (repeated calls converge to a no-op).

        DV-aware like merge: a rewritten file contributes only its
        live rows and sheds its deletion vector. The sort key is
        :func:`sources.zorder_sort_key` under the table-wide scoring
        bounds (approximate is fine there: values outside clamp)."""
        from dataflowex_spark.sources import zorder_sort_key, zorder_stat_num

        m = self.manifest()
        key_col = m["key_col"]
        zcols = [key_col] + [c for c in cols if c != key_col]
        files = m["files"]
        if not files:
            return None, 0
        # committed schema, no scan: types pick each stat's conversion
        dtypes = dict(self._read_paths([files[0]["path"]]).dtypes)
        nums = [
            {
                c: tuple(zorder_stat_num(v, dtypes.get(c)) for v in p)
                for c, p in _entry_stats(e, key_col, zcols).items()
            }
            for e in files
        ]
        bounds = {}
        for c in zcols:
            known = [n[c] for n in nums if None not in n[c]]
            bounds[c] = (
                (min(lo for lo, _ in known), max(hi for _, hi in known))
                if known
                else (None, None)
            )

        def score(n: dict) -> float:
            s = 1.0
            for c, (lo, hi) in bounds.items():
                fmn, fmx = n[c]
                if lo is None or hi <= lo or fmn is None or fmx is None:
                    continue  # unknown dim: span fraction 1 (worst)
                s *= max(0.0, min(1.0, (fmx - fmn) / (hi - lo)))
            return s

        # Convergence is STRUCTURAL, not score-threshold-based: files
        # this routine already rewrote under the same clustering spec
        # carry a ``zorder`` tag and are never re-selected. Scores
        # alone can't guarantee convergence — repartitionByRange
        # boundaries come from sampling, so an unevenly split output
        # file can score above any absolute threshold and would be
        # re-rewritten forever.
        zspec = list(zcols)
        scored = sorted(
            (
                (score(n), e)
                for n, e in zip(nums, files)
                if e.get("zorder") != zspec
            ),
            key=lambda t: (-t[0], t[1]["path"]),
        )
        todo = [e for s, e in scored[:max_files] if s > min_score]
        if not todo:
            return None, 0
        keep = [
            e for e in files if e["path"] not in {t["path"] for t in todo}
        ]
        stats_cols = sorted(
            set(m.get("stats_cols", [])) | {c for c in zcols if c != key_col}
        )
        df = self._read_entries(todo)
        entries = self._write_data_files(
            df,
            key_col,
            n_files=len(todo),
            stats_cols=stats_cols,
            sort_expr=zorder_sort_key(df, zcols, dtypes, bounds, bits),
            bloom_cols=m.get("bloom_cols"),
        )
        self._validate_new_files(entries)
        for e in entries:
            e["zorder"] = zspec
        v = self._commit(
            keep + entries, key_col, parent=m["version"],
            stats_cols=stats_cols,
        )
        return v, len(todo)

    def read_changes(
        self, v_from: int, v_to: int | None = None,
        images: str = "post",
    ) -> DataFrame:
        """CDC changefeed between two committed versions, computed
        from the MANIFEST DIFF: files carried by reference between
        ``v_from`` and ``v_to`` provably hold unchanged rows and are
        never read — only the removed files (pre-image) and added
        files (post-image) are scanned, so the cost is proportional
        to what the intervening commits REWROTE, not to the table.
        The two sides then key-join (full outer on the merge key,
        null-safe value compare) to classify:

        - ``I`` — key only in the post-image (insert);
        - ``D`` — key only in the pre-image (delete);
        - ``U`` — key in both with any value column changed (update;
          copy-on-write rewrites carry untouched neighbor rows into
          new files, and the value compare is what drops those
          false candidates).

        Returns ``op`` + the table schema: post-image values for
        I/U, pre-image values for D. One row per changed key (the
        net change ``v_from → v_to``, like Delta's CDF collapsed
        across versions). Relies on the MTable invariant that the
        merge key is unique per version (merge is latest-wins
        per key).

        ``images="both"`` instead emits ``{col}__pre`` and
        ``{col}__post`` for every non-key column (NULL on the absent
        side of an I/D) — the form INCREMENTAL VIEW MAINTENANCE
        needs: a grouped SUM/COUNT updates as old ⊕ (post − pre)
        without touching the base table (q305)."""
        if images not in ("post", "both"):
            raise ValueError(f"read_changes: images={images!r}")
        m_from = self.manifest(v_from)
        m_to = self.manifest(v_to)
        key = m_to["key_col"]
        # diff at ENTRY granularity, not path granularity: a
        # deletion-vector commit keeps the data file's path but
        # changes its (dv, dv_rows) — such a file is "rewritten" for
        # CDC purposes (pre-image read under the FROM version's DV,
        # post-image under the TO version's), which is what makes
        # merge-on-read deletes visible in the changefeed
        from_by_path = {e["path"]: e for e in m_from["files"]}
        to_by_path = {e["path"]: e for e in m_to["files"]}

        def _dv_state(e: dict):
            return (
                e.get("dv"), e.get("dv_rows", 0),
                tuple(e.get("eq", [])),
            )

        removed = sorted(
            (
                p
                for p, e in from_by_path.items()
                if p not in to_by_path
                or _dv_state(e) != _dv_state(to_by_path[p])
            )
        )
        added = sorted(
            (
                p
                for p, e in to_by_path.items()
                if p not in from_by_path
                or _dv_state(e) != _dv_state(from_by_path[p])
            )
        )
        base = self.read(m_to["version"]).limit(0)
        cols = base.columns
        val_cols = [c for c in cols if c != key]
        if not removed and not added:
            return base.select(F.lit("I").alias("op"), *cols).limit(0)
        if not removed or not added:
            # one side is provably empty from the MANIFEST DIFF alone
            # (a pure append, or a pure file-drop): every row of the
            # populated side classifies as I (resp. D) with NULL
            # images on the absent side, exactly what the full-outer
            # join below would emit — so skip its key shuffle
            # entirely. This is the append-commit common case: the
            # changefeed then costs one scan of the added files.
            ins = bool(added)
            dtypes = {f.name: f.dataType for f in base.schema.fields}
            side = self._read_entries(
                [
                    (to_by_path if ins else from_by_path)[p]
                    for p in (added or removed)
                ],
                m_to["version"],
            )
            opl = F.lit("I" if ins else "D")
            if images == "both":
                def _pre_post(c):
                    null = F.lit(None).cast(dtypes[c])
                    if ins:
                        return (
                            null.alias(f"{c}__pre"),
                            F.col(c).alias(f"{c}__post"),
                        )
                    return (
                        F.col(c).alias(f"{c}__pre"),
                        null.alias(f"{c}__post"),
                    )
                return side.select(
                    opl.alias("op"),
                    key,
                    *[x for c in val_cols for x in _pre_post(c)],
                )
            return side.select(opl.alias("op"), key, *val_cols)
        old = (
            # v_to schema even for the pre-image: a column added
            # between the versions null-fills on the old side, so the
            # value compare sees null -> value as a real change
            self._read_entries(
                [from_by_path[p] for p in removed], m_to["version"]
            )
            if removed
            else base
        ).select(
            F.col(key).alias("__k_old"),
            *[F.col(c).alias(f"__old_{c}") for c in val_cols],
        )
        new = (
            self._read_entries(
                [to_by_path[p] for p in added], m_to["version"]
            )
            if added
            else base
        ).select(
            F.col(key).alias("__k_new"),
            *[F.col(c).alias(f"__new_{c}") for c in val_cols],
        )
        joined = old.join(
            new, F.col("__k_old") == F.col("__k_new"), "full_outer"
        )
        unchanged = (
            F.lit(True)
            if not val_cols
            else None
        )
        if val_cols:
            unchanged = F.col(f"__old_{val_cols[0]}").eqNullSafe(
                F.col(f"__new_{val_cols[0]}")
            )
            for c in val_cols[1:]:
                unchanged = unchanged & F.col(f"__old_{c}").eqNullSafe(
                    F.col(f"__new_{c}")
                )
        op = (
            F.when(F.col("__k_old").isNull(), F.lit("I"))
            .when(F.col("__k_new").isNull(), F.lit("D"))
            .when(unchanged, F.lit(None))
            .otherwise(F.lit("U"))
        )
        if images == "both":
            return (
                joined.select(
                    op.alias("op"),
                    F.coalesce(F.col("__k_new"), F.col("__k_old")).alias(
                        key
                    ),
                    *[
                        x
                        for c in val_cols
                        for x in (
                            F.col(f"__old_{c}").alias(f"{c}__pre"),
                            F.col(f"__new_{c}").alias(f"{c}__post"),
                        )
                    ],
                )
                .filter(F.col("op").isNotNull())
            )
        return (
            joined.select(
                op.alias("op"),
                F.coalesce(F.col("__k_new"), F.col("__k_old")).alias(key),
                *[
                    F.when(
                        F.col("__k_new").isNull(), F.col(f"__old_{c}")
                    )
                    .otherwise(F.col(f"__new_{c}"))
                    .alias(c)
                    for c in val_cols
                ],
            )
            .filter(F.col("op").isNotNull())
        )

    def vacuum(
        self,
        keep_last: int = 1,
        delete_orphans: bool = False,
        orphan_min_age_s: float = 86400.0,
    ) -> list[str]:
        """Drop all but the newest ``keep_last`` manifests and delete
        data files ONLY dropped manifests reference. Returns the
        deleted paths. (Time travel reaches only kept versions
        afterwards.)

        Deletion is scoped to dropped-manifest references — NOT "every
        parquet no kept manifest lists" — because files written by an
        in-flight merge/compact/overwrite are unreferenced until that
        operation commits; a blanket sweep would delete them out from
        under the concurrent writer and its commit would publish a
        manifest pointing at missing files. Files that never reach any
        manifest (crashed jobs) become true orphans; pass
        ``delete_orphans=True`` to also remove those, guarded by a
        Delta-style minimum age (``orphan_min_age_s``, default 24 h)
        so anything a live writer may still be about to commit is
        left alone."""
        import time

        # operate on COMMITTED versions only: an in-flight claim
        # beyond _CURRENT is neither a keep candidate (it must not
        # displace the current version from the keep window) nor
        # droppable (its writer may still complete / be rolled forward)
        vs = self.committed_versions()
        keep_vs = vs[-keep_last:] if keep_last > 0 else []
        if self.current_version() not in keep_vs:
            raise ValueError("vacuum would drop the current version")
        def _refs(v: int) -> set[str]:
            # a manifest references its data files AND the deletion-
            # vector sidecars its entries point at — both must survive
            # while any kept manifest needs them
            out: set[str] = set()
            for e in self.manifest(v)["files"]:
                out.add(e["path"])
                if e.get("dv"):
                    out.add(e["dv"])
                out.update(e.get("eq", []))
            # compared with the walk below in one spelling
            return {local_path(p) for p in out}

        referenced: set[str] = set()
        for v in keep_vs:
            referenced.update(_refs(v))
        dropped_refs: set[str] = set()
        for v in vs:
            if v not in keep_vs:
                dropped_refs.update(_refs(v))
        deleted = []
        for p in sorted(dropped_refs - referenced):
            if os.path.exists(p):
                os.unlink(p)
                deleted.append(p)
        if delete_orphans:
            cutoff = time.time() - orphan_min_age_s
            data_root = os.path.join(self.root, "data")
            for dirpath, _dirs, files in os.walk(data_root):
                for fn in files:
                    p = local_path(os.path.join(dirpath, fn))
                    if (
                        fn.endswith(".parquet")
                        and p not in referenced
                        and p not in dropped_refs
                        and os.path.getmtime(p) < cutoff
                    ):
                        os.unlink(p)
                        deleted.append(p)
        for v in vs:
            if v not in keep_vs:
                os.unlink(
                    os.path.join(self._vdir(), f"{v}.manifest.json")
                )
        return sorted(deleted)
