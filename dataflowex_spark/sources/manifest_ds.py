"""Manifest-driven parquet reader as a Spark 4 Python DataSource.

Object stores have no atomic directory rename, so "which files make
up version N of this table" must be an explicit MANIFEST — the core
idea under Iceberg/Delta. :func:`~dataflowex_spark.sources.publish_snapshot`
already publishes versioned snapshot directories with a ``_CURRENT``
pointer; this module adds the other half: a reader that consumes an
explicit file list, so a query sees EXACTLY the files a snapshot
committed — never a half-written directory listing, never files
compaction added after the manifest was cut.

Implementation is the Spark 4 ``pyspark.sql.datasource`` API
(``spark.dataSource.register`` + ``spark.read.format(...)``):

- one :class:`InputPartition` PER MANIFEST FILE — Spark schedules
  files across executors exactly like a native scan, so parallelism
  is the manifest length, not 1;
- each partition yields **pyarrow RecordBatches** (the Arrow fast
  path through the Python worker — never row-at-a-time tuples);
- the schema comes from the first listed file's parquet footer at
  plan time (driver-side, one footer read).

This is deliberately a *reader teaching shape* for the Python
DataSource extension point the reference framework would have modeled
as a custom source block [R: Gridsum.DataflowEx/Dataflow.cs —
DataflowEx sources are arbitrary C# blocks]; for plain directories
the native parquet scan (with its codegen and vectorized reader)
remains the right tool.

Usage::

    from dataflowex_spark.sources.manifest_ds import (
        ManifestParquetDataSource, write_manifest,
    )
    spark.dataSource.register(ManifestParquetDataSource)
    write_manifest(["/data/part-0.parquet", ...], "/data/v7.manifest")
    df = spark.read.format("manifest_parquet").load("/data/v7.manifest")
"""

from __future__ import annotations

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)


def _arrow_null_type(t: str | None):
    """Declared Spark/Delta primitive type string → the arrow type a
    typed all-null column must carry so the POSITIONAL arrow-to-Spark
    mapping at stream time accepts it (an untyped ``pa.nulls`` column
    against a non-null declared type is rejected). Covers every
    primitive ``simpleString`` the schemas here produce — including
    short/byte/decimal/binary/timestamp_ntz, which schema evolution
    over ANY primitive column can surface in a tail. ``None`` for
    complex/unknown types (callers fall back to untyped nulls)."""
    import re as _re

    import pyarrow as pa

    if not t:
        return None
    fixed = {
        "long": pa.int64(), "bigint": pa.int64(),
        "integer": pa.int32(), "int": pa.int32(),
        "short": pa.int16(), "smallint": pa.int16(),
        "byte": pa.int8(), "tinyint": pa.int8(),
        "double": pa.float64(), "float": pa.float32(),
        "string": pa.string(), "date": pa.date32(),
        "boolean": pa.bool_(), "binary": pa.binary(),
        "timestamp": pa.timestamp("us"),
        "timestamp_ntz": pa.timestamp("us"),
    }
    if t in fixed:
        return fixed[t]
    m = _re.fullmatch(r"decimal\((\d+),\s*(-?\d+)\)", t)
    if m:
        return pa.decimal128(int(m.group(1)), int(m.group(2)))
    return None


def write_manifest(files: list[str], manifest_path: str) -> None:
    """Write an explicit file list, one absolute path per line. Write
    to a temp name + atomic os.replace so a concurrent reader never
    sees a torn manifest."""
    import os
    import tempfile

    d = os.path.dirname(manifest_path) or "."
    fd, tmp = tempfile.mkstemp(dir=d, prefix=".manifest_")
    try:
        with os.fdopen(fd, "w") as f:
            f.write("\n".join(files) + "\n")
        os.replace(tmp, manifest_path)
    except BaseException:
        if os.path.exists(tmp):
            os.unlink(tmp)
        raise


class _FilePartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


class _ManifestReader(DataSourceReader):
    def __init__(self, files: list[str]):
        self._files = files

    def partitions(self):
        return [_FilePartition(p) for p in self._files]

    def read(self, partition):
        import pyarrow.parquet as pq

        # Arrow fast path: yield RecordBatches, not tuples
        table = pq.read_table(partition.path)
        yield from table.to_batches()


class ManifestParquetDataSource(DataSource):
    """``spark.read.format("manifest_parquet").load(<manifest file>)``
    — reads exactly the parquet files listed in the manifest."""

    @classmethod
    def name(cls) -> str:
        return "manifest_parquet"

    def _files(self) -> list[str]:
        path = self.options.get("path")
        if not path:
            raise ValueError(
                "manifest_parquet: pass the manifest path via .load(path)"
            )
        with open(path) as f:
            files = [ln.strip() for ln in f if ln.strip()]
        if not files:
            raise ValueError(f"manifest_parquet: empty manifest {path}")
        return files

    def schema(self):
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import from_arrow_schema

        return from_arrow_schema(pq.read_schema(self._files()[0]))

    def reader(self, schema) -> DataSourceReader:
        return _ManifestReader(self._files())


# ---------------------------------------------------------------------
# streaming side: deterministic synthetic ticker (offset-replay safe)
# ---------------------------------------------------------------------


class _TickerStreamReader(SimpleDataSourceStreamReader):
    """SimpleDataSourceStreamReader for a DETERMINISTIC synthetic
    event ticker: record i is a pure function of i (portable md5,
    same contract as the sampling buckets), so any offset range
    re-reads to bit-identical rows — the property exactly-once sinks
    rely on when a micro-batch is replayed after recovery."""

    def __init__(self, rows_per_batch: int, n_types: int):
        self.rows_per_batch = rows_per_batch
        self.n_types = n_types

    def initialOffset(self) -> dict:
        return {"i": 0}

    @staticmethod
    def _row(i: int, n_types: int):
        import hashlib

        h = int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16)
        return (i, f"type_{h % n_types}", (h >> 8) % 100_000)

    def read(self, start: dict):
        lo = start["i"]
        hi = lo + self.rows_per_batch
        # a LIST, not a generator: Spark's prefetch cache copy.copy()s
        # the iterator for replay, and generators aren't copyable
        rows = [self._row(i, self.n_types) for i in range(lo, hi)]
        return rows, {"i": hi}

    def readBetweenOffsets(self, start: dict, end: dict):
        return [
            self._row(i, self.n_types)
            for i in range(start["i"], end["i"])
        ]

    def commit(self, end: dict) -> None:
        pass  # nothing to clean up: records are computed, not stored


class TickerDataSource(DataSource):
    """``spark.readStream.format("ticker")`` — a deterministic
    synthetic event stream (options: ``rowsPerBatch``, ``nTypes``).
    Exists to exercise streaming sinks and replay semantics without a
    broker: re-reading any offset range yields identical rows, so a
    replayed batch is indistinguishable from the original."""

    @classmethod
    def name(cls) -> str:
        return "ticker"

    def schema(self):
        return "i bigint, event_type string, value bigint"

    def simpleStreamReader(self, schema):
        return _TickerStreamReader(
            int(self.options.get("rowsPerBatch", 100)),
            int(self.options.get("nTypes", 5)),
        )


# ---------------------------------------------------------------------
# MTable commit-log tail (streaming source over mtable manifests)
# ---------------------------------------------------------------------


class _TailFilePartition(InputPartition):
    def __init__(self, path: str | None, version: int):
        self.path = path
        self.version = version


class _MTableTailReader(DataSourceStreamReader):
    """Offsets are manifest VERSIONS (``{"version": N}``); a batch is
    the file-list diff over the offset range. Manifests are immutable,
    so any offset range replans to the identical file set — the
    replay determinism exactly-once sinks rely on. Reads run
    EXECUTOR-SIDE (one InputPartition per added file, Arrow batches),
    so parallelism is the diff's file count, not 1.

    APPEND-IMAGE contract: the tail streams each version's ADDED
    files — it is the insert/rewrite feed, not a retraction feed. A
    deletion-vector commit (``MTable.delete_where``) adds no files,
    so rows it kills do NOT retract here (and rows of an
    already-streamed file later DV'd stay streamed); consumers that
    must observe deletes read the changefeed
    (``MTable.read_changes``), which diffs at entry granularity and
    reports DV commits as ``op='D'`` rows."""

    def __init__(self, root: str, start_version: int, arrow_schema=None):
        self.root = root
        self.start_version = start_version
        self.arrow_schema = arrow_schema

    def initialOffset(self) -> dict:
        return {"version": self.start_version}

    def latestOffset(self) -> dict:
        import os

        with open(os.path.join(self.root, "_CURRENT")) as f:
            return {"version": int(f.read().strip())}

    def _files(self, v: int) -> set:
        import json
        import os

        if v <= 0:
            return set()
        with open(
            os.path.join(self.root, "_v", f"{v}.manifest.json")
        ) as f:
            return {e["path"] for e in json.load(f)["files"]}

    def partitions(self, start: dict, end: dict):
        parts = []
        prev = self._files(start["version"])
        for v in range(start["version"] + 1, end["version"] + 1):
            cur = self._files(v)
            for path in sorted(cur - prev):
                parts.append(_TailFilePartition(path, v))
            prev = cur
        # a pure-removal commit (compaction dropping empties) adds no
        # files; Spark still needs >= 1 partition to plan the batch
        return parts or [_TailFilePartition(None, end["version"])]

    def read(self, partition):
        if partition.path is None:
            return
        import pyarrow as pa
        import pyarrow.parquet as pq

        table = pq.read_table(partition.path)
        # files written before a metadata-only add_column lack the
        # new column physically — null-fill to the declared schema,
        # same as MTable's explicit-schema batch read
        if self.arrow_schema is not None:
            for field in self.arrow_schema:
                if table.schema.get_field_index(field.name) < 0:
                    table = table.append_column(
                        field,
                        pa.nulls(table.num_rows, field.type),
                    )
            table = table.select([f.name for f in self.arrow_schema])
        ver = pa.array([partition.version] * table.num_rows, pa.int64())
        yield from table.append_column("_commit_version", ver).to_batches()

    def commit(self, end: dict) -> None:
        pass  # the manifests ARE the log; nothing to clean up


class MTableTailDataSource(DataSource):
    """``spark.readStream.format("mtable_tail").load(<table root>)``
    — tails an :class:`~dataflowex_spark.sources.mtable.MTable`'s
    commit log: each micro-batch carries the rows of files ADDED
    between manifest versions, tagged ``_commit_version``. Files
    carried by reference are provably-unchanged rows and are never
    re-read or re-emitted, so a trickle of merges against a 100 TB
    table streams only the rewritten fraction. This is the read half
    of the exactly-once CDC sink that lands through
    ``MTable.merge(stream_batch=...)``; for key-level net changes
    without rewrite noise, pipe a batch through
    ``MTable.read_changes`` instead.

    Options: ``startVersion`` (default 0 — the v1 initial snapshot is
    the first batch). Versions behind the vacuum horizon cannot be
    tailed; keep manifests as long as the slowest consumer needs (the
    same retention contract Delta CDF / Kafka have).
    """

    @classmethod
    def name(cls) -> str:
        return "mtable_tail"

    def _root(self) -> str:
        root = self.options.get("path")
        if not root:
            raise ValueError(
                "mtable_tail: pass the table root via .load(root)"
            )
        return root

    def schema(self):
        import json
        import os

        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import from_arrow_schema
        from pyspark.sql.types import StructType

        root = self._root()
        with open(os.path.join(root, "_CURRENT")) as f:
            v = int(f.read().strip())
        with open(os.path.join(root, "_v", f"{v}.manifest.json")) as f:
            m = json.load(f)
        # prefer the COMMITTED table schema (survives metadata-only
        # add_column, where file footers physically disagree); fall
        # back to the first footer for pre-schema-tracking tables
        if m.get("schema") is not None:
            base = StructType.fromJson(m["schema"])
        else:
            files = m["files"]
            if not files:
                raise ValueError(
                    "mtable_tail: current version lists no files"
                )
            base = from_arrow_schema(pq.read_schema(files[0]["path"]))
        return base.add("_commit_version", "long")

    def streamReader(self, schema):
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        arrow = to_arrow_schema(schema)
        data_schema = pa.schema(
            [f for f in arrow if f.name != "_commit_version"]
        )
        return _MTableTailReader(
            self._root(),
            int(self.options.get("startVersion", 0)),
            data_schema,
        )


class _DeltaTailPartition(InputPartition):
    def __init__(
        self,
        path: str | None,
        version: int,
        change_type: str | None,
        dead: list[int],
        pv: list[tuple],
    ):
        self.path = path
        self.version = version
        self.change_type = change_type  # None → cdc file carries it
        self.dead = dead
        self.pv = pv  # [(col, spark_type_str, value_or_None)]


class _DeltaTailReader(DataSourceStreamReader):
    """Offsets are Delta VERSIONS (``{"version": N}`` = everything
    ≤ N streamed); a micro-batch is the CHANGE FEED of the offset
    range, planned from the commit JSONs alone (metadata-only
    driver work) and read EXECUTOR-SIDE one InputPartition per
    changed file. Commit files are immutable, so any range replans
    to the identical row set — the replay determinism exactly-once
    sinks need.

    Per version, the same authority rule as the batch CDF reader
    (:func:`delta_reader.read_delta_changes`): ``cdc`` actions win
    (their files carry ``_change_type``); otherwise dataChange adds
    stream as ``insert`` and dataChange removes as ``delete``, each
    minus its deletion vector's dead positions (decoded driver-side
    — DV debt is bounded per-file delete state)."""

    def __init__(
        self,
        root: str,
        start_version: int,
        out_cols: list,
        out_types: dict | None = None,
        phys_map: dict | None = None,
    ):
        self.root = root
        self.start_version = start_version
        self.out_cols = out_cols  # declared column ORDER (positional)
        # col → spark simpleString type; used to TYPED-null-fill
        # columns a pre-evolution file lacks (merge_schema ADD
        # COLUMN) so tailing from an early startVersion survives
        self.out_types = out_types or {}
        # columnMapping mode=name: logical → physical column name;
        # data files carry physical names, the stream stays logical
        self.phys_map = phys_map or {}

    def initialOffset(self) -> dict:
        return {"version": self.start_version - 1}

    def latestOffset(self) -> dict:
        from dataflowex_spark.sources.delta_reader import _commit_files

        commits = _commit_files(self.root)
        if not commits:
            raise ValueError(f"empty _delta_log in {self.root}")
        return {"version": max(commits)}

    def partitions(self, start: dict, end: dict):
        import json as _json
        import os as _os

        from dataflowex_spark.sources.delta_reader import (
            _commit_files,
            _data_path,
            _snapshot_schema_mapping,
        )
        from dataflowex_spark.sources.roaring import (
            decode_dv_descriptor,
        )

        types, pcols, phys, _mode = _snapshot_schema_mapping(
            self.root
        )
        commits = _commit_files(self.root)
        parts = []

        def pv_of(action: dict) -> list[tuple]:
            # partitionValues key by PHYSICAL name under mode=name;
            # the emitted column stays LOGICAL
            pv = action.get("partitionValues") or {}
            return [
                (c, types[c], pv.get(phys.get(c, c)))
                for c in pcols
                if c in types
            ]

        def dead_of(action: dict) -> list[int]:
            dv = action.get("deletionVector")
            if not dv:
                return []
            if isinstance(dv, str):
                dv = _json.loads(dv)
            return decode_dv_descriptor(self.root, dict(dv))

        for v in range(start["version"] + 1, end["version"] + 1):
            path = commits.get(v)
            if path is None:
                raise FileNotFoundError(
                    f"missing commit {v} (tail needs the full range "
                    "under retention)"
                )
            cdc, adds, removes = [], [], []
            with open(path) as f:
                for line in f:
                    line = line.strip()
                    if not line:
                        continue
                    a = _json.loads(line)
                    if a.get("cdc"):
                        cdc.append(a["cdc"])
                    elif a.get("add") and a["add"].get(
                        "dataChange", True
                    ):
                        adds.append(a["add"])
                    elif a.get("remove") and a["remove"].get(
                        "dataChange", True
                    ):
                        removes.append(a["remove"])
            if cdc:
                for c in cdc:
                    parts.append(
                        _DeltaTailPartition(
                            _data_path(self.root, c["path"]),
                            v, None, [], pv_of(c),
                        )
                    )
                continue
            for a in adds:
                parts.append(
                    _DeltaTailPartition(
                        _data_path(self.root, a["path"]),
                        v, "insert", dead_of(a), pv_of(a),
                    )
                )
            for r in removes:
                parts.append(
                    _DeltaTailPartition(
                        _data_path(self.root, r["path"]),
                        v, "delete", dead_of(r), pv_of(r),
                    )
                )
        return parts or [_DeltaTailPartition(None, end["version"], None, [], [])]

    def read(self, partition):
        if partition.path is None:
            return
        import datetime as _dt

        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq

        table = pq.read_table(partition.path)
        if self.phys_map:
            # mode=name files carry PHYSICAL column names — restore
            # logical before the positional select
            back = {p: c for c, p in self.phys_map.items()}
            table = table.rename_columns(
                [back.get(n, n) for n in table.column_names]
            )
        if partition.dead:
            mask = np.ones(table.num_rows, dtype=bool)
            mask[np.asarray(partition.dead, dtype=np.int64)] = False
            table = table.filter(pa.array(mask))
        n = table.num_rows
        for col, t, raw in partition.pv:
            if raw is None:
                val, at = None, {
                    "long": pa.int64(), "integer": pa.int32(),
                    "double": pa.float64(), "string": pa.string(),
                    "date": pa.date32(), "boolean": pa.bool_(),
                }.get(t, pa.string())
                arr = pa.nulls(n, at)
            elif t == "long":
                arr = pa.array([int(raw)] * n, pa.int64())
            elif t == "integer":
                arr = pa.array([int(raw)] * n, pa.int32())
            elif t == "double":
                arr = pa.array([float(raw)] * n, pa.float64())
            elif t == "boolean":
                arr = pa.array([raw == "true"] * n, pa.bool_())
            elif t == "date":
                arr = pa.array(
                    [_dt.date.fromisoformat(raw)] * n, pa.date32()
                )
            else:  # string and anything canonically string-encoded
                arr = pa.array([raw] * n, pa.string())
            table = table.append_column(col, arr)
        if partition.change_type is not None:
            table = table.append_column(
                "_change_type",
                pa.array([partition.change_type] * n, pa.string()),
            )
        table = table.append_column(
            "_commit_version",
            pa.array([partition.version] * n, pa.int64()),
        )
        # files written before a merge_schema ADD COLUMN lack the
        # new column — typed null-fill (same contract as the batch
        # CDF reader and the Iceberg tail) so tailing from an early
        # startVersion survives schema evolution
        have = set(table.column_names)
        for name in self.out_cols:
            if name not in have:
                at = _arrow_null_type(self.out_types.get(name))
                table = table.append_column(
                    name, pa.nulls(n, at) if at else pa.nulls(n)
                )
        # Spark maps arrow batches to the declared schema
        # POSITIONALLY — re-order (partition columns were appended)
        yield from table.select(self.out_cols).to_batches()

    def commit(self, end: dict) -> None:
        pass  # the commit JSONs are the log; nothing to clean up


class DeltaTailDataSource(DataSource):
    """``spark.readStream.format("delta_tail").load(<table root>)``
    — tails a Delta table's transaction log as a CHANGE-FEED stream:
    each micro-batch carries the change rows of the commits landed
    since the last offset, tagged ``_change_type`` +
    ``_commit_version``. Authoritative cdc files (DML under
    ``delta.enableChangeDataFeed``) stream verbatim; other commits
    synthesize insert/delete per the protocol rule, deletion-vector
    dead rows excluded on BOTH sides. This is the streaming half of
    the lakehouse CDC story: MTable → (continuous publish) → Delta →
    ``delta_tail`` → any Structured Streaming sink, exactly-once by
    offset-range replay determinism.

    Options: ``startVersion`` (default 0 — the table's creating
    commit is the first batch). Column-mapped tables refuse (same
    contract as the batch CDF reader). Versions behind log retention
    cannot be tailed — the Delta CDF retention trade."""

    @classmethod
    def name(cls) -> str:
        return "delta_tail"

    def _root(self) -> str:
        root = self.options.get("path")
        if not root:
            raise ValueError(
                "delta_tail: pass the table root via .load(root)"
            )
        return root

    def schema(self):
        import json as _json

        from pyspark.sql.types import StructType

        from dataflowex_spark.sources.delta_reader import (
            DeltaProtocolError,
            _mapping_mode,
            _snapshot_meta_nospark,
        )

        meta = _snapshot_meta_nospark(self._root())
        mode = _mapping_mode(meta)
        if mode == "id":
            raise DeltaProtocolError(
                "delta_tail unsupported for columnMapping mode=id"
            )
        base = StructType.fromJson(_json.loads(meta["schemaString"]))
        if mode == "name" and any(
            f.dataType.typeName() in ("struct", "array", "map")
            for f in base.fields
        ):
            # nested physical names restore by POSITIONAL cast in
            # the batch readers; the tail's arrow path renames
            # top-level only — refuse rather than mislabel nested
            raise DeltaProtocolError(
                "delta_tail: mode=name with nested columns "
                "unsupported (use batch read_delta_changes)"
            )
        return base.add("_change_type", "string").add(
            "_commit_version", "long"
        )

    def streamReader(self, schema):
        from dataflowex_spark.sources.delta_reader import (
            _snapshot_schema_mapping,
        )

        _t, _p, phys, mode = _snapshot_schema_mapping(self._root())
        return _DeltaTailReader(
            self._root(),
            int(self.options.get("startVersion", 0)),
            [f.name for f in schema.fields],
            {
                f.name: f.dataType.simpleString()
                for f in schema.fields
            },
            phys if mode == "name" else {},
        )


class _IcebergTailPartition(InputPartition):
    def __init__(
        self,
        kind: str,  # "data" → inserts; "delete" → pos-delete file
        path: str,
        fmt: str,
        snapshot_id: int,
        ordinal: int,
    ):
        self.kind = kind
        self.path = path
        self.fmt = fmt
        self.snapshot_id = snapshot_id
        self.ordinal = ordinal


def _iceberg_read_data_file(path: str, fmt: str):
    """One Iceberg data file → a pyarrow Table (executor-side):
    parquet/ORC natively, AVRO through the from-scratch codec."""
    import pyarrow as pa

    if fmt == "PARQUET":
        import pyarrow.parquet as pq

        return pq.read_table(path)
    if fmt == "ORC":
        import pyarrow.orc as po

        return po.read_table(path)
    if fmt == "AVRO":
        import pandas as pd

        from dataflowex_spark.sources.avro_io import read_container

        schema, records = read_container(path)
        cols = (
            [f["name"] for f in schema.get("fields", [])]
            if isinstance(schema, dict)
            else []
        )
        return pa.Table.from_pandas(
            pd.DataFrame.from_records(records, columns=cols),
            preserve_index=False,
        )
    raise ValueError(f"iceberg_tail: data file format {fmt!r}")


class _IcebergTailReader(DataSourceStreamReader):
    """Offsets are SNAPSHOT ORDINALS into the table's snapshot list
    (``{"idx": i}`` = snapshots[0..i] streamed); a micro-batch is
    the CHANGELOG of the ordinal range — the spec's incremental
    scan: per snapshot, entries its manifests list as ADDED
    (status=1, snapshot_id == its id) stream as ``insert`` rows for
    data files and as ``delete`` rows for position-delete files (the
    deleted rows re-read by position from their data file — exact
    row images, not tombstone keys). An upsert snapshot therefore
    streams delete+insert pairs, the standard Iceberg changelog
    shape (the format tracks no row lineage, so there is no
    update_pre/postimage notion to fake). Planning is metadata-only
    (our avro codec, no JVM); reads run executor-side, one
    InputPartition per changed file."""

    def __init__(
        self,
        root: str,
        start_idx: int,
        out_cols: list,
        out_types: dict | None = None,
    ):
        self.root = root
        self.start_idx = start_idx
        self.out_cols = out_cols
        self.out_types = out_types or {}

    def _meta(self) -> dict:
        from dataflowex_spark.sources.iceberg_reader import (
            load_table_metadata,
        )

        return load_table_metadata(self.root)

    def initialOffset(self) -> dict:
        return {"idx": self.start_idx - 1}

    def latestOffset(self) -> dict:
        return {"idx": len(self._meta().get("snapshots", [])) - 1}

    def partitions(self, start: dict, end: dict):
        import os as _os

        from dataflowex_spark.sources.avro_io import read_container
        from dataflowex_spark.sources.iceberg_reader import (
            _resolve_path,
        )

        meta = self._meta()
        snaps = meta.get("snapshots", [])
        parts = []
        for i in range(start["idx"] + 1, end["idx"] + 1):
            snap = snaps[i]
            sid = snap["snapshot-id"]
            mlist = _resolve_path(self.root, snap["manifest-list"])
            _s, manifests = read_container(mlist)
            for m in manifests:
                mpath = _resolve_path(self.root, m["manifest_path"])
                _s2, entries = read_container(mpath)
                for e in entries:
                    if e["status"] != 1 or e.get("snapshot_id") != sid:
                        continue  # only THIS snapshot's additions
                    df_ = e["data_file"]
                    path = _resolve_path(self.root, df_["file_path"])
                    fmt = (df_.get("file_format") or "PARQUET").upper()
                    content = df_.get("content", 0)
                    if content == 0:
                        parts.append(
                            _IcebergTailPartition(
                                "data", path, fmt, sid, i
                            )
                        )
                    elif content == 1:
                        parts.append(
                            _IcebergTailPartition(
                                "delete", path, fmt, sid, i
                            )
                        )
                    else:
                        raise ValueError(
                            "iceberg_tail: equality deletes are not "
                            "position-addressable changelog rows"
                        )
        last = end["idx"]
        return parts or [
            _IcebergTailPartition("data", "", "PARQUET", -1, last)
        ]

    def read(self, partition):
        if not partition.path:
            return
        import pyarrow as pa

        if partition.kind == "data":
            table = _iceberg_read_data_file(
                partition.path, partition.fmt
            )
            ctype = "insert"
            tables = [table]
        else:
            # position-delete file: re-read the deleted rows by
            # position from each referenced data file (pyarrow take)
            import pyarrow.parquet as pq

            dels = pq.read_table(partition.path).to_pylist()
            by_file: dict[str, list[int]] = {}
            for r in dels:
                by_file.setdefault(r["file_path"], []).append(
                    int(r["pos"])
                )
            ctype = "delete"
            tables = []
            for fpath, positions in sorted(by_file.items()):
                # the delete file records the data file's own format
                # only implicitly; sniff by extension
                fmt = fpath.rsplit(".", 1)[-1].upper()
                t = _iceberg_read_data_file(fpath, fmt)
                tables.append(t.take(sorted(positions)))
        for t in tables:
            n = t.num_rows
            have = set(t.column_names)
            cols = []
            for name in self.out_cols:
                if name == "_change_type":
                    cols.append(pa.array([ctype] * n, pa.string()))
                elif name == "_snapshot_id":
                    cols.append(
                        pa.array(
                            [partition.snapshot_id] * n, pa.int64()
                        )
                    )
                elif name in have:
                    cols.append(t.column(name))
                else:
                    # files written before a schema-evolution ADD
                    # COLUMN lack the column — typed null-fill, same
                    # contract as the Delta tail
                    at = _arrow_null_type(self.out_types.get(name))
                    cols.append(pa.nulls(n, at) if at else pa.nulls(n))
            yield from pa.table(
                dict(zip(self.out_cols, cols))
            ).to_batches()

    def commit(self, end: dict) -> None:
        pass  # snapshots are the log; nothing to clean up


class IcebergTailDataSource(DataSource):
    """``spark.readStream.format("iceberg_tail").load(<table root>)``
    — tails an Iceberg table's snapshot log as a CHANGELOG stream
    (the spec's incremental scan): each micro-batch carries the rows
    ADDED per snapshot as ``insert`` and the rows position-deleted
    per snapshot as ``delete`` (exact row images re-read by
    position), tagged ``_snapshot_id``. Together with delta_tail and
    mtable_tail this closes the streaming-CDC triangle: any of the
    three table formats tails into any Structured Streaming sink,
    exactly-once by offset-range replay determinism (snapshots are
    immutable).

    Options: ``startIdx`` (default 0 — the creating snapshot is the
    first batch). Equality-delete snapshots refuse (not
    position-addressable); expired snapshots cannot be tailed — the
    same retention contract as Delta CDF."""

    @classmethod
    def name(cls) -> str:
        return "iceberg_tail"

    def _root(self) -> str:
        root = self.options.get("path")
        if not root:
            raise ValueError(
                "iceberg_tail: pass the table root via .load(root)"
            )
        return root

    def schema(self):
        from pyspark.sql.types import StructType

        from dataflowex_spark.sources.iceberg_reader import (
            _current_schema_fields,
            _spark_type,
            load_table_metadata,
        )

        meta = load_table_metadata(self._root())
        fields = _current_schema_fields(meta)
        if not fields:
            raise ValueError(
                "iceberg_tail: table metadata carries no schema"
            )
        base = StructType()
        for f in fields:
            base = base.add(
                f["name"], _spark_type(f["type"]), True
            )
        return base.add("_change_type", "string").add(
            "_snapshot_id", "long"
        )

    def streamReader(self, schema):
        return _IcebergTailReader(
            self._root(),
            int(self.options.get("startIdx", 0)),
            [f.name for f in schema.fields],
            {
                f.name: f.dataType.simpleString()
                for f in schema.fields
            },
        )
