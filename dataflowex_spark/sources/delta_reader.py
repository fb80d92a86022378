"""From-scratch Delta Lake TABLE READER — no delta-spark JAR.

Implements the PUBLIC Delta transaction-log protocol
(https://github.com/delta-io/delta/blob/master/PROTOCOL.md): a table
is a directory of parquet data files plus ``_delta_log/`` holding
ordered JSON commits (``%020d.json``) of ACTIONS — ``protocol``,
``metaData``, ``add``, ``remove`` — with optional parquet
CHECKPOINTS (``%020d.checkpoint.parquet``, advertised by
``_last_checkpoint``). Snapshot state is the last-writer-wins fold
of actions: the live file set, the current schema, the partition
columns.

What this reader supports (and tests hand-build conformance tables
for, the same discipline as the codec modules):

- snapshot at latest or any version (time travel): replay from the
  newest checkpoint ≤ target, then the JSON commits after it;
- ``metaData.schemaString`` — Delta uses Spark's own JSON schema
  encoding, so ``StructType.fromJson`` round-trips it exactly;
- partitioned tables: data files DON'T store partition columns;
  each add's ``partitionValues`` (strings, Delta's canonical
  encoding) re-attach as typed literals, one scan per partition
  tuple group, unioned;
- **column mapping, mode ``name``** (minReaderVersion 2, or the
  ``columnMapping`` reader feature): data files store PHYSICAL
  column names from each field's
  ``delta.columnMapping.physicalName`` metadata; the reader scans
  with the physical schema and restores logical names — nested
  struct fields ride a positional struct cast. ``partitionValues``
  keys are physical names too and map back the same way. Mode
  ``id`` matches parquet columns by FIELD ID through Spark's native
  field-id matcher (requested schema carries ``parquet.field.id``
  from each field's ``delta.columnMapping.id``) — physical names
  can be arbitrary;
- **deletion vectors** (``add.deletionVector``): descriptors decode
  through :mod:`roaring` (z85 → RoaringBitmapArray portable → CRC-
  verified DV-file frames) and the dead positions anti-join against
  the scan's ``_metadata.file_path``/``row_index`` — the exact
  broadcast plan MTable's own DVs use;
- multi-part checkpoints: ``_last_checkpoint`` ``parts`` is
  consulted and ``N.checkpoint.<i>.<n>.parquet`` part sets are
  collected whole (an incomplete part set refuses rather than
  silently dropping files);
- protocol gate: any OTHER v2 requirement or unknown
  ``readerFeatures`` entry is HONESTLY refused — silently
  misreading would return wrong data, the worst failure mode a
  reader can have.

Commit rule (write side): every writer claims its log version
through ``_try_claim_commit``, as the successor of the version its
snapshot was folded at — ``base = _latest_version(root)``, then
``_snapshot(spark, root, base)``, then claim ``base + 1`` by
put-if-absent. A commit landing in between makes the claim fail, and
the writer re-reads and recomputes, so state derived from an older
snapshot never lands on top of a newer one (a DV replacing a DV it
never saw, a metaData dropping a constraint). A plain append is the
one blind writer: its adds commute, so it claims the head + 1 at claim
time.

Scale note: snapshot resolution is metadata work proportional to the
log tail since the last checkpoint (exactly the economics the real
reader has); the data read is ordinary parquet scans, so pushdown /
pruning / column projection all apply per group. At 100 TB the one
driver-side structure is the live-file dict — the same thing
delta-spark's Snapshot holds.
"""

from __future__ import annotations

import datetime as _dt
import json
import os
import urllib.parse as _uparse

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from dataflowex_spark.sources import (
    apply_skip_filter,
    check_skip_specs,
    skip_admits,
    utc_clock,
)
from dataflowex_spark.sources.commit_backend import get_commit_backend
from dataflowex_spark.sources.footer_stats import (
    file_path_col,
    file_stats,
    hive_values,
    local_path,
)

_SUPPORTED_READER_FEATURES = {
    "timestampNtz",  # type-only, no read-path behavior change
    "vacuumProtocolCheck",  # writer-side concern
    "columnMapping",  # modes name AND id implemented
    "deletionVectors",  # roaring.py descriptor decode + anti-join
    "v2Checkpoint",  # top-level checkpoint + _sidecars resolution
}


class DeltaProtocolError(NotImplementedError):
    """Table requires reader capabilities this reader lacks."""


def _log_dir(root: str) -> str:
    return os.path.join(root, "_delta_log")


def _rel_uri(rel: str) -> str:
    """On-disk table-root-relative path → the RFC 2396-encoded form
    the protocol requires for ``add``/``remove``/``cdc`` ``path``.
    delta-spark DECODES add.path before resolving it, so emitting
    raw on-disk bytes (hive-escaped partition dirs carry literal
    ``%XX``) would make a real engine resolve a DIFFERENT file —
    and its tables unreadable here. The raw ON-DISK relative path is
    encoded with quote() ALONE (a literal ``%`` in a hive-escaped
    dir — partition value containing ``%``/``=`` → on-disk
    ``a%3Db`` — escapes to ``a%253Db``, exactly what delta-spark
    logs), so the log string always decodes back to the on-disk
    bytes and a remove emitted from an on-disk path matches the
    add's log string. The safe set is RFC 2396 pchar (``:@&=+$,``
    stay raw — hive dirs keep their literal key ``=``, matching what
    Hadoop's Path URI leaves unescaped in delta-spark logs)."""
    import urllib.parse as _up

    return _up.quote(rel, safe="/:@&=+$,")


def _data_path(root: str, rel: str) -> str:
    """Log/checkpoint ``path`` → absolute on-disk path (RFC 2396
    decode, then join) — the single resolver every scan / DV /
    vacuum / CDF site goes through."""
    import urllib.parse as _up

    return os.path.join(root, _up.unquote(rel))


def _commit_files(root: str) -> dict[int, str]:
    out = {}
    d = _log_dir(root)
    if not os.path.isdir(d):
        raise FileNotFoundError(f"not a Delta table (no _delta_log): {root}")
    for fn in os.listdir(d):
        if fn.endswith(".json") and fn[:-5].isdigit():
            out[int(fn[:-5])] = os.path.join(d, fn)
    return out


def _checkpoint_for(root: str, target: int) -> tuple[int, list[str]] | None:
    """Newest checkpoint at version ≤ target, if any — simple
    (``N.checkpoint.parquet``), multi-part
    (``N.checkpoint.<i>.<n>.parquet``, the form ``_last_checkpoint``
    advertises via ``parts``), or V2
    (``N.checkpoint.<uniqueStr>.parquet`` — a top-level file whose
    ``sidecar`` actions point into ``_delta_log/_sidecars/``).
    A multi-part set missing any part REFUSES (reading a partial
    checkpoint would silently drop live files); ``_last_checkpoint``
    itself is advisory — the directory listing is the source of
    truth, matching the protocol's recovery story for a torn
    ``_last_checkpoint`` write. When several complete forms coexist
    at the winning version, precedence is V2 > simple > multi-part
    (the protocol lets a writer publish both during a format
    migration; any complete one is equivalent)."""
    d = _log_dir(root)
    simple: dict[int, str] = {}
    v2: dict[int, str] = {}
    parts: dict[int, dict[int, tuple[int, str]]] = {}
    for fn in os.listdir(d):
        if not fn.endswith(".parquet"):
            continue
        bits = fn[: -len(".parquet")].split(".")
        if len(bits) == 2 and bits[1] == "checkpoint" and bits[0].isdigit():
            simple[int(bits[0])] = os.path.join(d, fn)
        elif (
            len(bits) == 4
            and bits[1] == "checkpoint"
            and all(b.isdigit() for b in (bits[0], bits[2], bits[3]))
        ):
            v, i, n = int(bits[0]), int(bits[2]), int(bits[3])
            parts.setdefault(v, {})[i] = (n, os.path.join(d, fn))
        elif (
            len(bits) == 3
            and bits[1] == "checkpoint"
            and bits[0].isdigit()
            and not bits[2].isdigit()  # uniqueStr, never a part index
        ):
            v2[int(bits[0])] = os.path.join(d, fn)
    candidates = [v for v in simple if v <= target]
    candidates += [v for v in parts if v <= target]
    candidates += [v for v in v2 if v <= target]
    if not candidates:
        return None
    v = max(candidates)
    if v in v2:
        return v, [v2[v]]
    if v in simple:
        return v, [simple[v]]
    got = parts[v]
    n = next(iter(got.values()))[0]
    missing = sorted(set(range(1, n + 1)) - set(got))
    if missing or any(pn != n for pn, _ in got.values()):
        raise DeltaProtocolError(
            f"multi-part checkpoint {v} incomplete: have parts "
            f"{sorted(got)} of {n} (missing {missing})"
        )
    return v, [got[i][1] for i in sorted(got)]


def _latest_version(root: str) -> int:
    """Newest version the log holds: the max of the JSON commits and
    the newest checkpoint (after retention ages the JSON tail out, the
    commit listing alone would land below the checkpoint), or -1 for
    an empty log. The one place the log head is computed."""
    commits = _commit_files(root)
    cp = _checkpoint_for(root, 1 << 62)
    return max(max(commits, default=-1), cp[0] if cp else -1)


def _check_protocol(p: dict) -> None:
    mrv = p.get("minReaderVersion", 1)
    if mrv in (1, 2):
        # v2 = column mapping; supported for mode=name (the mode gate
        # lives in _mapping_mode, where the metaData is in hand)
        return
    if mrv == 3:
        feats = set(p.get("readerFeatures") or [])
        bad = feats - _SUPPORTED_READER_FEATURES
        if bad:
            raise DeltaProtocolError(
                f"unsupported Delta readerFeatures: {sorted(bad)}"
            )
        return
    raise DeltaProtocolError(
        f"unsupported Delta minReaderVersion: {mrv}"
    )


def _snapshot(
    spark: SparkSession,
    root: str,
    version: int | None,
    domains: dict[str, str] | None = None,
) -> tuple[dict, dict[str, dict]]:
    """Fold the log into (metaData, live adds by path). Pass a dict
    as ``domains`` to additionally fold ``domainMetadata`` actions
    (PROTOCOL.md "Domain Metadata"): it fills with
    domain → configuration-JSON-string, last writer wins,
    ``removed: true`` tombstones drop the entry."""
    latest = _latest_version(root)
    if latest < 0:
        raise FileNotFoundError(f"empty _delta_log in {root}")
    commits = _commit_files(root)
    target = latest if version is None else version
    if version is not None and target > latest:
        raise ValueError(f"version {target} > latest {latest}")
    meta: dict = {}
    adds: dict[str, dict] = {}

    def apply(action: dict) -> None:
        if "protocol" in action and action["protocol"]:
            _check_protocol(action["protocol"])
        if "metaData" in action and action["metaData"]:
            meta.update(action["metaData"])
        a = action.get("add")
        if a:
            adds[a["path"]] = a
        r = action.get("remove")
        if r:
            adds.pop(r["path"], None)
        dm = action.get("domainMetadata")
        if dm and domains is not None:
            if dm.get("removed"):
                domains.pop(dm["domain"], None)
            else:
                domains[dm["domain"]] = dm.get("configuration")

    start = 0
    cp = _checkpoint_for(root, target)
    if cp is not None:
        cp_version, cp_files = cp
        sidecars: list[str] = []

        def decode(row) -> dict:
            # checkpoint cells may be struct-shaped (delta-spark,
            # conformance fixtures) or JSON strings (our exporter's
            # stable-schema checkpoints) — accept both
            return {
                k: (json.loads(v) if isinstance(v, str) else v)
                for k, v in row.asDict(recursive=True).items()
                if v is not None
            }

        for row in spark.read.parquet(*cp_files).collect():
            d = decode(row)
            sc = d.pop("sidecar", None)
            if sc:
                # V2 checkpoint: file actions live in sidecar files
                # (names relative to _delta_log/_sidecars/, absolute
                # URIs accepted); checkpointMetadata is bookkeeping
                sidecars.append(sc["path"])
            d.pop("checkpointMetadata", None)
            if d:
                apply(d)
        if sidecars:
            sdir = os.path.join(_log_dir(root), "_sidecars")
            paths = []
            for p in sidecars:
                ap = _data_path(sdir, p) if not os.path.isabs(p) else p
                if not os.path.exists(ap):
                    raise DeltaProtocolError(
                        f"v2 checkpoint sidecar missing: {p!r} "
                        "(reading a partial checkpoint would "
                        "silently drop live files)"
                    )
                paths.append(ap)
            for row in spark.read.parquet(*paths).collect():
                d = decode(row)
                if d:
                    apply(d)
        start = cp_version + 1
    for v in range(start, target + 1):
        path = commits.get(v)
        if path is None:
            if cp is not None and v <= cp[0]:
                continue
            raise FileNotFoundError(
                f"missing commit {v} in _delta_log (log retention gap)"
            )
        with open(path) as f:
            for line in f:
                line = line.strip()
                if line:
                    apply(json.loads(line))
    if "schemaString" not in meta:
        raise ValueError("log contains no metaData.schemaString")
    return meta, adds


def version_at_timestamp(root: str, ts_ms: int) -> int:
    """Delta timestamp time travel: the latest version whose commit
    timestamp is ≤ ``ts_ms`` (the TIMESTAMP AS OF contract).
    Commit time prefers ``commitInfo.inCommitTimestamp`` (the
    inCommitTimestamp writer feature: monotone, file-mtime-proof —
    what delta-spark trusts when the table enables ICT), then
    ``commitInfo.timestamp``, else the log file's mtime — the same
    fallback chain delta-spark uses for logs written without
    commitInfo."""
    best = None
    for v, path in sorted(_commit_files(root).items()):
        ts = None
        with open(path) as f:
            for line in f:
                line = line.strip()
                if not line:
                    continue
                a = json.loads(line)
                if "commitInfo" in a and a["commitInfo"]:
                    ci = a["commitInfo"]
                    ts = ci.get("inCommitTimestamp", ci.get("timestamp"))
        if ts is None:
            ts = int(os.stat(path).st_mtime * 1000)
        if ts <= ts_ms:
            best = v
    if best is None:
        raise ValueError(
            f"no Delta commit at or before timestamp {ts_ms}"
        )
    return best


def delta_history(root: str) -> list[dict]:
    """commitInfo (or synthesized stub) per version, ascending."""
    out = []
    for v, path in sorted(_commit_files(root).items()):
        info = {"version": v}
        with open(path) as f:
            for line in f:
                line = line.strip()
                if not line:
                    continue
                a = json.loads(line)
                if "commitInfo" in a:
                    info.update(a["commitInfo"])
        out.append(info)
    return out


def _typed_partition_lit(value: str | None, dtype: T.DataType):
    if value is None:
        return F.lit(None).cast(dtype)
    # Delta canonicalizes partition values as strings; a cast from
    # the string form is the documented decode for primitive types
    return F.lit(value).cast(dtype)


def _mapping_mode(meta: dict) -> str:
    mode = (meta.get("configuration") or {}).get(
        "delta.columnMapping.mode", "none"
    )
    if mode in ("none", "name", "id"):
        return mode
    raise DeltaProtocolError(
        f"delta.columnMapping.mode={mode!r} not supported"
    )


def _fieldid_field(f: T.StructField) -> T.StructField:
    """Logical field → requested-schema field carrying
    ``parquet.field.id`` (from ``delta.columnMapping.id``) so
    Spark's native field-id matching (mode=id: parquet columns match
    by id, names are presentation) resolves it — recursive for
    nested structs/arrays/maps."""
    def walk(dt: T.DataType) -> T.DataType:
        if isinstance(dt, T.StructType):
            return T.StructType([_fieldid_field(x) for x in dt.fields])
        if isinstance(dt, T.ArrayType):
            return T.ArrayType(walk(dt.elementType), dt.containsNull)
        if isinstance(dt, T.MapType):
            return T.MapType(
                walk(dt.keyType), walk(dt.valueType), dt.valueContainsNull
            )
        return dt

    md = dict(f.metadata or {})
    fid = md.get("delta.columnMapping.id")
    if fid is None:
        raise DeltaProtocolError(
            f"mode=id table field {f.name!r} lacks "
            "delta.columnMapping.id metadata"
        )
    return T.StructField(
        f.name, walk(f.dataType), f.nullable, {"parquet.field.id": fid}
    )


def _footer_names_by_id(path: str) -> dict[int, str]:
    """Top-level parquet column name per ``PARQUET:field_id`` from
    one data file's footer — driver-side planning metadata (no data
    pages), the basis of mode=id column resolution. Files whose
    footers carry no ids return {} and fall back to the metadata
    physicalName."""
    import pyarrow.parquet as pq

    out: dict[int, str] = {}
    try:
        schema = pq.read_schema(path)
    except Exception:
        return out
    for f in schema:
        fid = (f.metadata or {}).get(b"PARQUET:field_id")
        if fid is not None:
            out[int(fid)] = f.name
    return out


def _physical_type(dt: T.DataType) -> T.DataType:
    """Rewrite a logical type's field NAMES to their
    ``delta.columnMapping.physicalName`` recursively (structs nest;
    array/map element structs map too)."""
    if isinstance(dt, T.StructType):
        return T.StructType(
            [
                T.StructField(
                    f.metadata.get(
                        "delta.columnMapping.physicalName", f.name
                    ),
                    _physical_type(f.dataType),
                    f.nullable,
                )
                for f in dt.fields
            ]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(
            _physical_type(dt.elementType), dt.containsNull
        )
    if isinstance(dt, T.MapType):
        return T.MapType(
            _physical_type(dt.keyType),
            _physical_type(dt.valueType),
            dt.valueContainsNull,
        )
    return dt


def _physical_name(field: T.StructField) -> str:
    return field.metadata.get(
        "delta.columnMapping.physicalName", field.name
    )


def _dead_positions(root: str, adds: dict[str, dict]) -> list[tuple]:
    """(absolute data path, row_index) pairs named dead by the live
    adds' deletion vectors — decoded driver-side (a DV is bounded
    per-file delete state; same economics as MTable's sidecars)."""
    from dataflowex_spark.sources.roaring import decode_dv_descriptor

    out = []
    for a in adds.values():
        dv = a.get("deletionVector")
        if not dv:
            continue
        # checkpoints store the descriptor as a JSON string (stable
        # checkpoint schema); JSON commits carry it struct-shaped
        if isinstance(dv, str):
            dv = json.loads(dv)
        data_path = os.path.abspath(_data_path(root, a["path"]))
        for pos in decode_dv_descriptor(root, dict(dv)):
            out.append((data_path, pos))
    return out


def _add_stats(add: dict) -> dict:
    """An add's ``stats`` JSON (numRecords / minValues / maxValues)
    as a dict; ``{}`` when missing or unparseable."""
    raw = add.get("stats")
    try:
        return (json.loads(raw) if isinstance(raw, str) else dict(raw)) or {}
    except (TypeError, ValueError):
        return {}


def _add_admits(
    add: dict,
    specs: list[tuple],
    phys: dict[str, str],
    dtypes: dict[str, str],
    part_cols: list[str],
    utc: bool,
) -> bool:
    """Can any row of this add match every ``(col, op, literal)``?
    Asked of :func:`sources.skip_admits` with the file's range per
    column: a partition column's ``partitionValues`` string as a
    point (a null value matches no comparison), any other column's
    ``add.stats`` min/max keyed by physical name. The protocol
    truncates timestamp stats to milliseconds, so a timestamp max
    widens by 999 µs."""
    pv = add.get("partitionValues") or {}
    st = _add_stats(add)
    for col, op, v in specs:
        cp = phys[col]
        if col in part_cols:
            lo = hi = pv.get(cp)
            if lo is None:
                return False
        else:
            lo = (st.get("minValues") or {}).get(cp)
            hi = (st.get("maxValues") or {}).get(cp)
            if dtypes[col].startswith("timestamp") and isinstance(hi, str):
                try:
                    hi = _dt.datetime.fromisoformat(hi) + _dt.timedelta(
                        microseconds=999
                    )
                except ValueError:
                    hi = None
        if not skip_admits(lo, hi, op, v, dtypes[col], utc):
            return False
    return True


def read_delta(
    spark: SparkSession,
    root: str,
    version: int | None = None,
    timestamp_ms: int | None = None,
    skip_where: list[tuple] | None = None,
) -> DataFrame:
    """Read a Delta table directory as a DataFrame (latest snapshot,
    ``version=`` time travel, or ``timestamp_ms=`` TIMESTAMP AS OF),
    applying column mapping (mode=name) and deletion vectors.

    ``skip_where`` — a conjunction of ``(column, op, literal)``
    triples with op in ``= < <= > >=`` — enables DATA SKIPPING: files
    whose ``add.stats`` min/max (the protocol's per-file statistics,
    exactly what delta-spark's data skipping reads) or
    ``partitionValues`` prove no row can match are never opened, and
    the SAME predicate is then applied in-plan so results stay
    exact. The pruning rule is the shared
    :func:`sources.skip_admits`: a file is dropped only when it
    provably holds no match the way Spark evaluates the predicate;
    missing stats, and literals whose Spark cast it cannot reproduce,
    keep the file. At 100 TB this is the difference between opening
    every file and opening the handful a point query touches."""
    root = local_path(root)
    if timestamp_ms is not None:
        if version is not None:
            raise ValueError("pass version OR timestamp_ms, not both")
        version = version_at_timestamp(root, timestamp_ms)
    meta, adds = _snapshot(spark, root, version)
    schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
    mode = _mapping_mode(meta)
    part_cols = meta.get("partitionColumns") or []
    # under mode=name, data files + partitionValues keys carry
    # PHYSICAL names; the scan uses the physical schema and each
    # column restores its logical name via alias + a positional
    # struct cast (Spark casts struct fields BY POSITION, so nested
    # physical names rename for free)
    phys_by_logical = {
        f.name: (_physical_name(f) if mode in ("name", "id") else f.name)
        for f in schema.fields
    }
    data_fields = [f for f in schema.fields if f.name not in part_cols]
    if mode == "id":
        # mode=id: parquet columns match by FIELD ID (names are
        # presentation). Resolution is per-file from the footer's
        # PARQUET:field_id (one driver-side footer read per file —
        # planning metadata, the same per-file footers any reader
        # pulls), falling back to the metadata physicalName for
        # id-less footers. This deliberately avoids
        # spark.sql.parquet.fieldId.read.enabled: the scan is lazy,
        # so a session-conf set here would both LEAK into every
        # other parquet read and silently stop applying if anything
        # reset the conf before an action.
        ids_by_logical = {
            f.name: int(_fieldid_field(f).metadata["parquet.field.id"])
            for f in data_fields
        }
        phys = None
    else:
        phys = T.StructType(
            [
                T.StructField(
                    phys_by_logical[f.name],
                    _physical_type(f.dataType)
                    if mode == "name"
                    else f.dataType,
                    f.nullable,
                )
                for f in data_fields
            ]
        )
    specs = check_skip_specs(skip_where, phys_by_logical)
    if specs:
        utc = utc_clock(spark)
        dtypes = {f.name: f.dataType.simpleString() for f in schema.fields}
        adds = {
            path: a
            for path, a in adds.items()
            if _add_admits(a, specs, phys_by_logical, dtypes, part_cols, utc)
        }
    by_parts: dict[tuple, list[str]] = {}
    for a in adds.values():
        pv = a.get("partitionValues") or {}
        pkey = tuple(pv.get(phys_by_logical[c]) for c in part_cols)
        if mode == "id":
            # group files by their footer's id→name mapping so each
            # group scans with one requested schema
            fnames = _footer_names_by_id(_data_path(root, a["path"]))
            resolved = tuple(
                fnames.get(
                    ids_by_logical[f.name], phys_by_logical[f.name]
                )
                for f in data_fields
            )
        else:
            resolved = None
        by_parts.setdefault((pkey, resolved), []).append(
            _data_path(root, a["path"])
        )
    if not by_parts:
        out = spark.createDataFrame([], schema)
        return apply_skip_filter(out, specs)
    dead = _dead_positions(root, adds)
    pieces = []
    for (key, resolved), paths in sorted(
        by_parts.items(), key=lambda kv: str(kv[0])
    ):
        grp_phys = (
            T.StructType(
                [
                    T.StructField(
                        rn, _physical_type(f.dataType), f.nullable
                    )
                    for rn, f in zip(resolved, data_fields)
                ]
            )
            if mode == "id"
            else phys
        )
        df = spark.read.schema(grp_phys).parquet(*paths)
        if dead:
            df = df.select(
                "*",
                file_path_col().alias("__fp"),
                F.col("_metadata.row_index").alias("__ri"),
            )
        id_name = (
            dict(zip((f.name for f in data_fields), resolved))
            if mode == "id"
            else {}
        )
        cols = []
        for f in schema.fields:
            if f.name in part_cols:
                continue
            # both mapping modes scan PHYSICAL names (mode=id: the
            # footer-resolved name per group) and alias back to
            # logical; nested names restore via positional struct
            # cast
            c = F.col(
                id_name[f.name] if mode == "id" else phys_by_logical[f.name]
            )
            if mode in ("name", "id") and isinstance(
                f.dataType, (T.StructType, T.ArrayType, T.MapType)
            ):
                c = c.cast(f.dataType)
            cols.append(c.alias(f.name))
        keep = (["__fp", "__ri"] if dead else [])
        df = df.select(*cols, *keep)
        for c, v in zip(part_cols, key):
            df = df.withColumn(
                c, _typed_partition_lit(v, schema[c].dataType)
            )
        pieces.append(
            df.select(*[f.name for f in schema.fields], *keep)
        )
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p)
    if dead:
        dv_df = spark.createDataFrame(
            dead, "__fp string, __ri long"
        ).distinct()
        out = out.join(
            F.broadcast(dv_df), ["__fp", "__ri"], "left_anti"
        ).select(*[f.name for f in schema.fields])
    return apply_skip_filter(out, specs)


# ---------------------------------------------------------------------
# Minimal conformance-table writer (tests/fixtures ONLY — the engine's
# real table format is MTable; this exists so the reader can be proven
# against hand-built logs, the codec-module discipline)
# ---------------------------------------------------------------------


def write_conformance_log(
    root: str,
    commits: list[list[dict]],
    checkpoint_at: int | None = None,
    spark: SparkSession | None = None,
    checkpoint_parts: int | None = None,
) -> None:
    """Write ``commits[i]`` as ``_delta_log/%020i.json`` (one action
    per line); optionally also a parquet checkpoint capturing the
    state at ``checkpoint_at`` (requires ``spark``) — single-file,
    or split round-robin into ``checkpoint_parts`` part files
    (``N.checkpoint.<i>.<n>.parquet``, advertised via
    ``_last_checkpoint`` ``parts`` exactly as the protocol
    describes)."""
    d = _log_dir(root)
    os.makedirs(d, exist_ok=True)
    for i, actions in enumerate(commits):
        with open(os.path.join(d, f"{i:020d}.json"), "w") as f:
            for a in actions:
                f.write(json.dumps(a) + "\n")
    if checkpoint_at is not None:
        meta: dict = {}
        proto: dict = {}
        adds: dict[str, dict] = {}
        for actions in commits[: checkpoint_at + 1]:
            for a in actions:
                if "protocol" in a:
                    proto = a["protocol"]
                if "metaData" in a:
                    meta.update(a["metaData"])
                if "add" in a:
                    adds[a["add"]["path"]] = a["add"]
                if "remove" in a:
                    adds.pop(a["remove"]["path"], None)
        cp_schema = T.StructType(
            [
                T.StructField(
                    "protocol",
                    T.StructType(
                        [
                            T.StructField("minReaderVersion", T.LongType()),
                            T.StructField(
                                "readerFeatures",
                                T.ArrayType(T.StringType()),
                            ),
                        ]
                    ),
                ),
                T.StructField(
                    "metaData",
                    T.StructType(
                        [
                            T.StructField("id", T.StringType()),
                            T.StructField("schemaString", T.StringType()),
                            T.StructField(
                                "partitionColumns",
                                T.ArrayType(T.StringType()),
                            ),
                        ]
                    ),
                ),
                T.StructField(
                    "add",
                    T.StructType(
                        [
                            T.StructField("path", T.StringType()),
                            T.StructField(
                                "partitionValues",
                                T.MapType(T.StringType(), T.StringType()),
                            ),
                            T.StructField(
                                "deletionVector", T.StringType()
                            ),
                        ]
                    ),
                ),
            ]
        )
        rows = [
            (
                (
                    proto.get("minReaderVersion", 1),
                    proto.get("readerFeatures"),
                ),
                (
                    meta.get("id"),
                    meta.get("schemaString"),
                    meta.get("partitionColumns"),
                ),
                None,
            )
        ]
        rows += [
            (
                None,
                None,
                (
                    a["path"],
                    a.get("partitionValues"),
                    # descriptor serializes as JSON (the checkpoint
                    # schema types it string); _dead_positions
                    # json.loads it back on replay
                    json.dumps(a["deletionVector"])
                    if a.get("deletionVector")
                    else None,
                ),
            )
            for a in sorted(adds.values(), key=lambda x: x["path"])
        ]
        import shutil

        def _one_file(some_rows, dest_name):
            tmp = root + "/_cptmp"
            spark.createDataFrame(some_rows, cp_schema).coalesce(
                1
            ).write.mode("overwrite").parquet(tmp)
            part = [
                fn for fn in os.listdir(tmp) if fn.endswith(".parquet")
            ][0]
            os.replace(os.path.join(tmp, part), os.path.join(d, dest_name))
            shutil.rmtree(tmp, ignore_errors=True)

        last_cp: dict = {"version": checkpoint_at, "size": len(rows)}
        if checkpoint_parts:
            n = checkpoint_parts
            for i in range(1, n + 1):
                chunk = rows[i - 1 :: n] or rows[:0]
                _one_file(
                    chunk,
                    f"{checkpoint_at:020d}.checkpoint."
                    f"{i:010d}.{n:010d}.parquet",
                )
            last_cp["parts"] = n
        else:
            _one_file(
                rows, f"{checkpoint_at:020d}.checkpoint.parquet"
            )
        with open(os.path.join(d, "_last_checkpoint"), "w") as f:
            json.dump(last_cp, f)


def stage_parquet_file(df: DataFrame, root: str, name: str) -> None:
    """Materialize ``df`` as exactly ONE parquet file at
    ``root/name`` — conformance-fixture helper for hand-built logs
    (executor writes the bytes; only the rename is driver-side)."""
    import shutil

    job = os.path.join(root, "_stage_" + name.replace("/", "_"))
    df.coalesce(1).write.mode("overwrite").parquet(job)
    part = [fn for fn in os.listdir(job) if fn.endswith(".parquet")][0]
    dest = os.path.join(root, name)
    os.makedirs(os.path.dirname(dest), exist_ok=True)
    os.replace(os.path.join(job, part), dest)
    shutil.rmtree(job, ignore_errors=True)


def stage_parquet_files_by(
    df: DataFrame, root: str, part_col: str, name_fn
) -> list[str]:
    """Materialize ``df`` as exactly ONE parquet file per distinct
    ``part_col`` value in a SINGLE pass (conformance-fixture helper):
    one hash repartition on the partition column keeps each value's
    rows in one task, the dynamic-partition writer emits one file per
    value, and each is renamed to ``root/name_fn(value)``. Replaces a
    per-value loop of filtered scans+writes (guide §1.2: the fixture
    build was N+1 passes over the source — one per value plus the
    distinct — for what one clustered write produces). The partition
    column is dropped from file contents, exactly as the per-value
    ``select`` of the loop form did. Returns the sorted values."""
    import shutil

    job = os.path.join(root, "_stage_by_" + part_col)
    (
        df.repartition(F.col(part_col))
        .write.mode("overwrite")
        .partitionBy(part_col)
        .parquet(job)
    )
    vals: list[str] = []
    for d in sorted(os.listdir(job)):
        full = os.path.join(job, d)
        if not (d.startswith(part_col + "=") and os.path.isdir(full)):
            continue
        v = _uparse.unquote(d.split("=", 1)[1])
        parts = [fn for fn in os.listdir(full) if fn.endswith(".parquet")]
        assert len(parts) == 1, (d, parts)
        os.replace(
            os.path.join(full, parts[0]), os.path.join(root, name_fn(v))
        )
        vals.append(v)
    shutil.rmtree(job, ignore_errors=True)
    return vals


def export_snapshot_to_delta(
    table, dest: str, version: int | None = None
) -> None:
    """Export an MTable snapshot as a Delta-protocol table any Delta
    reader can open — interop in the WRITE direction (the read
    direction is :func:`read_delta`).

    Zero-copy: the snapshot's immutable parquet data files HARD-LINK
    into ``dest/data/`` (they are never edited after commit, the same
    invariant Delta itself relies on), and one commit JSON declares
    protocol/metaData/adds. Snapshots carrying unapplied deletion
    vectors or equality-delete sidecars REFUSE — exporting their base
    files would resurrect deleted rows; fold the debt first
    (``apply_deletion_vectors()`` / compaction) and export the clean
    snapshot."""
    m = table.manifest(version)
    dirty = [
        e["path"]
        for e in m["files"]
        if e.get("dv") or e.get("eq")
    ]
    if dirty:
        raise ValueError(
            f"{len(dirty)} file(s) carry merge-on-read delete debt; "
            "apply_deletion_vectors()/compact first, then export"
        )
    os.makedirs(os.path.join(dest, "data"), exist_ok=True)
    adds = []
    for e in sorted(m["files"], key=lambda x: x["path"]):
        # name by the MTable file's own basename (unique per write
        # job) so INCREMENTAL publishes can express removes against
        # a stable mapping
        name = "data/" + os.path.basename(e["path"])
        target = os.path.join(dest, name)
        if not os.path.exists(target):
            os.link(e["path"], target)
        adds.append(
            {
                "add": {
                    "path": _rel_uri(name),
                    "partitionValues": {},
                    "size": os.path.getsize(target),
                    "dataChange": True,
                    "stats": _mtable_stats_json(e, m["key_col"]),
                }
            }
        )
    schema_str = json.dumps(table.read(version=version).schema.jsonValue())
    commit = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {
            "metaData": {
                "id": f"mtable-export-{m['version']}",
                "schemaString": schema_str,
                "partitionColumns": [],
                "format": {"provider": "parquet"},
            }
        },
        {
            "commitInfo": {
                "operation": "MTABLE_EXPORT",
                "sourceVersion": m["version"],
            }
        },
    ] + adds
    write_conformance_log(dest, [commit])


# ---------------------------------------------------------------------
# Change Data Feed (CDF) read — PROTOCOL.md "Add CDC File" / the
# delta.enableChangeDataFeed surface.
# ---------------------------------------------------------------------


def read_delta_changes(
    spark: SparkSession,
    root: str,
    starting_version: int,
    ending_version: int | None = None,
) -> DataFrame:
    """Row-level changes between two versions (inclusive) — the
    ``readChangeFeed`` surface, from the log's own actions:

    - commits that wrote ``cdc`` actions (UPDATE/MERGE under
      delta.enableChangeDataFeed) read their ``_change_data/`` files
      verbatim — those carry the authoritative ``_change_type``
      (insert / update_preimage / update_postimage / delete);
    - commits WITHOUT cdc actions synthesize per the protocol's rule:
      every ``add`` with dataChange reads as ``insert`` rows, every
      ``remove`` with dataChange reads as ``delete`` rows (the
      removed file's content — still on disk under retention, the
      same contract vacuum enforces for CDF consumers).

    Output = table columns + ``_change_type`` + ``_commit_version``.
    Scale shape: per-version metadata walk + ordinary parquet scans
    of exactly the changed files; the base table is never rescanned
    (the MTable changefeed economics, q295)."""
    commits = _commit_files(root)
    if not commits:
        raise FileNotFoundError(f"empty _delta_log in {root}")
    latest = max(commits)
    end = latest if ending_version is None else ending_version
    if starting_version > end:
        raise ValueError(
            f"starting_version {starting_version} > ending {end}"
        )
    meta0, _ = _snapshot(spark, root, end)
    schema = T.StructType.fromJson(json.loads(meta0["schemaString"]))
    mode = _mapping_mode(meta0)
    if mode == "id":
        # mode=id resolution is per-file by footer field id
        # (read_delta's path); CDF's name-based typed_read would
        # select logical names against arbitrary physical columns —
        # refuse loudly rather than misread
        raise DeltaProtocolError(
            "CDF unsupported for columnMapping mode=id"
        )
    part_cols = meta0.get("partitionColumns") or []
    phys_by_logical = {
        f.name: (_physical_name(f) if mode == "name" else f.name)
        for f in schema.fields
    }

    def typed_read(path_entries, extra_cols, dead=None):
        """Read file entries (path, partitionValues) restoring
        logical names + partition columns, like read_delta.
        ``dead`` — (abs data path, row_index) pairs named dead by
        the entries' deletion vectors; anti-joined out so synthesized
        change rows never resurrect DV-deleted rows."""
        pieces = []
        by_parts: dict[tuple, list[str]] = {}
        for a in path_entries:
            pv = a.get("partitionValues") or {}
            key = tuple(pv.get(phys_by_logical[c]) for c in part_cols)
            by_parts.setdefault(key, []).append(
                _data_path(root, a["path"])
            )
        for key, paths in sorted(
            by_parts.items(), key=lambda kv: str(kv[0])
        ):
            # mergeSchema: a commit range spanning a merge_schema
            # evolution mixes pre/post-ADD-COLUMN files in one group;
            # footer-of-first-file inference would drop the new
            # column for files that DO carry it
            df = spark.read.option("mergeSchema", "true").parquet(
                *paths
            )
            if dead:
                df = df.select(
                    "*",
                    file_path_col().alias("__fp"),
                    F.col("_metadata.row_index").alias("__ri"),
                )
            have = set(df.columns)
            cols = []
            for f in schema.fields:
                if f.name in part_cols:
                    continue
                phys = phys_by_logical[f.name]
                if phys not in have:
                    # file predates an ADD COLUMN (merge_schema
                    # evolution) — null-fill at the declared type, the
                    # same contract read_delta applies to base reads
                    cols.append(
                        F.lit(None).cast(f.dataType).alias(f.name)
                    )
                    continue
                c = F.col(phys)
                if mode == "name" and isinstance(
                    f.dataType, (T.StructType, T.ArrayType, T.MapType)
                ):
                    c = c.cast(f.dataType)
                cols.append(c.alias(f.name))
            keep = [c for c in ("_change_type",) if c in df.columns]
            dvk = ["__fp", "__ri"] if dead else []
            df = df.select(*cols, *keep, *dvk)
            for c, v in zip(part_cols, key):
                df = df.withColumn(
                    c, _typed_partition_lit(v, schema[c].dataType)
                )
            for name, expr in extra_cols.items():
                if name not in df.columns:
                    df = df.withColumn(name, expr)
            if dead:
                dv_df = spark.createDataFrame(
                    dead, "__fp string, __ri long"
                ).distinct()
                df = df.join(
                    F.broadcast(dv_df), ["__fp", "__ri"], "left_anti"
                )
            pieces.append(
                df.select(
                    *[f.name for f in schema.fields],
                    "_change_type",
                    "_commit_version",
                )
            )
        return pieces

    out_pieces = []
    for v in range(starting_version, end + 1):
        path = commits.get(v)
        if path is None:
            raise FileNotFoundError(
                f"missing commit {v} in _delta_log (CDF needs the "
                "full version range under retention)"
            )
        cdc, adds, removes = [], [], []
        with open(path) as f:
            for line in f:
                line = line.strip()
                if not line:
                    continue
                a = json.loads(line)
                if a.get("cdc"):
                    cdc.append(a["cdc"])
                elif a.get("add") and a["add"].get("dataChange", True):
                    adds.append(a["add"])
                elif a.get("remove") and a["remove"].get(
                    "dataChange", True
                ):
                    removes.append(a["remove"])
        ver_lit = F.lit(v).cast("long")
        if cdc:
            # authoritative change files; add/remove in the same
            # commit are the compaction side and must NOT also count
            out_pieces += typed_read(
                cdc, {"_commit_version": ver_lit}
            )
            continue
        if adds:
            # a DV-carrying add (remove + re-add of the same path
            # with a deletion vector) must not read its DV-dead rows
            # back as inserts
            out_pieces += typed_read(
                adds,
                {
                    "_change_type": F.lit("insert"),
                    "_commit_version": ver_lit,
                },
                dead=_dead_positions(
                    root, {a["path"]: a for a in adds}
                ),
            )
        if removes:
            # a removed file may itself have carried a DV from an
            # earlier commit — those rows were already dead before
            # this delete
            out_pieces += typed_read(
                removes,
                {
                    "_change_type": F.lit("delete"),
                    "_commit_version": ver_lit,
                },
                dead=_dead_positions(
                    root, {r["path"]: r for r in removes}
                ),
            )
    if not out_pieces:
        empty = T.StructType(
            list(schema.fields)
            + [
                T.StructField("_change_type", T.StringType()),
                T.StructField("_commit_version", T.LongType()),
            ]
        )
        return spark.createDataFrame([], empty)
    df = out_pieces[0]
    for p in out_pieces[1:]:
        df = df.unionByName(p)
    return df


def _mtable_stats_json(entry: dict, key_col: str) -> str:
    """MTable manifest per-file stats → Delta ``add.stats`` JSON —
    exported tables get data skipping for free (the key range is
    always present; declared stats_cols ride along)."""
    minv = {key_col: entry.get("min_key")}
    maxv = {key_col: entry.get("max_key")}
    for c, mm in (entry.get("col_stats") or {}).items():
        minv[c], maxv[c] = mm[0], mm[1]
    return json.dumps(
        {
            "numRecords": entry.get("rows"),
            "minValues": minv,
            "maxValues": maxv,
        }
    )


def export_delta_increment(
    table, dest: str, version: int | None = None, with_cdc: bool = True
) -> int:
    """Publish a LATER MTable snapshot into an already-exported
    Delta table as ONE incremental commit — continuous publishing,
    the follow-on to :func:`export_snapshot_to_delta`'s one-shot.

    The commit is the MANIFEST DIFF: files the MTable commit added
    hard-link in with ``add`` actions, files it dropped become
    ``remove`` actions (carried files never move — zero bytes
    copied, the q295 changefeed economics). With ``with_cdc`` the
    commit also carries authoritative CDC files derived from
    ``table.read_changes(images="both")`` — I → ``insert``, D →
    ``delete``, U → ``update_preimage`` + ``update_postimage`` — so
    a downstream ``read_delta_changes`` consumer sees EXACT
    row-level changes instead of whole-file insert/delete synthesis
    from the rewrite (MTable changefeed → Delta CDF, CDC interop in
    both directions). Returns the new Delta version.

    Snapshots carrying unapplied DV/equality-delete debt refuse, as
    in the full export. A publish that loses its version claim runs
    again against the new history, so a racing publish of the same
    snapshot ends in the "already published" refusal."""
    hist = delta_history(dest)
    if not hist or "sourceVersion" not in hist[-1]:
        raise ValueError(
            "dest is not an MTable-exported Delta table "
            "(export_snapshot_to_delta first)"
        )
    from_v = hist[-1]["sourceVersion"]
    base = hist[-1]["version"]
    next_delta = base + 1
    to_v = table.manifest(version)["version"]
    if to_v <= from_v:
        raise ValueError(
            f"snapshot {to_v} already published (dest at {from_v})"
        )
    m_from = table.manifest(from_v)
    m_to = table.manifest(to_v)
    dirty = [
        e["path"] for e in m_to["files"] if e.get("dv") or e.get("eq")
    ]
    if dirty:
        raise ValueError(
            f"{len(dirty)} file(s) carry merge-on-read delete debt; "
            "apply_deletion_vectors()/compact first, then export"
        )
    paths_from = {e["path"] for e in m_from["files"]}
    paths_to = {e["path"] for e in m_to["files"]}
    actions = []
    if with_cdc:
        ch = table.read_changes(from_v, to_v, images="both")
        key = m_to["key_col"]
        # read_changes(images="both") emits the key PLAIN (coalesced
        # across sides) and {col}__pre/{col}__post for value columns
        val_cols = [
            c[: -len("__post")]
            for c in ch.columns
            if c.endswith("__post")
        ]
        from pyspark.sql import functions as _F

        def image(side, ctype, ops):
            return ch.filter(_F.col("op").isin(ops)).select(
                _F.col(key),
                *[
                    _F.col(f"{c}__{side}").alias(c)
                    for c in val_cols
                ],
                _F.lit(ctype).alias("_change_type"),
            )

        cdc = (
            image("post", "insert", ["I"])
            .unionByName(image("pre", "delete", ["D"]))
            .unionByName(image("pre", "update_preimage", ["U"]))
            .unionByName(image("post", "update_postimage", ["U"]))
        )
        # unique per attempt: a publish that loses its claim must not
        # overwrite the CDC file the winner's commit names
        import uuid as _uuid

        cdc_name = (
            f"_change_data/cdc-{next_delta:010d}-"
            f"{_uuid.uuid4().hex[:8]}.parquet"
        )
        stage_parquet_file(cdc, dest, cdc_name)
        actions.append(
            {
                "cdc": {
                    "path": _rel_uri(cdc_name),
                    "partitionValues": {},
                    "dataChange": False,
                }
            }
        )
    for p in sorted(paths_from - paths_to):
        actions.append(
            {
                "remove": {
                    "path": _rel_uri("data/" + os.path.basename(p)),
                    "dataChange": True,
                }
            }
        )
    for e in sorted(m_to["files"], key=lambda x: x["path"]):
        if e["path"] in paths_from:
            continue
        name = "data/" + os.path.basename(e["path"])
        target = os.path.join(dest, name)
        if not os.path.exists(target):
            os.link(e["path"], target)
        actions.append(
            {
                "add": {
                    "path": _rel_uri(name),
                    "partitionValues": {},
                    "size": os.path.getsize(target),
                    "dataChange": True,
                    "stats": _mtable_stats_json(e, m_to["key_col"]),
                }
            }
        )
    actions.append(
        {
            "commitInfo": {
                "operation": "MTABLE_EXPORT_INCREMENT",
                "sourceVersion": to_v,
            }
        }
    )
    conf = _snapshot_meta_nospark(dest).get("configuration") or {}
    if _try_claim_commit(table.spark, dest, base, actions, conf) is None:
        return export_delta_increment(table, dest, version, with_cdc)
    return next_delta


def vacuum_delta_export(
    dest: str,
    keep_versions: int = 1,
    spark: SparkSession | None = None,
    min_age_s: float | None = None,
) -> list[str]:
    """Reclaim data files no live version needs — the VACUUM
    lifecycle step for exported tables. Keeps every file referenced
    by the newest ``keep_versions`` snapshots (and their CDC files);
    everything older unlinks. Time travel and CDF reads BEFORE the
    retention horizon stop working afterwards — the same documented
    trade Delta's own VACUUM makes (and the reason its default
    retention is 7 days). Returns the deleted paths.

    Metadata-only planning: each retained version's live set comes
    from the CHECKPOINT-AWARE snapshot fold when ``spark`` is given
    (required once a checkpoint covers aged-out commits — a raw JSON
    replay would be blind to carried files whose adds no longer have
    a JSON commit and would delete LIVE data); without ``spark`` the
    pure-JSON replay is used and REFUSES if the log has gaps. Data
    files are never opened. Hard-linked exports only release disk
    once the MTable source also vacuums (link counts), which is the
    correct shared-ownership semantics."""
    latest = _latest_version(dest)
    if latest < 0:
        raise FileNotFoundError(f"not a Delta table: {dest}")
    commits = _commit_files(dest)
    newest_cp = _checkpoint_for(dest, latest)
    cutoff = max(0, latest - keep_versions + 1)
    keep: set[str] = set()
    if spark is None and 0 not in commits:
        raise ValueError(
            "log has aged-out commits (checkpoint era); pass spark= "
            "so vacuum can plan from the checkpoint-aware snapshot"
        )
    for v in range(cutoff, latest + 1):
        if spark is not None:
            _m, adds = _snapshot(spark, dest, v)
        else:
            adds = {}
            for vv in sorted(c for c in commits if c <= v):
                with open(commits[vv]) as f:
                    for line in f:
                        line = line.strip()
                        if not line:
                            continue
                        a = json.loads(line)
                        if a.get("add"):
                            adds[a["add"]["path"]] = a["add"]
                        if a.get("remove"):
                            adds.pop(a["remove"]["path"], None)
        if v in commits:
            with open(commits[v]) as f:
                for line in f:
                    line = line.strip()
                    if line:
                        a = json.loads(line)
                        if a.get("cdc"):
                            keep.add(_uparse.unquote(a["cdc"]["path"]))
        # keep-set entries are ON-DISK relative paths; log paths are
        # RFC 2396-encoded, the walk below yields filesystem bytes
        keep |= {_uparse.unquote(p) for p in adds}
        # deletion-vector files referenced by retained adds stay —
        # orphans from lost delete races / replaced DVs reclaim
        from dataflowex_spark.sources.roaring import dv_file_relpath

        for a in adds.values():
            dv = a.get("deletionVector")
            if not dv:
                continue
            if isinstance(dv, str):
                dv = json.loads(dv)
            relp = dv_file_relpath(os.path.abspath(dest), dict(dv))
            if relp:
                keep.add(relp)
    # RETENTION GUARD: DML/write stage data, DV and CDC files into
    # the table BEFORE claiming the commit version, so a vacuum
    # racing an in-flight DML would unlink files the winning commit
    # is about to reference. Files younger than the newest log entry
    # (or ``min_age_s`` when given — real VACUUM's retention window)
    # are never reclaimed; a later vacuum gets any true orphans.
    import time as _time

    if min_age_s is not None:
        age_cutoff = _time.time() - min_age_s
    else:
        log_mtimes = [os.path.getmtime(p) for p in commits.values()]
        if newest_cp is not None:
            try:
                log_mtimes.append(os.path.getmtime(newest_cp[1][0]))
            except (OSError, TypeError, IndexError):
                pass
        age_cutoff = max(log_mtimes, default=_time.time())

    def _young(path: str) -> bool:
        try:
            return os.path.getmtime(path) > age_cutoff
        except OSError:
            return True  # vanished mid-walk: someone owns it

    deleted = []
    for sub in ("data", "_change_data"):
        d = os.path.join(dest, sub)
        if not os.path.isdir(d):
            continue
        # walk recursively: partitioned writes stage hive-layout
        # subdirs (data/<col>=<val>/file.parquet) and add.path is
        # always table-root-relative
        for dirpath, _dirs, files in sorted(os.walk(d)):
            for fn in sorted(files):
                full = os.path.join(dirpath, fn)
                rel = os.path.relpath(full, dest).replace(os.sep, "/")
                if rel not in keep and not _young(full):
                    os.unlink(full)
                    deleted.append(rel)
    for fn in sorted(os.listdir(dest)):
        # root-level DV files (storage type "u", no prefix)
        if fn.startswith("deletion_vector_") and fn.endswith(".bin"):
            full = os.path.join(dest, fn)
            if fn not in keep and not _young(full):
                os.unlink(full)
                deleted.append(fn)
    return deleted


def _txn_state(root: str) -> dict[str, int]:
    """appId → latest committed SetTransaction version (the
    protocol's ``txn`` action — LAST-WINS per app in commit order):
    folded from the newest checkpoint's ``txn`` rows (older
    checkpoints predate the column and contribute nothing) plus the
    JSON commits after it."""
    commits = _commit_files(root)
    cp = _checkpoint_for(root, _latest_version(root))
    out: dict[str, int] = {}
    start = 0
    if cp is not None:
        cpv, paths = cp
        start = cpv + 1
        import pyarrow.parquet as _pq

        for pth in paths:
            t = _pq.read_table(pth)
            if "txn" not in t.column_names:
                continue
            for raw in t.column("txn").to_pylist():
                if not raw:
                    continue
                d = json.loads(raw) if isinstance(raw, str) else raw
                if d and d.get("appId") is not None:
                    out[d["appId"]] = int(d.get("version", -1))
    for vv in sorted(c for c in commits if c >= start):
        with open(commits[vv]) as f:
            for line in f:
                line = line.strip()
                if not line:
                    continue
                a = json.loads(line)
                t = a.get("txn")
                if t and t.get("appId") is not None:
                    out[t["appId"]] = int(t.get("version", -1))
    return out


def last_txn_version(root: str, app_id: str) -> int | None:
    """Latest committed SetTransaction version for ``app_id`` (None
    if the app never committed) — what an exactly-once streaming
    writer consults before applying a replayed batch."""
    return _txn_state(root).get(app_id)


def delta_stream_sink(
    dest: str,
    app_id: str,
    mode: str = "append",
    **write_kwargs,
):
    """EXACTLY-ONCE ``foreachBatch`` sink via the protocol's
    SetTransaction action: returns a ``(batch_df, batch_id)``
    callable for ``writeStream.foreachBatch`` that commits each
    micro-batch with ``txn(appId=app_id, version=batch_id)`` — a
    REPLAYED batch (failure recovery re-delivers the same batch_id)
    is recognized from the log and skipped, so the sink is
    idempotent end-to-end without any sink-side dedup state. This is
    exactly how delta-spark's own streaming sink achieves
    exactly-once on top of at-least-once batch delivery."""

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        write_delta(
            batch_df.sparkSession,
            batch_df,
            dest,
            mode=mode,
            txn_app_id=app_id,
            txn_version=int(batch_id),
            **write_kwargs,
        )

    return _sink


def checkpoint_delta_export(
    spark: SparkSession,
    dest: str,
    parts: int | None = None,
    v2: bool = False,
    sidecar_files: int = 2,
) -> int:
    """Write a parquet CHECKPOINT of the current snapshot state (and
    flip ``_last_checkpoint``) — the log-compaction step that keeps
    snapshot resolution O(log tail) as continuous publishing piles
    up commits. Single-file by default; ``parts`` splits it
    multi-part (``N.checkpoint.<i>.<n>.parquet``). Returns the
    checkpointed version. After older JSON commits age out
    (retention), the reader replays from this checkpoint — already
    covered by its multi-part/retention-gap handling.

    ``v2=True`` writes the protocol's V2 CHECKPOINT shape: a
    top-level ``N.checkpoint.<uniqueStr>.parquet`` holding the
    non-file actions plus a ``checkpointMetadata`` row and
    ``sidecar`` pointers, with the add actions split across
    ``sidecar_files`` parquet files under ``_delta_log/_sidecars/``
    — the form that lets a huge table's checkpoint be written and
    read in parallel without a rigid part numbering. Requires (and
    commits, if absent) the ``v2Checkpoint`` reader+writer feature
    on a features-era 3/7 protocol, per PROTOCOL.md."""
    if not _commit_files(dest):
        raise FileNotFoundError(f"not a Delta table: {dest}")
    if v2:
        # the feature gate must be visible to ANY reader before a v2
        # checkpoint exists — commit the protocol upgrade first
        while True:
            base = _latest_version(dest)
            proto = _latest_protocol(dest)
            feats = set(proto.get("readerFeatures") or [])
            if "v2Checkpoint" in feats:
                break
            rv, wv = (
                proto.get("minReaderVersion", 1),
                proto.get("minWriterVersion", 1),
            )
            # upgrading a legacy protocol to features-era 3/7 must
            # ENUMERATE the features the old versions implied
            # (PROTOCOL.md's legacy-to-table-features mapping)
            legacy = []
            if rv == 2:
                legacy.append("columnMapping")
            if rv >= 3:
                legacy += list(proto.get("readerFeatures") or [])
            _implied_w = {
                2: ["appendOnly", "invariants"],
                3: ["checkConstraints"],
                4: ["changeDataFeed", "generatedColumns"],
                5: ["columnMapping"],
                6: ["identityColumns"],
            }
            wfeats = set(proto.get("writerFeatures") or [])
            if wv < 7:
                for lvl, fs in _implied_w.items():
                    if wv >= lvl:
                        wfeats |= set(fs)
            actions = [
                {
                    "protocol": {
                        "minReaderVersion": 3,
                        "minWriterVersion": 7,
                        "readerFeatures": sorted(
                            set(legacy) | {"v2Checkpoint"}
                        ),
                        "writerFeatures": sorted(
                            wfeats | {"v2Checkpoint"}
                        ),
                    }
                },
                {
                    "commitInfo": {
                        "operation": "UPGRADE PROTOCOL",
                        "timestamp": None,
                    }
                },
            ]
            meta0, _a0 = _snapshot(spark, dest, base)
            conf = meta0.get("configuration") or {}
            if _try_claim_commit(spark, dest, base, actions, conf) is not None:
                break
    v = _latest_version(dest)
    cp_domains: dict[str, str] = {}
    meta, adds = _snapshot(spark, dest, v, cp_domains)
    # checkpoint-aware protocol resolution: after log retention
    # truncates the JSON tail behind an earlier checkpoint, replaying
    # only _commit_files would regress to base (1,2) and persist a
    # checkpoint that DROPS the table's feature gates
    # (v2Checkpoint/deletionVectors) — _latest_protocol folds the
    # newest checkpoint's protocol row under any later JSON action
    proto = _latest_protocol(dest)
    actions = [{"protocol": proto}, {"metaData": meta}] + [
        {"add": a} for _p, a in sorted(adds.items())
    ]
    # latest SetTransaction per appId rides into the checkpoint —
    # without it, exactly-once writers would lose their replay
    # horizon once the JSON commits age out
    actions += [
        {"txn": {"appId": app, "version": ver}}
        for app, ver in sorted(_txn_state(dest).items())
    ]
    # live domain metadata rides into the checkpoint (PROTOCOL.md:
    # checkpoints must contain the latest non-removed domainMetadata
    # per domain) — without it, the row-tracking high-water mark
    # would vanish once log retention ages the JSON tail out
    actions += [
        {
            "domainMetadata": {
                "domain": d,
                "configuration": c,
                "removed": False,
            }
        }
        for d, c in sorted(cp_domains.items())
    ]
    rows = []
    for a in actions:
        rows.append(
            (
                json.dumps(a.get("protocol")) if "protocol" in a else None,
                json.dumps(a.get("metaData")) if "metaData" in a else None,
                json.dumps(a.get("add")) if "add" in a else None,
                json.dumps(a.get("txn")) if "txn" in a else None,
                json.dumps(a.get("domainMetadata"))
                if "domainMetadata" in a
                else None,
            )
        )
    # JSON-string columns keep the checkpoint schema stable across
    # action evolution; the reader's fold accepts dict-shaped rows,
    # so decode happens at read time
    cp_schema = (
        "protocol string, metaData string, add string, txn string, "
        "domainMetadata string"
    )
    log = _log_dir(dest)
    import shutil as _shutil

    def write_one(some_rows, name):
        tmp = os.path.join(dest, "_cptmp")
        spark.createDataFrame(some_rows, cp_schema).coalesce(
            1
        ).write.mode("overwrite").parquet(tmp)
        part = [
            fn for fn in os.listdir(tmp) if fn.endswith(".parquet")
        ][0]
        os.replace(os.path.join(tmp, part), os.path.join(log, name))
        _shutil.rmtree(tmp, ignore_errors=True)

    last_cp: dict = {"version": v, "size": len(rows)}
    if v2:
        import uuid as _uuid2

        import pyarrow as _pa
        import pyarrow.parquet as _papq

        # checkpoint rows are bounded METADATA (one per live file) —
        # write them driver-side with pyarrow instead of spinning a
        # Spark job per sidecar (the q453 sweep finding)
        def write_parquet(path, names, cols):
            _papq.write_table(
                _pa.table(
                    {
                        n0: _pa.array(c0, _pa.string())
                        for n0, c0 in zip(names, cols)
                    }
                ),
                path,
            )

        sdir = os.path.join(log, "_sidecars")
        os.makedirs(sdir, exist_ok=True)
        add_rows = [r[2] for r in rows if r[2] is not None]
        top_rows = [r for r in rows if r[2] is None]
        n_sc = max(1, min(sidecar_files, max(len(add_rows), 1)))
        sc_names = []
        for i in range(n_sc):
            chunk = add_rows[i::n_sc]
            name = f"{_uuid2.uuid4().hex}.parquet"
            write_parquet(
                os.path.join(sdir, name), ["add"], [chunk or [None]]
            )
            sc_names.append(name)
        top = [
            (r[0], r[1], r[3], r[4], None, None) for r in top_rows
        ]
        top.append(
            (None, None, None, None, json.dumps({"version": v}), None)
        )
        for name in sc_names:
            top.append(
                (
                    None,
                    None,
                    None,
                    None,
                    None,
                    json.dumps(
                        {
                            "path": name,
                            "sizeInBytes": os.path.getsize(
                                os.path.join(sdir, name)
                            ),
                            "modificationTime": None,
                        }
                    ),
                )
            )
        uid = _uuid2.uuid4().hex
        write_parquet(
            os.path.join(log, f"{v:020d}.checkpoint.{uid}.parquet"),
            ["protocol", "metaData", "txn", "domainMetadata",
             "checkpointMetadata", "sidecar"],
            [list(c) for c in zip(*top)],
        )
    elif parts:
        for i in range(1, parts + 1):
            write_one(
                rows[i - 1 :: parts],
                f"{v:020d}.checkpoint.{i:010d}.{parts:010d}.parquet",
            )
        last_cp["parts"] = parts
    else:
        write_one(rows, f"{v:020d}.checkpoint.parquet")
    with open(os.path.join(log, "_last_checkpoint"), "w") as f:
        json.dump(last_cp, f)
    return v


def _stage_data_files(
    spark: SparkSession,
    dest: str,
    df: DataFrame,
    pcols: list[str],
    scols: list[str],
) -> list[dict]:
    """Write ``df`` as the table's data files (executor-side staging
    job, hive layout under ``partition_by``, atomic renames into
    ``data/``) and return the ``{"add": ...}`` actions with per-file
    min/max stats (:func:`footer_stats.file_stats`). Shared by
    :func:`write_delta` and :func:`update_delta`."""
    import shutil
    import uuid as _uuid

    job = os.path.join(dest, f"_stage-{_uuid.uuid4().hex}")
    w = df.write
    if pcols:
        w = w.partitionBy(*pcols)
    w.parquet(job)
    # stats come from the parquet footers the write tasks already
    # produced (partition columns live in the hive dirs, not the
    # files, so footers carry exactly the scols); the grouped re-scan
    # is only the fallback (see footer_stats docstring)
    stats_rows = file_stats(spark, job, scols, recursive=True)

    def jsonable(v):
        import datetime

        if isinstance(v, (datetime.date, datetime.datetime)):
            return v.isoformat()
        return v

    adds = []
    for r in stats_rows:
        src = r["path"]
        rel_dir = os.path.relpath(os.path.dirname(src), job)
        pv = hive_values(rel_dir)
        missing = [c for c in pcols if c not in pv]
        if missing:
            raise ValueError(
                f"staged file {src} lacks partition dirs {missing}"
            )
        name = (
            "data/"
            + (rel_dir + "/" if rel_dir != "." else "")
            + os.path.basename(src)
        )
        target = os.path.join(dest, name)
        os.makedirs(os.path.dirname(target), exist_ok=True)
        os.replace(src, target)
        adds.append(
            {
                "add": {
                    "path": _rel_uri(name),
                    "partitionValues": pv,
                    "size": os.path.getsize(target),
                    "dataChange": True,
                    "stats": json.dumps(
                        {
                            "numRecords": r["__rows"],
                            "minValues": {
                                c: jsonable(r[f"__mn_{c}"]) for c in scols
                            },
                            "maxValues": {
                                c: jsonable(r[f"__mx_{c}"]) for c in scols
                            },
                        }
                    ),
                }
            }
        )
    shutil.rmtree(job, ignore_errors=True)
    return adds


def _check_constraints(meta: dict) -> dict[str, str]:
    """name → CHECK expression from ``delta.constraints.<name>``
    configuration keys (the protocol's CHECK-constraints feature)."""
    out = {}
    for k, v in (meta.get("configuration") or {}).items():
        if k.startswith("delta.constraints."):
            out[k[len("delta.constraints."):]] = v
    return out


def _enforce_constraints(
    df: DataFrame, meta: dict, op: str
) -> None:
    """Refuse the write when any staged row VIOLATES a table CHECK
    constraint (SQL semantics: NULL passes, only FALSE violates).
    Cost: one filter-limit job over the CHANGE data only — never the
    table."""
    cons = _check_constraints(meta)
    for name, expr in cons.items():
        bad = df.filter(
            ~F.coalesce(F.expr(expr), F.lit(True))
        ).limit(1)
        if bad.count():
            sample = bad.collect()[0].asDict()
            raise ValueError(
                f"{op}: CHECK constraint {name!r} ({expr}) violated"
                f" — e.g. {sample}"
            )


def add_delta_constraint(
    spark: SparkSession, dest: str, name: str, expr: str
) -> int:
    """ALTER TABLE ... ADD CONSTRAINT ... CHECK — the protocol's
    CHECK-constraints feature (writerVersion ≥ 3): the expression
    lands in ``configuration["delta.constraints.<name>"]`` and every
    later write/UPDATE/MERGE staging REFUSES violating rows before
    committing. Like delta-spark, the EXISTING rows must already
    satisfy the constraint (one pruned scan verifies — adding a
    constraint the data violates would lie to every future reader).
    Returns the committed version."""
    while True:
        base = _latest_version(dest)
        meta, adds = _snapshot(spark, dest, base)
        if name in _check_constraints(meta):
            raise ValueError(f"constraint {name!r} already exists")
        if adds:
            bad = (
                read_delta(spark, dest, version=base)
                .filter(~F.coalesce(F.expr(expr), F.lit(True)))
                .limit(1)
            )
            n_bad = bad.count()
            if n_bad:
                sample = bad.collect()[0].asDict()
                raise ValueError(
                    f"existing rows violate CHECK {expr!r} — e.g. "
                    f"{sample}"
                )
        conf = dict(meta.get("configuration") or {})
        conf[f"delta.constraints.{name}"] = expr
        new_meta = dict(meta)
        new_meta["configuration"] = conf
        actions: list[dict] = []
        proto = _latest_protocol(dest)
        if (
            proto.get("minWriterVersion", 1) < 3
            and proto.get("writerFeatures") is None
        ):
            actions.append(
                {
                    "protocol": {
                        "minReaderVersion": max(
                            1, proto.get("minReaderVersion", 1)
                        ),
                        "minWriterVersion": 3,
                    }
                }
            )
        elif proto.get("writerFeatures") is not None:
            actions.append(
                {
                    "protocol": {
                        **proto,
                        "writerFeatures": sorted(
                            set(proto.get("writerFeatures") or [])
                            | {"checkConstraints"}
                        ),
                    }
                }
            )
        actions.append({"metaData": new_meta})
        actions.append(
            {
                "commitInfo": {
                    "operation": "ADD CONSTRAINT",
                    "timestamp": None,
                    "operationParameters": {
                        "name": name, "expr": expr
                    },
                }
            }
        )
        v = _try_claim_commit(spark, dest, base, actions, conf)
        if v is None:
            continue
        return v


def drop_delta_constraint(
    spark: SparkSession, dest: str, name: str
) -> int:
    """ALTER TABLE ... DROP CONSTRAINT (metadata-only); unknown
    names refuse."""
    while True:
        base = _latest_version(dest)
        meta, _adds = _snapshot(spark, dest, base)
        if name not in _check_constraints(meta):
            raise ValueError(f"constraint {name!r} not on table")
        conf = dict(meta.get("configuration") or {})
        del conf[f"delta.constraints.{name}"]
        new_meta = dict(meta)
        new_meta["configuration"] = conf
        actions = [
            {"metaData": new_meta},
            {
                "commitInfo": {
                    "operation": "DROP CONSTRAINT",
                    "timestamp": None,
                    "operationParameters": {"name": name},
                }
            },
        ]
        v = _try_claim_commit(spark, dest, base, actions, conf)
        if v is None:
            continue
        return v


def write_delta(
    spark: SparkSession,
    df: DataFrame,
    dest: str,
    mode: str = "error",
    stats_cols: list[str] | None = None,
    partition_by: list[str] | None = None,
    configuration: dict[str, str] | None = None,
    merge_schema: bool = False,
    txn_app_id: str | None = None,
    txn_version: int | None = None,
    cluster_by: list[str] | None = None,
) -> int:
    """GENERIC Delta writer — any DataFrame → a Delta-protocol table,
    no MTable required (the standalone complement to the MTable
    export path). ``mode``: ``error`` (create, refuse existing),
    ``append`` (new commit adding files), ``overwrite`` (new commit
    removing every live file and adding the new set). Returns the
    committed version.

    Files write executor-side as ordinary parquet (one staging job,
    atomic renames into ``data/``); per-file min/max stats for the
    key numeric/string columns (``stats_cols``, default: all
    top-level primitive columns) come from the write's parquet
    footers (:func:`footer_stats.file_stats`) and land in
    ``add.stats`` — so tables written here get data skipping from
    day one. The commit is a single JSON append; concurrent writers
    race on the version slot through the pluggable commit backend
    (put-if-absent: os.link on POSIX, conditional PUT on an object
    store). A plain append that loses retries with the next number;
    a create, an overwrite or a schema-evolving append claims the
    successor of the version it read, and on a lost race re-reads:
    an overwrite recomputes its removes and claims again while the
    schema, partition columns and configuration are unchanged, and
    refuses (naming the table) otherwise.

    ``partition_by``: hive-layout partitioned staging
    (``data/<col>=<val>/…``), canonical string partitionValues per
    add (the protocol's partition encoding — the reader re-attaches
    them typed); partition columns leave the data files, per the
    protocol.

    ``merge_schema``: on append/overwrite, NEW top-level columns in
    ``df`` extend the table schema (nullable — the protocol's
    additive evolution; the explicit-schema scan null-fills them in
    older files); type changes to existing columns refuse. Without
    it, a schema mismatch on append refuses rather than silently
    dropping the new column at read time.

    ``configuration``: table properties recorded in
    ``metaData.configuration`` at creation.
    ``delta.checkpointInterval`` (default 10, per delta-spark) is
    honored on every write: when the committed version is a multiple
    of the interval, a parquet checkpoint is emitted and
    ``_last_checkpoint`` flipped — so a long-lived written table's
    snapshot resolution stays O(log tail) instead of replaying an
    ever-longer JSON commit chain."""
    import uuid as _uuid

    dest = local_path(dest)
    pcols = list(partition_by or [])
    prim = (
        T.LongType, T.IntegerType, T.ShortType, T.ByteType,
        T.DoubleType, T.FloatType, T.StringType, T.DateType,
    )
    scols = (
        stats_cols
        if stats_cols is not None
        else [
            f.name
            for f in df.schema.fields
            if isinstance(f.dataType, prim) and f.name not in pcols
        ]
    )
    for c in scols:
        dt = df.schema[c].dataType if c in df.columns else None
        if isinstance(dt, T.DecimalType):
            # add.stats is JSON, and skip_admits never prunes on a
            # decimal, so refuse before anything is staged
            raise ValueError(
                f"stats_cols: column {c!r} is {dt.simpleString()}; "
                "write_delta records no stats for decimal columns"
            )
    ccols = list(cluster_by or [])
    if ccols:
        bad = [c for c in ccols if c not in df.columns]
        if bad:
            raise ValueError(f"cluster_by columns {bad} not in df")
        overlap = sorted(set(ccols) & set(pcols))
        if overlap:
            raise ValueError(
                f"cluster_by and partition_by overlap on {overlap} "
                "(clustering replaces hive partitioning on those "
                "columns)"
            )
    if (txn_app_id is None) != (txn_version is None):
        raise ValueError(
            "txn_app_id and txn_version go together (the protocol's "
            "SetTransaction is (appId, version))"
        )
    log = _log_dir(dest)
    base = _latest_version(dest) if os.path.isdir(log) else -1
    exists = base >= 0
    if mode == "error" and exists:
        raise ValueError(f"Delta table already exists at {dest}")
    if txn_app_id is not None and exists:
        last = last_txn_version(dest, txn_app_id)
        if last is not None and txn_version <= last:
            # idempotent replay: this batch already committed —
            # nothing stages, nothing commits
            return base
    if mode not in ("error", "append", "overwrite"):
        raise ValueError(f"write_delta mode {mode!r}")
    os.makedirs(os.path.join(dest, "data"), exist_ok=True)
    os.makedirs(log, exist_ok=True)
    evolved_meta = None
    mode0 = "none"  # the table's columnMapping mode (staging contract)
    stage_schema: T.StructType | None = None
    create_schema: T.StructType | None = None
    create_conf = dict(configuration or {})
    live0: dict = {}
    if exists:
        if mode == "overwrite":
            # overwrite removes the whole live set — the only write
            # mode that needs the adds fold
            meta0, live0 = _snapshot(spark, dest, base)
        else:
            # append needs METADATA only (schema/conf/constraints):
            # the meta-only fold is O(tail + checkpoint metaData
            # column), not O(live files) — per-append cost must not
            # grow with table size (the r11b probe's finding)
            meta0 = _snapshot_meta_nospark(dest)
        mode0 = _mapping_mode(meta0)
        if mode0 == "id":
            # same refusal as the DML paths: mode=id binds columns by
            # parquet footer field id; a name-keyed staging contract
            # has no stable physical name to write under
            raise DeltaProtocolError(
                "write_delta unsupported for columnMapping mode=id"
            )
        cur = T.StructType.fromJson(json.loads(meta0["schemaString"]))
        have = {f.name: f for f in cur.fields}
        new_fields = [
            f for f in df.schema.fields if f.name not in have
        ]
        for f in df.schema.fields:
            if f.name in have and (
                have[f.name].dataType != f.dataType
            ):
                raise ValueError(
                    f"append schema changes column {f.name!r} type "
                    f"{have[f.name].dataType.simpleString()} -> "
                    f"{f.dataType.simpleString()} (unsupported)"
                )
        if new_fields and not merge_schema:
            raise ValueError(
                "append carries new columns "
                f"{[f.name for f in new_fields]}; pass "
                "merge_schema=True to evolve the table schema"
            )
        stage_schema = cur
        if new_fields and merge_schema:
            if mode0 == "name":
                # evolved columns on a mapped table need a stable
                # physical identity at birth (delta-spark assigns a
                # fresh col-<uuid> physicalName + the next column id)
                conf0 = dict(meta0.get("configuration") or {})
                next_id = int(
                    conf0.get("delta.columnMapping.maxColumnId", 0)
                )
                added = []
                for f in new_fields:
                    next_id += 1
                    added.append(
                        T.StructField(
                            f.name,
                            f.dataType,
                            True,
                            {
                                "delta.columnMapping.id": next_id,
                                "delta.columnMapping.physicalName":
                                    f"col-{_uuid.uuid4().hex[:16]}",
                            },
                        )
                    )
                conf0["delta.columnMapping.maxColumnId"] = str(next_id)
            else:
                added = [
                    T.StructField(f.name, f.dataType, True)
                    for f in new_fields
                ]
            evolved = T.StructType(list(cur.fields) + added)
            evolved_meta = dict(meta0)
            evolved_meta["schemaString"] = json.dumps(
                evolved.jsonValue()
            )
            if mode0 == "name":
                evolved_meta["configuration"] = conf0
            stage_schema = evolved
    else:
        cmode = create_conf.get("delta.columnMapping.mode", "none")
        if cmode == "id":
            raise DeltaProtocolError(
                "write_delta cannot create columnMapping mode=id "
                "tables (mode=name is supported)"
            )
        if (
            str(create_conf.get("delta.enableRowTracking", ""))
            .lower()
            == "true"
        ):
            if cmode != "none":
                raise DeltaProtocolError(
                    "row tracking with columnMapping is not "
                    "implemented (the hidden lineage columns would "
                    "need physical identities of their own)"
                )
            # the hidden materialized columns get their physical
            # names at table birth (delta-spark's shape: uuid-unique
            # so a later schema column can never collide)
            create_conf.setdefault(
                "delta.rowTracking.materializedRowIdColumnName",
                f"_row-id-col-{_uuid.uuid4().hex[:16]}",
            )
            create_conf.setdefault(
                "delta.rowTracking."
                "materializedRowCommitVersionColumnName",
                f"_row-commit-version-col-{_uuid.uuid4().hex[:16]}",
            )
        if cmode == "name":
            # fresh mapped table: every field gets an id + a
            # col-<uuid> physicalName (delta-spark's creation shape —
            # data files never carry logical names)
            mode0 = "name"
            fields = []
            for i, f in enumerate(df.schema.fields, 1):
                md = dict(f.metadata or {})
                md["delta.columnMapping.id"] = i
                md["delta.columnMapping.physicalName"] = (
                    f"col-{_uuid.uuid4().hex[:16]}"
                )
                fields.append(
                    T.StructField(f.name, f.dataType, f.nullable, md)
                )
            create_schema = T.StructType(fields)
            create_conf["delta.columnMapping.maxColumnId"] = str(
                len(fields)
            )
            stage_schema = create_schema
    if exists:
        _enforce_constraints(df, meta0, "write_delta")
    stage_df, stage_pcols, stage_scols = df, pcols, scols
    if mode0 == "name":
        # stage under PHYSICAL names — data files, hive partition
        # dirs, partitionValues and stats all key physical on a
        # mapped table, exactly what _dml_scan / _add_admits /
        # read_delta's explicit-physical-schema scan resolve
        present = set(df.columns)
        sub = T.StructType(
            [f for f in stage_schema.fields if f.name in present]
        )
        pbl = {f.name: _physical_name(f) for f in stage_schema.fields}
        stage_df = _physical_frame(df, sub, "name", pcols)
        stage_pcols = [pbl.get(c, c) for c in pcols]
        stage_scols = [pbl.get(c, c) for c in scols]
    adds = _stage_data_files(
        spark, dest, stage_df, stage_pcols, stage_scols
    )
    rt_enabled = (
        str(create_conf.get("delta.enableRowTracking", "")).lower()
        == "true"
        if not exists
        else _row_tracking(meta0) is not None
    )
    if ccols and exists:
        raise ValueError(
            "cluster_by applies at table creation; use "
            "alter_delta_clustering to (re)cluster an existing table"
        )
    lead: list[dict] = []
    if evolved_meta is not None:
        lead.append({"metaData": evolved_meta})
    if not exists:
        # features-era protocol (writer 7 + named writerFeatures)
        # whenever a created table needs one; readers stay at the
        # level the rest of the table needs — ICT, row tracking and
        # clustering are all writer-only concerns
        _w: set[str] = set()
        if (
            str(
                create_conf.get("delta.enableInCommitTimestamps", "")
            ).lower()
            == "true"
        ):
            _w.add("inCommitTimestamp")
        if rt_enabled:
            _w |= {"rowTracking", "domainMetadata"}
        if ccols:
            _w |= {"clusteredTable", "domainMetadata"}
        if _w:
            if create_schema is not None:
                _w.add("columnMapping")
            proto_action = {
                "minReaderVersion": (
                    2 if create_schema is not None else 1
                ),
                "minWriterVersion": 7,
                "writerFeatures": sorted(_w),
            }
        elif create_schema is not None:
            proto_action = {"minReaderVersion": 2, "minWriterVersion": 5}
        else:
            proto_action = {"minReaderVersion": 1, "minWriterVersion": 2}
        lead.append({"protocol": proto_action})
        lead.append(
            {
                "metaData": {
                    "id": f"write-delta-{_uuid.uuid4().hex[:12]}",
                    "schemaString": json.dumps(
                        (create_schema or df.schema).jsonValue()
                    ),
                    "partitionColumns": pcols,
                    "format": {"provider": "parquet"},
                    "configuration": create_conf,
                }
            }
        )
        if ccols:
            # clustered table (PROTOCOL.md "Clustered Table"): the
            # clustering columns live in the delta.clustering
            # domain — data layout is advisory metadata, OPTIMIZE
            # reads it to decide how to rewrite
            lead.append(
                {
                    "domainMetadata": {
                        "domain": _CLUSTERING_DOMAIN,
                        "configuration": json.dumps(
                            {
                                "clusteringColumns": [
                                    [c] for c in ccols
                                ]
                            }
                        ),
                        "removed": False,
                    }
                }
            )
    tail = list(adds)
    if txn_app_id is not None:
        tail.append(
            {
                "txn": {
                    "appId": txn_app_id,
                    "version": int(txn_version),
                    "lastUpdated": None,
                }
            }
        )
    tail.append(
        {
            "commitInfo": {
                "operation": "WRITE" if not exists else mode.upper(),
                "timestamp": None,
            }
        }
    )
    # meta0 is this write's base snapshot — re-replaying the log for
    # its configuration would pay an O(live files) checkpoint read
    # per append for nothing (config changes ride ALTER commits)
    conf_pre = (
        dict(create_conf or {})
        if not exists
        else (meta0.get("configuration") or {})
    )

    def changed(head: int) -> ValueError:
        return ValueError(
            f"write_delta({mode}): Delta table {dest} changed its "
            "schema, partition columns, configuration or protocol "
            f"concurrently (now at version {head}); nothing was "
            "committed"
        )

    # a plain append is BLIND: adds commute, so it claims whatever
    # slot follows the head at claim time — unless a commit since
    # meta0's fold changed what its rows were checked against (a new
    # CHECK constraint, schema or protocol). Every other write read
    # the table (a create, an overwrite's removes, an evolved schema)
    # and claims the successor of the version it read, ``base``.
    blind = exists and mode == "append" and evolved_meta is None
    checked = base  # meta0 was folded with every commit up to here
    while True:
        if blind:
            base = _latest_version(dest)
            if _changes_metadata(dest, checked, base):
                raise changed(base)
            checked = base
        if txn_app_id is not None and base >= 0:
            # a RACING REPLAY of the same batch may have landed
            # between the early check and this claim — re-verify so
            # a batch never commits twice (this attempt's staged
            # files become vacuum-reclaimable orphans)
            last = last_txn_version(dest, txn_app_id)
            if last is not None and txn_version <= last:
                return _latest_version(dest)
        actions = (
            lead
            + [
                {"remove": {"path": p, "dataChange": True}}
                for p in sorted(live0)
            ]
            + tail
        )
        if rt_enabled:
            # per ATTEMPT: a lost race means another writer may have
            # raised the high-water mark — fresh ids must start
            # above the WINNER's, and defaultRowCommitVersion is
            # the version this attempt will claim
            hwm = _row_id_high_water_mark(spark, dest) if exists else -1
            dm_actions, _new_hwm = _assign_base_row_ids(
                adds, hwm, base + 1
            )
            actions += dm_actions
        v = _try_claim_commit(spark, dest, base, actions, conf_pre)
        if v is not None:
            return v
        if blind:
            continue
        # the table moved under a write that read it: re-read, and
        # claim again only when what this write was built on holds
        if not exists:
            raise ValueError(
                f"Delta table already exists at {dest} (created by a "
                "concurrent writer)"
            )
        base = _latest_version(dest)
        if mode == "overwrite":
            meta1, live0 = _snapshot(spark, dest, base)
        else:
            meta1 = _snapshot_meta_nospark(dest)
        if any(
            meta1.get(k) != meta0.get(k)
            for k in ("schemaString", "partitionColumns", "configuration")
        ):
            raise changed(base)


def _changes_metadata(root: str, after: int, upto: int) -> bool:
    """Whether a commit in ``(after, upto]`` carries a ``metaData`` or
    ``protocol`` action: what a blind append's rows were validated
    against no longer holds."""
    commits = _commit_files(root)
    for v in range(after + 1, upto + 1):
        if v not in commits:
            return True  # cannot vouch for a version it cannot read
        with open(commits[v]) as f:
            for line in f:
                if line.strip() and (
                    {"metaData", "protocol"} & json.loads(line).keys()
                ):
                    return True
    return False


def _latest_protocol(root: str) -> dict:
    """Newest ``protocol`` action visible: the newest checkpoint's
    protocol row (if any) overridden by any later JSON-commit
    protocol. The checkpoint fallback matters after log retention —
    falling back to base ``(1, 2)`` there would let a later
    feature-upgrade action silently DROP features the table already
    carries (e.g. DML re-emitting a deletionVectors-only 3/7 on a
    v2Checkpoint table)."""
    proto = {"minReaderVersion": 1, "minWriterVersion": 2}
    cp = _checkpoint_for(root, _latest_version(root))
    start = 0
    if cp is not None:
        start = cp[0] + 1
        import pyarrow.parquet as _pq

        for pth in cp[1]:
            t = _pq.read_table(pth)
            if "protocol" not in t.column_names:
                continue
            for raw in t.column("protocol").to_pylist():
                if not raw:
                    continue
                d = json.loads(raw) if isinstance(raw, str) else raw
                if d:
                    proto = d
    commits = _commit_files(root)
    for v in sorted(c for c in commits if c >= start):
        with open(commits[v]) as f:
            for line in f:
                line = line.strip()
                if not line:
                    continue
                a = json.loads(line)
                if a.get("protocol"):
                    proto = a["protocol"]
    return proto


# ---------------------------------------------------------------------
# ROW TRACKING (PROTOCOL.md "Row Tracking" + "Domain Metadata"): every
# row carries a stable fresh row id and a row commit version. Defaults
# derive from the add entry (baseRowId + physical position,
# defaultRowCommitVersion); rewrites that must preserve identity
# MATERIALIZE the values into hidden per-table columns whose physical
# names live in the table configuration. Fresh ids are handed out
# above the rowIdHighWaterMark kept in the delta.rowTracking domain.
# ---------------------------------------------------------------------

_ROW_TRACKING_DOMAIN = "delta.rowTracking"
_CLUSTERING_DOMAIN = "delta.clustering"


def delta_clustering_columns(root: str) -> list[str]:
    """Clustering columns of a CLUSTERED TABLE (PROTOCOL.md
    "Clustered Table"): read from the ``delta.clustering`` domain;
    empty list when the table is not clustered. Nested column paths
    come back dotted."""
    raw = _domains_nospark(root).get(_CLUSTERING_DOMAIN)
    if raw is None:
        return []
    d = json.loads(raw) if isinstance(raw, str) else raw
    return [".".join(p) for p in d.get("clusteringColumns", [])]


def _row_tracking(meta: dict) -> tuple[str, str] | None:
    """(materialized row-id column, materialized row-commit-version
    column) when the table enables row tracking, else None."""
    conf = meta.get("configuration") or {}
    if str(conf.get("delta.enableRowTracking", "")).lower() != "true":
        return None
    rid = conf.get("delta.rowTracking.materializedRowIdColumnName")
    rcv = conf.get(
        "delta.rowTracking.materializedRowCommitVersionColumnName"
    )
    if not rid or not rcv:
        raise DeltaProtocolError(
            "delta.enableRowTracking without materialized column "
            "names in the table configuration (cannot bind the "
            "hidden lineage columns)"
        )
    return rid, rcv


def _domains_nospark(root: str) -> dict[str, str]:
    """``domainMetadata`` fold WITHOUT a full snapshot replay: the
    newest checkpoint contributes its (column-pruned, pyarrow-read)
    domainMetadata column, then the JSON tail folds on top. O(number
    of domains + tail commits) — NOT O(live files), which is what
    makes per-append watermark reads flat as the table grows (the
    r11b probe caught the full-replay version growing with file
    count)."""
    domains: dict[str, str] = {}
    cp = _checkpoint_for(root, _latest_version(root))
    start = 0
    if cp is not None:
        import pyarrow.parquet as pq

        start = cp[0] + 1
        for fpath in cp[1]:
            pf = pq.ParquetFile(fpath)
            if "domainMetadata" not in pf.schema_arrow.names:
                continue
            for cell in (
                pf.read(columns=["domainMetadata"])
                .column("domainMetadata")
                .to_pylist()
            ):
                if not cell:
                    continue
                dm = json.loads(cell) if isinstance(cell, str) else cell
                if dm.get("removed"):
                    domains.pop(dm["domain"], None)
                else:
                    domains[dm["domain"]] = dm.get("configuration")
    commits = _commit_files(root)
    for v in sorted(c for c in commits if c >= start):
        with open(commits[v]) as f:
            for line in f:
                line = line.strip()
                if not line:
                    continue
                a = json.loads(line)
                dm = a.get("domainMetadata")
                if dm:
                    if dm.get("removed"):
                        domains.pop(dm["domain"], None)
                    else:
                        domains[dm["domain"]] = dm.get(
                            "configuration"
                        )
    return domains


def _row_id_high_water_mark(spark: SparkSession, root: str) -> int:
    """Current rowIdHighWaterMark from the delta.rowTracking domain
    (-1 when the domain has never been written). ``spark`` is
    unused (kept for call-shape symmetry) — the domains fold is a
    driver-side metadata read."""
    raw = _domains_nospark(root).get(_ROW_TRACKING_DOMAIN)
    if raw is None:
        return -1
    d = json.loads(raw) if isinstance(raw, str) else raw
    return int(d.get("rowIdHighWaterMark", -1))


def _add_num_records(a: dict) -> int:
    n = _add_stats(a).get("numRecords")
    if n is None:
        raise DeltaProtocolError(
            f"add {a.get('path')!r} carries no numRecords stats — "
            "row tracking cannot assign a base row id to a file of "
            "unknown physical row count"
        )
    return int(n)


def _assign_base_row_ids(
    add_actions: list[dict], hwm: int, commit_version: int
) -> tuple[list[dict], int]:
    """Stamp ``baseRowId``/``defaultRowCommitVersion`` onto the
    ``{"add": ...}`` actions (sorted by path — deterministic across
    claim retries) and return (domainMetadata action for the new
    high-water mark, new hwm). Mutates the add dicts in place."""
    nxt = hwm + 1
    for aa in sorted(add_actions, key=lambda x: x["add"]["path"]):
        a = aa["add"]
        a["baseRowId"] = nxt
        a["defaultRowCommitVersion"] = int(commit_version)
        nxt += _add_num_records(a)
    dm = {
        "domainMetadata": {
            "domain": _ROW_TRACKING_DOMAIN,
            "configuration": json.dumps(
                {"rowIdHighWaterMark": nxt - 1}
            ),
            "removed": False,
        }
    }
    return [dm], nxt - 1


def _row_tracking_base_map(
    spark: SparkSession, root: str, adds: dict[str, dict]
):
    """Broadcastable (on-disk path → baseRowId,
    defaultRowCommitVersion) frame keyed exactly like the scans'
    ``__fp`` column. Refuses a live file with no baseRowId — an
    enabled table must have every add assigned (the enablement
    backfill guarantees it)."""
    rows = []
    for rel, a in sorted(adds.items()):
        if a.get("baseRowId") is None:
            raise DeltaProtocolError(
                f"row tracking enabled but live file {rel!r} has no "
                "baseRowId (enable_delta_row_tracking backfills "
                "existing files)"
            )
        rows.append(
            (
                os.path.abspath(_data_path(root, rel)),
                int(a["baseRowId"]),
                int(a.get("defaultRowCommitVersion", 0)),
            )
        )
    return spark.createDataFrame(
        rows, "__fp string, __base long, __dcv long"
    )


def read_delta_row_ids(
    spark: SparkSession, root: str, version: int | None = None
) -> DataFrame:
    """Read a row-tracked Delta table WITH LINEAGE: the logical
    columns plus ``_row_id`` / ``_row_commit_version`` (PROTOCOL.md
    "Row Tracking" — the Delta twin of Iceberg v3's
    ``read_iceberg_lineage``). Per row: the materialized hidden
    column when the file carries one (rewrites preserve identity by
    materializing), else the default — ``add.baseRowId`` + physical
    position / ``add.defaultRowCommitVersion``. DV-dead rows are
    gone, exactly as in :func:`read_delta`; ``version=`` reads the
    lineage any past snapshot saw.

    Scale shape: one pruned parquet scan + a broadcast join against
    the per-FILE base map (metadata-sized) — lineage costs no
    shuffle beyond the scan itself."""
    meta, adds = _snapshot(spark, root, version)
    rt = _row_tracking(meta)
    if rt is None:
        raise DeltaProtocolError(
            "read_delta_row_ids on a table without "
            "delta.enableRowTracking=true (row ids are undefined)"
        )
    if _mapping_mode(meta) != "none":
        raise DeltaProtocolError(
            "read_delta_row_ids under columnMapping is not "
            "implemented"
        )
    rid, rcv = rt
    schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
    names = [f.name for f in schema.fields]
    if not adds:
        out_schema = T.StructType(
            list(schema.fields)
            + [
                T.StructField("_row_id", T.LongType(), True),
                T.StructField(
                    "_row_commit_version", T.LongType(), True
                ),
            ]
        )
        return spark.createDataFrame([], out_schema)
    scan, _old = _dml_scan(
        spark, root, meta, adds, extra_cols=[rid, rcv]
    )
    base = _row_tracking_base_map(spark, root, adds)
    return scan.join(F.broadcast(base), "__fp").select(
        *names,
        F.coalesce(F.col(rid), F.col("__base") + F.col("__ri")).alias(
            "_row_id"
        ),
        F.coalesce(F.col(rcv), F.col("__dcv")).alias(
            "_row_commit_version"
        ),
    )


def _stage_cdc(
    spark: SparkSession,
    dest: str,
    rows: DataFrame,
    pcols: list[str],
) -> list[dict]:
    """Stage change rows (already carrying ``_change_type``) as
    authoritative ``_change_data/`` files and return the ``cdc``
    actions — executor-side parquet write, one move per file;
    volume is change-bound, never table-bound."""
    import shutil
    import uuid as _uuid

    job = os.path.join(dest, f"_cdcstage-{_uuid.uuid4().hex}")
    w = rows.write
    if pcols:
        w = w.partitionBy(*pcols)
    w.parquet(job)
    os.makedirs(os.path.join(dest, "_change_data"), exist_ok=True)
    actions = []
    for dirpath, _dirs, files in sorted(os.walk(job)):
        for fn in sorted(files):
            if not fn.endswith(".parquet"):
                continue
            src = os.path.join(dirpath, fn)
            rel_dir = os.path.relpath(dirpath, job)
            pv = hive_values(rel_dir)
            name = (
                "_change_data/"
                + (
                    rel_dir.replace(os.sep, "/") + "/"
                    if rel_dir != "."
                    else ""
                )
                + fn
            )
            target = os.path.join(dest, name)
            os.makedirs(os.path.dirname(target), exist_ok=True)
            os.replace(src, target)
            actions.append(
                {
                    "cdc": {
                        "path": _rel_uri(name),
                        "partitionValues": pv,
                        "size": os.path.getsize(target),
                        "dataChange": False,
                    }
                }
            )
    shutil.rmtree(job, ignore_errors=True)
    return actions


def delete_from_delta(
    spark: SparkSession, dest: str, where
) -> tuple[int, int]:
    """DML DELETE via DELETION VECTORS — rows matching ``where`` (a
    SQL predicate string or Column) go dead WITHOUT rewriting any
    parquet: each touched file gets a roaring DV (storage type
    ``u``: one spec-framed file per data file at the table root,
    written EXECUTOR-side by the per-file group task through the
    from-scratch codec), and one commit re-adds the file with the
    descriptor (remove + add of the same path, ``dataChange`` true —
    the protocol's DV-delete shape, delta-io PROTOCOL.md "Deletion
    Vectors"). Returns ``(committed version, rows deleted)``.

    Scale shape: the scan is an ordinary pruned parquet read;
    matched row positions shuffle ONCE grouped by file (the shuffle
    carries (path, pos) pairs — delete-volume-bound, never
    table-bound); an existing DV's positions broadcast in and MERGE
    so re-deletes accumulate; files with no match are untouched.
    Stats stay as written (``numRecords`` is physical per the
    protocol; DV deadness is logical). The commit claims its version
    with the same put-if-absent loop as :func:`write_delta`; on a
    lost race
    the WHOLE delete recomputes against the new snapshot (DV files
    from the lost attempt are orphans until vacuum). First DV on a
    table upgrades the protocol to readerVersion 3 / writerVersion 7
    with the ``deletionVectors`` feature, as the spec requires.

    Under ``delta.enableChangeDataFeed=true`` the commit also writes
    AUTHORITATIVE ``_change_data/`` files of exactly the matched
    rows (protocol: DELETE under CDF writes cdc actions), so
    :func:`read_delta_changes` reports row-exact deletes instead of
    whole-file synthesis.

    Column-mapped tables refuse (the predicate would bind to
    physical names); tables whose snapshot carries no live files
    return ``(latest, 0)`` without committing."""
    return _dml_delta(spark, dest, where, None)


def update_delta(
    spark: SparkSession, dest: str, where, set_exprs: dict
) -> tuple[int, int]:
    """DML UPDATE — the DV-delete + re-append composition real Delta
    writers use: rows matching ``where`` go dead via deletion
    vectors (zero parquet rewritten for the untouched rows of each
    file) and their updated images — ``set_exprs`` maps column name
    → SQL expression string or Column, evaluated against the OLD row
    — append as NEW data files through the same one-pass-stats
    staging as :func:`write_delta`. Returns ``(version, rows
    updated)``. Updating a partition column moves rows to their new
    hive partition naturally (staging re-partitions by value).

    Under ``delta.enableChangeDataFeed=true`` the commit carries
    authoritative ``update_preimage`` + ``update_postimage`` cdc
    rows. Same concurrency/protocol story as
    :func:`delete_from_delta` (put-if-absent claim, recompute on lost race,
    deletionVectors feature upgrade)."""
    if not set_exprs:
        raise ValueError("update_delta: set_exprs must be non-empty")
    return _dml_delta(spark, dest, where, set_exprs)


def _physical_frame(
    df: DataFrame, schema: T.StructType, mode: str, pcols: list[str]
) -> DataFrame:
    """LOGICAL rows → the PHYSICAL layout staging must write under
    columnMapping mode=name (data files and hive partition dirs
    carry physical names; stats and partitionValues key by them too,
    which is exactly what the read path's ``_add_admits``
    expects). mode=none is the identity."""
    if mode == "none":
        return df
    cols = []
    for f in schema.fields:
        c = F.col(f.name)
        if isinstance(
            f.dataType, (T.StructType, T.ArrayType, T.MapType)
        ):
            c = c.cast(_physical_type(f.dataType))
        cols.append(c.alias(_physical_name(f)))
    extra = [
        F.col(c) for c in df.columns
        if c not in {f.name for f in schema.fields}
    ]
    return df.select(*cols, *extra)


def _dml_scan(
    spark: SparkSession,
    dest: str,
    meta: dict,
    adds: dict,
    extra_cols: list[str] | None = None,
) -> tuple[DataFrame, DataFrame | None]:
    """Live-file scan with ROW IDENTITY (``__fp``/``__ri``) and
    typed partition columns re-attached — the target side every DML
    op matches against. Already-DV-dead rows are anti-joined out
    (they are not visible, must not match, must not re-count).
    Under columnMapping mode=name the scan reads PHYSICAL columns
    and aliases them back to LOGICAL names (read_delta's machinery),
    so predicates and SET exprs bind logically everywhere
    downstream. Returns ``(scan, old_dead_df)``.

    ``extra_cols``: physical LONG columns surfaced as-is when
    present in a file and null otherwise (explicit-schema null-fill)
    — how the row-tracking paths read the hidden materialized
    lineage columns, which live outside the table schema."""
    schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
    mode = _mapping_mode(meta)
    phys_by_logical = {
        f.name: (_physical_name(f) if mode == "name" else f.name)
        for f in schema.fields
    }
    part_cols = meta.get("partitionColumns") or []
    data_fields = [
        f for f in schema.fields if f.name not in part_cols
    ]
    phys_schema = T.StructType(
        [
            T.StructField(
                phys_by_logical[f.name],
                _physical_type(f.dataType)
                if mode == "name"
                else f.dataType,
                f.nullable,
            )
            for f in data_fields
        ]
        + [
            T.StructField(c, T.LongType(), True)
            for c in (extra_cols or [])
        ]
    )
    ptypes = {f.name: f.dataType for f in schema.fields}
    by_pv: dict[tuple, list[str]] = {}
    for rel, a in adds.items():
        key = tuple(sorted((a.get("partitionValues") or {}).items()))
        by_pv.setdefault(key, []).append(rel)
    pieces = []
    for key, rels in sorted(by_pv.items()):
        paths = [
            os.path.abspath(_data_path(dest, r))
            for r in sorted(rels)
        ]
        piece = spark.read.schema(phys_schema).parquet(*paths)
        sel = []
        for f in data_fields:
            c = F.col(phys_by_logical[f.name])
            if mode == "name" and isinstance(
                f.dataType, (T.StructType, T.ArrayType, T.MapType)
            ):
                c = c.cast(f.dataType)
            sel.append(c.alias(f.name))
        piece = piece.select(
            *sel,
            *[F.col(c) for c in (extra_cols or [])],
            file_path_col().alias("__fp"),
            F.col("_metadata.row_index").alias("__ri"),
        )
        pv = dict(key)
        for k in part_cols:
            # partition columns live in the path (keyed PHYSICAL in
            # partitionValues) — re-attach typed under LOGICAL names
            piece = piece.withColumn(
                k,
                _typed_partition_lit(
                    pv.get(phys_by_logical[k]), ptypes[k]
                ),
            )
        pieces.append(piece)
    scan = pieces[0]
    for p in pieces[1:]:
        scan = scan.unionByName(p)
    dead_old = _dead_positions(dest, adds)
    old_df = (
        spark.createDataFrame(dead_old, "__fp string, __ri long")
        if dead_old
        else None
    )
    if old_df is not None:
        scan = scan.join(
            F.broadcast(old_df), ["__fp", "__ri"], "left_anti"
        )
    return scan, old_df


def _write_dvs(
    matched: DataFrame, old_df: DataFrame | None, root_abs: str
) -> list:
    """Write ONE merged DV per touched file, executor-side (per-file
    group task through the from-scratch roaring codec). ``matched``
    carries (__fp, __ri) of newly-dead rows; a touched file's NEW DV
    also carries its OLD dead positions (descriptors replace, they
    don't stack); untouched files keep their old DV byte-for-byte.
    Returns collected (fp, desc, new_rows) rows."""
    m = matched.select("__fp", "__ri", F.lit(True).alias("__new"))
    if old_df is not None:
        carried = old_df.join(
            m.select("__fp").distinct(), "__fp", "left_semi"
        ).select("__fp", "__ri", F.lit(False).alias("__new"))
        all_pos = m.unionByName(carried)
    else:
        all_pos = m

    def _write_group(pdf):
        import pandas as pd

        from dataflowex_spark.sources.roaring import write_dv_file_u

        desc = write_dv_file_u(
            root_abs, [int(x) for x in pdf["__ri"]]
        )
        return pd.DataFrame(
            {
                "fp": [pdf["__fp"].iloc[0]],
                "desc": [json.dumps(desc)],
                "new_rows": [int(pdf["__new"].sum())],
            }
        )

    return (
        all_pos.groupBy("__fp")
        .applyInPandas(
            _write_group, "fp string, desc string, new_rows long"
        )
        .collect()
    )


def _dml_delta(
    spark: SparkSession, dest: str, where, set_exprs: dict | None
) -> tuple[int, int]:
    """Shared DELETE/UPDATE core (``set_exprs=None`` → DELETE)."""
    op = "DELETE" if set_exprs is None else "UPDATE"
    cond = F.expr(where) if isinstance(where, str) else where
    while True:
        base = _latest_version(dest)
        meta, adds = _snapshot(spark, dest, base)
        mode = _mapping_mode(meta)
        if mode == "id":
            # mode=id resolves columns per-file by footer field id —
            # a name-keyed staging/stats contract has no stable
            # physical name to bind; refuse loudly (mode=name binds
            # through physicalName and is fully supported)
            raise DeltaProtocolError(
                f"{op.lower()} unsupported for columnMapping mode=id"
            )
        if not adds:
            return base, 0
        schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
        ptypes = {f.name: f.dataType for f in schema.fields}
        setc = {}
        if set_exprs is not None:
            for k, e in set_exprs.items():
                if k not in ptypes:
                    raise ValueError(
                        f"update_delta: SET column {k!r} not in schema"
                    )
                setc[k] = F.expr(e) if isinstance(e, str) else e
        rt = _row_tracking(meta)
        lineage_extra = list(rt) if rt else []
        scan, old_df = _dml_scan(
            spark, dest, meta, adds, extra_cols=lineage_extra
        )
        flt = scan.filter(cond).persist()
        root_abs = os.path.abspath(dest)
        results = _write_dvs(
            flt.select("__fp", "__ri"), old_df, root_abs
        )
        n_matched = sum(r["new_rows"] for r in results)
        conf = meta.get("configuration") or {}
        pcols = meta.get("partitionColumns") or []
        old_rows = flt.drop("__fp", "__ri", *lineage_extra)
        new_adds: list[dict] = []
        upd = None
        if n_matched and set_exprs is not None:
            # UPDATE: evaluated against the OLD row, appended as new
            # files through the shared one-pass-stats staging
            if rt:
                # row tracking: the rewritten image KEEPS its row id
                # (materialized into the hidden column — default ids
                # of the new file would be wrong) and takes THIS
                # commit as its row commit version (the new file's
                # defaultRowCommitVersion, so the hidden rcv column
                # stays null)
                rid_col, rcv_col = rt
                upd = (
                    flt.join(
                        F.broadcast(
                            _row_tracking_base_map(spark, dest, adds)
                        ),
                        "__fp",
                    )
                    .withColumn(
                        rid_col,
                        F.coalesce(
                            F.col(rid_col),
                            F.col("__base") + F.col("__ri"),
                        ),
                    )
                    .drop("__fp", "__ri", "__base", "__dcv", rcv_col)
                )
            else:
                upd = old_rows
            for k, e in setc.items():
                upd = upd.withColumn(k, e)
            prim = (
                T.LongType, T.IntegerType, T.ShortType, T.ByteType,
                T.DoubleType, T.FloatType, T.StringType, T.DateType,
            )
            _enforce_constraints(upd, meta, "update_delta")
            phys_by_logical = {
                f.name: (
                    _physical_name(f) if mode == "name" else f.name
                )
                for f in schema.fields
            }
            uscols = [
                phys_by_logical[f.name]
                for f in schema.fields
                if isinstance(f.dataType, prim) and f.name not in pcols
            ]
            new_adds = _stage_data_files(
                spark,
                dest,
                _physical_frame(upd, schema, mode, pcols),
                [phys_by_logical[c] for c in pcols],
                uscols,
            )
        cdc_actions: list[dict] = []
        if n_matched and str(
            conf.get("delta.enableChangeDataFeed", "")
        ).lower() == "true":
            # AUTHORITATIVE change files: without them CDF falls back
            # to whole-file synthesis (net-correct but noisy —
            # surviving file-mates read as delete+insert pairs); with
            # enableChangeDataFeed the protocol expects DML to write
            # cdc rows, so emit exactly the matched rows
            if set_exprs is None:
                cdc_rows = old_rows.withColumn(
                    "_change_type", F.lit("delete")
                )
            else:
                cdc_rows = old_rows.withColumn(
                    "_change_type", F.lit("update_preimage")
                ).unionByName(
                    upd.drop(*lineage_extra).withColumn(
                        "_change_type", F.lit("update_postimage")
                    )
                )
            pbl = {
                f.name: (
                    _physical_name(f) if mode == "name" else f.name
                )
                for f in schema.fields
            }
            cdc_actions = _stage_cdc(
                spark,
                dest,
                _physical_frame(cdc_rows, schema, mode, pcols),
                [pbl[c] for c in pcols],
            )
        flt.unpersist()
        if n_matched == 0:
            _unlink_dvs(results, root_abs)
            return base, 0
        actions = _dv_protocol_actions(dest)
        actions += _dv_readd_actions(results, adds, root_abs)
        actions.extend(new_adds)
        if rt and new_adds:
            # every new file gets a fresh baseRowId above the
            # high-water mark (the spec assigns defaults to ALL
            # adds; the materialized rid column wins for the
            # rewritten rows) and this commit's version as its
            # defaultRowCommitVersion; a lost race recomputes the
            # whole DML, so the stale assignment never lands
            dm_actions, _hwm = _assign_base_row_ids(
                new_adds,
                _row_id_high_water_mark(spark, dest),
                base + 1,
            )
            actions.extend(dm_actions)
        actions.extend(cdc_actions)
        actions.append(
            {
                "commitInfo": {
                    "operation": op,
                    "timestamp": None,
                    "operationMetrics": {
                        "numDeletedRows"
                        if op == "DELETE"
                        else "numUpdatedRows": n_matched
                    },
                }
            }
        )
        v = _try_claim_commit(spark, dest, base, actions, conf)
        if v is None:
            continue  # lost the race: recompute against new snapshot
        return v, n_matched


def _unlink_dvs(results: list, root_abs: str) -> None:
    """Remove the DV files of an abandoned attempt (no matches / a
    lost commit race) — best-effort; any stragglers are orphans the
    DV-aware vacuum reclaims."""
    from dataflowex_spark.sources.roaring import dv_file_relpath

    for r in results:
        relp = dv_file_relpath(root_abs, json.loads(r["desc"]))
        if relp:
            try:
                os.unlink(os.path.join(root_abs, relp))
            except OSError:
                pass


def _dv_protocol_actions(dest: str) -> list[dict]:
    """Protocol-upgrade action list for a DV-writing commit: empty
    when the table already declares the feature, else the spec's
    reader 3 / writer 7 + deletionVectors (existing features
    carried)."""
    proto = _latest_protocol(dest)
    rfeats = set(proto.get("readerFeatures") or [])
    if "deletionVectors" in rfeats:
        return []
    return [
        {
            "protocol": {
                "minReaderVersion": 3,
                "minWriterVersion": 7,
                "readerFeatures": sorted(rfeats | {"deletionVectors"}),
                "writerFeatures": sorted(
                    set(proto.get("writerFeatures") or [])
                    | {"deletionVectors"}
                ),
            }
        }
    ]


def _dv_readd_actions(
    results: list, adds: dict, root_abs: str
) -> list[dict]:
    """remove + re-add (with the new DV descriptor) per touched
    file — the protocol's DV-DML shape. The remove carries
    partitionValues/size/old-DV so CDF synthesis stays typed."""
    actions: list[dict] = []
    for r in sorted(results, key=lambda r: r["fp"]):
        rel = _rel_uri(
            os.path.relpath(r["fp"], root_abs).replace(os.sep, "/")
        )
        old = adds.get(rel)
        if old is None:
            raise DeltaProtocolError(
                f"matched file {rel} not in snapshot (race?)"
            )
        rm = {"path": rel, "dataChange": True}
        for carry in ("partitionValues", "size", "deletionVector"):
            if old.get(carry) is not None:
                rm[carry] = old[carry]
        actions.append({"remove": rm})
        new_add = dict(old)
        new_add["deletionVector"] = json.loads(r["desc"])
        new_add["dataChange"] = True
        actions.append({"add": new_add})
    return actions


def _ict_stamp(
    dest: str, conf: dict, actions: list[dict]
) -> list[dict]:
    """IN-COMMIT TIMESTAMPS, write side (PROTOCOL.md
    inCommitTimestamp feature): when the table configuration enables
    ``delta.enableInCommitTimestamps``, stamp every commitInfo in
    ``actions`` with a MONOTONE ``inCommitTimestamp`` —
    max(wall-clock ms, predecessor's ICT + 1), so commit time never
    goes backwards even when the clock does (the whole point of the
    feature: file mtimes and wall clocks lie after copies/restores,
    the log itself must carry time). A commit lacking commitInfo
    gains one, since the feature makes commitInfo mandatory. Called
    per CLAIM ATTEMPT (not once per logical write) so a lost race
    re-stamps against the winner. No-op when the table doesn't
    enable the feature. Read side: ``version_at_timestamp`` /
    ``delta_history`` already prefer commitInfo.inCommitTimestamp."""
    import time as _time

    if str(
        conf.get("delta.enableInCommitTimestamps", "")
    ).lower() != "true":
        return actions
    prior = 0
    commits = _commit_files(dest)
    if commits:
        with open(commits[max(commits)]) as f:
            for line in f:
                line = line.strip()
                if not line:
                    continue
                a0 = json.loads(line)
                ci0 = a0.get("commitInfo")
                if ci0 and ci0.get("inCommitTimestamp"):
                    prior = int(ci0["inCommitTimestamp"])
    ict = max(int(_time.time() * 1000), prior + 1)
    out = [dict(a) for a in actions]
    stamped = False
    for a0 in out:
        if "commitInfo" in a0 and a0["commitInfo"] is not None:
            ci = dict(a0["commitInfo"])
            # a caller-pinned ICT (the enablement commit pins its
            # own so the EnablementTimestamp property matches the
            # commit exactly) survives if still monotone
            if not (
                ci.get("inCommitTimestamp")
                and int(ci["inCommitTimestamp"]) > prior
            ):
                ci["inCommitTimestamp"] = ict
            a0["commitInfo"] = ci
            stamped = True
    if not stamped:
        out.append(
            {
                "commitInfo": {
                    "operation": "WRITE",
                    "inCommitTimestamp": ict,
                }
            }
        )
    return out


def _try_claim_commit(
    spark: SparkSession,
    dest: str,
    base: int,
    actions: list[dict],
    conf: dict,
) -> int | None:
    """Claim version ``base + 1`` exclusively through the pluggable
    commit backend (put-if-absent of the FULLY-SERIALIZED commit —
    a visible ``N.json`` is always complete, no reader can observe a
    claimed-but-torn file). ``base`` is the version the caller's
    snapshot was folded at, so ``None`` (another writer claimed
    ``base + 1`` first) means the caller's state is stale: it
    re-reads and recomputes. Honors ``delta.checkpointInterval``.

    When the table enables ``delta.enableInCommitTimestamps`` (the
    inCommitTimestamp writer feature), every commit's commitInfo is
    stamped via :func:`_ict_stamp` before serialization."""
    v = base + 1
    actions = _ict_stamp(dest, conf, actions)
    path = os.path.join(_log_dir(dest), f"{v:020d}.json")
    content = "".join(json.dumps(a) + "\n" for a in actions)
    try:
        get_commit_backend().put_if_absent(path, content)
    except FileExistsError:
        return None
    try:
        interval = int(conf.get("delta.checkpointInterval", 10))
    except (TypeError, ValueError):
        interval = 10
    if interval > 0 and v > 0 and v % interval == 0:
        checkpoint_delta_export(spark, dest)
    return v


def enable_delta_in_commit_timestamps(
    spark: SparkSession, dest: str
) -> int:
    """Enable IN-COMMIT TIMESTAMPS on an existing table — the
    ``ALTER TABLE ... SET TBLPROPERTIES
    ('delta.enableInCommitTimestamps'='true')`` shape from
    PROTOCOL.md: the enablement commit upgrades the protocol to
    writer 7 carrying the ``inCommitTimestamp`` writerFeature
    (existing features and implied legacy features preserved), sets
    the property plus the spec's
    ``delta.inCommitTimestampEnablementVersion`` /
    ``...EnablementTimestamp`` pair (required when enabled after
    creation — they tell readers where the monotone clock STARTS, so
    timestamp-travel before that version falls back to file mtimes),
    and pins its own commitInfo ICT to exactly the enablement
    timestamp. Every later commit is stamped monotonically by the
    claim funnel (:func:`_ict_stamp`). Idempotent. Returns the
    committed (or current) version."""
    import time as _time

    while True:
        base = _latest_version(dest)
        meta, _adds = _snapshot(spark, dest, base)
        conf = dict(meta.get("configuration") or {})
        if (
            str(conf.get("delta.enableInCommitTimestamps", "")).lower()
            == "true"
        ):
            return base  # idempotent
        proto = _latest_protocol(dest)
        wv = proto.get("minWriterVersion", 1)
        # legacy writer levels imply features that must materialize
        # when jumping to the features-era list (the checkpoint
        # upgrade's table, same rule)
        _implied_w = {
            2: ["appendOnly", "invariants"],
            3: ["checkConstraints"],
            4: ["changeDataFeed", "generatedColumns"],
            5: ["columnMapping"],
            6: ["identityColumns"],
        }
        wfeats = set(proto.get("writerFeatures") or [])
        if wv < 7:
            for lvl, fs in _implied_w.items():
                if wv >= lvl:
                    wfeats |= set(fs)
        proto_new = {
            "minReaderVersion": proto.get("minReaderVersion", 1),
            "minWriterVersion": 7,
            "writerFeatures": sorted(wfeats | {"inCommitTimestamp"}),
        }
        if proto.get("readerFeatures") is not None:
            proto_new["readerFeatures"] = sorted(
                set(proto["readerFeatures"])
            )
        ict = int(_time.time() * 1000)
        v_target = base + 1
        conf["delta.enableInCommitTimestamps"] = "true"
        conf["delta.inCommitTimestampEnablementVersion"] = str(v_target)
        conf["delta.inCommitTimestampEnablementTimestamp"] = str(ict)
        new_meta = dict(meta)
        new_meta["configuration"] = conf
        actions = [
            {"protocol": proto_new},
            {"metaData": new_meta},
            {
                "commitInfo": {
                    "operation": "SET TBLPROPERTIES",
                    "inCommitTimestamp": ict,
                }
            },
        ]
        v = _try_claim_commit(spark, dest, base, actions, conf)
        if v is None:
            continue
        return v


def enable_delta_row_tracking(spark: SparkSession, dest: str) -> int:
    """Enable ROW TRACKING on an existing table with a BACKFILL
    commit (PROTOCOL.md "Row Tracking"): upgrade the protocol to
    writer 7 with the ``rowTracking`` + ``domainMetadata``
    writerFeatures (existing/implied features preserved), set
    ``delta.enableRowTracking=true`` plus fresh materialized-column
    names, re-add every live file with an assigned ``baseRowId``
    and this commit as its ``defaultRowCommitVersion``
    (``dataChange: false`` — no reader-visible rows change), and
    write the ``delta.rowTracking`` high-water-mark domain — all in
    ONE commit, so there is never a version where the table claims
    tracking but a live file has no id. Idempotent. Returns the
    committed (or current) version.

    Backfilled rows' row commit version is the enablement commit
    (their pre-enablement history has no defined row ids to
    preserve — the same convention delta-spark's backfill uses).
    Requires per-file ``numRecords`` stats (our writers always
    record them); columnMapping tables refuse."""
    import uuid as _uuid

    while True:
        base = _latest_version(dest)
        meta, adds = _snapshot(spark, dest, base)
        if _mapping_mode(meta) != "none":
            raise DeltaProtocolError(
                "row tracking with columnMapping is not implemented"
            )
        conf = dict(meta.get("configuration") or {})
        if str(conf.get("delta.enableRowTracking", "")).lower() == "true":
            return base  # idempotent
        proto = _latest_protocol(dest)
        wv = proto.get("minWriterVersion", 1)
        _implied_w = {
            2: ["appendOnly", "invariants"],
            3: ["checkConstraints"],
            4: ["changeDataFeed", "generatedColumns"],
            5: ["columnMapping"],
            6: ["identityColumns"],
        }
        wfeats = set(proto.get("writerFeatures") or [])
        if wv < 7:
            for lvl, fs in _implied_w.items():
                if wv >= lvl:
                    wfeats |= set(fs)
        proto_new = {
            "minReaderVersion": proto.get("minReaderVersion", 1),
            "minWriterVersion": 7,
            "writerFeatures": sorted(
                wfeats | {"rowTracking", "domainMetadata"}
            ),
        }
        if proto.get("readerFeatures") is not None:
            proto_new["readerFeatures"] = sorted(
                set(proto["readerFeatures"])
            )
        conf["delta.enableRowTracking"] = "true"
        conf.setdefault(
            "delta.rowTracking.materializedRowIdColumnName",
            f"_row-id-col-{_uuid.uuid4().hex[:16]}",
        )
        conf.setdefault(
            "delta.rowTracking.materializedRowCommitVersionColumnName",
            f"_row-commit-version-col-{_uuid.uuid4().hex[:16]}",
        )
        new_meta = dict(meta)
        new_meta["configuration"] = conf
        v_target = base + 1
        readds: list[dict] = []
        for rel in sorted(adds):
            old = adds[rel]
            rm = {"path": rel, "dataChange": False}
            for carry in ("partitionValues", "size", "deletionVector"):
                if old.get(carry) is not None:
                    rm[carry] = old[carry]
            new_add = dict(old)
            new_add["dataChange"] = False
            readds.append({"remove": rm})
            readds.append({"add": new_add})
        dm_actions, _hwm = _assign_base_row_ids(
            [a for a in readds if "add" in a], -1, v_target
        )
        actions = (
            [{"protocol": proto_new}, {"metaData": new_meta}]
            + readds
            + dm_actions
            + [
                {
                    "commitInfo": {
                        "operation": "SET TBLPROPERTIES",
                        "timestamp": None,
                        "operationMetrics": {
                            "numFilesBackfilled": len(adds)
                        },
                    }
                }
            ]
        )
        v = _try_claim_commit(spark, dest, base, actions, conf)
        if v is None:
            continue
        return v


def alter_delta_clustering(
    spark: SparkSession, dest: str, cluster_by: list[str]
) -> int:
    """(Re)declare the CLUSTERING COLUMNS of an existing table
    (``ALTER TABLE ... CLUSTER BY``): upgrades the protocol to
    writer 7 with ``clusteredTable`` + ``domainMetadata`` (existing
    and implied features preserved) and writes the
    ``delta.clustering`` domain. Metadata-only — existing files keep
    their layout until the next :func:`optimize_delta` reads the new
    columns and rewrites. Returns the committed version."""
    if not cluster_by:
        raise ValueError("alter_delta_clustering: empty cluster_by")
    while True:
        base = _latest_version(dest)
        meta, _adds = _snapshot(spark, dest, base)
        schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
        known = {f.name for f in schema.fields}
        bad = [c for c in cluster_by if c not in known]
        if bad:
            raise ValueError(f"cluster_by columns {bad} not in schema")
        pcols = set(meta.get("partitionColumns") or [])
        overlap = sorted(set(cluster_by) & pcols)
        if overlap:
            raise ValueError(
                f"cluster_by overlaps partition columns {overlap}"
            )
        proto = _latest_protocol(dest)
        wv = proto.get("minWriterVersion", 1)
        _implied_w = {
            2: ["appendOnly", "invariants"],
            3: ["checkConstraints"],
            4: ["changeDataFeed", "generatedColumns"],
            5: ["columnMapping"],
            6: ["identityColumns"],
        }
        wfeats = set(proto.get("writerFeatures") or [])
        if wv < 7:
            for lvl, fs in _implied_w.items():
                if wv >= lvl:
                    wfeats |= set(fs)
        proto_new = {
            "minReaderVersion": proto.get("minReaderVersion", 1),
            "minWriterVersion": 7,
            "writerFeatures": sorted(
                wfeats | {"clusteredTable", "domainMetadata"}
            ),
        }
        if proto.get("readerFeatures") is not None:
            proto_new["readerFeatures"] = sorted(
                set(proto["readerFeatures"])
            )
        actions = [
            {"protocol": proto_new},
            {
                "domainMetadata": {
                    "domain": _CLUSTERING_DOMAIN,
                    "configuration": json.dumps(
                        {
                            "clusteringColumns": [
                                [c] for c in cluster_by
                            ]
                        }
                    ),
                    "removed": False,
                }
            },
            {
                "commitInfo": {
                    "operation": "CLUSTER BY",
                    "timestamp": None,
                    "operationParameters": {
                        "clusterBy": list(cluster_by)
                    },
                }
            },
        ]
        v = _try_claim_commit(
            spark, dest, base, actions,
            meta.get("configuration") or {},
        )
        if v is None:
            continue
        return v


def upgrade_delta_column_mapping(
    spark: SparkSession, dest: str
) -> int:
    """Upgrade a plain table to ``columnMapping mode=name`` — the
    delta-spark ``ALTER TABLE ... SET TBLPROPERTIES
    ('delta.columnMapping.mode'='name')`` shape: every top-level
    field pins ``physicalName`` := its CURRENT name (existing data
    files keep resolving verbatim — zero rewrite) and gets a stable
    ``columnMapping.id``; the protocol rises to reader 2 / writer 5
    (or gains the ``columnMapping`` feature on a features-era 3/7
    table). After this, :func:`alter_delta` renames/drops are
    METADATA-ONLY. Idempotent on an already-name-mapped table;
    mode=id refuses. Returns the committed (or current) version."""
    while True:
        base = _latest_version(dest)
        meta, _adds = _snapshot(spark, dest, base)
        mode = _mapping_mode(meta)
        if mode == "name":
            return base  # idempotent
        if mode == "id":
            raise DeltaProtocolError(
                "upgrade targets mode=name; table is already mode=id"
            )
        schema = T.StructType.fromJson(
            json.loads(meta["schemaString"])
        )
        new_fields = []
        for i, f in enumerate(schema.fields, 1):
            md = dict(f.metadata or {})
            md["delta.columnMapping.id"] = i
            md["delta.columnMapping.physicalName"] = f.name
            new_fields.append(
                T.StructField(f.name, f.dataType, f.nullable, md)
            )
        conf = dict(meta.get("configuration") or {})
        conf["delta.columnMapping.mode"] = "name"
        conf["delta.columnMapping.maxColumnId"] = str(
            len(new_fields)
        )
        actions: list[dict] = []
        proto = _latest_protocol(dest)
        rfeats = proto.get("readerFeatures")
        if rfeats is not None or proto.get("minReaderVersion", 1) >= 3:
            actions.append(
                {
                    "protocol": {
                        "minReaderVersion": 3,
                        "minWriterVersion": 7,
                        "readerFeatures": sorted(
                            set(rfeats or []) | {"columnMapping"}
                        ),
                        "writerFeatures": sorted(
                            set(proto.get("writerFeatures") or [])
                            | {"columnMapping"}
                        ),
                    }
                }
            )
        elif (
            proto.get("minReaderVersion", 1) < 2
            or proto.get("minWriterVersion", 1) < 5
        ):
            actions.append(
                {
                    "protocol": {
                        "minReaderVersion": 2,
                        "minWriterVersion": 5,
                    }
                }
            )
        new_meta = dict(meta)
        new_meta["schemaString"] = json.dumps(
            T.StructType(new_fields).jsonValue()
        )
        new_meta["configuration"] = conf
        actions.append({"metaData": new_meta})
        actions.append(
            {
                "commitInfo": {
                    "operation": "UPGRADE COLUMN MAPPING",
                    "timestamp": None,
                }
            }
        )
        v = _try_claim_commit(spark, dest, base, actions, conf)
        if v is None:
            continue
        return v


def alter_delta(
    spark: SparkSession,
    dest: str,
    renames: dict[str, str] | None = None,
    drops: list[str] | None = None,
) -> int:
    """Column RENAME / DROP as pure METADATA — the Delta twin of
    :func:`iceberg_reader.alter_iceberg`, and the reason
    columnMapping exists: under mode=name the data files address
    columns by pinned ``physicalName``, so renaming only relabels
    the logical schema and dropping only removes the field from
    ``schemaString`` (the bytes stay in the files, invisible — the
    spec's DROP COLUMN). Requires mode=name
    (:func:`upgrade_delta_column_mapping` first — itself
    metadata-only); plain tables refuse rather than rewrite
    silently. Renaming a partition column updates
    ``partitionColumns``; dropping one refuses (partition values
    key the file layout). Swap-renames (a→b, b→a) are legal — the
    physical names are the identity. Returns the new version."""
    renames = dict(renames or {})
    drops = list(drops or [])
    if not renames and not drops:
        raise ValueError("alter_delta: nothing to do")
    while True:
        base = _latest_version(dest)
        meta, _adds = _snapshot(spark, dest, base)
        if _mapping_mode(meta) != "name":
            raise DeltaProtocolError(
                "alter_delta needs columnMapping mode=name "
                "(run upgrade_delta_column_mapping first)"
            )
        schema = T.StructType.fromJson(
            json.loads(meta["schemaString"])
        )
        names = {f.name for f in schema.fields}
        part_cols = list(meta.get("partitionColumns") or [])
        for old in list(renames) + drops:
            if old not in names:
                raise ValueError(f"column {old!r} not in schema")
        for old in renames:
            if old in drops:
                raise ValueError(f"column {old!r} both renamed and dropped")
        for d in drops:
            if d in part_cols:
                raise DeltaProtocolError(
                    f"cannot drop partition column {d!r}"
                )
        after = {
            renames.get(f.name, f.name)
            for f in schema.fields
            if f.name not in drops
        }
        if len(after) != len(schema.fields) - len(drops):
            raise ValueError("rename would collide column names")
        new_fields = [
            T.StructField(
                renames.get(f.name, f.name),
                f.dataType,
                f.nullable,
                dict(f.metadata or {}),
            )
            for f in schema.fields
            if f.name not in drops
        ]
        new_meta = dict(meta)
        new_meta["schemaString"] = json.dumps(
            T.StructType(new_fields).jsonValue()
        )
        new_meta["partitionColumns"] = [
            renames.get(c, c) for c in part_cols
        ]
        conf = dict(meta.get("configuration") or {})
        actions = [
            {"metaData": new_meta},
            {
                "commitInfo": {
                    "operation": "ALTER TABLE",
                    "timestamp": None,
                    "operationParameters": {
                        "renames": renames, "drops": drops
                    },
                }
            },
        ]
        v = _try_claim_commit(spark, dest, base, actions, conf)
        if v is None:
            continue
        return v


def merge_delta(
    spark: SparkSession,
    dest: str,
    source: DataFrame,
    on: list[str],
    when_matched: str | None = "update",
    when_not_matched: bool = True,
) -> tuple[int, dict]:
    """DML MERGE (key-based upsert — the CDC-apply shape): ``source``
    rows join the target on the ``on`` key columns; matched target
    rows go DV-dead and, under ``when_matched="update"``, the SOURCE
    row replaces them (whole-row semantics) via the shared staging;
    ``when_matched="delete"`` drops them; ``None`` leaves them.
    ``when_not_matched=True`` inserts unmatched source rows. All in
    ONE commit. Returns ``(version, {"updated": u, "deleted": d,
    "inserted": i})``.

    Multiple source rows matching ONE target row refuse (the same
    ambiguity real Delta's MERGE rejects). Under
    ``delta.enableChangeDataFeed=true`` the commit carries
    authoritative cdc rows (update_preimage/postimage, delete,
    insert). Same concurrency/protocol story as the other DML ops.

    Scale shape: the match is an equi-join on the merge keys (source
    side is change-set-sized — broadcast when small, shuffle
    otherwise, Catalyst's call); DV positions shuffle once by file;
    new files carry only updated+inserted rows."""
    if when_matched not in ("update", "delete", None):
        raise ValueError(f"when_matched {when_matched!r}")
    if when_matched is None and not when_not_matched:
        raise ValueError("merge_delta: no clauses — nothing to do")
    if not on:
        raise ValueError("merge_delta: empty merge key")
    while True:
        base = _latest_version(dest)
        meta, adds = _snapshot(spark, dest, base)
        mode = _mapping_mode(meta)
        if mode == "id":
            raise DeltaProtocolError(
                "merge unsupported for columnMapping mode=id"
            )
        rt = _row_tracking(meta)
        lineage_extra = list(rt) if rt else []
        schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
        tcols = [f.name for f in schema.fields]
        for k in on:
            if k not in tcols:
                raise ValueError(f"merge key {k!r} not in schema")
        missing = [c for c in tcols if c not in source.columns]
        if missing and (when_matched == "update" or when_not_matched):
            raise ValueError(
                f"source lacks table columns {missing} (whole-row "
                "update/insert semantics need them all)"
            )
        pcols = meta.get("partitionColumns") or []
        conf = meta.get("configuration") or {}
        cdf_on = str(
            conf.get("delta.enableChangeDataFeed", "")
        ).lower() == "true"
        prim = (
            T.LongType, T.IntegerType, T.ShortType, T.ByteType,
            T.DoubleType, T.FloatType, T.StringType, T.DateType,
        )
        phys_by_logical = {
            f.name: (_physical_name(f) if mode == "name" else f.name)
            for f in schema.fields
        }
        scols = [
            phys_by_logical[f.name]
            for f in schema.fields
            if isinstance(f.dataType, prim) and f.name not in pcols
        ]
        src = source.select(*tcols).persist()
        dup = (
            src.groupBy(*on).count().filter(F.col("count") > 1).count()
        )
        if dup:
            src.unpersist()
            raise ValueError(
                f"merge_delta: {dup} source keys match multiple "
                "source rows (ambiguous — dedupe the source first)"
            )
        root_abs = os.path.abspath(dest)
        n_matched = 0
        results: list = []
        joined = None
        if adds:
            scan, old_df = _dml_scan(
                spark, dest, meta, adds, extra_cols=lineage_extra
            )
            joined = (
                scan.alias("t")
                .join(src.alias("s"), on, "inner")
                .persist()
            )
            if when_matched is not None:
                results = _write_dvs(
                    joined.select("__fp", "__ri"), old_df, root_abs
                )
                n_matched = sum(r["new_rows"] for r in results)
        # new data files: source images of matched rows (update) +
        # unmatched source rows (insert) — ONE staging job
        pieces = []
        if when_matched == "update" and n_matched:
            upd_sel = [
                (F.col(c) if c in on else F.col(f"s.{c}")).alias(c)
                for c in tcols
            ]
            if rt:
                # MERGE-updated rows KEEP their row id (spec: an
                # update is not a new row) — materialize the
                # target's id into the hidden column; the new
                # file's defaultRowCommitVersion is their new rcv
                rid_col, _rcv_col = rt
                pieces.append(
                    joined.join(
                        F.broadcast(
                            _row_tracking_base_map(spark, dest, adds)
                        ),
                        "__fp",
                    ).select(
                        *upd_sel,
                        F.coalesce(
                            F.col(rid_col),
                            F.col("__base") + F.col("__ri"),
                        ).alias(rid_col),
                    )
                )
            else:
                pieces.append(joined.select(*upd_sel))
        inserts = None
        if when_not_matched:
            tgt_keys = (
                joined.select(*on) if joined is not None
                else spark.createDataFrame(
                    [], T.StructType([schema[k] for k in on])
                )
            )
            inserts = src.join(tgt_keys, on, "left_anti").persist()
        ins_piece = inserts
        if inserts is not None and rt and pieces:
            # inserted rows have no prior identity: null hidden id
            # (the default — fresh baseRowId + position — is their
            # id), padded so the union with the update piece aligns
            ins_piece = inserts.withColumn(
                rt[0], F.lit(None).cast("long")
            )
        new_rows = None
        for p in pieces + ([ins_piece] if ins_piece is not None else []):
            new_rows = p if new_rows is None else new_rows.unionByName(p)
        new_adds: list[dict] = []
        total_staged = 0
        if new_rows is not None:
            _enforce_constraints(new_rows, meta, "merge_delta")
            new_adds = _stage_data_files(
                spark,
                dest,
                _physical_frame(new_rows, schema, mode, pcols),
                [phys_by_logical[c] for c in pcols],
                scols,
            )
            total_staged = sum(
                json.loads(a["add"]["stats"])["numRecords"]
                for a in new_adds
            )
        n_updated = n_matched if when_matched == "update" else 0
        n_deleted = n_matched if when_matched == "delete" else 0
        n_inserted = total_staged - n_updated
        cdc_actions: list[dict] = []
        if cdf_on and (n_matched or n_inserted):
            parts = []
            if n_matched:
                pre = joined.select(
                    *[
                        (
                            F.col(c) if c in on else F.col(f"t.{c}")
                        ).alias(c)
                        for c in tcols
                    ]
                )
                if when_matched == "update":
                    parts.append(
                        pre.withColumn(
                            "_change_type",
                            F.lit("update_preimage"),
                        )
                    )
                    parts.append(
                        joined.select(
                            *[
                                (
                                    F.col(c)
                                    if c in on
                                    else F.col(f"s.{c}")
                                ).alias(c)
                                for c in tcols
                            ]
                        ).withColumn(
                            "_change_type",
                            F.lit("update_postimage"),
                        )
                    )
                else:
                    parts.append(
                        pre.withColumn(
                            "_change_type", F.lit("delete")
                        )
                    )
            if inserts is not None and n_inserted:
                parts.append(
                    inserts.withColumn(
                        "_change_type", F.lit("insert")
                    )
                )
            cdc_rows = parts[0]
            for p in parts[1:]:
                cdc_rows = cdc_rows.unionByName(p)
            cdc_actions = _stage_cdc(
                spark,
                dest,
                _physical_frame(cdc_rows, schema, mode, pcols),
                [phys_by_logical[c] for c in pcols],
            )
        if joined is not None:
            joined.unpersist()
        if inserts is not None:
            inserts.unpersist()
        src.unpersist()
        stats = {
            "updated": n_updated,
            "deleted": n_deleted,
            "inserted": n_inserted,
        }
        if not (n_matched or n_inserted):
            _unlink_dvs(results, root_abs)
            return base, stats
        actions = _dv_protocol_actions(dest) if n_matched else []
        if n_matched:
            actions += _dv_readd_actions(results, adds, root_abs)
        actions.extend(new_adds)
        if rt and new_adds:
            dm_actions, _hwm = _assign_base_row_ids(
                new_adds,
                _row_id_high_water_mark(spark, dest),
                base + 1,
            )
            actions.extend(dm_actions)
        actions.extend(cdc_actions)
        actions.append(
            {
                "commitInfo": {
                    "operation": "MERGE",
                    "timestamp": None,
                    "operationMetrics": {
                        "numTargetRowsUpdated": n_updated,
                        "numTargetRowsDeleted": n_deleted,
                        "numTargetRowsInserted": n_inserted,
                    },
                }
            }
        )
        v = _try_claim_commit(spark, dest, base, actions, conf)
        if v is None:
            continue
        return v, stats


def compact_delta_dvs(
    spark: SparkSession, dest: str, min_dead_ratio: float = 0.3
) -> tuple[int, int]:
    """DV COMPACTION (the OPTIMIZE-style purge that closes the DV
    lifecycle: delete → accumulate → compact → vacuum): every live
    file whose deletion vector has gone DENSE — dead rows ≥
    ``min_dead_ratio`` of the file's physical rows — rewrites to a
    fresh file with the dead rows physically gone, dropping its DV.
    Sparse-DV files stay as they are (rewriting them would cost more
    I/O than the dead rows waste). The commit is remove+add with
    ``dataChange: false`` — a storage reorganization, invisible to
    CDF (the synthesizer skips non-dataChange actions) and to every
    reader's row set. Returns ``(version, files rewritten)``; no
    qualifying files → no commit, ``(latest, 0)``.

    Scale shape: the rewrite scans ONLY the chosen files (DV-debt-
    targeted, never the table), stages through the shared one-pass-
    stats path, and the freed DV files become vacuum-reclaimable
    orphans once their versions age out — the same debt economics as
    MTable's compaction."""
    from dataflowex_spark.sources.roaring import decode_dv_descriptor

    while True:
        base = _latest_version(dest)
        meta, adds = _snapshot(spark, dest, base)
        mode = _mapping_mode(meta)
        if mode == "id":
            raise DeltaProtocolError(
                "compact_delta_dvs unsupported for columnMapping "
                "mode=id"
            )
        chosen: dict[str, dict] = {}
        for rel, a in adds.items():
            dv = a.get("deletionVector")
            if not dv:
                continue
            if isinstance(dv, str):
                dv = json.loads(dv)
            dead = dv.get("cardinality")
            total = _add_stats(a).get("numRecords")
            if dead is None or not total:
                continue  # unsized: stay conservative, keep the DV
            if dead / total >= min_dead_ratio:
                chosen[rel] = a
        if not chosen:
            return base, 0
        pcols = meta.get("partitionColumns") or []
        schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
        prim = (
            T.LongType, T.IntegerType, T.ShortType, T.ByteType,
            T.DoubleType, T.FloatType, T.StringType, T.DateType,
        )
        phys_by_logical = {
            f.name: (_physical_name(f) if mode == "name" else f.name)
            for f in schema.fields
        }
        scols = [
            phys_by_logical[f.name]
            for f in schema.fields
            if isinstance(f.dataType, prim) and f.name not in pcols
        ]
        rt = _row_tracking(meta)
        scan, _old = _dml_scan(
            spark,
            dest,
            meta,
            chosen,
            extra_cols=list(rt) if rt else None,
        )
        if rt:
            # a compaction is invisible to readers — surviving rows
            # keep BOTH their row id and their row commit version,
            # so both materialize into the rewritten file (the fresh
            # file's defaults describe a commit that never logically
            # touched these rows)
            rid_col, rcv_col = rt
            rows = (
                scan.join(
                    F.broadcast(
                        _row_tracking_base_map(spark, dest, chosen)
                    ),
                    "__fp",
                )
                .withColumn(
                    rid_col,
                    F.coalesce(
                        F.col(rid_col), F.col("__base") + F.col("__ri")
                    ),
                )
                .withColumn(
                    rcv_col,
                    F.coalesce(F.col(rcv_col), F.col("__dcv")),
                )
                .drop("__fp", "__ri", "__base", "__dcv")
            )
        else:
            rows = scan.drop("__fp", "__ri")  # DV dead anti-joined
        new_adds = _stage_data_files(
            spark,
            dest,
            _physical_frame(rows, schema, mode, pcols),
            [phys_by_logical[c] for c in pcols],
            scols,
        )
        for na in new_adds:
            na["add"]["dataChange"] = False
        actions: list[dict] = []
        for rel in sorted(chosen):
            old = chosen[rel]
            rm = {"path": rel, "dataChange": False}
            for carry in ("partitionValues", "size", "deletionVector"):
                if old.get(carry) is not None:
                    rm[carry] = old[carry]
            actions.append({"remove": rm})
        actions.extend(new_adds)
        if rt and new_adds:
            dm_actions, _hwm = _assign_base_row_ids(
                new_adds,
                _row_id_high_water_mark(spark, dest),
                base + 1,
            )
            actions.extend(dm_actions)
        actions.append(
            {
                "commitInfo": {
                    "operation": "OPTIMIZE",
                    "timestamp": None,
                    "operationMetrics": {
                        "numFilesRewritten": len(chosen)
                    },
                }
            }
        )
        conf = meta.get("configuration") or {}
        v = _try_claim_commit(spark, dest, base, actions, conf)
        if v is None:
            continue
        return v, len(chosen)


def _snapshot_meta_nospark(root: str) -> dict:
    """``metaData`` fold WITHOUT a SparkSession — Python DataSource
    planning (delta_tail) runs in a worker process that has no JVM
    session. JSON commits first; pyarrow checkpoint fallback for
    logs whose early commits aged out."""
    meta: dict = {}
    commits = _commit_files(root)
    for v in sorted(commits):
        with open(commits[v]) as f:
            for line in f:
                line = line.strip()
                if not line:
                    continue
                a = json.loads(line)
                if a.get("metaData"):
                    meta.update(a["metaData"])
    if "schemaString" not in meta:
        cp = _checkpoint_for(root, _latest_version(root))
        if cp is not None:
            import pyarrow.parquet as pq

            for fpath in cp[1]:
                pf = pq.ParquetFile(fpath)
                if "metaData" not in pf.schema_arrow.names:
                    continue
                t = pf.read(columns=["metaData"])
                for cell in t.column("metaData").to_pylist():
                    if not cell:
                        continue
                    if isinstance(cell, str):
                        cell = json.loads(cell)
                    meta.update(
                        {k: v for k, v in cell.items() if v is not None}
                    )
    if "schemaString" not in meta:
        raise ValueError(f"no metaData.schemaString under {root}")
    return meta


def _snapshot_schema_mapping(
    root: str,
) -> tuple[dict, list, dict, str]:
    """(column → primitive type name, partitionColumns,
    logical → physical name, mapping mode) from the no-Spark
    metaData fold — the full planning surface delta_tail needs:
    under columnMapping mode=name, data files and partitionValues
    key by physicalName while the declared stream schema stays
    logical."""
    meta = _snapshot_meta_nospark(root)
    mode = _mapping_mode(meta)
    schema = json.loads(meta["schemaString"])
    types, phys = {}, {}
    for f in schema.get("fields", []):
        types[f["name"]] = (
            f["type"] if isinstance(f["type"], str) else "complex"
        )
        phys[f["name"]] = (
            (f.get("metadata") or {}).get(
                "delta.columnMapping.physicalName", f["name"]
            )
            if mode == "name"
            else f["name"]
        )
    return types, list(meta.get("partitionColumns") or []), phys, mode


def _zorder_log_bounds(
    chosen: dict,
    cols: list[str],
    dtypes: dict[str, str],
    phys: dict[str, str],
):
    """Per-file stats of the chosen adds for
    :func:`sources.fold_zorder_bounds`, read from each ``add.stats``
    (keyed by physical name). None for a file the log cannot vouch
    for: a deletion vector (stats still count the dead rows), missing
    stats, and any file when a column is a timestamp
    (log stats are millisecond-truncated, the sort key uses micros)."""
    lossy = any(dtypes.get(c, "").startswith("timestamp") for c in cols)
    for a in chosen.values():
        st = _add_stats(a)
        if lossy or a.get("deletionVector") or not st:
            yield None
            continue
        lo, hi = st.get("minValues") or {}, st.get("maxValues") or {}
        yield {c: (lo.get(phys[c]), hi.get(phys[c])) for c in cols}


def optimize_delta(
    spark: SparkSession,
    dest: str,
    target_file_mb: int = 128,
    zorder_by: list[str] | None = None,
    n_files: int | None = None,
) -> tuple[int, dict]:
    """OPTIMIZE for written Delta tables — the layout-maintenance
    half next to :func:`compact_delta_dvs`' debt purge:

    - **bin-packing** (default): live files under half the target
      size coalesce into ~target-sized files — the small-file
      problem every streaming/DML-heavy table accumulates, and the
      scan-cost killer at 100 TB (file count drives task count and
      footer overhead);
    - **ZORDER BY** (``zorder_by=[cols]``): rewrites ALL live files
      clustered on :func:`sources.zorder_sort_key` of the given
      columns (bounds folded from the chosen files' ``add.stats`` by
      :func:`sources.fold_zorder_bounds` when they provably equal
      the scan, else one min/max agg) —
      every clustered column's per-file [min,max] becomes a tight
      hypercube face, so ``skip_where``-style stats pruning answers
      conjunctions on ANY clustered column, not just the write
      order. Same trade as MTable's optimize_zorder.

    Either way the rewrite is ``dataChange: false`` (invisible to
    CDF and row sets), rewritten files drop their DVs (the scan
    anti-joins dead rows — OPTIMIZE doubles as a debt purge), and
    per-file stats re-emit through the shared staging so skipping
    reflects the new layout immediately. Returns
    ``(version, {"files_removed": r, "files_added": a})``; nothing
    to do → no commit. ``n_files`` overrides the size-derived file
    count (explicit layout control; tests pin skipping with it)."""
    from dataflowex_spark.sources import fold_zorder_bounds, zorder_sort_key

    while True:
        base = _latest_version(dest)
        meta, adds = _snapshot(spark, dest, base)
        mode = _mapping_mode(meta)
        if mode == "id":
            raise DeltaProtocolError(
                "optimize_delta unsupported for columnMapping mode=id"
            )
        rt = _row_tracking(meta)
        target = target_file_mb << 20
        if not zorder_by:
            # clustered table: OPTIMIZE without explicit columns
            # reads the declared delta.clustering domain — the
            # liquid-clustering shape (appends land unclustered,
            # OPTIMIZE restores the layout)
            zorder_by = delta_clustering_columns(dest) or None
        if zorder_by:
            chosen = dict(adds)  # clustering is a full-layout rewrite
        else:
            chosen = {
                rel: a
                for rel, a in adds.items()
                if int(a.get("size") or 0) < target // 2
            }
            if len(chosen) < 2:
                return base, {"files_removed": 0, "files_added": 0}
        if not chosen:
            return base, {"files_removed": 0, "files_added": 0}
        pcols = meta.get("partitionColumns") or []
        schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
        dtypes = {f.name: f.dataType.simpleString() for f in schema.fields}
        prim = (
            T.LongType, T.IntegerType, T.ShortType, T.ByteType,
            T.DoubleType, T.FloatType, T.StringType, T.DateType,
        )
        scols = [
            f.name
            for f in schema.fields
            if isinstance(f.dataType, prim) and f.name not in pcols
        ]
        scan, _old = _dml_scan(
            spark,
            dest,
            meta,
            chosen,
            extra_cols=list(rt) if rt else None,
        )
        if rt:
            # layout maintenance is invisible to readers: surviving
            # rows keep BOTH row id and row commit version, so both
            # materialize into the rewritten files (same contract
            # as compact_delta_dvs)
            rid_col, rcv_col = rt
            rows = (
                scan.join(
                    F.broadcast(
                        _row_tracking_base_map(spark, dest, chosen)
                    ),
                    "__fp",
                )
                .withColumn(
                    rid_col,
                    F.coalesce(
                        F.col(rid_col), F.col("__base") + F.col("__ri")
                    ),
                )
                .withColumn(
                    rcv_col,
                    F.coalesce(F.col(rcv_col), F.col("__dcv")),
                )
                .drop("__fp", "__ri", "__base", "__dcv")
            )
        else:
            rows = scan.drop("__fp", "__ri")
        total = sum(int(a.get("size") or 0) for a in chosen.values())
        if n_files is None:
            n_files = max(1, -(-total // target))
        phys_by_logical = {
            f.name: (_physical_name(f) if mode == "name" else f.name)
            for f in schema.fields
        }
        if zorder_by:
            bounds = fold_zorder_bounds(
                spark,
                zorder_by,
                dtypes,
                _zorder_log_bounds(
                    chosen, zorder_by, dtypes, phys_by_logical
                ),
            )
            zk = zorder_sort_key(rows, zorder_by, dtypes, bounds)
            rows = rows.repartitionByRange(
                n_files, zk
            ).sortWithinPartitions(zk)
        else:
            rows = rows.coalesce(n_files)
        new_adds = _stage_data_files(
            spark,
            dest,
            _physical_frame(rows, schema, mode, pcols),
            [phys_by_logical[c] for c in pcols],
            [phys_by_logical[c] for c in scols],
        )
        for na in new_adds:
            na["add"]["dataChange"] = False
        actions: list[dict] = []
        for rel in sorted(chosen):
            old = chosen[rel]
            rm = {"path": rel, "dataChange": False}
            for carry in ("partitionValues", "size", "deletionVector"):
                if old.get(carry) is not None:
                    rm[carry] = old[carry]
            actions.append({"remove": rm})
        actions.extend(new_adds)
        if rt and new_adds:
            dm_actions, _hwm = _assign_base_row_ids(
                new_adds,
                _row_id_high_water_mark(spark, dest),
                base + 1,
            )
            actions.extend(dm_actions)
        actions.append(
            {
                "commitInfo": {
                    "operation": "OPTIMIZE",
                    "timestamp": None,
                    "operationMetrics": {
                        "numFilesRemoved": len(chosen),
                        "numFilesAdded": len(new_adds),
                    },
                    "zOrderBy": list(zorder_by or []),
                }
            }
        )
        conf = meta.get("configuration") or {}
        v = _try_claim_commit(spark, dest, base, actions, conf)
        if v is None:
            continue
        return v, {
            "files_removed": len(chosen),
            "files_added": len(new_adds),
        }


def restore_delta(
    spark: SparkSession, dest: str, version: int
) -> int:
    """RESTORE TABLE ... TO VERSION AS OF — rollback as a NEW commit
    (history is append-only; the bad commits stay inspectable):
    the live set diffs against the target version's, files only in
    the present get ``remove`` actions, files only in the target get
    ``add`` actions carrying their original stats/partitions/DVs —
    so data skipping and DV deadness restore exactly, and the data
    files themselves never move (they were never deleted; this is
    why vacuum retention is the restore horizon). CDF consumers see
    the restore as the synthesized delete/insert diff, which is
    exactly what happened logically. Returns the new version."""
    while True:
        base = _latest_version(dest)
        meta, cur = _snapshot(spark, dest, base)
        _meta_t, target = _snapshot(spark, dest, version)
        if version == base:
            return base
        if _row_tracking(meta) and any(
            a.get("baseRowId") is None for a in target.values()
        ):
            raise DeltaProtocolError(
                "restore_delta target version predates row-tracking "
                "enablement: re-adding files without baseRowId would "
                "leave a tracked table with undefined row ids "
                "(restore to a post-enablement version instead)"
            )
        actions: list[dict] = []
        for rel in sorted(set(cur) - set(target)):
            rm = {"path": rel, "dataChange": True}
            for carry in ("partitionValues", "size", "deletionVector"):
                if cur[rel].get(carry) is not None:
                    rm[carry] = cur[rel][carry]
            actions.append({"remove": rm})
        for rel in sorted(set(target) - set(cur)):
            add = dict(target[rel])
            add["dataChange"] = True
            actions.append({"add": add})
        for rel in sorted(set(target) & set(cur)):
            # same path, different state (e.g. a DV landed since the
            # target): re-add with the TARGET's descriptor
            if cur[rel] != target[rel]:
                actions.append(
                    {"remove": {"path": rel, "dataChange": True}}
                )
                add = dict(target[rel])
                add["dataChange"] = True
                actions.append({"add": add})
        if not actions:
            return base  # states identical: nothing to restore
        actions.append(
            {
                "commitInfo": {
                    "operation": "RESTORE",
                    "timestamp": None,
                    "operationParameters": {"version": version},
                }
            }
        )
        conf = meta.get("configuration") or {}
        v = _try_claim_commit(spark, dest, base, actions, conf)
        if v is None:
            continue
        return v


def convert_to_delta(
    spark: SparkSession,
    path: str,
    partition_schema: dict[str, str] | None = None,
    stats_cols: list[str] | None = None,
) -> int:
    """IN-PLACE ``CONVERT TO DELTA``: a plain parquet directory
    (optionally hive-partitioned) becomes a Delta table WITHOUT
    moving or rewriting a byte — commit 0 lists every existing file
    as an add with its partitionValues decoded from the hive dirs
    (``partition_schema``: column → Spark type string, required for
    partitioned layouts exactly like delta-spark's ``CONVERT TO
    DELTA ... PARTITIONED BY``). Per-file min/max stats for
    ``stats_cols`` (default: all top-level primitives) come from
    :func:`footer_stats.file_stats`, so the converted table gets
    data skipping immediately. Refuses an existing _delta_log.

    The conversion scan reads footers + stats only; data files stay
    where they are, referenced by their (URI-encoded) relative
    paths. Returns version 0."""
    import uuid as _uuid

    log = _log_dir(path)
    if os.path.isdir(log) and _latest_version(path) >= 0:
        raise ValueError(f"already a Delta table: {path}")
    pschema = dict(partition_schema or {})
    pcols = list(pschema)
    files = []
    for dp, _dn, fns in os.walk(path):
        if "_delta_log" in dp:
            continue
        for fn in sorted(fns):
            if fn.endswith(".parquet") and not fn.startswith("."):
                files.append(os.path.join(dp, fn))
    if not files:
        raise FileNotFoundError(f"no parquet files under {path}")
    sdf = spark.read
    if pschema:
        # hive layout: let Spark derive partition columns, then we
        # re-derive canonical string values per file from the path
        sdf = sdf.option("basePath", path)
    df = sdf.parquet(*files)
    for c in pcols:
        if c not in df.columns:
            raise ValueError(
                f"partition column {c!r} not derivable from layout"
            )
    prim = (
        T.LongType, T.IntegerType, T.ShortType, T.ByteType,
        T.DoubleType, T.FloatType, T.StringType, T.DateType,
    )
    scols = (
        stats_cols
        if stats_cols is not None
        else [
            f.name
            for f in df.schema.fields
            if isinstance(f.dataType, prim) and f.name not in pcols
        ]
    )
    # in-place convert registers FOREIGN files — their footers carry
    # the same stats a re-scan would compute; the grouped scan of
    # ``df`` is the fallback. The explicit list keeps the registered
    # file set byte-identical to the walk above (incl.
    # underscore-prefixed names).
    stats_rows = file_stats(spark, path, scols, paths=files, scan=df)

    def jsonable(v):
        import datetime

        if isinstance(v, (datetime.date, datetime.datetime)):
            return v.isoformat()
        return v

    adds = []
    for r in stats_rows:
        src = r["path"]
        rel = os.path.relpath(src, path)
        pv = {
            k: v
            for k, v in hive_values(os.path.dirname(rel)).items()
            if k in pschema
        }
        missing = [c for c in pcols if c not in pv]
        if missing:
            raise ValueError(
                f"file {src} lacks partition dirs {missing}"
            )
        adds.append(
            {
                "add": {
                    "path": _rel_uri(rel.replace(os.sep, "/")),
                    "partitionValues": pv,
                    "size": os.path.getsize(src),
                    "dataChange": True,
                    "stats": json.dumps(
                        {
                            "numRecords": r["__rows"],
                            "minValues": {
                                c: jsonable(r[f"__mn_{c}"])
                                for c in scols
                                if r[f"__mn_{c}"] is not None
                            },
                            "maxValues": {
                                c: jsonable(r[f"__mx_{c}"])
                                for c in scols
                                if r[f"__mx_{c}"] is not None
                            },
                        }
                    ),
                }
            }
        )
    # table schema: data columns + typed partition columns
    fields = [
        f for f in df.schema.fields if f.name not in pcols
    ] + [
        T.StructField(
            c, T._parse_datatype_string(pschema[c]), True
        )
        for c in pcols
    ]
    actions = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {
            "metaData": {
                "id": f"convert-{_uuid.uuid4().hex[:12]}",
                "schemaString": json.dumps(
                    T.StructType(fields).jsonValue()
                ),
                "partitionColumns": pcols,
                "format": {"provider": "parquet"},
                "configuration": {},
            }
        },
    ] + sorted(adds, key=lambda a: a["add"]["path"]) + [
        {"commitInfo": {"operation": "CONVERT", "timestamp": None}}
    ]
    os.makedirs(log, exist_ok=True)
    if _try_claim_commit(spark, path, -1, actions, {}) is None:
        raise ValueError(
            f"already a Delta table: {path} (converted concurrently)"
        )
    return 0


def read_delta_meta(
    spark: SparkSession, root: str, table: str
) -> DataFrame:
    """Delta METADATA TABLES — the inspection surface delta-spark
    exposes as DESCRIBE DETAIL / DESCRIBE HISTORY / the files view
    (Iceberg twin: :func:`iceberg_reader.read_iceberg_meta`):

    - ``files``: one row per LIVE add of the current snapshot
      (decoded path, partitionValues as JSON, size, numRecords and
      DV'd-dead count from stats/DV descriptors — so
      ``record_count - dv_dead_count`` is the LOGICAL live rows);
    - ``history``: commitInfo per version (version, operation,
      timestamp_ms);
    - ``detail``: one row — format, id, partition columns, live
      file count/bytes, protocol versions, configuration as JSON.

    All metadata-bounded driver builds: the log fold the reader
    already does, no data-file opens."""
    import json as _json

    meta, adds = _snapshot(spark, root, None)
    if table == "files":
        from dataflowex_spark.sources.roaring import (
            decode_dv_descriptor,
        )

        rows = []
        for rel, a in sorted(adds.items()):
            nrec = _add_stats(a).get("numRecords")
            dv = a.get("deletionVector")
            dead = 0
            if dv:
                if isinstance(dv, str):
                    dv = _json.loads(dv)
                dead = len(decode_dv_descriptor(root, dict(dv)))
            rows.append(
                (
                    rel,
                    _json.dumps(
                        a.get("partitionValues") or {},
                        sort_keys=True,
                    ),
                    int(a.get("size", 0)),
                    int(nrec) if nrec is not None else None,
                    int(dead),
                )
            )
        return spark.createDataFrame(
            rows or spark.sparkContext.emptyRDD(),
            "path string, partition_values string, size_bytes long, "
            "record_count long, dv_dead_count long",
        )
    if table == "history":
        rows = [
            (
                int(h["version"]),
                h.get("operation"),
                (
                    int(h["timestamp"])
                    if h.get("timestamp") is not None
                    else None
                ),
            )
            for h in delta_history(root)
        ]
        return spark.createDataFrame(
            rows or spark.sparkContext.emptyRDD(),
            "version long, operation string, timestamp_ms long",
        )
    if table == "detail":
        proto = _latest_protocol(root)
        row = (
            "delta",
            meta.get("id"),
            _json.dumps(meta.get("partitionColumns") or []),
            len(adds),
            int(sum(int(a.get("size", 0)) for a in adds.values())),
            int(proto.get("minReaderVersion", 1)),
            int(proto.get("minWriterVersion", 1)),
            _json.dumps(meta.get("configuration") or {}, sort_keys=True),
        )
        return spark.createDataFrame(
            [row],
            "format string, id string, partition_columns string, "
            "num_files long, size_bytes long, min_reader_version int, "
            "min_writer_version int, configuration string",
        )
    raise ValueError(
        f"unknown metadata table {table!r} (files, history, detail)"
    )
