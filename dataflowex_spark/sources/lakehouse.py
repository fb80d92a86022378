"""Format-agnostic lakehouse entry points: detect-and-read any table
this engine writes (Delta, Iceberg, MTable, plain parquet), and a
tiny named catalog so pipelines address tables by NAME — the "switch
a reader without touching the query" veneer the per-format readers
compose under.

Detection is by the formats' own on-disk markers (cheap, no file
reads beyond a listdir):

- ``_delta_log/``  → Delta (:func:`delta_reader.read_delta`)
- ``metadata/vN.metadata.json`` → Iceberg
  (:func:`iceberg_reader.read_iceberg`)
- ``_v/`` + ``_CURRENT`` → MTable (:class:`mtable.MTable`)
- otherwise → plain parquet directory (native scan)

Time-travel kwargs pass through to the matching reader (``version=``
for Delta/MTable, ``snapshot_id=``/``timestamp_ms=``/``ref=`` for
Iceberg); kwargs a format doesn't support refuse loudly rather than
silently ignoring.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession


def detect_table_format(path: str) -> str:
    """'delta' | 'iceberg' | 'mtable' | 'parquet' by on-disk marker."""
    if os.path.isdir(os.path.join(path, "_delta_log")):
        return "delta"
    md = os.path.join(path, "metadata")
    if os.path.isdir(md) and any(
        fn.startswith("v") and fn.endswith(".metadata.json")
        for fn in os.listdir(md)
    ):
        return "iceberg"
    if os.path.isdir(os.path.join(path, "_v")) and os.path.exists(
        os.path.join(path, "_CURRENT")
    ):
        return "mtable"
    return "parquet"


def read_table(spark: SparkSession, path: str, **kwargs) -> DataFrame:
    """Read ``path`` through whichever reader its format needs."""
    fmt = detect_table_format(path)
    if fmt == "delta":
        from dataflowex_spark.sources.delta_reader import read_delta

        return read_delta(spark, path, **kwargs)
    if fmt == "iceberg":
        from dataflowex_spark.sources.iceberg_reader import (
            read_iceberg,
        )

        return read_iceberg(spark, path, **kwargs)
    if fmt == "mtable":
        from dataflowex_spark.sources.mtable import MTable

        t = MTable(spark, path)
        version = kwargs.pop("version", None)
        if kwargs:
            raise ValueError(
                f"MTable read does not take {sorted(kwargs)}"
            )
        return t.read(version=version)
    if kwargs:
        raise ValueError(
            f"plain parquet read does not take {sorted(kwargs)}"
        )
    return spark.read.parquet(path)


class LakehouseCatalog:
    """Name → (path, detected format). ``table(name)`` reads through
    the right reader; ``sql(query)`` registers every table as a temp
    view (``<prefix><name>``) and runs ONE Spark SQL statement over
    any mix of formats — Catalyst sees ordinary scans after each
    format's metadata resolution, so cross-format joins plan like
    native reads."""

    def __init__(self, spark: SparkSession, view_prefix: str = ""):
        self.spark = spark
        self.view_prefix = view_prefix
        self._tables: dict[str, str] = {}

    def register(self, name: str, path: str) -> str:
        """Register and return the detected format."""
        fmt = detect_table_format(path)
        self._tables[name] = path
        return fmt

    def tables(self) -> dict[str, str]:
        return dict(self._tables)

    def table(self, name: str, **kwargs) -> DataFrame:
        if name not in self._tables:
            raise KeyError(
                f"table {name!r} not registered "
                f"(have: {sorted(self._tables)})"
            )
        return read_table(self.spark, self._tables[name], **kwargs)

    def sql(self, query: str) -> DataFrame:
        for name in self._tables:
            self.table(name).createOrReplaceTempView(
                self.view_prefix + name
            )
        return self.spark.sql(query)


def sync_delta_uniform(spark: SparkSession, root: str) -> int:
    """UNIFORM (Delta's universalFormat shape): maintain an ICEBERG
    metadata tree over a live DELTA table's CURRENT data files —
    same parquet bytes, two catalogs' worth of readers. Each sync
    publishes one Iceberg snapshot whose single manifest lists the
    Delta snapshot's live files IN PLACE (no links, no copies; the
    trees coexist because Delta owns ``_delta_log/`` and Iceberg
    owns ``metadata/``), carrying record counts and min/max bounds
    straight from ``add.stats`` so the Iceberg side gets data
    skipping without opening a footer. Identity-partitioned Delta
    tables map to an identity partition spec with typed tuples.
    Returns the Iceberg snapshot id; idempotent per Delta version
    (re-syncing an already-published version is a no-op).

    Refusals — misreading is worse than refusing: deletion-vector
    debt (Iceberg would resurrect DV-dead rows; run
    ``compact_delta_dvs`` first, exactly real UniForm's purge
    precondition), columnMapping tables (physical-name binding),
    and a ``metadata/`` dir this sync does not own. Schema
    evolution re-uses prior field ids BY NAME and allocates fresh
    ids above every id ever used for new columns (Iceberg's
    id-identity contract).

    Scale shape: O(live files) metadata per sync, zero data bytes;
    at 100 TB the sync cost is one manifest write, not a rewrite —
    the whole point of sharing the data files."""
    import json

    from dataflowex_spark.sources import delta_reader as dr
    from dataflowex_spark.sources import iceberg_reader as ir
    from dataflowex_spark.sources.avro_io import write_container

    # pinned, so uniform.delta-version names the version mirrored
    delta_v = dr._latest_version(root)
    meta, adds = dr._snapshot(spark, root, delta_v)
    if dr._mapping_mode(meta) != "none":
        raise ValueError(
            "sync_delta_uniform: columnMapping tables unsupported "
            "(Iceberg would bind physical names)"
        )
    dv_files = [
        p for p, a in adds.items() if a.get("deletionVector")
    ]
    if dv_files:
        raise ValueError(
            f"sync_delta_uniform: {len(dv_files)} file(s) carry "
            "deletion vectors — the Iceberg view would resurrect "
            "their dead rows; compact_delta_dvs first (UniForm's "
            "purge precondition)"
        )

    from pyspark.sql import types as T

    schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
    pcols = list(meta.get("partitionColumns") or [])
    md = os.path.join(root, "metadata")
    exists_ice = os.path.isdir(md) and ir._latest_meta_version(md) > 0

    prior_ids: dict[str, int] = {}
    max_used = 0
    imeta = None
    if exists_ice:
        imeta = ir.load_table_metadata(root)
        props = imeta.get("properties") or {}
        if props.get("uniform.source-format") != "delta":
            raise ValueError(
                "sync_delta_uniform: metadata/ exists but was not "
                "written by this sync (refusing to clobber a real "
                "Iceberg table)"
            )
        if int(props.get("uniform.delta-version", -1)) >= delta_v:
            return imeta["current-snapshot-id"]  # idempotent
        for sch in imeta.get("schemas", []):
            for f in sch.get("fields", []):
                prior_ids.setdefault(f["name"], f["id"])
                max_used = max(max_used, f["id"])

    counter = {"n": max_used}

    def alloc() -> int:
        counter["n"] += 1
        return counter["n"]

    top = []
    for f in schema.fields:
        fid = prior_ids.get(f.name) or alloc()
        top.append(
            {
                "id": fid,
                "name": f.name,
                "required": not f.nullable,
                "type": ir._iceberg_type(f.dataType, alloc),
            }
        )
    by_name = {f["name"]: f for f in top}
    spec_fields = []
    for i, c in enumerate(pcols):
        ice_t = by_name[c]["type"]
        if ice_t not in ir._IDENTITY_PART_TYPES:
            raise ir.IcebergProtocolError(
                f"sync_delta_uniform: identity partition type "
                f"{ice_t!r} for {c!r} unsupported"
            )
        spec_fields.append(
            {
                "name": c,
                "transform": "identity",
                "source-id": by_name[c]["id"],
                "field-id": 1000 + i,
                "_avro": ir._part_avro_type("identity", ice_t),
            }
        )
    man_schema = (
        ir._manifest_schema_with_partition(spec_fields)
        if spec_fields
        else ir.MANIFEST_SCHEMA
    )

    new_sid = 1
    new_seq = 1
    if imeta is not None:
        snaps0 = imeta.get("snapshots", [])
        new_sid = (snaps0[-1]["snapshot-id"] + 1) if snaps0 else 1
        new_seq = int(imeta.get("last-sequence-number", 0)) + 1

    boundable = {"int", "long", "float", "double", "string"}
    entries = []
    for rel in sorted(adds):
        a = adds[rel]
        st = dr._add_stats(a)
        lo, hi = [], []
        for c, mn in (st.get("minValues") or {}).items():
            fld = by_name.get(c)
            mx = (st.get("maxValues") or {}).get(c)
            if (
                fld is None
                or mx is None
                or mn is None
                or not isinstance(fld["type"], str)
                or fld["type"] not in boundable
            ):
                continue
            lo.append(
                {
                    "key": fld["id"],
                    "value": ir.bound_encode(mn, fld["type"]),
                }
            )
            hi.append(
                {
                    "key": fld["id"],
                    "value": ir.bound_encode(mx, fld["type"]),
                }
            )
        ptuple = None
        if spec_fields:
            pv = a.get("partitionValues") or {}
            ptuple = {
                pf["name"]: ir._decode_part_value(
                    pv.get(pf["name"]),
                    "identity",
                    by_name[pf["name"]]["type"],
                )
                for pf in spec_fields
            }
        entries.append(
            {
                "status": 1,
                "snapshot_id": new_sid,
                "sequence_number": new_seq,
                "data_file": {
                    "content": 0,
                    "file_path": os.path.abspath(
                        dr._data_path(root, rel)
                    ),
                    "file_format": "PARQUET",
                    "record_count": int(st.get("numRecords") or 0),
                    "file_size_in_bytes": int(a.get("size") or 0),
                    "equality_ids": None,
                    **(
                        {"partition": ptuple}
                        if ptuple is not None
                        else {}
                    ),
                    "lower_bounds": lo or None,
                    "upper_bounds": hi or None,
                },
            }
        )

    os.makedirs(md, exist_ok=True)
    # unique per attempt: a sync that loses its claim must not
    # overwrite the files the winner's metadata names
    token = uuid.uuid4().hex[:8]
    mpath = os.path.join(
        md, f"uniform-manifest-{new_sid:05d}-{token}.avro"
    )
    write_container(mpath, man_schema, entries)
    mlist = os.path.join(md, f"uniform-snap-{new_sid}-{token}.avro")
    write_container(
        mlist,
        ir.MANIFEST_LIST_SCHEMA,
        [
            {
                "manifest_path": os.path.abspath(mpath),
                "manifest_length": os.path.getsize(mpath),
                "partition_spec_id": 0,
                "content": 0,
                "sequence_number": new_seq,
                "added_snapshot_id": new_sid,
            }
        ],
    )
    snap = {
        "snapshot-id": new_sid,
        "timestamp-ms": delta_v * 1000,
        "sequence-number": new_seq,
        "manifest-list": os.path.abspath(mlist),
        **(
            {"parent-snapshot-id": new_sid - 1}
            if new_sid > 1
            else {}
        ),
        "summary": {
            "operation": "append",
            "uniform-delta-version": str(delta_v),
        },
    }
    schema_entry = {"schema-id": 0, "type": "struct", "fields": top}
    if imeta is None:
        imeta = {
            "format-version": 2,
            "table-uuid": f"uniform-delta-{delta_v:028d}"[-36:],
            "location": os.path.abspath(root),
            "current-schema-id": 0,
            "schemas": [schema_entry],
            **(
                {
                    "partition-specs": [
                        {
                            "spec-id": 0,
                            "fields": [
                                {
                                    k: v
                                    for k, v in pf.items()
                                    if k != "_avro"
                                }
                                for pf in spec_fields
                            ],
                        }
                    ],
                    "default-spec-id": 0,
                }
                if spec_fields
                else {}
            ),
            "snapshots": [],
            "properties": {"uniform.source-format": "delta"},
            "_loaded-version": 0,  # a creation claims v1
        }
    elif ir._current_schema_fields(imeta) != top:
        # the Delta schema evolved: it becomes the current schema
        sid2 = (
            max(
                s.get("schema-id", 0)
                for s in imeta.get("schemas", [])
            )
            + 1
        )
        imeta["schemas"] = list(imeta.get("schemas", [])) + [
            {"schema-id": sid2, "type": "struct", "fields": top}
        ]
        imeta["current-schema-id"] = sid2
    imeta["snapshots"] = list(imeta.get("snapshots", [])) + [snap]
    imeta["current-snapshot-id"] = new_sid
    imeta["last-sequence-number"] = new_seq
    props = dict(imeta.get("properties") or {})
    props["uniform.delta-version"] = str(delta_v)
    imeta["properties"] = props
    if not ir._try_commit_metadata(root, imeta):
        # a racing sync won; replay against its state
        return sync_delta_uniform(spark, root)
    return new_sid
