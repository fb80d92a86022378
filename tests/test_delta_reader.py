"""Delta log reader: snapshot fold, time travel, partitions,
checkpoints, protocol gates — all against hand-built conformance
tables (the codec-module discipline)."""

import json
import os
import time

import pytest
from pyspark.sql import functions as F

from dataflowex_spark.sources.delta_reader import (
    DeltaProtocolError,
    delta_history,
    read_delta,
    stage_parquet_file,
    write_conformance_log,
)

PROTO = {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}


def _meta(schema_json, part_cols=None):
    return {
        "metaData": {
            "id": "t",
            "schemaString": schema_json,
            "partitionColumns": part_cols or [],
            "format": {"provider": "parquet"},
        }
    }


def _simple_table(spark, root):
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    df2 = spark.createDataFrame([(3, "c")], "k long, v string")
    df3 = spark.createDataFrame([(4, "d")], "k long, v string")
    stage_parquet_file(df1, root, "f1.parquet")
    stage_parquet_file(df2, root, "f2.parquet")
    stage_parquet_file(df3, root, "f3.parquet")
    schema_json = json.dumps(df1.schema.jsonValue())
    commits = [
        [PROTO, _meta(schema_json),
         {"add": {"path": "f1.parquet", "partitionValues": {},
                  "dataChange": True}},
         {"add": {"path": "f2.parquet", "partitionValues": {},
                  "dataChange": True}},
         {"commitInfo": {"operation": "WRITE"}}],
        [{"remove": {"path": "f2.parquet", "dataChange": True}},
         {"add": {"path": "f3.parquet", "partitionValues": {},
                  "dataChange": True}},
         {"commitInfo": {"operation": "MERGE"}}],
    ]
    return commits


def rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_snapshot_and_time_travel(spark, tmp_path):
    root = str(tmp_path)
    write_conformance_log(root, _simple_table(spark, root))
    assert rows(read_delta(spark, root)) == [(1, "a"), (2, "b"), (4, "d")]
    assert rows(read_delta(spark, root, version=0)) == [
        (1, "a"), (2, "b"), (3, "c")
    ]
    hist = delta_history(root)
    assert [h["version"] for h in hist] == [0, 1]
    assert hist[1]["operation"] == "MERGE"
    with pytest.raises(ValueError, match="> latest"):
        read_delta(spark, root, version=7)


def test_partition_values_reattach_typed(spark, tmp_path):
    root = str(tmp_path)
    full = spark.createDataFrame(
        [(1, 10, "x")], "k long, p int, s string"
    )
    phys = full.select("k")
    stage_parquet_file(phys, root, "a.parquet")
    stage_parquet_file(
        spark.createDataFrame([(2,)], "k long"), root, "b.parquet"
    )
    schema_json = json.dumps(full.schema.jsonValue())
    write_conformance_log(
        root,
        [[PROTO, _meta(schema_json, ["p", "s"]),
          {"add": {"path": "a.parquet",
                   "partitionValues": {"p": "10", "s": "x"},
                   "dataChange": True}},
          {"add": {"path": "b.parquet",
                   "partitionValues": {"p": "20", "s": None},
                   "dataChange": True}}]],
    )
    got = read_delta(spark, root)
    assert dict(got.dtypes)["p"] == "int"  # typed, not string
    assert rows(got) == [(1, 10, "x"), (2, 20, None)]


def test_checkpoint_covers_retention_gap(spark, tmp_path):
    root = str(tmp_path)
    commits = _simple_table(spark, root)
    write_conformance_log(root, commits, checkpoint_at=1, spark=spark)
    # simulate log retention: drop the JSON commits the checkpoint covers
    os.remove(os.path.join(root, "_delta_log", f"{0:020d}.json"))
    os.remove(os.path.join(root, "_delta_log", f"{1:020d}.json"))
    assert rows(read_delta(spark, root)) == [(1, "a"), (2, "b"), (4, "d")]
    # time travel BEFORE the checkpoint is now honestly impossible
    with pytest.raises(FileNotFoundError, match="retention"):
        read_delta(spark, root, version=0)


def test_protocol_gates(spark, tmp_path):
    df = spark.createDataFrame([(1,)], "k long")
    schema_json = json.dumps(df.schema.jsonValue())

    def table(proto, add_extra=None):
        import tempfile

        root = tempfile.mkdtemp(dir=str(tmp_path))
        stage_parquet_file(df, root, "f.parquet")
        add = {"path": "f.parquet", "partitionValues": {},
               "dataChange": True}
        if add_extra:
            add.update(add_extra)
        write_conformance_log(
            root,
            [[{"protocol": proto}, _meta(schema_json), {"add": add}]],
        )
        return root

    # v3 with an UNKNOWN feature refused, with the feature named
    # (v2Checkpoint graduated to supported in r10 — use a name no
    # reader version defines)
    with pytest.raises(DeltaProtocolError, match="rowTrackingFuture"):
        read_delta(
            spark,
            table({"minReaderVersion": 3,
                   "readerFeatures": ["rowTrackingFuture"]}),
        )
    # v3 with supported features reads fine (DV feature flag alone
    # doesn't change a table with no DV-carrying adds)
    got = read_delta(
        spark,
        table({"minReaderVersion": 3,
               "readerFeatures": ["timestampNtz", "deletionVectors"]}),
    )
    assert rows(got) == [(1,)]
    # minReaderVersion 4 (future) refused
    with pytest.raises(DeltaProtocolError, match="minReaderVersion"):
        read_delta(spark, table({"minReaderVersion": 4}))


def test_column_mapping_name_mode(spark, tmp_path):
    """mode=name: data files + partitionValues carry PHYSICAL names
    (delta.columnMapping.physicalName); logical names restore on
    read, nested struct fields included (positional struct cast)."""
    from pyspark.sql import types as T

    root = str(tmp_path)
    # physical layout: col-k long, col-s struct<col-a:int>, part col-p
    phys = spark.createDataFrame(
        [(1, (10,)), (2, (20,))],
        T.StructType([
            T.StructField("col-k", T.LongType()),
            T.StructField("col-s", T.StructType(
                [T.StructField("col-a", T.IntegerType())])),
        ]),
    )
    stage_parquet_file(phys, root, "f.parquet")
    logical = T.StructType([
        T.StructField("k", T.LongType(), True,
                      {"delta.columnMapping.id": 1,
                       "delta.columnMapping.physicalName": "col-k"}),
        T.StructField(
            "s",
            T.StructType([T.StructField(
                "a", T.IntegerType(), True,
                {"delta.columnMapping.id": 3,
                 "delta.columnMapping.physicalName": "col-a"})]),
            True,
            {"delta.columnMapping.id": 2,
             "delta.columnMapping.physicalName": "col-s"},
        ),
        T.StructField("p", T.IntegerType(), True,
                      {"delta.columnMapping.id": 4,
                       "delta.columnMapping.physicalName": "col-p"}),
    ])
    meta = _meta(json.dumps(logical.jsonValue()), ["p"])
    meta["metaData"]["configuration"] = {
        "delta.columnMapping.mode": "name"}
    write_conformance_log(
        root,
        [[{"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
          meta,
          {"add": {"path": "f.parquet",
                   "partitionValues": {"col-p": "7"},  # PHYSICAL key
                   "dataChange": True}}]],
    )
    got = read_delta(spark, root)
    assert got.columns == ["k", "s", "p"]
    assert got.schema["s"].dataType.fieldNames() == ["a"]
    assert rows(got) == [(1, (10,), 7), (2, (20,), 7)]
    # a field missing delta.columnMapping.id refuses under mode=id
    meta_id = json.loads(json.dumps(meta))
    meta_id["metaData"]["configuration"][
        "delta.columnMapping.mode"] = "id"
    bad_schema = json.loads(meta_id["metaData"]["schemaString"])
    del bad_schema["fields"][0]["metadata"]["delta.columnMapping.id"]
    meta_id["metaData"]["schemaString"] = json.dumps(bad_schema)
    root2 = str(tmp_path / "id_mode")
    os.makedirs(root2)
    stage_parquet_file(phys, root2, "f.parquet")
    write_conformance_log(
        root2,
        [[{"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
          meta_id,
          {"add": {"path": "f.parquet", "partitionValues": {"col-p": "7"},
                   "dataChange": True}}]],
    )
    with pytest.raises(DeltaProtocolError, match="columnMapping.id"):
        read_delta(spark, root2).collect()


def test_column_mapping_id_mode(spark, tmp_path):
    """mode=id: parquet columns match by FIELD ID (names are
    presentation) via Spark's native field-id matcher — a file whose
    physical names share nothing with the logical schema still reads
    correctly because its footer carries the ids."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql import types as T

    root = str(tmp_path)
    fields = [
        pa.field("uuid-aaaa", pa.int64(),
                 metadata={b"PARQUET:field_id": b"1"}),
        pa.field("uuid-bbbb", pa.string(),
                 metadata={b"PARQUET:field_id": b"2"}),
    ]
    t = pa.table(
        {"uuid-aaaa": pa.array([1, 2], pa.int64()),
         "uuid-bbbb": pa.array(["x", "y"])}
    ).cast(pa.schema(fields))
    pq.write_table(t, os.path.join(root, "f.parquet"))
    logical = T.StructType([
        T.StructField("k", T.LongType(), True,
                      {"delta.columnMapping.id": 1,
                       "delta.columnMapping.physicalName": "uuid-aaaa"}),
        T.StructField("v", T.StringType(), True,
                      {"delta.columnMapping.id": 2,
                       "delta.columnMapping.physicalName": "uuid-bbbb"}),
    ])
    meta = _meta(json.dumps(logical.jsonValue()))
    meta["metaData"]["configuration"] = {
        "delta.columnMapping.mode": "id"}
    write_conformance_log(
        root,
        [[{"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
          meta,
          {"add": {"path": "f.parquet", "partitionValues": {},
                   "dataChange": True}}]],
    )
    got = read_delta(spark, root)
    assert got.columns == ["k", "v"]
    assert rows(got) == [(1, "x"), (2, "y")]


def test_deletion_vectors_applied(spark, tmp_path):
    """DV-carrying adds drop exactly the bitmap's row positions —
    file-backed (storageType p), relative-UUID (u), and inline (i)
    descriptors, decoded through the roaring/z85 codecs and CRC-
    verified."""
    from dataflowex_spark.sources.roaring import (
        inline_dv_descriptor,
        write_dv_file,
    )

    root = str(tmp_path)
    df1 = spark.createDataFrame(
        [(i, f"v{i}") for i in range(10)], "k long, v string")
    df2 = spark.createDataFrame(
        [(i, f"v{i}") for i in range(10, 16)], "k long, v string")
    stage_parquet_file(df1.orderBy("k").coalesce(1), root, "f1.parquet")
    stage_parquet_file(df2.orderBy("k").coalesce(1), root, "f2.parquet")
    (d1,) = write_dv_file(os.path.join(root, "dv1.bin"), [[0, 3, 7]])
    d2 = inline_dv_descriptor([2, 5])
    schema_json = json.dumps(df1.schema.jsonValue())
    write_conformance_log(
        root,
        [[{"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                        "readerFeatures": ["deletionVectors"],
                        "writerFeatures": ["deletionVectors"]}},
          _meta(schema_json),
          {"add": {"path": "f1.parquet", "partitionValues": {},
                   "dataChange": True, "deletionVector": d1}},
          {"add": {"path": "f2.parquet", "partitionValues": {},
                   "dataChange": True, "deletionVector": d2}}]],
    )
    got = rows(read_delta(spark, root))
    # f1 rows 0/3/7 (k=0,3,7) and f2 rows 2/5 (k=12,15) are dead
    want = sorted(
        (k, f"v{k}") for k in range(16) if k not in (0, 3, 7, 12, 15)
    )
    assert got == want


def test_multipart_checkpoint(spark, tmp_path):
    """N.checkpoint.<i>.<n>.parquet part sets resolve whole; an
    incomplete set refuses instead of silently dropping files."""
    root = str(tmp_path)
    commits = _simple_table(spark, root)
    write_conformance_log(
        root, commits, checkpoint_at=1, spark=spark, checkpoint_parts=3
    )
    os.remove(os.path.join(root, "_delta_log", f"{0:020d}.json"))
    os.remove(os.path.join(root, "_delta_log", f"{1:020d}.json"))
    assert rows(read_delta(spark, root)) == [(1, "a"), (2, "b"), (4, "d")]
    # drop one part: refusal, not a silent partial snapshot
    victim = [
        fn for fn in os.listdir(os.path.join(root, "_delta_log"))
        if ".checkpoint.0000000002." in fn
    ][0]
    os.remove(os.path.join(root, "_delta_log", victim))
    with pytest.raises(DeltaProtocolError, match="incomplete"):
        read_delta(spark, root)


def test_column_projection_pushes_to_scan(spark, tmp_path):
    """Projection through the reader reaches the parquet scan (the
    union of per-partition scans stays prunable)."""
    from dataflowex_spark.plans import formatted_plan

    root = str(tmp_path)
    write_conformance_log(root, _simple_table(spark, root))
    df = read_delta(spark, root).select("k").filter(F.col("k") > 1)
    plan = formatted_plan(df)
    assert "PushedFilters: [IsNotNull(k), GreaterThan(k,1)]" in plan
    assert rows(df) == [(2,), (4,)]


def test_mtable_export_roundtrip_and_dv_refusal(spark, tmp_path):
    from pyspark.sql import functions as F

    from dataflowex_spark.sources.delta_reader import (
        export_snapshot_to_delta,
        read_delta,
    )
    from dataflowex_spark.sources.mtable import MTable

    df = spark.range(0, 60).select(
        F.col("id").alias("k"), (F.col("id") * 3 % 17).alias("v")
    )
    t = MTable.create(spark, str(tmp_path / "t"), df, "k")
    upd = t.read().filter(F.col("k") % 4 == 0).select(
        "k",
        F.lit(1).alias("ts"),
        F.lit("U").alias("op"),
        F.lit(0).alias("tie"),
        (F.col("v") + 100).alias("v"),
    )
    t.merge(upd, "ts", "op", "tie", ["v"])
    dest = str(tmp_path / "delta")
    export_snapshot_to_delta(t, dest)
    got = sorted(tuple(r) for r in read_delta(spark, dest).collect())
    want = sorted(tuple(r) for r in t.read().collect())
    assert got == want
    # exporting an OLD version snapshots that version
    dest1 = str(tmp_path / "delta_v1")
    export_snapshot_to_delta(t, dest1, version=1)
    got1 = sorted(tuple(r) for r in read_delta(spark, dest1).collect())
    want1 = sorted(tuple(r) for r in t.read(version=1).collect())
    assert got1 == want1
    # a snapshot with unapplied DV debt refuses
    t.delete_where("k = 3")
    import pytest as _pt

    with _pt.raises(ValueError, match="delete debt"):
        export_snapshot_to_delta(t, str(tmp_path / "delta_dv"))


def test_timestamp_time_travel(spark, tmp_path):
    """TIMESTAMP AS OF: the latest version whose commitInfo
    timestamp <= the instant; before-everything refuses."""
    root = str(tmp_path)
    commits = _simple_table(spark, root)
    commits[0].append({"commitInfo": {"timestamp": 1_000}})
    # _simple_table's second commit already has commitInfo; stamp it
    commits[1] = [
        a for a in commits[1] if "commitInfo" not in a
    ] + [{"commitInfo": {"operation": "MERGE", "timestamp": 5_000}}]
    write_conformance_log(root, commits)
    assert rows(read_delta(spark, root, timestamp_ms=1_500)) == [
        (1, "a"), (2, "b"), (3, "c")
    ]
    assert rows(read_delta(spark, root, timestamp_ms=9_000)) == [
        (1, "a"), (2, "b"), (4, "d")
    ]
    with pytest.raises(ValueError, match="at or before"):
        read_delta(spark, root, timestamp_ms=500)
    with pytest.raises(ValueError, match="not both"):
        read_delta(spark, root, version=0, timestamp_ms=1_500)


def test_change_data_feed(spark, tmp_path):
    """CDF read: cdc actions are authoritative (the same commit's
    add/remove compaction side must not double-count); commits
    without cdc synthesize insert/delete from dataChange actions."""
    from dataflowex_spark.sources.delta_reader import read_delta_changes

    root = str(tmp_path)
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    stage_parquet_file(df1, root, "f1.parquet")
    # v1: update k=2 (b -> B) recorded as cdc pre/postimage; the
    # rewritten data file travels as add/remove alongside
    stage_parquet_file(
        spark.createDataFrame([(1, "a"), (2, "B")], "k long, v string"),
        root, "f1v2.parquet",
    )
    cdc_rows = spark.createDataFrame(
        [(2, "b", "update_preimage"), (2, "B", "update_postimage")],
        "k long, v string, _change_type string",
    )
    stage_parquet_file(cdc_rows, root, "_change_data/cdc-0.parquet")
    schema_json = json.dumps(df1.schema.jsonValue())
    commits = [
        [PROTO, _meta(schema_json),
         {"add": {"path": "f1.parquet", "partitionValues": {},
                  "dataChange": True}}],
        [{"cdc": {"path": "_change_data/cdc-0.parquet",
                  "partitionValues": {}, "dataChange": False}},
         {"remove": {"path": "f1.parquet", "dataChange": True}},
         {"add": {"path": "f1v2.parquet", "partitionValues": {},
                  "dataChange": True}}],
        [{"remove": {"path": "f1v2.parquet", "dataChange": True}}],
    ]
    write_conformance_log(root, commits)
    got = sorted(
        tuple(r)
        for r in read_delta_changes(spark, root, 0).collect()
    )
    assert got == sorted([
        (1, "a", "insert", 0), (2, "b", "insert", 0),
        (2, "b", "update_preimage", 1),
        (2, "B", "update_postimage", 1),
        (1, "a", "delete", 2), (2, "B", "delete", 2),
    ])
    # bounded range
    only_v1 = read_delta_changes(spark, root, 1, 1)
    assert sorted(r["_change_type"] for r in only_v1.collect()) == [
        "update_postimage", "update_preimage"
    ]
    with pytest.raises(ValueError, match="> ending"):
        read_delta_changes(spark, root, 2, 1)


def test_export_delta_increment_continuous_publish(spark, tmp_path):
    """Continuous MTable→Delta publishing: the manifest diff becomes
    one incremental Delta commit (adds/removes, zero bytes copied)
    with authoritative CDC files derived from the MTable changefeed
    — downstream read_delta matches the table at every version and
    read_delta_changes sees exact row-level I/U/D."""
    from dataflowex_spark.sources.delta_reader import (
        export_delta_increment,
        export_snapshot_to_delta,
        read_delta,
        read_delta_changes,
    )
    from dataflowex_spark.sources.mtable import MTable

    df = spark.range(0, 50).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    t = MTable.create(
        spark, str(tmp_path / "t"),
        df.repartitionByRange(4, "k"), "k",
    )
    dest = str(tmp_path / "delta")
    export_snapshot_to_delta(t, dest)
    # one merge: update k%10==0 (v+=100), insert k=1000, delete k=7
    upd = t.read().filter(F.col("k") % 10 == 0).select(
        "k", F.lit(1).alias("ts"), F.lit("U").alias("op"),
        F.lit(0).alias("tie"), (F.col("v") + 100).alias("v"),
    )
    ins = spark.createDataFrame([(1000, 1, "I", 0, 5)],
                                "k long, ts int, op string, tie int, v long")
    dele = spark.createDataFrame([(7, 1, "D", 0, None)],
                                 "k long, ts int, op string, tie int, v long")
    t.merge(upd.unionByName(ins).unionByName(dele), "ts", "op", "tie", ["v"])
    new_v = export_delta_increment(t, dest)
    assert new_v == 1
    # snapshot equality at both versions
    assert rows(read_delta(spark, dest)) == rows(t.read())
    assert rows(read_delta(spark, dest, version=0)) == rows(
        t.read(version=1)
    )
    # CDC: exact row-level changes, not whole-file synthesis
    ch = read_delta_changes(spark, dest, 1, 1)
    by_type = {
        r["_change_type"]: r["n"]
        for r in ch.groupBy("_change_type").count()
        .withColumnRenamed("count", "n").collect()
    }
    assert by_type == {
        "insert": 1, "delete": 1,
        "update_preimage": 5, "update_postimage": 5,
    }
    # the updated keys carry exact pre/post values
    pre = {r["k"]: r["v"] for r in ch.filter(
        "_change_type = 'update_preimage'").collect()}
    post = {r["k"]: r["v"] for r in ch.filter(
        "_change_type = 'update_postimage'").collect()}
    assert all(post[k] == pre[k] + 100 for k in pre)
    # republishing the same version refuses
    with pytest.raises(ValueError, match="already published"):
        export_delta_increment(t, dest)
    # a second round of changes publishes as delta version 2
    t.merge(
        spark.createDataFrame([(3, 2, "D", 0, None)],
                              "k long, ts int, op string, tie int, v long"),
        "ts", "op", "tie", ["v"],
    )
    assert export_delta_increment(t, dest) == 2
    assert rows(read_delta(spark, dest)) == rows(t.read())


def test_vacuum_delta_export(spark, tmp_path):
    """Vacuum keeps every file the retained versions reference
    (including their CDC files) and unlinks the rest; time travel
    before the horizon honestly breaks."""
    from dataflowex_spark.sources.delta_reader import (
        export_delta_increment,
        export_snapshot_to_delta,
        read_delta,
        vacuum_delta_export,
    )
    from dataflowex_spark.sources.mtable import MTable

    df = spark.range(0, 40).select(
        F.col("id").alias("k"), (F.col("id") % 5).alias("v")
    )
    t = MTable.create(
        spark, str(tmp_path / "t"), df.repartitionByRange(4, "k"), "k"
    )
    dest = str(tmp_path / "delta")
    export_snapshot_to_delta(t, dest)
    upd = t.read().filter(F.col("k") % 2 == 0).select(
        "k", F.lit(1).alias("ts"), F.lit("U").alias("op"),
        F.lit(0).alias("tie"), (F.col("v") + 50).alias("v"),
    )
    t.merge(upd, "ts", "op", "tie", ["v"])
    export_delta_increment(t, dest)
    pre = rows(read_delta(spark, dest))
    deleted = vacuum_delta_export(dest, keep_versions=1, spark=spark)
    assert deleted  # the rewritten-away v0 files went
    # the latest version still reads exactly
    assert rows(read_delta(spark, dest)) == pre
    # the latest version's CDC files survived (read_delta_changes on
    # the retained horizon still works)
    from dataflowex_spark.sources.delta_reader import read_delta_changes

    assert read_delta_changes(spark, dest, 1, 1).count() > 0
    # time travel before the horizon now fails at scan time
    with pytest.raises(Exception):
        rows(read_delta(spark, dest, version=0))


def test_data_skipping_via_add_stats(spark, tmp_path):
    """skip_where prunes files whose add.stats min/max prove no row
    matches — never opened (inputFiles count) — while results stay
    exact (the same predicate applies in-plan, so files kept on
    MISSING stats still filter correctly)."""
    root = str(tmp_path)
    lo = spark.createDataFrame(
        [(i, f"v{i}") for i in range(0, 10)], "k long, v string")
    hi = spark.createDataFrame(
        [(i, f"v{i}") for i in range(100, 110)], "k long, v string")
    nostats = spark.createDataFrame(
        [(55, "v55")], "k long, v string")
    stage_parquet_file(lo, root, "lo.parquet")
    stage_parquet_file(hi, root, "hi.parquet")
    stage_parquet_file(nostats, root, "mid.parquet")
    schema_json = json.dumps(lo.schema.jsonValue())

    def add(path, stats=None):
        a = {"path": path, "partitionValues": {}, "dataChange": True}
        if stats:
            a["stats"] = json.dumps(stats)
        return {"add": a}

    write_conformance_log(root, [[
        PROTO, _meta(schema_json),
        add("lo.parquet", {"numRecords": 10,
                           "minValues": {"k": 0}, "maxValues": {"k": 9}}),
        add("hi.parquet", {"numRecords": 10,
                           "minValues": {"k": 100},
                           "maxValues": {"k": 109}}),
        add("mid.parquet"),  # no stats: must always be kept
    ]])
    got = read_delta(spark, root, skip_where=[("k", ">=", 100)])
    # hi kept by stats, mid kept by missing stats, lo pruned
    files = {os.path.basename(f) for f in got.inputFiles()}
    assert files == {"hi.parquet", "mid.parquet"}
    # exactness: mid's row (k=55) filtered in-plan
    assert rows(got) == [(i, f"v{i}") for i in range(100, 110)]
    # '=' point lookup opens one stats-backed file (+ the statless)
    got2 = read_delta(spark, root, skip_where=[("k", "=", 5)])
    assert {os.path.basename(f) for f in got2.inputFiles()} == {
        "lo.parquet", "mid.parquet"
    }
    assert rows(got2) == [(5, "v5")]
    # everything pruned: empty frame, correct schema
    got3 = read_delta(spark, root, skip_where=[("k", ">", 500)])
    assert got3.count() == 0 and got3.columns == ["k", "v"]
    with pytest.raises(ValueError, match="skip_where op"):
        read_delta(spark, root, skip_where=[("k", "!=", 1)])
    with pytest.raises(ValueError, match="not in schema"):
        read_delta(spark, root, skip_where=[("zz", "=", 1)])


def test_exported_tables_carry_skipping_stats(spark, tmp_path):
    """Exports write add.stats from the MTable manifest, so a point
    query on an exported Delta table opens only the matching file."""
    from dataflowex_spark.sources.delta_reader import (
        export_snapshot_to_delta,
    )
    from dataflowex_spark.sources.mtable import MTable

    df = spark.range(0, 100).select(
        F.col("id").alias("k"), (F.col("id") % 9).alias("v")
    )
    t = MTable.create(
        spark, str(tmp_path / "t"), df.repartitionByRange(5, "k"), "k"
    )
    dest = str(tmp_path / "delta")
    export_snapshot_to_delta(t, dest)
    got = read_delta(spark, dest, skip_where=[("k", "=", 3)])
    assert len(got.inputFiles()) == 1  # range-partitioned: one file
    assert rows(got) == [(3, 3)]


def test_checkpoint_delta_export_compacts_log(spark, tmp_path):
    """Continuous publishing piles up commits; checkpoint_delta_export
    snapshots the state so resolution survives log retention — old
    JSON commits can age out and the table still reads exactly."""
    from dataflowex_spark.sources.delta_reader import (
        checkpoint_delta_export,
        export_delta_increment,
        export_snapshot_to_delta,
        read_delta,
    )
    from dataflowex_spark.sources.mtable import MTable

    df = spark.range(0, 30).select(
        F.col("id").alias("k"), (F.col("id") % 3).alias("v")
    )
    t = MTable.create(
        spark, str(tmp_path / "t"), df.repartitionByRange(3, "k"), "k"
    )
    dest = str(tmp_path / "delta")
    export_snapshot_to_delta(t, dest)
    for r in range(2):
        upd = t.read().filter(F.col("k") % 5 == r).select(
            "k", F.lit(1).alias("ts"), F.lit("U").alias("op"),
            F.lit(0).alias("tie"), (F.col("v") + 10).alias("v"),
        )
        t.merge(upd, "ts", "op", "tie", ["v"])
        export_delta_increment(t, dest)
    want = rows(t.read())
    v = checkpoint_delta_export(spark, dest, parts=2)
    assert v == 2
    # retention: drop every JSON commit the checkpoint covers
    for vv in range(v + 1):
        os.remove(
            os.path.join(dest, "_delta_log", f"{vv:020d}.json")
        )
    assert rows(read_delta(spark, dest)) == want
    # and data skipping still works off the checkpointed stats
    one = read_delta(spark, dest, skip_where=[("k", "=", 3)])
    assert [r[0] for r in one.collect()] == [3]


def test_write_delta_generic(spark, tmp_path):
    """Standalone write_delta: create/append/overwrite commits with
    per-file stats; our reader (and its data skipping) reads it all
    back; concurrent creates race safely on the version file."""
    from dataflowex_spark.sources.delta_reader import (
        read_delta,
        write_delta,
    )

    dest = str(tmp_path / "t")
    df1 = spark.range(0, 50).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    ).repartitionByRange(4, "k")
    v0 = write_delta(spark, df1, dest)
    assert v0 == 0
    assert rows(read_delta(spark, dest)) == rows(df1)
    with pytest.raises(ValueError, match="already exists"):
        write_delta(spark, df1, dest)
    # append
    df2 = spark.createDataFrame([(100, 1)], "k long, v long")
    v1 = write_delta(spark, df2, dest, mode="append")
    assert v1 == 1
    assert read_delta(spark, dest).count() == 51
    # stats-backed skipping works on a written (non-MTable) table
    narrow = read_delta(spark, dest, skip_where=[("k", "=", 100)])
    assert len(narrow.inputFiles()) == 1
    assert rows(narrow) == [(100, 1)]
    # overwrite replaces the live set, history stays readable
    df3 = spark.createDataFrame([(7, 7)], "k long, v long")
    v2 = write_delta(spark, df3, dest, mode="overwrite")
    assert v2 == 2
    assert rows(read_delta(spark, dest)) == [(7, 7)]
    assert read_delta(spark, dest, version=1).count() == 51
    # concurrent appends: both land, distinct versions
    import threading

    errs = []

    def appender(val):
        try:
            write_delta(
                spark,
                spark.createDataFrame([(val, val)], "k long, v long"),
                dest,
                mode="append",
            )
        except Exception as e:
            errs.append(e)

    th = [threading.Thread(target=appender, args=(x,)) for x in (201, 202)]
    [x.start() for x in th]
    [x.join() for x in th]
    assert not errs
    assert read_delta(spark, dest).count() == 3


def test_write_delta_refuses_decimal_stats_before_staging(spark, tmp_path):
    """A decimal stats column is refused up front, by name and type,
    instead of failing at the stats JSON after the data files were
    already moved into ``data/``."""
    from dataflowex_spark.sources.delta_reader import write_delta

    dest = tmp_path / "t"
    df = spark.range(10).select(
        F.col("id").alias("k"), (F.col("id") / 4).cast("decimal(8,2)").alias("d")
    )
    with pytest.raises(ValueError, match=r"'d' is decimal\(8,2\)"):
        write_delta(spark, df, str(dest), stats_cols=["d"])
    data = dest / "data"
    assert not data.exists() or not list(data.rglob("*.parquet"))


def test_write_delta_partitioned(spark, tmp_path):
    """partition_by: hive-layout staging, canonical partitionValues
    per add, typed re-attachment on read; partition '=' still prunes
    files at plan time."""
    from dataflowex_spark.sources.delta_reader import (
        read_delta,
        write_delta,
    )

    dest = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, "us", 10), (2, "us", 20), (3, "de", 30), (4, None, 40)],
        "k long, region string, v long",
    )
    write_delta(spark, df, dest, partition_by=["region"])
    got = read_delta(spark, dest)
    assert sorted(got.columns) == ["k", "region", "v"]
    assert rows(got) == rows(df)
    assert dict(got.dtypes)["region"] == "string"
    # partition '=' pruning: only the us files open
    us = read_delta(spark, dest, skip_where=[("region", "=", "us")])
    assert all("region=us" in f for f in us.inputFiles())
    assert rows(us) == [(1, "us", 10), (2, "us", 20)]


def test_vacuum_checkpoint_aware_keeps_carried_files(spark, tmp_path):
    """The regression a JSON-only vacuum replay would hit: after a
    checkpoint and log retention, files CARRIED from aged-out commits
    have no surviving add JSON — vacuum must plan from the
    checkpoint-aware snapshot and keep them (and refuse the blind
    path instead of deleting live data)."""
    from dataflowex_spark.sources.delta_reader import (
        checkpoint_delta_export,
        export_delta_increment,
        export_snapshot_to_delta,
        read_delta,
        vacuum_delta_export,
    )
    from dataflowex_spark.sources.mtable import MTable

    df = spark.range(0, 100).select(
        F.col("id").alias("k"), (F.col("id") % 5).alias("v")
    )
    t = MTable.create(
        spark, str(tmp_path / "t"), df.repartitionByRange(8, "k"), "k"
    )
    dest = str(tmp_path / "delta")
    export_snapshot_to_delta(t, dest)
    # targeted update: only the file holding k=3 is rewritten; the
    # other 7 files CARRY into v1
    upd = t.read().filter(F.col("k") == 3).select(
        "k", F.lit(1).alias("ts"), F.lit("U").alias("op"),
        F.lit(0).alias("tie"), F.lit(999).cast("long").alias("v"),
    )
    t.merge(upd, "ts", "op", "tie", ["v"])
    dv = export_delta_increment(t, dest)
    want = rows(read_delta(spark, dest))
    checkpoint_delta_export(spark, dest)
    os.remove(os.path.join(dest, "_delta_log", f"{0:020d}.json"))
    # blind JSON replay refuses once commit 0 is gone
    with pytest.raises(ValueError, match="checkpoint-aware"):
        vacuum_delta_export(dest, keep_versions=1)
    deleted = vacuum_delta_export(dest, keep_versions=1, spark=spark)
    # the rewritten-away old file went; carried files stayed readable
    assert deleted
    assert rows(read_delta(spark, dest)) == want


def test_cdf_synthesis_respects_deletion_vectors(spark, tmp_path):
    """A non-CDC commit that deletes rows via a DV (remove + re-add
    of the same path carrying deletionVector) must NOT read back the
    DV-dead rows as inserts; and a later remove of that DV-carrying
    file must not read its dead rows back as deletes."""
    from dataflowex_spark.sources.delta_reader import (
        read_delta_changes,
    )
    from dataflowex_spark.sources.roaring import inline_dv_descriptor

    root = str(tmp_path)
    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(6)], "k long, v string")
    stage_parquet_file(df.orderBy("k").coalesce(1), root, "f.parquet")
    d = inline_dv_descriptor([1, 3])
    schema_json = json.dumps(df.schema.jsonValue())
    write_conformance_log(
        root,
        [[{"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                        "readerFeatures": ["deletionVectors"],
                        "writerFeatures": ["deletionVectors"]}},
          _meta(schema_json),
          {"add": {"path": "f.parquet", "partitionValues": {},
                   "dataChange": True}}],
         # v1: DV delete of k=1,3 expressed as remove + DV re-add
         [{"remove": {"path": "f.parquet", "dataChange": True}},
          {"add": {"path": "f.parquet", "partitionValues": {},
                   "dataChange": True, "deletionVector": d}}],
         # v2: drop the file entirely; the remove carries the DV
         [{"remove": {"path": "f.parquet", "dataChange": True,
                      "deletionVector": d}}]],
    )
    ch = read_delta_changes(spark, root, 1, 2)
    v1_ins = rows(ch.filter(
        (F.col("_commit_version") == 1)
        & (F.col("_change_type") == "insert")).select("k"))
    v1_del = rows(ch.filter(
        (F.col("_commit_version") == 1)
        & (F.col("_change_type") == "delete")).select("k"))
    v2_del = rows(ch.filter(
        (F.col("_commit_version") == 2)
        & (F.col("_change_type") == "delete")).select("k"))
    # v1 re-add excludes DV-dead rows; its remove is the PRE-DV file
    assert v1_ins == [(0,), (2,), (4,), (5,)]
    assert v1_del == [(0,), (1,), (2,), (3,), (4,), (5,)]
    # v2 removes only the rows still live after the DV
    assert v2_del == [(0,), (2,), (4,), (5,)]


def test_cdf_mode_id_refuses(spark, tmp_path):
    """CDF under columnMapping mode=id refuses loudly (per-file
    field-id resolution isn't wired through typed_read) instead of
    selecting logical names against arbitrary physical columns."""
    from pyspark.sql import types as T

    from dataflowex_spark.sources.delta_reader import (
        read_delta_changes,
    )

    root = str(tmp_path)
    df = spark.createDataFrame([(1, "a")], "k long, v string")
    stage_parquet_file(df, root, "f.parquet")
    logical = T.StructType([
        T.StructField("k", T.LongType(), True,
                      {"delta.columnMapping.id": 1,
                       "delta.columnMapping.physicalName": "k"}),
        T.StructField("v", T.StringType(), True,
                      {"delta.columnMapping.id": 2,
                       "delta.columnMapping.physicalName": "v"}),
    ])
    meta = _meta(json.dumps(logical.jsonValue()))
    meta["metaData"]["configuration"] = {
        "delta.columnMapping.mode": "id"}
    write_conformance_log(
        root,
        [[{"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
          meta,
          {"add": {"path": "f.parquet", "partitionValues": {},
                   "dataChange": True}}]],
    )
    with pytest.raises(DeltaProtocolError, match="mode=id"):
        read_delta_changes(spark, root, 0)


def test_id_mode_rename_and_no_conf_leak(spark, tmp_path):
    """mode=id resolves columns from each file's footer field ids —
    a file whose physical names differ from the metadata's
    physicalName (id-keyed rename / converted table) still reads by
    id — and the read never mutates session conf (the old
    fieldId.read.enabled set leaked into every other parquet read
    and silently stopped applying if anything reset it pre-action)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    root = str(tmp_path)
    fields = [
        pa.field("old-name-a", pa.int64(),
                 metadata={b"PARQUET:field_id": b"1"}),
        pa.field("old-name-b", pa.string(),
                 metadata={b"PARQUET:field_id": b"2"}),
    ]
    t = pa.table(
        {"old-name-a": pa.array([7, 8], pa.int64()),
         "old-name-b": pa.array(["x", "y"])}
    ).cast(pa.schema(fields))
    pq.write_table(t, os.path.join(root, "f.parquet"))
    logical = T.StructType([
        T.StructField("k", T.LongType(), True,
                      {"delta.columnMapping.id": 1,
                       "delta.columnMapping.physicalName": "uuid-now"}),
        T.StructField("v", T.StringType(), True,
                      {"delta.columnMapping.id": 2,
                       "delta.columnMapping.physicalName": "uuid-now2"}),
    ])
    meta = _meta(json.dumps(logical.jsonValue()))
    meta["metaData"]["configuration"] = {
        "delta.columnMapping.mode": "id"}
    write_conformance_log(
        root,
        [[{"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
          meta,
          {"add": {"path": "f.parquet", "partitionValues": {},
                   "dataChange": True}}]],
    )
    key = "spark.sql.parquet.fieldId.read.enabled"
    before = spark.conf.get(key, None)
    got = read_delta(spark, root)
    assert rows(got) == [(7, "x"), (8, "y")]
    assert spark.conf.get(key, None) == before


def test_checkpoint_with_deletion_vector(spark, tmp_path):
    """checkpoint_at on a DV-carrying log: the descriptor serializes
    as JSON in the checkpoint (typed string column) and decodes back
    on replay — a reader resolving FROM the checkpoint still applies
    the DV."""
    from dataflowex_spark.sources.roaring import inline_dv_descriptor

    root = str(tmp_path)
    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(5)], "k long, v string")
    stage_parquet_file(df.orderBy("k").coalesce(1), root, "f.parquet")
    d = inline_dv_descriptor([0, 2])
    schema_json = json.dumps(df.schema.jsonValue())
    write_conformance_log(
        root,
        [[{"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                        "readerFeatures": ["deletionVectors"],
                        "writerFeatures": ["deletionVectors"]}},
          _meta(schema_json),
          {"add": {"path": "f.parquet", "partitionValues": {},
                   "dataChange": True, "deletionVector": d}}]],
        checkpoint_at=0, spark=spark,
    )
    # force checkpoint-only resolution: the JSON commit goes away
    os.remove(os.path.join(root, "_delta_log", f"{0:020d}.json"))
    got = rows(read_delta(spark, root))
    assert got == [(1, "v1"), (3, "v3"), (4, "v4")]


def test_vacuum_partitioned_written_table(spark, tmp_path):
    """vacuum walks hive-layout subdirs (data/<col>=<val>/…) from
    write_delta(partition_by=...) — overwritten files under
    partition dirs unlink, live ones stay, and no IsADirectoryError
    on the partition directories themselves."""
    from dataflowex_spark.sources.delta_reader import (
        vacuum_delta_export,
        write_delta,
    )

    dest = str(tmp_path / "t")
    df1 = spark.createDataFrame(
        [(1, "us"), (2, "de")], "k long, region string")
    df2 = spark.createDataFrame(
        [(3, "us"), (4, "fr")], "k long, region string")
    write_delta(spark, df1, dest, partition_by=["region"])
    write_delta(
        spark, df2, dest, mode="overwrite", partition_by=["region"])
    deleted = vacuum_delta_export(dest, keep_versions=1, spark=spark)
    assert deleted and all(d.startswith("data/region=") for d in deleted)
    assert rows(read_delta(spark, dest)) == [(3, "us"), (4, "fr")]


def test_write_delta_checkpoint_interval(spark, tmp_path):
    """delta.checkpointInterval: the generic writer emits a parquet
    checkpoint (+_last_checkpoint) every N commits, so a long-lived
    written table resolves from the checkpoint alone after log
    cleanup instead of replaying an unbounded JSON tail."""
    from dataflowex_spark.sources.delta_reader import (
        vacuum_delta_export,
        write_delta,
    )

    dest = str(tmp_path / "t")
    mk = lambda lo, hi: spark.createDataFrame(  # noqa: E731
        [(i, i * 10) for i in range(lo, hi)], "k long, v long")
    write_delta(spark, mk(0, 3), dest,
                configuration={"delta.checkpointInterval": "2"})
    write_delta(spark, mk(3, 5), dest, mode="append")
    write_delta(spark, mk(5, 6), dest, mode="append")
    log = os.path.join(dest, "_delta_log")
    assert os.path.exists(
        os.path.join(log, f"{2:020d}.checkpoint.parquet"))
    assert os.path.exists(os.path.join(log, "_last_checkpoint"))
    # retention cleanup: all JSON commits covered by the checkpoint go
    for v in range(3):
        os.remove(os.path.join(log, f"{v:020d}.json"))
    got = rows(read_delta(spark, dest))
    assert got == [(i, i * 10) for i in range(6)]
    # and vacuum still plans correctly from the checkpoint
    assert vacuum_delta_export(dest, keep_versions=1, spark=spark) == []


def test_delete_from_delta_dv_semantics(spark, tmp_path):
    """DML DELETE via deletion vectors: no parquet rewritten, exact
    row sets, DV merge on re-delete, no-op predicates don't commit,
    and the first delete upgrades the protocol to the DV feature."""
    import glob
    import json as _json

    from dataflowex_spark.sources.delta_reader import (
        delete_from_delta,
        read_delta,
        write_delta,
    )

    dest = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, "g%d" % (i % 3), float(i)) for i in range(60)],
        "k long, g string, x double",
    )
    write_delta(spark, df, dest, partition_by=["g"])
    parquet_before = sorted(
        glob.glob(os.path.join(dest, "data", "**", "*.parquet"),
                  recursive=True)
    )
    v1, n1 = delete_from_delta(spark, dest, "k % 10 = 0")
    assert (v1, n1) == (1, 6)
    assert sorted(r.k for r in read_delta(spark, dest).collect()) == [
        k for k in range(60) if k % 10 != 0
    ]
    # zero parquet files rewritten, DV files appeared at the root
    assert parquet_before == sorted(
        glob.glob(os.path.join(dest, "data", "**", "*.parquet"),
                  recursive=True)
    )
    assert glob.glob(os.path.join(dest, "deletion_vector_*.bin"))
    # protocol upgraded with the deletionVectors feature
    with open(os.path.join(
            dest, "_delta_log", f"{v1:020d}.json")) as f:
        acts = [_json.loads(x) for x in f if x.strip()]
    protos = [a["protocol"] for a in acts if a.get("protocol")]
    assert protos and "deletionVectors" in protos[0]["readerFeatures"]
    # removes carry partitionValues (CDF synthesis needs them)
    rms = [a["remove"] for a in acts if a.get("remove")]
    assert rms and all("partitionValues" in r for r in rms)
    # re-delete of already-dead rows: no commit, 0 deleted
    v2, n2 = delete_from_delta(spark, dest, "k % 10 = 0")
    assert (v2, n2) == (v1, 0)
    # merge: deleting MORE rows from the same files keeps both sets
    v3, n3 = delete_from_delta(spark, dest, "k % 10 = 1")
    assert (v3, n3) == (v1 + 1, 6)
    assert sorted(r.k for r in read_delta(spark, dest).collect()) == [
        k for k in range(60) if k % 10 not in (0, 1)
    ]
    # partition-column predicate binds (column isn't in the files)
    v4, n4 = delete_from_delta(spark, dest, "g = 'g0' AND k < 30")
    assert n4 == sum(
        1 for k in range(30) if k % 3 == 0 and k % 10 not in (0, 1)
    )


def test_delete_from_delta_cdf_and_vacuum(spark, tmp_path):
    """Under delta.enableChangeDataFeed the delete commit carries
    authoritative cdc rows (row-exact CDF, no whole-file synthesis
    noise); vacuum keeps DV files live adds reference and reclaims
    orphaned ones."""
    from dataflowex_spark.sources.delta_reader import (
        delete_from_delta,
        read_delta,
        read_delta_changes,
        vacuum_delta_export,
        write_delta,
    )

    dest = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, "g%d" % (i % 2), float(i)) for i in range(40)],
        "k long, g string, x double",
    )
    write_delta(
        spark, df, dest, partition_by=["g"],
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    v1, n1 = delete_from_delta(spark, dest, "k % 4 = 2")
    ch = read_delta_changes(
        spark, dest, starting_version=v1, ending_version=v1
    )
    assert sorted((r["_change_type"], r.k, r.g) for r in ch.collect()) == [
        ("delete", k, "g%d" % (k % 2)) for k in range(2, 40, 4)
    ]
    # orphan DV (lost-race simulation) reclaims; live DV survives.
    # RETENTION GUARD: a file YOUNGER than the newest log entry is an
    # in-flight writer's staging, not an orphan — kept until it ages
    orphan = os.path.join(
        dest, "deletion_vector_00000000-dead-beef-0000-000000000000.bin"
    )
    with open(orphan, "wb") as f:
        f.write(b"\x01junk")
    removed = vacuum_delta_export(dest, keep_versions=1, spark=spark)
    assert os.path.basename(orphan) not in removed
    assert os.path.exists(orphan)
    past = time.time() - 7200
    os.utime(orphan, (past, past))
    removed = vacuum_delta_export(dest, keep_versions=1, spark=spark)
    assert os.path.basename(orphan) in removed
    assert not os.path.exists(orphan)
    assert sorted(r.k for r in read_delta(spark, dest).collect()) == [
        k for k in range(40) if k % 4 != 2
    ]


def _mk_mode_name_table(spark, root):
    """A columnMapping mode=name table: logical (k, g, x), physical
    (col-k, col-g, col-x), hive-partitioned on g (physical key)."""
    d1 = spark.createDataFrame(
        [(i, float(i)) for i in range(0, 10)], "`col-k` long, `col-x` double"
    )
    d2 = spark.createDataFrame(
        [(i, float(i)) for i in range(10, 20)],
        "`col-k` long, `col-x` double",
    )
    stage_parquet_file(d1, root, "data/col-g=a/f1.parquet")
    stage_parquet_file(d2, root, "data/col-g=b/f2.parquet")
    schema = {
        "type": "struct",
        "fields": [
            {"name": "k", "type": "long", "nullable": True,
             "metadata": {"delta.columnMapping.id": 1,
                          "delta.columnMapping.physicalName": "col-k"}},
            {"name": "g", "type": "string", "nullable": True,
             "metadata": {"delta.columnMapping.id": 2,
                          "delta.columnMapping.physicalName": "col-g"}},
            {"name": "x", "type": "double", "nullable": True,
             "metadata": {"delta.columnMapping.id": 3,
                          "delta.columnMapping.physicalName": "col-x"}},
        ],
    }
    write_conformance_log(
        root,
        [[
            {"protocol": {"minReaderVersion": 2,
                          "minWriterVersion": 5}},
            {"metaData": {
                "id": "m", "schemaString": json.dumps(schema),
                "partitionColumns": ["g"],
                "format": {"provider": "parquet"},
                "configuration": {
                    "delta.columnMapping.mode": "name",
                    "delta.enableChangeDataFeed": "true"}}},
            {"add": {"path": "data/col-g=a/f1.parquet",
                     "partitionValues": {"col-g": "a"},
                     "dataChange": True}},
            {"add": {"path": "data/col-g=b/f2.parquet",
                     "partitionValues": {"col-g": "b"},
                     "dataChange": True}},
        ]],
    )


def test_delta_dml_on_column_mapping_mode_name(spark, tmp_path):
    """DML over columnMapping mode=name: predicates and SET exprs
    bind through physicalName — DELETE via DV, UPDATE re-appending
    PHYSICAL-named files, MERGE upsert, authoritative CDF, all on a
    hive-partitioned mode=name table; mode=id still refuses."""
    import pytest as _pytest

    from dataflowex_spark.sources.delta_reader import (
        delete_from_delta,
        merge_delta,
        read_delta_changes,
        update_delta,
    )

    root = str(tmp_path / "m")
    _mk_mode_name_table(spark, root)
    # DELETE binds the logical predicate (k, g)
    v1, n1 = delete_from_delta(spark, root, "k % 5 = 0 AND g = 'a'")
    assert n1 == 2  # k=0, k=5 in partition a
    got = {r.k for r in read_delta(spark, root).collect()}
    assert got == set(range(20)) - {0, 5}
    # UPDATE with SET exprs over OLD values; re-appended files must
    # carry PHYSICAL column names
    v2, n2 = update_delta(spark, root, "k = 7", {"x": "x + 100"})
    assert n2 == 1
    vals = {r.k: r.x for r in read_delta(spark, root).collect()}
    assert vals[7] == 107.0 and vals[8] == 8.0
    import glob as _glob

    newest = max(
        _glob.glob(os.path.join(root, "data", "**", "*.parquet"),
                   recursive=True),
        key=os.path.getmtime,
    )
    cols = spark.read.parquet(newest).columns
    assert "col-k" in cols and "k" not in cols
    # MERGE upsert
    src = spark.createDataFrame(
        [(3, "a", 333.0), (100, "b", 1000.0)],
        "k long, g string, x double",
    )
    v3, stats = merge_delta(spark, root, src, ["k"])
    assert stats == {"updated": 1, "deleted": 0, "inserted": 1}
    vals = {r.k: (r.g, r.x) for r in read_delta(spark, root).collect()}
    assert vals[3] == ("a", 333.0) and vals[100] == ("b", 1000.0)
    # authoritative CDF rows for the whole DML run read back typed
    ch = read_delta_changes(spark, root, starting_version=v1)
    by_type = {}
    for r in ch.collect():
        by_type.setdefault(r["_change_type"], set()).add(r.k)
    assert by_type["delete"] == {0, 5}
    assert by_type["update_preimage"] >= {7, 3}
    assert by_type["update_postimage"] >= {7, 3}
    assert by_type["insert"] == {100}


def test_delete_from_delta_refuses_mode_id(spark, tmp_path):
    """mode=id keeps refusing DML — per-file field-id resolution has
    no stable physical name for the staging/stats contract."""
    import pytest as _pytest

    from dataflowex_spark.sources.delta_reader import (
        delete_from_delta,
    )

    root = str(tmp_path / "m")
    k = spark.createDataFrame([(1,)], "`col-k` long")
    stage_parquet_file(k, root, "data/f.parquet")
    schema = {
        "type": "struct",
        "fields": [{
            "name": "k", "type": "long", "nullable": True,
            "metadata": {"delta.columnMapping.id": 1,
                         "delta.columnMapping.physicalName": "col-k"},
        }],
    }
    write_conformance_log(
        root,
        [[
            {"protocol": {"minReaderVersion": 2,
                          "minWriterVersion": 5}},
            {"metaData": {
                "id": "m", "schemaString": json.dumps(schema),
                "partitionColumns": [],
                "format": {"provider": "parquet"},
                "configuration": {
                    "delta.columnMapping.mode": "id"}}},
            {"add": {"path": "data/f.parquet",
                     "partitionValues": {}, "dataChange": True}},
        ]],
    )
    with _pytest.raises(DeltaProtocolError, match="mode=id"):
        delete_from_delta(spark, root, "k = 1")


def test_update_delta_dv_and_cdf(spark, tmp_path):
    """DML UPDATE = DV-delete + re-append: exact values, partition
    moves when a partition column is SET, pre/post cdc rows under
    CDF, and the shared staging leaves stats on the new files."""
    from dataflowex_spark.sources.delta_reader import (
        delete_from_delta,
        read_delta,
        read_delta_changes,
        update_delta,
        write_delta,
    )

    dest = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, "g%d" % (i % 3), float(i)) for i in range(60)],
        "k long, g string, x double",
    )
    write_delta(
        spark, df, dest, partition_by=["g"],
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    v1, n1 = update_delta(
        spark, dest, "k % 10 = 3", {"x": "x * 100", "g": "'moved'"}
    )
    assert n1 == 6
    got = sorted((r.k, r.g, r.x) for r in read_delta(spark, dest).collect())
    assert got == sorted(
        (
            k,
            "moved" if k % 10 == 3 else "g%d" % (k % 3),
            float(k) * 100 if k % 10 == 3 else float(k),
        )
        for k in range(60)
    )
    # the moved partition exists on disk (hive layout staging)
    assert os.path.isdir(os.path.join(dest, "data", "g=moved"))
    ch = read_delta_changes(
        spark, dest, starting_version=v1, ending_version=v1
    )
    cc = [(r["_change_type"], r.k, r.x) for r in ch.collect()]
    pre = sorted((k, x) for t, k, x in cc if t == "update_preimage")
    post = sorted((k, x) for t, k, x in cc if t == "update_postimage")
    assert pre == [(k, float(k)) for k in range(3, 60, 10)]
    assert post == [(k, float(k) * 100) for k in range(3, 60, 10)]
    assert len(cc) == 12
    # compose: delete the moved rows afterwards
    v2, n2 = delete_from_delta(spark, dest, "g = 'moved'")
    assert n2 == 6
    assert read_delta(spark, dest).count() == 54
    # refusals
    import pytest as _pytest

    with _pytest.raises(ValueError, match="non-empty"):
        update_delta(spark, dest, "k = 1", {})
    with _pytest.raises(ValueError, match="not in schema"):
        update_delta(spark, dest, "k = 1", {"nope": "1"})


def test_merge_delta_upsert_delete_and_refusals(spark, tmp_path):
    """DML MERGE: key-based upsert in one commit (matched rows
    DV-die, source images + unmatched inserts stage as new files),
    delete mode, authoritative cdc rows, ambiguous-source refusal,
    and merge into an empty table."""
    import pytest as _pytest

    from dataflowex_spark.sources.delta_reader import (
        merge_delta,
        read_delta,
        read_delta_changes,
        write_delta,
    )

    dest = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, "g%d" % (i % 3), float(i)) for i in range(20)],
        "k long, g string, x double",
    )
    write_delta(
        spark, df, dest, partition_by=["g"],
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    src = spark.createDataFrame(
        [(5, "gX", 500.0), (7, "g1", 700.0),
         (100, "g0", 1000.0), (101, "g1", 1010.0)],
        "k long, g string, x double",
    )
    v, stats = merge_delta(spark, dest, src, ["k"])
    assert stats == {"updated": 2, "deleted": 0, "inserted": 2}
    got = {r.k: (r.g, r.x) for r in read_delta(spark, dest).collect()}
    assert len(got) == 22
    assert got[5] == ("gX", 500.0) and got[100] == ("g0", 1000.0)
    assert got[6] == ("g0", 6.0)  # untouched rows intact
    cc = sorted(
        (r["_change_type"], r.k)
        for r in read_delta_changes(
            spark, dest, starting_version=v, ending_version=v
        ).collect()
    )
    assert cc == [
        ("insert", 100), ("insert", 101),
        ("update_postimage", 5), ("update_postimage", 7),
        ("update_preimage", 5), ("update_preimage", 7),
    ]
    # when_matched="delete": the CDC-tombstone apply shape
    v2, st2 = merge_delta(
        spark, dest,
        spark.createDataFrame(
            [(100, "", 0.0), (3, "", 0.0)],
            "k long, g string, x double"),
        ["k"], when_matched="delete", when_not_matched=False,
    )
    assert st2 == {"updated": 0, "deleted": 2, "inserted": 0}
    assert read_delta(spark, dest).count() == 20
    # ambiguous source refuses
    with _pytest.raises(ValueError, match="multiple"):
        merge_delta(
            spark, dest,
            spark.createDataFrame(
                [(1, "a", 0.0), (1, "b", 0.0)],
                "k long, g string, x double"),
            ["k"],
        )
    # merge into an empty table inserts everything
    dest2 = str(tmp_path / "t2")
    write_delta(spark, df.limit(0), dest2)
    v3, st3 = merge_delta(spark, dest2, src, ["k"])
    assert st3["inserted"] == 4
    assert read_delta(spark, dest2).count() == 4


def test_compact_delta_dvs(spark, tmp_path):
    """DV compaction: dense-DV files rewrite without their dead rows
    (dataChange=false — invisible to CDF), sparse-DV files keep
    their DV, the logical row set is identical, and a table with no
    DV debt is a no-op."""
    from dataflowex_spark.sources.delta_reader import (
        _snapshot,
        compact_delta_dvs,
        delete_from_delta,
        read_delta,
        read_delta_changes,
        write_delta,
    )

    dest = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(100)], "k long, x double"
    )
    write_delta(
        spark, df, dest,
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    # no debt: no-op, no commit
    v0 = compact_delta_dvs(spark, dest)
    assert v0 == (0, 0)
    _v1, n1 = delete_from_delta(spark, dest, "k % 2 = 0 AND k < 80")
    before = sorted(r.k for r in read_delta(spark, dest).collect())
    v2, nf = compact_delta_dvs(spark, dest, min_dead_ratio=0.3)
    assert nf > 0
    after = sorted(r.k for r in read_delta(spark, dest).collect())
    assert before == after
    _meta, adds = _snapshot(spark, dest, None)
    # every REMAINING DV is sparse (ratio < threshold) — dense ones
    # were all rewritten; sparse ones correctly stayed
    for a in adds.values():
        dv = a.get("deletionVector")
        if not dv:
            continue
        st = json.loads(a["stats"])
        assert dv["cardinality"] / st["numRecords"] < 0.3, a["path"]
    # compaction is invisible to CDF
    assert read_delta_changes(
        spark, dest, starting_version=v2, ending_version=v2
    ).count() == 0


def test_optimize_delta_binpack_and_zorder(spark, tmp_path):
    """OPTIMIZE: small files bin-pack (dataChange=false, row set
    identical, CDF silent); ZORDER BY re-clusters so stats skipping
    prunes on EVERY clustered dimension; rewritten files drop DVs."""
    from dataflowex_spark.sources.delta_reader import (
        _snapshot,
        delete_from_delta,
        optimize_delta,
        read_delta,
        read_delta_changes,
        write_delta,
    )

    dest = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, i % 50, float(i % 37)) for i in range(20000)],
        "k long, a long, b double",
    )
    write_delta(
        spark, df.repartition(16), dest,
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    delete_from_delta(spark, dest, "k % 100 = 3")
    _m, before = _snapshot(spark, dest, None)
    v1, st1 = optimize_delta(spark, dest, target_file_mb=64)
    assert st1["files_removed"] == len(before) >= 16
    _m, packed = _snapshot(spark, dest, None)
    assert len(packed) == st1["files_added"] < len(before)
    # rewritten files dropped their DVs (the scan purged dead rows)
    assert not any(a.get("deletionVector") for a in packed.values())
    assert read_delta(spark, dest).count() == 20000 - 200
    # OPTIMIZE is invisible to CDF
    assert read_delta_changes(
        spark, dest, starting_version=v1, ending_version=v1
    ).count() == 0
    # zorder: both clustered dimensions prune
    _v2, _st2 = optimize_delta(
        spark, dest, zorder_by=["k", "a"], n_files=16
    )
    _m, zfiles = _snapshot(spark, dest, None)
    nk = read_delta(spark, dest, skip_where=[("k", ">=", 19000)])
    na = read_delta(spark, dest, skip_where=[("a", "=", 7)])
    assert len(nk.inputFiles()) < len(zfiles)
    assert len(na.inputFiles()) < len(zfiles)
    got = sorted((r.k, r.a) for r in read_delta(spark, dest).collect())
    assert got == sorted(
        (i, i % 50) for i in range(20000) if i % 100 != 3
    )


def test_write_delta_merge_schema(spark, tmp_path):
    """Additive schema evolution on append: new columns extend the
    table schema under merge_schema=True (older files null-fill via
    the explicit-schema scan), refuse without it, and type changes
    always refuse."""
    import pytest as _pytest

    from dataflowex_spark.sources.delta_reader import write_delta

    dest = str(tmp_path / "t")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    write_delta(spark, df, dest)
    df2 = spark.createDataFrame(
        [(3, "c", 3.5)], "k long, v string, score double")
    with _pytest.raises(ValueError, match="merge_schema"):
        write_delta(spark, df2, dest, mode="append")
    write_delta(spark, df2, dest, mode="append", merge_schema=True)
    got = sorted(
        (r.k, r.v, r.score) for r in read_delta(spark, dest).collect()
    )
    assert got == [(1, "a", None), (2, "b", None), (3, "c", 3.5)]
    # old-shape appends keep working (missing column null-fills)
    write_delta(
        spark, spark.createDataFrame([(10, "z")], "k long, v string"),
        dest, mode="append",
    )
    assert {r.k: r.score for r in read_delta(spark, dest).collect()}[
        10
    ] is None
    with _pytest.raises(ValueError, match="type"):
        write_delta(
            spark,
            spark.createDataFrame([(1.5, "x")], "k double, v string"),
            dest, mode="append", merge_schema=True,
        )


def test_restore_delta(spark, tmp_path):
    """RESTORE as a new commit: the live set diffs back to the
    target version (stats/DVs restored exactly), history stays
    append-only, restoring to the current state is a no-op."""
    from dataflowex_spark.sources.delta_reader import (
        delete_from_delta,
        delta_history,
        restore_delta,
        read_delta,
        update_delta,
        write_delta,
    )

    dest = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(50)], "k long, x double"
    )
    write_delta(spark, df, dest)
    delete_from_delta(spark, dest, "k % 5 = 0")
    update_delta(spark, dest, "k = 7", {"x": "x * 10"})
    v = restore_delta(spark, dest, 0)
    assert v == 3
    assert sorted(
        (r.k, r.x) for r in read_delta(spark, dest).collect()
    ) == [(i, float(i)) for i in range(50)]
    # restore to the mid state: the DV-delete comes back, not the
    # update (per-version exactness, DVs included)
    restore_delta(spark, dest, 1)
    assert sorted(r.k for r in read_delta(spark, dest).collect()) == [
        k for k in range(50) if k % 5 != 0
    ]
    # no-op restore: no new commit
    latest = delta_history(dest)[-1]["version"]
    assert restore_delta(spark, dest, latest) == latest
    assert delta_history(dest)[-1]["version"] == latest


def test_rollback_iceberg(spark, tmp_path):
    """Rollback is METADATA: current-snapshot-id flips back, no
    files move, abandoned snapshots stay until expiry; expired /
    unknown snapshots refuse."""
    import pytest as _pytest

    from dataflowex_spark.sources.iceberg_reader import (
        delete_from_iceberg,
        read_iceberg,
        rollback_iceberg,
        snapshot_log,
        write_iceberg,
    )

    dest = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(50)], "k long, x double"
    )
    write_iceberg(spark, df, dest)
    delete_from_iceberg(spark, dest, "k < 25")
    assert read_iceberg(spark, dest).count() == 25
    rollback_iceberg(dest, 1)
    assert read_iceberg(spark, dest).count() == 50
    # history intact: both snapshots still listed
    assert [s["snapshot_id"] for s in snapshot_log(dest)] == [1, 2]
    with _pytest.raises(ValueError, match="not in table"):
        rollback_iceberg(dest, 999)


def test_dml_on_special_char_partition_values(spark, tmp_path):
    """Hive escaping regression (found by the r8 ops runbook): a
    partition value with a SPACE lands on disk as %20, which the
    scan's file_path URI re-encodes as %2520 — every path-keyed
    operation (DV apply, DML file matching, CDF) must decode back
    to the on-disk form or silently mis-match."""
    from dataflowex_spark.sources.delta_reader import (
        delete_from_delta,
        read_delta,
        read_delta_changes,
        update_delta,
        write_delta,
    )

    dest = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, "NOT SPECIFIED" if i % 2 else "a+b%c", float(i))
         for i in range(20)],
        "k long, g string, x double",
    )
    write_delta(
        spark, df, dest, partition_by=["g"],
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    _v, n = delete_from_delta(spark, dest, "k % 4 = 1")
    assert n == 5
    got = sorted(r.k for r in read_delta(spark, dest).collect())
    assert got == [k for k in range(20) if k % 4 != 1]
    _v2, n2 = update_delta(spark, dest, "k = 2", {"x": "x + 100"})
    assert n2 == 1
    assert {r.k: r.x for r in read_delta(spark, dest).collect()}[
        2
    ] == 102.0
    ch = read_delta_changes(spark, dest, starting_version=1,
                            ending_version=1)
    assert sorted(r.k for r in ch.collect()) == [1, 5, 9, 13, 17]


def test_delta_add_path_rfc2396_encoding_roundtrip(spark, tmp_path):
    """The protocol requires add/remove/cdc ``path`` to be an RFC
    2396-encoded URI fragment that engines DECODE before resolving.
    A partition value that hive-escapes on disk (literal ``%XX``
    bytes in the dir name) must therefore appear DOUBLY-encoded in
    the log (``%25XX``) — raw on-disk bytes would make delta-spark
    resolve a different file. Round-trip: write → log form encodes,
    read/DML/CDF resolve, restore + vacuum agree."""
    import json as _json
    import urllib.parse as _up

    from dataflowex_spark.sources.delta_reader import (
        _commit_files,
        delete_from_delta,
        read_delta,
        read_delta_changes,
        write_delta,
    )

    root = str(tmp_path / "t")
    # '=' and ':' are in the hive escape set → on-disk dir carries
    # literal %3D / %3A; ' ' exercises the %20 class
    weird = "a=b c:d"
    df = spark.createDataFrame(
        [(1, weird, 1.0), (2, weird, 2.0), (3, "plain", 3.0)],
        "k long, g string, x double",
    )
    write_delta(spark, df, root, partition_by=["g"])
    adds = []
    for v, p in sorted(_commit_files(root).items()):
        with open(p) as f:
            for line in f:
                a = _json.loads(line)
                if a.get("add"):
                    adds.append(a["add"]["path"])
    assert adds
    weird_adds = [p for p in adds if "g=" in p and "plain" not in p]
    assert weird_adds
    for p in weird_adds:
        # log form is ENCODED: no raw space/colon, and the on-disk
        # literal '%' re-encodes as %25
        assert " " not in p and "%25" in p, p
        ondisk = os.path.join(root, _up.unquote(p))
        assert os.path.exists(ondisk), ondisk
        assert not os.path.exists(os.path.join(root, p))
    got = sorted((r.k, r.g) for r in read_delta(spark, root).collect())
    assert got == [(1, weird), (2, weird), (3, "plain")]
    # DML on the escaped partition: DV write + CDF synthesis resolve
    # through the same decode
    delete_from_delta(spark, root, "k = 1")
    assert sorted(
        r.k for r in read_delta(spark, root).collect()
    ) == [2, 3]
    ch = read_delta_changes(spark, root, starting_version=1)
    assert [
        (r.k, r["_change_type"]) for r in ch.collect()
    ] == [(1, "delete")]


def test_delta_upgrade_column_mapping_and_alter(spark, tmp_path):
    """The Delta ALTER story: upgrade a PLAIN table to mode=name
    (physicalName := current names — zero rewrite, files resolve
    verbatim), then RENAME and DROP as pure metadata; DML binds the
    NEW logical names; swap-renames are legal; partition-column
    renames update partitionColumns; plain tables refuse ALTER;
    dropping a partition column refuses."""
    import glob as _glob

    import pytest as _pytest

    from dataflowex_spark.sources.delta_reader import (
        alter_delta,
        delete_from_delta,
        read_delta,
        update_delta,
        upgrade_delta_column_mapping,
        write_delta,
    )

    root = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, "g%d" % (i % 2), float(i), i * 10) for i in range(20)],
        "k long, g string, x double, y long",
    )
    write_delta(spark, df, root, partition_by=["g"])
    files_before = sorted(
        _glob.glob(os.path.join(root, "data", "**", "*.parquet"),
                   recursive=True)
    )
    # plain tables refuse ALTER (no silent rewrite)
    with _pytest.raises(DeltaProtocolError, match="mode=name"):
        alter_delta(spark, root, renames={"k": "kk"})
    upgrade_delta_column_mapping(spark, root)
    upgrade_delta_column_mapping(spark, root)  # idempotent
    assert sorted(
        r.k for r in read_delta(spark, root).collect()
    ) == list(range(20))
    # rename data + partition columns, metadata-only
    alter_delta(
        spark, root, renames={"k": "key_id", "g": "grp"}
    )
    assert files_before == sorted(
        _glob.glob(os.path.join(root, "data", "**", "*.parquet"),
                   recursive=True)
    ), "rename must be metadata-only"
    got = read_delta(spark, root)
    assert set(got.columns) == {"key_id", "grp", "x", "y"}
    assert sorted(r.key_id for r in got.collect()) == list(range(20))
    # DML binds the NEW names (through the mode=name DML path)
    delete_from_delta(spark, root, "key_id % 5 = 0 AND grp = 'g0'")
    v, n = update_delta(spark, root, "key_id = 7", {"x": "x + 100"})
    assert n == 1
    vals = {r.key_id: r.x for r in read_delta(spark, root).collect()}
    assert vals[7] == 107.0 and 0 not in vals and 10 not in vals
    # swap-rename is legal (physical names are the identity)
    alter_delta(spark, root, renames={"x": "y", "y": "x"})
    swapped = {r.key_id: (r.x, r.y) for r in read_delta(spark, root).collect()}
    assert swapped[7] == (70, 107.0)  # old y now x, old x now y
    # drop a data column; dropping a partition column refuses
    with _pytest.raises(DeltaProtocolError, match="partition"):
        alter_delta(spark, root, drops=["grp"])
    alter_delta(spark, root, drops=["y"])
    assert set(read_delta(spark, root).columns) == {
        "key_id", "grp", "x"
    }


def test_delta_check_constraints(spark, tmp_path):
    """CHECK constraints (protocol writer-3 feature): adding one
    verifies EXISTING rows; later appends/UPDATE/MERGE refuse
    violating rows BEFORE committing (table state untouched); NULL
    passes per SQL CHECK semantics; drop releases enforcement."""
    import pytest as _pytest

    from dataflowex_spark.sources.delta_reader import (
        add_delta_constraint,
        drop_delta_constraint,
        merge_delta,
        read_delta,
        update_delta,
        write_delta,
    )

    root = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, None)], "k long, x double"
    )
    write_delta(spark, df, root)
    # existing-row verification: a violated constraint refuses
    with _pytest.raises(ValueError, match="existing rows violate"):
        add_delta_constraint(spark, root, "big_x", "x > 15")
    add_delta_constraint(spark, root, "pos_x", "x > 0")  # NULL passes
    with _pytest.raises(ValueError, match="already exists"):
        add_delta_constraint(spark, root, "pos_x", "x > 1")
    # violating append refuses, table untouched
    v_before = read_delta(spark, root).count()
    with _pytest.raises(ValueError, match="pos_x"):
        write_delta(
            spark,
            spark.createDataFrame([(9, -1.0)], "k long, x double"),
            root, mode="append",
        )
    assert read_delta(spark, root).count() == v_before
    # clean append passes
    write_delta(
        spark,
        spark.createDataFrame([(9, 9.0)], "k long, x double"),
        root, mode="append",
    )
    # UPDATE producing a violation refuses
    with _pytest.raises(ValueError, match="pos_x"):
        update_delta(spark, root, "k = 1", {"x": "x - 100"})
    # MERGE with a violating source refuses
    with _pytest.raises(ValueError, match="pos_x"):
        merge_delta(
            spark, root,
            spark.createDataFrame([(2, -5.0)], "k long, x double"),
            ["k"],
        )
    # drop releases enforcement
    drop_delta_constraint(spark, root, "pos_x")
    write_delta(
        spark,
        spark.createDataFrame([(10, -1.0)], "k long, x double"),
        root, mode="append",
    )
    assert read_delta(spark, root).count() == v_before + 2
    with _pytest.raises(ValueError, match="not on table"):
        drop_delta_constraint(spark, root, "nope")


def test_delta_set_transaction_exactly_once(spark, tmp_path):
    """The protocol's SetTransaction action: a (appId, version)
    commit is idempotent — replaying the same or an older batch is a
    no-op; different apps don't interfere; the replay horizon
    survives checkpointing (txn rides in the checkpoint); the
    foreachBatch sink helper wires it end to end."""
    from dataflowex_spark.sources.delta_reader import (
        checkpoint_delta_export,
        delta_stream_sink,
        last_txn_version,
        read_delta,
        write_delta,
    )

    root = str(tmp_path / "t")
    b0 = spark.createDataFrame([(0, 0.0)], "k long, x double")
    write_delta(spark, b0, root, txn_app_id="app1", txn_version=0)
    b1 = spark.createDataFrame([(1, 1.0)], "k long, x double")
    write_delta(
        spark, b1, root, mode="append",
        txn_app_id="app1", txn_version=1,
    )
    # exact replay: no-op, no new commit, no duplicate rows
    v_before = write_delta(
        spark, b1, root, mode="append",
        txn_app_id="app1", txn_version=1,
    )
    assert read_delta(spark, root).count() == 2
    # older version replay: also a no-op
    write_delta(
        spark, b0, root, mode="append",
        txn_app_id="app1", txn_version=0,
    )
    assert read_delta(spark, root).count() == 2
    assert last_txn_version(root, "app1") == 1
    # a DIFFERENT app's version 1 commits fine
    write_delta(
        spark,
        spark.createDataFrame([(10, 1.0)], "k long, x double"),
        root, mode="append", txn_app_id="app2", txn_version=1,
    )
    assert read_delta(spark, root).count() == 3
    # replay horizon survives checkpointing
    checkpoint_delta_export(spark, root)
    assert last_txn_version(root, "app1") == 1
    assert last_txn_version(root, "app2") == 1
    assert last_txn_version(root, "nope") is None
    write_delta(
        spark, b1, root, mode="append",
        txn_app_id="app1", txn_version=1,
    )
    assert read_delta(spark, root).count() == 3
    # the sink helper: same batch_id delivered twice lands once
    sink = delta_stream_sink(root, "stream_app")
    batch = spark.createDataFrame([(100, 9.0)], "k long, x double")
    sink(batch, 7)
    sink(batch, 7)  # at-least-once redelivery
    assert read_delta(spark, root).count() == 4
    sink(batch, 8)
    assert read_delta(spark, root).count() == 5


def test_delta_txn_racing_replays_land_once(spark, tmp_path):
    """TRUE RACE on SetTransaction: two threads deliver the SAME
    batch (same appId+version) concurrently — the in-claim re-check
    guarantees exactly one commit, no duplicate rows, no errors."""
    import threading

    from dataflowex_spark.sources.delta_reader import (
        read_delta,
        write_delta,
    )

    root = str(tmp_path / "t")
    write_delta(
        spark,
        spark.createDataFrame([(0, 0.0)], "k long, x double"),
        root, txn_app_id="app", txn_version=0,
    )
    batch = spark.createDataFrame(
        [(i, float(i)) for i in range(1, 6)], "k long, x double"
    )
    errs: list = []

    def deliver():
        try:
            write_delta(
                spark, batch, root, mode="append",
                txn_app_id="app", txn_version=1,
            )
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    ts = [threading.Thread(target=deliver) for _ in range(2)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs, errs
    rows = sorted(r.k for r in read_delta(spark, root).collect())
    assert rows == list(range(6)), rows  # batch landed exactly once


def test_write_delta_append_after_rename_mode_name(spark, tmp_path):
    """write_delta append on a columnMapping mode=name table stages
    PHYSICAL names: after upgrade + alter_delta rename, appended rows
    read back with real values (the regression was silent NULLs —
    data files written under the new LOGICAL name while the scan
    reads the pinned physicalName)."""
    from dataflowex_spark.sources.delta_reader import (
        alter_delta,
        read_delta,
        upgrade_delta_column_mapping,
        write_delta,
    )

    root = str(tmp_path / "t")
    write_delta(
        spark,
        spark.createDataFrame([(1, 10.0)], "k long, x double"),
        root,
    )
    upgrade_delta_column_mapping(spark, root)
    alter_delta(spark, root, renames={"x": "score"})
    write_delta(
        spark,
        spark.createDataFrame([(2, 20.0)], "k long, score double"),
        root,
        mode="append",
    )
    got = sorted(
        (r.k, r.score) for r in read_delta(spark, root).collect()
    )
    assert got == [(1, 10.0), (2, 20.0)], got
    # overwrite stages physical too
    write_delta(
        spark,
        spark.createDataFrame([(9, 90.0)], "k long, score double"),
        root,
        mode="overwrite",
    )
    got = [(r.k, r.score) for r in read_delta(spark, root).collect()]
    assert got == [(9, 90.0)], got


def test_write_delta_create_mode_name(spark, tmp_path):
    """Creating with configuration delta.columnMapping.mode=name:
    fields get col-<uuid> physicalNames (data files never carry
    logical names), protocol is (2,5), reads/stats/DML/merge_schema
    all bind through the mapping."""
    import json as _json
    import os as _os

    import pyarrow.parquet as _pq

    from dataflowex_spark.sources.delta_reader import (
        delete_from_delta,
        read_delta,
        write_delta,
    )

    root = str(tmp_path / "t")
    write_delta(
        spark,
        spark.createDataFrame(
            [(i, float(i)) for i in range(10)], "k long, x double"
        ),
        root,
        configuration={"delta.columnMapping.mode": "name"},
    )
    # the staged parquet carries PHYSICAL names only
    dfiles = [
        _os.path.join(dp, fn)
        for dp, _dn, fns in _os.walk(_os.path.join(root, "data"))
        for fn in fns
        if fn.endswith(".parquet")
    ]
    cols = set(_pq.read_schema(dfiles[0]).names)
    assert not ({"k", "x"} & cols), cols
    assert all(c.startswith("col-") for c in cols), cols
    # protocol gates correctly and the read binds logically
    with open(
        _os.path.join(root, "_delta_log", f"{0:020d}.json")
    ) as f:
        actions = [_json.loads(line) for line in f if line.strip()]
    proto = next(a["protocol"] for a in actions if "protocol" in a)
    assert proto["minReaderVersion"] == 2
    assert proto["minWriterVersion"] == 5
    assert read_delta(spark, root).count() == 10
    # stats keyed physical -> skipping still prunes
    narrow = read_delta(spark, root, skip_where=[("k", "=", 3)])
    assert [r.k for r in narrow.collect()] == [3]
    # merge_schema on the mapped table assigns id + physicalName
    write_delta(
        spark,
        spark.createDataFrame(
            [(100, 1.0, "new")], "k long, x double, tag string"
        ),
        root,
        mode="append",
        merge_schema=True,
    )
    got = {(r.k, r.tag) for r in read_delta(spark, root).collect()}
    assert (100, "new") in got
    assert (3, None) in got  # old files null-fill the evolved column
    # DML binds through the mapping on the written table
    v, n = delete_from_delta(spark, root, "k = 3")
    assert n == 1
    assert read_delta(spark, root).filter("k = 3").count() == 0


def test_write_delta_mode_name_partitioned(spark, tmp_path):
    """Partitioned mapped table: hive dirs + partitionValues key by
    PHYSICAL name; reads re-attach logical, pruning works."""
    import os as _os

    from dataflowex_spark.sources.delta_reader import (
        read_delta,
        write_delta,
    )

    root = str(tmp_path / "t")
    write_delta(
        spark,
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "a")], "k long, g string"
        ),
        root,
        partition_by=["g"],
        configuration={"delta.columnMapping.mode": "name"},
    )
    dirs = set(_os.listdir(_os.path.join(root, "data")))
    assert all(d.startswith("col-") for d in dirs), dirs
    got = sorted((r.k, r.g) for r in read_delta(spark, root).collect())
    assert got == [(1, "a"), (2, "b"), (3, "a")] or got == sorted(
        [(1, "a"), (2, "b"), (3, "a")]
    )
    pruned = read_delta(spark, root).filter("g = 'b'")
    assert [(r.k, r.g) for r in pruned.collect()] == [(2, "b")]


def test_delta_partition_values_percent_equals(spark, tmp_path):
    """Partition values containing '%' and '=': hive-escaped on disk,
    double-encoded in the log (what delta-spark writes), decode back
    to the on-disk path — write, read, and DML all round-trip."""
    from dataflowex_spark.sources.delta_reader import (
        delete_from_delta,
        read_delta,
        write_delta,
    )

    root = str(tmp_path / "t")
    vals = ["a=b", "p%q", "100%", "plain"]
    write_delta(
        spark,
        spark.createDataFrame(
            [(i, v) for i, v in enumerate(vals)], "k long, g string"
        ),
        root,
        partition_by=["g"],
    )
    got = sorted(r.g for r in read_delta(spark, root).collect())
    assert got == sorted(vals), got
    # DML must find its own files through the logged (encoded) path
    v, n = delete_from_delta(spark, root, "g = 'a=b'")
    assert n == 1
    left = sorted(r.g for r in read_delta(spark, root).collect())
    assert left == sorted(["p%q", "100%", "plain"]), left


def test_delta_commit_backend_conditional_put(spark, tmp_path):
    """The Delta writer race suite holds on the OBJECT-STORE backend
    (conditional PUT, no O_EXCL / rename / link): concurrent appends
    both land, and a true SetTransaction replay race lands exactly
    once — proving the commit protocol ports to S3-class storage."""
    import threading

    from dataflowex_spark.sources.commit_backend import (
        ConditionalPutCommitBackend,
        commit_backend,
    )
    from dataflowex_spark.sources.delta_reader import (
        read_delta,
        write_delta,
    )

    root = str(tmp_path / "t")
    with commit_backend(ConditionalPutCommitBackend()):
        write_delta(
            spark,
            spark.createDataFrame([(0, 0.0)], "k long, x double"),
            root,
            txn_app_id="app",
            txn_version=0,
        )
        errs: list = []

        def appender(val):
            try:
                write_delta(
                    spark,
                    spark.createDataFrame(
                        [(val, float(val))], "k long, x double"
                    ),
                    root,
                    mode="append",
                )
            except Exception as e:  # noqa: BLE001
                errs.append(e)

        th = [
            threading.Thread(target=appender, args=(x,))
            for x in (201, 202)
        ]
        [t.start() for t in th]
        [t.join() for t in th]
        assert not errs, errs
        assert read_delta(spark, root).count() == 3
        # exactly-once replay race on the conditional-put backend
        batch = spark.createDataFrame(
            [(i, float(i)) for i in range(300, 305)],
            "k long, x double",
        )

        def deliver():
            try:
                write_delta(
                    spark, batch, root, mode="append",
                    txn_app_id="app", txn_version=1,
                )
            except Exception as e:  # noqa: BLE001
                errs.append(e)

        ts = [threading.Thread(target=deliver) for _ in range(2)]
        [t.start() for t in ts]
        [t.join() for t in ts]
        assert not errs, errs
        assert read_delta(spark, root).count() == 8  # batch once


def test_delta_v2_checkpoint_roundtrip(spark, tmp_path):
    """V2 checkpoint (PROTOCOL.md v2Checkpoint): top-level file +
    _sidecars, feature-gated on a 3/7 protocol. After the JSON
    commits age out, the snapshot replays entirely from the v2
    checkpoint — adds (including DV-bearing ones) ride in sidecars."""
    import os as _os

    from dataflowex_spark.sources.delta_reader import (
        checkpoint_delta_export,
        delete_from_delta,
        read_delta,
        write_delta,
    )

    root = str(tmp_path / "t")
    write_delta(
        spark,
        spark.createDataFrame(
            [(i, float(i)) for i in range(20)], "k long, x double"
        ),
        root,
    )
    write_delta(
        spark,
        spark.createDataFrame([(100, 1.0)], "k long, x double"),
        root, mode="append",
    )
    delete_from_delta(spark, root, "k = 7")  # DV rides the add
    want = sorted(r.k for r in read_delta(spark, root).collect())
    cpv = checkpoint_delta_export(spark, root, v2=True)
    log = _os.path.join(root, "_delta_log")
    names = _os.listdir(log)
    assert any(
        ".checkpoint." in n
        and n.endswith(".parquet")
        and len(n[: -len(".parquet")].split(".")) == 3
        and not n[: -len(".parquet")].split(".")[2].isdigit()
        for n in names
    ), names
    assert _os.path.isdir(_os.path.join(log, "_sidecars"))
    # retention: the JSON commits up to the checkpoint age out
    for n in names:
        if n.endswith(".json") and n[:-5].isdigit() and int(n[:-5]) <= cpv:
            _os.unlink(_os.path.join(log, n))
    got = sorted(r.k for r in read_delta(spark, root).collect())
    assert got == want
    # and further writes on top of the v2 checkpoint still work
    write_delta(
        spark,
        spark.createDataFrame([(200, 2.0)], "k long, x double"),
        root, mode="append",
    )
    assert sorted(
        r.k for r in read_delta(spark, root).collect()
    ) == want + [200]


def test_delta_checkpoint_resolution_precedence(spark, tmp_path):
    """When several complete checkpoint forms coexist at the same
    version, resolution prefers V2 > simple > multi-part — and a v2
    checkpoint with a missing sidecar REFUSES instead of silently
    dropping live files."""
    import os as _os

    import pytest as _pytest

    from dataflowex_spark.sources.delta_reader import (
        DeltaProtocolError,
        _checkpoint_for,
        checkpoint_delta_export,
        read_delta,
        write_delta,
    )

    root = str(tmp_path / "t")
    write_delta(
        spark,
        spark.createDataFrame(
            [(i, float(i)) for i in range(6)], "k long, x double"
        ),
        root,
    )
    write_delta(
        spark,
        spark.createDataFrame([(9, 9.0)], "k long, x double"),
        root, mode="append",
    )
    checkpoint_delta_export(spark, root, parts=2)  # multipart at v1
    v = checkpoint_delta_export(spark, root)  # simple at v1... same v
    v2v = checkpoint_delta_export(spark, root, v2=True)  # v2 at v2 (upgrade commit)
    # at the v2 version, the v2 file wins
    got = _checkpoint_for(root, 1 << 62)
    assert got[0] == v2v
    bits = _os.path.basename(got[1][0])[: -len(".parquet")].split(".")
    assert len(bits) == 3 and not bits[2].isdigit()
    # at the pre-upgrade version, simple beats multipart
    got1 = _checkpoint_for(root, v)
    assert got1[0] == v
    assert _os.path.basename(got1[1][0]) == f"{v:020d}.checkpoint.parquet"
    # missing sidecar refuses
    sdir = _os.path.join(root, "_delta_log", "_sidecars")
    victim = _os.listdir(sdir)[0]
    _os.rename(
        _os.path.join(sdir, victim), _os.path.join(sdir, victim + ".bak")
    )
    with _pytest.raises(DeltaProtocolError, match="sidecar missing"):
        read_delta(spark, root).collect()
    _os.rename(
        _os.path.join(sdir, victim + ".bak"), _os.path.join(sdir, victim)
    )
    assert read_delta(spark, root).count() == 7


def test_delta_v2_checkpoint_struct_shaped_fixture(spark, tmp_path):
    """A v2 checkpoint written the delta-spark way (STRUCT cells, not
    JSON strings) reads identically — top-level sidecar/metaData/
    protocol structs, sidecar files with struct add rows."""
    import os as _os

    from dataflowex_spark.sources.delta_reader import (
        read_delta,
        stage_parquet_file,
    )

    root = str(tmp_path / "t")
    log = _os.path.join(root, "_delta_log")
    sdir = _os.path.join(log, "_sidecars")
    _os.makedirs(sdir)
    # one real data file
    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, s string"
    )
    stage_parquet_file(df, root, "data/f1.parquet")
    import json as _json

    schema_str = _json.dumps(
        {
            "type": "struct",
            "fields": [
                {"name": "k", "type": "long", "nullable": True, "metadata": {}},
                {"name": "s", "type": "string", "nullable": True, "metadata": {}},
            ],
        }
    )
    # sidecar with a STRUCT add row
    from pyspark.sql import types as _T

    sc_schema = _T.StructType(
        [
            _T.StructField(
                "add",
                _T.StructType(
                    [
                        _T.StructField("path", _T.StringType()),
                        _T.StructField(
                            "partitionValues",
                            _T.MapType(_T.StringType(), _T.StringType()),
                        ),
                        _T.StructField("size", _T.LongType()),
                        _T.StructField("dataChange", _T.BooleanType()),
                    ]
                ),
            )
        ]
    )
    sc_rows = [
        (
            (
                "data/f1.parquet",
                {},
                _os.path.getsize(
                    _os.path.join(root, "data/f1.parquet")
                ),
                True,
            ),
        )
    ]
    spark.createDataFrame(sc_rows, sc_schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "scstage"))
    part = [
        f
        for f in _os.listdir(str(tmp_path / "scstage"))
        if f.endswith(".parquet")
    ][0]
    _os.replace(
        str(tmp_path / "scstage" / part),
        _os.path.join(sdir, "sc-1.parquet"),
    )
    top_schema = _T.StructType(
        [
            _T.StructField(
                "protocol",
                _T.StructType(
                    [
                        _T.StructField("minReaderVersion", _T.IntegerType()),
                        _T.StructField("minWriterVersion", _T.IntegerType()),
                        _T.StructField(
                            "readerFeatures",
                            _T.ArrayType(_T.StringType()),
                        ),
                        _T.StructField(
                            "writerFeatures",
                            _T.ArrayType(_T.StringType()),
                        ),
                    ]
                ),
            ),
            _T.StructField(
                "metaData",
                _T.StructType(
                    [
                        _T.StructField("id", _T.StringType()),
                        _T.StructField("schemaString", _T.StringType()),
                        _T.StructField(
                            "partitionColumns",
                            _T.ArrayType(_T.StringType()),
                        ),
                        _T.StructField(
                            "configuration",
                            _T.MapType(_T.StringType(), _T.StringType()),
                        ),
                    ]
                ),
            ),
            _T.StructField(
                "checkpointMetadata",
                _T.StructType(
                    [_T.StructField("version", _T.LongType())]
                ),
            ),
            _T.StructField(
                "sidecar",
                _T.StructType(
                    [
                        _T.StructField("path", _T.StringType()),
                        _T.StructField("sizeInBytes", _T.LongType()),
                    ]
                ),
            ),
        ]
    )
    top_rows = [
        (
            (3, 7, ["v2Checkpoint"], ["v2Checkpoint"]),
            None,
            None,
            None,
        ),
        (
            None,
            ("fixture", schema_str, [], {}),
            None,
            None,
        ),
        (None, None, (0,), None),
        (
            None,
            None,
            None,
            (
                "sc-1.parquet",
                _os.path.getsize(_os.path.join(sdir, "sc-1.parquet")),
            ),
        ),
    ]
    spark.createDataFrame(top_rows, top_schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "topstage"))
    part = [
        f
        for f in _os.listdir(str(tmp_path / "topstage"))
        if f.endswith(".parquet")
    ][0]
    _os.replace(
        str(tmp_path / "topstage" / part),
        _os.path.join(log, f"{0:020d}.checkpoint.abc123def.parquet"),
    )
    with open(_os.path.join(log, "_last_checkpoint"), "w") as f:
        f.write(_json.dumps({"version": 0, "size": 4}))
    got = sorted((r.k, r.s) for r in read_delta(spark, root).collect())
    assert got == [(1, "a"), (2, "b"), (3, "c")]


def test_latest_protocol_survives_retention(spark, tmp_path):
    """After the JSON tail ages out, _latest_protocol resolves from
    the checkpoint — a post-retention DML must not re-emit a
    protocol that silently DROPS features (v2Checkpoint was the
    at-risk feature: DV upgrade would have clobbered it)."""
    import os as _os

    from dataflowex_spark.sources.delta_reader import (
        _latest_protocol,
        checkpoint_delta_export,
        delete_from_delta,
        read_delta,
        write_delta,
    )

    root = str(tmp_path / "t")
    write_delta(
        spark,
        spark.createDataFrame(
            [(i, float(i)) for i in range(10)], "k long, x double"
        ),
        root,
    )
    cpv = checkpoint_delta_export(spark, root, v2=True)
    log = _os.path.join(root, "_delta_log")
    for n in list(_os.listdir(log)):
        if n.endswith(".json") and n[:-5].isdigit() and int(n[:-5]) <= cpv:
            _os.unlink(_os.path.join(log, n))
    proto = _latest_protocol(root)
    assert "v2Checkpoint" in (proto.get("readerFeatures") or []), proto
    # DML after retention keeps the feature set
    delete_from_delta(spark, root, "k = 3")
    proto2 = _latest_protocol(root)
    feats = set(proto2.get("readerFeatures") or [])
    assert {"v2Checkpoint", "deletionVectors"} <= feats, proto2
    assert read_delta(spark, root).count() == 9


def test_delta_metadata_tables(spark, tmp_path):
    """read_delta_meta: files (with DV dead counts) / history /
    detail — the DESCRIBE DETAIL surface, metadata-only."""
    from dataflowex_spark.sources.delta_reader import (
        delete_from_delta,
        read_delta,
        read_delta_meta,
        write_delta,
    )

    root = str(tmp_path / "t")
    write_delta(
        spark,
        spark.createDataFrame(
            [(i, i % 2, float(i)) for i in range(20)],
            "k long, g long, x double",
        ),
        root,
        partition_by=["g"],
    )
    delete_from_delta(spark, root, "k < 4")
    files = read_delta_meta(spark, root, "files").collect()
    assert sum(r.record_count for r in files) == 20
    assert sum(r.dv_dead_count for r in files) == 4
    logical = sum(r.record_count - r.dv_dead_count for r in files)
    assert logical == read_delta(spark, root).count() == 16
    assert all('"g"' in r.partition_values for r in files)
    hist = read_delta_meta(spark, root, "history").collect()
    assert [h.operation for h in hist] == ["WRITE", "DELETE"]
    det = read_delta_meta(spark, root, "detail").collect()[0]
    assert det.num_files == len(files)
    assert det.min_reader_version == 3  # DV upgrade
    assert '"g"' in det.partition_columns


def test_version_at_timestamp_prefers_ict(spark, tmp_path):
    """TIMESTAMP AS OF trusts commitInfo.inCommitTimestamp over the
    wall-clock timestamp when a table enables the ICT feature —
    hand-edit the log to diverge the two and pin the preference."""
    import json as _json
    import os as _os

    from dataflowex_spark.sources.delta_reader import (
        read_delta,
        version_at_timestamp,
        write_delta,
    )

    root = str(tmp_path / "t")
    write_delta(
        spark, spark.createDataFrame([(1,)], "k long"), root
    )
    write_delta(
        spark,
        spark.createDataFrame([(2,)], "k long"),
        root, mode="append",
    )
    log = _os.path.join(root, "_delta_log")
    for v, ict in ((0, 1000), (1, 2000)):
        p = _os.path.join(log, f"{v:020d}.json")
        lines = []
        for line in open(p):
            if not line.strip():
                continue
            a = _json.loads(line)
            if "commitInfo" in a and a["commitInfo"]:
                a["commitInfo"]["timestamp"] = 999_999_999_999
                a["commitInfo"]["inCommitTimestamp"] = ict
            lines.append(_json.dumps(a) + "\n")
        with open(p, "w") as f:
            f.writelines(lines)
    assert version_at_timestamp(root, 1500) == 0
    assert version_at_timestamp(root, 2500) == 1
    assert read_delta(spark, root, version=version_at_timestamp(root, 1500)).count() == 1


def test_checkpoint_after_retention_keeps_protocol(spark, tmp_path):
    """Protocol must not REGRESS across checkpoint-after-retention
    (r11 advice): after log retention deletes the JSON tail behind a
    v2 checkpoint, the NEXT checkpoint must persist the features-era
    3/7 protocol (v2Checkpoint/deletionVectors gates) resolved
    checkpoint-aware via _latest_protocol — not a replayed-from-
    nothing base (1,2)."""
    import os as _os

    from dataflowex_spark.sources.delta_reader import (
        _latest_protocol,
        checkpoint_delta_export,
        delete_from_delta,
        read_delta,
        write_delta,
    )

    root = str(tmp_path / "t")
    write_delta(
        spark,
        spark.createDataFrame(
            [(i, float(i)) for i in range(10)], "k long, x double"
        ),
        root,
    )
    delete_from_delta(spark, root, "k = 3")
    cpv = checkpoint_delta_export(spark, root, v2=True)
    log = _os.path.join(root, "_delta_log")
    for n in _os.listdir(log):
        if n.endswith(".json") and n[:-5].isdigit() and int(n[:-5]) <= cpv:
            _os.unlink(_os.path.join(log, n))
    # one post-retention commit, then checkpoint again (v1 path —
    # the one that replayed JSON commits only, pre-fix)
    write_delta(
        spark,
        spark.createDataFrame([(100, 1.0)], "k long, x double"),
        root, mode="append",
    )
    want = sorted(r.k for r in read_delta(spark, root).collect())
    cpv2 = checkpoint_delta_export(spark, root)
    assert cpv2 > cpv
    proto = _latest_protocol(root)
    assert proto.get("minReaderVersion") == 3, proto
    assert proto.get("minWriterVersion") == 7, proto
    assert "v2Checkpoint" in (proto.get("readerFeatures") or []), proto
    # retention behind the NEW checkpoint: table must still read and
    # the protocol gates must survive the second replay-from-parquet
    for n in _os.listdir(log):
        if n.endswith(".json") and n[:-5].isdigit() and int(n[:-5]) <= cpv2:
            _os.unlink(_os.path.join(log, n))
    assert sorted(r.k for r in read_delta(spark, root).collect()) == want
    proto2 = _latest_protocol(root)
    assert "v2Checkpoint" in (proto2.get("readerFeatures") or []), proto2


def test_in_commit_timestamps_write_path(spark, tmp_path):
    """ICT WRITE support (r11, VERDICT item 10): a table created with
    delta.enableInCommitTimestamps in its configuration stamps every
    commit with a MONOTONE commitInfo.inCommitTimestamp through the
    claim funnel, and version_at_timestamp resolves through the ICTs
    (mtime-proof: backdating the log files does not change
    resolution)."""
    import json as _json
    import os as _os

    from dataflowex_spark.sources.delta_reader import (
        _commit_files,
        _latest_protocol,
        delete_from_delta,
        read_delta,
        version_at_timestamp,
        write_delta,
    )

    def icts(root):
        out = {}
        for v, p in sorted(_commit_files(root).items()):
            for line in open(p):
                line = line.strip()
                if not line:
                    continue
                a = _json.loads(line)
                ci = a.get("commitInfo")
                if ci and ci.get("inCommitTimestamp"):
                    out[v] = int(ci["inCommitTimestamp"])
        return out

    # --- created WITH the property: every commit stamped
    r1 = str(tmp_path / "born")
    write_delta(
        spark,
        spark.createDataFrame([(1, 1.0)], "k long, x double"),
        r1,
        configuration={"delta.enableInCommitTimestamps": "true"},
    )
    write_delta(
        spark,
        spark.createDataFrame([(2, 2.0)], "k long, x double"),
        r1, mode="append",
    )
    delete_from_delta(spark, r1, "k = 1")
    t1 = icts(r1)
    assert sorted(t1) == [0, 1, 2]
    assert t1[0] < t1[1] < t1[2], t1
    proto = _latest_protocol(r1)
    assert "inCommitTimestamp" in (proto.get("writerFeatures") or [])
    # mtime-proof resolution: backdate all log files wildly
    from dataflowex_spark.sources.delta_reader import _log_dir
    for fn in _os.listdir(_log_dir(r1)):
        p = _os.path.join(_log_dir(r1), fn)
        _os.utime(p, (1000, 1000))
    assert version_at_timestamp(r1, t1[1]) == 1
    assert version_at_timestamp(r1, t1[2] + 10) == 2
    assert sorted(r.k for r in read_delta(spark, r1).collect()) == [2]


def test_delta_row_tracking_lifecycle(spark, tmp_path):
    """ROW TRACKING (r11, PROTOCOL.md "Row Tracking"): ids assigned
    once at append above the domain-kept high-water mark, SURVIVE
    DV delete -> compaction fold (materialized into rewritten
    files) -> UPDATE (id kept, row commit version bumps) -> second
    fold (materialized-column read path); fresh appends continue
    above the watermark; lineage time-travels; the domain rides
    checkpoints past log retention."""
    import dataflowex_spark.sources.delta_reader as dr

    root = str(tmp_path / "t")
    dr.write_delta(
        spark,
        spark.range(20)
        .selectExpr("id as k", "cast(id as double) as x")
        .repartition(2),
        root,
        configuration={"delta.enableRowTracking": "true"},
    )
    dr.write_delta(
        spark,
        spark.range(100, 110)
        .selectExpr("id as k", "cast(id as double) as x")
        .repartition(1),
        root,
        mode="append",
    )
    lin0 = {
        r.k: (r._row_id, r._row_commit_version)
        for r in dr.read_delta_row_ids(spark, root).collect()
    }
    assert len(lin0) == 30
    assert len({v[0] for v in lin0.values()}) == 30  # ids unique
    assert dr._row_id_high_water_mark(spark, root) == 29
    # DV delete: files untouched, lineage untouched
    _v, n = dr.delete_from_delta(spark, root, "k % 4 = 1")
    assert n == 8
    lin1 = {
        r.k: (r._row_id, r._row_commit_version)
        for r in dr.read_delta_row_ids(spark, root).collect()
    }
    assert all(lin1[k] == lin0[k] for k in lin1) and len(lin1) == 22
    # compaction fold: survivors rewrite with BOTH lineage values
    # materialized (invisible to readers; rcv must not move)
    _v3, nf = dr.compact_delta_dvs(spark, root, min_dead_ratio=0.01)
    assert nf == 3
    lin2 = {
        r.k: (r._row_id, r._row_commit_version)
        for r in dr.read_delta_row_ids(spark, root).collect()
    }
    assert lin2 == lin1
    # UPDATE: id kept via materialization, rcv = the update commit
    v4, nu = dr.update_delta(spark, root, "k = 2", {"x": "x + 1000"})
    assert nu == 1
    lin3 = {
        r.k: (r._row_id, r._row_commit_version)
        for r in dr.read_delta_row_ids(spark, root).collect()
    }
    assert lin3[2] == (lin2[2][0], v4)
    assert all(lin3[k] == lin2[k] for k in lin3 if k != 2)
    # second fold reads the MATERIALIZED columns of the first
    dr.delete_from_delta(spark, root, "k = 8")
    dr.compact_delta_dvs(spark, root, min_dead_ratio=0.01)
    lin4 = {
        r.k: r._row_id
        for r in dr.read_delta_row_ids(spark, root).collect()
    }
    assert all(lin4[k] == lin3[k][0] for k in lin4) and 8 not in lin4
    # fresh append continues above the watermark, never reuses
    dr.write_delta(
        spark,
        spark.createDataFrame([(999, 9.0)], "k long, x double"),
        root,
        mode="append",
    )
    lin5 = {
        r.k: r._row_id
        for r in dr.read_delta_row_ids(spark, root).collect()
    }
    assert lin5[999] > 30
    assert len(set(lin5.values())) == len(lin5)
    # normal read stays clean of hidden columns
    assert dr.read_delta(spark, root).columns == ["k", "x"]
    # time-travel lineage: the v1 snapshot reads its own ids
    early = {
        r.k: r._row_id
        for r in dr.read_delta_row_ids(spark, root, version=1).collect()
    }
    assert len(early) == 30
    assert all(early[k] == lin0[k][0] for k in early)
    # the high-water-mark domain survives checkpoint + retention
    cpv = dr.checkpoint_delta_export(spark, root)
    hwm = dr._row_id_high_water_mark(spark, root)
    for f in list(os.listdir(root + "/_delta_log")):
        if f.endswith(".json") and int(f.split(".")[0]) < cpv:
            os.remove(root + "/_delta_log/" + f)
    assert dr._row_id_high_water_mark(spark, root) == hwm
    dr.write_delta(
        spark,
        spark.createDataFrame([(1000, 1.0)], "k long, x double"),
        root,
        mode="append",
    )
    lin6 = {
        r.k: r._row_id
        for r in dr.read_delta_row_ids(spark, root).collect()
    }
    assert lin6[1000] == hwm + 1 and len(set(lin6.values())) == len(lin6)


def test_delta_row_tracking_enable_backfill_and_guards(
    spark, tmp_path
):
    """Row tracking enabled at creation: every live file gets ids
    (rcv = the commit that added it; protocol carries
    rowTracking+domainMetadata), MERGE and OPTIMIZE keep them, an
    untracked table refuses row-id reads and creation refuses under
    column mapping."""
    import dataflowex_spark.sources.delta_reader as dr

    plain = str(tmp_path / "plain")
    dr.write_delta(spark, spark.range(3).selectExpr("id as k"), plain)
    with pytest.raises(dr.DeltaProtocolError, match="enableRowTracking"):
        dr.read_delta_row_ids(spark, plain)
    # another writer enables it later (v1 re-adds the files with
    # baseRowIds): a restore to v0 would bring back id-less files
    with open(os.path.join(plain, "_delta_log", f"{0:020d}.json")) as f:
        v0 = [json.loads(ln) for ln in f if ln.strip()]
    v1 = [{"metaData": {**a["metaData"], "configuration": {
        **(a["metaData"].get("configuration") or {}),
        "delta.enableRowTracking": "true",
        "delta.rowTracking.materializedRowIdColumnName": "_rid",
        "delta.rowTracking.materializedRowCommitVersionColumnName": "_rcv",
    }}} for a in v0 if "metaData" in a]
    next_id = 0
    for a in v0:
        if "add" in a:
            n = json.loads(a["add"]["stats"])["numRecords"]
            v1.append({"add": {**a["add"], "dataChange": False,
                               "baseRowId": next_id,
                               "defaultRowCommitVersion": 1}})
            next_id += n
    with open(os.path.join(plain, "_delta_log", f"{1:020d}.json"), "w") as f:
        f.write("".join(json.dumps(a) + "\n" for a in v1))
    assert sorted(r._row_id for r in dr.read_delta_row_ids(
        spark, plain).collect()) == [0, 1, 2]
    with pytest.raises(dr.DeltaProtocolError, match="predates"):
        dr.restore_delta(spark, plain, 0)
    root = str(tmp_path / "t")
    dr.write_delta(
        spark,
        spark.range(10)
        .selectExpr("id as k", "cast(id as double) as x")
        .repartition(2),
        root,
        configuration={"delta.enableRowTracking": "true"},
    )
    dr.write_delta(
        spark,
        spark.range(50, 55)
        .selectExpr("id as k", "cast(id as double) as x")
        .repartition(1),
        root,
        mode="append",
    )
    lin = {
        r.k: (r._row_id, r._row_commit_version)
        for r in dr.read_delta_row_ids(spark, root).collect()
    }
    assert len(lin) == 15
    assert len({x[0] for x in lin.values()}) == 15
    assert all(rcv == (1 if k >= 50 else 0) for k, (_, rcv) in lin.items())
    proto = dr._latest_protocol(root)
    assert set(proto["writerFeatures"]) >= {
        "rowTracking",
        "domainMetadata",
    }
    dr.delete_from_delta(spark, root, "k = 3")
    lin2 = {
        r.k: r._row_id
        for r in dr.read_delta_row_ids(spark, root).collect()
    }
    assert all(lin2[k] == lin[k][0] for k in lin2) and 3 not in lin2
    # MERGE: updated keys KEEP their row id (materialized), inserts
    # get fresh ids above the watermark
    hwm0 = dr._row_id_high_water_mark(spark, root)
    _v, st = dr.merge_delta(
        spark,
        root,
        spark.createDataFrame(
            [(1, 5.0), (777, 7.0)], "k long, x double"
        ),
        on=["k"],
    )
    assert st == {"updated": 1, "deleted": 0, "inserted": 1}
    lin3 = {
        r.k: (r._row_id, r._row_commit_version)
        for r in dr.read_delta_row_ids(spark, root).collect()
    }
    assert lin3[1][0] == lin[1][0]  # merge-updated row keeps its id
    assert lin3[777][0] > hwm0  # insert gets a fresh id
    assert all(
        lin3[k][0] == lin[k][0] for k in lin3 if k not in (1, 777)
    )
    vals = {r.k: r.x for r in dr.read_delta(spark, root).collect()}
    assert vals[1] == 5.0 and vals[777] == 7.0
    # OPTIMIZE bin-pack: ids AND row commit versions both survive
    _v, om = dr.optimize_delta(spark, root, n_files=1)
    assert om["files_removed"] >= 2
    lin4 = {
        r.k: (r._row_id, r._row_commit_version)
        for r in dr.read_delta_row_ids(spark, root).collect()
    }
    assert lin4 == lin3
    # creation refuses under column mapping
    with pytest.raises(dr.DeltaProtocolError, match="columnMapping"):
        dr.write_delta(
            spark,
            spark.createDataFrame([(1, 1.0)], "k long, x double"),
            str(tmp_path / "m"),
            configuration={
                "delta.enableRowTracking": "true",
                "delta.columnMapping.mode": "name",
            },
        )


def test_delta_clustered_table(spark, tmp_path):
    """CLUSTERED TABLE (r11, PROTOCOL.md "Clustered Table"): the
    clustering columns live in the delta.clustering domain +
    clusteredTable writer feature; appends land unclustered and
    OPTIMIZE WITHOUT explicit columns reads the domain (the liquid
    shape); cluster_by on an existing table and cluster/partition
    overlap refuse."""
    import dataflowex_spark.sources.delta_reader as dr

    root = str(tmp_path / "t")
    df = spark.range(4000).selectExpr(
        "id as k",
        "cast(id % 97 as long) as a",
        "cast((id * 37) % 89 as long) as b",
    ).repartition(8)
    dr.write_delta(spark, df, root, cluster_by=["a", "b"])
    assert dr.delta_clustering_columns(root) == ["a", "b"]
    proto = dr._latest_protocol(root)
    assert {"clusteredTable", "domainMetadata"} <= set(
        proto["writerFeatures"]
    )
    dr.write_delta(
        spark,
        spark.range(4000, 6000).selectExpr(
            "id as k",
            "cast(id % 97 as long) as a",
            "cast((id * 37) % 89 as long) as b",
        ).repartition(4),
        root,
        mode="append",
    )
    _v, st = dr.optimize_delta(spark, root, n_files=4)
    assert st["files_removed"] == 12 and st["files_added"] == 4
    # clustered layout: per-file spans on BOTH columns are tight
    # (naive layout would give every file the full [0,96]/[0,88])
    meta, adds = dr._snapshot(spark, root, None)
    for a in adds.values():
        s = json.loads(a["stats"])
        assert s["maxValues"]["a"] - s["minValues"]["a"] < 97
    assert dr.read_delta(spark, root).count() == 6000
    # point skip opens a subset of files
    assert (
        dr.read_delta(spark, root, skip_where=[("a", "=", 5)]).count()
        == 62
    )
    # clustering is declared at creation only; overlap refuses
    root2 = str(tmp_path / "p")
    dr.write_delta(spark, df, root2)
    assert dr.delta_clustering_columns(root2) == []
    with pytest.raises(ValueError, match="at table creation"):
        dr.write_delta(spark, df, root2, mode="append", cluster_by=["b"])
    assert dr.delta_clustering_columns(root2) == []
    root3 = str(tmp_path / "q")
    with pytest.raises(ValueError, match="overlap"):
        dr.write_delta(
            spark,
            df,
            root3,
            partition_by=["a"],
            cluster_by=["a"],
        )


def test_sync_delta_uniform(spark, tmp_path):
    """UNIFORM sync (r11): one Delta table, two formats' readers —
    sync_delta_uniform maintains an Iceberg metadata tree over the
    SAME data files (zero copies). Read equality both ways,
    idempotent per Delta version, incremental snapshots time-travel,
    bounds/partition tuples ride into the Iceberg side (skip_where
    prunes), DV debt refuses until compacted, foreign metadata/
    refuses."""
    import dataflowex_spark.sources.delta_reader as dr
    import dataflowex_spark.sources.iceberg_reader as ir
    from dataflowex_spark.sources.lakehouse import sync_delta_uniform

    root = str(tmp_path / "t")
    df = spark.range(1000).selectExpr(
        "id as k", "cast(id % 7 as long) as g",
        "cast(id as double) as x",
    ).repartition(4)
    dr.write_delta(spark, df, root)
    sid = sync_delta_uniform(spark, root)
    assert {r.k for r in ir.read_iceberg(spark, root).collect()} == {
        r.k for r in dr.read_delta(spark, root).collect()
    }
    assert sync_delta_uniform(spark, root) == sid  # idempotent
    dr.write_delta(
        spark,
        spark.range(1000, 1500).selectExpr(
            "id as k", "cast(id % 7 as long) as g",
            "cast(id as double) as x",
        ),
        root,
        mode="append",
    )
    sid2 = sync_delta_uniform(spark, root)
    assert sid2 == sid + 1
    assert ir.read_iceberg(spark, root).count() == 1500
    assert ir.read_iceberg(spark, root, snapshot_id=sid).count() == 1000
    # add.stats bounds ride: a point read is skip-prunable
    assert (
        ir.read_iceberg(spark, root, skip_where=[("k", "=", 42)]).count()
        == 1
    )
    # DV debt refuses; compaction clears; re-sync reflects deletion
    dr.delete_from_delta(spark, root, "k = 3")
    with pytest.raises(ValueError, match="deletion vectors"):
        sync_delta_uniform(spark, root)
    dr.compact_delta_dvs(spark, root, min_dead_ratio=0.0)
    sync_delta_uniform(spark, root)
    assert ir.read_iceberg(spark, root).count() == 1499
    # identity-partitioned Delta -> typed partition spec + pruning
    root2 = str(tmp_path / "p")
    dr.write_delta(spark, df, root2, partition_by=["g"])
    sync_delta_uniform(spark, root2)
    assert (
        ir.read_iceberg(spark, root2, skip_where=[("g", "=", 3)]).count()
        == sum(1 for i in range(1000) if i % 7 == 3)
    )
    # a real (non-uniform) Iceberg metadata/ refuses to be clobbered
    root3 = str(tmp_path / "i")
    ir.write_iceberg(
        spark, spark.range(3).selectExpr("id as k"), root3
    )
    os.makedirs(root3 + "/_delta_log", exist_ok=True)
    dr.write_conformance_log(
        root3,
        [[
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            {"metaData": {
                "id": "x",
                "schemaString": spark.range(1).selectExpr("id as k").schema.json(),
                "partitionColumns": [],
                "format": {"provider": "parquet"},
                "configuration": {},
            }},
        ]],
    )
    with pytest.raises(ValueError, match="not.*written by this sync"):
        sync_delta_uniform(spark, root3)


# ---------------------------------------------------------------------
# One commit rule: a writer claims the successor of the version its
# snapshot was folded at. Each race test runs one concurrent operation
# right after the writer's first read returns, so the concurrent
# commit lands between the writer's read and its claim.
# ---------------------------------------------------------------------


_DR = "dataflowex_spark.sources.delta_reader"


def _after_first_call(monkeypatch, target, op):
    """Wrap the function at the dotted path ``target`` so that its
    first call runs ``op`` once, after the wrapped call has
    returned."""
    import importlib

    module, name = target.rsplit(".", 1)
    real = getattr(importlib.import_module(module), name)
    pending = [op]

    def read_then_race(*args, **kwargs):
        out = real(*args, **kwargs)
        if pending:
            pending.pop()()
        return out

    monkeypatch.setattr(target, read_then_race)


def test_race_add_constraint_keeps_both(spark, tmp_path, monkeypatch):
    import dataflowex_spark.sources.delta_reader as dr

    dest = str(tmp_path / "t")
    dr.write_delta(
        spark, spark.range(10).selectExpr("id", "id * 2 as x"), dest
    )
    _after_first_call(
        monkeypatch,
        _DR + "._snapshot",
        lambda: dr.add_delta_constraint(spark, dest, "c_other", "x >= 0"),
    )
    dr.add_delta_constraint(spark, dest, "c_mine", "id >= 0")
    meta, _adds = dr._snapshot(spark, dest, None)
    assert sorted(dr._check_constraints(meta)) == ["c_mine", "c_other"]


def test_race_delete_delete_one_file(spark, tmp_path, monkeypatch):
    """Both deletion vectors land on the same file: the second one is
    built on top of the first, not beside it."""
    import dataflowex_spark.sources.delta_reader as dr

    dest = str(tmp_path / "t")
    dr.write_delta(spark, spark.range(100).coalesce(1), dest)
    _after_first_call(
        monkeypatch,
        _DR + "._snapshot",
        lambda: dr.delete_from_delta(spark, dest, "id < 10"),
    )
    dr.delete_from_delta(spark, dest, "id >= 90")
    ids = sorted(r.id for r in dr.read_delta(spark, dest).collect())
    assert ids == list(range(10, 90))


def test_race_overwrite_append(spark, tmp_path, monkeypatch):
    """The log orders the append first, so the overwrite removes it."""
    import dataflowex_spark.sources.delta_reader as dr

    dest = str(tmp_path / "t")
    dr.write_delta(spark, spark.range(5), dest)
    _after_first_call(
        monkeypatch,
        _DR + "._snapshot",
        lambda: dr.write_delta(
            spark, spark.range(100, 110), dest, mode="append"
        ),
    )
    dr.write_delta(spark, spark.range(20), dest, mode="overwrite")
    assert sorted(r.id for r in dr.read_delta(spark, dest).collect()) == list(
        range(20)
    )
    assert [h["operation"] for h in dr.delta_history(dest)] == [
        "WRITE", "APPEND", "OVERWRITE",
    ]


def test_race_overwrite_refuses_a_changed_configuration(
    spark, tmp_path, monkeypatch
):
    """An overwrite whose table changed configuration under it names
    the table and commits nothing."""
    import re

    import dataflowex_spark.sources.delta_reader as dr

    dest = str(tmp_path / "t")
    dr.write_delta(spark, spark.range(5), dest)
    _after_first_call(
        monkeypatch,
        _DR + "._snapshot",
        lambda: dr.add_delta_constraint(spark, dest, "pos", "id >= 0"),
    )
    with pytest.raises(ValueError, match=re.escape(dest) + " changed"):
        dr.write_delta(spark, spark.range(20), dest, mode="overwrite")
    assert dr.read_delta(spark, dest).count() == 5
    assert len(dr.delta_history(dest)) == 2


def test_race_append_refuses_a_new_constraint(spark, tmp_path, monkeypatch):
    """A plain append claims the head + 1 without re-reading the table,
    but it checked its rows against the metadata it read first. A CHECK
    constraint added in between makes the append refuse, so no row
    the new constraint forbids is committed."""
    import re

    import dataflowex_spark.sources.delta_reader as dr

    dest = str(tmp_path / "t")
    dr.write_delta(spark, spark.range(5), dest)
    _after_first_call(
        monkeypatch,
        _DR + "._snapshot_meta_nospark",
        lambda: dr.add_delta_constraint(spark, dest, "small", "id < 100"),
    )
    with pytest.raises(ValueError, match=re.escape(dest) + " changed"):
        dr.write_delta(spark, spark.range(500, 503), dest, mode="append")
    assert sorted(r.id for r in dr.read_delta(spark, dest).collect()) == list(
        range(5)
    )
    assert [h["operation"] for h in dr.delta_history(dest)] == [
        "WRITE", "ADD CONSTRAINT",
    ]


def test_race_alter_rename_rename(spark, tmp_path, monkeypatch):
    import dataflowex_spark.sources.delta_reader as dr

    dest = str(tmp_path / "t")
    dr.write_delta(
        spark, spark.range(5).selectExpr("id as a", "id as b", "id as c"), dest
    )
    dr.upgrade_delta_column_mapping(spark, dest)
    _after_first_call(
        monkeypatch,
        _DR + "._snapshot",
        lambda: dr.alter_delta(spark, dest, renames={"b": "b2"}),
    )
    dr.alter_delta(spark, dest, renames={"a": "a2"})
    assert dr.read_delta(spark, dest).columns == ["a2", "b2", "c"]


def test_race_merge_delete(spark, tmp_path, monkeypatch):
    """A MERGE whose matched file took a DV concurrently keeps that
    DV's deletions."""
    import dataflowex_spark.sources.delta_reader as dr

    dest = str(tmp_path / "t")
    dr.write_delta(
        spark, spark.range(20).selectExpr("id", "0 as v").coalesce(1), dest
    )
    _after_first_call(
        monkeypatch,
        _DR + "._snapshot",
        lambda: dr.delete_from_delta(spark, dest, "id < 5"),
    )
    src = spark.range(15, 25).selectExpr("id", "1 as v")
    dr.merge_delta(spark, dest, src, ["id"])
    got = {r.id: r.v for r in dr.read_delta(spark, dest).collect()}
    assert got == {i: int(i >= 15) for i in range(5, 25)}


def test_race_export_increment_same_snapshot(spark, tmp_path, monkeypatch):
    """Two publishes of one MTable snapshot: the loser of the version
    claim re-reads the history and refuses as already published."""
    import dataflowex_spark.sources.delta_reader as dr
    from dataflowex_spark.sources.mtable import MTable

    df = spark.range(30).selectExpr("id as k", "0 as v")
    t = MTable.create(spark, str(tmp_path / "m"), df, "k")
    dest = str(tmp_path / "delta")
    dr.export_snapshot_to_delta(t, dest)
    t.merge(
        spark.range(3).selectExpr(
            "id as k", "1 as ts", "'U' as op", "0 as tie", "7 as v"
        ),
        "ts", "op", "tie", ["v"],
    )
    _after_first_call(
        monkeypatch,
        _DR + ".delta_history",
        lambda: dr.export_delta_increment(t, dest),
    )
    with pytest.raises(ValueError, match="already published"):
        dr.export_delta_increment(t, dest)
    assert [h["version"] for h in dr.delta_history(dest)] == [0, 1]
    assert sorted(r.v for r in dr.read_delta(spark, dest).collect()) == [
        0
    ] * 27 + [7] * 3


def test_race_uniform_first_sync(spark, tmp_path, monkeypatch):
    """A first sync that loses the Iceberg v1 claim replays against the
    winner, and ``uniform.delta-version`` names the version whose files
    the Iceberg side lists."""
    import dataflowex_spark.sources.delta_reader as dr
    import dataflowex_spark.sources.iceberg_reader as ir
    from dataflowex_spark.sources.lakehouse import sync_delta_uniform

    root = str(tmp_path / "t")
    dr.write_delta(spark, spark.range(10), root)

    def append_and_sync():
        dr.write_delta(spark, spark.range(10, 15), root, mode="append")
        sync_delta_uniform(spark, root)

    # the concurrent sync lands once this one has read both trees and
    # is writing its manifest
    _after_first_call(
        monkeypatch,
        "dataflowex_spark.sources.avro_io.write_container",
        append_and_sync,
    )
    sync_delta_uniform(spark, root)
    imeta = ir.load_table_metadata(root)
    assert imeta["properties"]["uniform.delta-version"] == "1"
    assert ir.read_iceberg(spark, root).count() == 15
    assert len(imeta["snapshots"]) == 1


def test_one_delta_commit_rule():
    """Static guard: in ``delta_reader.py`` only ``_try_claim_commit``
    claims a log version, only ``_latest_version`` computes the log
    head, and no rename publishes a ``_delta_log`` JSON commit.
    ``write_conformance_log`` writes hand-built fixture logs and is
    exempt."""
    import ast
    from pathlib import Path

    import dataflowex_spark.sources.delta_reader as dr

    tree = ast.parse(Path(dr.__file__).read_text())
    claims, heads, renames = set(), set(), []
    for fn in tree.body:
        if not isinstance(fn, ast.FunctionDef):
            continue
        if fn.name == "write_conformance_log":
            continue
        if ast.get_docstring(fn) is not None:
            fn.body = fn.body[1:] or [ast.Pass()]
        code = ast.unparse(fn)
        if "put_if_absent(" in code:
            claims.add(fn.name)
        if "1 << 62" in code:
            heads.add(fn.name)
        assigned = {
            t.id: ast.unparse(node.value)
            for node in ast.walk(fn)
            if isinstance(node, ast.Assign)
            for t in node.targets
            if isinstance(t, ast.Name)
        }
        for node in ast.walk(fn):
            if (
                isinstance(node, ast.Call)
                and ast.unparse(node.func) in ("os.rename", "os.replace")
            ):
                target = node.args[1]
                text = ast.unparse(target)
                if isinstance(target, ast.Name):
                    text = assigned.get(target.id, text)
                if ".json" in text:
                    renames.append(f"{fn.name}: {ast.unparse(node)}")
    assert claims == {"_try_claim_commit"}
    assert heads == {"_latest_version"}
    assert renames == []
