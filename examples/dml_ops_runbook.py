"""DML OPS RUNBOOK over the open-format write layer: the day-2
operations a platform team runs against a STANDALONE Delta table
(no MTable, no delta-spark JAR) — and the Iceberg twin where the
operation exists there too.

The story, in the order incidents actually happen:

1. LAND a partitioned table with CDF enabled (write_delta);
2. ROW-LEVEL DML: a DELETE (deletion vectors — zero parquet
   rewritten), an UPDATE (DV + re-append), and a MERGE upsert from a
   change set — each one commit, each CDF-exact;
3. TAIL the change feed downstream (delta_tail streaming source,
   exactly-once by offset replay) and prove the stream equals the
   batch CDF reader;
4. MAINTAIN the layout: compact dense DVs, then OPTIMIZE ZORDER BY
   so a second-dimension predicate prunes files through add.stats;
5. BREAK it (a bad predicate deletes a whole slice) and RESTORE to
   the pre-incident version — history stays append-only;
6. RECLAIM: vacuum drops unreferenced files and orphaned DV files;
   every read in between is asserted exact.

Each stage returns evidence pinned by tests/test_examples.py:
row sets after every mutation, stream==batch CDF equality, pruning
file counts, restore exactness, and post-vacuum integrity.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import SparkSession, functions as F

from dataflowex_spark.sources.delta_reader import (
    _snapshot,
    compact_delta_dvs,
    delete_from_delta,
    merge_delta,
    optimize_delta,
    read_delta,
    read_delta_changes,
    restore_delta,
    update_delta,
    vacuum_delta_export,
    write_delta,
)
from dataflowex_spark.sources.manifest_ds import DeltaTailDataSource
from dataflowex_spark.streaming.ops import run_foreach_batch


def run(spark: SparkSession, sf_dir: str) -> dict:
    try:
        spark.dataSource.register(DeltaTailDataSource)
    except Exception:
        pass  # already registered in this session
    root = tempfile.mkdtemp(prefix="dml_runbook_")
    dest = root + "/t"
    ev: dict = {}

    # 1. land: orders slice, partitioned by priority, CDF on
    base = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .filter(F.col("o_orderkey") % 4 == 2)
        .select(
            F.col("o_orderkey").alias("okey"),
            F.col("o_orderpriority").alias("priority"),
            F.floor(F.col("o_totalprice") * 100)
            .cast("long")
            .alias("cents"),
        )
    )
    write_delta(
        spark, base, dest, partition_by=["priority"],
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    ev["n0"] = read_delta(spark, dest).count()

    # 2. the DML trio — one commit each
    _v, ev["deleted"] = delete_from_delta(spark, dest, "cents % 5 = 3")
    _v, ev["updated"] = update_delta(
        spark, dest, "cents % 7 = 0", {"cents": "cents + 1"}
    )
    upserts = (
        read_delta(spark, dest)
        .filter(F.col("okey") % 9 == 4)
        .select(
            "okey", F.lit("5-LOW").alias("priority"),
            (F.col("cents") + 10).alias("cents"),
        )
    )
    vm, stats = merge_delta(spark, dest, upserts, ["okey"])
    ev["merged"] = stats
    ev["n_after_dml"] = read_delta(spark, dest).count()

    # 3. tail the feed; stream must equal the batch CDF reader
    outdir = root + "/tail_out"
    run_foreach_batch(
        spark.readStream.format("delta_tail").load(dest),
        lambda batch, _id: batch.write.mode("append").parquet(outdir),
    )
    stream_rows = (
        spark.read.parquet(outdir)
        .groupBy("_commit_version", "_change_type")
        .count()
    )
    batch_rows = (
        read_delta_changes(spark, dest, starting_version=0)
        .groupBy("_commit_version", "_change_type")
        .count()
    )
    ev["stream_equals_batch"] = (
        stream_rows.exceptAll(batch_rows).count() == 0
        and batch_rows.exceptAll(stream_rows).count() == 0
    )

    # 4. maintain: purge dense DVs, then cluster on (okey, cents).
    # RATIO GATE: 0.2–0.25 is the runbook default — fold files whose
    # DV cardinality is ≥ ~1/4 of their rows, leave sparse DVs (the
    # rewrite would cost more than the read tax). The DRIVER-SIDE
    # bound this protects (SCALE_NOTES "Delta DV driver-side
    # bound"): keep live dead positions under ~10M per table — plan
    # time decodes DVs on the driver, so unfolded debt is driver
    # memory, not just read tax.
    _v, ev["dv_files_compacted"] = compact_delta_dvs(
        spark, dest, min_dead_ratio=0.2
    )
    _v, opt = optimize_delta(
        spark, dest, zorder_by=["okey", "cents"], n_files=16
    )
    ev["optimize"] = opt
    _m, live = _snapshot(spark, dest, None)
    # a narrow SECOND-dimension range derived from the data itself
    # (sf-independent): the 40th–45th percentile of cents
    lo, hi = read_delta(spark, dest).approxQuantile(
        "cents", [0.40, 0.45], 0.0
    )
    pruned = read_delta(
        spark, dest,
        skip_where=[("cents", ">=", int(lo)), ("cents", "<=", int(hi))],
    )
    ev["rows_narrow"] = pruned.count()
    ev["files_live"] = len(live)
    ev["files_opened_narrow"] = len(pruned.inputFiles())
    ev["n_after_optimize"] = read_delta(spark, dest).count()

    # 5. incident + restore
    good_version = vm + 2  # post-compaction, post-optimize state
    before = read_delta(spark, dest)
    snapshot_rows = before.count()
    delete_from_delta(spark, dest, "priority LIKE '%'")  # the bad run
    ev["n_after_incident"] = read_delta(spark, dest).count()
    restore_delta(spark, dest, good_version)
    ev["n_after_restore"] = read_delta(spark, dest).count()
    ev["restore_exact"] = ev["n_after_restore"] == snapshot_rows

    # 6. reclaim; reads stay exact
    removed = vacuum_delta_export(dest, keep_versions=1, spark=spark)
    ev["vacuumed"] = len(removed)
    ev["n_final"] = read_delta(spark, dest).count()
    return ev


if __name__ == "__main__":
    from dataflowex_spark.session import get_spark

    print(run(get_spark(), "/root/testdata/sf0.01"))
