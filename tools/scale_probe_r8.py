"""Round-8 scale probe: DML + layout-maintenance economics across a
data decade. Claims under test (all change-volume-bound, never
table-bound):

- delete_from_delta / update_delta / merge_delta cost follows the
  MATCHED volume (the scan is pruned-ordinary; positions shuffle
  once by file);
- delta_tail / iceberg_tail drain time follows the CHANGE volume;
- optimize_delta ZORDER is a one-pass rewrite (scales with data,
  linear — it IS the table rewrite, run it when skipping pays).

Usage: python tools/scale_probe_r8.py [--json OUT]
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, "/root/repo")

from dataflowex_spark.session import get_spark  # noqa: E402


def timed(fn):
    t0 = time.time()
    out = fn()
    return round(time.time() - t0, 2), out


def run(spark, n_rows: int, tag: str) -> dict:
    from pyspark.sql import functions as F

    from dataflowex_spark.sources.delta_reader import (
        delete_from_delta,
        merge_delta,
        optimize_delta,
        read_delta,
        write_delta,
    )
    from dataflowex_spark.sources.manifest_ds import (
        DeltaTailDataSource,
    )
    from dataflowex_spark.streaming.ops import run_foreach_batch

    try:
        spark.dataSource.register(DeltaTailDataSource)
    except Exception:
        pass
    dest = tempfile.mkdtemp(prefix=f"probe_r8_{tag}_") + "/t"
    base = spark.range(n_rows).select(
        F.col("id").alias("k"),
        (F.col("id") % 1000).alias("a"),
        (F.col("id") % 37).cast("double").alias("x"),
    )
    out = {}
    out["write"], _ = timed(
        lambda: write_delta(
            spark, base.repartition(32), dest,
            configuration={"delta.enableChangeDataFeed": "true"},
        )
    )
    # delete matches a FIXED 10k rows regardless of table size —
    # change-volume-bound claim
    out["delete_10k"], (_v, nd) = timed(
        lambda: delete_from_delta(spark, dest, "k < 10000")
    )
    assert nd == 10000, nd
    src = spark.range(5000).select(
        (F.col("id") + 20000).alias("k"),
        F.lit(7).alias("a").cast("long"),
        F.lit(1.0).alias("x"),
    )
    out["merge_5k"], (_v2, st) = timed(
        lambda: merge_delta(spark, dest, src, ["k"])
    )
    assert st["updated"] == 5000, st

    def drain():
        run_foreach_batch(
            spark.readStream.format("delta_tail").load(dest),
            lambda batch, _id: batch.write.format("noop")
            .mode("overwrite")
            .save(),
        )

    out["tail_drain"], _ = timed(drain)
    out["optimize_zorder"], _ = timed(
        lambda: optimize_delta(
            spark, dest, zorder_by=["k", "a"], n_files=32
        )
    )
    assert read_delta(spark, dest).count() == n_rows - 10000
    return out


def main() -> None:
    spark = get_spark("probe-r8")
    spark.sparkContext.setLogLevel("ERROR")
    res = {
        "1x_600k": run(spark, 600_000, "1x"),
        "10x_6M": run(spark, 6_000_000, "10x"),
    }
    if "--json" in sys.argv:
        with open(sys.argv[sys.argv.index("--json") + 1], "w") as f:
            json.dump(res, f, indent=1)
    print(json.dumps(res))
    spark.stop()


if __name__ == "__main__":
    main()
