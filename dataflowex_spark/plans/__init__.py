"""Plan inspection helpers — the engine's monitoring surface.

Replaces DataflowEx's block monitor / StatisticsRecorder reporting
([R: Gridsum.DataflowEx/DataflowOptions.cs # FlowMonitorEnabled])
with Catalyst-plan introspection: did the filter push down, did the
small side broadcast, how wide are the codegen stages.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame, mode: str = "formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), mode
    )


def plan_stats(df: DataFrame, execute: bool = False) -> dict:
    """Quick structural audit of the physical plan.

    With AQE enabled the pre-execution plan carries no codegen
    annotations (isFinalPlan=false); pass ``execute=True`` to run the
    plan first so codegen_stages reflects the final adaptive plan.
    """
    if execute:
        # collect() runs THIS df's own QueryExecution so AQE reaches
        # isFinalPlan=true (count()/write would plan separate QEs);
        # audit-time only — use on test-scale frames
        df.collect()
    plan = formatted_plan(df)
    simple = formatted_plan(df, "simple")
    return {
        "scans": len(re.findall(r"Scan parquet", plan)),
        "unpartitioned_windows": unpartitioned_windows(plan),
        "exchanges": len(re.findall(r"\bExchange\b", plan)),
        "broadcast_joins": len(re.findall(r"BroadcastHashJoin", plan)),
        "sortmerge_joins": len(re.findall(r"SortMergeJoin", plan)),
        "pushed_filters": len(re.findall(r"PushedFilters: \[[^\]]", plan)),
        "codegen_stages": len(set(re.findall(r"\*\((\d+)\)", simple))),
        "python_evals": len(re.findall(r"(BatchEvalPython|ArrowEvalPython|FlatMapGroupsInPandas|MapInPandas)", plan)),
    }


def unpartitioned_windows(plan: str) -> int:
    """Count WindowExec specs with NO partition keys — the
    all-rows-to-one-reducer shape that silently serializes at scale
    (Spark itself warns 'No Partition Defined'). In explain text a
    window spec is ``windowspecdefinition(part…, order… ASC/DESC,
    specifiedwindowframe(...))``; when the FIRST argument is already
    an ordering (``… ASC``/``… DESC``) or the frame itself, the
    partition list is empty. Counted per plan LINE (explain prints
    one Arguments/spec line per Window node; a node repeating its
    spec across several window functions counts once)."""
    n = 0
    for line in plan.splitlines():
        for m in re.finditer(r"windowspecdefinition\(([^,)]*)", line):
            first = m.group(1).strip()
            if first.startswith("specifiedwindowframe") or re.search(
                r"\b(ASC|DESC)\b", first
            ):
                n += 1
                break
    return n


def local_rows_df(spark, rows, schema, slices: int = 1) -> DataFrame:
    """Driver-built small DataFrame with a BOUNDED partition count.

    ``spark.createDataFrame(list)`` parallelizes the rows into
    defaultParallelism pickled slices; any later single-task consumer
    (a ``coalesce(1)`` metadata write, a coalesced fixture stage)
    then drains every slice SEQUENTIALLY, paying a fresh Python
    worker round-trip per slice — measured ~6 s to write an 8-row
    centroid file on local[32] (~0.19 s × 32 slices). Creating the
    frame with ``slices`` partitions up front removes that tax; row
    order is the list order either way, so downstream bytes are
    identical."""
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, numSlices=max(1, slices)),
        schema=schema,
    )


def spread_small_scan(
    df: DataFrame, parts: int | None = None, cap_bytes: int = 64 << 20
) -> DataFrame:
    """Unlock core-count parallelism for CPU-heavy work over a TINY
    input without ever risking a large shuffle.

    Parquet scan parallelism is bounded by row groups: a fixture (or
    a badly-written upstream table) stored as ONE row group pins the
    whole downstream map stage — tokenize/explode/decode — to one
    task regardless of split configuration, stranding 31 of 32
    cores. The durable fix is WRITE-time row-group sizing; read-side,
    the only remedy is a shuffle, which must never be applied to a
    100 TB corpus. So this helper is adaptive with a hard cost bound:
    it repartitions ONLY when the plan's entire file footprint
    (driver-side metadata, no data read) is at most ``cap_bytes`` —
    one cluster block's worth, a trivially cheap shuffle — and is a
    structural no-op otherwise. At scale the condition is false by
    construction and the plan is untouched."""
    import os as _os

    from dataflowex_spark.sources.footer_stats import local_path

    files = df.inputFiles()
    if not files:
        return df
    total = 0
    for f in files:
        try:
            total += _os.stat(local_path(f)).st_size
        except OSError:
            return df  # non-local storage: stay out of the way
        if total > cap_bytes:
            return df
    n = parts or df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n)
