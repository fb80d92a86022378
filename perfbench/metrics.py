"""The metric catalogue: name, unit, layer, and what each metric moves.

``END_TO_END`` is what every timing run (``--trace 0``) prints on its last
line; ``PER_LAYER`` is what every traced run (``--trace 1``) prints there.
``REPORT`` are the end-to-end figures every run also prints, by name and
with units, on the line before.  Only ``cpu_s`` and ``setup_s`` are gated.
Over ten seeds per workload on a 4-vCPU VM losing 25-50% of its CPU time
to steal, the spread (quartile distance over median) of pass wall time
(``wall_s``) was 0.15-0.44 and of ``peak_rss_mb``, which follows the JVM's
heap sizing, 0.18-0.42, against 0.09-0.15 for ``cpu_s``; the others are
zero on a healthy run (``error_rate``, ``tmp_left_mb`` on analytics) or
exist on one workload only (stream batch times).  Traced runs report the
ungated ones per layer.
"MB" is 2**20 bytes throughout.  ``moves`` names the end-to-end metric a
per-layer metric should move, and on which workload.
"""

from __future__ import annotations

END_TO_END = [
    # name, unit, better, bound, what it is
    ("cpu_s", "s", "lower", 0.25,
     "median over timed passes of the CPU time one pass costs the process tree"),
    ("setup_s", "s", "lower", 0.25,
     "median over set-ups of get_spark, first touch of the input tables "
     "and the Python worker pool"),
]

REPORT = [
    ("setup_s", "s"), ("wall_s", "s"), ("cpu_s", "s"), ("batch_p50_ms", "ms"),
    ("batch_ptail_ms", "ms"), ("peak_rss_mb", "MB"), ("tmp_left_mb", "MB"),
    ("error_rate", "ratio"),
]

#: operator and table-format modules the workloads' ops call (a module no
#: kept op calls would only ever report zero)
OPERATOR_MODULES = ["operators.text"]
SOURCE_MODULES = ["mtable"]

_ALL = "all workloads"
PER_LAYER = [
    # name, unit, better, layer, moves
    ("session.get_spark_s", "s", "lower", "session", f"setup_s, {_ALL}"),
    ("session.warmup_s", "s", "lower", "session", f"setup_s, {_ALL}"),
    ("catalog.table_calls", "count", "lower", "catalog", "wall_s, analytics"),
    ("catalog.table_s", "s", "lower", "catalog", "wall_s, analytics"),
    ("catalog.scan_files", "count", "lower", "catalog", "wall_s, analytics"),
    ("catalog.scan_mb", "MB", "lower", "catalog", "wall_s, analytics"),
    ("queries.build_s", "s", "lower", "queries", "wall_s, both workloads"),
    ("queries.build_jobs", "count", "lower", "queries", "wall_s, both workloads"),
    ("queries.exec_s", "s", "lower", "queries", "wall_s, analytics"),
    ("queries.exec_jobs", "count", "lower", "queries", "wall_s, analytics"),
    ("queries.exec_stages", "count", "lower", "queries", "wall_s, analytics"),
    ("pipeline.calls", "count", "lower", "pipeline", "wall_s, analytics (q02)"),
    ("pipeline.s", "s", "lower", "pipeline", "wall_s, analytics (q02)"),
    *[
        row
        for m in OPERATOR_MODULES
        for row in (
            (f"{m}.calls", "count", "lower", m, "wall_s, curation_stream"),
            (f"{m}.eager_s", "s", "lower", m, "wall_s, curation_stream"),
        )
    ],
    ("python.rows_in", "count", "lower", "python workers", "wall_s, curation_stream"),
    ("python.bytes_to_workers", "MB", "lower", "python workers",
     "wall_s, curation_stream"),
    ("python.bytes_from_workers", "MB", "lower", "python workers",
     "wall_s, curation_stream"),
    *[
        row
        for m in SOURCE_MODULES
        for row in (
            (f"sources.{m}.calls", "count", "lower", f"sources.{m}",
             "wall_s, analytics"),
            (f"sources.{m}.s", "s", "lower", f"sources.{m}", "wall_s, analytics"),
        )
    ],
    ("sources.write_mb", "MB", "lower", "sources", "wall_s, tmp_left_mb, analytics"),
    ("sources.files_written", "count", "lower", "sources",
     "wall_s, tmp_left_mb, analytics"),
    ("sources.write_amp", "ratio", "lower", "sources", "wall_s, analytics"),
    ("plans.result_cache.calls", "count", "lower", "plans.result_cache",
     "wall_s, analytics"),
    ("plans.result_cache.s", "s", "lower", "plans.result_cache", "wall_s, analytics"),
    ("plans.result_cache.hit_ratio", "ratio", "higher", "plans.result_cache",
     "wall_s, analytics"),
    ("streaming.drain_s", "s", "lower", "streaming.ops", "wall_s, curation_stream"),
    ("streaming.batches", "count", "lower", "streaming.ops", "batch_p50_ms, curation_stream"),
    ("streaming.input_rows", "count", "lower", "streaming.ops",
     "batch_p50_ms, curation_stream"),
    ("streaming.state_rows", "count", "lower", "streaming.ops",
     "batch_ptail_ms, curation_stream"),
    ("streaming.state_mb", "MB", "lower", "streaming.ops", "batch_ptail_ms, curation_stream"),
    ("streaming.add_batch_ms", "ms", "lower", "streaming.ops",
     "batch_p50_ms, curation_stream"),
    ("streaming.planning_ms", "ms", "lower", "streaming.ops",
     "batch_p50_ms, curation_stream"),
    ("streaming.commit_ms", "ms", "lower", "streaming.ops", "batch_p50_ms, curation_stream"),
    ("streaming.batch_p50_ms", "ms", "lower", "streaming.ops", "wall_s, curation_stream"),
    ("streaming.batch_ptail_ms", "ms", "lower", "streaming.ops", "wall_s, curation_stream"),
    ("streaming.batch_ptail_pct", "pct", "higher", "streaming.ops",
     "percentile behind batch_ptail_ms"),
    ("streaming.batch_samples", "count", "higher", "streaming.ops",
     "sample count behind the batch percentiles"),
    ("spark.jobs", "count", "lower", "spark", "wall_s, analytics"),
    ("spark.stages", "count", "lower", "spark", "wall_s, analytics"),
    ("spark.tasks", "count", "lower", "spark", "wall_s, analytics"),
    ("spark.task_s", "s", "lower", "spark", "wall_s, analytics"),
    ("spark.cpu_s", "s", "lower", "spark", "wall_s, analytics"),
    ("spark.gc_s", "s", "lower", "spark", "peak_rss_mb, wall_s, analytics"),
    ("spark.sched_delay_s", "s", "lower", "spark", "wall_s, analytics"),
    ("spark.fetch_wait_s", "s", "lower", "spark", "wall_s, analytics"),
    ("spark.shuffle_read_mb", "MB", "lower", "spark", "wall_s, analytics"),
    ("spark.shuffle_write_mb", "MB", "lower", "spark", "wall_s, analytics"),
    ("spark.spill_mb", "MB", "lower", "spark", "wall_s, analytics"),
    ("spark.input_mb", "MB", "lower", "spark", "wall_s, analytics"),
    ("spark.output_mb", "MB", "lower", "spark", "wall_s, analytics"),
    ("spark.failed_tasks", "count", "lower", "spark", f"error_rate, {_ALL}"),
    ("spark.planning_s", "s", "lower", "spark", "wall_s, analytics"),
    ("spark.driver_only_s", "s", "lower", "spark", "wall_s, curation_stream"),
    ("spark.core_busy_ratio", "ratio", "higher", "spark", "wall_s, analytics"),
    ("run.tmp_left_mb", "MB", "lower", "run", f"tmp_left_mb, {_ALL}"),
    ("run.peak_rss_mb", "MB", "lower", "run", f"peak_rss_mb, {_ALL}"),
    ("run.wall_s", "s", "lower", "run", f"wall_s, {_ALL}"),
    ("trace.overhead_s", "s", "lower", "trace",
     "traced pass wall minus the median untraced pass wall"),
    ("trace.self_time_gap_ms", "ms", "lower", "trace",
     "largest gap between an op's summed span self times and its build+exec"),
]
