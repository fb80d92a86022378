"""Per-layer metrics of a traced run, from its spans, event log and stream
progress.  Everything is measured on the traced pass, except the stream
batch percentiles, which pool every timed pass of the run."""

from __future__ import annotations

import statistics

from perfbench import eventlog
from perfbench.eventlog import MB
from perfbench.metrics import OPERATOR_MODULES, PER_LAYER, SOURCE_MODULES
from perfbench.tracer import outermost_time, self_times


def percentiles(samples: list[float]) -> dict:
    """Median and the highest percentile with at least ten samples beyond
    it (``None`` when there are fewer than eleven samples)."""
    if not samples:
        return {"p50": None, "tail": None, "tail_pct": None, "n": 0}
    s = sorted(samples)
    n = len(s)
    tail = tail_pct = None
    if n >= 11:
        k = n - 11  # index with exactly ten samples above it
        tail, tail_pct = s[k], round(100.0 * (k + 1) / n, 1)
    return {"p50": statistics.median(s), "tail": tail, "tail_pct": tail_pct, "n": n}


def _in_spans(t_ms: float, spans: list[dict]) -> bool:
    return any(s["start"] * 1000 <= t_ms <= s["end"] * 1000 for s in spans)


def per_layer(tracer, traced, passes, setups, progress, events, cores,
              tmp_left_mb, peak_rss_mb, cache_hits) -> tuple[dict, dict]:
    spans = tracer.spans
    m: dict[str, float] = {}

    m["session.get_spark_s"] = statistics.median(s["get_spark_s"] for s in setups)
    m["session.warmup_s"] = statistics.median(s["warmup_s"] for s in setups)

    def layer_time(pred):
        return outermost_time(spans, pred)

    m["catalog.table_calls"], m["catalog.table_s"] = layer_time(
        lambda s: s["name"] == "catalog:Catalog.table")
    builds = [s for s in spans if s["layer"] == "queries" and s["name"].endswith(":build")]
    execs = [s for s in spans if s["layer"] == "queries" and s["name"].endswith(":exec")]
    m["queries.build_s"] = sum(s["end"] - s["start"] for s in builds)
    m["queries.exec_s"] = sum(s["end"] - s["start"] for s in execs)
    m["pipeline.calls"], m["pipeline.s"] = layer_time(lambda s: s["layer"] == "pipeline")
    for mod in OPERATOR_MODULES:
        m[f"{mod}.calls"], m[f"{mod}.eager_s"] = layer_time(
            lambda s, mod=mod: s["layer"] == mod)
    for mod in SOURCE_MODULES:
        m[f"sources.{mod}.calls"], m[f"sources.{mod}.s"] = layer_time(
            lambda s, mod=mod: s["layer"] == f"sources.{mod}")
    m["plans.result_cache.calls"], m["plans.result_cache.s"] = layer_time(
        lambda s: s["layer"] == "plans.result_cache")
    m["plans.result_cache.hit_ratio"] = (
        sum(cache_hits) / len(cache_hits) if cache_hits else 0.0)
    _, m["streaming.drain_s"] = layer_time(lambda s: s["layer"] == "streaming.ops")

    # Spark execution, restricted to the traced pass
    ev = eventlog.summarize(events, traced["start"], traced["end"], cores)
    m.update(ev["spark"])
    jobs = ev["jobs"]
    build_jobs = {j for j, rec in jobs.items() if _in_spans(rec["start"], builds)}
    exec_jobs = {j for j, rec in jobs.items() if _in_spans(rec["start"], execs)}
    m["queries.build_jobs"] = len(build_jobs)
    m["queries.exec_jobs"] = len(exec_jobs)
    m["queries.exec_stages"] = sum(
        1 for sid in ev["stages_done"] if ev["stage_job"][sid] in exec_jobs)

    sql = ev["sql"]
    scan_bytes = eventlog.sql_metric(sql, "size of files read")
    m["catalog.scan_files"] = eventlog.sql_metric(sql, "number of files read")
    m["catalog.scan_mb"] = scan_bytes / MB
    python_node = ("Python", "Pandas", "Arrow")
    m["python.rows_in"] = eventlog.sql_metric(
        sql, "number of output rows",
        lambda node: any(k in node for k in python_node))
    m["python.bytes_to_workers"] = eventlog.sql_metric(
        sql, "data sent to Python workers") / MB
    m["python.bytes_from_workers"] = eventlog.sql_metric(
        sql, "data returned from Python workers") / MB
    written = eventlog.sql_metric(sql, "written output")
    m["sources.write_mb"] = written / MB
    m["sources.files_written"] = eventlog.sql_metric(sql, "number of written files")
    m["sources.write_amp"] = written / scan_bytes if scan_bytes else 0.0

    # streaming: progress of the batches that started in the traced pass
    batches = [p for p in progress if traced["start"] <= p["at"] <= traced["end"]]
    m["streaming.batches"] = len(batches)
    m["streaming.input_rows"] = sum(p["input_rows"] for p in batches)
    m["streaming.state_rows"] = max((p["state_rows"] for p in batches), default=0)
    m["streaming.state_mb"] = max((p["state_bytes"] for p in batches), default=0) / MB
    m["streaming.add_batch_ms"] = sum(p["duration"].get("addBatch", 0) for p in batches)
    m["streaming.planning_ms"] = sum(
        p["duration"].get("queryPlanning", 0) for p in batches)
    m["streaming.commit_ms"] = sum(
        p["duration"].get("commitOffsets", 0) + p["duration"].get("walCommit", 0)
        for p in batches)
    lo, hi = passes[0]["start"], traced["end"]
    pct = percentiles([p["batch_ms"] for p in progress if lo <= p["at"] <= hi])
    m["streaming.batch_p50_ms"] = pct["p50"] or 0.0
    m["streaming.batch_ptail_ms"] = pct["tail"] or 0.0
    m["streaming.batch_ptail_pct"] = pct["tail_pct"] or 0.0
    m["streaming.batch_samples"] = pct["n"]

    m["run.tmp_left_mb"] = tmp_left_mb
    m["run.peak_rss_mb"] = peak_rss_mb
    m["run.wall_s"] = statistics.median(p["wall_s"] for p in passes)
    untraced = m["run.wall_s"]
    m["trace.overhead_s"] = traced["wall_s"] - untraced

    # an op's span self times must add up to its traced build + exec
    selfs = self_times(spans)
    gap = 0.0
    for name, rec in traced["ops"].items():
        total = sum(t for s, t in zip(spans, selfs) if s["op"] == name)
        gap = max(gap, abs(total - rec["build_s"] - rec["exec_s"]))
    m["trace.self_time_gap_ms"] = gap * 1000

    missing = [n for n, *_ in PER_LAYER if n not in m]
    if missing:
        raise RuntimeError(f"per-layer metrics not computed: {missing}")
    units = {n: u for n, u, *_ in PER_LAYER}
    metrics = {n: {"value": float(m[n]), "unit": units[n]} for n, *_ in PER_LAYER}

    by_layer: dict[str, float] = {}
    for s, t in zip(spans, selfs):
        by_layer[s["layer"]] = by_layer.get(s["layer"], 0.0) + t
    extra = {
        "run_id": tracer.run_id,
        "spans": len(spans),
        "self_s_by_layer": by_layer,
        "traced_wall_s": traced["wall_s"],
        "untraced_wall_s": untraced,
        "eventlog_events": len(events),
        "python_nodes": sorted({node for (node, _n) in sql
                                if any(k in node for k in python_node)}),
    }
    return metrics, extra
