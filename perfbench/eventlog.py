"""Spark execution metrics from an uncompressed event log.

``summarize(path, start, end, cores)`` reads the JSON-lines event log and
keeps what happened inside the wall-clock window ``[start, end]`` (seconds
since the epoch): jobs submitted, tasks launched and SQL executions
started in it.  SQL metrics are resolved through the plan infos of those
executions (initial and adaptive), summing task-side updates and
driver-side updates per accumulator.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

MB = 2**20
SQL_UI = "org.apache.spark.sql.execution.ui."


def _walk_plan(info: dict, out: dict) -> None:
    for m in info.get("metrics", []):
        out[m["accumulatorId"]] = (info.get("nodeName", ""), m["name"])
    for child in info.get("children", []):
        _walk_plan(child, out)


def read_events(log_dir: str, app_id: str) -> list[dict]:
    """All events of ``app_id`` under ``log_dir``: one plain file, or the
    ``eventlog_v2_<app>/events_<n>_<app>`` parts of a rolling log."""
    rolled = os.path.join(log_dir, f"eventlog_v2_{app_id}")
    if os.path.isdir(rolled):
        parts = sorted(
            (f for f in os.listdir(rolled) if f.startswith("events_")),
            key=lambda f: int(f.split("_")[1]),
        )
        paths = [os.path.join(rolled, f) for f in parts]
    else:
        paths = [os.path.join(log_dir, app_id)]
    events = []
    for path in paths:
        with open(path) as fh:
            events += [json.loads(line) for line in fh if line.strip()]
    return events


def summarize(events: list[dict], start: float, end: float, cores: int) -> dict:
    lo, hi = start * 1000, end * 1000
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    exec_start: dict[int, float] = {}
    acc_names: dict[int, tuple[str, str]] = {}
    acc_sum: dict[int, float] = defaultdict(float)
    t = dict.fromkeys(
        ["task_s", "cpu_s", "gc_s", "sched_delay_s", "fetch_wait_s", "shuffle_read_mb",
         "shuffle_write_mb", "spill_mb", "input_mb", "output_mb"], 0.0)
    n_tasks = n_failed = 0
    stages_done: set[int] = set()

    for ev in events:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            sub = ev["Submission Time"]
            if lo <= sub <= hi:
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "start": sub, "end": None,
                    "sql": props.get("spark.sql.execution.id"),
                }
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = ev["Job ID"]
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            sid = ev["Stage Info"]["Stage ID"]
            if sid in stage_job:
                stages_done.add(sid)
        elif kind == "SparkListenerTaskEnd":
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            if not lo <= info["Launch Time"] <= hi:
                continue
            n_tasks += 1
            n_failed += bool(info.get("Failed"))
            for acc in info.get("Accumulables", []):
                if isinstance(acc.get("Update"), (int, float, str)):
                    try:
                        acc_sum[acc["ID"]] += float(acc["Update"])
                    except ValueError:
                        pass
            run_ms = m.get("Executor Run Time", 0)
            t["task_s"] += run_ms / 1e3
            t["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            t["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            overhead = (m.get("Executor Deserialize Time", 0)
                        + m.get("Result Serialization Time", 0))
            dur = info["Finish Time"] - info["Launch Time"]
            t["sched_delay_s"] += max(0, dur - run_ms - overhead) / 1e3
            sr = m.get("Shuffle Read Metrics") or {}
            t["fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
            t["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0)
                                     + sr.get("Local Bytes Read", 0)) / MB
            t["shuffle_write_mb"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0) / MB
            t["spill_mb"] += m.get("Disk Bytes Spilled", 0) / MB
            t["input_mb"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0) / MB
            t["output_mb"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0) / MB
        elif kind == SQL_UI + "SparkListenerSQLExecutionStart":
            if lo <= ev["time"] <= hi:
                exec_start[ev["executionId"]] = ev["time"]
                _walk_plan(ev["sparkPlanInfo"], acc_names)
        elif kind == SQL_UI + "SparkListenerSQLAdaptiveExecutionUpdate":
            if ev["executionId"] in exec_start:
                _walk_plan(ev["sparkPlanInfo"], acc_names)
        elif kind == SQL_UI + "SparkListenerSQLAdaptiveSQLMetricUpdates":
            if ev["executionId"] in exec_start:
                for m in ev.get("sqlPlanMetrics", []):
                    acc_names[m["accumulatorId"]] = ("", m["name"])
        elif kind == SQL_UI + "SparkListenerDriverAccumUpdates":
            if ev["executionId"] in exec_start:
                for acc_id, value in ev["accumUpdates"]:
                    acc_sum[acc_id] += float(value)

    first_job: dict[int, float] = {}
    for j in jobs.values():
        if j["sql"] is not None:
            eid = int(j["sql"])
            first_job[eid] = min(first_job.get(eid, j["start"]), j["start"])
    planning = sum(
        first_job[e] - s for e, s in exec_start.items() if e in first_job
    ) / 1e3
    wall = end - start
    busy = _union([(j["start"], min(j["end"] or hi, hi)) for j in jobs.values()]) / 1e3

    sql = defaultdict(float)
    for acc_id, value in acc_sum.items():
        if acc_id in acc_names:
            node, name = acc_names[acc_id]
            sql[(node, name)] += value

    return {
        "jobs": jobs,
        "stages_done": stages_done,
        "stage_job": stage_job,
        "sql": sql,
        "spark": {
            "spark.jobs": len(jobs),
            "spark.stages": len(stages_done),
            "spark.tasks": n_tasks,
            **{f"spark.{k}": v for k, v in t.items()},
            "spark.failed_tasks": n_failed,
            "spark.planning_s": planning,
            "spark.driver_only_s": max(0.0, wall - busy),
            "spark.core_busy_ratio": t["task_s"] / (cores * wall) if wall else 0.0,
        },
    }


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def sql_metric(sql: dict, name: str, node_pred=lambda node: True) -> float:
    return sum(v for (node, n), v in sql.items() if n == name and node_pred(node))
