"""BENCHMARK.json and the metric catalogue agree, and a run's output has
every named metric with its unit (one smoke run per workload, traced)."""

import json
import os
import subprocess
import sys

import pytest

from perfbench import metrics, workloads
from perfbench.inputs import default_source
from perfbench.run import ROOT

SMOKE_SOURCE = os.path.join(os.path.dirname(default_source()), "sf0.001")
SMOKE_OPS = {
    "analytics": "q02_flatmap_explode",
    "curation_stream": "q210_unicode_normalize",
}


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_benchmark_json_matches_catalogue():
    b = _bench()
    assert set(b) == {"command", "paths", "run_seconds", "workloads", "end_to_end",
                      "per_layer"}
    assert [w["name"] for w in b["workloads"]] == list(workloads.WORKLOADS)
    assert [(m["name"], m["unit"], m["better"], m["bound"]) for m in b["end_to_end"]] == [
        (n, u, better, bound) for n, u, better, bound, _ in metrics.END_TO_END]
    assert [(m["name"], m["unit"], m["better"]) for m in b["per_layer"]] == [
        (n, u, better) for n, u, better, *_ in metrics.PER_LAYER]
    assert set(SMOKE_OPS) == set(workloads.WORKLOADS)


def _run(workload: str, trace: int) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
         "--workload", workload, "--seed", "7", "--seconds", "0",
         "--trace", str(trace), "--source", SMOKE_SOURCE, "--ops", SMOKE_OPS[workload]],
        capture_output=True, text=True, timeout=600, cwd=os.path.dirname(ROOT),
    )
    assert out.returncode == 0, out.stderr[-3000:]
    report, last = out.stdout.strip().splitlines()[-2:]
    return json.loads(report)["report"], json.loads(last)


@pytest.mark.skipif(not os.path.isdir(SMOKE_SOURCE), reason="no sf0.001 fixtures")
@pytest.mark.parametrize("workload", list(workloads.WORKLOADS))
def test_traced_smoke_run_emits_every_metric(workload):
    report, last = _run(workload, trace=1)
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["correct"] and last["failed"] == 0 and last["attempted"] >= 1
    expected = {n: u for n, u, *_ in metrics.PER_LAYER}
    assert {n: m["unit"] for n, m in last["metrics"].items()} == expected
    for name, unit in metrics.REPORT:
        assert report[name]["unit"] == unit
    assert report["error_rate"]["attempted"] == last["attempted"]
    assert last["metrics"]["trace.self_time_gap_ms"]["value"] < 1.0
    assert os.path.isfile(report["trace"]["span_file"])


@pytest.mark.skipif(not os.path.isdir(SMOKE_SOURCE), reason="no sf0.001 fixtures")
def test_timing_run_emits_end_to_end_metrics():
    _, last = _run("analytics", trace=0)
    assert {n: m["unit"] for n, m in last["metrics"].items()} == {
        n: u for n, u, *_ in metrics.END_TO_END}
    assert all(m["value"] > 0 for m in last["metrics"].values())
