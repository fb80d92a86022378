"""Session sizing from the environment: a value that cannot size a
session fails up front with a ``ValueError`` that names its variable,
before any Spark is started."""

import pytest

import bench
from dataflowex_spark.session import get_spark


@pytest.mark.parametrize("raw", ["four", "2.5", "-2"])
def test_bad_spark_graft_cpus_names_the_variable(monkeypatch, raw):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", raw)
    with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
        get_spark("bad-cpus")


@pytest.mark.parametrize("raw", ["three", "0", "-1"])
def test_bad_bench_reps_names_the_variable(monkeypatch, raw):
    monkeypatch.setenv("SPARK_GRAFT_BENCH_REPS", raw)
    with pytest.raises(ValueError, match="SPARK_GRAFT_BENCH_REPS"):
        bench.bench_reps()


@pytest.mark.parametrize("raw, reps", [(None, 3), ("", 3), (" 5 ", 5)])
def test_bench_reps_default_and_override(monkeypatch, raw, reps):
    if raw is None:
        monkeypatch.delenv("SPARK_GRAFT_BENCH_REPS", raising=False)
    else:
        monkeypatch.setenv("SPARK_GRAFT_BENCH_REPS", raw)
    assert bench.bench_reps() == reps
