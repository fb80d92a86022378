"""Wrapping a layer in spans changes no plan and nests spans correctly."""

import os
import re

import pytest

from perfbench.inputs import default_source
from perfbench.tracer import Tracer, outermost_time, self_times

SMALL = os.path.join(os.path.dirname(default_source()), "sf0.001")
OPS = ["q02_flatmap_explode", "q80_dedup_exact", "q83_text_stats"]


def _plan(df) -> str:
    """Optimized plan with expression ids and PySpark's lambda variable
    counters (``x_9``) normalized away."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return re.sub(r"\b([a-z])_\d+#", r"\1_#", re.sub(r"#\d+L?", "#", plan))


@pytest.fixture(scope="module")
def spark():
    from dataflowex_spark.session import get_spark

    s = get_spark("perfbench-tests", master="local[2]", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.mark.skipif(not os.path.isdir(SMALL), reason="no sf0.001 fixtures")
def test_wrapped_layers_build_the_same_plan(spark):
    from dataflowex_spark import queries

    fns = queries.queries()
    plain = {n: _plan(fns[n](spark, SMALL)) for n in OPS}
    tracer = Tracer()
    tracer.install()
    try:
        wrapped = {}
        for n in OPS:
            with tracer.span(f"op:{n}:build", "queries", op=n):
                wrapped[n] = _plan(fns[n](spark, SMALL))
    finally:
        tracer.uninstall()
    assert wrapped == plain
    layers = {s["layer"] for s in tracer.spans}
    assert {"catalog", "pipeline", "operators.dedup", "operators.text"} <= layers
    # uninstall restored every original
    from dataflowex_spark.catalog import Catalog
    assert not hasattr(Catalog.table, "__perfbench_wrapped__")


def test_self_times_add_up_to_the_root():
    t = Tracer()
    with t.span("op:x:build", "queries", op="x"):
        with t.span("a", "catalog"):
            with t.span("b", "catalog"):
                pass
        with t.span("c", "pipeline"):
            pass
    root = t.spans[0]
    assert abs(sum(self_times(t.spans)) - (root["end"] - root["start"])) < 1e-9
    calls, secs = outermost_time(t.spans, lambda s: s["layer"] == "catalog")
    assert calls == 2
    assert secs == pytest.approx(t.spans[1]["end"] - t.spans[1]["start"])
    assert {s["run_id"] for s in t.spans} == {t.run_id}
