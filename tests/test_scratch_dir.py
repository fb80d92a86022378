"""Query temp state belongs to the session: every directory a query
stages goes through ``session.scratch_dir`` under the driver's
SparkFiles root, which Spark deletes when the session stops."""

import tempfile
from pathlib import Path
from types import SimpleNamespace

import pytest

from dataflowex_spark.session import scratch_dir, scratch_root


def test_one_owner_for_temp_dirs():
    """Static guard: outside ``session.py`` no package module picks a
    temp dir of its own."""
    pkg = Path(__file__).resolve().parent.parent / "dataflowex_spark"
    hits = [
        f"{p.relative_to(pkg)}:{n}"
        for p in sorted(pkg.rglob("*.py"))
        if p != pkg / "session.py"
        for n, line in enumerate(p.read_text().splitlines(), 1)
        if "tempfile.mkdtemp(" in line or "tempfile.gettempdir(" in line
    ]
    assert hits == []


def _fake_session(root):
    files = SimpleNamespace(getRootDirectory=lambda: root)
    jvm = SimpleNamespace(org=SimpleNamespace(apache=SimpleNamespace(
        spark=SimpleNamespace(SparkFiles=files))))
    return SimpleNamespace(sparkContext=SimpleNamespace(_jvm=jvm))


@pytest.mark.parametrize("root", [".", "rel/dir", "/no/such/dir"])
def test_scratch_root_refuses_a_root_that_is_not_a_directory(root):
    with pytest.raises(RuntimeError, match="not an existing absolute"):
        scratch_dir(_fake_session(root), "x_")


def test_scratch_dir_is_fresh_under_the_session_root(spark):
    from pyspark import SparkFiles

    a, b = scratch_dir(spark, "t_"), scratch_dir(spark, "t_")
    assert a != b
    for d in (a, b):
        assert Path(d).is_dir()
        assert Path(d).parent == Path(SparkFiles.getRootDirectory())
        assert Path(d).name.startswith("t_")


LEAKERS = (
    "q11_batch_sink",
    "q160_dim_persistent_cycle",
    "q161_ivf_persistent_knn",
    "q294_mtable_pruned_read",
    "q347_stream_hll_maintenance",
    "q394_stream_mv_refresh",
    "q399_result_cache",
)


def test_queries_stage_only_under_the_session_root(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The queries that used to leave dirs in the system temp dir
    (hand-made session tags, MTables, MV stores, replay staging, HLL
    state, a result cache) put nothing there; what they stage appears
    under the session's scratch root instead."""
    from dataflowex_spark.queries import REGISTRY

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    root = Path(scratch_root(spark))
    before = set(root.iterdir())
    for name in LEAKERS:
        fn, _ = REGISTRY[name]
        fn(spark, sf_dir).count()
    assert list(tmp_path.iterdir()) == []
    new = {p.name.split("_")[0] for p in set(root.iterdir()) - before}
    for tag in ("q11", "q160", "q161", "mtable", "hll", "mv", "rc"):
        assert tag in new, (tag, sorted(new))
