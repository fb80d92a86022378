"""One file-identity rule for every table format: a scan URI, a hive
partition dir and a per-file stats row map to the same on-disk path
and partition values whichever module asks
(``sources/footer_stats.py``: ``local_path``, ``file_path_col``,
``hive_values``, ``file_stats``)."""

import os
import tempfile

import pytest
from pyspark.sql import functions as F


def _frame(spark, n=1000):
    return spark.range(n).select(
        F.col("id").alias("k"), (F.col("id") % 37).alias("c")
    )


def _relative_root(spark, tmp_path, monkeypatch):
    """A relative table root that Python and the JVM resolve to the
    same directory: both work from the JVM's start-up directory (a
    shared session's JVM keeps its own cwd, whatever Python chdirs
    to)."""
    monkeypatch.chdir(spark._jvm.java.lang.System.getProperty("user.dir"))
    return os.path.relpath(tmp_path / "rel_t")


def test_mtable_relative_root_delete_where(spark, tmp_path, monkeypatch):
    from dataflowex_spark.sources.mtable import MTable

    root = _relative_root(spark, tmp_path, monkeypatch)
    t = MTable.create(spark, root, _frame(spark), "k")
    assert t.delete_where("c = 5") is not None
    assert t.read().count() == 973
    assert t.read().where("c = 5").count() == 0


def test_mtable_relative_root_bloom_probe(spark, tmp_path, monkeypatch):
    from dataflowex_spark.sources.mtable import MTable

    root = _relative_root(spark, tmp_path, monkeypatch)
    t = MTable.create(spark, root, _frame(spark), "k", bloom_cols=["c"])
    assert t.read_where(eq={"c": 5}).count() == 27


def test_delta_relative_dest_resolves_once(spark, tmp_path, monkeypatch):
    """With Python's cwd away from the JVM's, a relative ``dest`` is
    resolved in Python once, so data, log and read all meet under it
    (Spark would otherwise resolve the data files against its own
    start-up directory)."""
    from dataflowex_spark.sources.delta_reader import read_delta, write_delta

    monkeypatch.chdir(tmp_path)
    assert os.getcwd() != spark._jvm.java.lang.System.getProperty("user.dir")
    write_delta(spark, _frame(spark, 100), "rel_d")
    assert read_delta(spark, "rel_d").count() == 100
    assert os.listdir(tmp_path / "rel_d" / "data")


def test_mtable_vacuum_keeps_files_under_another_root_spelling(
    spark, tmp_path
):
    import json

    from dataflowex_spark.sources.mtable import MTable

    root = str(tmp_path / "t")
    t = MTable.create(spark, root, _frame(spark), "k")
    mpath = os.path.join(root, "_v", "1.manifest.json")
    with open(mpath) as f:
        m = json.load(f)
    for e in m["files"]:
        assert e["path"].startswith(root + "/data/")
        e["path"] = root + "/./" + e["path"][len(root) + 1 :]
    with open(mpath, "w") as f:
        json.dump(m, f)
    assert t.vacuum(delete_orphans=True, orphan_min_age_s=0) == []
    assert all(os.path.exists(e["path"]) for e in m["files"])
    assert t.read().count() == 1000


def _rewrite_in_place(path, table):
    """Overwrite the parquet file at ``path`` and move its mtime
    forward, leaving the directory entry (and so the directory's own
    mtime and size) untouched. Hadoop's ``.crc`` sidecar would no
    longer match, so it is removed."""
    import pyarrow.parquet as pq

    st = os.stat(path)
    pq.write_table(table, path)
    crc = os.path.join(
        os.path.dirname(path), "." + os.path.basename(path) + ".crc"
    )
    if os.path.exists(crc):
        os.remove(crc)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))


def test_plan_fingerprint_sees_rewrite_under_space_dir(spark, tmp_path):
    import pyarrow as pa

    from dataflowex_spark.plans.result_cache import plan_fingerprint

    src = str(tmp_path / "dir with space" / "t")
    spark.range(20).repartition(2).write.parquet(src)
    before = plan_fingerprint(spark.read.parquet(src))
    part = sorted(f for f in os.listdir(src) if f.endswith(".parquet"))[0]
    _rewrite_in_place(
        os.path.join(src, part), pa.table({"id": list(range(500))})
    )
    assert plan_fingerprint(spark.read.parquet(src)) != before


def test_replay_restages_after_in_place_rewrite(spark, tmp_path, monkeypatch):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from dataflowex_spark.streaming.ops import file_replay_stream, run_to_memory

    stage_root = tmp_path / "tmp"
    stage_root.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(stage_root))
    src = tmp_path / "src"
    src.mkdir()
    pq.write_table(pa.table({"v": [1, 2, 3]}), str(src / "a.parquet"))
    pq.write_table(pa.table({"v": [10]}), str(src / "b.parquet"))

    def replay():
        out, _ = run_to_memory(file_replay_stream(spark, str(src), n_chunks=2))
        return sorted(r.v for r in out.collect())

    assert replay() == [1, 2, 3, 10]
    dir_st = os.stat(src)
    _rewrite_in_place(str(src / "a.parquet"), pa.table({"v": [4, 5, 6]}))
    after = os.stat(src)
    assert (after.st_mtime_ns, after.st_size) == (
        dir_st.st_mtime_ns,
        dir_st.st_size,
    )
    assert replay() == [4, 5, 6, 10]


@pytest.mark.parametrize(
    "raw, want",
    [
        ("file:/a/b/x.parquet", "/a/b/x.parquet"),
        ("file:///a/b/x.parquet", "/a/b/x.parquet"),
        ("file:/a/dir%20with%20space/x", "/a/dir with space/x"),
        # a hive-escaped dir (space -> %20 on disk) is %2520 in the URI:
        # decoded once, back to the on-disk %20
        ("file:/a/k=x%2520y/x.parquet", "/a/k=x%20y/x.parquet"),
        # a raw path is already on disk and is never decoded
        ("/a/k=x%20y/x.parquet", "/a/k=x%20y/x.parquet"),
        ("file:/a/p+q/x.parquet", "/a/p+q/x.parquet"),
        ("/a/p+q/x.parquet", "/a/p+q/x.parquet"),
        ("/a/./b/../c/x.parquet", "/a/c/x.parquet"),
    ],
)
def test_local_path(raw, want):
    from dataflowex_spark.sources.footer_stats import local_path

    assert local_path(raw) == want


def test_local_path_relative(tmp_path, monkeypatch):
    from dataflowex_spark.sources.footer_stats import local_path

    monkeypatch.chdir(tmp_path)
    cwd = os.getcwd()
    assert local_path("rel/./x.parquet") == os.path.join(cwd, "rel", "x.parquet")
    assert local_path("rel t/k=a%20b") == os.path.join(cwd, "rel t", "k=a%20b")


@pytest.mark.parametrize(
    "rel_dir, want",
    [
        (".", {}),
        ("k=1", {"k": "1"}),
        (os.path.join("a=x%20y", "b=2"), {"a": "x y", "b": "2"}),
        ("k=__HIVE_DEFAULT_PARTITION__", {"k": None}),
        ("k=a%3Db", {"k": "a=b"}),
        ("k=%2520", {"k": "%20"}),
        ("k=p+q", {"k": "p+q"}),
        (os.path.join("plain", "k=1"), {"k": "1"}),
    ],
)
def test_hive_values(rel_dir, want):
    from dataflowex_spark.sources.footer_stats import hive_values

    assert hive_values(rel_dir) == want


def test_scan_column_and_stats_agree_with_local_path(spark, tmp_path):
    """``file_path_col`` and ``input_file_name`` through ``local_path``
    name the same existing file under hive-escaped dirs, and
    ``file_stats`` returns that name whether the footers or the
    fallback scan produced the stats."""
    from decimal import Decimal

    from dataflowex_spark.sources.footer_stats import (
        file_path_col,
        file_stats,
        hive_values,
        local_path,
    )

    job = str(tmp_path / "dir with space" / "job")
    spark.createDataFrame(
        [(1, "x y", Decimal("1.50")), (2, "p+q", Decimal("2.25")),
         (3, "a%b", None), (4, None, Decimal("0.10"))],
        "k long, p string, d decimal(6,2)",
    ).write.partitionBy("p").parquet(job)
    rows = (
        spark.read.parquet(job)
        .select(
            file_path_col().alias("fp"),
            F.input_file_name().alias("uri"),
            "p",
        )
        .collect()
    )
    assert len(rows) == 4
    for r in rows:
        assert r.fp == local_path(r.uri)
        assert os.path.exists(r.fp)
        rel_dir = os.path.relpath(os.path.dirname(r.fp), job)
        assert hive_values(rel_dir) == {"p": r.p}
    want = sorted({r.fp for r in rows})
    from_footers = file_stats(spark, job, ["k"], recursive=True)
    from_scan = file_stats(spark, job, ["k", "d"], recursive=True)
    assert sorted(r["path"] for r in from_footers) == want
    assert sorted(r["path"] for r in from_scan) == want
    by_path = {r["path"]: r for r in from_scan}
    for r in from_footers:
        s = by_path[r["path"]]
        assert (r["__rows"], r["__mn_k"], r["__mx_k"]) == (
            s["__rows"], s["__mn_k"], s["__mx_k"]
        )


def test_one_file_identity_rule():
    """Static guard: the hive null marker, the grouped per-file stats
    scan and the URI decode appear in package code (docstrings and
    comments aside) only in ``sources/footer_stats.py``, and no
    module defines its own scan-path helper."""
    import ast
    from pathlib import Path

    pkg = Path(__file__).resolve().parent.parent / "dataflowex_spark"
    needles = (
        "__HIVE_DEFAULT_PARTITION__",
        "groupBy(F.input_file_name()",
        "url_decode(",
    )
    seen: dict[str, list[str]] = {n: [] for n in needles}
    defined = []
    for path in sorted(pkg.rglob("*.py")):
        tree = ast.parse(path.read_text())
        for node in ast.walk(tree):
            if isinstance(
                node,
                (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef),
            ):
                if node is not tree and node.name in (
                    "_local_path",
                    "_file_path_col",
                ):
                    defined.append(f"{path.name}:{node.name}")
                body = node.body
                if (
                    body
                    and isinstance(body[0], ast.Expr)
                    and isinstance(body[0].value, ast.Constant)
                    and isinstance(body[0].value.value, str)
                ):
                    node.body = body[1:] or [ast.Pass()]
        code = ast.unparse(tree)
        for n in needles:
            if n in code:
                seen[n].append(str(path.relative_to(pkg)))
    assert defined == []
    for n in needles:
        assert seen[n] == ["sources/footer_stats.py"], (n, seen[n])
