"""Python workers import the installed PySpark, not Spark's source-only
``pyspark.zip``: the path rule of ``dataflowex_spark.pyworker`` on
hand-built layouts, then the workers of a ``get_spark`` session."""

import os
import subprocess
import sys
import textwrap
import zipfile
from pathlib import Path

import pytest

from dataflowex_spark.pyworker import worker_path
from dataflowex_spark.session import PACKAGE_PARENT, configure

REPO = Path(__file__).resolve().parent.parent
VERSION = b"__version__: str = '4.1.2'\n"


def _zip(path: Path, files: dict[str, bytes]) -> str:
    path.parent.mkdir(parents=True, exist_ok=True)
    with zipfile.ZipFile(path, "w") as z:
        for name, data in files.items():
            z.writestr(name, data)
    return str(path)


def _layout(tmp_path, *, installed=VERSION, py4j="0.10.9.9"):
    """Spark's three archives, then the interpreter's path, with an
    installed pyspark (``installed`` as its version.py, none if None)
    and an installed py4j of version ``py4j`` in site-packages."""
    lib = tmp_path / "spark" / "python" / "lib"
    archives = [
        _zip(lib / "pyspark.zip", {
            "pyspark/__init__.py": b"", "pyspark/version.py": VERSION,
        }),
        _zip(lib / "py4j-0.10.9.9-src.zip", {
            "py4j/__init__.py": b"", "py4j/version.py": b"__version__ = '0.10.9.9'\n",
        }),
        _zip(tmp_path / "spark" / "jars" / "spark-core_2.13-4.1.2.jar", {
            "org/apache/spark/SparkContext.class": b"\xca\xfe",
        }),
    ]
    site = tmp_path / "site-packages"
    if installed is not None:
        (site / "pyspark").mkdir(parents=True)
        (site / "pyspark" / "__init__.py").write_bytes(b"")
        (site / "pyspark" / "version.py").write_bytes(installed)
    (site / "py4j").mkdir(parents=True)
    (site / "py4j" / "version.py").write_text(f"__version__ = '{py4j}'\n")
    stdlib = _zip(tmp_path / "lib" / "python311.zip", {"os.py": b""})
    path = [
        str(tmp_path / "cwd"), str(tmp_path / "userFiles"), *archives,
        stdlib, str(tmp_path / "lib" / "python3.11"), str(site),
    ]
    return path, archives


def test_a_matching_release_drops_exactly_sparks_archives(tmp_path):
    path, archives = _layout(tmp_path)
    kept = worker_path(path)
    assert kept == [p for p in path if p not in archives]
    assert any(p.endswith("python311.zip") for p in kept)


@pytest.mark.parametrize("layout", [
    {"installed": b"__version__: str = '4.1.1'\n"},
    {"installed": None},
    {"py4j": "0.10.9.7"},
])
def test_a_different_release_leaves_the_path_unchanged(tmp_path, layout):
    path, _ = _layout(tmp_path, **layout)
    assert worker_path(path) == path


def test_an_unreadable_pyspark_zip_leaves_the_path_unchanged(tmp_path):
    path, archives = _layout(tmp_path)
    Path(archives[0]).write_bytes(b"not a zip")
    assert worker_path(path) == path


def test_without_sparks_archives_the_path_is_unchanged(tmp_path):
    path, archives = _layout(tmp_path)
    rest = [p for p in path if p not in archives]
    assert worker_path(rest) == rest
    no_pyspark_zip = [p for p in path if p != archives[0]]
    assert worker_path(no_pyspark_zip) == no_pyspark_zip


def test_workers_import_the_installed_pyspark(spark):
    # defined here, so that it is pickled by value: workers cannot
    # import a test module
    def worker_view(it):
        import sys
        import zipimport

        import pandas as pd
        import pyspark

        for _ in it:
            pass
        spark_zips = [
            k for k, v in sys.path_importer_cache.items()
            if isinstance(v, zipimport.zipimporter)
            and any(a in k for a in ("pyspark.zip", "py4j-", "spark-core"))
        ]
        yield pd.DataFrame(
            {"pyspark": [pyspark.__file__], "zips": [repr(spark_zips)]}
        )

    rows = (
        spark.range(8, numPartitions=2)
        .mapInPandas(worker_view, "pyspark string, zips string")
        .collect()
    )
    assert len(rows) == 2
    for r in rows:
        assert os.path.isfile(r.pyspark), r.pyspark  # not a path inside a zip
        assert r.zips == "[]"


MAIN = """
import sys

sys.path.insert(0, {repo!r})
from dataflowex_spark.session import get_spark


def double(it):
    for pdf in it:
        yield pdf * 2


spark = get_spark("foreign-cwd")
print("ROWS", sorted(r.id for r in spark.range(4, numPartitions=2)
                     .mapInPandas(double, "id long").collect()))
spark.stop()
"""


def test_workers_find_the_daemon_from_a_foreign_cwd(tmp_path):
    """A ``__main__`` script run from a directory that does not hold the
    package, with no PYTHONPATH: the workers still find the daemon
    module, through the session's executor PYTHONPATH."""
    script = tmp_path / "job.py"
    script.write_text(textwrap.dedent(MAIN.format(repo=str(REPO))))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_CPUS"] = "2"
    out = subprocess.run(
        [sys.executable, str(script)], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert "ROWS [0, 2, 4, 6]" in out.stdout, out.stderr[-3000:]


def test_configure_leaves_a_get_spark_sessions_worker_env_as_it_was(spark):
    """``get_spark`` (through ``configure``) put the package's parent in
    the workers' env, so a later ``configure`` (every ``Catalog`` makes
    one) changes nothing there and the session keeps its worker pool
    (Spark keys a pool by that env)."""
    env = spark.sparkContext.environment
    assert PACKAGE_PARENT in env["PYTHONPATH"].split(os.pathsep)
    before = dict(env)
    configure(spark)
    assert spark.sparkContext.environment == before


FOREIGN = """
import sys

from pyspark.sql import SparkSession

spark = (SparkSession.builder.master("local[2]")
         .config("spark.ui.enabled", "false").getOrCreate())
sys.path.insert(0, {repo!r})
import __spark_entry__ as e

assert e.entry(spark).count() > 0
print("ROWS", e.queries()["q202_image_phash_dedup"](spark, {sf!r}).count())
spark.stop()
"""


def test_a_foreign_session_runs_package_udfs_from_a_foreign_cwd(
    tmp_path, sf_dir
):
    """A caller's own session (none of ``get_spark``'s confs), started
    from a directory that does not hold the package, with no
    PYTHONPATH: q202's package UDFs unpickle on the workers, because
    ``configure`` ships the package's parent in the session's Python
    environment."""
    script = tmp_path / "job.py"
    script.write_text(FOREIGN.format(repo=str(REPO), sf=sf_dir))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, str(script)], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    rows = [ln for ln in out.stdout.splitlines() if ln.startswith("ROWS ")]
    assert rows and int(rows[0].split()[1]) > 0, out.stdout[-2000:]
