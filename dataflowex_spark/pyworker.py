"""Python worker daemon that imports the installed PySpark.

Spark puts ``pyspark.zip``, the py4j source zip and the spark-core jar
at the front of every Python worker's ``sys.path``. The zip holds only
``.py`` source, so a daemon that imports from it compiles PySpark at
start, and each imported subpackage gets a ``zipimporter`` that re-reads
the archive's directory whenever a task calls
``importlib.invalidate_caches()`` (pyspark's ``setup_spark_files`` does,
on every task). When the installed pyspark and py4j are the release in
those archives, this daemon drops the archives from the path, and then
runs Spark's own daemon. Otherwise the path stays as Spark built it.

``session.get_spark`` names this module in ``spark.python.daemon.module``
on a local master. It imports nothing from ``pyspark`` before the path
is fixed, which is why the package ``__init__`` exports lazily.
"""

import os
import re
import sys
import zipfile

_PY4J_ZIP = re.compile(r"py4j-(.+)-src\.zip")
_CORE_JAR = re.compile(r"spark-core_.+\.jar")
_VERSION = re.compile(rb"""__version__\s*=\s*['"]([^'"]+)['"]""")


def _spark_archive(entry: str) -> bool:
    name = os.path.basename(entry)
    return name == "pyspark.zip" or bool(
        _PY4J_ZIP.fullmatch(name) or _CORE_JAR.fullmatch(name)
    )


def _installed(path: list[str], rel: str) -> bytes | None:
    """The bytes of ``rel`` in the first path directory that holds it."""
    for entry in path:
        f = os.path.join(entry, rel)
        if os.path.isfile(f):
            with open(f, "rb") as fh:
                return fh.read()
    return None


def worker_path(path: list[str]) -> list[str]:
    """``path`` without Spark's archives if the pyspark and py4j the rest
    of it would import are the release those archives hold, else
    ``path`` unchanged."""
    spark_zip = next((p for p in path if os.path.basename(p) == "pyspark.zip"), None)
    py4j_zip = next(
        (m for p in path if (m := _PY4J_ZIP.fullmatch(os.path.basename(p)))), None
    )
    if spark_zip is None or py4j_zip is None:
        return list(path)
    kept = [p for p in path if not _spark_archive(p)]
    try:
        with zipfile.ZipFile(spark_zip) as z:
            spark_version = z.read("pyspark/version.py")
        installed = _installed(kept, "pyspark/version.py")
        py4j_version = _VERSION.search(_installed(kept, "py4j/version.py") or b"")
    except (OSError, KeyError, zipfile.BadZipFile):
        return list(path)
    if (
        installed != spark_version
        or py4j_version is None
        or py4j_version.group(1).decode() != py4j_zip.group(1)
    ):
        return list(path)
    return kept


def main() -> None:
    kept = worker_path(sys.path)
    dropped = [p for p in sys.path if p not in kept]
    sys.path[:] = kept
    for key in list(sys.path_importer_cache):
        if any(key == a or key.startswith(a + os.sep) for a in dropped):
            del sys.path_importer_cache[key]
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
