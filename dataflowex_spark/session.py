"""SparkSession construction and per-session configuration.

Two entry points:

- ``get_spark()`` — build a local session with the engine's preferred
  configs (tests, bench).
- ``configure(spark)`` — apply the *runtime-settable* subset to a
  session we did not create (the correctness driver hands us one).
  Required because the fixture ``events.parquet`` stores
  TIMESTAMP(NANOS), which Spark only reads with
  ``spark.sql.legacy.parquet.nanosAsLong``.

On a local master ``configure`` also picks the FileSystem-based
streaming checkpoint manager. Spark's default goes through Hadoop
``FileContext``; on ``file:`` without the native Hadoop library (any
pip-installed PySpark) it forks ``readlink`` for the source and the
destination of every checkpoint rename, ``.crc`` sidecars included, so
a 4-batch q367 drain made ~1,200 forks and clones (``/proc/stat``
``processes``). With the FileSystem manager the same drain makes ~285:
the ``chmod`` Hadoop forks for every local file it creates, plus JVM
threads, which that counter also counts.

On a local master ``get_spark`` also runs the Python workers through
``dataflowex_spark.pyworker`` (``spark.python.daemon.module``). Spark
puts its ``pyspark.zip`` (``.py`` source only), the py4j zip and the
spark-core jar at the front of each worker's ``sys.path``, so a worker
daemon compiled PySpark from source at start (``import pyspark.worker``
~1.1-1.5 s, against ~0.3 s from the installed package), and every
task's ``importlib.invalidate_caches()`` made each of ~16
``zipimporter``s re-read its archive's directory (~0.2 s of CPU per
task on Python 3.11). When the installed pyspark and py4j are the
release in those archives, the daemon drops the archives from its path
first; a warm 4-task ``mapInPandas`` went from ~1.0 s to ~0.2 s of
Python CPU. ``spark.python.daemon.module`` is a static conf, so a
foreign session keeps Spark's daemon. ``configure`` merges the
package's parent into ``sparkContext.environment["PYTHONPATH"]``,
which PySpark ships with every Python function and Spark merges into
the workers' path: any session's workers find the daemon module and
the package whatever the caller's cwd and ``PYTHONPATH``.

Query temp state belongs to the session. A query that stages a fixture,
a table, a checkpoint or a replay writes it under ``scratch_dir(spark,
prefix)``, a fresh directory in the driver's per-SparkContext files
root (``SparkFiles.getRootDirectory()``, a ``userFiles-*`` dir under
``spark.local.dir``). Spark creates that root with the context and
deletes it in ``spark.stop()`` (and at JVM exit), so nothing a query
stages outlives its session and no query removes its own temp state
unless it must bound disk within a long session (q367).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession

DAEMON_MODULE_CONF = "spark.python.daemon.module"
# the directory that holds this package, for the workers' PYTHONPATH
PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CHECKPOINT_MANAGER_CONF = "spark.sql.streaming.checkpointFileManagerClass"
FS_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)

# Settable at runtime (SQL confs) — safe to apply to a foreign session.
RUNTIME_CONFS: dict[str, str] = {
    # fixture events.parquet is TIMESTAMP(NANOS); read as long, the
    # catalog converts to timestamp_ntz (see catalog.load).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # deterministic wall-clock semantics identical to the DuckDB oracle
    "spark.sql.session.timeZone": "UTC",
    # runtime re-planning: coalesce shuffle partitions, skew-join split,
    # runtime broadcast-join switch — core of the 100 TB story.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # arrow for any pandas-UDF path
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # write instants as annotated INT64 micros, not legacy INT96:
    # INT96 carries NO parquet min/max statistics (so neither
    # footer-based commit stats nor any reader's row-group pruning
    # can see timestamp bounds), and the table-format specs (Iceberg)
    # require the annotated type anyway.
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
}


def configure(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine confs to an existing session, and
    make the package importable on its Python workers."""
    # Spark keys worker pools by this env: set it before any UDF runs
    env = spark.sparkContext.environment
    paths = env.get("PYTHONPATH", "").split(os.pathsep)
    if PACKAGE_PARENT not in paths:
        env["PYTHONPATH"] = os.pathsep.join(
            [p for p in paths if p] + [PACKAGE_PARENT]
        )
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # non-settable on this build — keep going; readers have
            # fallbacks (catalog handles both long and timestamp ts).
            pass
    try:
        if spark.conf.get("spark.master", "").startswith("local"):
            # local mode reads single-file fixtures: split scans at
            # row-group granularity so joins/aggs use all cores. On a
            # real cluster the 128 MB default is correct — many input
            # files already provide the parallelism.
            spark.conf.set("spark.sql.files.maxPartitionBytes", "1048576")
            spark.conf.set("spark.sql.files.openCostInBytes", "262144")
            # stream checkpoints (offsets, commits, one state delta per
            # store per batch) rename through FileSystem.rename, an
            # in-process rename(2), not FileContext, which forks
            # `readlink` for both ends of every rename (module
            # docstring). It checks `exists` before a no-overwrite
            # rename, so a second writer of a batch file still fails;
            # only FileContext's atomic check-and-rename is lost, and
            # one driver cannot race on it (Spark refuses two active
            # queries on one checkpoint).
            if not spark.conf.get(CHECKPOINT_MANAGER_CONF, ""):
                spark.conf.set(CHECKPOINT_MANAGER_CONF, FS_CHECKPOINT_MANAGER)
    except Exception:
        pass
    return spark


def scratch_root(spark: SparkSession) -> str:
    """The session's scratch root: the driver's SparkFiles root, which
    Spark deletes when the session stops. Refuses a root that is not
    an existing absolute directory (off the driver Spark reports
    ``.``)."""
    root = spark.sparkContext._jvm.org.apache.spark.SparkFiles.getRootDirectory()
    if not (os.path.isabs(root) and os.path.isdir(root)):
        raise RuntimeError(
            f"SparkFiles root {root!r} is not an existing absolute directory"
        )
    return root


def scratch_dir(spark: SparkSession, prefix: str) -> str:
    """A fresh directory for query temp state under the session's
    scratch root; it is removed with the session."""
    return tempfile.mkdtemp(prefix=prefix, dir=scratch_root(spark))


def _local_cpus() -> int:
    """Local-mode core count: ``$SPARK_GRAFT_CPUS``, or 0 (all cores)
    when unset or empty. A value that is not a non-negative integer
    raises a ``ValueError`` that names the variable."""
    raw = os.environ.get("SPARK_GRAFT_CPUS", "").strip() or "0"
    try:
        cpus = int(raw)
    except ValueError:
        cpus = -1
    if cpus < 0:
        raise ValueError(
            f"SPARK_GRAFT_CPUS={raw!r} is not a non-negative integer "
            "(local-mode cores; 0 or unset for all)"
        )
    return cpus


def get_spark(
    app_name: str = "dataflowex-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    Local-mode defaults are sized from ``SPARK_GRAFT_CPUS`` (driver
    contract); on a real cluster, master/partitions come from
    spark-submit and these are left alone.
    """
    cpus = _local_cpus()
    if master is None:
        master = f"local[{cpus}]" if cpus > 0 else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 32) if cpus else 32
    conf = dict(extra_conf or {})
    if master.startswith("local"):
        # workers import the installed PySpark, not Spark's source-only
        # pyspark.zip (module docstring)
        conf.setdefault(DAEMON_MODULE_CONF, "dataflowex_spark.pyworker")

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        # generous arrow batches for pandas-UDF operators
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # localCheckpoint blocks are reclaimed by the ContextCleaner
        # only after a JVM GC notices the dropped references; the
        # default 30min periodic GC lets hundreds of MB of dead
        # checkpoint blocks pile up across a many-query session
        # (measured: ~58 MB per PPJoin run, System.gc() frees them).
        # 2 minutes keeps long sessions flat for one ~100 ms pause.
        .config("spark.cleaner.periodicGC.interval", "2min")
    )
    for k, v in RUNTIME_CONFS.items():
        b = b.config(k, v)
    for k, v in conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    configure(spark)
    if os.environ.get("SPARK_GRAFT_PREWARM", "") == "1":
        # pay the one-per-core Python worker spawn (~1.5 s/session on
        # 4 cores once workers import the installed PySpark)
        # up front so the FIRST pandas-UDF query in a sweep/selfcheck
        # session measures its computation, not process forking (the
        # same warmup bench.py does; spark.python.worker.reuse is on
        # by default, so the daemon pool persists for the session).
        # Opt-in: a session that never runs a Python-eval path should
        # not pay it.
        n = spark.sparkContext.defaultParallelism

        def _touch(it):
            for pdf in it:
                yield pdf

        spark.range(n * 4, numPartitions=n).mapInPandas(
            _touch, "id long"
        ).count()
    return spark
