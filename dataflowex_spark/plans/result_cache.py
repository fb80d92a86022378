"""Query-result cache keyed by a canonical plan fingerprint — the
engine-level memoization layer (Snowflake's "query result reuse" /
Databricks' result cache, public behavior re-built Spark-first).

Key = sha256 of (normalized ANALYZED plan, input-file identities):

- the analyzed plan string is canonical for WHAT the query computes
  (after view/star expansion), but carries expression ids (``#123``)
  that differ run to run — normalized away, so the same logical
  query fingerprints identically across sessions;
- every input file's (path, size, mtime) joins the key, so ANY
  change to source data — new file, rewrite, compaction — misses the
  cache instead of serving stale rows. That makes staleness
  impossible by construction rather than policy.

A hit replaces the whole computation with a parquet scan of the
stored result — at 100 TB the economics are the MV rewrite's (q383)
without the declaration step: repeated dashboard/report queries cost
the RESULT's size, not the fact table's. Store writes are atomic
(job dir + rename), so concurrent misses of the same query race
benignly — one wins the rename, both answers are identical by
construction.
"""

from __future__ import annotations

import hashlib
import os
import re
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession

from dataflowex_spark.sources.footer_stats import local_path


def cacheable(df: DataFrame) -> bool:
    """Whether a plan's fingerprint actually pins its DATA.

    A ``LocalRelation`` / ``LogicalRDD`` (``createDataFrame`` —
    Spark 4's Arrow path prints the latter) carries only attribute
    names in the analyzed plan — two different in-memory datasets
    with the same schema would fingerprint identically — and
    contributes no input files. Any plan containing one (or reading
    no files at all) is refused rather than risk serving one
    dataset's cached rows for another, or stale rows after an
    in-memory lookup changes."""
    analyzed = df._jdf.queryExecution().analyzed().toString()
    if any(
        marker in analyzed
        for marker in ("LocalRelation", "LocalTableScan", "LogicalRDD")
    ):
        return False
    return bool(df.inputFiles())


def plan_fingerprint(df: DataFrame) -> str:
    """Canonical content-address of (logical plan, input data)."""
    analyzed = df._jdf.queryExecution().analyzed().toString()
    # expression ids (#123) and view-expansion aliases (cte names keep
    # their text) vary per session — strip ids, keep structure
    canon = re.sub(r"#\d+L?", "#", analyzed)
    h = hashlib.sha256(canon.encode())
    for path in sorted(df.inputFiles()):
        local = local_path(path)
        try:
            st = os.stat(local)
            ident = f"{local}:{st.st_size}:{st.st_mtime_ns}"
        except OSError:
            ident = local
        h.update(b"\x00" + ident.encode())
    return h.hexdigest()


class ResultCache:
    """Parquet-backed result store under ``root``; entries are
    content-addressed by :func:`plan_fingerprint`."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _entry(self, fp: str) -> str:
        return os.path.join(self.root, fp)

    def get_or_compute(self, df: DataFrame) -> tuple[DataFrame, bool]:
        """(result frame, was_hit). On a miss the result materializes
        into the store and is returned AS the stored scan, so hit and
        miss paths yield byte-identical frames. Uncacheable plans
        (:func:`cacheable` — LocalRelation / no input files) fall
        through to plain computation and never populate the store."""
        if not cacheable(df):
            return df, False
        fp = plan_fingerprint(df)
        dest = self._entry(fp)
        if not os.path.exists(dest):
            job = os.path.join(self.root, f"_job-{uuid.uuid4().hex}")
            df.write.parquet(job)
            try:
                os.rename(job, dest)  # atomic claim; loser cleans up
                hit = False
            except OSError:
                shutil.rmtree(job, ignore_errors=True)
                hit = True
        else:
            hit = True
        return self.spark.read.parquet(dest), hit

    def invalidate_all(self) -> int:
        n = 0
        for fn in os.listdir(self.root):
            shutil.rmtree(os.path.join(self.root, fn), ignore_errors=True)
            n += 1
        return n
