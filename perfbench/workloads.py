"""Benchmark workloads: named lists of registry queries (ops).

An op is one ``dataflowex_spark.queries`` entry: ``fn(spark, sf_dir)``
is timed as *build*, and the action that hashes every output column
(``oracle.spark_digest``) as *exec*.  Every op runs in every pass of its
workload, in this order.  ``tables`` are the fixture tables the ops read:
the ones a run generates, touches during set-up and gives the oracle.
``python_workers`` says whether the ops run Python workers, and so
whether set-up starts the worker pool.
"""

WORKLOADS = {
    "analytics": {
        "ops": [
            "q02_flatmap_explode",
            "q21_join_left_outer",
            "q294_mtable_pruned_read",
            "q399_result_cache",
        ],
        "tables": ["documents", "customer", "orders", "lineitem"],
        "python_workers": False,
        "why": (
            "Star-schema SQL on sf0.1: a Pipeline op, a join, an MTable commit and "
            "pruned read, result-cache reuse. JVM only: no Python workers or streams."
        ),
    },
    "curation_stream": {
        "ops": [
            "q210_unicode_normalize",
            "q367_stream_dedup_within_watermark",
        ],
        "tables": ["documents", "events"],
        "python_workers": True,
        "why": (
            "An LLM-data text operator on Python workers and a stateful stream "
            "drain: the paths analytics bypasses; no table formats or result cache."
        ),
    },
}
