"""dataflowex_spark — a PySpark-native analytics/ETL engine.

A ground-up re-expression of the capabilities of gridsum/DataflowEx
(a C# TPL-Dataflow ETL framework: typed pipeline composition,
map/flatMap/filter-routing/broadcast/key-dispatch/batch stages, bulk
DB sinks, and a dimension-lookup-join-with-insert-missing operator)
on Spark's DataFrame / SQL / Structured Streaming stack, extended
with large-scale training-data operators (dedup, similarity search,
text analysis, multimodal column plumbing).

Design rules (see SURVEY.md):
- DataFrame-first; plans stay declarative so Catalyst optimizes them.
- Pandas UDFs only where built-ins cannot express the semantics.
- Every operator is designed for 100 TB / multi-executor scale:
  broadcast small sides, shuffle on explicit keys, no driver collects
  in data paths.
"""

import importlib

# Exports load on first use (PEP 562), so that importing a submodule
# imports no PySpark: the Python worker daemon (``pyworker``) runs as
# ``python -m dataflowex_spark.pyworker`` and must fix ``sys.path``
# before anything imports ``pyspark``.
_EXPORTS = {
    "get_spark": "dataflowex_spark.session",
    "configure": "dataflowex_spark.session",
    "Catalog": "dataflowex_spark.catalog",
    "TABLES": "dataflowex_spark.catalog",
    "Pipeline": "dataflowex_spark.pipeline",
}

__all__ = list(_EXPORTS)
__version__ = "0.1.0"


def __getattr__(name: str):
    if name not in _EXPORTS:
        raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
    return getattr(importlib.import_module(_EXPORTS[name]), name)
