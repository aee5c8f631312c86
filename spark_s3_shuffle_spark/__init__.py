"""spark_s3_shuffle_spark — a PySpark-native analytics engine.

A brand-new, Spark-first re-expression of the capabilities validated by
IBM/spark-s3-shuffle (reference surveyed in SURVEY.md): the full relational
operator surface its TPC-DS + RDD-shuffle workloads exercise, an
object-store-friendly materialized-exchange utility (the reference's one
genuinely custom idea, re-expressed as partitioned Parquet staging),
Structured Streaming windowing, and a training-data-pipeline tier (dedup,
similarity search, text analysis, multimodal columns).

Everything relational is declared through the DataFrame/SQL API so Catalyst
plans it (predicate pushdown, column pruning, broadcast selection, AQE);
Python-side execution only appears in clearly-marked Pandas-UDF paths.

The exports resolve on first use (PEP 562), so importing the package
imports no PySpark: ``python -m spark_s3_shuffle_spark.worker_daemon``
must prune the worker's ``sys.path`` before PySpark loads.
"""

import importlib

_EXPORTS = {
    "get_spark": "spark_s3_shuffle_spark.session",
    "TABLES": "spark_s3_shuffle_spark.sources.catalog",
    "load_table": "spark_s3_shuffle_spark.sources.catalog",
    "load_tables": "spark_s3_shuffle_spark.sources.catalog",
}

__all__ = ["get_spark", "load_table", "load_tables", "TABLES"]
__version__ = "0.1.0"


def __getattr__(name: str):
    if name in _EXPORTS:
        return getattr(importlib.import_module(_EXPORTS[name]), name)
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
