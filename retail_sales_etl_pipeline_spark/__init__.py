"""retail_sales_etl_pipeline_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first re-expression of the query and data-processing
capabilities of the reference ETL pipeline (Airflow + pandas + PostgreSQL
star-schema warehouse), plus large-scale training-data-pipeline operators
(dedup, similarity search, text analysis, streaming) designed for
100 TB-scale partitioned-Parquet execution.

Layout
------
- ``session``    — SparkSession factory (AQE on, UTC, decimal-friendly).
- ``schemas``    — explicit StructType declarations (never infer in prod).
- ``sources``    — scans/sinks: CSV with coercions, Parquet tables, testdata.
- ``functions``  — scalar helpers (Postgres-DOW, money decimals, poly-hash).
- ``operators``  — relational + LLM-pipeline operators (clean, dims, fact,
                   dedup, similarity, text).
- ``plans``      — end-to-end pipeline drivers + the query registry used by
                   ``__spark_entry__``.
- ``streaming``  — Structured Streaming counterparts over the events table.

Python workers may be unable to import this package (they inherit the
driver's cwd and environment, not its ``sys.path``), so the whole package
is registered with cloudpickle to ship BY VALUE: a batch function can call
any module-level function here and the worker gets that function's code
with it. Kernels import what they call by name, never a package module
object, which would ship the whole module.
"""

import sys

from pyspark import cloudpickle

__version__ = "0.1.0"

cloudpickle.register_pickle_by_value(sys.modules[__name__])
