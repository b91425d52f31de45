"""SparkSession factory.

One place to pin every conf that correctness or scale depends on:

- ``spark.sql.session.timeZone=UTC`` — timestamps must be TZ-stable so the
  DuckDB oracle (UTC-naive) and any cluster deployment agree.
- AQE on (coalesce partitions + skew-join) — at 100 TB the static shuffle
  partition count is always wrong somewhere; AQE re-plans from runtime stats.
- ``spark.sql.shuffle.partitions`` defaults to the local core count here;
  on a real cluster this is overridden to ~2-3x total executor cores.
- Arrow enabled — every Pandas-UDF operator (multimodal, similarity
  fallbacks) rides Arrow batches instead of pickled rows.
- One Parquet layout for every engine write (staging, dims, fact, logs,
  checkpoints, curation stages), fixed here and not a user option:

  - ``spark.hadoop.parquet.writer.version=v2`` — v2 data pages. When a
    column's dictionary falls back, integers and timestamps are
    ``DELTA_BINARY_PACKED`` and strings ``DELTA_BYTE_ARRAY``, so columns
    that only ever increase (``load_seq``, surrogate keys, the clustered
    fact's ``sale_key``) cost a few bits a row instead of 8 bytes.
  - ``spark.sql.parquet.outputTimestampType=TIMESTAMP_MICROS`` — INT64
    ``TIMESTAMP(MICROS)`` instead of the deprecated INT96 (12 bytes, no
    delta encoding): an INT64 column delta-encodes like any integer, and
    other engines read it as an instant (DuckDB types it TIMESTAMPTZ).

  Readers take both generations: a warehouse written with v1 pages and
  INT96 timestamps still loads and appends.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def get_spark(
    app_name: str = "retail_sales_etl_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the configured SparkSession.

    In local mode we size shuffle partitions to the core count: the test
    tables are far below the 128 MB-per-partition sweet spot, so the default
    200 would just schedule overhead. On a cluster, pass
    ``shuffle_partitions`` explicitly (or let AQE coalesce).
    """
    master = master or f"local[{DEFAULT_CPUS}]"
    shuffle = shuffle_partitions or DEFAULT_CPUS
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Parquet writes at scale: zstd beats snappy on size at similar CPU.
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.hadoop.parquet.writer.version", "v2")
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # Don't let one giant file become one giant task.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
