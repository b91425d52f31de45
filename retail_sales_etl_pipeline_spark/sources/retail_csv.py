"""Retail CSV ingestion (reference dag1_ingest_csv.py, Spark-first).

The reference reads the whole 541K-row CSV into pandas on one machine,
builds Python tuples row by row and ships them to Postgres in 1,000-row
batches (reference dag1_ingest_csv.py:67-100) — its scalability ceiling.
Here the CSV scan is a distributed `spark.read.csv` with an explicit schema
and the same observable coercion semantics (SURVEY §2.1 S2):

- `InvoiceDate`: pandas ``to_datetime(errors='coerce')`` → unparseable
  timestamps become NULL. `F.to_timestamp` has exactly those semantics.
- `CustomerID`: pandas reads float-ish IDs, stages strings like
  ``"17850.0"``, and the literal ``'nan'`` becomes NULL (reference
  dag1_ingest_csv.py:73). Reproduced via double-cast round-trip.
- `Quantity` / `UnitPrice`: numeric casts, NULL on garbage.
- `load_seq`: a monotonically increasing stamp taken on the pre-shuffle
  scan. Within each CSV split, row order is file order, so first-by-load_seq
  == first-in-file — the deterministic dedup-survivor tiebreak that replaces
  Postgres ctid ordering (reference dag2_clean_validate.py:57, SURVEY §7.4.2).

At 100 TB the same code reads a directory of CSV splits in parallel;
load_seq stays a valid *within-file-order* tiebreak because
monotonically_increasing_id is increasing within each partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import RETAIL_CSV_SCHEMA


def read_retail_csv(spark: SparkSession, path: str) -> DataFrame:
    """CSV → typed staging DataFrame (schema per STAGING_SCHEMA)."""
    raw = (
        spark.read.schema(RETAIL_CSV_SCHEMA)
        .option("header", True)
        .option("mode", "PERMISSIVE")
        .csv(path)
        .withColumn("load_seq", F.monotonically_increasing_id())
    )

    # try_* variants everywhere: Spark 4 runs ANSI mode by default, where a
    # plain cast/to_timestamp THROWS on malformed input. pandas
    # errors='coerce' semantics (reference dag1_ingest_csv.py:72) = NULL on
    # failure = try_to_timestamp / try_cast.
    ts = F.try_to_timestamp("InvoiceDate")

    # pandas float64 round-trip: "17850" → 17850.0 → "17850.0"; missing /
    # unparseable / literal-nan → NULL.
    cust_dbl = F.col("CustomerID").try_cast("double")
    customer_id = F.when(
        cust_dbl.isNull() | F.isnan(cust_dbl), F.lit(None).cast("string")
    ).otherwise(cust_dbl.cast("string"))

    return raw.select(
        F.col("InvoiceNo").alias("invoice_no"),
        F.col("StockCode").alias("stock_code"),
        F.col("Description").alias("description"),
        F.col("Quantity").try_cast("int").alias("quantity"),
        ts.alias("invoice_date"),
        F.col("UnitPrice").try_cast("decimal(10,2)").alias("unit_price"),
        customer_id.alias("customer_id"),
        F.col("Country").alias("country"),
        F.col("load_seq"),
    )


def check_csv_exists(spark: SparkSession, path: str) -> None:
    """Pre-flight guard (reference dag1_ingest_csv.py:26-39 S3): fail fast
    if the input is missing/empty rather than staging an empty table.
    Hadoop-FS-routed, so the guard works on hdfs:/s3a: inputs too."""
    from . import fs

    if not fs.exists(spark, path):
        raise FileNotFoundError(f"input CSV not found: {path}")
    if fs.is_file(spark, path) and fs.file_size(spark, path) == 0:
        raise ValueError(f"input CSV is empty: {path}")
