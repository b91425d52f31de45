"""Explicit StructType declarations for every table in the engine.

The reference declares schemas in SQL DDL files executed at runtime
(reference schema/staging_schema.sql, warehouse_schema.sql,
metadata_schema.sql); here they are StructType constants — the engine never
relies on CSV/JSON inference (SURVEY §1.3).

Types follow SURVEY §1.2: money is DecimalType(10,2) (never double — money
sums must be exact), surrogate keys are int/long, natural keys string.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    DateType,
    DecimalType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)


def _f(name: str, dtype, nullable: bool = True) -> StructField:
    return StructField(name, dtype, nullable)


# Raw CSV columns (reference config/data_source.json:8) — read as strings and
# coerced in ingest, reproducing pandas' errors='coerce' semantics.
RETAIL_CSV_SCHEMA = StructType(
    [
        _f("InvoiceNo", StringType()),
        _f("StockCode", StringType()),
        _f("Description", StringType()),
        _f("Quantity", StringType()),
        _f("InvoiceDate", StringType()),
        _f("UnitPrice", StringType()),
        _f("CustomerID", StringType()),
        _f("Country", StringType()),
    ]
)

# staging_online_retail (reference schema/staging_schema.sql:2-12) plus
# load_seq — the ingest-order stamp that replaces Postgres ctid as the
# dedup-survivor tiebreak (SURVEY §7.4.2).
STAGING_SCHEMA = StructType(
    [
        _f("invoice_no", StringType()),
        _f("stock_code", StringType()),
        _f("description", StringType()),
        _f("quantity", IntegerType()),
        _f("invoice_date", TimestampType()),
        _f("unit_price", DecimalType(10, 2)),
        _f("customer_id", StringType()),
        _f("country", StringType()),
        _f("load_seq", LongType(), nullable=False),
    ]
)

# dim_product (reference schema/warehouse_schema.sql:2-6)
DIM_PRODUCT_SCHEMA = StructType(
    [
        _f("product_key", IntegerType(), nullable=False),
        _f("stock_code", StringType(), nullable=False),
        _f("description", StringType()),
    ]
)

# dim_customer (reference schema/warehouse_schema.sql:9-13)
DIM_CUSTOMER_SCHEMA = StructType(
    [
        _f("customer_key", IntegerType(), nullable=False),
        _f("customer_id", StringType(), nullable=False),
        _f("country", StringType()),
    ]
)

# dim_date (reference schema/warehouse_schema.sql:18-26); day_of_week is
# Postgres DOW 0=Sunday..6=Saturday (reference dag3_transform_warehouse.py:99)
DIM_DATE_SCHEMA = StructType(
    [
        _f("date_key", IntegerType(), nullable=False),
        _f("date", DateType(), nullable=False),
        _f("year", IntegerType()),
        _f("month", IntegerType()),
        _f("day", IntegerType()),
        _f("quarter", IntegerType()),
        _f("day_of_week", IntegerType()),
    ]
)

# fact_sales (reference schema/warehouse_schema.sql:35-52) plus sale_month,
# the Hive-style partition column replacing Postgres monthly RANGE
# partitioning (reference warehouse_schema.sql:52-95, SURVEY §4 P1).
FACT_SALES_SCHEMA = StructType(
    [
        _f("sale_key", LongType(), nullable=False),
        _f("invoice_no", StringType()),
        _f("product_key", IntegerType(), nullable=False),
        _f("customer_key", IntegerType()),
        _f("date_key", IntegerType(), nullable=False),
        _f("invoice_date", TimestampType(), nullable=False),
        _f("quantity", IntegerType()),
        _f("unit_price", DecimalType(10, 2)),
        _f("total_amount", DecimalType(10, 2)),
        _f("sale_month", StringType(), nullable=False),
    ]
)

# data_quality_log (reference schema/warehouse_schema.sql:107-117)
DATA_QUALITY_LOG_SCHEMA = StructType(
    [
        _f("check_timestamp", TimestampType()),
        _f("dag_run_id", StringType()),
        _f("table_name", StringType()),
        _f("total_rows", LongType()),
        _f("rows_with_nulls", LongType()),
        _f("rows_removed", LongType()),
        _f("status", StringType()),
        _f("notes", StringType()),
    ]
)

# pipeline_runs (reference schema/metadata_schema.sql:1-11)
PIPELINE_RUNS_SCHEMA = StructType(
    [
        _f("run_id", LongType(), nullable=False),
        _f("run_date", DateType()),
        _f("run_timestamp", TimestampType()),
        _f("pipeline_name", StringType()),
        _f("status", StringType()),
        _f("total_rows_processed", LongType()),
        _f("total_rows_loaded", LongType()),
        _f("duration_minutes", DecimalType(8, 2)),
        _f("notes", StringType()),
    ]
)

# stage_metrics (reference schema/metadata_schema.sql:13-21)
STAGE_METRICS_SCHEMA = StructType(
    [
        _f("run_id", LongType(), nullable=False),
        _f("stage_name", StringType(), nullable=False),
        _f("rows_before", LongType()),
        _f("rows_after", LongType()),
        _f("rows_removed", LongType()),
        _f("execution_timestamp", TimestampType()),
    ]
)

# stage_attempts (the stage timeout/retry policy's audit trail,
# plans.stage_policy; no reference table)
STAGE_ATTEMPTS_SCHEMA = StructType(
    [
        _f("run_id", LongType()),
        _f("stage_name", StringType()),
        _f("attempt", IntegerType()),
        _f("status", StringType()),
        _f("seconds", DoubleType()),
        _f("error", StringType()),
        _f("execution_timestamp", TimestampType()),
    ]
)


def rows_frame(
    spark: SparkSession, rows: list[dict] | list[tuple], schema: StructType | str
) -> DataFrame:
    """``rows`` (dicts keyed by field name, or tuples in field order) as a
    frame of ``schema`` (a StructType or a DDL string), via an Arrow table:
    a LocalTableScan with no Python-worker job, whatever the Arrow conf
    (``createDataFrame`` of a Python list plans a PythonRDD scan). The
    engine builds every frame of driver-side rows this way."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    rows = [r if isinstance(r, dict) else dict(zip(schema.names, r)) for r in rows]
    table = pa.Table.from_pylist(rows, schema=to_arrow_schema(schema))
    return spark.createDataFrame(table, schema=schema)
