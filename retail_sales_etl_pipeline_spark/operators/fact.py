"""Fact load: the 3-way star join + partitioned write (reference dag3).

J1 (reference dag3_transform_warehouse.py:112-143): staging joins all three
dimensions on natural keys — expression keys included (COALESCE for the
unknown customer, DATE() cast for the date key) — projecting surrogate keys
and measures. All three dims are dimension-sized, so every join is an
explicit broadcast hash join: the staging/fact side streams through
map-side, shuffle-free.

The write replaces Postgres monthly RANGE partitioning (reference
warehouse_schema.sql:52-95) with Hive-style ``partitionBy(sale_month)``
parquet — partition pruning on month predicates and dynamic partition
pruning for joins come free from Spark (SURVEY §4 P1). Full-refresh
semantics (TRUNCATE+reload, reference dag3_transform_warehouse.py:117) is
``mode("overwrite")`` — one atomic truncate-and-load.

Each month file is clustered by ``(invoice_date, invoice_no)``: the write
sorts within the month partitions, so dates and invoice numbers run in
order inside a file. The v2 pages of ``session.get_spark`` then
delta-encode them to a few bits a row, and in a file of many row groups a
date-range scan skips the others by their min/max stats.

sale_key: the reference's BIGSERIAL is a per-row autoincrement; here it is
``monotonically_increasing_id`` numbered by the write after that sort, so
within each month file it rises by 1 per row in file order. It is unique
and stable within a load, not dense across files, which is the scalable
contract (a global dense sequence would need a total order over 100 TB).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import total_amount
from .dims import UNKNOWN_CUSTOMER


def build_fact_sales(
    staging: DataFrame,
    dim_product: DataFrame,
    dim_customer: DataFrame,
    dim_date: DataFrame,
) -> DataFrame:
    s = staging.alias("s")
    p = F.broadcast(dim_product.alias("p"))
    c = F.broadcast(dim_customer.alias("c"))
    d = F.broadcast(dim_date.alias("d"))

    joined = (
        s.join(p, F.col("s.stock_code") == F.col("p.stock_code"), "inner")
        .join(
            c,
            F.coalesce(F.col("s.customer_id"), F.lit(UNKNOWN_CUSTOMER))
            == F.col("c.customer_id"),
            "inner",
        )
        .join(d, F.to_date(F.col("s.invoice_date")) == F.col("d.date"), "inner")
    )
    return joined.select(
        F.col("s.invoice_no").alias("invoice_no"),
        F.col("p.product_key").alias("product_key"),
        F.col("c.customer_key").alias("customer_key"),
        F.col("d.date_key").alias("date_key"),
        F.col("s.invoice_date").alias("invoice_date"),
        F.col("s.quantity").alias("quantity"),
        F.col("s.unit_price").alias("unit_price"),
        total_amount(F.col("s.quantity"), F.col("s.unit_price")).alias("total_amount"),
        F.date_format(F.col("s.invoice_date"), "yyyy-MM").alias("sale_month"),
    )


def write_fact_sales(fact: DataFrame, path: str) -> None:
    """P1: monthly-partitioned parquet, full-refresh overwrite (S5/M5);
    numbers ``sale_key``.

    Without the repartition, every upstream task writes its own file into
    every month directory (tasks x months small files). Clustering by the
    partition column first gives exactly one file per month. Within a
    task the rows are sorted by ``(sale_month, invoice_date, invoice_no)``:
    the writer's required ``sale_month`` ordering is a prefix of that sort,
    so the plan keeps one Sort and the one exchange. ``sale_key`` is
    numbered after the sort, so in each month file it is unique and
    strictly increasing (by 1 per row) in file order.
    """
    clustered = fact.repartition(F.col("sale_month")).sortWithinPartitions(
        "sale_month", "invoice_date", "invoice_no"
    )
    (
        clustered.select(F.monotonically_increasing_id().alias("sale_key"), *fact.columns)
        .write.mode("overwrite")
        .partitionBy("sale_month")
        .parquet(path)
    )


def ri_violations(fact: DataFrame, dim: DataFrame, key: str) -> int:
    """J2: referential-integrity check — fact keys missing from a dim.

    The reference enforces FKs in Postgres (warehouse_schema.sql:46-51);
    Spark has no constraints, so RI is a validation op: a broadcast
    left-anti join that must be empty. (J1's inner joins guarantee this by
    construction — the check documents it.)
    """
    return fact.join(F.broadcast(dim.select(key)), key, "left_anti").count()
