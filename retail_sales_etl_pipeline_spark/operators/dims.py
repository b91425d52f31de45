"""Dimension builds and the one surrogate-key merge (reference dag3 +
SURVEY §2.11).

Spark/Parquet has no in-place UPDATE and no SERIAL, so the reference's
three ``INSERT ... ON CONFLICT`` loads become one recompute-and-merge plan
per dimension, ``assign_surrogate_keys``, the same for a first load and an
upsert:

- M1 new-wins on payload, as ON CONFLICT DO UPDATE does for dim_product
  and dim_customer (reference dag3_transform_warehouse.py:47-48, 75-76).
  dim_date's DO NOTHING (reference line 102) gives the same rows: its
  payload is a function of the date, so new and old values agree.
- M3 sentinel: the UNKNOWN customer enters inside dim_customer's one
  aggregate, and a real 'UNKNOWN' customer id wins over it (reference
  lines 63-67).
- Surrogate keys: existing rows KEEP their keys across runs (what SERIAL
  gave the reference); only genuinely-new natural keys get fresh keys,
  numbered max(existing) plus their rank in natural-key order. Key
  *values* may differ from the reference's insertion-order keys;
  correctness tests join on natural keys (SURVEY §7.4.1).

Scale: dims are small by definition (thousands to low millions of rows at
100 TB fact scale), so the merge's full outer join and its
single-partition key window see dimension-sized rows, never the fact
table. Building a dim plan runs no Spark job: the old key maximum is a
window over the merged rows, not a driver round trip.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from ..functions import pg_dayofweek
from ..schemas import rows_frame

UNKNOWN_CUSTOMER = "UNKNOWN"


# ---------------------------------------------------------------------------
# attribute builds (A1-A3)
# ---------------------------------------------------------------------------


def build_dim_product_attrs(staging: DataFrame) -> DataFrame:
    """A1: one row per stock_code, description = MAX(description)
    (deterministic pick; reference dag3_transform_warehouse.py:41-46)."""
    return (
        staging.filter(F.col("stock_code").isNotNull())
        .groupBy("stock_code")
        .agg(F.max("description").alias("description"))
    )


def build_dim_customer_attrs(staging: DataFrame) -> DataFrame:
    """A2 + M3: one row per customer_id with MAX(country), plus the
    sentinel UNKNOWN row for NULL-customer facts (reference
    dag3_transform_warehouse.py:63-77), in one aggregate.

    The sentinel is unioned with the real rows before the group-by,
    flagged ``_real`` false. The max of (``_real``, country) is the real rows'
    MAX(country) whenever the id has a real row, NULLs sorting first, so
    a real 'UNKNOWN' customer wins over the sentinel (M2 precedence)."""
    real = staging.filter(F.col("customer_id").isNotNull()).select(
        "customer_id", "country", F.lit(True).alias("_real")
    )
    unknown = {"customer_id": UNKNOWN_CUSTOMER, "country": UNKNOWN_CUSTOMER, "_real": False}
    sentinel = rows_frame(staging.sparkSession, [unknown], real.schema)
    return (
        real.unionByName(sentinel)
        .groupBy("customer_id")
        .agg(F.max(F.struct("_real", "country"))["country"].alias("country"))
    )


def build_dim_date_attrs(staging: DataFrame) -> DataFrame:
    """A3: DISTINCT DATE(invoice_date) + derived parts (reference
    dag3_transform_warehouse.py:91-103). day_of_week is Postgres DOW."""
    d = F.col("date")
    return (
        staging.filter(F.col("invoice_date").isNotNull())
        .select(F.to_date("invoice_date").alias("date"))
        .distinct()
        .select(
            d,
            F.year(d).cast("int").alias("year"),
            F.month(d).cast("int").alias("month"),
            F.dayofmonth(d).cast("int").alias("day"),
            F.quarter(d).cast("int").alias("quarter"),
            pg_dayofweek(d).alias("day_of_week"),
        )
    )


# ---------------------------------------------------------------------------
# surrogate keys + merge
# ---------------------------------------------------------------------------


def assign_surrogate_keys(
    new_attrs: DataFrame,
    existing: DataFrame | None,
    natural_key: str,
    key_col: str,
) -> DataFrame:
    """Merge new attribute rows into a dimension in one plan: a full outer
    join on the natural key, then one natural-key-ordered window.

    A natural key already in ``existing`` keeps its surrogate key. A new
    one gets max(existing key) plus the running count of new keys in
    natural-key order, so a first load numbers 1..n. Payload is M1
    new-wins: a row present in ``new_attrs`` takes its values there, NULLs
    included. An absent dimension (``existing`` None) is an empty local
    relation, which the optimizer prunes from the join. The window is
    unpartitioned by design: it only ever sees dimension-sized rows; the
    fact table never passes through here.
    """
    attr_cols = [c for c in new_attrs.columns if c != natural_key]
    if existing is None:
        schema = StructType([StructField(key_col, IntegerType()), *new_attrs.schema.fields])
        existing = rows_frame(new_attrs.sparkSession, [], schema)

    old_key = F.col(f"old.{key_col}")
    in_new = F.col(f"new.{natural_key}").isNotNull()
    w = Window.orderBy(natural_key)
    base = F.max(old_key).over(w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
    rank = F.count(F.when(old_key.isNull(), 1)).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return existing.alias("old").join(new_attrs.alias("new"), natural_key, "full_outer").select(
        F.coalesce(old_key, F.coalesce(base, F.lit(0)) + rank).cast("int").alias(key_col),
        natural_key,
        *[F.when(in_new, F.col(f"new.{c}")).otherwise(F.col(f"old.{c}")).alias(c)
          for c in attr_cols],
    )


# ---------------------------------------------------------------------------
# full dimension loads (attrs + keys), mirroring dag3's three parallel loads
# ---------------------------------------------------------------------------


def load_dim_product(staging: DataFrame, existing: DataFrame | None = None) -> DataFrame:
    return assign_surrogate_keys(
        build_dim_product_attrs(staging), existing, "stock_code", "product_key"
    )


def load_dim_customer(staging: DataFrame, existing: DataFrame | None = None) -> DataFrame:
    return assign_surrogate_keys(
        build_dim_customer_attrs(staging), existing, "customer_id", "customer_key"
    )


def load_dim_date(staging: DataFrame, existing: DataFrame | None = None) -> DataFrame:
    return assign_surrogate_keys(
        build_dim_date_attrs(staging), existing, "date", "date_key"
    )
