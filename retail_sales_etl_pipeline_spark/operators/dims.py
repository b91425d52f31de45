"""Dimension builds + upsert/merge library (reference dag3 + SURVEY §2.11).

Spark/Parquet has no in-place UPDATE and no SERIAL, so the reference's
UPSERTs become recompute-and-merge patterns and surrogate keys become our
own deterministic assignment:

- M1 ``upsert_new_wins`` — INSERT ... ON CONFLICT DO UPDATE (dim_product,
  dim_customer; reference dag3_transform_warehouse.py:47-48, 75-76).
- M2 ``upsert_old_wins`` — ON CONFLICT DO NOTHING (dim_date, sentinel seed;
  reference dag3_transform_warehouse.py:66, 102).
- Surrogate keys: existing rows KEEP their keys across runs (what SERIAL
  gave the reference); only genuinely-new natural keys get fresh keys,
  numbered max(existing)+row_number(new). Key *values* may differ from the
  reference's insertion-order keys — correctness tests join on natural keys
  (SURVEY §7.4.1).

Scale: dims are small by definition (thousands to low millions of rows at
100 TB fact scale), so the merge anti-joins broadcast the *delta* side and
the row_number over new keys is a single-partition window over a
dimension-sized delta — not a fact-table shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

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
    dag3_transform_warehouse.py:63-77)."""
    real = (
        staging.filter(F.col("customer_id").isNotNull())
        .groupBy("customer_id")
        .agg(F.max("country").alias("country"))
    )
    unknown = {"customer_id": UNKNOWN_CUSTOMER, "country": UNKNOWN_CUSTOMER}
    sentinel = rows_frame(staging.sparkSession, [unknown], real.schema)
    # M2 precedence: the sentinel must never overwrite a real 'UNKNOWN'
    # customer id (cannot occur in practice, but precedence is explicit).
    return real.unionByName(sentinel.join(real, "customer_id", "left_anti"))


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
# surrogate keys + merge patterns
# ---------------------------------------------------------------------------


def assign_surrogate_keys(
    new_attrs: DataFrame,
    existing: DataFrame | None,
    natural_key: str,
    key_col: str,
    key_type: str = "int",
) -> DataFrame:
    """Merge new attribute rows into an existing dimension, preserving the
    surrogate keys of already-known natural keys (M1 new-wins on payload).

    New natural keys are numbered max(existing_key) + row_number ordered by
    the natural key — deterministic and collision-free. The window is
    unpartitioned by design: it only ever sees the *new-keys delta*, which
    is dimension-scale tiny; the fact table never passes through here.
    """
    attr_cols = [c for c in new_attrs.columns if c != natural_key]

    if existing is None or not existing.columns:
        w = Window.orderBy(natural_key)
        return new_attrs.select(
            F.row_number().over(w).cast(key_type).alias(key_col),
            natural_key,
            *attr_cols,
        )

    # Existing rows: keep key; take new payload when present (M1 new-wins).
    upd = existing.alias("old").join(
        F.broadcast(new_attrs.alias("new")), on=natural_key, how="left"
    )
    kept = upd.select(
        F.col(f"old.{key_col}").alias(key_col),
        F.col(natural_key),
        *[
            F.when(
                F.col(f"new.{natural_key}").isNotNull(), F.col(f"new.{c}")
            ).otherwise(F.col(f"old.{c}")).alias(c)
            for c in attr_cols
        ],
    )

    fresh = new_attrs.join(F.broadcast(existing.select(natural_key)), natural_key, "left_anti")
    base = existing.agg(F.max(key_col)).collect()[0][0] or 0
    w = Window.orderBy(natural_key)
    fresh_keyed = fresh.select(
        (F.row_number().over(w) + F.lit(base)).cast(key_type).alias(key_col),
        natural_key,
        *attr_cols,
    )
    return kept.unionByName(fresh_keyed)


def upsert_new_wins(old: DataFrame, new: DataFrame, key: str | list[str]) -> DataFrame:
    """M1: new rows win on conflict; absent old rows preserved."""
    keys = [key] if isinstance(key, str) else list(key)
    return new.unionByName(old.join(new.select(*keys), keys, "left_anti"))


def upsert_old_wins(old: DataFrame, new: DataFrame, key: str | list[str]) -> DataFrame:
    """M2: old rows win on conflict; only genuinely-new rows inserted."""
    keys = [key] if isinstance(key, str) else list(key)
    return old.unionByName(new.join(old.select(*keys), keys, "left_anti"))


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
    """dim_date uses M2 semantics (DO NOTHING) — a date's derived parts
    never change, so old rows are simply kept (they're identical)."""
    return assign_surrogate_keys(
        build_dim_date_attrs(staging), existing, "date", "date_key"
    )
