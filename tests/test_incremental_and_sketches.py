"""Sketch aggregates: the approximate scale path next to the exact
operators."""

from __future__ import annotations

from pyspark.sql import functions as F

from retail_sales_etl_pipeline_spark.sources import load_table

from .conftest import SMOKE_SF_DIR


def test_sketch_aggregates_close_to_exact(spark):
    """approx_count_distinct and percentile_approx: the one-pass mergeable
    sketches used when exactness is traded for scan economics at 100 TB.
    Bounded relative error vs the exact operators."""
    li = load_table(spark, SMOKE_SF_DIR, "lineitem")
    row = li.agg(
        F.countDistinct("l_orderkey").alias("exact_d"),
        F.approx_count_distinct("l_orderkey", rsd=0.02).alias("approx_d"),
        F.expr("percentile(l_extendedprice, 0.5)").alias("exact_p50"),
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("approx_p50"),
    ).collect()[0]
    assert abs(row["approx_d"] - row["exact_d"]) / row["exact_d"] < 0.05
    assert abs(row["approx_p50"] - row["exact_p50"]) / row["exact_p50"] < 0.02
