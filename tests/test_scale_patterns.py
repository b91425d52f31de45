"""Scale-pattern plan shapes: AQE must split a skewed join partition;
bucketed tables must join without an exchange on the bucket key."""

from __future__ import annotations

from pyspark.sql import functions as F

from retail_sales_etl_pipeline_spark.sources import load_table

from .conftest import SMOKE_SF_DIR


def test_aqe_splits_skewed_join_partition(spark):
    """AQE's runtime skew-join handling (on in the session factory): with
    one hot key dominating the build of a sort-merge join, the final
    adaptive plan must mark the join skew-handled (skew=true) — the
    runtime complement to explicit salting (q108)."""
    import pytest

    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "32KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force SMJ
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        # 200k rows on ONE key + a thin uniform tail vs a small right side
        big = spark.range(0, 200_000).select(
            F.lit(1).alias("k"), F.col("id").alias("payload")
        ).union(
            spark.range(0, 2_000).select(
                (F.col("id") % 50 + 2).alias("k"), F.col("id").alias("payload")
            )
        )
        right = spark.range(0, 52).select(
            F.col("id").alias("k"), F.lit("x").alias("tag")
        )
        joined = big.join(right, "k")
        # collect() executes THIS DataFrame's plan (count() would build a
        # separate query execution and leave this one un-finalized)
        assert len(joined.collect()) == 202_000
        final_plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in final_plan, final_plan[:2000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_bucketed_join_has_no_shuffle(spark):
    """bucketBy + saveAsTable co-locates both sides: the join plan must
    contain a SortMergeJoin with NO Exchange (the 100 TB repeated-join
    pattern: pay the shuffle once at write time).

    Uses the session's default warehouse dir (spark.sql.warehouse.dir is
    a static conf); the location is gitignored.
    """
    spark.sql("CREATE DATABASE IF NOT EXISTS bktdb")
    # clean any orphaned locations from prior interrupted runs
    import shutil

    for t in ("li_bkt", "ord_bkt"):
        spark.sql(f"DROP TABLE IF EXISTS bktdb.{t}")
        loc = f"spark-warehouse/bktdb.db/{t}"
        shutil.rmtree(loc, ignore_errors=True)
    li = load_table(spark, SMOKE_SF_DIR, "lineitem")
    orders = load_table(spark, SMOKE_SF_DIR, "orders")
    (
        li.write.mode("overwrite")
        .bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey")
        .saveAsTable("bktdb.li_bkt")
    )
    (
        orders.withColumnRenamed("o_orderkey", "l_orderkey")
        .write.mode("overwrite")
        .bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey")
        .saveAsTable("bktdb.ord_bkt")
    )
    # disable auto-broadcast so the planner must pick the co-located
    # sort-merge join (at real scale neither side would broadcast anyway)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("bktdb.li_bkt").join(
            spark.table("bktdb.ord_bkt"), "l_orderkey"
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan[:2000]
        assert "Exchange" not in plan, plan[:2000]
        # and it still computes the right thing
        assert joined.count() == load_table(spark, SMOKE_SF_DIR, "lineitem").count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
