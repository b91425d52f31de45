"""End-to-end retail ETL driver (replaces all four reference Airflow DAGs).

The reference orchestrates ingest → clean → transform → report as four
Airflow DAGs crossing two Postgres databases and a scheduler (reference
dag_master_pipeline.py:63-98, SURVEY §3). Here the whole pipeline is one
driver function over lazily-composed DataFrames; materialization points are
the stage-boundary parquet writes (staging, dims, fact, logs) that mirror
the reference's checkpoint tables and give restartability.

Incremental contract: dims are loaded with upsert semantics against the
existing warehouse (surrogate keys preserved across runs — what SERIAL gave
the reference); the fact table is a full refresh (TRUNCATE+reload,
reference dag3_transform_warehouse.py:117).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from ..operators.clean import StageMetric, clean_staging
from ..operators.dims import load_dim_customer, load_dim_date, load_dim_product
from ..operators.fact import build_fact_sales, write_fact_sales
from ..sources import fs
from ..sources.retail_csv import check_csv_exists, read_retail_csv
from . import metadata, quality
from .quality import DEFAULT_MIN_ROWS
from .stage_policy import StageAttempt, StagePolicy, run_stage


@dataclass
class PipelineResult:
    raw_rows: int
    cleaned_rows: int
    fact_rows: int
    dim_product_rows: int
    dim_customer_rows: int
    dim_date_rows: int
    total_revenue: str
    stage_metrics: list[StageMetric] = field(default_factory=list)
    stage_attempts: list[StageAttempt] = field(default_factory=list)
    run_id: int = 0


def _read_dim(spark: SparkSession, path: str) -> DataFrame | None:
    return spark.read.parquet(path) if fs.exists(spark, path) else None


def run(
    spark: SparkSession,
    csv_path: str,
    warehouse_dir: str,
    min_rows: int = DEFAULT_MIN_ROWS,
    timestamp_format: str | None = None,
    policy: StagePolicy = StagePolicy(),
) -> PipelineResult:
    # Every heavyweight stage runs under ``policy`` — the reference's
    # per-task execution_timeout=15min / retries=2 (dag1_ingest_csv.py:
    # 20-22, dag_master_pipeline.py:20) expressed as Spark job-group
    # cancellation + bounded re-invocation of idempotent overwrite-mode
    # writes (plans.stage_policy). Attempts land in the stage_attempts log.
    t_start = time.time()
    fs.mkdirs(spark, warehouse_dir)
    p = {
        name: fs.join(warehouse_dir, name)
        for name in (
            "staging_online_retail",
            "dim_product",
            "dim_customer",
            "dim_date",
            "fact_sales",
            "data_quality_log",
            "pipeline_runs",
            "stage_metrics",
            "stage_attempts",
        )
    }
    attempts: list[StageAttempt] = []

    # -- ingest (dag1): guard → distributed CSV scan → staging parquet ------
    check_csv_exists(spark, csv_path)
    staged = read_retail_csv(spark, csv_path, timestamp_format)
    run_stage(
        spark,
        "ingest_csv",
        lambda: staged.write.mode("overwrite")
        .parquet(p["staging_online_retail"]),  # S5+S6
        policy,
        attempts_out=attempts,
    )
    staging = spark.read.parquet(p["staging_online_retail"])
    raw_rows = staging.count()

    # -- clean (dag2): functional filter chain + metrics + gate -------------
    cleaned_res = clean_staging(staging)
    cleaned = cleaned_res.df
    cleaned_rows = cleaned_res.rows_after
    quality.validate_row_gate(cleaned_rows, min_rows)

    # -- transform (dag3): three dim upserts, then the fact star join -------
    # The three dim lineages are independent and the reference runs them as
    # PARALLEL Airflow tasks (dag3_transform_warehouse.py:216). Submitting
    # the three build+write actions from a thread pool reproduces that:
    # SparkSession is thread-safe for concurrent actions, so the scheduler
    # interleaves the three jobs instead of running them back-to-back.
    from concurrent.futures import ThreadPoolExecutor

    def _build_and_write(name: str, loader) -> None:
        df = loader(cleaned, _read_dim(spark, p[name]))
        df.write.mode("overwrite").parquet(p[name] + "_new")

    def _dims_stage() -> None:
        with ThreadPoolExecutor(max_workers=3) as pool:
            futures = [
                pool.submit(_build_and_write, name, loader)
                for name, loader in (
                    ("dim_product", load_dim_product),
                    ("dim_customer", load_dim_customer),
                    ("dim_date", load_dim_date),
                )
            ]
            for f in futures:
                f.result()  # re-raise the first failure; never swallow

    # one policy-bounded stage for the three parallel dim lineages (the
    # reference gives each parallel task the same retry knobs; a replay
    # rebuilds all three _new dirs — idempotent, the swap happens after)
    run_stage(spark, "dim_upserts", _dims_stage, policy,
              attempts_out=attempts)

    # swap: writing X_new then renaming avoids reading+overwriting the same
    # path in one job (Spark reads lazily; an in-place overwrite of an input
    # is undefined behavior). Routed through the Hadoop FS API so the same
    # swap works on hdfs:/s3a: warehouses, not just driver-local disk.
    for name in ("dim_product", "dim_customer", "dim_date"):
        fs.replace(spark, p[name] + "_new", p[name])

    dim_product = spark.read.parquet(p["dim_product"])
    dim_customer = spark.read.parquet(p["dim_customer"])
    dim_date = spark.read.parquet(p["dim_date"])

    fact = build_fact_sales(cleaned, dim_product, dim_customer, dim_date)
    run_stage(spark, "fact_full_refresh",
              lambda: write_fact_sales(fact, p["fact_sales"]), policy,
              attempts_out=attempts)
    fact = spark.read.parquet(p["fact_sales"])
    fact_rows = fact.count()
    # every consumer of the cleaned DF has executed — release its cache so
    # repeated runs on one session don't accumulate cached partitions
    cleaned_res.unpersist()

    # -- validate + report (dag2 logging + master-DAG summary) --------------
    from pyspark.sql import functions as F

    nulls = quality.null_counts(staging, ["customer_id", "description", "country"])
    quality.write_quality_log(
        spark,
        quality.quality_log_rows(
            run_id=f"run_{int(t_start)}",
            table_name="staging_online_retail",
            total_rows=cleaned_rows,
            rows_with_nulls=max(nulls.values()),
            rows_removed=raw_rows - cleaned_rows,
            min_rows=min_rows,
        ),
        p["data_quality_log"],
    )

    revenue = (
        fact.agg(F.sum("total_amount").cast("decimal(38,2)").cast("string")).collect()[0][0]
    )
    counts = {
        "dim_product": dim_product.count(),
        "dim_customer": dim_customer.count(),
        "dim_date": dim_date.count(),
    }

    run_id = metadata.log_pipeline_run(
        spark,
        p["pipeline_runs"],
        pipeline_name="retail_sales_etl",
        status="SUCCESS",
        total_rows_processed=raw_rows,
        total_rows_loaded=fact_rows,
        duration_minutes=(time.time() - t_start) / 60.0,
        notes=f"revenue={revenue}",
    )
    metadata.log_stage_metrics(spark, p["stage_metrics"], run_id, cleaned_res.metrics)
    metadata.log_stage_attempts(spark, p["stage_attempts"], run_id, attempts)

    return PipelineResult(
        raw_rows=raw_rows,
        cleaned_rows=cleaned_rows,
        fact_rows=fact_rows,
        dim_product_rows=counts["dim_product"],
        dim_customer_rows=counts["dim_customer"],
        dim_date_rows=counts["dim_date"],
        total_revenue=revenue,
        stage_metrics=cleaned_res.metrics,
        stage_attempts=attempts,
        run_id=run_id,
    )
