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

from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from functools import reduce

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import schemas
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


# The three dims in build order, each with the schema it is read back with.
DIM_SCHEMAS = {
    "dim_product": schemas.DIM_PRODUCT_SCHEMA,
    "dim_customer": schemas.DIM_CUSTOMER_SCHEMA,
    "dim_date": schemas.DIM_DATE_SCHEMA,
}


def run(
    spark: SparkSession,
    csv_path: str,
    warehouse_dir: str,
    min_rows: int = DEFAULT_MIN_ROWS,
    policy: StagePolicy = StagePolicy(),
) -> PipelineResult:
    # Every heavyweight stage runs under ``policy`` — the reference's
    # per-task execution_timeout=15min / retries=2 (dag1_ingest_csv.py:
    # 20-22, dag_master_pipeline.py:20) expressed as Spark job-group
    # cancellation + bounded re-invocation of idempotent overwrite-mode
    # writes (plans.stage_policy). The run, failed or not, lands in the
    # warehouse's run logs (metadata.recorded_run).
    with metadata.recorded_run(spark, warehouse_dir, "retail_sales_etl") as rec:
        p = {
            name: fs.join(warehouse_dir, name)
            for name in ("staging_online_retail", *DIM_SCHEMAS, "fact_sales", "data_quality_log")
        }

        def _read(name: str, schema) -> DataFrame:
            # with its schema: a bare ``spark.read.parquet`` launches a Spark
            # job to infer the schema from the parquet footers
            return spark.read.schema(schema).parquet(p[name])

        # -- ingest (dag1): guard → distributed CSV scan → staging parquet --
        check_csv_exists(spark, csv_path)
        staged = read_retail_csv(spark, csv_path)
        run_stage(
            spark,
            "ingest_csv",
            lambda: staged.write.mode("overwrite")
            .parquet(p["staging_online_retail"]),  # S5+S6
            policy,
            attempts_out=rec.attempts,
        )
        staging = _read("staging_online_retail", schemas.STAGING_SCHEMA)

        # -- clean (dag2): one flagged pass gives the rows and every count --
        cleaned_res = clean_staging(staging)
        cleaned = cleaned_res.df
        raw_rows = cleaned_res.metrics[0].rows_before
        cleaned_rows = cleaned_res.rows_after
        rec.rows_processed = raw_rows
        quality.validate_row_gate(cleaned_rows, min_rows)

        # -- transform (dag3): three dim upserts, then the fact star join ---
        # The three dim lineages are independent and the reference runs them as
        # PARALLEL Airflow tasks (dag3_transform_warehouse.py:216). Submitting
        # the three build+write actions from a thread pool reproduces that:
        # SparkSession is thread-safe for concurrent actions, so the scheduler
        # interleaves the three jobs instead of running them back-to-back.
        def _build_and_write(name: str, loader) -> None:
            old = _read(name, DIM_SCHEMAS[name]) if fs.exists(spark, p[name]) else None
            loader(cleaned, old).write.mode("overwrite").parquet(p[name] + "_new")

        def _dims_stage() -> None:
            # Pool threads do not inherit the stage's job group; wrapping here,
            # inside the stage, hands it over so a timeout cancels their jobs.
            build_and_write = inheritable_thread_target(spark)(_build_and_write)
            with ThreadPoolExecutor(max_workers=3) as pool:
                loaders = (load_dim_product, load_dim_customer, load_dim_date)
                futures = [
                    pool.submit(build_and_write, name, loader)
                    for name, loader in zip(DIM_SCHEMAS, loaders)
                ]
                for f in futures:
                    f.result()  # re-raise the first failure; never swallow

        # one policy-bounded stage for the three parallel dim lineages (the
        # reference gives each parallel task the same retry knobs; a replay
        # rebuilds all three _new dirs — idempotent, the swap happens after)
        run_stage(spark, "dim_upserts", _dims_stage, policy,
                  attempts_out=rec.attempts)

        # swap: writing X_new then renaming avoids reading+overwriting the same
        # path in one job (Spark reads lazily; an in-place overwrite of an input
        # is undefined behavior). Routed through the Hadoop FS API so the same
        # swap works on hdfs:/s3a: warehouses, not just driver-local disk.
        for name in DIM_SCHEMAS:
            fs.replace(spark, p[name] + "_new", p[name])

        dims = {name: _read(name, schema) for name, schema in DIM_SCHEMAS.items()}

        fact = build_fact_sales(cleaned, dims["dim_product"], dims["dim_customer"], dims["dim_date"])
        run_stage(spark, "fact_full_refresh",
                  lambda: write_fact_sales(fact, p["fact_sales"]), policy,
                  attempts_out=rec.attempts)
        fact = _read("fact_sales", schemas.FACT_SALES_SCHEMA)
        # every consumer of the cleaned DF has executed — release its cache
        # so repeated runs on one session don't accumulate cached partitions
        cleaned_res.unpersist()

        # -- validate + report (dag2 logging + master-DAG summary) ----------
        # One action reads back the fact rows, the revenue and the dim sizes.
        tables = {"fact_sales": fact, **dims}
        no_amount = F.lit(None).cast("decimal(10,2)").alias("total_amount")
        totals = reduce(DataFrame.union, [
            df.select(F.lit(name).alias("t"), "total_amount" if df is fact else no_amount)
            for name, df in tables.items()
        ]).agg(
            *[F.count_if(F.col("t") == name).alias(name) for name in tables],
            F.sum("total_amount").cast("decimal(38,2)").cast("string").alias("revenue"),
        ).collect()[0]

        quality.write_quality_log(
            spark,
            quality.quality_log_rows(
                run_id=f"run_{int(rec.started)}",
                table_name="staging_online_retail",
                total_rows=cleaned_rows,
                rows_with_nulls=max(cleaned_res.null_counts.values()),
                rows_removed=raw_rows - cleaned_rows,
                min_rows=min_rows,
            ),
            p["data_quality_log"],
        )
        rec.rows_loaded = totals["fact_sales"]
        rec.notes = f"revenue={totals['revenue']}"
        rec.metrics = cleaned_res.metrics

    return PipelineResult(
        raw_rows=raw_rows,
        cleaned_rows=cleaned_rows,
        fact_rows=totals["fact_sales"],
        dim_product_rows=totals["dim_product"],
        dim_customer_rows=totals["dim_customer"],
        dim_date_rows=totals["dim_date"],
        total_revenue=totals["revenue"],
        stage_metrics=cleaned_res.metrics,
        stage_attempts=rec.attempts,
        run_id=rec.run_id,
    )
