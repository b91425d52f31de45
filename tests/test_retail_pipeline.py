"""Golden end-to-end tests of the retail pipeline on the synthetic fixture
(FIXTURES.md §A4 invariants) plus unit tests of the known-hard semantics
(SURVEY §7.4)."""

from __future__ import annotations

from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from retail_sales_etl_pipeline_spark.operators.clean import clean_staging
from retail_sales_etl_pipeline_spark.operators.fact import ri_violations
from retail_sales_etl_pipeline_spark.plans import metadata, retail_pipeline
from retail_sales_etl_pipeline_spark.plans.quality import DataQualityError
from retail_sales_etl_pipeline_spark.sources.retail_csv import read_retail_csv

from .retail_fixture import fixture_path


@pytest.fixture(scope="module")
def pipeline_run(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("retail")
    csv_path, exp = fixture_path(str(tmp))
    wh = str(tmp / "warehouse")
    res = retail_pipeline.run(spark, csv_path, wh, min_rows=10)
    return spark, csv_path, wh, exp, res


def test_stage_metrics_reconcile(pipeline_run):
    _, _, _, exp, res = pipeline_run
    assert res.raw_rows == exp.raw_rows
    by_name = {m.stage_name: m for m in res.stage_metrics}
    assert by_name["remove_nulls"].rows_after == exp.after_nulls
    assert by_name["remove_duplicates"].rows_after == exp.after_dedup
    assert by_name["remove_zero_quantities"].rows_after == exp.after_zero_qty
    assert by_name["remove_invalid_prices"].rows_after == exp.after_price
    # A4.1: counts reconcile exactly
    assert res.cleaned_rows == exp.after_price


def test_fact_equals_cleaned_and_revenue_exact(pipeline_run):
    _, _, _, exp, res = pipeline_run
    # A4.2: inner joins lossless after UNKNOWN seed
    assert res.fact_rows == res.cleaned_rows
    # A4.3: exact decimal revenue
    assert Decimal(res.total_revenue) == exp.revenue


def test_dim_counts(pipeline_run):
    _, _, _, exp, res = pipeline_run
    assert res.dim_product_rows == exp.n_products
    assert res.dim_customer_rows == exp.n_customers + 1  # + UNKNOWN sentinel
    assert res.dim_date_rows == exp.n_dates


def test_negative_quantity_kept_and_ri(pipeline_run):
    spark, _, wh, _, _ = pipeline_run
    fact = spark.read.parquet(f"{wh}/fact_sales")
    # A4.5: returns kept
    assert fact.filter(F.col("quantity") < 0).count() == 1
    # A4.6: RI — every fact row joins back to each dim
    for dim, key in (
        ("dim_product", "product_key"),
        ("dim_customer", "customer_key"),
        ("dim_date", "date_key"),
    ):
        assert ri_violations(fact, spark.read.parquet(f"{wh}/{dim}"), key) == 0


def test_dedup_survivor_carries_first_description(pipeline_run):
    spark, csv_path, _, exp, _ = pipeline_run
    staged = read_retail_csv(spark, csv_path)
    cleaned = clean_staging(staged)
    for inv, want in exp.survivor_descriptions.items():
        got = cleaned.df.filter(F.col("invoice_no") == inv).select("description").collect()
        assert [r[0] for r in got] == [want], inv
    cleaned.unpersist()


def test_nan_customer_becomes_null_and_float_str(pipeline_run):
    spark, csv_path, _, _, _ = pipeline_run
    staged = read_retail_csv(spark, csv_path)
    nan_row = staged.filter(F.col("invoice_no") == "600000").collect()[0]
    assert nan_row["customer_id"] is None
    good = staged.filter(F.col("invoice_no") == "100000").collect()[0]
    assert good["customer_id"] == "17850.0"  # pandas float→str quirk


def test_unknown_customer_routing(pipeline_run):
    spark, _, wh, _, _ = pipeline_run
    fact = spark.read.parquet(f"{wh}/fact_sales")
    dimc = spark.read.parquet(f"{wh}/dim_customer")
    unknown_key = dimc.filter(F.col("customer_id") == "UNKNOWN").collect()[0]["customer_key"]
    # 20 baseline rows: every 4th has blank customer → 5; plus dup-survivor
    # 300001 (null cust) and the 'nan' row → 7 UNKNOWN facts
    assert fact.filter(F.col("customer_key") == unknown_key).count() == 7


def test_idempotent_rerun_preserves_surrogate_keys(spark, tmp_path):
    csv_path, _ = fixture_path(str(tmp_path))
    wh = str(tmp_path / "wh")
    r1 = retail_pipeline.run(spark, csv_path, wh, min_rows=10)
    keys1 = {
        r["stock_code"]: r["product_key"]
        for r in spark.read.parquet(f"{wh}/dim_product").collect()
    }
    r2 = retail_pipeline.run(spark, csv_path, wh, min_rows=10)
    keys2 = {
        r["stock_code"]: r["product_key"]
        for r in spark.read.parquet(f"{wh}/dim_product").collect()
    }
    assert keys1 == keys2  # SERIAL-equivalent stability (SURVEY §7.4.1)
    assert r1.fact_rows == r2.fact_rows
    assert r1.total_revenue == r2.total_revenue


def test_quality_log_counts_staging_nulls(pipeline_run):
    """data_quality_log.rows_with_nulls is the largest per-column NULL count
    over the nullable staging columns: 8 NULL customers (5 blank baseline
    rows, the two 300001 duplicates, the 'nan' row); no description or
    country is NULL."""
    spark, _, wh, exp, res = pipeline_run
    (row,) = spark.read.parquet(f"{wh}/data_quality_log").collect()
    assert (row.total_rows, row.rows_with_nulls, row.rows_removed) == (
        res.cleaned_rows, 8, exp.raw_rows - exp.after_price,
    )


def _write_second_load(path: str) -> None:
    """A later extract: known products, customers and dates next to new
    ones (P900/P901, 99999/11111, 2011-08-xx), one known product with a
    changed description."""
    import csv

    from .retail_fixture import HEADER

    rows = [
        ["700000", "P000", "PRODUCT 0 RENAMED", "2", "2011-03-01 10:00:00", "1.50", "17850", "UK"],
        ["700001", "P901", "NEW B", "1", "2011-08-02 10:00:00", "2.00", "99999", "Peru"],
        ["700002", "P900", "NEW A", "3", "2011-08-01 10:00:00", "2.50", "11111", "Chile"],
        ["700003", "P101", "OLD", "1", "2011-04-01 13:00:00", "4.00", "", "UK"],
    ]
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(HEADER)
        w.writerows(rows)


def test_upsert_keeps_keys_and_numbers_new_ones_above_max(spark, tmp_path):
    """The paper's steady state: a second extract into the same warehouse.
    Known natural keys keep their surrogate keys (payload new-wins), new
    ones are numbered contiguously above the old maximum in natural-key
    order, and every fact row of the second load joins each dim."""
    csv1, _ = fixture_path(str(tmp_path))
    csv2 = str(tmp_path / "second.csv")
    _write_second_load(csv2)
    wh = str(tmp_path / "wh")
    dims = (("dim_product", "stock_code", "product_key"),
            ("dim_customer", "customer_id", "customer_key"),
            ("dim_date", "date", "date_key"))

    def keys(dim, nk, key):
        return {r[nk]: r[key] for r in spark.read.parquet(f"{wh}/{dim}").collect()}

    retail_pipeline.run(spark, csv1, wh, min_rows=1)
    before = {dim: keys(dim, nk, key) for dim, nk, key in dims}
    res = retail_pipeline.run(spark, csv2, wh, min_rows=1)
    fact = spark.read.parquet(f"{wh}/fact_sales")
    assert res.fact_rows == 4
    for dim, nk, key in dims:
        old, new = before[dim], keys(dim, nk, key)
        assert {k: new[k] for k in old} == old, dim
        fresh = sorted(k for k in new if k not in old)
        top = max(old.values())
        assert [new[k] for k in fresh] == list(range(top + 1, top + 1 + len(fresh))), dim
        assert ri_violations(fact, spark.read.parquet(f"{wh}/{dim}"), key) == 0
    assert len(before["dim_product"]) + 2 == res.dim_product_rows
    assert len(before["dim_customer"]) + 2 == res.dim_customer_rows
    assert len(before["dim_date"]) + 2 == res.dim_date_rows
    renamed = spark.read.parquet(f"{wh}/dim_product").filter(F.col("stock_code") == "P000")
    assert renamed.collect()[0]["description"] == "PRODUCT 0 RENAMED"


def _failed_run(spark, wh: str, error) -> int:
    """The warehouse's one run row: ``failed``, with ``error`` in its
    notes (read through the recent_pipeline_runs view). Returns its
    run_id."""
    (row,) = metadata.recent_pipeline_runs(spark, f"{wh}/pipeline_runs").collect()
    assert row.status == "failed"
    assert row.pipeline_name == "retail_sales_etl"
    assert str(error) in row.notes
    return row.run_id


def test_quality_gate_raises(spark, tmp_path):
    """A run that fails the row gate still leaves its record: one failed
    run row, and the ingest attempt it made under that run_id."""
    csv_path, _ = fixture_path(str(tmp_path))
    wh = str(tmp_path / "wh2")
    with pytest.raises(DataQualityError) as ei:
        retail_pipeline.run(spark, csv_path, wh, min_rows=400_000)
    run_id = _failed_run(spark, wh, ei.value)
    attempts = spark.read.parquet(f"{wh}/stage_attempts").collect()
    assert [(r.run_id, r.stage_name, r.status) for r in attempts] == [
        (run_id, "ingest_csv", "success")
    ]


def test_missing_csv_raises(spark, tmp_path):
    wh = str(tmp_path / "wh3")
    with pytest.raises(FileNotFoundError) as ei:
        retail_pipeline.run(spark, str(tmp_path / "nope.csv"), wh)
    _failed_run(spark, wh, ei.value)


def test_clean_idempotent(spark, tmp_path):
    csv_path, _ = fixture_path(str(tmp_path))
    staged = read_retail_csv(spark, csv_path)
    once = clean_staging(staged)
    twice = clean_staging(once.df)
    assert once.df.count() == twice.df.count()
    assert once.df.exceptAll(twice.df).count() == 0
    twice.unpersist()
    once.unpersist()


def test_retail_driver_records_stage_attempts(pipeline_run):
    """The retail driver runs its heavyweight stages under the default
    timeout/retry policy and records one success attempt per stage in
    both the result object and the stage_attempts parquet log."""
    spark, _, wh, _, res = pipeline_run
    assert {a.stage_name for a in res.stage_attempts} == {
        "ingest_csv", "dim_upserts", "fact_full_refresh",
    }
    assert all(a.status == "success" and a.attempt == 1
               for a in res.stage_attempts)
    logged = spark.read.parquet(f"{wh}/stage_attempts").collect()
    assert {(r.stage_name, r.attempt, r.status) for r in logged} >= {
        (a.stage_name, a.attempt, a.status) for a in res.stage_attempts
    }
    (run,) = spark.read.parquet(f"{wh}/pipeline_runs").collect()
    assert (run.run_id, run.status) == (res.run_id, "success")
    assert run.notes == f"revenue={res.total_revenue}"
