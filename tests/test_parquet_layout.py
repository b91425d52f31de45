"""The one Parquet layout every engine write uses (``session.get_spark``):
v2 data pages, INT64 ``TIMESTAMP(MICROS)`` timestamps, and a fact table
clustered by date within each month file (``operators/fact``). Each
property is read from the written files themselves: page headers and
footers through pyarrow, the fact rows through DuckDB. A warehouse written
with the older layout (v1 pages, INT96 timestamps) still loads."""

from __future__ import annotations

import glob
import os
import shutil
from decimal import Decimal

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from retail_sales_etl_pipeline_spark.plans import metadata, retail_pipeline
from tools.bench_pipeline import generate_csv

from .conftest import SMOKE_SF_DIR
from .retail_fixture import fixture_path
from .test_retail_pipeline import _write_second_load

# parquet.thrift PageType
DATA_PAGE, DATA_PAGE_V2 = 0, 3
MICROS_UTC = pa.timestamp("us", tz="UTC")
LOGS = ("pipeline_runs", "stage_attempts", "stage_metrics", "data_quality_log")
DIMS = (("dim_product", "stock_code", "product_key"),
        ("dim_customer", "customer_id", "customer_key"),
        ("dim_date", "date", "date_key"))


def _files(root: str) -> list[str]:
    return sorted(glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True))


def _page_types(path: str) -> set[int]:
    """The type of the first data page of every column chunk in ``path``.
    A page header is a Thrift compact struct whose first field is the
    i32 page type: byte 0x15 (field 1, i32), then the zigzag varint."""
    md = pq.ParquetFile(path).metadata
    types = set()
    with open(path, "rb") as f:
        for rg in range(md.num_row_groups):
            for c in range(md.num_columns):
                f.seek(md.row_group(rg).column(c).data_page_offset)
                head = f.read(2)
                assert head[0] == 0x15, (path, head)
                types.add(head[1] >> 1)
    return types


def _encodings(path: str, column: str) -> set[str]:
    md = pq.ParquetFile(path).metadata
    names = [md.schema.column(c).path for c in range(md.num_columns)]
    c = names.index(column)
    return {e for rg in range(md.num_row_groups) for e in md.row_group(rg).column(c).encodings}


@pytest.fixture(scope="module")
def warehouse(spark, tmp_path_factory):
    """One ETL run over 3,000 generated rows (13 months, dates in random
    order, so the fact's shuffle scrambles them unless the write sorts)."""
    tmp = tmp_path_factory.mktemp("layout")
    csv = str(tmp / "retail.csv")
    generate_csv(csv, 3000, seed=1)
    wh = str(tmp / "warehouse")
    return wh, retail_pipeline.run(spark, csv, wh, min_rows=1)


def test_fact_month_files_are_date_clustered(warehouse):
    """In every month file ``invoice_date`` never decreases and
    ``sale_key`` rises by exactly 1 per row in file order; keys are unique
    across the table."""
    wh, res = warehouse
    files = _files(os.path.join(wh, "fact_sales"))
    assert len(files) == 13
    keys = []
    for path in files:
        t = pq.read_table(path, columns=["sale_key", "invoice_date"]).to_pydict()
        dates, ks = t["invoice_date"], t["sale_key"]
        assert len(ks) > 1, path
        assert all(a <= b for a, b in zip(dates, dates[1:])), path
        assert all(b - a == 1 for a, b in zip(ks, ks[1:])), path
        keys += ks
    assert len(keys) == len(set(keys)) == res.fact_rows


def test_footers_show_delta_keys_and_micros_timestamps(warehouse):
    wh, _ = warehouse
    staging = _files(os.path.join(wh, "staging_online_retail"))
    fact = _files(os.path.join(wh, "fact_sales"))
    for paths, key in ((staging, "load_seq"), (fact, "sale_key")):
        for path in paths:
            assert "DELTA_BINARY_PACKED" in _encodings(path, key), (path, key)
    for path in staging + fact:
        md = pq.ParquetFile(path).metadata
        col = md.schema.column(md.schema.names.index("invoice_date"))
        assert col.physical_type == "INT64", path
        assert pq.read_schema(path).field("invoice_date").type == MICROS_UTC, path


def test_every_etl_table_uses_v2_pages(warehouse):
    wh, _ = warehouse
    files = _files(wh)
    assert {os.path.relpath(p, wh).split(os.sep)[0] for p in files} >= {
        "staging_online_retail", "fact_sales", *(d for d, _, _ in DIMS), *LOGS}
    for path in files:
        assert _page_types(path) == {DATA_PAGE_V2}, path


def test_prefix_index_uses_v2_pages(spark):
    from retail_sales_etl_pipeline_spark.plans.dedup_queries import materialize_prefix_index

    ix = materialize_prefix_index(spark, SMOKE_SF_DIR)
    files = [f.removeprefix("file:") for f in spark.table(ix.pfx).inputFiles()]
    assert files
    for path in files:
        assert _page_types(path) == {DATA_PAGE_V2}, path


def test_duckdb_reads_the_fact_table(spark, warehouse):
    """DuckDB reads the v2 fact table back: the run's row count and
    revenue, and every ``invoice_date`` as the instant Spark wrote. The
    INT64 timestamps are UTC-adjusted, so DuckDB types them TIMESTAMPTZ."""
    wh, res = warehouse
    fact = os.path.join(wh, "fact_sales")
    con = duckdb.connect()
    try:
        src = f"read_parquet('{fact}/*/*.parquet', hive_partitioning = true)"
        n, revenue, ts_type = con.execute(
            f"SELECT count(*), sum(total_amount), any_value(typeof(invoice_date)) FROM {src}"
        ).fetchone()
        instants = con.execute(
            f"SELECT sale_key, epoch_us(invoice_date) FROM {src} ORDER BY sale_key"
        ).fetchall()
    finally:
        con.close()
    assert (n, revenue) == (res.fact_rows, Decimal(res.total_revenue))
    assert ts_type == "TIMESTAMP WITH TIME ZONE"
    spark_instants = [
        tuple(r) for r in spark.read.parquet(fact)
        .select("sale_key", F.unix_micros("invoice_date")).orderBy("sale_key").collect()
    ]
    assert instants == spark_instants


def test_older_layout_warehouse_still_loads(spark, tmp_path):
    """Dims and logs as the older layout wrote them (v1 pages, INT96
    timestamps): a run over that warehouse keeps the old surrogate keys,
    appends its logs, and ``recent_pipeline_runs`` reads both generations
    back with their timestamps."""
    csv1, _ = fixture_path(str(tmp_path))
    csv2 = str(tmp_path / "second.csv")
    _write_second_load(csv2)
    wh = str(tmp_path / "wh")
    retail_pipeline.run(spark, csv1, wh, min_rows=1)

    conf = "spark.sql.parquet.outputTimestampType"
    saved = spark.conf.get(conf)
    spark.conf.set(conf, "INT96")
    try:
        for name in (*(d for d, _, _ in DIMS), *LOGS):
            path = os.path.join(wh, name)
            spark.read.parquet(path).write.option("parquet.writer.version", "v1") \
                .parquet(path + "_v1")
            shutil.rmtree(path)
            os.rename(path + "_v1", path)
    finally:
        spark.conf.set(conf, saved)
    for path in _files(wh):
        if not os.path.relpath(path, wh).startswith(("staging", "fact")):
            assert _page_types(path) == {DATA_PAGE}, path
    for path in _files(os.path.join(wh, "pipeline_runs")):
        assert pq.read_schema(path).field("run_timestamp").type == pa.timestamp("ns"), path
    (first,) = metadata.recent_pipeline_runs(spark, f"{wh}/pipeline_runs").collect()

    def keys(dim, nk, key):
        return {r[nk]: r[key] for r in spark.read.parquet(f"{wh}/{dim}").collect()}

    before = {dim: keys(dim, nk, key) for dim, nk, key in DIMS}
    res = retail_pipeline.run(spark, csv2, wh, min_rows=1)
    assert res.fact_rows == 4
    for dim, nk, key in DIMS:
        after = keys(dim, nk, key)
        assert {k: after[k] for k in before[dim]} == before[dim], dim

    runs = metadata.recent_pipeline_runs(spark, f"{wh}/pipeline_runs").collect()
    assert [r.run_id for r in runs] == [res.run_id, first.run_id]
    assert runs[1].run_timestamp == first.run_timestamp
    assert runs[0].run_timestamp >= first.run_timestamp
    assert all(r.status == "success" for r in runs)
    attempts = spark.read.parquet(f"{wh}/stage_attempts")
    assert {r.run_id for r in attempts.select("run_id").distinct().collect()} == {
        first.run_id, res.run_id}
    # the log directory holds both generations side by side
    assert {pq.read_schema(p).field("run_timestamp").type
            for p in _files(os.path.join(wh, "pipeline_runs"))} == {
        pa.timestamp("ns"), MICROS_UTC}
