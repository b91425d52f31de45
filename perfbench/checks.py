"""Output checks: independent DuckDB recomputations the engine must match.

- ``etl_expected``: the retail pipeline's observable results (per-stage
  row counts, dimension sizes, fact rows, total revenue) recomputed in
  DuckDB SQL straight from the generated CSV.
- ``etl_mismatches``: the differences between a ``PipelineResult`` and
  those expectations (empty when the run is correct).
- ``OracleChecker``: a registry query's Spark result against its
  ``oracle`` SQL, compared by the repo's canonical value hash
  (``tools/check_correctness.canon``), or by row count when the query
  has no oracle.
"""

from __future__ import annotations

import duckdb

from tools.check_correctness import canon

CLEAN_STAGES = (
    "remove_nulls", "remove_duplicates", "remove_zero_quantities", "remove_invalid_prices",
)

# The staging coercions of sources.retail_csv, in DuckDB: NULL on any
# unparseable value, CustomerID through a double round-trip ("17850.0").
_STAGING_SQL = """
SELECT InvoiceNo AS invoice_no,
       StockCode AS stock_code,
       TRY_CAST(Quantity AS INTEGER) AS quantity,
       TRY_CAST(InvoiceDate AS TIMESTAMP) AS invoice_date,
       TRY_CAST(UnitPrice AS DECIMAL(10,2)) AS unit_price,
       CASE WHEN TRY_CAST(CustomerID AS DOUBLE) IS NULL
                 OR isnan(TRY_CAST(CustomerID AS DOUBLE)) THEN NULL
            ELSE printf('%.1f', TRY_CAST(CustomerID AS DOUBLE)) END AS customer_id
FROM read_csv('{path}', header = true, all_varchar = true)
"""


def etl_expected(csv_path: str) -> dict:
    """What ``retail_pipeline.run`` must report for a fresh warehouse."""
    con = duckdb.connect()
    try:
        con.execute(f"CREATE TEMP VIEW staging AS {_STAGING_SQL.format(path=csv_path)}")
        con.execute("""
            CREATE TEMP VIEW no_nulls AS SELECT * FROM staging
            WHERE invoice_no IS NOT NULL AND stock_code IS NOT NULL
              AND quantity IS NOT NULL AND invoice_date IS NOT NULL
              AND unit_price IS NOT NULL""")
        con.execute("""
            CREATE TEMP VIEW dedup AS
            SELECT DISTINCT invoice_no, stock_code, quantity, invoice_date, unit_price,
                   COALESCE(customer_id, '') AS cust_key,
                   customer_id
            FROM no_nulls""")
        con.execute("CREATE TEMP VIEW nonzero AS SELECT * FROM dedup WHERE quantity <> 0")
        con.execute("CREATE TEMP VIEW cleaned AS SELECT * FROM nonzero WHERE unit_price > 0")
        raw, n1, n2, n3, n4 = con.execute("""
            SELECT (SELECT COUNT(*) FROM staging), (SELECT COUNT(*) FROM no_nulls),
                   (SELECT COUNT(*) FROM dedup), (SELECT COUNT(*) FROM nonzero),
                   (SELECT COUNT(*) FROM cleaned)""").fetchone()
        products, customers, dates, revenue = con.execute("""
            SELECT COUNT(DISTINCT stock_code),
                   COUNT(DISTINCT customer_id) + 1,
                   COUNT(DISTINCT CAST(invoice_date AS DATE)),
                   CAST(SUM(CAST(quantity * unit_price AS DECIMAL(10,2)))
                        AS DECIMAL(38,2))::VARCHAR
            FROM cleaned""").fetchone()
    finally:
        con.close()
    return {
        "raw_rows": raw,
        "stage_counts": [
            (CLEAN_STAGES[0], raw, n1), (CLEAN_STAGES[1], n1, n2),
            (CLEAN_STAGES[2], n2, n3), (CLEAN_STAGES[3], n3, n4),
        ],
        "cleaned_rows": n4,
        "fact_rows": n4,
        "dim_product_rows": products,
        "dim_customer_rows": customers,
        "dim_date_rows": dates,
        "total_revenue": revenue,
    }


def etl_mismatches(result, expected: dict) -> list[str]:
    """Fields of a ``PipelineResult`` that differ from ``expected``."""
    got = {
        "raw_rows": result.raw_rows,
        "stage_counts": [(m.stage_name, m.rows_before, m.rows_after)
                         for m in result.stage_metrics],
        "cleaned_rows": result.cleaned_rows,
        "fact_rows": result.fact_rows,
        "dim_product_rows": result.dim_product_rows,
        "dim_customer_rows": result.dim_customer_rows,
        "dim_date_rows": result.dim_date_rows,
        "total_revenue": result.total_revenue,
    }
    return [f"{k}: got {got[k]!r}, want {v!r}" for k, v in expected.items() if got[k] != v]


class OracleChecker:
    """DuckDB views over one input directory's parquet tables."""

    def __init__(self, data_dir: str, tables: tuple[str, ...]):
        self.con = duckdb.connect()
        for t in tables:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
            )

    def mismatch(self, query, spark_pdf) -> str | None:
        """None when the Spark result matches the query's oracle."""
        got_hash, got_rows = canon(spark_pdf)
        if query.oracle is None:
            return None if got_rows > 0 else "no rows"
        want_hash, want_rows = canon(self.con.execute(query.oracle).df())
        if (got_hash, got_rows) != (want_hash, want_rows):
            return f"spark {got_rows} rows {got_hash} != oracle {want_rows} rows {want_hash}"
        return None

    def close(self) -> None:
        self.con.close()
