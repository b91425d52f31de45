"""Data-quality checks + gate (reference dag2_clean_validate.py:108-174).

The reference's runtime assurance: per-run row totals, per-column null
counts, a PASS/WARNING status row appended to data_quality_log, and a hard
ValueError gate when the cleaned row count falls below a minimum
(reference dag2_clean_validate.py:132-136 — 400,000 for the real dataset;
parameterized here so fixtures can scale it down).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schemas import DATA_QUALITY_LOG_SCHEMA
from .metadata import append_log

DEFAULT_MIN_ROWS = 400_000


class DataQualityError(ValueError):
    """Raised when the post-clean row count is below the gate."""


def null_counts(df: DataFrame, columns: list[str] | None = None) -> dict[str, int]:
    """A8: per-column null counts in ONE pass (multiple agg expressions
    over a single scan — reference verify_ingestion.py:119-126 runs one
    query per table; same shape)."""
    cols = columns or df.columns
    row = df.agg(
        *[
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).cast("long").alias(c)
            for c in cols
        ]
    ).collect()[0]
    return {c: row[c] for c in cols}


def validate_row_gate(total_rows: int, min_rows: int = DEFAULT_MIN_ROWS) -> None:
    """Hard quality gate (reference dag2_clean_validate.py:132-136)."""
    if total_rows < min_rows:
        raise DataQualityError(
            f"Data quality check failed: only {total_rows} rows after cleaning "
            f"(minimum {min_rows})"
        )


def quality_log_rows(
    run_id: str,
    table_name: str,
    total_rows: int,
    rows_with_nulls: int,
    rows_removed: int,
    min_rows: int = DEFAULT_MIN_ROWS,
) -> list[dict]:
    """One data_quality_log record (reference dag2_clean_validate.py:139-174);
    append with ``write_quality_log`` (M6)."""
    status = "PASS" if total_rows >= min_rows else "WARNING"
    return [
        {
            "dag_run_id": run_id,
            "table_name": table_name,
            "total_rows": total_rows,
            "rows_with_nulls": rows_with_nulls,
            "rows_removed": rows_removed,
            "status": status,
            "notes": f"cleaning removed {rows_removed} rows",
        }
    ]


def write_quality_log(spark, rows: list[dict], path: str) -> None:
    """M6 append-only log write; check_timestamp is the write time (C7)."""
    append_log(spark, path, rows, DATA_QUALITY_LOG_SCHEMA)
