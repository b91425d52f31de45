"""Run metadata: pipeline_runs / stage_metrics / recent_pipeline_runs
(reference scripts/metadata_tracker.py + schema/metadata_schema.sql).

Append-only parquet logs (M6). ``recorded_run`` is the one rule both
pipeline drivers record a run through, failed runs included.
``recent_pipeline_runs`` (the reference's only VIEW,
metadata_schema.sql:23-34) is the O1 top-k pattern: ORDER BY ... DESC
LIMIT 10 → Spark plans TakeOrderedAndProject.
"""

from __future__ import annotations

import time
from collections.abc import Iterator
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from decimal import Decimal

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DateType, StructType, TimestampType

from ..schemas import PIPELINE_RUNS_SCHEMA, STAGE_ATTEMPTS_SCHEMA, STAGE_METRICS_SCHEMA
from ..schemas import rows_frame
from ..sources import fs


def append_log(spark: SparkSession, path: str, rows: list[dict], schema: StructType) -> None:
    """The one append rule for every log table (M6): ``rows`` become one
    parquet file under ``path``. A log's date and timestamp columns are its
    write time (the reference's CURRENT_DATE/CURRENT_TIMESTAMP defaults, C7).

    The frame is built from an Arrow table (``schemas.rows_frame``), so it
    reaches the JVM with no Python-worker round trip.
    """
    if not rows:
        return
    now = {DateType: F.current_date(), TimestampType: F.current_timestamp()}
    stamps = {f.name: now[type(f.dataType)] for f in schema if type(f.dataType) in now}
    df = rows_frame(spark, rows, schema).withColumns(stamps)
    df.coalesce(1).write.mode("append").parquet(path)


def log_pipeline_run(
    spark: SparkSession,
    path: str,
    pipeline_name: str,
    status: str,
    total_rows_processed: int,
    total_rows_loaded: int,
    duration_minutes: float,
    notes: str = "",
) -> int:
    """Append one pipeline_runs row (reference metadata_tracker.py:36-89).

    run_id: epoch-millis stamp — unique per run without a serial sequence.
    """
    run_id = int(time.time() * 1000)
    row = {
        "run_id": run_id,
        "pipeline_name": pipeline_name,
        "status": status,
        "total_rows_processed": total_rows_processed,
        "total_rows_loaded": total_rows_loaded,
        "duration_minutes": Decimal(f"{duration_minutes:.2f}"),
        "notes": notes,
    }
    append_log(spark, path, [row], PIPELINE_RUNS_SCHEMA)
    return run_id


def log_stage_metrics(
    spark: SparkSession, path: str, run_id: int, metrics: list
) -> None:
    """Append stage_metrics rows (reference metadata_tracker.py:92-135);
    accepts operators.clean.StageMetric instances."""
    rows = [{"run_id": run_id, **asdict(m), "rows_removed": m.rows_removed} for m in metrics]
    append_log(spark, path, rows, STAGE_METRICS_SCHEMA)


def recent_pipeline_runs(spark: SparkSession, path: str, n: int = 10) -> DataFrame:
    """The recent_pipeline_runs view (reference metadata_schema.sql:23-34):
    O1 ORDER BY run_date DESC, run_timestamp DESC LIMIT n — planned as
    TakeOrderedAndProject (per-partition top-k, no full sort)."""
    if not fs.exists(spark, path):
        return rows_frame(spark, [], PIPELINE_RUNS_SCHEMA)
    return (
        spark.read.schema(PIPELINE_RUNS_SCHEMA).parquet(path)
        .orderBy(F.desc("run_date"), F.desc("run_timestamp"))
        .limit(n)
    )


def log_stage_attempts(
    spark: SparkSession, path: str, run_id: int, attempts: list
) -> None:
    """Append stage-attempt rows (the timeout/retry policy's audit trail —
    reference dag1_ingest_csv.py:20-22 execution_timeout/retries made
    observable). Accepts plans.stage_policy.StageAttempt instances."""
    rows = [{"run_id": run_id, **asdict(a)} for a in attempts]
    append_log(spark, path, rows, STAGE_ATTEMPTS_SCHEMA)


@dataclass
class RunRecord:
    """A run as ``recorded_run`` logs it: the driver passes ``attempts`` to
    ``run_stage`` and fills in the counts, notes and metrics it knows."""

    started: float = field(default_factory=time.time)
    attempts: list = field(default_factory=list)
    metrics: list = field(default_factory=list)
    rows_processed: int = 0
    rows_loaded: int = 0
    notes: str = ""
    run_id: int = 0


@contextmanager
def recorded_run(
    spark: SparkSession, out_dir: str, pipeline_name: str
) -> Iterator[RunRecord]:
    """Log the body's run under ``out_dir``: on exit one ``pipeline_runs``
    row and the run's ``stage_attempts``, plus its ``stage_metrics`` on
    success. An exception is logged as a ``failed`` row with the error in
    its notes (500 characters at most), then re-raised."""
    fs.mkdirs(spark, out_dir)
    run = RunRecord()

    def write(status: str) -> None:
        run.run_id = log_pipeline_run(
            spark, fs.join(out_dir, "pipeline_runs"), pipeline_name, status,
            run.rows_processed, run.rows_loaded,
            (time.time() - run.started) / 60.0, run.notes,
        )
        if status == "success":
            log_stage_metrics(spark, fs.join(out_dir, "stage_metrics"), run.run_id, run.metrics)
        log_stage_attempts(spark, fs.join(out_dir, "stage_attempts"), run.run_id, run.attempts)

    try:
        yield run
    except Exception as exc:
        run.notes = "; ".join(filter(None, (run.notes, f"{type(exc).__name__}: {exc}")))[:500]
        write("failed")
        raise
    write("success")
