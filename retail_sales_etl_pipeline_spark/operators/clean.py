"""Cleaning stage (reference dag2_clean_validate.py, Spark-first).

The reference cleans by four destructive DELETEs against the staging table
and reads each stage's removed-row count from ``cur.rowcount``
(dag2_clean_validate.py:36,65,82,99). Here each staging row is tagged once
with four cumulative keep-flags in the reference task order
(dag2_clean_validate.py:216): nulls → duplicates → zero-qty → invalid-price.
Flag k means "survives the first k DELETEs", so one aggregate of
conditional counts gives every stage's before/after count, and the cleaned
table is the rows whose last flag holds. The dedup window is the only
shuffle.

Order matters: F2's ``quantity != 0`` drops NULL quantities too, which
matches DELETE semantics only because F1 removed them first. The dedup
window also sees rows that fail F1, but such a row has a NULL in a
dedup-key column, so it never shares a window partition with a row that
passes F1.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Columns that must be present for a row to survive F1 (reference
# dag2_clean_validate.py:28-34). CustomerID/Description/Country may be NULL;
# their null counts feed data_quality_log.
REQUIRED_COLUMNS = ("invoice_no", "stock_code", "quantity", "invoice_date", "unit_price")
NULLABLE_COLUMNS = ("customer_id", "description", "country")

# W1 dedup key (reference dag2_clean_validate.py:52-58): Description and
# Country are deliberately EXCLUDED — the survivor contributes its own
# values for those columns.
DEDUP_KEY = (
    "invoice_no",
    "stock_code",
    "quantity",
    "invoice_date",
    "unit_price",
    # COALESCE(customer_id,'') — NULL customers group together
)


def _stage_predicates():
    """(stage name, keep predicate) in reference order.

    W1 keeps the first row (by ingest order) of each dedup-key group;
    ``dropDuplicates`` would give the same row *set* only when
    description/country never differ within a group, the window form is
    exact (SURVEY §7.4.2). F2 keeps negative quantities: they are returns
    (reference dag2_clean_validate.py:72-86).
    """
    key = [F.col(c) for c in DEDUP_KEY] + [F.coalesce(F.col("customer_id"), F.lit(""))]
    w = Window.partitionBy(*key).orderBy(F.col("load_seq"))
    not_null = reduce(lambda a, b: a & b, [F.col(c).isNotNull() for c in REQUIRED_COLUMNS])
    return [
        ("remove_nulls", not_null),
        ("remove_duplicates", F.row_number().over(w) == 1),
        ("remove_zero_quantities", F.col("quantity") != 0),
        ("remove_invalid_prices", F.col("unit_price") > 0),
    ]


@dataclass(frozen=True)
class StageMetric:
    stage_name: str
    rows_before: int
    rows_after: int

    @property
    def rows_removed(self) -> int:
        return self.rows_before - self.rows_after


@dataclass(frozen=True)
class CleanResult:
    df: DataFrame
    metrics: list[StageMetric]
    tagged: DataFrame  # the cached flagged frame ``df`` filters
    null_counts: dict[str, int]  # NULLs per NULLABLE_COLUMNS column, before F1

    @property
    def rows_after(self) -> int:
        return self.metrics[-1].rows_after

    def unpersist(self) -> None:
        """Release the cached flagged frame. Callers must call this after
        their downstream writes, or repeated runs on one session
        accumulate cached partitions."""
        self.tagged.unpersist()


def clean_staging(df: DataFrame) -> CleanResult:
    """All four cleaning stages, in reference order, in one Spark action.

    Caches the flagged frame and reads every ``StageMetric``, and the
    input's NULLs per ``NULLABLE_COLUMNS`` column, from one aggregate; the
    result's ``df`` is the rows that keep their last flag.
    """
    stages = _stage_predicates()
    flags = [f"_keep{i}" for i in range(len(stages))]
    tagged, keep = df, F.lit(True)
    for flag, (_, pred) in zip(flags, stages):
        tagged = tagged.withColumn(flag, keep & pred)
        keep = F.col(flag)
    tagged = tagged.cache()
    row = tagged.agg(
        F.count(F.lit(1)).alias("rows"),
        *[F.count_if(F.col(f)).alias(f) for f in flags],
        *[F.count_if(F.col(c).isNull()).alias(f"_null_{c}") for c in NULLABLE_COLUMNS],
    ).collect()[0]
    counts = [row["rows"], *(row[f] for f in flags)]
    metrics = [StageMetric(name, b, a) for (name, _), b, a in zip(stages, counts, counts[1:])]
    nulls = {c: row[f"_null_{c}"] for c in NULLABLE_COLUMNS}
    return CleanResult(tagged.filter(F.col(flags[-1])).drop(*flags), metrics, tagged, nulls)
