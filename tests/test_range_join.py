"""Bin-and-refine range join: exact boundary semantics on planted rows
(the oracle hash in q53 proves parity on real data; this pins the strict
window edges and the bin-expansion correctness explicitly)."""

from __future__ import annotations

from retail_sales_etl_pipeline_spark.plans.event_queries import (
    binned_attribution_counts,
)

W_US = 30 * 60 * 1_000_000  # 30 min


def _ev(spark, rows):
    df = spark.createDataFrame(
        [(i, u, t, et) for i, u, t, et in rows],
        "event_id long, user_id long, us long, event_type string",
    )
    return df.selectExpr(
        "event_id", "user_id", "timestamp_micros(us) AS ts", "event_type"
    )


def test_strict_window_boundaries(spark):
    base = 10 * W_US  # purchase at an exact bin edge
    ev = _ev(
        spark,
        [
            (1, 7, base, "purchase"),
            (2, 7, base - W_US, "click"),       # exactly window ago: EXCLUDED
            (3, 7, base - W_US + 1, "click"),   # 1us inside: included
            (4, 7, base - 1, "click"),          # just before: included
            (5, 7, base, "click"),              # same instant: EXCLUDED (strict <)
            (6, 7, base + 1, "click"),          # after: excluded
            (7, 8, base - 5, "click"),          # other user: excluded
        ],
    )
    out = {r["event_id"]: r["n_prior"] for r in binned_attribution_counts(ev).collect()}
    assert out == {1: 2}


def test_cross_bin_candidates_found(spark):
    """A window straddling a bin boundary must still find events in the
    previous bin — the reason each probe expands to 2 candidate bins."""
    base = 10 * W_US + 60_000_000  # 1 min into bin 10
    ev = _ev(
        spark,
        [
            (1, 7, base, "purchase"),
            (2, 7, base - 120_000_000, "click"),  # 2 min earlier -> bin 9
            (3, 7, base - 30_000_000, "view"),    # same bin 10
        ],
    )
    out = {r["event_id"]: r["n_prior"] for r in binned_attribution_counts(ev).collect()}
    assert out == {1: 2}


def test_jaccard_pairs_empty_ngram_sets_score_zero(spark):
    """Pairs whose texts both have fewer than n tokens score 0.0 instead
    of dividing by an empty union."""
    from retail_sales_etl_pipeline_spark.operators.text import jaccard_pairs

    pairs = spark.createDataFrame(
        [(1, 2, "one two", "uno dos"), (3, 4, "a b c d", "a b c d")],
        "doc_a long, doc_b long, text_a string, text_b string",
    )
    out = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in jaccard_pairs(pairs).collect()}
    assert out[(1, 2)] == 0.0
    assert out[(3, 4)] == 1.0


def test_purchases_also_count_as_prior_events(spark):
    base = 10 * W_US
    ev = _ev(
        spark,
        [
            (1, 7, base, "purchase"),
            (2, 7, base - 10, "purchase"),  # earlier purchase counts for 1
        ],
    )
    out = {r["event_id"]: r["n_prior"] for r in binned_attribution_counts(ev).collect()}
    assert out == {1: 1, 2: 0}
