"""Property-based tests (SURVEY §5.3-4): hypothesis-generated staging rows
must satisfy the cleaning/upsert invariants for ANY input, not just the
fixture."""

from __future__ import annotations

from collections import Counter
from datetime import datetime
from decimal import Decimal

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from retail_sales_etl_pipeline_spark.operators.clean import NULLABLE_COLUMNS, clean_staging
from retail_sales_etl_pipeline_spark.operators.dims import assign_surrogate_keys

# Small row universe: overlapping keys are what exercise dedup/upserts.
_invoice = st.sampled_from(["A1", "A2", "A3", None])
_stock = st.sampled_from(["P1", "P2", None])
_qty = st.sampled_from([None, -5, 0, 1, 7])
_ts = st.sampled_from([datetime(2011, 3, 1, 10, 0), datetime(2011, 3, 2, 11, 30), None])
_price = st.sampled_from([None, Decimal("-1.00"), Decimal("0.00"), Decimal("2.50")])
_cust = st.sampled_from(["17850.0", None])

# Rows with a NULL in a required column appear twice, so NULL-key rows that
# share a dedup-window partition are always exercised.
_staging_rows = st.lists(
    st.tuples(_invoice, _stock, st.just("D"), _qty, _ts, _price, _cust, st.just("UK")),
    min_size=0,
    max_size=25,
).map(lambda rows: rows + [r for r in rows if None in (r[0], r[1], r[3], r[4], r[5])])

_SCHEMA = (
    "invoice_no string, stock_code string, description string, quantity int, "
    "invoice_date timestamp, unit_price decimal(10,2), customer_id string, "
    "country string"
)
_COLUMNS = [c.split()[0] for c in _SCHEMA.split(", ")]


def _mk(spark, rows):
    df = spark.createDataFrame(rows, _SCHEMA)
    return df.withColumn("load_seq", F.monotonically_increasing_id())


def _sequential_clean(rows):
    """The reference definition: four DELETEs in task order, each counted
    on what the one before left; dedup keeps the first row in input order.
    Returns ([(stage, rows_before, rows_after)], survivors)."""
    counts = []

    def stage(name, before, after):
        counts.append((name, len(before), len(after)))
        return after

    cur = stage("remove_nulls", rows,
                [r for r in rows if None not in (r[0], r[1], r[3], r[4], r[5])])
    first: dict = {}
    for r in cur:
        first.setdefault((r[0], r[1], r[3], r[4], r[5], r[6] or ""), r)
    cur = stage("remove_duplicates", cur, list(first.values()))
    cur = stage("remove_zero_quantities", cur, [r for r in cur if r[3] != 0])
    cur = stage("remove_invalid_prices", cur, [r for r in cur if r[5] > 0])
    return counts, cur


@pytest.mark.parametrize("dummy", [0])  # keep pytest collection flat
@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=_staging_rows)
@example(rows=[
    (None, "P1", "D", 1, datetime(2011, 3, 1, 10, 0), Decimal("2.50"), None, "UK"),
    (None, "P1", "D", 1, datetime(2011, 3, 1, 10, 0), Decimal("2.50"), None, "UK"),
    ("A1", "P1", "D", 1, datetime(2011, 3, 1, 10, 0), Decimal("2.50"), None, "UK"),
    ("A1", None, "D", 7, None, Decimal("2.50"), "17850.0", "UK"),
    ("A1", None, "D", 7, None, Decimal("2.50"), "17850.0", "UK"),
    ("A1", "P1", "D", 1, datetime(2011, 3, 1, 10, 0), Decimal("2.50"), None, "UK"),
])
def test_clean_invariants(spark, dummy, rows):
    res = clean_staging(_mk(spark, rows))
    out = res.df.collect()
    # the one-pass metrics and survivors equal the sequential DELETEs'
    want_metrics, want_rows = _sequential_clean(rows)
    assert [(m.stage_name, m.rows_before, m.rows_after) for m in res.metrics] == want_metrics
    assert Counter(tuple(r[c] for c in _COLUMNS) for r in out) == Counter(want_rows)
    # the same aggregate counts the input's NULLs per nullable column
    assert res.null_counts == {
        c: sum(r[_COLUMNS.index(c)] is None for r in rows) for c in NULLABLE_COLUMNS
    }
    # no NULLs in required columns, no zero qty, no non-positive price
    for r in out:
        assert r["invoice_no"] is not None and r["stock_code"] is not None
        assert r["quantity"] is not None and r["quantity"] != 0
        assert r["invoice_date"] is not None
        assert r["unit_price"] is not None and r["unit_price"] > 0
    # idempotence: cleaning cleaned data removes nothing
    again = clean_staging(res.df)
    assert again.df.count() == len(out)
    # dedup key uniqueness (6-col key with coalesced customer)
    keys = [
        (r["invoice_no"], r["stock_code"], r["quantity"], r["invoice_date"],
         r["unit_price"], r["customer_id"] or "")
        for r in out
    ]
    assert len(keys) == len(set(keys))
    again.unpersist()
    res.unpersist()


# An existing dim: unique natural keys AND unique surrogate keys, with gaps
# (keys need not be 1..n after earlier loads); payloads may be NULL.
_old_dim = st.none() | st.lists(
    st.tuples(st.integers(1, 12), st.sampled_from(["K1", "K2", "K3", "K4", "K5"]),
              st.none() | st.integers(0, 9)),
    max_size=5,
    unique_by=(lambda t: t[0], lambda t: t[1]),
)
_new_attrs = st.lists(
    st.tuples(st.sampled_from(["K1", "K2", "K3", "K4", "K5", "K6"]), st.none() | st.integers(0, 9)),
    max_size=6,
    unique_by=lambda t: t[0],
)


def _reference_merge(old, new) -> dict:
    """SERIAL-style upsert by hand: a known natural key keeps its key and
    takes the new payload when the new load has the key (M1 new-wins, NULL
    included); a new natural key gets max(old key) + its rank among the
    new keys in natural-key order."""
    old = old or []
    out = {nk: (k, v) for k, nk, v in old}
    base = max((k for k, _, _ in old), default=0)
    new_d = dict(new)
    for nk, v in new_d.items():
        if nk in out:
            out[nk] = (out[nk][0], v)
    fresh = sorted(nk for nk in new_d if nk not in out)
    for rank, nk in enumerate(fresh, 1):
        out[nk] = (base + rank, new_d[nk])
    return out


@pytest.mark.parametrize("dummy", [0])
@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(old=_old_dim, new=_new_attrs)
@example(old=None, new=[("K2", 1), ("K1", None)])
@example(old=[(7, "K3", 4), (2, "K1", 5)], new=[("K3", None), ("K2", 8), ("K4", 0)])
def test_surrogate_key_merge_matches_reference(spark, dummy, old, new):
    existing = None if old is None else spark.createDataFrame(old, "k int, nk string, v int")
    n = spark.createDataFrame(new, "nk string, v int")
    got = {r["nk"]: (r["k"], r["v"]) for r in assign_surrogate_keys(n, existing, "nk", "k").collect()}
    assert got == _reference_merge(old, new)
    assert len({k for k, _ in got.values()}) == len(got)


# ---------------------------------------------------------------------------
# Cross-dialect hash primitives: every dedup/sampling/mixing operator keys
# on poly_hash_pair's integers, so Spark-expr == DuckDB-expr == a plain
# Python reimplementation must hold for ADVERSARIAL strings (quotes,
# unicode, separators, empties), not just the synthetic corpus.
# ---------------------------------------------------------------------------


def _py_poly_hash(s: str, base: int, mod: int) -> int:
    acc = 0
    for ch in s:
        acc = (acc * base + ord(ch)) % mod
    return acc


@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    texts=st.lists(
        st.text(
            alphabet=st.characters(
                codec="utf-8", exclude_characters="\x00"
            ),
            min_size=0,
            max_size=40,
        ),
        min_size=1,
        max_size=8,
        unique=True,
    )
)
def test_poly_hash_cross_dialect_equality(spark, duck, texts):
    import pandas as pd

    from retail_sales_etl_pipeline_spark.functions.scalar import (
        POLY_BASE,
        POLY_MOD,
    )
    from retail_sales_etl_pipeline_spark.operators.text import poly_hash_pair

    expect = {t: _py_poly_hash(t, POLY_BASE, POLY_MOD) for t in texts}

    sp_expr, du_expr = poly_hash_pair("text", "text")
    sdf = spark.createDataFrame([(t,) for t in texts], "text string")
    got_spark = {
        r["text"]: r["h"] for r in sdf.selectExpr("text", f"{sp_expr} AS h").collect()
    }

    duck.register("hash_probe", pd.DataFrame({"text": texts}))
    got_duck = {
        t: h
        for t, h in duck.execute(
            f"SELECT text, {du_expr} AS h FROM hash_probe"
        ).fetchall()
    }
    duck.unregister("hash_probe")

    for t in texts:
        assert got_spark[t] == expect[t], repr(t)
        assert got_duck[t] == expect[t], repr(t)


# ---------------------------------------------------------------------------
# jaccard_pairs: the native trigram-Jaccard verify must score every pair
# bit-identically to the per-row Python set logic of the Arrow kernel it
# replaced (kept here as the reference).
# ---------------------------------------------------------------------------


def _py_jaccard(ta: str, tb: str, n: int = 3) -> float:
    def ngrams(text: str) -> set:
        toks = text.split(" ")
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - (n - 1))}

    sa, sb = ngrams(ta), ngrams(tb)
    union = len(sa | sb)
    return len(sa & sb) / union if union else 0.0


# A tiny vocabulary makes trigrams repeat within and across texts; the
# empty word makes double, leading and trailing spaces; the rest is
# non-ASCII. Lists of 0-14 words cover texts under, at and over 3 tokens.
_jaccard_text = st.lists(
    st.sampled_from(["a", "b", "c", "", "ab", "é", "日本", "😀"]),
    min_size=0,
    max_size=14,
).map(" ".join)


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(pairs=st.lists(st.tuples(_jaccard_text, _jaccard_text), min_size=1, max_size=20))
@example(pairs=[
    ("a b c", "a b c"),        # exactly n tokens, identical
    ("a b c", "a b c a"),      # exactly n tokens vs n + 1
    ("a b", "a b"),            # under n tokens on both sides -> 0.0
    ("", "a b c"),             # one side empty
    ("a  b c", "a b c"),       # double space: an empty token
    ("a b c a b c", "c a b c"),  # repeated trigrams count once
    ("日本 é 😀 é", "日本 é 😀"),
])
def test_jaccard_pairs_bit_identical_to_set_reference(spark, pairs):
    from retail_sales_etl_pipeline_spark.operators.text import jaccard_pairs

    df = spark.createDataFrame(
        [(i, -i, ta, tb) for i, (ta, tb) in enumerate(pairs)],
        "doc_a long, doc_b long, text_a string, text_b string",
    )
    got = {r.doc_a: (r.doc_b, r.jaccard) for r in jaccard_pairs(df).collect()}
    assert sorted(got) == list(range(len(pairs)))
    for i, (ta, tb) in enumerate(pairs):
        doc_b, score = got[i]
        assert doc_b == -i
        assert score.hex() == _py_jaccard(ta, tb).hex(), (ta, tb)
