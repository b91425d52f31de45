"""Deterministic KLL/MRL quantile sketch (operators/kll.py + q241).

The sketch is self-certifying: it carries an exact integer error budget
(sum of 2^h over every compaction applied) and guarantees
|sketch_rank(v) - true_rank(v)| <= budget for EVERY v, with total weight
preserved exactly. These tests pin the certification on adversarial and
random inputs, the merge contract under different shard groupings, and
the q241 query's in-query proof columns.
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from retail_sales_etl_pipeline_spark.operators.kll import (  # noqa: E402
    build_sketch,
    merge_sketches,
    sketch_items,
    sketch_quantile,
    sketch_rank,
    total_weight,
)

from .conftest import SMOKE_SF_DIR  # noqa: E402


def _true_rank(values: np.ndarray, v: int) -> int:
    return int(np.searchsorted(np.sort(values), v, side="right"))


def _assert_certified(levels, budget, values) -> None:
    """The certification: for every probe point, the sketch rank is
    within budget of the true rank, and weight is exact."""
    assert total_weight(levels) == len(values)
    probes = np.unique(
        np.concatenate([values, values - 1, values + 1, [-(10**9), 10**9]])
    )
    for v in probes:
        err = abs(sketch_rank(levels, int(v)) - _true_rank(values, int(v)))
        assert err <= budget, (v, err, budget)


def test_small_stream_is_exact():
    """n <= K: no compaction, zero budget, sketch IS the sorted stream."""
    vals = np.array([5, 1, 3, 3, 2], dtype=np.int64)
    levels, budget = build_sketch(vals, k=8)
    assert budget == 0
    assert sketch_items(levels) == 5
    assert list(levels[0]) == [1, 2, 3, 3, 5]
    for ppm, want in ((500_000, 3), (990_000, 5), (1, 1)):
        assert sketch_quantile(levels, ppm) == want


def test_single_compaction_hand_computed():
    """k=4, 8 items 1..8: one compaction keeps the second of each pair
    (2,4,6,8) at weight 2, budget 1."""
    levels, budget = build_sketch(np.arange(1, 9, dtype=np.int64), k=4)
    assert budget == 1
    assert list(levels[0]) == []
    assert list(levels[1]) == [2, 4, 6, 8]
    assert total_weight(levels) == 8
    # rank of 3: true 3, sketch 2*|{2}| = 2 -> err 1 <= budget
    assert abs(sketch_rank(levels, 3) - 3) <= budget


def test_odd_leftover_preserves_weight():
    """Odd buffer sizes leave the tail item at its level — total weight
    stays exact through arbitrary compaction cascades."""
    vals = np.arange(101, dtype=np.int64)
    levels, budget = build_sketch(vals, k=4)
    assert total_weight(levels) == 101
    _assert_certified(levels, budget, vals)


@pytest.mark.parametrize("k", [4, 16, 64])
@pytest.mark.parametrize("n", [10, 1_000, 20_000])
def test_certification_random_streams(k, n):
    rng = np.random.default_rng(42 + k + n)
    vals = rng.integers(-(10**6), 10**6, size=n).astype(np.int64)
    levels, budget = build_sketch(vals, k)
    # budget bound from the docstring: whole-buffer batch build <= ~2n/k
    assert budget <= max(1, 4 * n // k)
    assert sketch_items(levels) <= k * (int(np.log2(max(n // k, 1))) + 2) + n % 2 + k
    _assert_certified(levels, budget, vals)


def test_certification_adversarial_duplicates():
    """All-equal and two-value streams: duplicate-heavy compaction."""
    for vals in (
        np.zeros(5_000, dtype=np.int64),
        np.array([1, 2] * 2_500, dtype=np.int64),
    ):
        levels, budget = build_sketch(vals, 16)
        _assert_certified(levels, budget, vals)


@pytest.mark.parametrize("n_shards", [2, 5, 17])
def test_merge_certified_any_grouping(n_shards):
    """The merge contract: shard the stream arbitrarily, build per-shard
    sketches, merge — the merged sketch is certified against the WHOLE
    stream's exact ranks, and the budget is at least the parts' sum."""
    rng = np.random.default_rng(7)
    vals = rng.integers(0, 10**5, size=30_000).astype(np.int64)
    shards = np.array_split(vals, n_shards)
    parts = [build_sketch(s, 32) for s in shards]
    merged, budget = merge_sketches(parts, 32)
    assert budget >= sum(p[1] for p in parts)
    _assert_certified(merged, budget, vals)


def test_merge_tree_vs_flat_both_certified():
    """Pairwise merge tree and flat merge may retain different ITEMS but
    both satisfy the same contract — the honest KLL merge semantics."""
    rng = np.random.default_rng(11)
    vals = rng.integers(0, 10**4, size=8_000).astype(np.int64)
    shards = np.array_split(vals, 4)
    parts = [build_sketch(s, 16) for s in shards]
    flat, b_flat = merge_sketches(parts, 16)
    left, bl = merge_sketches(parts[:2], 16)
    right, br = merge_sketches(parts[2:], 16)
    tree, b_tree = merge_sketches([(left, bl), (right, br)], 16)
    _assert_certified(flat, b_flat, vals)
    _assert_certified(tree, b_tree, vals)


def test_build_deterministic_in_multiset():
    """Input order must not matter (the buffer sorts before compacting):
    shuffled copies build byte-identical sketches."""
    rng = np.random.default_rng(3)
    vals = rng.integers(0, 999, size=5_000).astype(np.int64)
    a, ba = build_sketch(vals, 32)
    b, bb = build_sketch(vals[::-1].copy(), 32)
    c, bc = build_sketch(rng.permutation(vals), 32)
    assert ba == bb == bc
    assert all(np.array_equal(x, y) for x, y in zip(a, b))
    assert all(np.array_equal(x, y) for x, y in zip(a, c))


def test_q241_in_query_proof_columns(spark):
    """The registered query's certification must hold on real data, and
    its distributed shard build + driver fold must agree with
    operators/kll.py run on the driver."""
    from pyspark.sql import functions as F

    from retail_sales_etl_pipeline_spark.plans.event_queries import (
        KLL_K,
        KLL_SHARD_BUCKETS,
        QTL_PPM,
        q241_kll_quantile_sketch,
    )
    from retail_sales_etl_pipeline_spark.sources import load_table

    rows = {
        r["ppm"]: r
        for r in q241_kll_quantile_sketch(spark, SMOKE_SF_DIR).collect()
    }
    assert set(rows) == set(QTL_PPM)
    for r in rows.values():
        assert r["certified"] == 1
        assert r["weight_preserved"] == 1
        # the sketch quantile can differ from the exact bucket only
        # within the certified rank budget, which for K=256 is a tiny
        # fraction of the stream
        assert r["budget"] * KLL_K <= 4 * r["n_total"] + KLL_K * 4

    # distributed build == driver-side reference build, shard by shard
    ev = load_table(spark, SMOKE_SF_DIR, "events").filter(
        F.col("value").isNotNull()
    )
    pdf = ev.select(
        F.expr(
            f"concat(event_type, '#', CAST(event_id % {KLL_SHARD_BUCKETS}"
            " AS STRING))"
        ).alias("shard"),
        F.expr("CAST(FLOOR(value * 100.0) AS BIGINT)").alias("c"),
    ).toPandas()
    ref_parts = [
        build_sketch(g["c"].to_numpy(np.int64), KLL_K)
        for _, g in sorted(pdf.groupby("shard"), key=lambda t: t[0])
    ]
    merged, budget = merge_sketches(ref_parts, KLL_K)
    want = {
        ppm: sketch_quantile(merged, ppm) for ppm in QTL_PPM
    }
    for ppm, r in rows.items():
        assert r["est_centi"] == want[ppm]
        assert r["budget"] == budget
