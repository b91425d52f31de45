"""Deterministic KLL/MRL-style mergeable quantile sketch over int64 keys.

The quantile architecture that ships at 100 TB is a bounded per-shard
summary merged associatively (q240's fixed-width histogram is one; this
is the VALUE-DOMAIN-FREE one): each shard keeps a hierarchy of sorted
buffers where level-h items carry weight 2^h, buffers over capacity are
compacted by keeping one item of each adjacent pair and promoting it one
level up — the Manku-Rajagopalan-Lindsay / Karnin-Lang-Liberty compactor
family (public literature; DataSketches ships the randomized KLL).

This implementation is the DETERMINISTIC variant: compaction always
keeps the second (odd-indexed) item of each pair of the sorted buffer.
Randomized KLL flips a coin per compaction to make estimates unbiased;
determinism trades that unbiasedness for reproducibility (hash-stable
results across runs/partitionings — this repo's correctness currency)
while keeping the WORST-CASE rank-error guarantee, which is the one that
matters for a gate:

    one compaction of a level-h buffer perturbs the rank of ANY query
    point by at most 2^h  (pairs (x_2i, x_2i+1) at weight w collapse to
    x_2i+1 at weight 2w: for a query with c buffer items below it, the
    weighted count moves from w*c to 2w*floor(c/2), |delta| <= w),

so the sketch carries an EXACT integer error budget: budget = sum of
2^h over every compaction ever applied (builds and merges alike), and
|sketch_rank(v) - true_rank(v)| <= budget for every v — a
self-certifying sketch. Total weight is preserved exactly (odd leftover
items stay at their level), so sketch n == true n.

Batch build cost: whole-buffer compaction per level gives budget
~ n/k + n/(2k) + ... <= 2n/k, i.e. rank error <= 2e6/k ppm of the
stream — k=256 certifies ~0.8%.

Merging concatenates per-level buffers and re-compacts: budgets add,
plus 2^h per new compaction. Associative in the bound (any merge tree
yields a certified sketch; the ITEMS may differ between merge orders,
the guarantee never does — that is the honest KLL merge contract, and
exactly what q241 proves in-query against exact ranks).
"""

from __future__ import annotations

from typing import TYPE_CHECKING

import numpy as np
import pandas as pd

if TYPE_CHECKING:
    from pyspark.sql import DataFrame

__all__ = [
    "build_sketch",
    "merge_sketches",
    "rows_to_sketches",
    "shard_sketch_rows",
    "sketch_rank",
    "sketch_quantile",
    "sketch_items",
    "total_weight",
]

SKETCH_ROWS_SCHEMA = "shard string, level int, val long, budget long"


def _compact(levels: list[np.ndarray], k: int) -> int:
    """Compact every over-capacity level bottom-up (in place); return the
    error budget added (sum of 2^h per compaction applied)."""
    added = 0
    h = 0
    while h < len(levels):
        buf = levels[h]
        if len(buf) <= k:
            h += 1
            continue
        m = len(buf) // 2
        survivors = buf[1 : 2 * m : 2]  # second of each sorted pair
        leftover = buf[2 * m :]  # odd tail stays: total weight exact
        levels[h] = leftover
        if h + 1 == len(levels):
            levels.append(np.empty(0, dtype=np.int64))
        levels[h + 1] = np.sort(
            np.concatenate([levels[h + 1], survivors])
        )
        added += 1 << h
        h += 1  # leftover is <= 1 item, under any k >= 2
    return added


def build_sketch(
    values: np.ndarray, k: int
) -> tuple[list[np.ndarray], int]:
    """Sketch a value array: returns (levels, error_budget). Deterministic
    in the multiset of values (the buffer is sorted before compaction)."""
    levels = [np.sort(np.asarray(values, dtype=np.int64))]
    budget = _compact(levels, k)
    return levels, budget


def merge_sketches(
    sketches: list[tuple[list[np.ndarray], int]], k: int
) -> tuple[list[np.ndarray], int]:
    """Merge sketches: per-level concatenation + re-compaction. Budgets
    add; each new compaction adds its 2^h. Merge ORDER of the input list
    does not change the result (concatenation before sorting), but any
    grouping/tree of pairwise merges is equally certified."""
    n_levels = max((len(s[0]) for s in sketches), default=0)
    levels = [
        np.sort(
            np.concatenate(
                [s[0][h] for s in sketches if h < len(s[0])]
                or [np.empty(0, dtype=np.int64)]
            )
        )
        for h in range(n_levels)
    ]
    budget = sum(s[1] for s in sketches)
    budget += _compact(levels, k)
    return levels, budget


def sketch_rank(levels: list[np.ndarray], v: int) -> int:
    """Estimated weighted count of stream items <= v."""
    return int(
        sum(
            (1 << h) * int(np.searchsorted(lvl, v, side="right"))
            for h, lvl in enumerate(levels)
        )
    )


def total_weight(levels: list[np.ndarray]) -> int:
    return int(sum((1 << h) * len(lvl) for h, lvl in enumerate(levels)))


def sketch_items(levels: list[np.ndarray]) -> int:
    return int(sum(len(lvl) for lvl in levels))


def sketch_quantile(levels: list[np.ndarray], ppm: int) -> int:
    """Smallest retained item whose estimated rank reaches ppm of the
    stream (the q240 quantile rule, read off the sketch)."""
    items = np.concatenate(
        [lvl for lvl in levels if len(lvl)] or [np.empty(0, dtype=np.int64)]
    )
    weights = np.concatenate(
        [
            np.full(len(lvl), 1 << h, dtype=np.int64)
            for h, lvl in enumerate(levels)
            if len(lvl)
        ]
        or [np.empty(0, dtype=np.int64)]
    )
    order = np.argsort(items, kind="stable")
    items = items[order]
    weights = weights[order]
    cum = np.cumsum(weights)
    n = int(cum[-1])
    # Smallest idx with 1e6*cum[idx] >= ppm*n, computed WITHOUT the
    # int64 product (1_000_000 * cum silently wraps past ~9.2e12 total
    # weight — numpy does not promote): since cum is integral, the
    # condition is equivalent to cum[idx] >= ceil(ppm*n / 1e6), and the
    # threshold is an exact Python big-int (the streaming/histogram.py
    # convention).
    thresh = -((-ppm * n) // 1_000_000)
    idx = int(np.searchsorted(cum, thresh, side="left"))
    return int(items[min(idx, len(items) - 1)])


# --- distributed build ---------------------------------------------------
# Shard sketches are built on the executors (one Arrow grouped-map pass,
# one pandas group per shard) and travel to the driver as one row per
# retained item; the driver folds the rows back into sketches and merges.


def shard_sketch_rows(centi: DataFrame, k: int) -> DataFrame:
    """``build_sketch`` per shard of a (shard, c) frame: one row per
    retained item (shard, level, val, budget)."""

    def build(pdf):
        levels, budget = build_sketch(pdf["c"].to_numpy(np.int64), k)
        shard = pdf["shard"].iloc[0]
        return pd.DataFrame(
            [
                (shard, h, int(v), budget)
                for h, lvl in enumerate(levels)
                for v in lvl
            ],
            columns=["shard", "level", "val", "budget"],
        )

    return centi.groupBy("shard").applyInPandas(build, SKETCH_ROWS_SCHEMA)


def rows_to_sketches(rows) -> list[tuple[list[np.ndarray], int]]:
    """Collected sketch rows -> [(levels, budget)], shard-name ordered
    (merge_sketches is list-order invariant; sorting just makes the
    intermediate structure reproducible for debugging)."""
    by_shard: dict[str, dict] = {}
    for r in rows:
        s = by_shard.setdefault(r["shard"], {"levels": {}, "budget": 0})
        s["levels"].setdefault(r["level"], []).append(r["val"])
        s["budget"] = r["budget"]
    sketches = []
    for name in sorted(by_shard):
        s = by_shard[name]
        n_lv = max(s["levels"]) + 1 if s["levels"] else 0
        levels = [
            np.sort(np.asarray(s["levels"].get(h, []), dtype=np.int64))
            for h in range(n_lv)
        ]
        sketches.append((levels, s["budget"]))
    return sketches
