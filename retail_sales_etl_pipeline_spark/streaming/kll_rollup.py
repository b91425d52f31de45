"""Streaming KLL sketch rollup — the streaming twin of q241's batch
merge certification (plans/event_queries.q241_kll_quantile_sketch).

q241's in-query certification proves the deterministic KLL compactor's
merge contract: budgets add, total weight is exact, and every estimate's
sketch rank stays within the integer error budget of the true rank —
the property that makes the sketch safe to roll up shard-by-shard
WITHOUT re-reading history. This module proves that claim IN-STREAM,
the q240-rollup pattern applied to the value-domain-free sketch:

- each micro-batch builds per-shard sketches DISTRIBUTED (the same
  Arrow grouped-map build as q241 — only sketches ever leave the
  executors, <= ~K*log2(n/K) retained items per shard);
- a ``foreachBatch`` sink merges them into ONE running sketch
  (``operators.kll.merge_sketches``: per-level concatenation +
  re-compaction; budgets add). The running state is the sketch itself —
  kilobytes, held exactly where a production rollup would keep it (a
  sketch table keyed by metric, upserted per batch);
- history is never re-read: batch t's cost is batch t's rows plus a
  sketch-sized merge.

Two equivalence claims, both asserted by the bench harness and
tests/test_streaming_kll.py:

1. REPLAY identity (exact): folding the same file slices in the same
   order through the same build+merge in BATCH mode yields a
   bit-identical sketch (items, levels, budget) — the deterministic
   compactor's recovery/backfill guarantee: re-running a catch-up
   reproduces the state exactly.
2. CONTRACT identity vs the one-shot batch sketch (q241's shape: all
   shard sketches of the full data merged once): total weight EQUAL and
   EXACT on both sides, and every streamed quantile estimate certified
   against exact ranks within the streamed sketch's own budget — the
   honest KLL merge contract (retained ITEMS may differ between merge
   trees; the guarantee never does, which is precisely what q241's doc
   commits to).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.kll import (
    merge_sketches,
    rows_to_sketches,
    shard_sketch_rows,
    sketch_quantile,
    sketch_rank,
    total_weight,
)
from ..plans.event_queries import KLL_K, QTL_PPM, centi_shards


class KllRollup:
    """Running KLL sketch + the ``foreachBatch`` sink that folds each
    micro-batch into it. State is (levels, budget): kilobytes, merged
    per batch, never recomputed from history."""

    def __init__(self, k: int = KLL_K):
        self.k = k
        self.levels: list[np.ndarray] = []
        self.budget = 0
        self.n_batches = 0

    def fold_batch(self, batch_df: DataFrame) -> None:
        rows = shard_sketch_rows(centi_shards(batch_df), self.k).collect()
        self.n_batches += 1
        if not rows:
            return
        self.levels, self.budget = merge_sketches(
            [(self.levels, self.budget)] + rows_to_sketches(rows), self.k
        )

    def sink(self, batch_df: DataFrame, batch_id: int) -> None:
        self.fold_batch(batch_df)

    def snapshot(self) -> tuple[list[np.ndarray], int]:
        return [lvl.copy() for lvl in self.levels], self.budget


def one_shot_sketch(
    events: DataFrame, k: int = KLL_K
) -> tuple[list[np.ndarray], int]:
    """The q241-shaped batch twin: every shard sketch of the FULL data
    merged once."""
    rows = shard_sketch_rows(centi_shards(events), k).collect()
    return merge_sketches(rows_to_sketches(rows), k)


def exact_centi_hist(events: DataFrame) -> list[tuple[int, int]]:
    """Exact bounded centi-bucket histogram (the q240 frame) — the proof
    harness's truth side, bucket-domain-bounded so collecting is a
    scalar read."""
    rows = (
        events.filter(F.col("value").isNotNull())
        .groupBy(F.expr("CAST(FLOOR(value * 100.0) AS BIGINT)").alias("b"))
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .orderBy("b")
        .collect()
    )
    return [(int(r["b"]), int(r["cnt"])) for r in rows]


def certify_against_exact(
    levels: list[np.ndarray],
    budget: int,
    hist: list[tuple[int, int]],
    ppms: tuple[int, ...] = QTL_PPM,
) -> dict:
    """q241's certification, evaluated on any sketch: total weight must
    equal the exact count, and for each ppm the estimate's sketch rank
    must be within the budget of its true rank."""
    n = sum(c for _, c in hist)
    bs = [b for b, _ in hist]
    cum = []
    acc = 0
    for _, c in hist:
        acc += c
        cum.append(acc)

    def true_rank(v: int) -> int:
        import bisect

        i = bisect.bisect_right(bs, v)
        return cum[i - 1] if i else 0

    out = {
        "n_exact": n,
        "sketch_weight": total_weight(levels),
        "weight_preserved": total_weight(levels) == n,
        "budget": budget,
        "quantiles": {},
        "certified_all": True,
    }
    for ppm in ppms:
        est = sketch_quantile(levels, ppm)
        err = abs(sketch_rank(levels, est) - true_rank(est))
        ok = err <= budget
        out["quantiles"][ppm] = {
            "est_centi": est,
            "rank_err": err,
            "certified": ok,
        }
        out["certified_all"] = out["certified_all"] and ok
    return out


def sketches_identical(
    a: tuple[list[np.ndarray], int], b: tuple[list[np.ndarray], int]
) -> bool:
    """Bit-identity of two sketches: same budget, same levels, same
    retained items — the replay-twin check."""
    (la, ba), (lb, bb) = a, b
    if ba != bb or len(la) != len(lb):
        return False
    return all(np.array_equal(x, y) for x, y in zip(la, lb))
