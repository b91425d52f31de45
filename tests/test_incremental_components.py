"""Incremental connected components (q157): merging a batch into the
prior component state must equal the from-scratch clustering, and the
merge step must do contracted-graph work (few rounds, collapsed nodes),
not a full re-iteration.
"""

from __future__ import annotations

import pytest

from retail_sales_etl_pipeline_spark.plans.dedup_queries import (
    INCR_CC_MOD,
    INCR_CC_REM,
    q60_neardup_components,
    q157_incremental_components,
)

SF_SMALL = "/root/testdata/sf0.001"

SF = "/root/testdata/sf0.001"


def test_incremental_equals_full_recompute(spark):
    inc = {
        (r.doc_id, r.component_id)
        for r in q157_incremental_components(spark, SF).collect()
    }
    full = {
        (r.doc_id, r.component_id)
        for r in q60_neardup_components(spark, SF).collect()
    }
    assert inc == full
    assert inc  # non-empty


def test_batch_actually_merges_components(spark):
    """The planted near-dup structure must put at least one NEW doc into
    a component with an OLD doc — otherwise the contracted-merge path is
    never exercised and the equality above is vacuous."""
    rows = q157_incremental_components(spark, SF).collect()
    by_comp: dict[int, set[bool]] = {}
    for r in rows:
        by_comp.setdefault(r.component_id, set()).add(
            r.doc_id % INCR_CC_MOD == INCR_CC_REM
        )
    mixed = [c for c, kinds in by_comp.items() if kinds == {True, False}]
    assert mixed, "no component spans the old/new boundary at sf0.001"


def test_driver_cutover_equals_distributed_path(spark, monkeypatch):
    """Round-13: below the small-graph bound the contract-and-merge
    algebra runs once on the driver (one docs scan + broadcast label
    join). Forcing the distributed path (bound = 0 disables BOTH the
    incremental cutover and the CC operator's own one) must yield
    row-identical output — the two paths implement one semantics. The
    forced run must never reach a driver-side union-find: the bound is
    passed to both CC calls, not read from a def-time default."""
    from retail_sales_etl_pipeline_spark.operators import graph
    from retail_sales_etl_pipeline_spark.plans import dedup_queries as dq

    fast = {
        (r.doc_id, r.component_id)
        for r in q157_incremental_components(spark, SF_SMALL).collect()
    }

    def driver_path_reached(*args, **kwargs):
        raise AssertionError("driver-small union-find reached")

    monkeypatch.setattr(graph, "CC_SMALL_GRAPH_MAX_EDGES", 0)
    monkeypatch.setattr(graph, "_cc_driver_small", driver_path_reached)
    monkeypatch.setattr(
        graph, "union_find_by_min", driver_path_reached, raising=False
    )
    slow = {
        (r.doc_id, r.component_id)
        for r in q157_incremental_components(spark, SF_SMALL).collect()
    }
    assert fast == slow
    assert fast

    # the Spark-remainder helper matches SQL % for negative ids too
    assert dq._py_rem(-10, 7) == -3 and dq._py_rem(10, 7) == 3


@pytest.mark.parametrize("slack", [0, -1])
def test_driver_cutover_at_the_pair_count(spark, monkeypatch, slack):
    """One bounded collect decides the cutover: a bound of exactly the
    verified-pair count runs the driver path, one less runs the
    distributed one, and both are row-identical to the fully distributed
    path (bound 0)."""
    from retail_sales_etl_pipeline_spark.operators import graph
    from retail_sales_etl_pipeline_spark.plans import dedup_queries as dq

    def components():
        return {
            (r.doc_id, r.component_id)
            for r in q157_incremental_components(spark, SF_SMALL).collect()
        }

    monkeypatch.setattr(graph, "CC_SMALL_GRAPH_MAX_EDGES", 0)
    distributed = components()
    n_pairs = dq.q21_ngram_jaccard_pairs(spark, SF_SMALL).count()
    assert n_pairs > 1

    driver_calls = []
    labels = dq._incremental_labels
    monkeypatch.setattr(
        dq, "_incremental_labels",
        lambda rows: driver_calls.append(len(rows)) or labels(rows),
    )
    monkeypatch.setattr(graph, "CC_SMALL_GRAPH_MAX_EDGES", n_pairs + slack)
    assert components() == distributed
    assert driver_calls == ([n_pairs] if slack == 0 else [])


def test_small_graph_path_persists_nothing(spark):
    """Below the small-graph bound q157 reads its pairs once, through one
    bounded collect, so a collect leaves no persisted frame behind; only
    the distributed branch, which reads the pairs twice, persists them."""
    spark.catalog.clearCache()
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist()
    assert q157_incremental_components(spark, SF).collect()
    assert spark.sparkContext._jsc.getPersistentRDDs().isEmpty()
