"""Materialize-once component reuse (q155 + curation-driver stage): the
derived consumers must equal the self-contained registry entries bit for
bit — materializing the component frame and reading it back loses
nothing — and the curation driver must record the component stage and
write a split frame identical to q153's rule.
"""

from __future__ import annotations

from collections import Counter

from retail_sales_etl_pipeline_spark.plans.dedup_queries import (
    q60_neardup_components,
    q117_component_size_histogram,
    q153_component_keyed_split,
    q155_component_reuse_rollup,
)

SF = "/root/testdata/sf0.001"


def test_rollup_matches_selfcontained_consumers(spark):
    rollup = q155_component_reuse_rollup(spark, SF).collect()
    assert rollup

    # q60: the (doc_id, component_id) relation is unchanged
    comp = {(r.doc_id, r.component_id) for r in q60_neardup_components(spark, SF).collect()}
    assert {(r.doc_id, r.component_id) for r in rollup} == comp

    # q117: one aggregate over the rollup's member-level sizes equals the
    # self-contained histogram
    by_size = Counter(r.cluster_size for r in rollup)
    hist = {
        r.cluster_size: (r.n_components, r.n_docs)
        for r in q117_component_size_histogram(spark, SF).collect()
    }
    derived = {
        size: (n_docs // size, n_docs) for size, n_docs in by_size.items()
    }
    assert derived == hist

    # q153: the component-keyed split is identical per document
    split = {
        (r.doc_id, r.component_id, r.split)
        for r in q153_component_keyed_split(spark, SF).collect()
    }
    assert {(r.doc_id, r.component_id, r.split) for r in rollup} == split


def test_q155_builds_components_once_per_session(spark, monkeypatch):
    """q155 runs under the checkpoint rule: a second call in the same
    session reads the first call's component checkpoint instead of
    re-running the LSH -> verify -> CC ladder into a fresh directory."""
    from retail_sales_etl_pipeline_spark.plans import checkpoint
    from retail_sales_etl_pipeline_spark.plans import dedup_queries as dq

    checkpoint._CHECKPOINTS.clear()
    builds = []

    def counting_q60(spark, sf_dir):
        builds.append(sf_dir)
        return q60_neardup_components(spark, sf_dir)

    monkeypatch.setattr(dq, "q60_neardup_components", counting_q60)
    first = q155_component_reuse_rollup(spark, SF)
    second = q155_component_reuse_rollup(spark, SF)
    assert builds == [SF]
    assert first.inputFiles() == second.inputFiles()
    assert sorted(first.collect()) == sorted(second.collect())


def test_curation_driver_materializes_component_stage(spark, tmp_path):
    from retail_sales_etl_pipeline_spark.plans import curation_pipeline

    out = str(tmp_path / "wh")
    res = curation_pipeline.run(spark, SF, out)

    stage = {m.stage_name: m for m in res.stage_metrics}[
        "neardup_components"
    ]
    comp = spark.read.parquet(f"{out}/stages/components")
    assert stage.rows_before == comp.count()
    assert (
        stage.rows_after == comp.select("component_id").distinct().count()
    )

    # the written split frame IS q153's rule
    written = {
        (r.doc_id, r.component_id, r.split)
        for r in spark.read.parquet(f"{out}/splits").collect()
    }
    want = {
        (r.doc_id, r.component_id, r.split)
        for r in q153_component_keyed_split(spark, SF).collect()
    }
    assert written == want

    # zero cross-split leakage by construction: all members of any
    # component share one split
    by_comp: dict[int, set[str]] = {}
    for _, cid, s in written:
        by_comp.setdefault(cid, set()).add(s)
    assert all(len(s) == 1 for s in by_comp.values())
