"""Physical-plan regression tests: the plans the engine is designed to
produce at 100 TB must actually be the plans Catalyst produces. Each test
pins one scale-critical property so a future edit can't silently regress
it (e.g. a broadcast decaying to a shuffle join, or a filter no longer
reaching the parquet scan)."""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout

from pyspark.sql import functions as F

from retail_sales_etl_pipeline_spark.plans.registry import load_all
from retail_sales_etl_pipeline_spark.sources import load_table

import pytest

from .conftest import SMOKE_SF_DIR
from .oracle_util import assert_matches_oracle

REGISTRY = load_all()


@pytest.fixture(autouse=True)
def _clear_cached_frames(spark):
    """Plan-shape assertions read explain() output, and a frame left
    persisted by an earlier test (the intra-query persists outlive
    their query, see ``registry.load_all``) rewrites unrelated
    plans as InMemoryTableScan subtrees — measured as order-dependent
    flakiness in the full suite (q162's window count vs q22's).
    clearCache() alone suffices: every intra-query persist in the
    engine is a DataFrame persist (the former private-API RDD sweep —
    round-12 ADVICE — was fragile against PySpark internals and
    covered nothing these tests create)."""
    spark.catalog.clearCache()
    yield


def _formatted_plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _op_count(plan: str, op: str) -> int:
    """Number of distinct physical nodes of ``op`` (counted in the detail
    section '(n) Op' lines — the tree section repeats every node)."""
    return len(re.findall(rf"^\(\d+\) {op}\b", plan, flags=re.MULTILINE))


def test_filter_and_projection_reach_parquet_scan(spark):
    """Predicate pushdown + column pruning: a filtered 2-column projection
    must scan only those columns and carry the predicates as
    PushedFilters — reading all 16 lineitem columns for this would be
    wrong at any scale."""
    df = (
        load_table(spark, SMOKE_SF_DIR, "lineitem")
        .filter(F.col("l_quantity") > 10)
        .select("l_orderkey", "l_quantity")
    )
    plan = _formatted_plan(df)
    assert "PushedFilters:" in plan
    assert "GreaterThan(l_quantity" in plan
    # pruned read schema: the scan's struct must not mention unused columns
    assert "l_extendedprice" not in plan
    assert "l_comment" not in plan


def test_clean_filter_chain_collapses_to_one_scan_filter(spark):
    """q01's three clean stages (dropna + two predicates) must compose into
    ONE pushed-down scan, not three passes."""
    plan = _formatted_plan(REGISTRY["q01_clean_filters"].spark_fn(spark, SMOKE_SF_DIR))
    assert _op_count(plan, "Scan parquet") == 1
    for needle in (
        "IsNotNull(l_quantity)",
        "IsNotNull(l_extendedprice)",
        "Not(EqualTo(l_quantity,0.0))",
        "GreaterThan(l_extendedprice,0.0)",
    ):
        assert needle in plan, needle


def test_star_join_broadcasts_all_dims(spark):
    """q06: the 3-way star join must be three BroadcastHashJoins — the
    fact side streams map-side with zero shuffle."""
    plan = _formatted_plan(REGISTRY["q06_fact_star_join"].spark_fn(spark, SMOKE_SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan


def test_topk_plans_as_take_ordered(spark):
    """q12/q50: ORDER BY ... LIMIT k must plan as TakeOrderedAndProject
    (per-partition top-k), never a full global Sort."""
    for name in ("q12_topk_orders", "q50_top_unshipped_orders"):
        plan = _formatted_plan(REGISTRY[name].spark_fn(spark, SMOKE_SF_DIR))
        assert "TakeOrderedAndProject" in plan, name


def test_ivf_assignment_has_no_window_shuffle(spark):
    """q31 (round-1 verdict fix): nearest-centroid assignment must be a
    max_by aggregate with a map-side partial — NO row_number window over
    the N*K scored rows. The only Window allowed is the final per-query
    top-k over the probed candidates."""
    plan = _formatted_plan(REGISTRY["q31_ann_ivf"].spark_fn(spark, SMOKE_SF_DIR))
    # partial aggregation before the shuffle: both partial_ and final forms
    assert "partial_max_by" in plan
    assert "max_by" in plan
    assert _op_count(plan, "Window") <= 1  # only the final per-query top-k
    # and that top-k gets the rank-limit pushdown, never a full sort+filter
    assert _op_count(plan, "WindowGroupLimit") >= 1


def test_aggregates_are_partial_then_final(spark):
    """q33's groupBy must show map-side partial aggregation (partial_count/
    partial_sum) ahead of the exchange — the property that keeps shuffle
    volume proportional to groups, not rows."""
    plan = _formatted_plan(REGISTRY["q33_event_hourly_agg"].spark_fn(spark, SMOKE_SF_DIR))
    assert "partial_count" in plan
    assert "partial_sum" in plan


def test_ri_antijoin_is_broadcast(spark):
    """q15: the referential-integrity anti-join must broadcast the dim
    side (BroadcastHashJoin ... LeftAnti), not shuffle the fact."""
    plan = _formatted_plan(REGISTRY["q15_ri_antijoin"].spark_fn(spark, SMOKE_SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "LeftAnti" in plan


def test_range_join_extracts_equi_keys(spark):
    """q53's time-inequality join must plan as a hash join on the
    extracted (user_id, bin) equi-keys with the inequality as a residual
    filter — NEVER a BroadcastNestedLoopJoin/CartesianProduct, which is
    what a naive non-equi join degenerates to."""
    plan = _formatted_plan(
        REGISTRY["q53_range_join_attribution"].spark_fn(spark, SMOKE_SF_DIR)
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert _op_count(plan, "SortMergeJoin") + _op_count(plan, "BroadcastHashJoin") >= 1


def test_bloom_filter_relation_is_broadcast(spark):
    """q28: the bloom positions-set must join broadcast (it is bounded by
    min(|corpus|*K, m) small ints); the batch side must never shuffle for
    the probe."""
    plan = _formatted_plan(
        REGISTRY["q28_bloom_prefilter_dedup"].spark_fn(spark, SMOKE_SF_DIR)
    )
    assert _op_count(plan, "BroadcastHashJoin") >= 2  # probe + exact verify
    assert "BroadcastNestedLoopJoin" not in plan


def test_month_partition_filter_prunes_at_source(spark, tmp_path):
    """Partition pruning on the monthly-partitioned fact layout: a
    sale_month predicate must become a PartitionFilter on the scan (prune
    whole directories), not a row filter."""
    df = spark.range(100).select(
        F.col("id").alias("n"),
        F.concat(F.lit("2024-0"), (F.col("id") % 3 + 1).cast("string")).alias(
            "sale_month"
        ),
    )
    path = str(tmp_path / "fact_parted")
    df.write.partitionBy("sale_month").parquet(path)
    plan = _formatted_plan(
        spark.read.parquet(path).filter(F.col("sale_month") == "2024-02")
    )
    assert "PartitionFilters" in plan
    assert "isnotnull(sale_month" in plan or "sale_month" in plan.split("PartitionFilters", 1)[1].split("\n", 1)[0]


def test_lsh_cap_does_not_reexecute_signature_pass(spark, monkeypatch):
    """q22's hot-bucket cap must not re-execute the MinHash subtree. The
    static plan prints both self-join branches, but at runtime AQE reuses
    the single (band_idx, sig) exchange — proven by counting calls of the
    per-document MinHash kernel, which the Arrow signature pass ships by
    value: each document is hashed exactly once."""
    from retail_sales_etl_pipeline_spark.operators import text
    from retail_sales_etl_pipeline_spark.plans.dedup_queries import (
        minhash_candidates,
    )

    docs = load_table(spark, SMOKE_SF_DIR, "documents")
    n = docs.count()
    acc = spark.sparkContext.accumulator(0)

    def counted(doc_text, _kernel=text.minhash_minima):
        acc.add(1)
        return _kernel(doc_text)

    with monkeypatch.context() as m:
        m.setattr(text, "minhash_minima", counted)
        cand = minhash_candidates(docs)
    cand.write.format("noop").mode("overwrite").save()
    assert acc.value == n


def test_quantized_ann_rerank_is_bounded(spark):
    """q62: the probe's top-RERANK_K window limits what reaches the exact
    re-rank — the plan must contain two WindowGroupLimit/Window pairs (probe
    + re-rank) and broadcast the tiny query side of the scoring join."""
    plan = _formatted_plan(REGISTRY["q62_ann_quantized"].spark_fn(spark, SMOKE_SF_DIR))
    assert _op_count(plan, "Window") >= 2
    assert "WindowGroupLimit" in plan  # rank-limit pushdown active
    assert "Broadcast" in plan


def test_kmeans_one_step_broadcasts_centroids_and_partial_aggs(spark):
    """q38a: the centroid side of the scoring join is broadcast (16 rows —
    never a shuffle join), and the per-(centroid,dim) aggregation is
    partial-then-final hash aggregation."""
    plan = _formatted_plan(REGISTRY["q38a_kmeans_one_step"].spark_fn(spark, SMOKE_SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert _op_count(plan, "HashAggregate") >= 2


def test_semdedup_centroid_join_is_broadcast_and_pairs_keyed(spark):
    """q74's two scale properties: centroid assignment must broadcast the
    K-centroid side (never shuffle the corpus against it), and the
    within-cluster pair join must be keyed on centroid_id (an equi-join —
    pair work bounded by cluster sizes), not a cartesian."""
    plan = _formatted_plan(REGISTRY["q74_semantic_neardup"].spark_fn(spark, SMOKE_SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    # the pair join keys on centroid_id (sort-merge or shuffled-hash both
    # acceptable; what matters is the equi-key restricting the pair set)
    assert re.search(r"centroid_id", plan)


def test_temperature_mixing_never_shuffles_corpus(spark):
    """q75: the corpus-sized frames see only map-side work (hash, filter);
    the only exchanges carry the vocab-sized lang counts. Pin: every
    hashpartitioning exchange is on lang/doc-level AGG output, and no
    exchange partitions the raw text column."""
    plan = _formatted_plan(REGISTRY["q75_temperature_mixing"].spark_fn(spark, SMOKE_SF_DIR))
    assert "BroadcastExchange" in plan  # rates join onto the keyed stream
    assert "text" not in [
        c
        for line in plan.splitlines()
        if "Exchange hashpartitioning" in line
        for c in re.findall(r"\w+", line)
    ]


def test_shard_packing_is_one_partial_then_final_agg(spark):
    """q76: map-side hash + token count then ONE bounded aggregation
    (N_SHARDS groups) — partial_ aggregates must absorb the corpus before
    the single shuffle."""
    plan = _formatted_plan(REGISTRY["q76_shard_packing"].spark_fn(spark, SMOKE_SF_DIR))
    assert plan.count("Exchange hashpartitioning") <= 2  # join key + final agg
    assert "partial_count" in plan or "partial_sum" in plan


def test_simhash_pair_join_is_equi_keyed_not_cartesian(spark):
    """q84: candidate pairs must come from a (band_idx, bval) equi-join —
    a cartesian over fingerprints would be the quadratic scan the blocking
    exists to avoid."""
    plan = _formatted_plan(
        REGISTRY["q84_simhash_hamming_pairs"].spark_fn(spark, SMOKE_SF_DIR)
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert re.search(r"band_idx", plan)


def test_passage_duplication_is_inverted_index_join(spark):
    """q85: the coverage join keys on the passage string (inverted index —
    shuffles shingles, never doc pairs) and both aggs are partial-then-
    final so the explode fan-out is absorbed map-side."""
    plan = _formatted_plan(
        REGISTRY["q85_passage_duplication"].spark_fn(spark, SMOKE_SF_DIR)
    )
    assert "CartesianProduct" not in plan
    assert "partial_count" in plan


def test_prototypicality_broadcasts_centroids_single_rank_shuffle(spark):
    """q87: centroid scoring broadcasts the K-centroid side; the corpus
    sees the max_by partial agg and ONE rank shuffle keyed on
    centroid_id — no N*K window."""
    plan = _formatted_plan(
        REGISTRY["q87_prototypicality_pruning"].spark_fn(spark, SMOKE_SF_DIR)
    )
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    assert "partial_max" in plan  # map-side max_by before any shuffle
    # rank + cluster-count are two Window nodes but must SHARE one
    # centroid_id partitioning; assignment must NOT be a window
    assert _op_count(plan, "Window") <= 2
    # formatted mode puts the partitioning on the Arguments line
    assert len(re.findall(r"hashpartitioning\(centroid_id", plan)) == 1


def test_hybrid_rrf_pools_are_take_ordered(spark):
    """q89: both candidate pools must be TakeOrderedAndProject (per-
    partition top-k) — a global Sort feeding the rank would not survive a
    100 TB corpus."""
    plan = _formatted_plan(
        REGISTRY["q89_hybrid_rrf_retrieval"].spark_fn(spark, SMOKE_SF_DIR)
    )
    assert _op_count(plan, "TakeOrderedAndProject") >= 2
    # the rank windows run on the POOL-sized results, fed by a single
    # partition — acceptable because the input is <= RRF_POOL rows by
    # construction; what must NOT appear is a corpus-wide global sort
    assert _op_count(plan, "Sort") <= 4  # window-local sorts over pool rows


def test_semantic_decon_pair_join_keyed_on_centroid(spark):
    """q90: cross-set pairing is an equi-join on centroid_id (work =
    sum over clusters of bench_i * train_i), with the centroid set
    broadcast for assignment."""
    plan = _formatted_plan(
        REGISTRY["q90_semantic_decontamination"].spark_fn(spark, SMOKE_SF_DIR)
    )
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    assert re.search(r"centroid_id", plan)




def _no_fanout(monkeypatch):
    """Disable the size-gated corpus-scan fan-out (sources/testdata.py)
    for tests that pin the CORE pipeline shape: the fan-out adds one
    deliberate key-hashed exchange of (ids, text) below tiny scans —
    never of synthesized payloads — and test_scan_fanout_* pins that
    behavior separately."""
    from retail_sales_etl_pipeline_spark.sources import testdata

    monkeypatch.setattr(testdata, "_FANOUT_TABLES", {})

def test_q92_redaction_is_map_only(spark, monkeypatch):
    """PII redaction must be a pure map: no exchange anywhere — a shuffle
    in a regexp_replace projection would be a planning bug."""
    _no_fanout(monkeypatch)
    plan = _formatted_plan(
        REGISTRY["q92_pattern_redaction"].spark_fn(spark, SMOKE_SF_DIR)
    )
    assert _op_count(plan, "Exchange") == 0
    assert "codegen id" in plan  # projection runs inside whole-stage codegen


def test_q94_top_pairs_uses_take_ordered_not_global_sort(spark):
    """The BPE top-k must be TakeOrderedAndProject over the aggregate —
    a global Sort of the full pair-count table would serialize the key
    space through one partition at scale."""
    plan = _formatted_plan(
        REGISTRY["q94_bpe_pair_counts"].spark_fn(spark, SMOKE_SF_DIR)
    )
    assert _op_count(plan, "TakeOrderedAndProject") >= 1
    # partial+final hash aggregate on the pair key (map-side combine)
    assert _op_count(plan, "HashAggregate") >= 2


def test_q98_vocab_join_is_broadcast(spark):
    """The K-row vocabulary must broadcast; a sort-merge join here would
    shuffle the full token stream a second time."""
    plan = _formatted_plan(
        REGISTRY["q98_vocab_oov_rate"].spark_fn(spark, SMOKE_SF_DIR)
    )
    assert _op_count(plan, "BroadcastHashJoin") >= 1
    assert _op_count(plan, "SortMergeJoin") == 0


def test_q97_bounds_join_is_broadcast(spark):
    """The per-type percentile bounds frame (one row per event type) must
    broadcast back onto the event stream."""
    plan = _formatted_plan(
        REGISTRY["q97_value_winsorize"].spark_fn(spark, SMOKE_SF_DIR)
    )
    assert _op_count(plan, "BroadcastHashJoin") >= 1
    assert _op_count(plan, "SortMergeJoin") == 0


def test_q108_salted_agg_exchanges_on_salted_key(spark):
    """The salted aggregate's first exchange must partition on
    (event_type, salt) — if a refactor drops the salt, the plan regresses
    to the 5-reducer hot-key funnel the query exists to avoid."""
    plan = _formatted_plan(
        REGISTRY["q108_salted_skew_agg"].spark_fn(spark, SMOKE_SF_DIR)
    )
    assert re.search(r"hashpartitioning\(event_type[^\n]*salt", plan), plan[:2000]
    # two-phase on top of the salt: >= 2 aggregate layers (partial+final x2)
    assert _op_count(plan, "HashAggregate") >= 4


def test_q113_session_windows_share_one_user_shuffle(spark):
    """Sessionize windows, position window, and the per-session path agg
    must all ride ONE user_id exchange; the only other exchanges are the
    bounded path-count agg and the k-row rank."""
    plan = _formatted_plan(
        REGISTRY["q113_session_paths"].spark_fn(spark, SMOKE_SF_DIR)
    )
    user_exchanges = len(
        re.findall(r"hashpartitioning\(user_id", plan)
    )
    assert user_exchanges == 1, plan[:3000]


def test_q105_score_join_and_doc_agg(spark):
    """q105's doc scoring must keep the LM-model join on (w1, w2) hash
    keys and finish with a partial+final agg on doc_id — no cartesian,
    no window over the full bigram stream."""
    plan = _formatted_plan(
        REGISTRY["q105_bigram_doc_score"].spark_fn(spark, SMOKE_SF_DIR)
    )
    assert _op_count(plan, "CartesianProduct") == 0
    assert _op_count(plan, "Window") == 0
    # model side is broadcast at smoke scale (the desired plan — the LM is
    # vocab-bounded); a shuffled equi-join is the acceptable big-vocab form
    equi_joins = (
        _op_count(plan, "BroadcastHashJoin")
        + _op_count(plan, "SortMergeJoin")
        + _op_count(plan, "ShuffledHashJoin")
    )
    assert equi_joins >= 1


def test_q106_token_mass_sample_no_shuffle_beyond_fingerprint_join(spark):
    """The keep-decision is a map-side filter; the only join is doc_id ->
    fingerprint (same source, co-partitioned). No aggregate at all."""
    plan = _formatted_plan(
        REGISTRY["q106_token_mass_sample"].spark_fn(spark, SMOKE_SF_DIR)
    )
    assert _op_count(plan, "HashAggregate") == 0
    assert _op_count(plan, "Window") == 0


def test_q118_cooccurrence_no_cartesian_and_broadcast_unigrams(spark):
    """PMI pair counting must stay equi-keyed: no cartesian anywhere, and
    the vocab-sized unigram/total sides join as broadcasts."""
    plan = _formatted_plan(
        REGISTRY["q118_cooccurrence_pmi"].spark_fn(spark, SMOKE_SF_DIR)
    )
    assert _op_count(plan, "CartesianProduct") == 0
    assert _op_count(plan, "BroadcastHashJoin") >= 2


def test_q127_sparse_similarity_joins_on_term_never_pairs(spark):
    """The sparse dot product must flow through posting-list equi-joins on
    the term key — a cartesian doc-pair plan would defeat the whole
    inverted-index design."""
    plan = _formatted_plan(
        REGISTRY["q127_sparse_tfidf_similarity"].spark_fn(spark, SMOKE_SF_DIR)
    )
    assert _op_count(plan, "CartesianProduct") == 0
    assert "TakeOrderedAndProject" in plan


def test_q130_wau_is_aggregate_not_window(spark):
    """Sliding-window distinct must be the dedup+fan-out aggregate form —
    a Window operator here would mean someone 'simplified' it into the
    non-mergeable per-day distinct that re-scans events."""
    plan = _formatted_plan(REGISTRY["q130_wau_dau"].spark_fn(spark, SMOKE_SF_DIR))
    assert _op_count(plan, "Window") == 0
    assert _op_count(plan, "HashAggregate") >= 4  # dedup, dau, wau partial+final


def test_q151_latency_aggregates_partial_then_final(spark):
    """Per-order max must partial-aggregate map-side before the orderkey
    shuffle (the max-then-diff shape), and the week histogram is a second
    two-stage agg."""
    plan = _formatted_plan(
        REGISTRY["q151_fulfillment_latency"].spark_fn(spark, SMOKE_SF_DIR)
    )
    assert _op_count(plan, "HashAggregate") >= 4
    assert _op_count(plan, "CartesianProduct") == 0


def test_q152_single_sort_serves_all_windows(spark):
    """percent-rank, count, and cume windows all partition on
    c_mktsegment: exactly one exchange on that key."""
    plan = _formatted_plan(
        REGISTRY["q152_balance_percentiles"].spark_fn(spark, SMOKE_SF_DIR)
    )
    assert len(re.findall(r"hashpartitioning\(c_mktsegment", plan)) == 1


def test_dsir_model_join_is_broadcast(spark):
    """q158: the <=4096-row bucket model must broadcast to the token-
    bucket stream (the q88 lesson: small-by-construction aggregates get
    sort-merge-joined on a shuffle of the full stream unless broadcast
    explicitly — measured 25x growth at 100x before the fix)."""
    plan = _formatted_plan(
        REGISTRY["q158_dsir_importance_weights"].spark_fn(spark, SMOKE_SF_DIR)
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_phash_plan_is_map_only(spark, monkeypatch):
    """q159: synthesize -> decode -> hash must be a pure map pipeline —
    zero Exchange; payloads never shuffle."""
    _no_fanout(monkeypatch)
    plan = _formatted_plan(
        REGISTRY["q159_perceptual_hash_twins"].spark_fn(spark, SMOKE_SF_DIR)
    )
    assert _op_count(plan, "Exchange") == 0


def test_fertility_is_single_shuffle_partial_agg(spark, monkeypatch):
    """q160: per-doc counts map-side, one exchange on the lang key with
    partial aggregation before it."""
    _no_fanout(monkeypatch)
    plan = _formatted_plan(
        REGISTRY["q160_tokenizer_fertility"].spark_fn(spark, SMOKE_SF_DIR)
    )
    assert _op_count(plan, "Exchange") == 1
    assert "partial" in plan.lower()


def test_overlap_sketch_pair_stage_is_broadcast(spark):
    """q161: pair estimation joins the K-row-per-source sketch via
    broadcast; the only sort-merge work allowed is the exact-audit
    fp equi-join and bounded window sorts."""
    plan = _formatted_plan(
        REGISTRY["q161_source_overlap_sketch"].spark_fn(spark, SMOKE_SF_DIR)
    )
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_q162_span_plan_is_pair_shaped_not_match_shuffle(spark):
    """q162: span computation must stay inside the Arrow batch (the q21
    pair shape). The only Window allowed is the candidate subtree's
    bucket-size window — the relational diagonal-islands windows would
    shuffle the full match relation (billions of rows at 100x)."""
    q162 = _formatted_plan(
        REGISTRY["q162_longest_common_span"].spark_fn(spark, SMOKE_SF_DIR)
    )
    q22 = _formatted_plan(
        REGISTRY["q22_minhash_lsh_candidates"].spark_fn(spark, SMOKE_SF_DIR)
    )
    assert _op_count(q162, "Window") == _op_count(q22, "Window")
    assert "MapInPandas" in q162


def test_pit_join_is_one_union_one_carry_window(spark):
    """q175's PIT match must stay the union+last_value interleave (ONE
    Union, bounded window count) — a decay to a range join or a
    per-fact-row match would multiply fact-sized shuffles."""
    plan = _formatted_plan(
        REGISTRY["q175_point_in_time_join"].spark_fn(spark, SMOKE_SF_DIR)
    )
    # SCD2 build (lag + running-sum + day-dedup rn) + the PIT carry;
    # anything beyond ~5 windows means a regression to per-row matching
    assert 1 <= _op_count(plan, "Window") <= 5
    assert _op_count(plan, "Union") == 1
    assert "Cartesian" not in plan


def test_rfm_ntile_is_segment_partitioned(spark):
    """q176's NTILE windows must be PARTITIONED by segment — a global
    (unpartitioned) NTILE is a single-reducer sort at 100 TB, the
    classic window-scaling trap."""
    plan = _formatted_plan(
        REGISTRY["q176_rfm_segmentation"].spark_fn(spark, SMOKE_SF_DIR)
    )
    import re as _re

    for m in _re.finditer(r"partitionBy=\[([^\]]*)\]", plan):
        assert "c_mktsegment" in m.group(1), plan[:2000]


def test_small_qty_threshold_join_is_copartitioned_not_broadcast(spark):
    """q182's per-part aggregate joins back to lineitem on the SAME key:
    at scale both sides hash-partition on l_partkey and the fact-derived
    aggregate must NOT broadcast (it grows with the fact table), while
    the explicitly-hinted part dim still does. At smoke scale AQE
    broadcasts everything, so the scale plan is revealed by disabling
    the size-based threshold — the explicit hint is the ONLY broadcast
    that survives."""
    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _formatted_plan(
            REGISTRY["q182_small_quantity_revenue"].spark_fn(
                spark, SMOKE_SF_DIR
            )
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
    assert _op_count(plan, "BroadcastExchange") == 1  # hinted part dim only
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan


def test_cusum_plans_as_windows_not_iteration(spark):
    """q189 must stay the two-window drawdown form: zero recursion
    nodes (UnionLoop), and both windows riding one (type, day) sort."""
    plan = _formatted_plan(
        REGISTRY["q189_cusum_changepoint"].spark_fn(spark, SMOKE_SF_DIR)
    )
    assert "UnionLoop" not in plan and "CTERelation" not in plan
    assert _op_count(plan, "Window") <= 2


def test_chain_depth_walk_is_aggregated_not_recursive(spark):
    """q188's chain walk must be the LEVEL-SYNCHRONOUS aggregated form:
    no recursive-CTE execution node anywhere (the WITH RECURSIVE form
    enumerated one row per PATH and died on replica-heavy corpora with
    RECURSION_ROW_LIMIT_EXCEEDED, commit ebe0df8), every frontier a
    checkpointed bounded frame, and the final rollup one hash
    aggregate over the unioned levels."""
    plan = _formatted_plan(
        REGISTRY["q188_neardup_chain_depth"].spark_fn(spark, SMOKE_SF_DIR)
    )
    assert "UnionLoop" not in plan and "Recursi" not in plan, plan[:1500]
    # levels arrive as checkpointed RDD scans; the only relational work
    # left in the final plan is union + the min/max/sum rollup
    assert "Union" in plan
    assert _op_count(plan, "HashAggregate") >= 2  # partial + final


def test_roc_auc_window_runs_over_bucket_aggregate(spark):
    """q226's cumulative-negative window is a GLOBAL order — legal only
    because its input is the centi-bucket AGGREGATE, never event rows.
    Pin: one scan, partial+final hash aggregation BELOW the single
    window, and exactly one single-partition exchange (the bounded
    bucket frame)."""
    plan = _formatted_plan(
        REGISTRY["q226_roc_auc"].spark_fn(spark, SMOKE_SF_DIR)
    )
    assert _op_count(plan, "Scan parquet") == 1
    assert _op_count(plan, "Window") == 1
    assert plan.count("Arguments: SinglePartition") == 1
    assert _op_count(plan, "HashAggregate") >= 2  # partial+final pre-window


def test_ks_drift_window_runs_over_bucket_aggregate(spark):
    """q236: same bounded-bucket-frame discipline as q226 — the KS
    cumulative window must consume the bucket aggregate."""
    plan = _formatted_plan(
        REGISTRY["q236_ks_drift_test"].spark_fn(spark, SMOKE_SF_DIR)
    )
    assert _op_count(plan, "Window") == 1
    # one single-partition exchange for the bucket-frame window, and at
    # most one more for the scalar final rollup — both bounded frames
    assert 1 <= plan.count("Arguments: SinglePartition") <= 2
    assert _op_count(plan, "HashAggregate") >= 2


def test_token_budget_window_stays_partitioned(spark):
    """q237's running-sum window partitions by source: there must be NO
    single-partition exchange anywhere — the corpus never funnels
    through one task."""
    plan = _formatted_plan(
        REGISTRY["q237_token_budget_selection"].spark_fn(spark, SMOKE_SF_DIR)
    )
    assert _op_count(plan, "Window") == 1
    assert "Arguments: SinglePartition" not in plan
    assert "hashpartitioning(source" in plan


def test_q242_pair_scorer_stays_candidate_sized(spark):
    """q242 (second-stage rerank): the pair scorer must touch exactly the
    fused candidate list — both first-stage pools plan as
    TakeOrderedAndProject (never a global sort of the corpus), the query
    doc joins in as a broadcast, and every rank window runs AFTER a
    limit (bounded frames, the q89 discipline)."""
    plan = _formatted_plan(
        REGISTRY["q242_crossencoder_rerank_eval"].spark_fn(
            spark, SMOKE_SF_DIR
        )
    )
    # first-stage pools + final fused top-k: at least 3 TakeOrdered nodes
    assert _op_count(plan, "TakeOrderedAndProject") >= 3
    assert "BroadcastExchange" in plan  # query-doc tokens broadcast
    # no corpus-sized global Sort: every Sort in this plan feeds a
    # bounded window frame (post-limit), so the plan may contain Sorts
    # but they sit above TakeOrdered/limit boundaries; the decisive pin
    # is that windows are bounded-frame (<= 4: fused rank, rerank rank,
    # and the two pool ranks over RRF_POOL rows)
    assert _op_count(plan, "Window") <= 4


def test_q241_sketch_build_is_one_grouped_map_pass(spark):
    """q241 (KLL sketch): the distributed piece is ONE Arrow grouped-map
    over the shard key — no window over raw rows, no corpus-sized sort;
    the only aggregation besides the grouped map is the bounded exact-
    histogram proof side (hash aggregate on the centi bucket)."""
    from retail_sales_etl_pipeline_spark.operators.kll import shard_sketch_rows
    from retail_sales_etl_pipeline_spark.plans.event_queries import (
        KLL_K,
        centi_shards,
    )
    from retail_sales_etl_pipeline_spark.sources import load_table as _lt

    ev = _lt(spark, SMOKE_SF_DIR, "events")
    sk = shard_sketch_rows(centi_shards(ev), KLL_K)
    plan = _formatted_plan(sk)
    assert "FlatMapGroupsInPandas" in plan
    assert _op_count(plan, "Window") == 0
    assert "Arguments: SinglePartition" not in plan


def test_kmv_union_sketch_has_no_nested_loop_join(spark):
    """q219's union-sketch input joins fingerprints to source pairs; the
    old OR-condition form ((source==src_a)|(source==src_b)) planned as a
    BroadcastNestedLoopJoin — |fp| x n_pairs comparisons, the one join
    in the package that degraded to a nested loop. The two-equi-join
    UNION form must stay hash/broadcast-join-only at any source count."""
    plan = _formatted_plan(
        REGISTRY["q219_kmv_cardinality_algebra"].spark_fn(spark, SMOKE_SF_DIR)
    )
    assert "BroadcastNestedLoopJoin" not in plan, plan[:2000]


def test_q246_pq_adc_is_broadcast_only_until_topk(spark):
    """q246 (PQ ADC): the LUT scoring chain must be broadcast hash joins
    (the doc side carries only codes — never the embedding column), with
    no sort-merge join anywhere and data-sized shuffles only for the
    encode groupBy and the per-query top-k window."""
    plan = _formatted_plan(
        REGISTRY["q246_pq_adc_topk"].spark_fn(spark, SMOKE_SF_DIR)
    )
    assert _op_count(plan, "SortMergeJoin") == 0
    assert _op_count(plan, "BroadcastHashJoin") == 8  # one per subspace
    # the only hash-partition exchanges: encode groupBy + top-k window
    import re

    hash_ex = len(re.findall(r"Exchange hashpartitioning", plan))
    assert hash_ex <= 2, plan[:2000]


def test_q247_tuner_is_one_aggregate_pass(spark):
    """q247 (LSH tuner): all 13 grid cells are columns on ONE pass over
    the candidate pairs — a single global aggregate fanned out with
    stack(), never 13 re-scans of the pair join (the q194 convention)."""
    from retail_sales_etl_pipeline_spark.plans.dedup_queries import (
        TUNER_GRID,
    )

    plan = _formatted_plan(
        REGISTRY["q247_lsh_param_tuner"].spark_fn(spark, SMOKE_SF_DIR)
    )
    # 3 Generates: band unpivot on each self-join side + the final
    # grid stack() — crucially not one per grid cell (13)
    assert _op_count(plan, "Generate") <= 3
    # exactly one single-partition exchange: the global one-row aggregate
    assert _op_count(plan, "Arguments: SinglePartition") <= 1
    # the documents scan fan-in is fixed by the candidate pipeline's
    # self-join shape (8 at present) — the decisive bound is that it
    # does NOT scale with the 13-cell grid (one scan per grid row)
    assert plan.count("Scan parquet") < len(TUNER_GRID), plan.count(
        "Scan parquet"
    )


def test_q248_spectrum_is_one_corpus_scan_no_joins(spark):
    """q248 (Good-Turing): neighbor lookup + totals must be windows over
    the r-capped spectrum — one corpus scan, zero joins (a self-join +
    broadcast-total formulation re-ran the token count three times)."""
    plan = _formatted_plan(
        REGISTRY["q248_good_turing_vocab"].spark_fn(spark, SMOKE_SF_DIR)
    )
    assert _op_count(plan, "Scan parquet") == 1, plan[:1500]
    for join in ("SortMergeJoin", "BroadcastHashJoin",
                 "BroadcastNestedLoopJoin"):
        assert _op_count(plan, join) == 0
    assert _op_count(plan, "Window") >= 1


def test_q249_layouts_ride_one_fact_scan(spark):
    """q249 (Hilbert layout): the three layouts must fan out of ONE cell
    aggregate via stack(), with the packing cumsums as windows over the
    bounded cell table — one fact scan, zero joins (the unioned
    per-layout form scanned orders six times)."""
    plan = _formatted_plan(
        REGISTRY["q249_hilbert_layout"].spark_fn(spark, SMOKE_SF_DIR)
    )
    assert _op_count(plan, "Scan parquet") == 1, plan[:1500]
    for join in ("SortMergeJoin", "BroadcastHashJoin",
                 "BroadcastNestedLoopJoin"):
        assert _op_count(plan, join) == 0
    assert _op_count(plan, "Generate") == 1  # the stack() fan-out


def test_q250_dp_release_is_scan_agg_project(spark, monkeypatch):
    """q250 (DP release): the threshold ladder must stay a codegen'd CASE
    projection — one scan, one group-by exchange, no joins, no window."""
    _no_fanout(monkeypatch)
    plan = _formatted_plan(
        REGISTRY["q250_dp_noisy_release"].spark_fn(spark, SMOKE_SF_DIR)
    )
    assert _op_count(plan, "Scan parquet") == 1
    assert len(re.findall(r"^\(\d+\) Exchange", plan, flags=re.M)) == 1
    for op in ("SortMergeJoin", "BroadcastHashJoin",
               "BroadcastNestedLoopJoin", "Window"):
        assert _op_count(plan, op) == 0


def test_q251_mg_recount_is_candidate_broadcast(spark):
    """q251 (Misra-Gries): the summary pass collects once (bounded at
    shards*(K+1) rows), so the RETURNED plan is only the recount —
    one corpus scan semi-joined against broadcast literal candidates,
    never a vocabulary-sized shuffle join and never a second
    grouped-map execution."""
    plan = _formatted_plan(
        REGISTRY["q251_misra_gries_heavy_hitters"].spark_fn(
            spark, SMOKE_SF_DIR
        )
    )
    assert _op_count(plan, "Scan parquet") == 1, plan[:1500]
    assert _op_count(plan, "SortMergeJoin") == 0
    assert _op_count(plan, "BroadcastHashJoin") == 1
    assert _op_count(plan, "FlatMapGroupsInPandas") == 0


def test_q255_suffix_sum_avoids_unbounded_following_frame(spark):
    """q255 (KNN-Shapley): the suffix sum must be the DESC-ordered
    incremental prefix frame — Spark's UNBOUNDED FOLLOWING frame
    re-aggregates the tail for every row (O(n^2) per query partition,
    42 s at 10x vs 3.7 s, measured)."""
    plan = _formatted_plan(
        REGISTRY["q255_knn_shapley_valuation"].spark_fn(
            spark, SMOKE_SF_DIR
        )
    )
    assert "UNBOUNDED FOLLOWING" not in plan.upper(), plan[:2000]


def test_scan_fanout_is_gated_and_keyed(spark, monkeypatch):
    """The corpus-scan fan-out (sources/testdata.py): opt-in per call
    site, and below the bytes-per-core gate the documents scan gains
    exactly one doc_id-hashed exchange (the testdata files are
    single-row-group, so without it every narrow pipeline runs on one
    core). Above the gate — or without the opt-in — the plan is
    untouched: the rule adapts to scale instead of tuning for the
    local core count."""
    from retail_sales_etl_pipeline_spark.sources import testdata

    plan = _formatted_plan(
        load_table(spark, SMOKE_SF_DIR, "documents", fan_out=True)
    )
    assert len(re.findall(r"hashpartitioning\(doc_id", plan)) >= 1

    # default (no opt-in): raw scan
    plan_default = _formatted_plan(load_table(spark, SMOKE_SF_DIR, "documents"))
    assert _op_count(plan_default, "Exchange") == 0

    # opted in but above the size gate: raw scan (gate = what the scan
    # can parallelize on its own — cores x maxPartitionBytes)
    monkeypatch.setattr(testdata, "_fanout_gate_bytes", lambda _s: 0)
    plan_big = _formatted_plan(
        load_table(spark, SMOKE_SF_DIR, "documents", fan_out=True)
    )
    assert "hashpartitioning" not in plan_big
    assert _op_count(plan_big, "Exchange") == 0

    # unknown size (remote URI / unseen path) must read as "no fan-out"
    monkeypatch.undo()
    monkeypatch.setattr(testdata, "_dir_bytes", lambda _p: None)
    plan_unknown = _formatted_plan(
        load_table(spark, SMOKE_SF_DIR, "documents", fan_out=True)
    )
    assert _op_count(plan_unknown, "Exchange") == 0


def test_q21_verify_runs_without_python_workers(spark):
    """q21's trigram-Jaccard verify is native expressions: above the
    candidate x text joins there are only Projects, the one-row Generate
    that carries the score and the threshold Filter — no MapInPandas hop.
    The plan's one Python-worker node is the MinHash signature pass of
    the candidate stage."""
    plan = _formatted_plan(
        REGISTRY["q21_ngram_jaccard_pairs"].spark_fn(spark, SMOKE_SF_DIR)
    )
    assert _op_count(plan, "MapInPandas") == 1
    assert _op_count(plan, "PythonMapInArrow") == 0
    tree = plan.split("\n\n")[0]
    above_join = re.split(r"\w*Join\b", tree)[0]
    nodes = set(re.findall(r"(\w+) \(\d+\)", above_join))
    assert nodes <= {"AdaptiveSparkPlan", "Project", "Generate", "Filter"}, nodes
    # the threshold stays above the score: pushed into the join, Catalyst
    # would inline the n-gram arrays into the join condition
    conds = re.findall(r"^Join condition: (.*)$", plan, flags=re.MULTILINE)
    assert not any("split(" in c for c in conds), conds


@pytest.mark.parametrize(
    "name",
    [
        "q79_cross_source_contamination",
        "q86_minhash_jaccard_estimate",
        "q126_containment_pairs",
        "q139_split_leakage_audit",
        "q162_longest_common_span",
        "q163_edit_distance_verify",
        "q230_label_propagation",
        "q234_modularity_score",
        "q247_lsh_param_tuner",
    ],
)
def test_ladder_rung_reads_the_corpus_once(spark, name):
    """A near-dup ladder rung takes its candidates and its pair sides
    (``dedup_queries.pair_sides``) from one read of ``documents``:
    planning it runs exactly one Spark job, the read's schema inference."""
    sc = spark.sparkContext
    group = f"ladder-plan-{name}"
    sc.setJobGroup(group, "plan a near-dup ladder rung")
    try:
        REGISTRY[name].spark_fn(spark, SMOKE_SF_DIR)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(list(sc.statusTracker().getJobIdsForGroup(group))) == 1


@pytest.mark.parametrize(
    "id_type, labels",
    [("string", {"b": "a", "c": "a"}), ("long", {2: 1, 3: 1}), ("long", {})],
)
def test_driver_labels_frame_is_a_local_scan(spark, id_type, labels):
    """The driver's label map reaches the JVM as an Arrow-built local
    relation: a LocalTableScan, never a Python-worker (ExistingRDD) scan.
    An empty map is folded away, leaving no join at all."""
    from retail_sales_etl_pipeline_spark.operators.graph import driver_labels_frame

    ids = spark.range(1, 5)
    if id_type == "string":
        ids = ids.select(F.expr("char(96 + id)").alias("id"))
    df = driver_labels_frame(ids, "id", labels)
    plan = _formatted_plan(df)
    assert "ExistingRDD" not in plan
    if labels:
        assert _op_count(plan, "LocalTableScan") == 1
    else:
        assert "Join" not in plan
    got = {r.id: r.component_id for r in df.collect()}
    assert got == {i: labels.get(i, i) for i in got} and len(got) == 4


def test_customer_attrs_sentinel_is_a_local_scan(spark):
    """dim_customer's UNKNOWN sentinel reaches the JVM as an Arrow-built
    local relation, so the ETL's dim build plans no Python-worker
    (ExistingRDD) scan."""
    from retail_sales_etl_pipeline_spark.operators.dims import (
        UNKNOWN_CUSTOMER,
        build_dim_customer_attrs,
    )

    staging = spark.range(3).select(
        F.col("id").cast("string").alias("customer_id"),
        F.lit("UK").alias("country"),
    )
    df = build_dim_customer_attrs(staging)
    plan = _formatted_plan(df)
    assert "ExistingRDD" not in plan
    assert _op_count(plan, "LocalTableScan") >= 1
    got = {r.customer_id: r.country for r in df.collect()}
    assert got == {"0": "UK", "1": "UK", "2": "UK",
                   UNKNOWN_CUSTOMER: UNKNOWN_CUSTOMER}


def test_recent_pipeline_runs_without_a_log_runs_no_job(spark, tmp_path):
    """No pipeline_runs log yet: the empty view is an Arrow-built local
    relation with the log's schema, and collecting it runs no Spark job."""
    from retail_sales_etl_pipeline_spark.plans.metadata import (
        recent_pipeline_runs,
    )
    from retail_sales_etl_pipeline_spark.schemas import PIPELINE_RUNS_SCHEMA

    sc = spark.sparkContext
    group = "recent-runs-without-log"
    sc.setJobGroup(group, "read a missing run log")
    try:
        df = recent_pipeline_runs(spark, str(tmp_path / "pipeline_runs"))
        assert df.collect() == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert "ExistingRDD" not in _formatted_plan(df)
    assert df.schema == PIPELINE_RUNS_SCHEMA
    assert not list(sc.statusTracker().getJobIdsForGroup(group))


def _staging_rows(spark):
    from datetime import datetime
    from decimal import Decimal

    from retail_sales_etl_pipeline_spark.schemas import STAGING_SCHEMA

    rows = [
        ("1", "P1", "A", 1, datetime(2011, 3, 1, 10), Decimal("1.00"), "17850.0", "UK", 0),
        ("2", "P2", None, 2, datetime(2011, 3, 2, 10), Decimal("2.00"), None, None, 1),
        ("3", "P1", "B", 3, datetime(2011, 3, 2, 11), Decimal("3.00"), "UNKNOWN", None, 2),
    ]
    return spark.createDataFrame(rows, STAGING_SCHEMA)


@pytest.mark.parametrize("loader", ["load_dim_product", "load_dim_customer", "load_dim_date"])
def test_dim_load_over_existing_dim_plans_without_jobs(spark, tmp_path, loader):
    """A dim upsert is one lazy plan: building it over an existing dim
    launches no Spark job (the old key maximum is a window in the plan,
    not a driver collect), so the dims stage runs one write action per
    dim."""
    from retail_sales_etl_pipeline_spark.operators import dims

    load = getattr(dims, loader)
    staging = _staging_rows(spark)
    path = str(tmp_path / loader)
    load(staging).write.parquet(path)
    existing = spark.read.parquet(path)
    sc = spark.sparkContext
    group = f"dim-plan-{loader}"
    sc.setJobGroup(group, "plan a dim upsert over an existing dim")
    try:
        merged = load(staging, existing)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    # the rerun over its own output keeps every key
    assert sorted(merged.collect()) == sorted(existing.collect())


def test_customer_attrs_sentinel_needs_no_join(spark):
    """The UNKNOWN sentinel enters dim_customer's one aggregate, with no
    join; a real 'UNKNOWN' customer wins over it, NULL country included,
    and no customer id repeats."""
    from retail_sales_etl_pipeline_spark.operators.dims import build_dim_customer_attrs

    df = build_dim_customer_attrs(_staging_rows(spark))
    assert "Join" not in _formatted_plan(df)
    got = [(r.customer_id, r.country) for r in df.collect()]
    assert sorted(got, key=str) == sorted([("17850.0", "UK"), ("UNKNOWN", None)], key=str)


@pytest.mark.parametrize(
    "name",
    [
        "q225_vocab_coverage_curve",
        "q241_kll_quantile_sketch",
        "q251_misra_gries_heavy_hitters",
        "q252_kcenter_coreset",
        "q256_bpe_merge_trainer",
    ],
)
def test_driver_rows_are_a_local_scan(spark, duck, name):
    """A query that turns driver-side rows into a frame (its result rows,
    a candidate or a K list) builds it with ``schemas.rows_frame``: a
    LocalTableScan, never an ExistingRDD scan whose every action starts
    Python workers. Its rows still hash-match the oracle (q241 is
    rows-only by declaration; tests/test_kll.py value-checks it)."""
    q = REGISTRY[name]
    df = q.spark_fn(spark, SMOKE_SF_DIR)
    assert "ExistingRDD" not in _formatted_plan(df)
    if q.oracle is not None:
        assert_matches_oracle(df, duck, q.oracle, name)


def test_fact_write_is_one_sort_over_one_exchange(spark, tmp_path):
    """``write_fact_sales`` clusters each month file by date: its one Sort
    is on (sale_month, invoice_date, invoice_no), so the writer's required
    sale_month ordering is a prefix and adds no second Sort, and the
    month repartition stays the only exchange."""
    from retail_sales_etl_pipeline_spark.operators.fact import write_fact_sales

    ts = F.expr("timestamp_seconds(1290000000 + id * 86400)")
    fact = spark.range(400).select(
        F.col("id").cast("string").alias("invoice_no"),
        ts.alias("invoice_date"),
        F.date_format(ts, "yyyy-MM").alias("sale_month"),
    )
    write_fact_sales(fact, str(tmp_path / "fact_sales"))
    runs = spark._jsparkSession.sharedState().statusStore().executionsList()
    plan = runs.apply(runs.size() - 1).physicalPlanDescription()
    final = plan.split("== Initial Plan ==")[0]
    assert len(re.findall(r"\bSort \(\d+\)", final)) == 1, final
    assert len(re.findall(r"\bExchange \(\d+\)", final)) == 1, final
    sorts = re.findall(r"^\(\d+\) Sort.*\n.*\nArguments: \[(.*)\], false", plan, re.M)
    assert {tuple(re.findall(r"(\w+)#\d+", k)) for k in sorts} == {
        ("sale_month", "invoice_date", "invoice_no")}
