"""Behavior tests for the round-4 additions: value-level recounts against
independent pandas/python implementations, plus structural invariants the
oracle's hash equality can't express (e.g. 'versions are contiguous')."""

from __future__ import annotations

import pandas as pd

from retail_sales_etl_pipeline_spark.plans.registry import load_all

from .conftest import SMOKE_SF_DIR

REGISTRY = load_all()


def _run(spark, name):
    return REGISTRY[name].spark_fn(spark, SMOKE_SF_DIR).toPandas()


def test_conversion_labels_match_pandas_recount(spark):
    """q115: every click's label/time-to-conversion recomputed with a
    plain pandas groupby-scan."""
    from retail_sales_etl_pipeline_spark.plans.event_queries import (
        LABEL_WINDOW_MIN,
    )

    got = _run(spark, "q115_conversion_labels").set_index("event_id")
    ev = pd.read_parquet(f"{SMOKE_SF_DIR}/events.parquet")
    ev = ev.sort_values(["user_id", "ts", "event_id"]).reset_index(drop=True)
    window_us = LABEL_WINDOW_MIN * 60 * 1_000_000
    expected = {}
    for _, g in ev.groupby("user_id"):
        # normalize to ns first: pandas may load parquet timestamps at
        # either ns or us resolution depending on the writer
        ts_us = g["ts"].astype("datetime64[ns]").astype("int64").to_numpy() // 1000
        types = g["event_type"].to_numpy()
        ids = g["event_id"].to_numpy()
        for i in range(len(g)):
            if types[i] != "click":
                continue
            ttc = None
            for j in range(i + 1, len(g)):
                if types[j] == "purchase":
                    ttc = int(ts_us[j] - ts_us[i])
                    break
            label = ttc is not None and ttc <= window_us
            expected[int(ids[i])] = (label, ttc if label else None)
    assert len(got) == len(expected)
    for eid, (label, ttc) in expected.items():
        row = got.loc[eid]
        assert bool(row["label"]) == label, eid
        if label:
            assert int(row["ttc_us"]) == ttc, eid
        else:
            assert pd.isna(row["ttc_us"]), eid


def test_scd2_versions_contiguous_and_ranges_closed(spark):
    """q107: per customer, versions are 1..k with exactly one is_current
    row, and each valid_to equals the next version's valid_from."""
    hist = _run(spark, "q107_scd2_history")
    for custkey, g in hist.groupby("o_custkey"):
        g = g.sort_values("version")
        assert list(g["version"]) == list(range(1, len(g) + 1)), custkey
        assert int(g["is_current"].sum()) == 1
        assert bool(g.iloc[-1]["is_current"])
        froms = list(g["valid_from_iso"])
        tos = list(g["valid_to_iso"])
        assert tos[-1] is None or pd.isna(tos[-1])
        for i in range(len(g) - 1):
            assert tos[i] == froms[i + 1], custkey
        # priority actually changes at every version boundary
        prios = list(g["priority"])
        assert all(prios[i] != prios[i + 1] for i in range(len(prios) - 1))


def test_token_mass_sample_keeps_all_long_docs_and_matches_recount(spark):
    """q106: every doc at/above the cap is kept (keep_ppm == 1e6); the
    kept set equals a pure-python recount of hash, threshold, and salt."""
    from retail_sales_etl_pipeline_spark.plans.mixing_queries import (
        TOKMASS_CAP_TOKENS,
        TOKMASS_SALT_A,
        TOKMASS_SALT_B,
    )
    from .test_properties import _py_poly_hash
    from retail_sales_etl_pipeline_spark.functions.scalar import (
        POLY_BASE,
        POLY_MOD,
    )

    got = _run(spark, "q106_token_mass_sample")
    docs = pd.read_parquet(f"{SMOKE_SF_DIR}/documents.parquet")
    docs = docs[docs["text"].notna()]
    expected = set()
    for _, r in docs.iterrows():
        n = len(r["text"].split(" "))
        ppm = 1_000_000 if n >= TOKMASS_CAP_TOKENS else (n * 1_000_000) // TOKMASS_CAP_TOKENS
        h = _py_poly_hash(r["text"], POLY_BASE, POLY_MOD)
        if (TOKMASS_SALT_A * h + TOKMASS_SALT_B) % 1_000_000 < ppm:
            expected.add(int(r["doc_id"]))
    assert set(got["doc_id"].astype(int)) == expected
    at_cap = got[got["n_tokens"] >= TOKMASS_CAP_TOKENS]
    assert (at_cap["keep_ppm"] == 1_000_000).all()
    long_ids = {
        int(r["doc_id"])
        for _, r in docs.iterrows()
        if len(r["text"].split(" ")) >= TOKMASS_CAP_TOKENS
    }
    assert long_ids <= set(got["doc_id"].astype(int))


def test_event_anomaly_matches_numpy_zscore(spark):
    """q109: integer-arithmetic anomaly flags equal the float z-score rule
    evaluated carefully (strict inequality, population std)."""
    got = _run(spark, "q109_event_anomaly")
    ev = pd.read_parquet(f"{SMOKE_SF_DIR}/events.parquet")
    hourly = (
        ev.assign(hour=ev["ts"].dt.floor("h"))
        .groupby(["event_type", "hour"])
        .size()
        .rename("cnt")
        .reset_index()
    )
    for etype, g in hourly.groupby("event_type"):
        n = len(g)
        s1 = int(g["cnt"].sum())
        s2 = int((g["cnt"] ** 2).sum())
        sub = got[got["event_type"] == etype]
        assert len(sub) == n
        for _, r in sub.iterrows():
            c = int(r["cnt"])
            exact = (n * c - s1) ** 2 > 9 * (n * s2 - s1 * s1)
            assert bool(r["is_anomaly"]) == exact


def test_quantile_bins_equal_depth(spark):
    """q116: per source, bin sizes differ by at most 1 and bounds are
    non-overlapping in order."""
    got = _run(spark, "q116_quantile_binning")
    for src, g in got.groupby("source"):
        g = g.sort_values("bin")
        sizes = list(g["n_docs"])
        assert max(sizes) - min(sizes) <= 1, src
        for i in range(len(g) - 1):
            assert g.iloc[i]["hi_chars"] <= g.iloc[i + 1]["lo_chars"], src


def test_lsh_probe_monotone_in_bands(spark):
    """q112's planted recall must not DECREASE when the generator uses
    more bands (the S-curve moves left) — run the probe's own pieces with
    a weakened generator and compare."""
    from pyspark.sql import functions as F
    from retail_sales_etl_pipeline_spark.plans.dedup_queries import (
        LSH_PROBE_MOD,
        _PLANT_OFFSET,
        _PERTURB_SPARK,
        minhash_candidates,
    )
    from retail_sales_etl_pipeline_spark.sources import load_table

    docs = load_table(spark, SMOKE_SF_DIR, "documents").select("doc_id", "text")
    planted = docs.filter(
        (F.col("doc_id") % LSH_PROBE_MOD == 0)
        & (F.size(F.split("text", " ")) >= 8)
    ).select("doc_id", F.expr(_PERTURB_SPARK).alias("text"))
    corpus = docs.unionByName(
        planted.select((F.col("doc_id") + _PLANT_OFFSET).alias("doc_id"), "text")
    )
    cand = minhash_candidates(corpus)
    full = cand.filter(
        F.col("doc_b") == F.col("doc_a") + _PLANT_OFFSET
    ).count()
    n_planted = planted.count()
    assert 0 < full <= n_planted


def test_component_histogram_accounts_for_every_doc(spark):
    """q117: sum over (cluster_size * n_components) must equal the doc
    population that entered the clustering (all docs — singletons form
    size-1 components)."""
    import pandas as pd

    got = _run(spark, "q117_component_size_histogram")
    docs = pd.read_parquet(f"{SMOKE_SF_DIR}/documents.parquet")
    assert int(got["n_docs"].sum()) == len(docs)
    assert (
        got["n_docs"] == got["cluster_size"] * got["n_components"]
    ).all()


def test_wau_at_least_dau_and_window_superset(spark):
    """q130: WAU >= DAU for every day (the 7-day window contains the
    day), and stickiness_ppm <= 1e6."""
    got = _run(spark, "q130_wau_dau")
    assert (got["wau"] >= got["dau"]).all()
    assert (got["stickiness_ppm"] <= 1_000_000).all()
    assert (got["stickiness_ppm"] > 0).all()


def test_snapshot_diff_counts_reconcile(spark):
    """q131: removed+changed+unchanged = old corpus size; added+changed+
    unchanged = new corpus size (computed independently)."""
    import pandas as pd

    got = _run(spark, "q131_snapshot_diff").set_index("status")["n_docs"]
    docs = pd.read_parquet(f"{SMOKE_SF_DIR}/documents.parquet")
    n_old = len(docs)
    from retail_sales_etl_pipeline_spark.plans.dedup_queries import (
        DIFF_ADD_MOD,
        DIFF_REMOVE_MOD,
    )

    n_new = int((docs["doc_id"] % DIFF_REMOVE_MOD != 0).sum()) + int(
        (docs["doc_id"] % DIFF_ADD_MOD == 0).sum()
    )
    get = lambda s: int(got.get(s, 0))  # noqa: E731
    assert get("removed") + get("changed") + get("unchanged") == n_old
    assert get("added") + get("changed") + get("unchanged") == n_new


def test_cdc_merge_drops_deletes_and_keeps_untouched(spark):
    """q120: customers whose LAST order is 'P' are absent; customers with
    no orders at all appear as 'kept' with their original balance."""
    import pandas as pd

    got = _run(spark, "q120_cdc_merge")
    orders = pd.read_parquet(f"{SMOKE_SF_DIR}/orders.parquet")
    cust = pd.read_parquet(f"{SMOKE_SF_DIR}/customer.parquet")
    last = orders.sort_values("o_orderkey").groupby("o_custkey").last()
    deleted = set(last[last["o_orderstatus"] == "P"].index)
    assert deleted.isdisjoint(set(got["c_custkey"]))
    no_orders = set(cust["c_custkey"]) - set(orders["o_custkey"])
    kept = got[got["change_kind"] == "kept"]
    assert set(kept["c_custkey"]) == no_orders


def test_novelty_of_duplicated_doc_is_zero(spark):
    """q121 semantics probe: if a doc's text also exists under another
    doc_id, every one of its shingles has df >= 2 -> novelty 0. Build the
    duplicated corpus in-memory and run the same plan."""
    from pyspark.sql import functions as F
    from retail_sales_etl_pipeline_spark.operators.text import token_ngrams_ws_expr
    from retail_sales_etl_pipeline_spark.plans.text_queries import NOVELTY_N

    rows = [(1, "a b c d e f g h"), (2, "a b c d e f g h"), (3, "x y z w v u t s")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    shingles = (
        docs.filter(F.size(F.split("text", " ")) >= NOVELTY_N)
        .select("doc_id", F.split("text", " ").alias("ws"))
        .select("doc_id", F.explode(F.expr(token_ngrams_ws_expr("ws", NOVELTY_N))).alias("g"))
    )
    df = shingles.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    nov = (
        shingles.join(df, "g")
        .groupBy("doc_id")
        .agg(F.sum(F.when(F.col("df") == 1, 1).otherwise(0)).alias("n_novel"))
    )
    out = {r.doc_id: r.n_novel for r in nov.collect()}
    assert out[1] == 0 and out[2] == 0 and out[3] > 0


def test_balance_percentiles_boundaries(spark):
    """q152: per segment, pct_rank spans exactly [0, 1], cume ends at 1,
    and cume is non-decreasing in rank order."""
    got = _run(spark, "q152_balance_percentiles")
    for seg, g in got.groupby("c_mktsegment"):
        g = g.sort_values("rnk")
        assert g.iloc[0]["pct_rank"] == 0.0
        assert g.iloc[-1]["pct_rank"] == 1.0
        assert g.iloc[-1]["cume"] == 1.0
        assert (g["cume"].diff().dropna() >= 0).all(), seg


def test_fulfillment_latency_accounts_for_all_orders(spark):
    """q151: the week-bucket histogram's order counts sum to the number
    of orders that have at least one lineitem."""
    import pandas as pd

    got = _run(spark, "q151_fulfillment_latency")
    li = pd.read_parquet(f"{SMOKE_SF_DIR}/lineitem.parquet")
    orders = pd.read_parquet(f"{SMOKE_SF_DIR}/orders.parquet")
    with_lines = orders[orders["o_orderkey"].isin(set(li["l_orderkey"]))]
    assert int(got["n_orders"].sum()) == len(with_lines)
    # bucket bounds are consistent with the week index; both engines'
    # integer division TRUNCATES toward zero (Python // floors — don't)
    import math

    for _, r in got.iterrows():
        assert math.trunc(r["min_days"] / 7) == r["latency_week"]
        assert math.trunc(r["max_days"] / 7) == r["latency_week"]


def test_revenue_momentum_chains(spark):
    """q149: each row's prev_revenue equals the previous month's revenue,
    and exactly the first month has NULL momentum."""
    got = _run(spark, "q149_revenue_momentum").sort_values(["yr", "mo"]).reset_index(drop=True)
    assert pd.isna(got.iloc[0]["momentum_ppm"])
    assert got["momentum_ppm"].isna().sum() == 1
    for i in range(1, len(got)):
        assert got.iloc[i]["prev_revenue"] == got.iloc[i - 1]["revenue"]


def test_session_concurrency_balances_to_zero(spark):
    """q148: every session that starts also ends, so the final running
    open count is exactly zero and no day's open count is negative."""
    got = _run(spark, "q148_session_concurrency").sort_values("day_iso")
    assert int(got.iloc[-1]["open_at_eod"]) == 0
    assert (got["open_at_eod"] >= 0).all()
    assert int(got["n_started"].sum()) == int(got["n_ended"].sum())


def test_props_key_presence_bounded(spark):
    """q146: presence can't exceed one occurrence per event (flat JSON),
    so presence_ppm <= 1e6 and n_present <= n_events."""
    got = _run(spark, "q146_props_key_profile")
    assert (got["n_present"] <= got["n_events"]).all()
    assert (got["presence_ppm"] <= 1_000_000).all()


def test_lang_confusion_diagonal_dominates(spark):
    """q147: the matrix totals equal the corpus, and q24's measured
    agreement rate equals the diagonal share."""
    import pandas as pd

    got = _run(spark, "q147_lang_id_confusion")
    docs = pd.read_parquet(f"{SMOKE_SF_DIR}/documents.parquet")
    assert int(got["n_docs"].sum()) == len(docs)
    q24 = _run(spark, "q24_lang_id")
    diag = got[got["labeled_lang"] == got["predicted_lang"]]["n_docs"].sum()
    assert int(diag) == int(q24["agree"].sum())


def test_triplet_margin_consistent_with_hard_negatives(spark):
    """q135: each anchor's negative side must equal q101's rank-1 hard
    negative (same scorer, same tie-break)."""
    got = _run(spark, "q135_triplet_mining").set_index("query_id")
    q101 = _run(spark, "q101_hard_negative_mining")
    top1 = q101[q101["rank"] == 1].set_index("query_id")
    for qid in got.index:
        assert int(got.loc[qid]["negative_id"]) == int(top1.loc[qid]["neighbor_id"])
        assert got.loc[qid]["neg_cosine"] == top1.loc[qid]["cosine"]


def test_component_split_has_zero_cross_split_leakage(spark):
    """q153: by construction, no verified near-dup pair may straddle two
    splits — every component travels together (contrast q139, which
    measures the leakage per-doc hashing allows)."""
    split = _run(spark, "q153_component_keyed_split")
    by_comp = split.groupby("component_id")["split"].nunique()
    assert (by_comp == 1).all()
    # and the multi-doc components genuinely exercise the property
    sizes = split.groupby("component_id").size()
    assert (sizes > 1).any()
