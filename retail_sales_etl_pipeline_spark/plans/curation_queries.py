"""Corpus-curation composition: the full LLM training-data pipeline as ONE
query — per-doc featurization → quality filter → exact dedup → LSH
candidate generation → exact near-dup verification → final corpus.

Every stage reuses the already-oracle-checked building blocks (q24's
language argmax, q25's quality banding, q27's content fingerprint, q22's
MinHash band join, q21's Jaccard verify), so the whole composition is
itself hash-checked end-to-end against DuckDB — the proof that the
operators compose, not just pass in isolation.

Scale shape: stages A-C are narrow maps + one window on the fingerprint;
near-dedup candidates come from the banded equi-join (never all-pairs);
the quadratic Jaccard runs only on band-sharing survivor pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.text import (
    fingerprint_pandas,
    jaccard_pairs,
    poly_hash_pair,
    token_ngrams_duck,
)
from ..sources import fs, load_table
from .checkpoint import write_parquet
from .dedup_queries import _DUCK_CAND_CTE, minhash_candidates, pair_sides
from .registry import oracle_of, register
from .text_queries import _DUCK_SCORES, _predict_expr, _SPARK_SCORES

CURATION_JACCARD = 0.3

_FP_DUCK = poly_hash_pair("text", "text")[1]
_TG_DUCK = token_ngrams_duck("text", 3)

_DUCK_QUALITY_OK = (
    "len(string_split(text, ' ')) >= 5 AND "
    "length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) "
    "<= len(string_split(text, ' '))"
)


@register(
    "q29_corpus_curation",
    oracle=f"""
    WITH {_DUCK_CAND_CTE},
    feat AS (
      SELECT doc_id, text,
             {_predict_expr(_DUCK_SCORES)} AS predicted_lang,
             {_FP_DUCK} AS content_fp
      FROM documents
      WHERE {_DUCK_QUALITY_OK}
    ),
    survivors AS (
      SELECT doc_id, text, predicted_lang, content_fp FROM (
        SELECT *, row_number() OVER (
          PARTITION BY content_fp ORDER BY doc_id
        ) AS rn FROM feat
      ) WHERE rn = 1
    ),
    tg AS (
      SELECT doc_id, {_TG_DUCK} AS tg FROM documents
      WHERE len(string_split(text, ' ')) >= 3
    ),
    near_drop AS (
      SELECT DISTINCT c.doc_b FROM cand c
      JOIN survivors sa ON sa.doc_id = c.doc_a
      JOIN survivors sb ON sb.doc_id = c.doc_b
      JOIN tg a ON a.doc_id = c.doc_a
      JOIN tg b ON b.doc_id = c.doc_b
      WHERE CAST(len(list_intersect(a.tg, b.tg)) AS DOUBLE)
              / CAST(len(list_distinct(a.tg || b.tg)) AS DOUBLE)
            >= {CURATION_JACCARD}
    )
    SELECT doc_id, predicted_lang, CAST(content_fp AS BIGINT) AS content_fp
    FROM survivors WHERE doc_id NOT IN (SELECT doc_b FROM near_drop)
    """,
    doc="End-to-end corpus curation in one plan: quality gate (q25's "
    "banding rules) → language tag (q24's stopword argmax) → exact dedup "
    "on the content fingerprint (min-doc_id survivor, q27/q20) → near-dup "
    "removal via MinHash band candidates (q22) verified by trigram "
    "Jaccard (q21), dropping the higher doc_id of each verified pair "
    "(greedy by id — deterministic, not transitive clustering). "
    "Composes five already-green operators and is hash-checked "
    "end-to-end; candidates always come from the banded (hot-bucket-"
    "capped) equi-join. This registry entry is the one-lazy-plan form; "
    "``curate(materialize_dir=...)`` is the 100 TB form — each "
    "multi-consumer stage is written to parquet once and re-read, so "
    "the MinHash/fingerprint subtrees execute exactly once (proven by "
    "an accumulator test) and lineage is checkpointed at each stage.",
    tags=("dedup", "text", "composition"),
)
def q29_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    return curate(spark, sf_dir)


# --- stage builders shared by the lazy and materialized forms --------------


def _featurized_survivors(docs: DataFrame) -> DataFrame:
    """Stages A-C: quality gate → language tag → exact dedup (min-doc_id
    survivor per content fingerprint)."""
    n_tokens = F.size(F.split("text", " ")).cast("long")
    n_punct = (
        F.length("text") - F.length(F.regexp_replace("text", r"[.,;:!?]", ""))
    ).cast("long")
    ok = docs.filter((n_tokens >= 5) & (n_punct <= n_tokens)).select(
        "doc_id",
        "text",
        F.expr(_predict_expr(_SPARK_SCORES)).alias("predicted_lang"),
    )
    feat = ok.join(
        fingerprint_pandas(docs).select("doc_id", "content_fp"), "doc_id"
    )
    w = Window.partitionBy("content_fp").orderBy("doc_id")
    return (
        feat.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def _survivor_candidates(docs: DataFrame, survivors: DataFrame) -> DataFrame:
    """Stage D: MinHash band candidates restricted to surviving docs."""
    surv_ids = survivors.select("doc_id")
    return (
        minhash_candidates(docs)
        .select("doc_a", "doc_b")
        .join(surv_ids.withColumnRenamed("doc_id", "doc_a"), "doc_a", "left_semi")
        .join(surv_ids.withColumnRenamed("doc_id", "doc_b"), "doc_b", "left_semi")
    )


def _verified_pairs(cand: DataFrame, docs: DataFrame) -> DataFrame:
    """Stage E: trigram-Jaccard verification of the candidate pairs."""
    texts = docs.filter(F.size(F.split("text", " ")) >= 3)
    return (
        jaccard_pairs(pair_sides(cand, texts, "text"))
        .filter(F.col("jaccard") >= CURATION_JACCARD)
        .select("doc_a", "doc_b")
    )


def _verified_near_drop(cand: DataFrame, docs: DataFrame) -> DataFrame:
    """Greedy drop set: the higher doc_id of each verified pair (q29's
    documented, deterministic-but-not-transitive rule; q61 is the
    transitive form)."""
    return _verified_pairs(cand, docs).select(F.col("doc_b").alias("doc_id")).distinct()


def curate(
    spark: SparkSession,
    sf_dir: str,
    materialize_dir: str | None = None,
) -> DataFrame:
    """Corpus curation, lazily composed or stage-materialized.

    With ``materialize_dir=None`` the whole pipeline is ONE lazy plan —
    correct, but multi-consumer stages re-execute per consumer:
    ``survivors`` feeds the two candidate semi-joins AND the final
    output, so the quality/lang/fingerprint subtree runs three times (at
    sf0.1 that doubles a 2 s query; at 100 TB it re-runs the MinHash
    stage over the corpus — a scale-killer).

    With ``materialize_dir`` set, each multi-consumer stage is written to
    parquet ONCE and re-read by its consumers — the stage-boundary
    materialization the retail pipeline driver does, which also
    checkpoints lineage (an executor loss replays a parquet read, not the
    signature computation). Tests prove single execution by counting
    calls of the per-document signature kernels, and result equality
    with the lazy form.
    """
    docs = load_table(spark, sf_dir, "documents")
    if materialize_dir is None:
        # survivors feeds BOTH candidate semi-joins and the final
        # left_anti — three executions of the quality/lang/fingerprint
        # subtree in one lazy plan. An in-DAG persist was re-A/B'd in
        # round 13 (verdict item 7) and REJECTED on measurement, both
        # full-width and narrowed to (doc_id, predicted_lang,
        # content_fp): paired alternating reps read nopersist ~2.3-2.5 s
        # vs persist ~3.3-4.5 s (full) / ~3.0-4.5 s (narrow) at sf0.1 —
        # the materialization barrier + cache write costs more than two
        # re-executions of the cheap subtree. The 100 TB answer remains
        # ``materialize_dir`` (each stage written once to parquet),
        # which q29's registered twin covers.
        survivors = _featurized_survivors(docs)
        cand = _survivor_candidates(docs, survivors)
        near_drop = _verified_near_drop(cand, docs)
        return survivors.join(near_drop, "doc_id", "left_anti").select(
            "doc_id", "predicted_lang", "content_fp"
        )

    survivors = write_parquet(
        _featurized_survivors(docs),
        fs.join(materialize_dir, "survivors"),
    )
    cand = write_parquet(
        _survivor_candidates(docs, survivors),
        fs.join(materialize_dir, "candidates"),
    )
    near_drop = _verified_near_drop(cand, docs)
    return survivors.join(near_drop, "doc_id", "left_anti").select(
        "doc_id", "predicted_lang", "content_fp"
    )


@register(
    "q61_curation_transitive",
    oracle=f"""
    WITH RECURSIVE {_DUCK_CAND_CTE},
    feat AS (
      SELECT doc_id, text,
             {_predict_expr(_DUCK_SCORES)} AS predicted_lang,
             {_FP_DUCK} AS content_fp
      FROM documents
      WHERE {_DUCK_QUALITY_OK}
    ),
    survivors AS (
      SELECT doc_id, text, predicted_lang, content_fp FROM (
        SELECT *, row_number() OVER (
          PARTITION BY content_fp ORDER BY doc_id
        ) AS rn FROM feat
      ) WHERE rn = 1
    ),
    tg AS (
      SELECT doc_id, {_TG_DUCK} AS tg FROM documents
      WHERE len(string_split(text, ' ')) >= 3
    ),
    verified AS (
      SELECT c.doc_a, c.doc_b FROM cand c
      JOIN survivors sa ON sa.doc_id = c.doc_a
      JOIN survivors sb ON sb.doc_id = c.doc_b
      JOIN tg a ON a.doc_id = c.doc_a
      JOIN tg b ON b.doc_id = c.doc_b
      WHERE CAST(len(list_intersect(a.tg, b.tg)) AS DOUBLE)
              / CAST(len(list_distinct(a.tg || b.tg)) AS DOUBLE)
            >= {CURATION_JACCARD}
    ),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM verified
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM verified
    ),
    reach(doc_id, label) AS (
      SELECT doc_id, doc_id FROM survivors
      UNION
      SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.doc_id
    ),
    comp AS (
      SELECT doc_id, MIN(label) AS component_id FROM reach GROUP BY doc_id
    )
    SELECT s.doc_id, s.predicted_lang, CAST(s.content_fp AS BIGINT) AS content_fp
    FROM survivors s
    JOIN comp ON comp.doc_id = s.doc_id AND comp.component_id = s.doc_id
    """,
    doc="q29 with the drop set done RIGHT: instead of greedily dropping "
    "the higher id of each verified pair (which can keep both A and C of "
    "an A~B~C chain), near-dup clusters are the connected components of "
    "the verified-pair graph among exact-dedup survivors "
    "(operators.graph min-label propagation), and exactly the min-id "
    "member of each component survives. Every chain keeps ONE canonical "
    "doc. Oracle: DuckDB WITH RECURSIVE reachability twin — the "
    "iterative join loop is value-checked end-to-end.",
    tags=("dedup", "text", "composition", "graph", "iterative"),
)
def q61_curation_transitive(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import connected_components

    docs = load_table(spark, sf_dir, "documents")
    # survivors feeds the candidate semi-joins, the CC node set, AND the
    # final output; this query is already action-ful (the CC loop runs
    # jobs), so materialize the narrow survivor frame once instead of
    # re-executing the fingerprint subtree per consumer — the in-plan
    # analogue of curate(materialize_dir=...)'s parquet stage boundary.
    survivors = _featurized_survivors(docs).localCheckpoint(eager=True)
    cand = _survivor_candidates(docs, survivors)
    verified = _verified_pairs(cand, docs)
    comps = connected_components(
        survivors.select("doc_id"),
        verified,
        id_col="doc_id",
        src_col="doc_a",
        dst_col="doc_b",
    )
    keep = comps.filter(F.col("id") == F.col("component_id")).select(
        F.col("id").alias("doc_id")
    )
    return survivors.join(keep, "doc_id", "left_semi").select(
        "doc_id", "predicted_lang", "content_fp"
    )


SOURCE_DOC_CAP = 50


@register(
    "q93_source_doc_cap",
    oracle=f"""
    SELECT doc_id, source, n_chars, CAST(rnk AS INTEGER) AS rnk
    FROM (
      SELECT doc_id, source, n_chars,
             ROW_NUMBER() OVER (
               PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rnk
      FROM documents
    )
    WHERE rnk <= {SOURCE_DOC_CAP}
    """,
    doc="Per-source document cap: keep at most N documents per source, "
    "preferring longer ones (n_chars DESC, doc_id tiebreak) — the "
    "host-level cap Common-Crawl-style pipelines apply so no single "
    "domain dominates the training mix (the provenance analogue of "
    "q75's language temperature mixing). One window shuffle keyed on "
    "source; output is bounded at sources x cap regardless of input "
    "size. Hot-source skew makes the per-partition sort the cost "
    "center at 100 TB — the same observability/capping discipline as "
    "q59 applies, and a two-phase form (per-partition top-N, then "
    "merge) drops in via the same rank semantics if a source outgrows "
    "an executor.",
    tags=("curation", "mixing"),
)
def q93_source_doc_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return (
        docs.select("doc_id", "source", "n_chars")
        .withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= SOURCE_DOC_CAP)
    )


@register(
    "q140_curation_mix_shift",
    # q29's full oracle is spliced in as the survivor set — the mix report
    # audits the exact curation it ships with, not a re-derivation.
    oracle=f"""
    WITH survivors AS ({oracle_of("q29_corpus_curation")}),
    before AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_before
      FROM documents GROUP BY source
    ),
    after AS (
      SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_after
      FROM survivors s JOIN documents d ON d.doc_id = s.doc_id
      GROUP BY d.source
    ),
    tot AS (
      SELECT (SELECT SUM(n_before) FROM before) AS t_before,
             (SELECT SUM(n_after) FROM after) AS t_after
    )
    SELECT b.source, b.n_before,
           COALESCE(a.n_after, 0) AS n_after,
           CAST((b.n_before * 1000000) // t.t_before AS BIGINT)
               AS share_before_ppm,
           CAST((COALESCE(a.n_after, 0) * 1000000) // t.t_after AS BIGINT)
               AS share_after_ppm,
           CAST((COALESCE(a.n_after, 0) * 1000000) // t.t_after
                - (b.n_before * 1000000) // t.t_before AS BIGINT)
               AS shift_ppm
    FROM before b LEFT JOIN after a ON a.source = b.source
    CROSS JOIN tot t
    """,
    doc="Curation mix-shift report: each source's share of the corpus "
    "BEFORE and AFTER the full curation pipeline (q29's survivors, "
    "oracle spliced verbatim), with the shift in exact integer ppm — "
    "the audit that catches a quality/dedup stack quietly reweighting "
    "the data mixture (a filter that's 'neutral' per document but "
    "correlates with source kills diversity silently; mixture design "
    "(q75/q102) assumes this report is flat unless chosen otherwise). "
    "Scale shape: two source-keyed aggregates (the after-side joins "
    "survivors back to source on co-partitioned doc_id), totals as "
    "1-row broadcasts; output is source-count-sized.",
    tags=("text", "curation", "governance", "profiling"),
)
def q140_curation_mix_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    survivors = curate(spark, sf_dir).select("doc_id")
    before = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_before")
    )
    after = (
        survivors.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("n_after"))
    )
    t_before = before.agg(F.sum("n_before").alias("t_before"))
    t_after = after.agg(F.sum("n_after").alias("t_after"))
    joined = (
        before.join(after, "source", "left")
        .na.fill({"n_after": 0})
        .crossJoin(F.broadcast(t_before))
        .crossJoin(F.broadcast(t_after))
    )
    share_b = F.expr("(n_before * 1000000) div t_before")
    share_a = F.expr("(n_after * 1000000) div t_after")
    return joined.select(
        "source",
        "n_before",
        "n_after",
        share_b.cast("long").alias("share_before_ppm"),
        share_a.cast("long").alias("share_after_ppm"),
        (share_a - share_b).cast("long").alias("shift_ppm"),
    )


# ---------------------------------------------------------------------------
# Token-budget greedy selection (q237): the budgeted-curation primitive
# — each source gets a fixed token budget, and the pipeline keeps the
# best documents (longest here; any score column composes) until the
# budget is exhausted. This is how a target-sized training mix is
# actually cut from an oversized curated pool: the mixing weights
# (q75/q102) decide per-source budgets, this operator realizes them as
# a concrete document list. Greedy-prefix-by-quality is the exact
# solution of the knapsack relaxation when every doc's value/cost
# ratio IS the quality ordering — the standard curation form.

TOKEN_BUDGET_PER_SOURCE = 5_000


@register(
    "q237_token_budget_selection",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, source,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    ranked AS (
      SELECT doc_id, source, n_tokens,
             SUM(n_tokens) OVER (
               PARTITION BY source
               ORDER BY n_tokens DESC, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS cum_tokens
      FROM d
    )
    SELECT doc_id, source, n_tokens,
           CAST(cum_tokens AS BIGINT) AS cum_tokens
    FROM ranked
    WHERE cum_tokens <= {TOKEN_BUDGET_PER_SOURCE}
    """,
    doc="Greedy token-budget selection: per source, keep documents in "
    "quality order (longest-first here — any score column slots in, "
    "ties by doc_id so the cut is deterministic) while the running "
    f"token total stays within {TOKEN_BUDGET_PER_SOURCE} tokens — the "
    "operator that realizes per-source mixing budgets (q75/q102) as a "
    "concrete document list when the curated pool is bigger than the "
    "training target. The prefix rule is the exact greedy knapsack "
    "relaxation under the quality ordering, and the SEMANTICS make "
    "overshoot impossible: cum_tokens <= budget admits a doc only if "
    "it fits entirely. Scale shape: one shuffle on source, one "
    "running-sum window per source partition (the q116 NTILE "
    "precedent; a single pathological source would switch to the "
    "q235 histogram-CDF cut at a token threshold instead of an exact "
    "prefix). Output is budget-bounded per source — at most "
    "budget/min_doc_tokens rows each — regardless of corpus size.",
    tags=("curation", "mixing", "window"),
)
def q237_token_budget_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources import load_table

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.expr("CAST(size(split(text, ' ')) AS BIGINT)").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy(F.desc("n_tokens"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    ranked = d.select(
        "doc_id", "source", "n_tokens",
        F.sum("n_tokens").over(w).alias("cum_tokens"),
    )
    return ranked.filter(
        F.col("cum_tokens") <= TOKEN_BUDGET_PER_SOURCE
    )
