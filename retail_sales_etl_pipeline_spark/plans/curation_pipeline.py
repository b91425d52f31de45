"""Corpus-curation driver: the 100 TB form of ``curate`` run as a PIPELINE
(stage-materialized parquet + metrics logging), mirroring the retail ETL
driver (plans/retail_pipeline.py) — not just the lazily-composed registry
query (q29/q61).

Stage boundaries are parquet writes: each multi-consumer frame (featurized
survivors, LSH candidates) is computed ONCE, checkpointing lineage — an
executor loss replays a parquet read, not the MinHash signature pass over
the corpus. Per-stage row counts land in the same append-only
``stage_metrics`` / ``pipeline_runs`` logs the retail driver writes
(reference metadata_tracker.py pattern), so a 100 TB run is observable:
every curation decision (quality drop, exact-dup drop, near-dup drop) is a
numbered row, never a silent truncation.

Run from the CLI:
    python -m retail_sales_etl_pipeline_spark.plans.curation_pipeline \
        [sf_dir] [out_dir]
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.clean import StageMetric
from ..sources import fs, load_table
from . import metadata
from .checkpoint import read_checkpoint, write_parquet
from .curation_queries import curate
from .stage_policy import StageAttempt, StagePolicy, run_stage

__all__ = ["CurationResult", "run", "export_training_shards"]


@dataclass
class CurationResult:
    raw_docs: int
    exact_survivors: int
    lsh_candidates: int
    near_drop: int
    final_docs: int
    run_id: int = 0
    stage_metrics: list[StageMetric] = field(default_factory=list)
    stage_attempts: list[StageAttempt] = field(default_factory=list)


def run(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    policy: StagePolicy = StagePolicy(),
) -> CurationResult:
    """Materialized curation end-to-end: stages under ``out_dir``/stages,
    final corpus at ``out_dir``/corpus, metrics logs next to them.

    Every heavyweight stage runs under ``policy`` (default: the
    reference's 15-minute timeout / 2 retries, dag1_ingest_csv.py:20-22)
    via plans.stage_policy.run_stage — a hung stage is cancelled through
    its Spark job group, a transient failure is retried, and every
    attempt lands in the ``stage_attempts`` log. Stage thunks are
    overwrite-mode writes, so replays are idempotent. A failed run, with
    its attempt history, is recorded before its error propagates."""
    with metadata.recorded_run(spark, out_dir, "corpus_curation") as rec:
        rec.notes = f"sf_dir={sf_dir}"
        stages_dir = fs.join(out_dir, "stages")

        # curate() writes survivors + candidates parquet under stages_dir and
        # returns the final frame reading FROM those stage files.
        corpus = run_stage(
            spark, "curate_materialize",
            lambda: write_parquet(curate(spark, sf_dir, materialize_dir=stages_dir),
                                  fs.join(out_dir, "corpus")),
            policy, attempts_out=rec.attempts,
        )

        # Components materialized ONCE as a numbered stage (the q155 shape):
        # every downstream consumer — size histogram, component-keyed split,
        # leakage audit, drop lists — reads this parquet instead of re-running
        # the LSH -> verify -> CC ladder. The split frame is written next to
        # the corpus so trainers consume it directly.
        from .dedup_queries import component_rollup, q60_neardup_components

        comp = run_stage(
            spark, "neardup_components",
            lambda: write_parquet(q60_neardup_components(spark, sf_dir),
                                  fs.join(stages_dir, "components")),
            policy, attempts_out=rec.attempts,
        )
        run_stage(
            spark,
            "component_split_write",
            lambda: component_rollup(comp)
            .write.mode("overwrite")
            .parquet(fs.join(out_dir, "splits")),
            policy,
            attempts_out=rec.attempts,
        )
        # One action reads back every stage's size: the input docs, the three
        # materialized stages, and the components' docs and distinct labels.
        stages = {
            "raw_docs": load_table(spark, sf_dir, "documents"),
            "survivors": read_checkpoint(spark, fs.join(stages_dir, "survivors")),
            "candidates": read_checkpoint(spark, fs.join(stages_dir, "candidates")),
            "corpus": corpus,
            "comp_docs": comp,
        }
        no_label = F.lit(None).cast("long").alias("component_id")
        sizes = reduce(DataFrame.union, [
            df.select(F.lit(name).alias("t"), "component_id" if df is comp else no_label)
            for name, df in stages.items()
        ]).agg(
            *[F.count_if(F.col("t") == name).alias(name) for name in stages],
            F.count_distinct("component_id").alias("components"),
        ).collect()[0]
        raw_docs, exact_survivors, lsh_candidates, final_docs, n_comp_docs = (
            sizes[name] for name in stages
        )
        rec.rows_processed, rec.rows_loaded = raw_docs, final_docs
        rec.metrics = [
            StageMetric("quality_exact_dedup", raw_docs, exact_survivors),
            StageMetric("lsh_candidates", exact_survivors, lsh_candidates),
            StageMetric("neardup_verify_drop", exact_survivors, final_docs),
            StageMetric("neardup_components", n_comp_docs, sizes["components"]),
        ]

    return CurationResult(
        raw_docs=raw_docs,
        exact_survivors=exact_survivors,
        lsh_candidates=lsh_candidates,
        # near-drop = survivors that did not reach the final corpus (the
        # verified near-dup drop set): derivable from materialized stages, no
        # re-execution of the verify join.
        near_drop=exact_survivors - final_docs,
        final_docs=final_docs,
        run_id=rec.run_id,
        stage_metrics=rec.metrics,
        stage_attempts=rec.attempts,
    )


def export_training_shards(
    spark: SparkSession, sf_dir: str, corpus_path: str, export_dir: str
) -> DataFrame:
    """Package the curated corpus as a training-data release: content-hash
    sharding (q76's rule — deterministic, rebuild-stable), a
    ``partitionBy(shard_id)`` parquet layout so a trainer reads one shard
    per worker with partition pruning, and a manifest parquet recording
    per-shard doc/token counts — the release is self-describing, and a
    consumer can verify the manifest against the files (the test does).

    Returns the manifest frame. Scale shape: one join back to the source
    for text (co-partitioned on doc_id), one map-side shard assignment,
    one distributed write; the manifest is a shard-count-sized aggregate
    computed FROM the written files, so it attests what is actually on
    disk, not what the plan intended."""
    from .mixing_queries import N_SHARDS, SHARD_A, SHARD_B  # noqa: F401

    corpus = spark.read.parquet(corpus_path)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    shards_path = fs.join(export_dir, "shards")
    manifest_path = fs.join(export_dir, "manifest")
    (
        corpus.join(docs, "doc_id")
        .select(
            "doc_id",
            "predicted_lang",
            "source",
            "text",
            F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
            ((F.lit(SHARD_A) * F.col("content_fp") + F.lit(SHARD_B)) % N_SHARDS)
            .cast("long")
            .alias("shard_id"),
        )
        .write.partitionBy("shard_id")
        .mode("overwrite")
        .parquet(shards_path)
    )
    manifest = (
        spark.read.parquet(shards_path)
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
        )
    )
    manifest.write.mode("overwrite").parquet(manifest_path)
    return spark.read.parquet(manifest_path)


def dsir_selection_stage(
    spark: SparkSession,
    sf_dir: str,
    corpus_path: str,
    out_path: str,
    keep_ppm: int = 500_000,
) -> dict:
    """DSIR selection over a curated corpus — the 'pick the raw-web docs
    that look like the curated target' stage that follows dedup in a
    training-data pipeline (clean -> dedup -> SELECT -> pack/export).

    Importance models are fit on the FULL document set (q158 semantics:
    target = DSIR_TARGET sources, raw = everything else — the paper fits
    on the raw pool, selection then applies wherever you like); scoring
    is restricted to the corpus at ``corpus_path`` (any parquet carrying
    ``doc_id``). The top ``keep_ppm``-millionths of the corpus's
    CANDIDATE docs by importance weight are kept, by exact deterministic
    rank (weight desc, doc_id tiebreak); corpus docs from the target
    domain itself are always kept (they define the target) with NULL
    weight. Output parquet: (doc_id, logw_micronat).

    Scale shape: model fitting is q158's (map-side bucket folding,
    broadcast B-row model, doc-grain aggregate); the top-fraction rank is
    ONE total-order sort of doc-grain scalars (~16 B per doc — at 10^9
    docs that is a ~16 GB sort of ids and weights, not of content),
    which is exactly what a production selection run pays."""
    from pyspark.sql import Window

    from .mixing_queries import DSIR_TARGET, dsir_scores

    corpus_ids = spark.read.parquet(corpus_path).select("doc_id")
    docs = load_table(spark, sf_dir, "documents")
    scores = dsir_scores(docs)
    cand = corpus_ids.join(scores, "doc_id")
    n_corpus, n_cand = corpus_ids.join(
        scores.select("doc_id", F.lit(1).alias("scored")), "doc_id", "left"
    ).agg(F.count(F.lit(1)), F.count("scored")).collect()[0]
    k = n_cand * keep_ppm // 1_000_000
    w = Window.orderBy(F.col("logw_micronat").desc(), "doc_id")
    kept_cand = (
        cand.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("doc_id", "logw_micronat")
    )
    target_kept = (
        corpus_ids.join(
            docs.filter(F.col("source").isin(*DSIR_TARGET)).select("doc_id"),
            "doc_id",
        ).select("doc_id", F.lit(None).cast("long").alias("logw_micronat"))
    )
    written = write_parquet(kept_cand.unionByName(target_kept), out_path)
    n_written, n_target = written.agg(
        F.count(F.lit(1)), F.count_if(F.col("logw_micronat").isNull())
    ).collect()[0]
    return {
        "n_corpus": n_corpus,
        "n_candidates": n_cand,
        "k_selected": k,
        "n_target_kept": n_target,
        "n_written": n_written,
    }


def _main() -> None:
    import sys

    from ..session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/curation_warehouse"
    spark = get_spark("curation-pipeline")
    res = run(spark, sf_dir, out_dir)
    print(
        f"curation: {res.raw_docs} docs -> {res.exact_survivors} after "
        f"quality+exact dedup -> {res.final_docs} final "
        f"({res.near_drop} near-dups dropped from {res.lsh_candidates} "
        f"LSH candidates); run_id={res.run_id} out={out_dir}"
    )


if __name__ == "__main__":
    _main()
