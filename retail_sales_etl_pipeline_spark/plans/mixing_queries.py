"""Corpus composition queries: semantic dedup (SemDeDup), temperature-based
source/language mixing, and token-budget shard packing — the "what goes in
the training run, and in what proportions" tail of a data pipeline, after
cleaning (q01/q25), dedup (q20-q23), and curation (q29/q61).

All three are deterministic and fully SQL-expressible, so each carries a
bit-exact DuckDB oracle:

- pair cosines are index-ordered double folds (bit-identical cross-engine,
  the q30 convention) rounded only at the output edge;
- sampling decisions come from affine transforms of the content hash
  (the q58 convention) — never rand(), so mixtures are reproducible
  across runs, partitionings, and cluster sizes;
- keep-rates are exact integer percents computed from corpus counts, so
  the mixture itself is hash-checkable, not just its mechanics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.similarity import dot_pair, norm_pair
from ..operators.text import poly_hash_pair
from ..sources import load_table
# q235 splices q88's registered oracle; import the module that registers it
from . import text_queries as _text_queries  # noqa: F401
from .registry import oracle_of, register

# SemDeDup (Abbas et al. 2023, arXiv:2303.09540): k-means-cluster the
# embedding space, then search for near-duplicates ONLY within a cluster —
# the quadratic pair work drops from N^2 to sum(n_i^2), and at 100 TB the
# cluster count scales with the corpus (k ~ N/target_cluster_size) so n_i
# stays bounded. Centroids here are the fixed bootstrap set (vec_id <
# SEM_K, the q31/q38a convention) to keep the whole query one
# deterministic, oracle-checkable plan; the trained-centroid form swaps in
# operators.kmeans.kmeans_fit.
SEM_K = 16
SEMDEDUP_COS = 0.35
# Per-cluster member cap for the pair join (the LSH_MAX_BUCKET convention:
# no pair join in this engine may go quadratic on degenerate data). Members
# are ranked by vec_id within their cluster; only the first SEM_MAX_CLUSTER
# participate in pairing, so pair work is bounded by k * cap^2 even if
# every embedding collapses into one cluster. Observed max cluster: 42 at
# sf0.01, 148 at sf0.1 — 256 is a no-op at test scale, the oracle mirrors
# it, and tests/test_degenerate_corpus.py proves the bound bites when it
# must. (In production SemDeDup the cluster count scales with the corpus,
# which bounds n_i statistically; the cap is the deterministic backstop.)
SEM_MAX_CLUSTER = 256

# Temperature mixing (multilingual-sampling convention, e.g. mT5/UniMax):
# p_lang ∝ share^ALPHA with ALPHA < 1 upweights tail languages. Keep-rates
# are computed IN the query from observed counts — integer percents, exact
# in both engines: rate_l = floor(100 * (min_share/share_l)^(1-ALPHA)) via
# integer sqrt since ALPHA = 0.5 (avoids cross-engine pow()).
MIX_SALT_A, MIX_SALT_B = 735816943, 418529671

# Shard packing: fixed shard count, content-hash assignment. At 100 TB
# shards are written by a partitionBy on shard_id; the query reports the
# per-shard doc/token load so imbalance is observable, never silent.
N_SHARDS = 8
SHARD_A, SHARD_B = 592821581, 133292681

_DOT_S, _DOT_D = dot_pair("a.emb", "b.emb")
_NORM_S, _NORM_D = norm_pair("embedding")
_HASH_SPARK, _HASH_DUCK = poly_hash_pair("text", "text")


@register(
    "q74_semantic_neardup",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, embedding::DOUBLE[] AS emb, {_NORM_D} AS nrm
      FROM embeddings
    ),
    cents AS (SELECT * FROM v WHERE vec_id < {SEM_K}),
    assign AS (
      SELECT a.vec_id, a.emb, a.nrm, b.vec_id AS centroid_id
      FROM (
        SELECT a.vec_id, b.vec_id AS bid,
               ROW_NUMBER() OVER (
                 PARTITION BY a.vec_id
                 ORDER BY {_DOT_D} / (a.nrm * b.nrm) DESC, b.vec_id
               ) AS rnk
        FROM v a CROSS JOIN cents b
      ) r JOIN v a USING (vec_id) JOIN cents b ON b.vec_id = r.bid
      WHERE r.rnk = 1
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY centroid_id ORDER BY vec_id) AS mrank
      FROM assign
    ),
    drops AS (
      SELECT DISTINCT b.vec_id
      FROM ranked a JOIN ranked b
        ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
      WHERE a.mrank <= {SEM_MAX_CLUSTER} AND b.mrank <= {SEM_MAX_CLUSTER}
        AND {_DOT_D} / (a.nrm * b.nrm) >= {SEMDEDUP_COS}
    )
    SELECT a.vec_id, CAST(a.centroid_id AS BIGINT) AS centroid_id,
           a.vec_id NOT IN (SELECT vec_id FROM drops) AS kept
    FROM assign a
    """,
    doc="SemDeDup semantic near-dup removal (arXiv:2303.09540): assign "
    "every embedding to its max-cosine centroid (broadcast "
    f"{SEM_K}-centroid set, map-side max_by — no N*K window shuffle), "
    "then compute pair cosines ONLY within a cluster and drop the higher "
    "vec_id of any pair above the threshold (greedy rule; q66 is the "
    "transitive-components form). Scale shape: the pair join keys on "
    "centroid_id so work is sum(n_i^2) not N^2; k grows with the corpus "
    "to bound n_i statistically, and the deterministic backstop is the "
    f"{SEM_MAX_CLUSTER}-member per-cluster pairing cap (vec_id-ranked, "
    "mirrored in the oracle — the LSH hot-bucket convention, so one "
    "degenerate cluster can never go quadratic). Dots are index-ordered "
    "folds, bit-identical cross-engine.",
    tags=("similarity", "dedup", "mixing"),
)
def q74_semantic_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("emb"),
        F.expr(_NORM_S).alias("nrm"),
    )
    cents = v.filter(F.col("vec_id") < SEM_K)
    a, b = v.alias("a"), F.broadcast(cents).alias("b")
    cos = F.expr(_DOT_S) / (F.col("a.nrm") * F.col("b.nrm"))
    scored = a.join(b).select(
        F.col("a.vec_id").alias("vec_id"),
        F.col("b.vec_id").alias("cid"),
        cos.alias("cos_c"),
    )
    # map-side partial max_by; ties -> lowest centroid id (q31 shape)
    assign = scored.groupBy("vec_id").agg(
        F.max_by("cid", F.struct(F.col("cos_c"), (-F.col("cid")).alias("nid")))
        .alias("centroid_id")
    )
    wm = Window.partitionBy("centroid_id").orderBy("vec_id")
    member = (
        assign.join(v, "vec_id")
        .withColumn("mrank", F.row_number().over(wm))
        .filter(F.col("mrank") <= SEM_MAX_CLUSTER)
        .drop("mrank")
    )
    pa = member.alias("a")
    pb = member.alias("b")
    pair_cos = F.expr(_DOT_S) / (F.col("a.nrm") * F.col("b.nrm"))
    drops = (
        pa.join(
            pb,
            (F.col("a.centroid_id") == F.col("b.centroid_id"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .filter(pair_cos >= SEMDEDUP_COS)
        .select(F.col("b.vec_id").alias("vec_id"))
        .distinct()
    )
    return assign.join(drops.withColumn("dropped", F.lit(True)), "vec_id", "left").select(
        "vec_id",
        F.col("centroid_id").cast("long").alias("centroid_id"),
        F.coalesce(~F.col("dropped"), F.lit(True)).alias("kept"),
    )


@register(
    "q75_temperature_mixing",
    oracle=f"""
    WITH h AS (
      SELECT doc_id, lang, {_HASH_DUCK} AS key_hash FROM documents
    ),
    counts AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n FROM h GROUP BY lang),
    mn AS (SELECT MIN(n) AS min_n FROM counts),
    rates AS (
      -- alpha = 0.5: keep_pct_l = floor(100 * sqrt(min_n / n_l)) as an
      -- exact integer: isqrt(10000 * min_n / n_l) in integer arithmetic.
      SELECT lang, n,
             CAST(FLOOR(SQRT(CAST((10000 * min_n) // n AS DOUBLE))) AS BIGINT)
                 AS keep_pct
      FROM counts CROSS JOIN mn
    ),
    kept AS (
      SELECT h.lang, h.doc_id
      FROM h JOIN rates USING (lang)
      WHERE ({MIX_SALT_A} * key_hash + {MIX_SALT_B}) % 100 < keep_pct
    )
    SELECT r.lang, r.n AS n_before, r.keep_pct,
           CAST(COUNT(k.doc_id) AS BIGINT) AS n_after
    FROM rates r LEFT JOIN kept k ON k.lang = r.lang
    GROUP BY r.lang, r.n, r.keep_pct
    """,
    doc="Temperature-based language mixing (the mT5/UniMax sampling "
    "family, alpha=0.5): downsample overrepresented languages to "
    "keep_pct = floor(100*sqrt(min_share/share)), with the keep decision "
    "a salted affine transform of the content hash — deterministic, "
    "content-stable, partition-independent (q58's convention; different "
    "salt, so mixing composes with sampling without correlation). "
    "keep_pct stays in exact integer arithmetic (integer-div then sqrt "
    "of a perfect representable double) so both engines agree "
    "bit-for-bit. Scale shape: one vocab-sized count agg broadcast back "
    "onto a map-side filter — the corpus is never shuffled.",
    tags=("text", "mixing"),
)
def q75_temperature_mixing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import fingerprint_pandas

    docs = load_table(spark, sf_dir, "documents")
    h = docs.select("doc_id", "lang").join(
        fingerprint_pandas(docs).select(
            "doc_id", F.col("content_fp").alias("key_hash")
        ),
        "doc_id",
    )
    counts = h.groupBy("lang").agg(F.count(F.lit(1)).cast("long").alias("n"))
    min_n = counts.agg(F.min("n").alias("min_n"))
    rates = counts.crossJoin(F.broadcast(min_n)).select(
        "lang",
        "n",
        # exact integer division first ((10000*min_n) div n <= 10000, an
        # exactly-representable double), THEN the correctly-rounded sqrt —
        # matches the oracle's // bit-for-bit; a double division here
        # would round before the floor.
        F.floor(F.sqrt(F.expr("(10000 * min_n) div n").cast("double")))
        .cast("long")
        .alias("keep_pct"),
    )
    kept = (
        h.join(F.broadcast(rates), "lang")
        .filter(
            (F.lit(MIX_SALT_A) * F.col("key_hash") + F.lit(MIX_SALT_B)) % 100
            < F.col("keep_pct")
        )
        .select("lang", "doc_id")
    )
    return (
        rates.alias("r")
        .join(kept.alias("k"), "lang", "left")
        .groupBy("lang", "n", "keep_pct")
        .agg(F.count(F.col("k.doc_id")).cast("long").alias("n_after"))
        .select(F.col("lang"), F.col("n").alias("n_before"), "keep_pct", "n_after")
    )


@register(
    "q76_shard_packing",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
             ({SHARD_A} * ({_HASH_DUCK}) + {SHARD_B}) % {N_SHARDS} AS shard_id
      FROM documents
    )
    SELECT CAST(shard_id AS BIGINT) AS shard_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(MAX(n_tokens) AS BIGINT) AS max_doc_tokens
    FROM d GROUP BY shard_id
    """,
    doc=f"Token-budget shard packing: every document lands in one of "
    f"{N_SHARDS} training shards by a salted affine transform of its "
    "content hash — deterministic, partition-independent, and stable "
    "under corpus rebuilds (same doc -> same shard, so shard-level "
    "caching survives re-ingestion). The query reports per-shard doc "
    "count, token load, and the largest document — the no-silent-caps "
    "observability for shard imbalance. Scale shape: map-side hash + "
    f"token count, one {N_SHARDS}-group agg; the production write is "
    "df.write.partitionBy('shard_id') on the same expression. "
    "Expected-token balance is a pytest property "
    "(tests/test_mixing.py), not an assumption.",
    tags=("text", "mixing", "sharding"),
)
def q76_shard_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import fingerprint_pandas

    docs = load_table(spark, sf_dir, "documents")
    d = (
        docs.select("doc_id", F.size(F.split("text", " ")).alias("n_tokens"))
        .join(
            fingerprint_pandas(docs).select(
                "doc_id", F.col("content_fp").alias("key_hash")
            ),
            "doc_id",
        )
        .select(
            "n_tokens",
            ((F.lit(SHARD_A) * F.col("key_hash") + F.lit(SHARD_B)) % N_SHARDS).alias(
                "shard_id"
            ),
        )
    )
    return d.groupBy(F.col("shard_id").cast("long").alias("shard_id")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.max("n_tokens").cast("long").alias("max_doc_tokens"),
    )


SEQ_LEN = 512  # tokens per packed training sequence


@register(
    "q77_sequence_packing",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
             ({SHARD_A} * ({_HASH_DUCK}) + {SHARD_B}) % {N_SHARDS} AS shard_id
      FROM documents
    ),
    pos AS (
      SELECT shard_id, doc_id, n_tokens,
             CAST(COALESCE(SUM(n_tokens) OVER (
               PARTITION BY shard_id ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS BIGINT) AS start_tok
      FROM d
    )
    SELECT CAST(shard_id AS BIGINT) AS shard_id,
           CAST(start_tok // {SEQ_LEN} AS BIGINT) AS seq_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs_starting,
           CAST(SUM(n_tokens) AS BIGINT) AS doc_tokens,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc
    FROM pos
    GROUP BY shard_id, start_tok // {SEQ_LEN}
    """,
    doc=f"GPT-style sequence packing: within each shard, documents are "
    f"laid end-to-end in doc_id order and cut into fixed {SEQ_LEN}-token "
    "training sequences (concat-and-split — documents may straddle a "
    "boundary, the standard pretraining convention). Each doc's start "
    "offset is a running window SUM within its shard; seq_id = "
    f"start_offset div {SEQ_LEN}. Output: per (shard, sequence) the docs "
    "starting there, their token mass, and the first doc id — enough to "
    "reconstruct the packing deterministically. Scale shape: ONE "
    "shuffle+sort keyed on shard_id (packing is inherently sequential "
    "per shard — that's the algorithm, not an accident); shard count "
    "scales with the corpus (q76), bounding per-task sort size; the "
    "output is seq-count-sized, corpus/SEQ_LEN rows.",
    tags=("text", "mixing", "packing"),
)
def q77_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..operators.text import fingerprint_pandas

    docs = load_table(spark, sf_dir, "documents")
    d = (
        docs.select("doc_id", F.size(F.split("text", " ")).alias("n_tokens"))
        .join(
            fingerprint_pandas(docs).select(
                "doc_id", F.col("content_fp").alias("key_hash")
            ),
            "doc_id",
        )
        .select(
            "doc_id",
            "n_tokens",
            ((F.lit(SHARD_A) * F.col("key_hash") + F.lit(SHARD_B)) % N_SHARDS).alias(
                "shard_id"
            ),
        )
    )
    w = (
        Window.partitionBy("shard_id")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    pos = d.withColumn(
        "start_tok", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("long")
    )
    return (
        pos.groupBy(
            F.col("shard_id").cast("long").alias("shard_id"),
            (F.col("start_tok") / SEQ_LEN).cast("long").alias("seq_id"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs_starting"),
            F.sum("n_tokens").cast("long").alias("doc_tokens"),
            F.min("doc_id").cast("long").alias("first_doc"),
        )
    )


# ---------------------------------------------------------------------------
# Semantic benchmark decontamination (q90) — the embedding-space sibling
# of q63's n-gram decontamination: paraphrased or translated benchmark
# leakage carries no shared n-grams, but stays cosine-close in embedding
# space. The published practice (e.g. phi-family "semantic dedup against
# benchmarks", SemDeDup cross-set variant) is exactly a cross-set
# cluster-then-pair scan.
# ---------------------------------------------------------------------------

DECON_SEM_COS = 0.35  # same threshold family as SEMDEDUP_COS


@register(
    "q90_semantic_decontamination",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, embedding::DOUBLE[] AS emb, {_NORM_D} AS nrm
      FROM embeddings
    ),
    cents AS (SELECT * FROM v WHERE vec_id < {SEM_K}),
    assign AS (
      SELECT a.vec_id, a.emb, a.nrm, b.vec_id AS centroid_id
      FROM (
        SELECT a.vec_id, b.vec_id AS bid,
               ROW_NUMBER() OVER (
                 PARTITION BY a.vec_id
                 ORDER BY {_DOT_D} / (a.nrm * b.nrm) DESC, b.vec_id
               ) AS rnk
        FROM v a CROSS JOIN cents b
      ) r JOIN v a USING (vec_id) JOIN cents b ON b.vec_id = r.bid
      WHERE r.rnk = 1
    ),
    bench AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY centroid_id ORDER BY vec_id) AS mrank
      FROM assign WHERE vec_id % 20 = 0
    ),
    train AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY centroid_id ORDER BY vec_id) AS mrank
      FROM assign WHERE vec_id % 20 <> 0
    )
    SELECT a.vec_id AS bench_vec, b.vec_id AS train_vec,
           CAST(a.centroid_id AS BIGINT) AS centroid_id,
           {_DOT_D} / (a.nrm * b.nrm) AS cosine
    FROM bench a JOIN train b ON a.centroid_id = b.centroid_id
    WHERE a.mrank <= {SEM_MAX_CLUSTER} AND b.mrank <= {SEM_MAX_CLUSTER}
      AND {_DOT_D} / (a.nrm * b.nrm) >= {DECON_SEM_COS}
    """,
    doc="Semantic benchmark decontamination — q63's embedding-space "
    "sibling: paraphrased/translated benchmark leakage shares no "
    "n-grams but stays cosine-close, so (benchmark, training) pairs "
    f"with cosine >= {DECON_SEM_COS} are flagged for removal from the "
    "training split. Benchmark split = vec_id % 20 (q63's convention). "
    "Scale shape: both sides are assigned to the broadcast "
    f"{SEM_K}-centroid set map-side (no N*K window shuffle on the "
    "engine side), the cross-set pair join keys on centroid_id — work "
    "is sum(b_i * t_i), never |bench| * |train| — and each side is "
    f"capped at {SEM_MAX_CLUSTER} members per cluster (vec_id-ranked, "
    "mirrored in the oracle; the q74 convention, so one degenerate "
    "cluster can never go quadratic). Dots are index-ordered folds — "
    "bit-identical cross-engine, fully hash-checked.",
    tags=("similarity", "decontamination", "dedup"),
)
def q90_semantic_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("emb"),
        F.expr(_NORM_S).alias("nrm"),
    )
    cents = v.filter(F.col("vec_id") < SEM_K)
    a, b = v.alias("a"), F.broadcast(cents).alias("b")
    cos = F.expr(_DOT_S) / (F.col("a.nrm") * F.col("b.nrm"))
    scored = a.join(b).select(
        F.col("a.vec_id").alias("vec_id"),
        F.col("b.vec_id").alias("cid"),
        cos.alias("cos_c"),
    )
    assign = scored.groupBy("vec_id").agg(
        F.max_by("cid", F.struct(F.col("cos_c"), (-F.col("cid")).alias("nid")))
        .alias("centroid_id")
    )
    member = assign.join(v, "vec_id")
    wm = Window.partitionBy("centroid_id").orderBy("vec_id")

    def side(df: DataFrame) -> DataFrame:
        return (
            df.withColumn("mrank", F.row_number().over(wm))
            .filter(F.col("mrank") <= SEM_MAX_CLUSTER)
            .drop("mrank")
        )

    bench = side(member.filter(F.col("vec_id") % 20 == 0))
    train = side(member.filter(F.col("vec_id") % 20 != 0))
    pair_cos = F.expr(_DOT_S) / (F.col("a.nrm") * F.col("b.nrm"))
    return (
        bench.alias("a")
        .join(train.alias("b"), F.col("a.centroid_id") == F.col("b.centroid_id"))
        .filter(pair_cos >= DECON_SEM_COS)
        .select(
            F.col("a.vec_id").alias("bench_vec"),
            F.col("b.vec_id").alias("train_vec"),
            F.col("a.centroid_id").cast("long").alias("centroid_id"),
            pair_cos.alias("cosine"),
        )
    )


# Epoch upsampling (UniMax-style): repeat small sources up to MAX_EPOCHS
# so every source approaches the largest source's row count; the
# fractional last epoch is a salted content-hash sample (q58/q75
# convention, its own salt so it composes uncorrelated with both).
MAX_EPOCHS = 4
EPOCH_SALT_A, EPOCH_SALT_B = 980411887, 271828183


@register(
    "q102_epoch_upsampling",
    oracle=f"""
    WITH h AS (
      SELECT doc_id, lang, {_HASH_DUCK} AS key_hash FROM documents
    ),
    counts AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n FROM h GROUP BY lang
    ),
    mx AS (SELECT MAX(n) AS max_n FROM counts),
    rates AS (
      SELECT lang, n,
             (LEAST({MAX_EPOCHS} * n, max_n) // n) AS full_copies,
             (100 * (LEAST({MAX_EPOCHS} * n, max_n) % n)) // n AS resid_pct
      FROM counts CROSS JOIN mx
    ),
    copies AS (
      SELECT h.lang, r.n, r.full_copies, r.resid_pct,
             r.full_copies
             + CASE WHEN ({EPOCH_SALT_A} * key_hash + {EPOCH_SALT_B}) % 100
                         < r.resid_pct
                    THEN 1 ELSE 0 END AS c
      FROM h JOIN rates r USING (lang)
    )
    SELECT lang, n AS n_before,
           CAST(full_copies AS BIGINT) AS full_copies,
           CAST(resid_pct AS BIGINT) AS resid_pct,
           CAST(SUM(c) AS BIGINT) AS n_after
    FROM copies GROUP BY lang, n, full_copies, resid_pct
    """,
    doc="Epoch upsampling (the UniMax epoch-capped mixing rule): repeat "
    "each language floor(target/n) times plus a hash-sampled fractional "
    "epoch, where target = min(MAX_EPOCHS*n, max-lang-n) — small "
    "languages approach parity with the largest without exceeding 4 "
    "epochs (repeating data past a few epochs hurts, per the "
    "data-constrained-scaling literature). The repeat is a real "
    "explode(sequence(1, copies)) — the materialized multi-epoch corpus "
    "a trainer consumes — then a per-lang rollup; the oracle computes "
    "the identical counts as SUM(copies). Deterministic: the fractional "
    "keep is a salted affine transform of the content hash, "
    "partition-independent. Scale shape: counts agg is vocab-sized and "
    "broadcast back; the corpus is never shuffled, only fanned out "
    "map-side by at most MAX_EPOCHS+1.",
    tags=("text", "mixing"),
)
def q102_epoch_upsampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import fingerprint_pandas

    docs = load_table(spark, sf_dir, "documents")
    h = docs.select("doc_id", "lang").join(
        fingerprint_pandas(docs).select(
            "doc_id", F.col("content_fp").alias("key_hash")
        ),
        "doc_id",
    )
    counts = h.groupBy("lang").agg(F.count(F.lit(1)).cast("long").alias("n"))
    mx = counts.agg(F.max("n").alias("max_n"))
    rates = counts.crossJoin(F.broadcast(mx)).select(
        "lang",
        "n",
        F.expr(f"least({MAX_EPOCHS} * n, max_n) div n").cast("long").alias(
            "full_copies"
        ),
        F.expr(f"(100 * (least({MAX_EPOCHS} * n, max_n) % n)) div n")
        .cast("long")
        .alias("resid_pct"),
    )
    expanded = (
        h.join(F.broadcast(rates), "lang")
        .withColumn(
            "copies",
            F.col("full_copies")
            + F.when(
                (EPOCH_SALT_A * F.col("key_hash") + EPOCH_SALT_B) % 100
                < F.col("resid_pct"),
                1,
            ).otherwise(0),
        )
        # full_copies >= 1 for every non-empty source, but guard anyway:
        # sequence(1, 0) would DESCEND, not produce an empty array
        .filter(F.col("copies") >= 1)
        .select(
            "lang",
            "n",
            "full_copies",
            "resid_pct",
            F.explode(F.expr("sequence(1, copies)")).alias("epoch"),
        )
    )
    return expanded.groupBy(
        F.col("lang"),
        F.col("n").alias("n_before"),
        "full_copies",
        "resid_pct",
    ).agg(F.count(F.lit(1)).cast("long").alias("n_after"))


# Token-mass importance sampling: keep probability proportional to doc
# length (capped), so sampling docs approximates a UNIFORM sample of
# tokens. Own salt pair — composes with q58/q75/q76 without correlation.
TOKMASS_CAP_TOKENS = 120
TOKMASS_SALT_A, TOKMASS_SALT_B = 614_889_281, 112_272_535


@register(
    "q106_token_mass_sample",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, source,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             {_HASH_DUCK} AS key_hash
      FROM documents WHERE text IS NOT NULL
    ),
    w AS (
      SELECT *,
             CASE WHEN n_tokens >= {TOKMASS_CAP_TOKENS} THEN 1000000
                  ELSE (n_tokens * 1000000) // {TOKMASS_CAP_TOKENS}
             END AS keep_ppm
      FROM d
    )
    SELECT doc_id, source, n_tokens, keep_ppm
    FROM w
    WHERE ({TOKMASS_SALT_A} * key_hash + {TOKMASS_SALT_B}) % 1000000
          < keep_ppm
    """,
    doc="Importance sampling by token mass: each document is kept with "
    "probability proportional to its token count (capped at "
    f"{TOKMASS_CAP_TOKENS}), which makes the document sample an unbiased "
    "approximation of a UNIFORM TOKEN sample — the estimand most corpus "
    "statistics (vocab growth, token-level quality rates) actually need; "
    "uniform doc sampling over-weights short docs' tokens. The keep "
    "decision is a salted affine transform of the content hash against an "
    "integer ppm threshold — deterministic, partition-independent, "
    "integer-exact in both engines, and downstream estimators reweight by "
    "1/keep_ppm (Horvitz-Thompson). Scale shape: pure map-side filter, "
    "no shuffle at all; the same plan at 100 TB is a single scan.",
    tags=("text", "mixing", "sampling"),
)
def q106_token_mass_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import fingerprint_pandas

    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    d = (
        docs.select(
            "doc_id",
            "source",
            F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
        )
        .join(
            fingerprint_pandas(docs).select(
                "doc_id", F.col("content_fp").alias("key_hash")
            ),
            "doc_id",
        )
    )
    keep_ppm = F.when(
        F.col("n_tokens") >= TOKMASS_CAP_TOKENS, F.lit(1_000_000).cast("long")
    ).otherwise(F.expr(f"(n_tokens * 1000000) div {TOKMASS_CAP_TOKENS}"))
    return (
        d.withColumn("keep_ppm", keep_ppm)
        .filter(
            (F.lit(TOKMASS_SALT_A) * F.col("key_hash") + F.lit(TOKMASS_SALT_B))
            % 1_000_000
            < F.col("keep_ppm")
        )
        .select("doc_id", "source", "n_tokens", "keep_ppm")
    )


MINK_K = 20
MINK_SALT_A, MINK_SALT_B = 217_645_199, 964_666_103


@register(
    "q119_min_k_group_sample",
    oracle=f"""
    WITH h AS (
      SELECT doc_id, source,
             ({MINK_SALT_A} * ({_HASH_DUCK}) + {MINK_SALT_B})
               % 1000000007 AS rank_key
      FROM documents
    )
    SELECT doc_id, source, CAST(rnk AS INTEGER) AS rnk
    FROM (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source ORDER BY rank_key, doc_id
             ) AS rnk
      FROM h
    )
    WHERE rnk <= {MINK_K}
    """,
    doc=f"Min-k per-group sampling: each source's {MINK_K} documents with "
    "the smallest salted content-hash rank — the distributed form of "
    "'uniform K docs per stratum' that is deterministic, content-stable "
    "(same docs survive a corpus rebuild or repartition), and mergeable: "
    "min-k sets union-then-truncate across increments, so the sample "
    "maintains itself incrementally (the bottom-k sketch identity). One "
    "shuffle on source; per-group state during the rank is K rows. The "
    "go-to for building fixed-size per-source eval panels and spot-check "
    "samples at 100 TB.",
    tags=("text", "mixing", "sampling"),
)
def q119_min_k_group_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import fingerprint_pandas

    docs = load_table(spark, sf_dir, "documents")
    h = docs.select("doc_id", "source").join(
        fingerprint_pandas(docs).select(
            "doc_id", F.col("content_fp").alias("key_hash")
        ),
        "doc_id",
    )
    ranked = h.select(
        "doc_id",
        "source",
        (
            (F.lit(MINK_SALT_A) * F.col("key_hash") + F.lit(MINK_SALT_B))
            % F.lit(1_000_000_007)
        ).alias("rank_key"),
    )
    w = Window.partitionBy("source").orderBy("rank_key", "doc_id")
    return (
        ranked.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= MINK_K)
        .select("doc_id", "source", "rnk")
    )


@register(
    "q138_packing_efficiency",
    oracle=f"""
    WITH d AS (
      SELECT ({SHARD_A} * ({_HASH_DUCK}) + {SHARD_B}) % {N_SHARDS}
                 AS shard_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    s AS (
      SELECT shard_id, CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
      FROM d GROUP BY shard_id
    )
    SELECT CAST(shard_id AS BIGINT) AS shard_id, total_tokens,
           CAST((total_tokens + {SEQ_LEN} - 1) // {SEQ_LEN} AS BIGINT)
               AS n_sequences,
           CAST(((total_tokens + {SEQ_LEN} - 1) // {SEQ_LEN}) * {SEQ_LEN}
               - total_tokens AS BIGINT) AS padding_tokens,
           CAST((total_tokens * 1000000)
               // (((total_tokens + {SEQ_LEN} - 1) // {SEQ_LEN})
                   * {SEQ_LEN}) AS BIGINT) AS efficiency_ppm
    FROM s
    """,
    doc=f"Packing-efficiency report for the q77 concat-and-split scheme: "
    f"per shard, how many {SEQ_LEN}-token training sequences the token "
    "mass fills, how many pad tokens the final partial sequence costs, "
    "and the fill ratio in exact integer ppm — pad tokens are wasted "
    "FLOPs at training time, so this number is the direct efficiency "
    "bound of the packing stage (dense concatenation wastes only the "
    "final tail per shard; per-DOC padding, the naive alternative, is "
    "what this report exists to argue against). Scale shape: one "
    "shard-keyed aggregate over map-side token counts; output is "
    "shard-count-sized.",
    tags=("text", "mixing", "profiling"),
)
def q138_packing_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import fingerprint_pandas

    docs = load_table(spark, sf_dir, "documents")
    d = (
        docs.select("doc_id", F.size(F.split("text", " ")).alias("n_tokens"))
        .join(
            fingerprint_pandas(docs).select(
                "doc_id", F.col("content_fp").alias("key_hash")
            ),
            "doc_id",
        )
        .select(
            ((F.lit(SHARD_A) * F.col("key_hash") + F.lit(SHARD_B)) % N_SHARDS)
            .cast("long")
            .alias("shard_id"),
            F.col("n_tokens").cast("long").alias("n_tokens"),
        )
    )
    s = d.groupBy("shard_id").agg(
        F.sum("n_tokens").cast("long").alias("total_tokens")
    )
    n_seq = F.expr(f"(total_tokens + {SEQ_LEN} - 1) div {SEQ_LEN}")
    return s.select(
        "shard_id",
        "total_tokens",
        n_seq.cast("long").alias("n_sequences"),
        (n_seq * SEQ_LEN - F.col("total_tokens"))
        .cast("long")
        .alias("padding_tokens"),
        F.expr(
            f"CAST((total_tokens * 1000000) div "
            f"(((total_tokens + {SEQ_LEN} - 1) div {SEQ_LEN}) * {SEQ_LEN}) "
            f"AS LONG)"
        ).alias("efficiency_ppm"),
    )


# DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
# arXiv:2302.03169): score every candidate document by the log importance
# weight log p_target(doc) - log p_raw(doc) under bag-of-hashed-token
# unigram models, then keep the top of the pool. Features are
# poly_hash(token) % DSIR_BUCKETS (the paper's hashed n-gram trick: model
# size fixed at B buckets regardless of vocabulary); both models use
# add-one smoothing p(b) = (cnt_b + 1) / (total + B). Log factors live in
# integer MICRO-NATS (the q72/q73/q88/q105 fixed-point convention —
# floor(ln*1e6 + 0.5) applied only to the <= B distinct counts and the two
# corpus totals), so per-doc weights are exact int64 sums and the whole
# selection is hash-checked end to end.
DSIR_BUCKETS = 4096
DSIR_TARGET = ("src0", "src1")  # the curated target domain
DSIR_K = 100

_DSIR_TGT_IN = ", ".join(f"'{s}'" for s in DSIR_TARGET)
_TOK_H_DUCK = poly_hash_pair("t", "t")[1]


@register(
    "q158_dsir_importance_weights",
    oracle=f"""
    WITH occ AS (
      SELECT doc_id, source, h % {DSIR_BUCKETS} AS bucket,
             CAST(COUNT(*) AS BIGINT) AS occ
      FROM (
        SELECT doc_id, source, unnest(
          list_transform(string_split(text, ' '), t -> {_TOK_H_DUCK})
        ) AS h
        FROM documents
      )
      GROUP BY doc_id, source, bucket
    ),
    counts AS (
      SELECT bucket,
             CAST(COALESCE(SUM(CASE WHEN source IN ({_DSIR_TGT_IN})
                                    THEN occ END), 0) AS BIGINT) AS cnt_t,
             CAST(COALESCE(SUM(CASE WHEN source NOT IN ({_DSIR_TGT_IN})
                                    THEN occ END), 0) AS BIGINT) AS cnt_r
      FROM occ GROUP BY bucket
    ),
    ratio AS (
      SELECT bucket,
             CAST(FLOOR(ln(CAST(cnt_t + 1 AS DOUBLE)) * 1000000.0 + 0.5)
                  AS BIGINT)
             - CAST(FLOOR(ln(CAST(cnt_r + 1 AS DOUBLE)) * 1000000.0 + 0.5)
                    AS BIGINT) AS l_micro
      FROM counts WHERE cnt_r >= 1
    ),
    tot AS (
      SELECT CAST(FLOOR(ln(CAST(SUM(cnt_r) + {DSIR_BUCKETS} AS DOUBLE))
                        * 1000000.0 + 0.5) AS BIGINT)
             - CAST(FLOOR(ln(CAST(SUM(cnt_t) + {DSIR_BUCKETS} AS DOUBLE))
                          * 1000000.0 + 0.5) AS BIGINT) AS c_micro
      FROM counts
    ),
    scored AS (
      SELECT o.doc_id, ANY_VALUE(o.source) AS source,
             CAST(SUM(o.occ) AS BIGINT) AS n_tokens,
             CAST(SUM(o.occ * r.l_micro)
                  + SUM(o.occ) * ANY_VALUE(t.c_micro) AS BIGINT)
                 AS logw_micronat
      FROM occ o JOIN ratio r USING (bucket) CROSS JOIN tot t
      WHERE o.source NOT IN ({_DSIR_TGT_IN})
      GROUP BY o.doc_id
    )
    SELECT doc_id, source, n_tokens, logw_micronat, CAST(rnk AS INTEGER) AS rnk
    FROM (
      SELECT *, ROW_NUMBER() OVER (ORDER BY logw_micronat DESC, doc_id) AS rnk
      FROM scored
    ) WHERE rnk <= {DSIR_K}
    """,
    doc=f"DSIR data selection (Xie et al. 2023, arXiv:2302.03169): rank "
    "every candidate document by its importance weight log p_target - "
    "log p_raw under hashed-unigram bag-of-words models — the standard "
    "'pick raw-web docs that look like the curated target' selection "
    f"step of an LLM data pipeline. Features are poly_hash(token) % "
    f"{DSIR_BUCKETS} (fixed model size regardless of vocabulary), both "
    "models add-one smoothed, and every log factor is held in integer "
    "micro-nats (ln touches only bucket counts and two corpus totals), "
    "so per-doc weights are exact int64 and the top-"
    f"{DSIR_K} selection is fully hash-checked. Scale shape: bucket "
    "counts fold map-side inside the Arrow batch (at most "
    "min(n_tokens, B) rows leave per doc, never one per token "
    "occurrence), the model is <= B rows and broadcast, scoring is one "
    "doc-grain aggregate, and the only wide exchanges carry bucket ids "
    "(B distinct) and doc-grain scalars. Two passes over the corpus "
    "(fit, then score) are inherent to DSIR; at 100 TB the occ stream "
    "is what you'd materialize between them.",
    tags=("mixing", "selection", "pandas-udf"),
)
def q158_dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    scored = dsir_scores(docs)
    w = Window.orderBy(F.col("logw_micronat").desc(), "doc_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= DSIR_K)
        .select("doc_id", "source", "n_tokens", "logw_micronat", "rnk")
    )


def _token_occ(docs: DataFrame) -> DataFrame:
    from ..operators.text import token_bucket_counts_pandas

    return token_bucket_counts_pandas(
        docs.select("doc_id", "source", "text"), DSIR_BUCKETS, keep_col="source"
    )


def dsir_model_frames(
    docs: DataFrame, occ: DataFrame | None = None
) -> tuple[DataFrame, DataFrame]:
    """The fitted DSIR model as two frames: (ratio: bucket, l_micro —
    <= DSIR_BUCKETS rows; tot: one-row c_micro per-token constant).
    Consumed by dsir_scores and exported driver-side for streaming
    serving (streaming.scoring.export_dsir_model)."""
    if occ is None:
        occ = _token_occ(docs)
    is_tgt = F.col("source").isin(*DSIR_TARGET)
    fl6 = lambda c: F.floor(  # noqa: E731
        F.log(c.cast("double")) * 1e6 + F.lit(0.5)
    ).cast("long")
    counts = occ.groupBy("bucket").agg(
        F.coalesce(F.sum(F.when(is_tgt, F.col("occ"))), F.lit(0))
        .cast("long")
        .alias("cnt_t"),
        F.coalesce(F.sum(F.when(~is_tgt, F.col("occ"))), F.lit(0))
        .cast("long")
        .alias("cnt_r"),
    )
    ratio = counts.filter(F.col("cnt_r") >= 1).select(
        "bucket",
        (fl6(F.col("cnt_t") + 1) - fl6(F.col("cnt_r") + 1)).alias("l_micro"),
    )
    tot = counts.agg(
        (
            fl6(F.sum("cnt_r") + DSIR_BUCKETS)
            - fl6(F.sum("cnt_t") + DSIR_BUCKETS)
        ).alias("c_micro")
    )
    return ratio, tot


def dsir_scores(docs: DataFrame) -> DataFrame:
    """(doc_id, source, n_tokens, logw_micronat) for every CANDIDATE doc
    (source outside DSIR_TARGET) — the reusable scoring core of q158, also
    consumed by the curation driver's selection stage
    (plans.curation_pipeline.dsir_selection_stage)."""
    occ = _token_occ(docs)
    ratio, tot = dsir_model_frames(docs, occ=occ)
    is_tgt = F.col("source").isin(*DSIR_TARGET)
    return (
        occ.filter(~is_tgt)
        .join(F.broadcast(ratio), "bucket")
        .groupBy("doc_id")
        .agg(
            F.first("source").alias("source"),
            F.sum("occ").cast("long").alias("n_tokens"),
            F.sum(F.col("occ") * F.col("l_micro")).cast("long").alias("sum_l"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            "source",
            "n_tokens",
            (F.col("sum_l") + F.col("n_tokens") * F.col("c_micro"))
            .cast("long")
            .alias("logw_micronat"),
        )
    )


# ---------------------------------------------------------------------------
# Systematic (low-variance) resampling by token mass (q206): the third
# sampling discipline next to Bernoulli keep-probability (q106) and
# min-k per-group (q119). Systematic sampling lays RESAMPLE_N equally-
# spaced points over the cumulative token-mass axis and assigns each
# document the number of points that land inside its mass interval —
# expected multiplicity is exactly n*w_i/W like multinomial sampling,
# but the variance is the strict minimum (each multiplicity differs
# from its expectation by < 1), which is why particle filters and
# dataset up-weighting use it: a 3x-weight document appears ~3 times,
# never 0 or 30. Everything is exact integer arithmetic: points sit at
# odd multiples of W/(2n), so multiplicity is a difference of the
# closed-form counter f(c) = (((2n*c) div W) + 1) div 2.
# ---------------------------------------------------------------------------

RESAMPLE_N = 500  # sample points (documents drawn, with multiplicity)


@register(
    "q206_systematic_resample",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, source,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents WHERE text IS NOT NULL
    ),
    c AS (
      SELECT doc_id, source, n_tokens,
             CAST(SUM(n_tokens) OVER (
               ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS cum
      FROM d
    ),
    tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS w FROM d)
    SELECT doc_id, source, n_tokens, cum,
           ((2 * {RESAMPLE_N} * cum // w) + 1) // 2
             - ((2 * {RESAMPLE_N} * (cum - n_tokens) // w) + 1) // 2
             AS multiplicity
    FROM c, tot
    WHERE ((2 * {RESAMPLE_N} * cum // w) + 1) // 2
          - ((2 * {RESAMPLE_N} * (cum - n_tokens) // w) + 1) // 2 >= 1
    """,
    doc=f"Systematic resampling of {RESAMPLE_N} documents proportional "
    "to token mass: cumulative token sums ordered by doc_id, sample "
    "points at odd multiples of W/(2n), per-doc multiplicity as the "
    "exact integer point-counter difference — minimum-variance "
    "proportional sampling (multiplicity always within 1 of its "
    "expectation n*w_i/W), the resampler a mixing pipeline runs AFTER "
    "q158's DSIR weights or q75's temperature weights decide the "
    "proportions. All arithmetic is int64 (2n*W ~ 3e11 at gen1000x); "
    "both engines truncate integer division toward zero identically. "
    "Scale shape: one global ordered cumsum — a prefix-sum, which Spark "
    "executes as a single-partition window; at 100 TB this becomes the "
    "classic two-pass distributed prefix sum (per-partition totals, "
    "broadcast offsets), the same upgrade path the doc notes for q185; "
    "the sampling itself is then a pure map.",
    tags=("mixing", "sampling"),
)
def q206_systematic_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    d = docs.select(
        "doc_id", "source",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
    )
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
    c = d.withColumn("cum", F.sum("n_tokens").over(w).cast("long"))
    tot = d.agg(F.sum("n_tokens").cast("long").alias("w"))
    mult = (
        f"((2 * {RESAMPLE_N} * cum div w) + 1) div 2"
        f" - ((2 * {RESAMPLE_N} * (cum - n_tokens) div w) + 1) div 2"
    )
    return (
        c.crossJoin(F.broadcast(tot))
        .withColumn("multiplicity", F.expr(f"CAST({mult} AS LONG)"))
        .filter(F.col("multiplicity") >= 1)
        .select("doc_id", "source", "n_tokens", "cum", "multiplicity")
    )


# ---------------------------------------------------------------------------
# Mixture KL-divergence drift report (q223): D_KL(actual || uniform)
# of the corpus's per-language TOKEN mass, one micro-nat term per
# language — the single number (plus its per-language decomposition)
# that tells a data-mixing stage how far the current corpus sits from
# its target before q75/q102's reweighting, and the drift alarm to
# diff across ingestion batches (a rising KL means the crawl is
# tilting). Terms use the shared micro-nat fixed point on COUNT logs
# only, with the share divided FIRST (share_ppm * log-sum div 1e6 —
# bounded by 1e6*|L| forever, the q118/q217 overflow discipline),
# summing to KL in micro-nats.


@register(
    "q223_mixture_kl_drift",
    oracle="""
    WITH toks AS (
      SELECT lang, CAST(len(string_split(lower(text), ' ')) AS BIGINT)
                 AS n_toks
      FROM documents WHERE text IS NOT NULL
    ),
    per_lang AS (
      SELECT lang, CAST(SUM(n_toks) AS BIGINT) AS n_l
      FROM toks GROUP BY lang
    ),
    tot AS (
      SELECT CAST(SUM(n_l) AS BIGINT) AS n,
             CAST(COUNT(*) AS BIGINT) AS n_langs
      FROM per_lang
    )
    SELECT p.lang, p.n_l,
           CAST(p.n_l * 1000000 // t.n AS BIGINT) AS share_ppm,
           CAST(1000000 // t.n_langs AS BIGINT) AS target_share_ppm,
           CAST((p.n_l * 1000000 // t.n) * (
             CAST(FLOOR(ln(CAST(p.n_l AS DOUBLE)) * 1000000.0 + 0.5)
                  AS BIGINT)
             + CAST(FLOOR(ln(CAST(t.n_langs AS DOUBLE)) * 1000000.0 + 0.5)
                  AS BIGINT)
             - CAST(FLOOR(ln(CAST(t.n AS DOUBLE)) * 1000000.0 + 0.5)
                  AS BIGINT)
           ) // 1000000 AS BIGINT) AS kl_term_micronat
    FROM per_lang p CROSS JOIN tot t
    """,
    doc="Per-language KL-divergence decomposition of the corpus token "
    "mixture against the uniform target: each language contributes "
    "p_l * ln(p_l / u) held as share_ppm * (L(n_l) + L(langs) - L(N)) "
    "div 1e6 in the shared micro-nat fixed point — the share is "
    "divided FIRST, so the log product is bounded by 1e6 * |L| ~ 2e13 "
    "forever (the q118/q217 divide-first discipline; the share_ppm "
    "ratio itself follows the repo-wide n*1e6 div N convention, exact "
    "for counts to ~9e12 — past that flip it to n_l div (n div 1e6), "
    "same plan), and the terms sum to D_KL(actual || uniform) in "
    "micro-nats (negative terms are under-represented languages; the "
    "sum is always >= 0 up to ppm truncation, asserted by the value "
    "test). This is the "
    "number a mixing stage (q75 temperature, q102 UniMax) reads FIRST "
    "— how skewed is the corpus — and the cheapest cross-batch drift "
    "alarm for a crawl that starts tilting toward one language. "
    "Scale shape: token counting is map-side (size(split()), no "
    "explode); one languages-sized aggregate; the totals row "
    "broadcasts. One scan, one tiny shuffle.",
    tags=("text", "mixing", "log-form", "monitoring"),
)
def q223_mixture_kl_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    toks = docs.select(
        "lang",
        F.size(F.split(F.lower("text"), " ")).cast("long").alias("n_toks"),
    )
    per_lang = toks.groupBy("lang").agg(
        F.sum("n_toks").cast("long").alias("n_l")
    )
    tot = per_lang.agg(
        F.sum("n_l").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("n_langs"),
    )
    ln_m = (
        "CAST(FLOOR(ln(CAST({c} AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)"
    )
    return per_lang.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_l",
        F.expr("CAST(n_l * 1000000 div n AS BIGINT)").alias("share_ppm"),
        F.expr("CAST(1000000 div n_langs AS BIGINT)").alias(
            "target_share_ppm"
        ),
        F.expr(
            f"CAST((n_l * 1000000 div n) * ({ln_m.format(c='n_l')}"
            f" + {ln_m.format(c='n_langs')} - {ln_m.format(c='n')})"
            " div 1000000 AS BIGINT)"
        ).alias("kl_term_micronat"),
    )


# ---------------------------------------------------------------------------
# Curriculum bucketing (q235): order the corpus easy->hard for
# curriculum training WITHOUT a global row sort. Difficulty = per-doc
# mean unigram surprisal (q88's model — spliced, so the curriculum can
# never drift from the score it claims to use); docs are binned into
# centi-nat difficulty buckets (bounded domain, ~2000 buckets at any
# corpus size), the bucket histogram's cumulative counts assign each
# bucket a quartile STAGE (the histogram-CDF global-quantile pattern:
# the only sorted object is the bucket frame, never the corpus), and a
# salted content-hash shuffle key gives the loader its deterministic
# within-stage order. This is q226's bounded-bucket rank-sum trick
# applied to data ordering.

CURR_STAGES = 4
CURR_BUCKET_MICRONAT = 10_000  # 0.01-nat difficulty bins
CURR_SALT_A, CURR_SALT_B = 364_289_573, 553_105_243


def _curr_hash_duck() -> str:
    return poly_hash_pair("text", "text")[1]


@register(
    "q235_curriculum_buckets",
    # Difficulty model spliced from q88's registered oracle (the q111/
    # q117 convention): curriculum and score cannot drift apart.
    oracle=f"""
    WITH diff AS ({oracle_of("q88_unigram_surprisal")}),
    b AS (
      SELECT doc_id,
             mean_surprisal_micronat,
             mean_surprisal_micronat // {CURR_BUCKET_MICRONAT} AS bkt
      FROM diff
    ),
    hist AS (
      SELECT bkt, CAST(COUNT(*) AS BIGINT) AS cnt FROM b GROUP BY bkt
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM b),
    cum AS (
      SELECT bkt,
             COALESCE(SUM(cnt) OVER (
               ORDER BY bkt ROWS BETWEEN UNBOUNDED PRECEDING
               AND 1 PRECEDING
             ), 0) AS cum_before
      FROM hist
    ),
    stages AS (
      SELECT c.bkt,
             LEAST({CURR_STAGES - 1},
                   CAST({CURR_STAGES} * c.cum_before // t.n AS BIGINT))
                 AS stage
      FROM cum c CROSS JOIN tot t
    )
    SELECT b.doc_id,
           CAST(b.mean_surprisal_micronat AS BIGINT)
               AS difficulty_micronat,
           s.stage,
           CAST(({CURR_SALT_A} * {_curr_hash_duck().replace("text", "d.text")}
                 + {CURR_SALT_B}) % 1000000 AS BIGINT) AS shuffle_key
    FROM b
    JOIN stages s ON s.bkt = b.bkt
    JOIN documents d ON d.doc_id = b.doc_id
    """,
    doc="Curriculum bucketing: every document assigned an easy->hard "
    f"training stage (quartiles of the corpus by q88's mean unigram "
    "surprisal) plus a deterministic salted-hash shuffle key for "
    "within-stage loader order — the data-ordering step of curriculum "
    "training, computed with NO global row sort: difficulty bins to "
    f"{CURR_BUCKET_MICRONAT}-micro-nat buckets (bounded frame), the "
    "bucket histogram's cumulative CDF assigns stages, and docs join "
    "their bucket's stage by key (the histogram-CDF global-quantile "
    "pattern — the only ordered object is the ~2000-row bucket frame). "
    "Stage boundaries are bucket-granular by construction (documented "
    "spec: a curriculum does not need row-exact quartiles, and "
    "bucket-granular boundaries are stable under corpus growth). All "
    "integers exact; the q88 difficulty model is spliced from the "
    "registered oracle so score and curriculum cannot drift apart. "
    "Scale shape: q88's plan + one bounded-frame window + two "
    "broadcast-sized joins; the corpus shuffles once on doc_id.",
    tags=("mixing", "training", "window"),
)
def q235_curriculum_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .text_queries import q88_unigram_surprisal

    hash_spark = poly_hash_pair("text", "text")[0]
    diff = q88_unigram_surprisal(spark, sf_dir).select(
        "doc_id", "mean_surprisal_micronat"
    )
    b = diff.select(
        "doc_id",
        "mean_surprisal_micronat",
        F.expr(
            f"mean_surprisal_micronat div {CURR_BUCKET_MICRONAT}"
        ).alias("bkt"),
    )
    hist = b.groupBy("bkt").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    tot = b.agg(F.count(F.lit(1)).cast("long").alias("n"))
    w = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    cum = hist.select(
        "bkt", F.coalesce(F.sum("cnt").over(w), F.lit(0)).alias("cum_before")
    )
    stages = cum.crossJoin(F.broadcast(tot)).select(
        "bkt",
        F.expr(
            f"LEAST({CURR_STAGES - 1},"
            f" CAST({CURR_STAGES} * cum_before div n AS BIGINT))"
        ).alias("stage"),
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return (
        b.join(F.broadcast(stages), "bkt")
        .join(docs, "doc_id")
        .select(
            "doc_id",
            F.col("mean_surprisal_micronat")
            .cast("long")
            .alias("difficulty_micronat"),
            "stage",
            F.expr(
                f"CAST(({CURR_SALT_A} * {hash_spark} + {CURR_SALT_B})"
                " % 1000000 AS BIGINT)"
            ).alias("shuffle_key"),
        )
    )


# ---------------------------------------------------------------------------
# Weighted reservoir sampling (q238): the Efraimidis–Spirakis A-ES
# scheme — draw k documents with probability proportional to weight
# (here n_chars, the token-budget proxy) in ONE pass, no global state:
# each row gets key u^(1/w) for uniform u, the sample is the top-k keys.
# This is how "sample 1M docs proportional to length" actually runs at
# 100 TB: the key is a pure map-side expression and top-k is a
# TakeOrdered (per-partition heaps + driver merge of k rows), never a
# global sort. Deterministic u from the content hash (reproducible,
# partition-independent); the ranking uses ln(u)/w in integer
# nano-units — monotone in u^(1/w) — so survivor selection is an exact
# integer comparison in both engines (q118's micro-nat convention: the
# only float is one ln per row, rounded to fixed point with measured
# ~0.005-micronat boundary headroom).

RES_K = 100
RES_SALT_A, RES_SALT_B = 607_093_751, 274_177_321


@register(
    "q238_weighted_reservoir_sample",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars,
             (CAST(FLOOR(ln(CAST(({RES_SALT_A} * ({_HASH_DUCK})
                              + {RES_SALT_B})
                              % 1000000 + 1 AS DOUBLE) / 1000000.0)
                         * 1000000.0 + 0.5) AS BIGINT) * 1000000)
               // GREATEST(CAST(n_chars AS BIGINT), 1) AS key_nano
      FROM documents WHERE text IS NOT NULL
    )
    SELECT doc_id, source, n_chars, key_nano, CAST(rnk AS INTEGER) AS rnk
    FROM (
      SELECT *, row_number() OVER (ORDER BY key_nano DESC, doc_id) AS rnk
      FROM keyed
    ) WHERE rnk <= {RES_K}
    """,
    doc=f"One-pass weighted reservoir sample (Efraimidis-Spirakis A-ES): "
    f"top-{RES_K} documents by key u^(1/w), ranked as the exact integer "
    "ln(u)/w in nano-units per char-weight — selection probability "
    "proportional to n_chars, the standard length-proportional draw for "
    "token-budget mixture construction (long docs carry more tokens, so "
    "doc-uniform sampling biases the TOKEN distribution; A-ES undoes "
    "that in one scan). u is a salted affine transform of the content "
    "hash (deterministic, reproducible, partition-independent; hash < "
    "1e9+7 by construction so the affine product stays < 7e17). "
    "Magnitudes: ln(u) in [-13.9e6, 0] micro-nats, times 1e6 and "
    "divided by w >= 1 -> |key| <= 1.39e13, int64-exact; both engines "
    "truncate the division toward zero identically. Scale shape: "
    "map-side key + TakeOrdered(k) — per-partition bounded heaps, a "
    f"k-row driver merge, no global sort; the {RES_K}-row window for "
    "rnk runs AFTER the limit. The one float is ln (q118 convention: "
    "fixed-point rounding with measured boundary headroom).",
    tags=("mixing", "sampling", "topk"),
)
def q238_weighted_reservoir_sample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    keyed = docs.select(
        "doc_id",
        "source",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.expr(
            f"(CAST(FLOOR(ln(CAST(({RES_SALT_A} * ({_HASH_SPARK})"
            f" + {RES_SALT_B}) % 1000000 + 1 AS DOUBLE) / 1000000.0)"
            " * 1000000.0 + 0.5) AS BIGINT) * 1000000)"
            " div GREATEST(CAST(n_chars AS BIGINT), 1)"
        ).alias("key_nano"),
    )
    top = keyed.orderBy(F.desc("key_nano"), F.asc("doc_id")).limit(RES_K)
    w = Window.orderBy(F.desc("key_nano"), F.asc("doc_id"))
    return top.withColumn("rnk", F.row_number().over(w).cast("int"))


# ---------------------------------------------------------------------------
# DSIR importance RESAMPLING (q245): q158 ranks candidates by importance
# weight and keeps the deterministic top-K — but Xie et al.'s actual
# selection step RESAMPLES: draw K docs WITHOUT replacement with
# probability proportional to the importance weight w = exp(logw), which
# keeps diversity the hard top-K throws away (top-K concentrates on the
# single most target-like template). Gumbel-top-K on log-weights is
# equivalent to Efraimidis-Spirakis A-ES on the weights: draw
# e_i = -ln(u_i)/w_i ~ Exp(w_i) and keep the K SMALLEST, i.e. order by
# ln(-ln u_i) - ln(w_i). Both logs stay in the exact-integer micro-nat
# convention: u_i is a salted affine transform of doc_id quantized to
# u_micro in [1, 1e6] (deterministic, partition-independent — the
# q58/q238 convention, never rand()), -ln(u) in micro-nats is
# L(1e6) - L(u_micro) = 13815511 - L(u_micro) (ln of INTEGERS only),
# and the sort key is L(-ln(u)_micro) - logw_micronat — int64-exact and
# bit-identical across engines.
DSIR_RESAMPLE_K = 100
# Salt multiplier: must be well-spread MODULO the 1e6 quantizer (the
# first pick, 999_983 = -17 mod 1e6, collapsed all small doc_ids into a
# ~0.03-nat noise band and the "resample" degenerated to hard top-K).
# 48_271 (MINSTD) is coprime to 1e6 and strides the full range;
# A < 5e4 keeps A * (doc_id % POLY_MOD) < 5e13, int64-safe.
DSIR_RS_A, DSIR_RS_B = 48_271, 11_213
_LN_1E6_MICRO = 13815511  # floor(ln(1e6)*1e6 + 0.5), inlined identically
POLY_MOD_SQL = 1_000_000_007  # functions.scalar.POLY_MOD, inlined for SQL


@register(
    "q245_dsir_importance_resample",
    oracle=f"""
    WITH occ AS (
      SELECT doc_id, source, h % {DSIR_BUCKETS} AS bucket,
             CAST(COUNT(*) AS BIGINT) AS occ
      FROM (
        SELECT doc_id, source, unnest(
          list_transform(string_split(text, ' '), t -> {_TOK_H_DUCK})
        ) AS h
        FROM documents
      )
      GROUP BY doc_id, source, bucket
    ),
    counts AS (
      SELECT bucket,
             CAST(COALESCE(SUM(CASE WHEN source IN ({_DSIR_TGT_IN})
                                    THEN occ END), 0) AS BIGINT) AS cnt_t,
             CAST(COALESCE(SUM(CASE WHEN source NOT IN ({_DSIR_TGT_IN})
                                    THEN occ END), 0) AS BIGINT) AS cnt_r
      FROM occ GROUP BY bucket
    ),
    ratio AS (
      SELECT bucket,
             CAST(FLOOR(ln(CAST(cnt_t + 1 AS DOUBLE)) * 1000000.0 + 0.5)
                  AS BIGINT)
             - CAST(FLOOR(ln(CAST(cnt_r + 1 AS DOUBLE)) * 1000000.0 + 0.5)
                    AS BIGINT) AS l_micro
      FROM counts WHERE cnt_r >= 1
    ),
    tot AS (
      SELECT CAST(FLOOR(ln(CAST(SUM(cnt_r) + {DSIR_BUCKETS} AS DOUBLE))
                        * 1000000.0 + 0.5) AS BIGINT)
             - CAST(FLOOR(ln(CAST(SUM(cnt_t) + {DSIR_BUCKETS} AS DOUBLE))
                          * 1000000.0 + 0.5) AS BIGINT) AS c_micro
      FROM counts
    ),
    scored AS (
      SELECT o.doc_id, ANY_VALUE(o.source) AS source,
             CAST(SUM(o.occ) AS BIGINT) AS n_tokens,
             CAST(SUM(o.occ * r.l_micro)
                  + SUM(o.occ) * ANY_VALUE(t.c_micro) AS BIGINT)
                 AS logw_micronat
      FROM occ o JOIN ratio r USING (bucket) CROSS JOIN tot t
      WHERE o.source NOT IN ({_DSIR_TGT_IN})
      GROUP BY o.doc_id
    ),
    keyed AS (
      SELECT doc_id, source, n_tokens, logw_micronat,
             CAST(FLOOR(ln(CAST(GREATEST(
               {_LN_1E6_MICRO}
               - CAST(FLOOR(ln(CAST(
                   ({DSIR_RS_A} * (doc_id % {POLY_MOD_SQL})
                    + {DSIR_RS_B}) % 1000000 + 1
                   AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT),
               1) AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)
             - logw_micronat AS key_micronat
      FROM scored
    )
    SELECT doc_id, source, n_tokens, logw_micronat, key_micronat,
           CAST(rnk AS INTEGER) AS rnk
    FROM (
      SELECT *, ROW_NUMBER() OVER (ORDER BY key_micronat ASC, doc_id) AS rnk
      FROM keyed
    ) WHERE rnk <= {DSIR_RESAMPLE_K}
    """,
    doc="DSIR importance RESAMPLING (Xie et al. 2023, arXiv:2302.03169 "
    "§2 step 3): draw "
    f"{DSIR_RESAMPLE_K} candidate docs WITHOUT replacement with "
    "probability proportional to the importance weight exp(logw) from "
    "q158's hashed-unigram model — Gumbel-top-K on log-weights, "
    "realized as Efraimidis-Spirakis A-ES (keep the K smallest "
    "ln(-ln u) - ln w). Unlike q158's hard top-K (which concentrates "
    "on the most target-like template), resampling preserves diversity "
    "in proportion to target-likeness — the selection used for "
    "targeted pretraining mixes. Determinism: u is a salted affine "
    "transform of doc_id quantized to [1, 1e6] (reproducible across "
    "runs, partitionings, and cluster sizes), every log is "
    "L(x)=floor(ln(x)*1e6+0.5) of an INTEGER, and the sort key is an "
    "exact int64 micro-nat difference — fully hash-checked. Scale "
    "shape: q158's scoring core (map-side Arrow bucket folds, "
    "broadcast <= B-row model, one doc-grain aggregate) plus a "
    "map-side key and TakeOrdered(K) — per-partition bounded heaps, "
    "never a global sort; the K-row rank window runs after the limit.",
    tags=("mixing", "selection", "sampling", "topk", "pandas-udf"),
)
def q245_dsir_importance_resample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    keyed = dsir_scores(docs).withColumn(
        "key_micronat",
        F.expr(
            f"CAST(FLOOR(ln(CAST(GREATEST("
            f"{_LN_1E6_MICRO}"
            f" - CAST(FLOOR(ln(CAST(({DSIR_RS_A} * (doc_id % {POLY_MOD_SQL})"
            f" + {DSIR_RS_B}) % 1000000 + 1"
            f" AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT),"
            f" 1) AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)"
            f" - logw_micronat"
        ),
    )
    top = keyed.orderBy(F.asc("key_micronat"), F.asc("doc_id")).limit(
        DSIR_RESAMPLE_K
    )
    w = Window.orderBy(F.asc("key_micronat"), F.asc("doc_id"))
    return top.withColumn("rnk", F.row_number().over(w).cast("int")).select(
        "doc_id", "source", "n_tokens", "logw_micronat", "key_micronat", "rnk"
    )
