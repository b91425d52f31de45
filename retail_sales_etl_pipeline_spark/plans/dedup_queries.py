"""Deduplication queries over the `documents` table.

The dedup ladder every large-scale training-data pipeline needs, cheapest
first:

1. exact — hash-groupBy on content (q20): one shuffle on a 64-hex key.
2. near-dup candidates — MinHash+LSH (q22): shingle → minhash → band →
   bucket-join. The band equi-join is the scale path: candidates come from
   hash-partition-local equality, never an all-pairs comparison.
3. exact verification — token-trigram Jaccard (q21) *over the LSH
   candidates*: the quadratic similarity runs only on pairs that already
   share a band, which is the full production pipeline
   (candidate-generation → exact verify).
4. SimHash fingerprints (q23): constant-size per-doc signature; hamming
   distance on a 16-bit int.

Every hash is explicit integer arithmetic, so DuckDB computes identical
values — all four queries are fully oracle-checked, not rows-only. The
Spark side computes MinHash signatures with the Arrow/numpy operator
(Spark doesn't codegen higher-order-lambda chains, so the SQL-expression
form runs interpreted, ~30x slower); the oracle runs the SQL form — the
hash match is itself the proof the two paths agree.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.text import (
    MINHASH_BANDS,
    MINHASH_PERMS,
    minhash_bands_pandas,
    minhash_sig_expr,
    simhash_expr,
    token_ngrams_duck,
    token_ngrams_ws_expr,
)
from ..sources import load_table
from .checkpoint import materialize_once, materialize_parquet, read_checkpoint
from .registry import oracle_of, register

NEARDUP_JACCARD = 0.3

# Hot-bucket cap for LSH candidate generation. Candidate pairs are
# |bucket|^2 per bucket, so ONE degenerate bucket (boilerplate docs, empty
# strings) turns the banded self-join quadratic. Buckets above the cap are
# DROPPED before pairing — the FineWeb/SlimPajama convention: a signature
# shared by more than this many documents is too common to be a useful
# near-dup signal. Pair work is then bounded by n_buckets * cap^2.
# Observed max bucket: 6 at sf0.01, 25 at sf0.1 — 64 is a no-op at test
# scale (the oracle mirrors the cap, so this is hash-checked, and the
# dropped buckets stay observable via q59_lsh_bucket_stats: no silent cap).
LSH_MAX_BUCKET = 64

# --- SimHash hamming-pairing parameters (q84; blocks reported by q59) ----
# 30-bit simhash: the token polynomial hashes live in [0, 1e9+7) ~ 2^30,
# so 30 is the widest simhash whose every bit carries signal (bit 30+ of
# the token hash is always 0 -> a constant-0 fingerprint bit).
SIMHAM_BITS = 30
SIMHAM_BAND_BITS = 10          # 3 blocks x 10 bits
SIMHAM_BANDS = SIMHAM_BITS // SIMHAM_BAND_BITS
SIMHAM_MAX_HAMMING = 2         # pigeonhole: <=2 flipped bits across 3
#                                blocks => at least one block identical,
#                                so block-equality candidate generation is
#                                EXACT for this threshold (no recall loss).
SIMHAM_MAX_BUCKET = 64         # hot-bucket cap, same convention as q22/q32

_SIMHAM_DUCK = simhash_expr("text", SIMHAM_BITS)[1]
_SIMHAM_BAND_MOD = 1 << SIMHAM_BAND_BITS


def simham_block_rows(docs: DataFrame) -> DataFrame:
    """(doc_id, sim, band_idx, bval): one row per document per simhash
    block — the unpivot q84 joins on and q59 sizes. Fingerprints come
    from the Arrow/numpy twin (same integers as the oracle's SQL form)."""
    from ..operators.text import simhash_pandas

    sims = simhash_pandas(docs, bits=SIMHAM_BITS)
    return sims.selectExpr(
        "doc_id",
        "simhash AS sim",
        f"stack({SIMHAM_BANDS}, "
        + ", ".join(
            f"{i}, CAST((simhash div {_SIMHAM_BAND_MOD ** i}) % {_SIMHAM_BAND_MOD} AS LONG)"
            for i in range(SIMHAM_BANDS)
        )
        + ") AS (band_idx, bval)",
    )


@register(
    "q20_dedup_exact",
    oracle="""
    SELECT sha256(text) AS content_hash,
           CAST(MIN(doc_id) AS BIGINT) AS keep_id,
           CAST(COUNT(*) AS BIGINT) AS n_copies
    FROM documents
    GROUP BY sha256(text)
    """,
    doc="Exact dedup: group by content hash, keep the smallest doc_id. "
    "At 100 TB the 64-hex key shuffles instead of the document bodies; "
    "W1's window dedup generalized to content identity.",
    tags=("dedup",),
)
def q20_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.sha2("text", 256).alias("content_hash"))
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


# ---------------------------------------------------------------------------
# MinHash LSH machinery shared by q21/q22
# ---------------------------------------------------------------------------


def _duck_band_exprs() -> list[str]:
    duck_sigs = minhash_sig_expr("text", 5)[1]
    rows = len(MINHASH_PERMS) // MINHASH_BANDS
    return [
        " || '-' || ".join(f"({e})" for e in duck_sigs[b * rows : (b + 1) * rows])
        for b in range(MINHASH_BANDS)
    ]


_DUCK_BANDS = _duck_band_exprs()

_DUCK_CAND_CTE = f"""
    sigs AS (
      SELECT doc_id,
             {", ".join(f"{e} AS band{i}" for i, e in enumerate(_DUCK_BANDS))}
      FROM documents
    ),
    bands AS (
      {" UNION ALL ".join(f"SELECT doc_id, {i} AS band_idx, band{i} AS sig FROM sigs" for i in range(MINHASH_BANDS))}
    ),
    okbands AS (
      SELECT doc_id, band_idx, sig FROM (
        SELECT *, COUNT(*) OVER (PARTITION BY band_idx, sig) AS bucket_n
        FROM bands
      ) WHERE bucket_n <= {LSH_MAX_BUCKET}
    ),
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(COUNT(*) AS BIGINT) AS n_shared_bands
      FROM okbands a JOIN okbands b
        ON a.band_idx = b.band_idx AND a.sig = b.sig AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
"""

# The verified-pair relation (q21's pairs, without the score) as CTEs
# ``cand``, ``d`` and ``verified``: every oracle over the verified near-dup
# graph starts ``WITH [RECURSIVE] {_DUCK_VERIFIED_PRELUDE},``.
_DUCK_VERIFIED_PRELUDE = f"""{_DUCK_CAND_CTE},
    d AS (
      SELECT doc_id, {token_ngrams_duck("text", 3)} AS tg
      FROM documents
      WHERE len(string_split(text, ' ')) >= 3
    ),
    verified AS (
      SELECT c.doc_a, c.doc_b
      FROM cand c JOIN d a ON a.doc_id = c.doc_a JOIN d b ON b.doc_id = c.doc_b
      WHERE CAST(len(list_intersect(a.tg, b.tg)) AS DOUBLE)
              / CAST(len(list_distinct(a.tg || b.tg)) AS DOUBLE)
            >= {NEARDUP_JACCARD}
    )"""


def minhash_band_rows(docs: DataFrame) -> DataFrame:
    """(doc_id, band_idx, sig): one row per document per LSH band.
    Signatures computed by the Arrow/numpy operator — identical integers
    to the SQL form the oracle runs."""
    sigs = minhash_bands_pandas(docs)
    return sigs.selectExpr(
        "doc_id",
        f"stack({MINHASH_BANDS}, "
        + ", ".join(f"{i}, band{i}" for i in range(MINHASH_BANDS))
        + ") AS (band_idx, sig)",
    )


def minhash_candidates(
    docs: DataFrame, max_bucket: int = LSH_MAX_BUCKET
) -> DataFrame:
    """(doc_a, doc_b, n_shared_bands) candidate pairs from band-bucket
    equality, with hot buckets (> ``max_bucket`` members) dropped BEFORE
    pairing. The bucket count is a window over (band_idx, sig) — the same
    key the self-join shuffles on, so sizing adds one co-partitioned pass,
    not a second execution of the signature subtree. Candidate work per
    bucket is bounded by cap^2 regardless of corpus degeneracy."""
    bands = minhash_band_rows(docs)
    w = Window.partitionBy("band_idx", "sig")
    ok = (
        bands.withColumn("bucket_n", F.count(F.lit(1)).over(w))
        .filter(F.col("bucket_n") <= max_bucket)
        .drop("bucket_n")
    )
    # In-bucket pair expansion instead of a bucket-keyed SELF-JOIN: the
    # join form re-executes the whole signature subtree (mapInPandas +
    # stack + window) for EACH side and pays a third exchange for the
    # pair aggregation; here the capped bucket members are collected
    # per (band_idx, sig) — co-partitioned with the window, so NO new
    # exchange — and all a<b pairs are emitted by an array transform.
    # Memory stays bounded by construction: only rows that survived the
    # cap filter are collected, so no array exceeds ``max_bucket``
    # members however degenerate the corpus (the window, which streams
    # and spills, still does the unbounded counting). Pair semantics
    # are unchanged: each shared ok-bucket contributes each ordered
    # pair once, so the per-pair count is n_shared_bands exactly.
    pairs = (
        ok.groupBy("band_idx", "sig")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") >= 2)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(sequence(1, size(ids) - 1), "
                    "i -> transform(slice(ids, i + 1, size(ids) - i), "
                    "y -> struct(element_at(ids, i) AS doc_a, y AS doc_b))))"
                )
            ).alias("p")
        )
        .select("p.doc_a", "p.doc_b")
    )
    return pairs.groupBy("doc_a", "doc_b").agg(
        F.count(F.lit(1)).alias("n_shared_bands")
    )


def pair_sides(pairs: DataFrame, docs: DataFrame, *cols: str) -> DataFrame:
    """``pairs`` with each of ``docs``' ``cols`` joined onto both ends of
    the pair, as ``<col>_a`` (of ``doc_a``) and ``<col>_b`` (of ``doc_b``).
    Rungs that score candidates pass the corpus frame their candidates
    came from, so the ladder reads the corpus once."""
    a = docs.select(
        F.col("doc_id").alias("doc_a"), *[F.col(c).alias(f"{c}_a") for c in cols]
    )
    b = docs.select(
        F.col("doc_id").alias("doc_b"), *[F.col(c).alias(f"{c}_b") for c in cols]
    )
    return pairs.join(a, "doc_a").join(b, "doc_b")


def _ladder_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one read of ``documents`` that a ladder query's candidates and
    pair sides share (each read of the corpus infers its schema in a Spark
    job). fan_out: the Arrow signature pass is real per-doc compute —
    measured 2x on the whole candidate ladder (q21 2.1→1.5) — and without
    it the joined pair stream inherits AQE's coalesced (often single)
    partition, so the verify runs one-core."""
    return load_table(spark, sf_dir, "documents", fan_out=True)


@register(
    "q22_minhash_lsh_candidates",
    oracle=f"""
    WITH {_DUCK_CAND_CTE}
    SELECT * FROM cand
    """,
    doc="MinHash-LSH near-dup candidates: 16 affine permutations over "
    "char-5-shingle polynomial hashes, banded 4x4; docs sharing any band "
    "signature become candidates. The unpivot+equi-join shape shuffles "
    "(band_idx, sig) keys only — no all-pairs scan — and buckets larger "
    f"than {LSH_MAX_BUCKET} are dropped before pairing (mirrored in the "
    "oracle; see q59 for the dropped-bucket report), so one degenerate "
    "boilerplate bucket can never make the self-join quadratic. "
    "Signatures computed via the Arrow/numpy operator; the oracle "
    "recomputes them in pure SQL arithmetic.",
    tags=("dedup", "lsh", "pandas-udf"),
)
def q22_minhash_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_candidates(_ladder_corpus(spark, sf_dir))


_TG_DUCK = token_ngrams_duck("text", 3)

# split(text) materialized ONCE as an array column ws, then shingled — an
# inline split re-runs per array subscript (3 splits x positions; the
# q121/q126 lesson), measured 5.5 s -> 0.7 s for the bare explode at gen1x
# (round 10).
_TG_SPARK_WS = token_ngrams_ws_expr("ws", 3)


def _tg_docs(docs: DataFrame) -> DataFrame:
    """(doc_id, tg): distinct trigram array per doc, split projected once."""
    return docs.select("doc_id", F.split("text", " ").alias("ws")).select(
        "doc_id", F.expr(_TG_SPARK_WS).alias("tg")
    )


@register(
    "q21_ngram_jaccard_pairs",
    oracle=f"""
    WITH {_DUCK_CAND_CTE},
    d AS (
      SELECT doc_id, {_TG_DUCK} AS tg
      FROM documents
      WHERE len(string_split(text, ' ')) >= 3
    )
    SELECT c.doc_a, c.doc_b,
           CAST(len(list_intersect(a.tg, b.tg)) AS DOUBLE)
             / CAST(len(list_distinct(a.tg || b.tg)) AS DOUBLE) AS jaccard
    FROM cand c JOIN d a ON a.doc_id = c.doc_a JOIN d b ON b.doc_id = c.doc_b
    WHERE CAST(len(list_intersect(a.tg, b.tg)) AS DOUBLE)
             / CAST(len(list_distinct(a.tg || b.tg)) AS DOUBLE)
             >= {NEARDUP_JACCARD}
    """,
    doc="Exact token-trigram Jaccard verification of the LSH candidate "
    "pairs (the second half of the candidate->verify near-dedup pipeline): "
    "the quadratic similarity computation touches only pairs that already "
    "share a MinHash band, never N^2. Jaccard = |intersect|/|union| of "
    "distinct trigram sets — int sizes, so the double division is "
    "bit-deterministic across engines. The verify is native expressions "
    "(operators.text.jaccard_pairs): no Python-worker hop.",
    tags=("dedup", "join"),
)
def q21_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _verified(_ladder_corpus(spark, sf_dir))


def _scored_candidates(corpus: DataFrame) -> DataFrame:
    """(doc_a, doc_b, jaccard): the exact trigram Jaccard of every LSH
    candidate pair of ``corpus`` whose docs both have >= 3 words — native
    expressions (operators.text.jaccard_pairs): identical integers to the
    oracle's list_intersect/list_distinct sizes, identical IEEE division."""
    from ..operators.text import jaccard_pairs

    cand = minhash_candidates(corpus).select("doc_a", "doc_b")
    docs = corpus.filter(F.size(F.split("text", " ")) >= 3).select("doc_id", "text")
    return jaccard_pairs(pair_sides(cand, docs, "text"))


def _verified(corpus: DataFrame) -> DataFrame:
    """q21's verified pairs of ``corpus``: (doc_a, doc_b, jaccard)."""
    return _scored_candidates(corpus).filter(F.col("jaccard") >= NEARDUP_JACCARD)


@register(
    "q60_neardup_components",
    oracle=f"""
    WITH RECURSIVE {_DUCK_VERIFIED_PRELUDE},
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM verified
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM verified
    ),
    reach(doc_id, label) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.doc_id
    )
    SELECT doc_id, CAST(MIN(label) AS BIGINT) AS component_id
    FROM reach GROUP BY doc_id
    """,
    doc="Connected components over the VERIFIED near-dup pair graph "
    "(q21's capped-LSH + Jaccard pipeline): component_id = min doc_id "
    "reachable through pair edges, computed by iterative min-label "
    "propagation (operators.graph — joins only, driver holds just the "
    "convergence count). This is the transitive rung greedy pair-drop "
    "lacks: A~B and B~C land in ONE component even when A,C never pair "
    "directly. Deterministic fixpoint, so the iterative algorithm is "
    "fully oracle-checked against a DuckDB WITH RECURSIVE reachability "
    "twin — not rows-only.",
    tags=("dedup", "graph", "iterative"),
)
def q60_neardup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import connected_components

    corpus = _ladder_corpus(spark, sf_dir)
    pairs = _verified(corpus).select("doc_a", "doc_b")
    return connected_components(
        corpus.select("doc_id"), pairs,
        id_col="doc_id", src_col="doc_a", dst_col="doc_b",
    ).select(F.col("id").alias("doc_id"), "component_id")


# Benchmark decontamination: GPT-3-style n-gram overlap between a held-out
# benchmark split and the training corpus (public convention: flag training
# docs sharing >= MIN_SHARED token shingles with any benchmark doc).
DECON_SHINGLE_N = 5
DECON_MAX_DF = 64  # document-frequency cap: a shingle this common is
# boilerplate, not contamination signal (observed max DF: 3 at sf0.01,
# 4 at sf0.1 — no-op at test scale, mirrored in the oracle)
DECON_MIN_SHARED = 2

# Spark runs the Arrow shingle twin (token_shingles_pandas); the oracle
# unnests this SQL form — identical strings by construction.
_TG5_DUCK = token_ngrams_duck("text", DECON_SHINGLE_N)


@register(
    "q63_benchmark_decontamination",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, unnest({_TG5_DUCK}) AS g
      FROM documents WHERE len(string_split(text, ' ')) >= {DECON_SHINGLE_N}
    ),
    capped AS (
      SELECT doc_id, g FROM (
        SELECT *, COUNT(*) OVER (PARTITION BY g) AS df FROM sh
      ) WHERE df <= {DECON_MAX_DF}
    )
    SELECT b.doc_id AS bench_doc, t.doc_id AS train_doc,
           CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM capped b JOIN capped t ON b.g = t.g
    WHERE b.doc_id % 20 = 0 AND t.doc_id % 20 <> 0
    GROUP BY b.doc_id, t.doc_id
    HAVING COUNT(*) >= {DECON_MIN_SHARED}
    """,
    doc=f"Train/test decontamination: (benchmark doc, training doc) pairs "
    f"sharing >= {DECON_MIN_SHARED} distinct {DECON_SHINGLE_N}-gram token "
    f"shingles — the published n-gram-overlap convention for purging "
    f"evaluation contamination from training corpora. The shingle join "
    f"is an inverted-index equi-join on the shingle string (shuffles "
    f"shingles, never doc pairs — no all-pairs), with the hot-bucket "
    f"pattern applied as a document-frequency cap: a shingle in more "
    f"than {DECON_MAX_DF} docs is boilerplate and joins are bounded by "
    f"|shingles| * cap. Benchmark split = doc_id % 20 (deterministic). "
    f"Fully oracle-checked.",
    tags=("dedup", "decontamination", "join"),
)
def q63_benchmark_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import token_shingles_pandas

    docs = load_table(spark, sf_dir, "documents")
    # Arrow shingle expansion (identical strings to the SQL form the
    # oracle unnests; the interpreted transform/sequence lambda re-splits
    # the text per element and is ~5x slower)
    sh = token_shingles_pandas(docs, DECON_SHINGLE_N)
    w = Window.partitionBy("g")
    capped = (
        sh.withColumn("df", F.count(F.lit(1)).over(w))
        .filter(F.col("df") <= DECON_MAX_DF)
        .drop("df")
    )
    b = capped.filter(F.col("doc_id") % 20 == 0).select(
        F.col("doc_id").alias("bench_doc"), "g"
    )
    t = capped.filter(F.col("doc_id") % 20 != 0).select(
        F.col("doc_id").alias("train_doc"), "g"
    )
    return (
        b.join(t, "g")
        .groupBy("bench_doc", "train_doc")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= DECON_MIN_SHARED)
    )


from ..operators.bloom import BLOOM_M, bloom_positions_pair, bloom_prefilter_new
from ..operators.text import fingerprint_pandas, poly_hash_pair

_KEY_DUCK = poly_hash_pair("text", "text")[1]
_POS_DUCK = bloom_positions_pair("key_hash", "key_hash", BLOOM_M)[1]


@register(
    "q28_bloom_prefilter_dedup",
    oracle=f"""
    WITH keys AS (
      SELECT doc_id, {_KEY_DUCK} AS key_hash FROM documents
    ),
    corpus AS (SELECT * FROM keys WHERE doc_id % 3 = 0),
    batch  AS (SELECT * FROM keys WHERE doc_id % 3 <> 0),
    bits AS (SELECT DISTINCT unnest({_POS_DUCK}) AS pos FROM corpus),
    bp AS (SELECT doc_id, key_hash, unnest({_POS_DUCK}) AS pos FROM batch),
    definite AS (
      SELECT DISTINCT doc_id, key_hash FROM bp
      WHERE pos NOT IN (SELECT pos FROM bits)
    ),
    cands AS (
      SELECT * FROM batch WHERE doc_id NOT IN (SELECT doc_id FROM definite)
    ),
    verified AS (
      SELECT * FROM cands WHERE key_hash NOT IN (SELECT key_hash FROM corpus)
    )
    SELECT doc_id, key_hash, FALSE AS bloom_candidate FROM definite
    UNION ALL
    SELECT doc_id, key_hash, TRUE AS bloom_candidate FROM verified
    """,
    doc="Bloom pre-filter ahead of exact dedup (incremental batch vs "
    "corpus): rows missing any of the K=4 bloom positions are DEFINITELY "
    "new (no false negatives) and skip exact verification entirely; only "
    "all-positions-hit candidates reach the exact anti-join, where "
    "bloom false positives are eliminated. The filter is the distinct "
    "corpus position set — a broadcast equi-join here; the equivalent "
    "broadcast-bitmap form (operators.bloom.bloom_bitmap_*) probes an "
    "m-bit numpy bitmap map-side with zero shuffle and is "
    "equality-tested against this plan. Survivor set == plain exact "
    "anti-join by construction.",
    tags=("dedup", "bloom"),
)
def q28_bloom_prefilter_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    keys = fingerprint_pandas(docs).select(
        "doc_id", F.col("content_fp").alias("key_hash")
    )
    corpus = keys.filter(F.col("doc_id") % 3 == 0)
    batch = keys.filter(F.col("doc_id") % 3 != 0)
    return bloom_prefilter_new(batch, corpus)


from ..operators.similarity import (
    RP_MAX_BUCKET,
    RP_TABLES,
    rp_bucket_pair,
    rp_buckets_pandas,
)

_RP_DUCK_BUCKETS = [rp_bucket_pair("emb", t)[1] for t in range(RP_TABLES)]


@register(
    "q59_lsh_bucket_stats",
    oracle=f"""
    WITH {_DUCK_CAND_CTE},
    mh_sizes AS (
      SELECT band_idx, sig, COUNT(*) AS n FROM bands GROUP BY band_idx, sig
    ),
    rv AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    rp_buckets AS (
      {" UNION ALL ".join(
          f"SELECT vec_id, {t} AS tbl, ({e}) AS bucket FROM rv"
          for t, e in enumerate(_RP_DUCK_BUCKETS)
      )}
    ),
    rp_sizes AS (
      SELECT tbl, bucket, COUNT(*) AS n FROM rp_buckets GROUP BY tbl, bucket
    ),
    sh_sims AS (
      SELECT doc_id, CAST({_SIMHAM_DUCK} AS BIGINT) AS sim FROM documents
    ),
    sh_blocks AS (
      {" UNION ALL ".join(
          f"SELECT doc_id, {i} AS band_idx, "
          f"(sim // {_SIMHAM_BAND_MOD ** i}) % {_SIMHAM_BAND_MOD} AS bval FROM sh_sims"
          for i in range(SIMHAM_BANDS)
      )}
    ),
    sh_sizes AS (
      SELECT band_idx, bval, COUNT(*) AS n FROM sh_blocks GROUP BY band_idx, bval
    )
    SELECT 'minhash' AS space, CAST(band_idx AS BIGINT) AS band,
           CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(MAX(n) AS BIGINT) AS max_bucket_n,
           CAST(SUM(CASE WHEN n > {LSH_MAX_BUCKET} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_buckets_dropped,
           CAST(SUM(CASE WHEN n > {LSH_MAX_BUCKET} THEN n ELSE 0 END) AS BIGINT)
             AS rows_dropped
    FROM mh_sizes GROUP BY band_idx
    UNION ALL
    SELECT 'rp' AS space, CAST(tbl AS BIGINT) AS band,
           CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(MAX(n) AS BIGINT) AS max_bucket_n,
           CAST(SUM(CASE WHEN n > {RP_MAX_BUCKET} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_buckets_dropped,
           CAST(SUM(CASE WHEN n > {RP_MAX_BUCKET} THEN n ELSE 0 END) AS BIGINT)
             AS rows_dropped
    FROM rp_sizes GROUP BY tbl
    UNION ALL
    SELECT 'simhash' AS space, CAST(band_idx AS BIGINT) AS band,
           CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(MAX(n) AS BIGINT) AS max_bucket_n,
           CAST(SUM(CASE WHEN n > {SIMHAM_MAX_BUCKET} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_buckets_dropped,
           CAST(SUM(CASE WHEN n > {SIMHAM_MAX_BUCKET} THEN n ELSE 0 END) AS BIGINT)
             AS rows_dropped
    FROM sh_sizes GROUP BY band_idx
    """,
    doc="LSH bucket-size report for ALL THREE candidate-generation spaces "
    "(MinHash bands over documents, RP tables over embeddings, SimHash "
    "blocks over documents): per band/table/block, the bucket count, the "
    "largest bucket, and how many buckets/rows the hot-bucket caps "
    "(q22/q32/q84) drop. This is the no-silent-caps rule as a "
    "first-class oracle-checked query — capping is only acceptable "
    "because its effect is observable here.",
    tags=("dedup", "lsh", "observability"),
)
def q59_lsh_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")

    def stats(sizes: DataFrame, space: str, band_col: str, cap: int) -> DataFrame:
        return sizes.groupBy(
            F.lit(space).alias("space"), F.col(band_col).cast("long").alias("band")
        ).agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.max("n").alias("max_bucket_n"),
            F.sum(F.when(F.col("n") > cap, 1).otherwise(0)).alias("n_buckets_dropped"),
            F.sum(F.when(F.col("n") > cap, F.col("n")).otherwise(0)).alias("rows_dropped"),
        ).select("space", "band", "n_buckets", "max_bucket_n", "n_buckets_dropped", "rows_dropped")

    mh_sizes = (
        minhash_band_rows(docs)
        .groupBy("band_idx", "sig")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    rp_sizes = (
        rp_buckets_pandas(emb)
        .groupBy("tbl", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    sh_sizes = (
        simham_block_rows(docs)
        .groupBy("band_idx", "bval")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        stats(mh_sizes, "minhash", "band_idx", LSH_MAX_BUCKET)
        .unionByName(stats(rp_sizes, "rp", "tbl", RP_MAX_BUCKET))
        .unionByName(stats(sh_sizes, "simhash", "band_idx", SIMHAM_MAX_BUCKET))
    )


_SIMHASH_SPARK, _SIMHASH_DUCK = simhash_expr("text", 16)


@register(
    "q23_simhash",
    oracle=f"""
    SELECT doc_id, CAST({_SIMHASH_DUCK} AS BIGINT) AS simhash
    FROM documents
    """,
    doc="SimHash fingerprints: 16-bit sign-aggregate of token polynomial "
    "hashes. Constant-size signature per doc; near-dup = small hamming "
    "distance (bit_count(xor)) — a cheap pairwise check that, unlike "
    "MinHash, preserves similarity in a single integer.",
    tags=("dedup",),
)
def q23_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import simhash_pandas

    docs = load_table(spark, sf_dir, "documents")
    # Arrow/numpy path (same integers as _SIMHASH_DUCK in the oracle).
    return simhash_pandas(docs)


@register(
    "q79_cross_source_contamination",
    oracle=f"""
    WITH {_DUCK_VERIFIED_PRELUDE}
    SELECT least(sa.source, sb.source) AS source_x,
           greatest(sa.source, sb.source) AS source_y,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(COUNT(DISTINCT c.doc_a) AS BIGINT) AS n_docs_a
    FROM verified c
    JOIN documents sa ON sa.doc_id = c.doc_a
    JOIN documents sb ON sb.doc_id = c.doc_b
    GROUP BY least(sa.source, sb.source), greatest(sa.source, sb.source)
    """,
    doc="Cross-source contamination matrix: verified near-dup pairs "
    "(q21's LSH-candidates -> exact-Jaccard pipeline) rolled up by the "
    "UNORDERED source pair (least/greatest canonicalization) — the "
    "provenance view that surfaces mirrored/syndicated content between "
    "sources, the usual cause of dedup hot spots at corpus scale. "
    "Off-diagonal mass tells you two crawls overlap; diagonal mass is "
    "within-source duplication. Scale shape: everything downstream of "
    "the banded candidate join is pair-sized, the source lookups are "
    "lean (doc_id, source) projections, and the final agg is "
    "|sources|^2-bounded.",
    tags=("dedup", "profiling"),
)
def q79_cross_source_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _ladder_corpus(spark, sf_dir)
    pairs = _verified(corpus).select("doc_a", "doc_b")
    return (
        pair_sides(pairs, corpus, "source")
        .groupBy(
            F.least("source_a", "source_b").alias("source_x"),
            F.greatest("source_a", "source_b").alias("source_y"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.countDistinct("doc_a").cast("long").alias("n_docs_a"),
        )
    )


def dedup_increment_status(
    index_docs: DataFrame,
    incoming: DataFrame,
    max_bucket: int = LSH_MAX_BUCKET,
) -> DataFrame:
    """Incremental dedup of an ``incoming`` batch against an already-built
    corpus (``index_docs``): (doc_id, status) for every incoming doc with

    - ``exact_dup``: content hash already in the index, OR a lower-id
      incoming doc has the same hash (first-arrival-wins within a batch);
    - ``near_flagged``: survives exact dedup but shares a MinHash band
      signature with an index document (the LSH accept signal — at corpus
      scale the index stores only hashes + band signatures, so banding IS
      the incremental near-dup decision; full Jaccard verification needs
      stored shingle sketches and runs as a follow-up batch, q21's shape);
    - ``accepted``: neither — joins the corpus, and its hash + band rows
      join the index.

    Scale shape: the daily-increment operation at 100 TB. Nothing ever
    recomputes over the existing corpus: exact membership is a left-semi
    join on the 64-hex hash, band matching is an equi-join on
    (band_idx, sig) keyed exactly like q22's self-join, and hot INDEX
    buckets (> ``max_bucket``) are dropped before probing — one
    boilerplate signature in a 100 TB index can't make every increment
    quadratic. Index state is two parquet-able frames (hashes, band
    rows), both append-only under accepted docs.
    """
    inc_h = incoming.select("doc_id", F.sha2("text", 256).alias("h"))
    w = Window.partitionBy("h").orderBy("doc_id")
    firsted = inc_h.withColumn("rn", F.row_number().over(w))
    idx_h = index_docs.select(F.sha2("text", 256).alias("h")).distinct()
    in_index = firsted.join(idx_h, "h", "left_semi").select("doc_id")
    exact_dup = (
        firsted.filter(F.col("rn") > 1).select("doc_id").union(in_index).distinct()
    )

    survivors = incoming.join(exact_dup, "doc_id", "left_anti")
    wb = Window.partitionBy("band_idx", "sig")
    idx_bands = (
        minhash_band_rows(index_docs)
        .withColumn("bucket_n", F.count(F.lit(1)).over(wb))
        .filter(F.col("bucket_n") <= max_bucket)
        .select("band_idx", "sig")
        .distinct()
    )
    flagged = (
        minhash_band_rows(survivors)
        .join(idx_bands, ["band_idx", "sig"], "left_semi")
        .select("doc_id")
        .distinct()
    )

    return (
        incoming.select("doc_id")
        .join(exact_dup.withColumn("is_exact", F.lit(True)), "doc_id", "left")
        .join(flagged.withColumn("is_near", F.lit(True)), "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("is_exact"), F.lit("exact_dup"))
            .when(F.col("is_near"), F.lit("near_flagged"))
            .otherwise(F.lit("accepted"))
            .alias("status"),
        )
    )


@register(
    "q80_incremental_dedup",
    oracle=f"""
    WITH idx AS (SELECT * FROM documents WHERE doc_id % 2 = 0),
    inc AS (SELECT * FROM documents WHERE doc_id % 2 = 1),
    inc_h AS (
      SELECT doc_id, sha256(text) AS h,
             ROW_NUMBER() OVER (PARTITION BY sha256(text) ORDER BY doc_id)
                 AS rn
      FROM inc
    ),
    idx_h AS (SELECT DISTINCT sha256(text) AS h FROM idx),
    exact_dup AS (
      SELECT doc_id FROM inc_h
      WHERE rn > 1 OR h IN (SELECT h FROM idx_h)
    ),
    idx_sigs AS (
      SELECT doc_id,
             {", ".join(f"{e} AS band{i}" for i, e in enumerate(_DUCK_BANDS))}
      FROM idx
    ),
    idx_bands AS (
      SELECT band_idx, sig FROM (
        SELECT band_idx, sig, COUNT(*) OVER (PARTITION BY band_idx, sig)
                   AS bucket_n
        FROM ({" UNION ALL ".join(f"SELECT doc_id, {i} AS band_idx, band{i} AS sig FROM idx_sigs" for i in range(MINHASH_BANDS))})
      ) WHERE bucket_n <= {LSH_MAX_BUCKET}
    ),
    surv_sigs AS (
      SELECT doc_id,
             {", ".join(f"{e} AS band{i}" for i, e in enumerate(_DUCK_BANDS))}
      FROM inc WHERE doc_id NOT IN (SELECT doc_id FROM exact_dup)
    ),
    surv_bands AS (
      {" UNION ALL ".join(f"SELECT doc_id, {i} AS band_idx, band{i} AS sig FROM surv_sigs" for i in range(MINHASH_BANDS))}
    ),
    flagged AS (
      SELECT DISTINCT s.doc_id
      FROM surv_bands s
      WHERE EXISTS (
        SELECT 1 FROM idx_bands b
        WHERE b.band_idx = s.band_idx AND b.sig = s.sig
      )
    )
    SELECT i.doc_id,
           CASE WHEN i.doc_id IN (SELECT doc_id FROM exact_dup)
                    THEN 'exact_dup'
                WHEN i.doc_id IN (SELECT doc_id FROM flagged)
                    THEN 'near_flagged'
                ELSE 'accepted' END AS status
    FROM inc i
    """,
    doc="Incremental dedup (dedup_increment_status): odd-id documents "
    "arrive as the increment, even-id documents are the already-indexed "
    "corpus. Exact membership is a semi-join on the content hash, "
    "near-dup flagging an equi-join on capped index band signatures — "
    "nothing recomputes over the existing corpus, the property that "
    "makes daily increments O(batch) instead of O(corpus). "
    "tests/test_incremental_dedup.py proves two-increment processing "
    "equals one batch for the exact tier and that flags are sound "
    "against q22's full-corpus candidates.",
    tags=("dedup", "incremental"),
)
def q80_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    idx = docs.filter(F.col("doc_id") % 2 == 0)
    inc = docs.filter(F.col("doc_id") % 2 == 1)
    return dedup_increment_status(idx, inc)


# ---------------------------------------------------------------------------
# SimHash hamming-distance near-dup pairing (q84) — completes the SimHash
# rung: q23 only EMITS fingerprints; this query actually pairs them, the
# Manku/Jain/Sarma (WWW'07, Google web dedup) block-permutation scheme.
# Parameters + the shared block-unpivot live at the top of this module
# (SIMHAM_*, simham_block_rows) because q59's bucket report covers this
# candidate space too.
# ---------------------------------------------------------------------------


@register(
    "q84_simhash_hamming_pairs",
    oracle=f"""
    WITH sims AS (
      SELECT doc_id, CAST({_SIMHAM_DUCK} AS BIGINT) AS sim FROM documents
    ),
    bands AS (
      {" UNION ALL ".join(
          f"SELECT doc_id, sim, {i} AS band_idx, "
          f"(sim // {_SIMHAM_BAND_MOD ** i}) % {_SIMHAM_BAND_MOD} AS bval FROM sims"
          for i in range(SIMHAM_BANDS)
      )}
    ),
    ok AS (
      SELECT doc_id, sim, band_idx, bval FROM (
        SELECT *, COUNT(*) OVER (PARTITION BY band_idx, bval) AS bucket_n
        FROM bands
      ) WHERE bucket_n <= {SIMHAM_MAX_BUCKET}
    ),
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             MIN(a.sim) AS sim_a, MIN(b.sim) AS sim_b,
             CAST(COUNT(*) AS BIGINT) AS n_shared_bands
      FROM ok a JOIN ok b
        ON a.band_idx = b.band_idx AND a.bval = b.bval AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b, n_shared_bands,
           CAST(bit_count(xor(sim_a, sim_b)) AS BIGINT) AS hamming,
           (bit_count(xor(sim_a, sim_b)) <= {SIMHAM_MAX_HAMMING}) AS is_neardup
    FROM cand
    """,
    doc=f"SimHash hamming near-dup pairs — the pairing rung q23's "
    f"fingerprints feed (Manku et al., WWW'07): the {SIMHAM_BITS}-bit "
    f"simhash splits into {SIMHAM_BANDS} blocks of {SIMHAM_BAND_BITS} "
    f"bits; docs sharing any block become candidates (block equality is "
    f"an equi-join — never all-pairs), then exact hamming = "
    f"bit_count(xor) verifies. Pigeonhole makes the blocking EXACT for "
    f"hamming <= {SIMHAM_MAX_HAMMING}: that few flips cannot touch all "
    f"{SIMHAM_BANDS} blocks, so every true near-dup pair shares a "
    f"block. Buckets above {SIMHAM_MAX_BUCKET} are dropped before "
    f"pairing (the q22/q32 hot-bucket convention). Scale shape: "
    f"constant-size signatures shuffle, the join keys on (block, "
    f"value), pair work is bounded by n_buckets * cap^2; all candidate "
    f"pairs are emitted with their hamming and the verify flag, so the "
    f"filter's effect is observable.",
    tags=("dedup", "simhash", "lsh"),
)
def q84_simhash_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bands = simham_block_rows(docs)
    w = Window.partitionBy("band_idx", "bval")
    ok = (
        bands.withColumn("bucket_n", F.count(F.lit(1)).over(w))
        .filter(F.col("bucket_n") <= SIMHAM_MAX_BUCKET)
        .drop("bucket_n")
    )
    a, b = ok.alias("a"), ok.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.bval") == F.col("b.bval"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(
            F.min(F.col("a.sim")).alias("sim_a"),
            F.min(F.col("b.sim")).alias("sim_b"),
            F.count(F.lit(1)).alias("n_shared_bands"),
        )
    )
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))).cast("long")
    return cand.select(
        "doc_a",
        "doc_b",
        "n_shared_bands",
        hamming.alias("hamming"),
        (hamming <= SIMHAM_MAX_HAMMING).alias("is_neardup"),
    )


# ---------------------------------------------------------------------------
# Duplicated-passage coverage (q85) — the line/passage-level dedup metric
# (CCNet dedups paragraphs; RefinedWeb reports duplicate coverage): how
# much of each document consists of passages seen in OTHER documents.
# ---------------------------------------------------------------------------

PASSAGE_N = 8  # 8-token shingles ~ a short "line" in the token-stream corpus

_P8_DUCK = token_ngrams_duck("text", PASSAGE_N)


@register(
    "q85_passage_duplication",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, unnest({_P8_DUCK}) AS g
      FROM documents
      WHERE len(string_split(text, ' ')) >= {PASSAGE_N}
    ),
    dfreq AS (
      -- sh is DISTINCT per doc (list_distinct), so COUNT(*) = doc count
      SELECT g, COUNT(*) AS ndocs FROM sh GROUP BY g
    )
    SELECT s.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_passages,
           CAST(SUM(CASE WHEN d.ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_shared_passages,
           CAST(SUM(CASE WHEN d.ndocs >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS dup_coverage
    FROM sh s JOIN dfreq d ON s.g = d.g
    GROUP BY s.doc_id
    """,
    doc=f"Duplicated-passage coverage — passage/line-level dedup's "
    f"measurement form (CCNet dedups paragraphs across documents; "
    f"RefinedWeb reports exactly this coverage): per document, the "
    f"fraction of its distinct {PASSAGE_N}-token passages that appear "
    f"in at least one OTHER document (or twice here — frequency >= 2). "
    f"Exact-dup docs score 1.0, boilerplate-heavy docs score high, and "
    f"thresholding this is the passage-level rung between exact dedup "
    f"(q20) and near-dup pairs (q21/q84). Scale shape: the passage "
    f"frequency is a two-stage agg (map-side combine), the coverage "
    f"join keys on the passage itself (an inverted index — shuffles "
    f"shingles, never doc pairs), and the per-doc rollup is one more "
    f"keyed agg; at 100 TB the passage string would be replaced by its "
    f"64-bit polynomial hash so the shuffle carries ints, not text.",
    tags=("dedup", "text", "passage"),
)
def q85_passage_duplication(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import token_shingles_pandas

    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    sh = token_shingles_pandas(docs, PASSAGE_N)  # distinct (doc_id, g) rows
    dfreq = sh.groupBy("g").agg(F.count(F.lit(1)).alias("ndocs"))
    shared = F.sum(F.when(F.col("ndocs") >= 2, 1).otherwise(0))
    return (
        sh.join(dfreq, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_passages"),
            shared.alias("n_shared_passages"),
            (
                shared.cast("double") / F.count(F.lit(1)).cast("double")
            ).alias("dup_coverage"),
        )
    )


# ---------------------------------------------------------------------------
# MinHash Jaccard ESTIMATION vs exact (q86) — the Broder estimator the
# whole MinHash construction exists for, checked against ground truth.
# ---------------------------------------------------------------------------

_MH_DUCK_COMPONENTS = minhash_sig_expr("text", 5)[1]


@register(
    "q86_minhash_jaccard_estimate",
    oracle=f"""
    WITH {_DUCK_CAND_CTE},
    comps AS (
      SELECT doc_id,
             {", ".join(f"({e}) AS m{i}" for i, e in enumerate(_MH_DUCK_COMPONENTS))}
      FROM documents
    ),
    d AS (
      SELECT doc_id, {_TG_DUCK} AS tg
      FROM documents
      WHERE len(string_split(text, ' ')) >= 3
    )
    SELECT c.doc_a, c.doc_b,
           CAST({" + ".join(f"(CASE WHEN ca.m{i} = cb.m{i} THEN 1 ELSE 0 END)" for i in range(len(_MH_DUCK_COMPONENTS)))} AS DOUBLE)
             / {len(_MH_DUCK_COMPONENTS)}.0 AS est_jaccard,
           CAST(len(list_intersect(a.tg, b.tg)) AS DOUBLE)
             / CAST(len(list_distinct(a.tg || b.tg)) AS DOUBLE) AS jaccard
    FROM cand c
    JOIN comps ca ON ca.doc_id = c.doc_a
    JOIN comps cb ON cb.doc_id = c.doc_b
    JOIN d a ON a.doc_id = c.doc_a
    JOIN d b ON b.doc_id = c.doc_b
    """,
    doc="MinHash Jaccard estimation vs ground truth (the Broder "
    "estimator LSH is built on): for every banded candidate pair, "
    "est_jaccard = fraction of the 16 permutation minima that agree — "
    "an unbiased estimate of the true resemblance, computed WITHOUT "
    "touching the texts — next to the exact trigram Jaccard for "
    "calibration. In production the estimate IS the verdict (texts "
    "never shuffle; signatures are 128 bytes/doc) and this query is "
    "the audit that the estimator tracks truth "
    "(tests/test_minhash_estimate.py pins the mean absolute error). "
    "Scale shape: constant-size signature join on the candidate pairs; "
    "the exact column exists only for the audit. Both columns are "
    "int/int doubles — bit-identical cross-engine.",
    tags=("dedup", "lsh", "estimation"),
)
def q86_minhash_jaccard_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import jaccard_pairs, minhash_components_pandas

    docs = _ladder_corpus(spark, sf_dir)
    # two consumers below (the estimate join and the exact-audit join)
    # would otherwise each re-run the LSH candidate subtree
    cand = (
        minhash_candidates(docs)
        .select("doc_a", "doc_b")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    n_perms = len(MINHASH_PERMS)
    m = [f"m{i}" for i in range(n_perms)]
    agree = sum(
        F.when(F.col(f"{c}_a") == F.col(f"{c}_b"), 1).otherwise(0) for c in m
    )
    est = pair_sides(cand, minhash_components_pandas(docs), *m).select(
        "doc_a",
        "doc_b",
        (agree.cast("double") / float(n_perms)).alias("est_jaccard"),
    )
    texts = docs.filter(F.size(F.split("text", " ")) >= 3).select("doc_id", "text")
    exact = jaccard_pairs(pair_sides(cand, texts, "text"))
    return est.join(exact, ["doc_a", "doc_b"])


@register(
    "q110_dedup_provenance",
    oracle="""
    SELECT sha256(lower(substring(text, 1, 100))) AS content_hash,
           CAST(MIN(doc_id) AS BIGINT) AS keep_id,
           CAST(COUNT(*) AS BIGINT) AS n_copies,
           string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)
               AS member_ids
    FROM documents
    GROUP BY sha256(lower(substring(text, 1, 100)))
    HAVING COUNT(*) > 1
    """,
    doc="Normalized dedup with a provenance audit trail: documents keyed "
    "by a case-folded leading-content fingerprint (first 100 chars — the "
    "cheap normalization that catches retitled/resuffixed copies exact "
    "hashing misses); for every duplicated key, the surviving doc_id "
    "plus the full sorted member list — the lineage record a curation "
    "pipeline must keep so drops are explainable and reversible "
    "(takedown of one copy must find the survivor; contamination audits "
    "trace which shards a dup came from). The member list is a sorted, "
    "comma-joined string so both engines render it identically. Scale "
    "note: member lists are only materialized for GROUPS WITH DUPLICATES "
    "(the HAVING prunes the unique ~99%), and a pathological "
    "viral-content group caps at its copy count — bounded by the dedup "
    "itself; the 64-hex key shuffles, never the bodies.",
    tags=("dedup", "provenance"),
)
def q110_dedup_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy(
            F.sha2(F.lower(F.substring("text", 1, 100)), 256).alias("content_hash")
        )
        .agg(
            F.min("doc_id").cast("long").alias("keep_id"),
            F.count(F.lit(1)).cast("long").alias("n_copies"),
            F.array_join(
                F.sort_array(F.collect_list(F.col("doc_id").cast("long"))), ","
            ).alias("member_ids"),
        )
        .filter(F.col("n_copies") > 1)
    )


# Planted-pair recall probe: every 10th doc gets a perturbed twin planted
# into the corpus; recall = fraction of planted (orig, twin) pairs the
# production candidate generator recovers. doc_id + _PLANT_OFFSET keeps
# planted ids disjoint from (and greater than) every real id.
LSH_PROBE_MOD = 10
_PLANT_OFFSET = 1_000_000_000
# Perturbation: drop every 4th token — damage spread through the whole
# document (trigram overlap ~ 1/2), hard enough that banding loss shows.
_PERTURB_SPARK = (
    "array_join(filter(split(text, ' '), (x, i) -> (i + 1) % 4 != 0), ' ')"
)
_PERTURB_DUCK = (
    "array_to_string(list_select(string_split(text, ' '), "
    "list_filter(range(1, len(string_split(text, ' ')) + 1), "
    "i -> i % 4 <> 0)), ' ')"
)


@register(
    "q112_lsh_recall_probe",
    # _DUCK_CAND_CTE is defined over `documents`; the probe runs the same
    # generator over the corpus-plus-planted relation, so repoint its one
    # FROM. sigs is the only place the CTE reads a table.
    oracle=f"""
    WITH planted AS (
      SELECT doc_id, {_PERTURB_DUCK} AS text,
             len(string_split(text, ' ')) AS n_tokens
      FROM documents
      WHERE doc_id % {LSH_PROBE_MOD} = 0
        AND len(string_split(text, ' ')) >= 8
    ),
    corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + {_PLANT_OFFSET}, text FROM planted
    ),
    {_DUCK_CAND_CTE.replace("FROM documents", "FROM corpus")},
    probe AS (
      SELECT p.doc_id,
             CASE WHEN p.n_tokens < 30 THEN 'short'
                  WHEN p.n_tokens < 60 THEN 'mid'
                  ELSE 'long' END AS len_bucket,
             CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END AS recovered
      FROM planted p
      LEFT JOIN cand c
        ON c.doc_a = p.doc_id AND c.doc_b = p.doc_id + {_PLANT_OFFSET}
    )
    SELECT len_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_planted,
           CAST(SUM(recovered) AS BIGINT) AS n_recovered,
           CAST((SUM(recovered) * 1000000) // COUNT(*) AS BIGINT)
               AS recall_ppm
    FROM probe GROUP BY len_bucket
    """,
    doc="LSH recall probe with PLANTED near-duplicates: every 10th "
    "document gets a twin with every 4th token dropped (damage spread "
    "through the whole document, trigram overlap ~1/2 — hard enough "
    "that banding loss shows), planted into the corpus under an offset "
    "id; the production MinHash-LSH candidate "
    "generator (q22's plan — caps, banding and all) runs over "
    "corpus+planted, and recall = the fraction of planted (orig, twin) "
    "pairs it recovers, bucketed by document length (banding recall "
    "degrades on short docs — this makes that visible). Planting is the "
    "scale-honest way to measure near-dup recall: true pairs are too "
    "rare (~1e-4 of pairs) for uniform pair-sampling to estimate, and "
    "exhaustive ground truth is quadratic — planted probes keep the "
    "whole eval LINEAR (one extra 10% scan through the generator) at "
    "any corpus size. Ratios are exact integer ppm.",
    tags=("dedup", "lsh", "eval"),
)
def q112_lsh_recall_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    planted = (
        docs.filter(
            (F.col("doc_id") % LSH_PROBE_MOD == 0)
            & (F.size(F.split("text", " ")) >= 8)
        )
        .select(
            "doc_id",
            F.expr(_PERTURB_SPARK).alias("text"),
            F.size(F.split("text", " ")).alias("n_tokens"),
        )
    )
    corpus = docs.unionByName(
        planted.select(
            (F.col("doc_id") + _PLANT_OFFSET).alias("doc_id"), "text"
        )
    )
    cand = minhash_candidates(corpus).select("doc_a", "doc_b")
    probe = planted.join(
        cand,
        (F.col("doc_a") == F.col("doc_id"))
        & (F.col("doc_b") == F.col("doc_id") + _PLANT_OFFSET),
        "left",
    )
    bucket = (
        F.when(F.col("n_tokens") < 30, "short")
        .when(F.col("n_tokens") < 60, "mid")
        .otherwise("long")
    )
    recovered = F.sum(
        F.when(F.col("doc_a").isNotNull(), 1).otherwise(0)
    ).cast("long")
    return probe.groupBy(bucket.alias("len_bucket")).agg(
        F.count(F.lit(1)).cast("long").alias("n_planted"),
        recovered.alias("n_recovered"),
        F.expr(
            "(sum(CASE WHEN doc_a IS NOT NULL THEN 1 ELSE 0 END) * 1000000)"
            " div count(1)"
        ).alias("recall_ppm"),
    )


@register(
    "q117_component_size_histogram",
    # Splice q60's full oracle (its WITH RECURSIVE reachability twin) as
    # the component relation — the histogram can't drift from the
    # clustering it summarizes.
    oracle=f"""
    WITH comp AS ({oracle_of("q60_neardup_components")}),
    sizes AS (
      SELECT component_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
      FROM comp GROUP BY component_id
    )
    SELECT cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_components,
           CAST(SUM(cluster_size) AS BIGINT) AS n_docs
    FROM sizes GROUP BY cluster_size
    """,
    doc="Duplicate-cluster size histogram over the verified near-dup "
    "components (q60's clustering): how many clusters of each size, and "
    "how many documents they hold — the first thing to look at after "
    "any dedup run (a single giant component means the threshold or a "
    "boilerplate family collapsed the corpus; mass in size-1 means the "
    "pipeline is mostly a no-op). Scale shape: two bounded aggregates "
    "on top of the component frame; sizes are component-count-bounded "
    "and the histogram key space is tiny. Observability sibling of "
    "q59's bucket report, one rung later in the ladder.",
    tags=("dedup", "graph", "profiling"),
)
def q117_component_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    comp = q60_neardup_components(spark, sf_dir)
    sizes = comp.groupBy("component_id").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).cast("long").alias("n_components"),
        F.sum("cluster_size").cast("long").alias("n_docs"),
    )


@register(
    "q122_threshold_sweep",
    oracle=f"""
    WITH {_DUCK_CAND_CTE},
    d AS (
      SELECT doc_id, {token_ngrams_duck("text", 3)} AS tg
      FROM documents
      WHERE len(string_split(text, ' ')) >= 3
    ),
    scored AS (
      SELECT CAST(len(list_intersect(a.tg, b.tg)) AS DOUBLE)
               / CAST(len(list_distinct(a.tg || b.tg)) AS DOUBLE) AS jaccard
      FROM cand c JOIN d a ON a.doc_id = c.doc_a JOIN d b ON b.doc_id = c.doc_b
    )
    SELECT CAST(k AS INTEGER) AS threshold_tenths,
           CAST(COUNT(CASE WHEN jaccard >= CAST(k AS DOUBLE) / 10
                           THEN 1 END) AS BIGINT) AS n_pairs
    FROM scored CROSS JOIN unnest(range(1, 10)) AS t(k)
    GROUP BY k
    """,
    doc="Dedup threshold sweep: for every Jaccard cutoff 0.1..0.9, how "
    "many candidate pairs would verify — the tuning curve that picks "
    "NEARDUP_JACCARD from evidence instead of folklore (a cliff in the "
    "curve separates the near-dup population from background "
    "similarity; a flat curve says the threshold barely matters). One "
    "pass: the capped LSH candidates are scored ONCE (q21's exact "
    "Jaccard machinery), then a 9x bounded fan-out buckets each pair "
    "under every threshold — never nine executions of the candidate "
    "subtree. Threshold compares are IEEE-exact in both engines "
    "(identical division, identical k/10 literals).",
    tags=("dedup", "eval", "profiling"),
)
def q122_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    swept = _scored_candidates(_ladder_corpus(spark, sf_dir)).select(
        F.explode(F.expr("sequence(1, 9)")).alias("k"), "jaccard"
    )
    return swept.groupBy(F.col("k").cast("int").alias("threshold_tenths")).agg(
        F.count(
            F.when(F.col("jaccard") >= F.col("k").cast("double") / 10, 1)
        )
        .cast("long")
        .alias("n_pairs")
    )


CONTAINMENT_MIN = 0.5


@register(
    "q126_containment_pairs",
    oracle=f"""
    WITH {_DUCK_CAND_CTE},
    d AS (
      SELECT doc_id, {token_ngrams_duck("text", 3)} AS tg
      FROM documents
      WHERE len(string_split(text, ' ')) >= 3
    )
    SELECT c.doc_a, c.doc_b,
           CAST(len(list_intersect(a.tg, b.tg)) AS BIGINT) AS n_common,
           CAST(len(a.tg) AS BIGINT) AS n_a,
           CAST(len(b.tg) AS BIGINT) AS n_b,
           CAST(len(list_intersect(a.tg, b.tg)) AS DOUBLE)
             / CAST(LEAST(len(a.tg), len(b.tg)) AS DOUBLE) AS containment
    FROM cand c JOIN d a ON a.doc_id = c.doc_a JOIN d b ON b.doc_id = c.doc_b
    WHERE CAST(len(list_intersect(a.tg, b.tg)) AS DOUBLE)
            / CAST(LEAST(len(a.tg), len(b.tg)) AS DOUBLE)
          >= {CONTAINMENT_MIN}
    """,
    doc="Containment scoring over the capped LSH candidates: "
    "|A∩B| / min(|A|,|B|) of distinct trigram sets — the asymmetric "
    "near-dup measure that catches PARTIAL COPIES (a short doc quoted "
    "wholesale inside a long one scores near 1.0 here but low on "
    "Jaccard, because the union is dominated by the long doc). The "
    "standard second verifier next to q21 in curation: Jaccard for "
    "same-size twins, containment for quote/excerpt inclusion. Same "
    "bounded pair set as q21 (LSH candidates only, hot-bucket caps "
    "inherited), set sizes are exact integers, one IEEE division.",
    tags=("dedup", "join"),
)
def q126_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _ladder_corpus(spark, sf_dir)
    cand = minhash_candidates(corpus).select("doc_a", "doc_b")
    docs = _tg_docs(corpus.filter(F.size(F.split("text", " ")) >= 3))
    pairs = pair_sides(cand, docs, "tg")
    n_common = F.size(F.array_intersect("tg_a", "tg_b")).cast("long")
    containment = n_common.cast("double") / F.least(
        F.size("tg_a"), F.size("tg_b")
    ).cast("double")
    return (
        pairs.select(
            "doc_a",
            "doc_b",
            n_common.alias("n_common"),
            F.size("tg_a").cast("long").alias("n_a"),
            F.size("tg_b").cast("long").alias("n_b"),
            containment.alias("containment"),
        )
        .filter(F.col("containment") >= CONTAINMENT_MIN)
    )


# Deterministic synthetic "next release" for the snapshot-diff operator:
# every 13th doc removed, every 7th doc's text perturbed, every 11th doc
# re-added under an offset id. The TRANSFORM is synthetic (the testdata has
# only one corpus version); the DIFF is the real operator.
DIFF_REMOVE_MOD = 13
DIFF_CHANGE_MOD = 7
DIFF_ADD_MOD = 11


@register(
    "q131_snapshot_diff",
    oracle=f"""
    WITH old AS (
      SELECT doc_id, sha256(text) AS h FROM documents
    ),
    new AS (
      SELECT doc_id,
             CASE WHEN doc_id % {DIFF_CHANGE_MOD} = 0
                  THEN sha256(text || ' v2') ELSE sha256(text) END AS h
      FROM documents WHERE doc_id % {DIFF_REMOVE_MOD} <> 0
      UNION ALL
      SELECT doc_id + {_PLANT_OFFSET}, sha256(text)
      FROM documents WHERE doc_id % {DIFF_ADD_MOD} = 0
    )
    SELECT CASE WHEN o.doc_id IS NULL THEN 'added'
                WHEN n.doc_id IS NULL THEN 'removed'
                WHEN o.h <> n.h THEN 'changed'
                ELSE 'unchanged' END AS status,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM old o FULL OUTER JOIN new n ON n.doc_id = o.doc_id
    GROUP BY 1
    """,
    doc="Dataset snapshot diff — the release audit between two corpus "
    "versions: full outer join on doc_id, content hashes deciding "
    "added/removed/changed/unchanged, rolled up to a 4-row changelog "
    "summary (the per-doc detail is the same plan without the final "
    "GROUP BY). Every training-data release should ship this next to "
    "its manifest: silent upstream drift (a loader change re-extracting "
    "text) shows up as a 'changed' count nobody expected. The 'new' "
    "snapshot here is a deterministic synthetic transform of the corpus "
    "(testdata has one version); the diff itself is the production "
    "operator. Scale shape: one co-partitioned full outer join on the "
    "id; hashes computed map-side; only 64-hex keys shuffle.",
    tags=("dedup", "governance", "provenance"),
)
def q131_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    old = docs.select("doc_id", F.sha2("text", 256).alias("h"))
    changed = F.when(
        F.col("doc_id") % DIFF_CHANGE_MOD == 0,
        F.sha2(F.concat(F.col("text"), F.lit(" v2")), 256),
    ).otherwise(F.sha2("text", 256))
    new = (
        docs.filter(F.col("doc_id") % DIFF_REMOVE_MOD != 0)
        .select("doc_id", changed.alias("h"))
        .unionByName(
            docs.filter(F.col("doc_id") % DIFF_ADD_MOD == 0).select(
                (F.col("doc_id") + _PLANT_OFFSET).alias("doc_id"),
                F.sha2("text", 256).alias("h"),
            )
        )
    )
    o = old.select(F.col("doc_id").alias("o_id"), F.col("h").alias("o_h"))
    n = new.select(F.col("doc_id").alias("n_id"), F.col("h").alias("n_h"))
    joined = o.join(n, o.o_id == n.n_id, "full_outer")
    status = (
        F.when(F.col("o_id").isNull(), "added")
        .when(F.col("n_id").isNull(), "removed")
        .when(F.col("o_h") != F.col("n_h"), "changed")
        .otherwise("unchanged")
    )
    return joined.groupBy(status.alias("status")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )


# q58's registered oracle is spliced verbatim into q139's oracle; import
# its module here (idempotent — load_all() imports it later anyway) so the
# splice can't drift from the split it audits.
from . import text_queries as _text_queries  # noqa: E402,F401


@register(
    "q139_split_leakage_audit",
    # The split side is q58's registered oracle verbatim; the pair side is
    # the q21 verified-near-dup pipeline — the audit composes the two
    # production artifacts it audits.
    oracle=f"""
    WITH {_DUCK_VERIFIED_PRELUDE},
    splits AS ({oracle_of("q58_stratified_sample_split")})
    SELECT sa.split AS split_a, sb.split AS split_b,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM verified v
    JOIN splits sa ON sa.doc_id = v.doc_a
    JOIN splits sb ON sb.doc_id = v.doc_b
    GROUP BY sa.split, sb.split
    """,
    doc="Train/test split leakage audit: every VERIFIED near-dup pair "
    "(q21's capped-LSH + Jaccard pipeline) classified by which splits "
    "its two documents landed in (q58's deterministic split, spliced "
    "verbatim) — any pair straddling train and val/test is evaluation "
    "contamination by near-duplication, the leak that inflates held-out "
    "scores even after exact dedup. The fix this audit motivates: "
    "split by near-dup COMPONENT (q60's component_id as the split key) "
    "instead of per-document. Scale shape: the pair pipeline's existing "
    "cost plus two doc_id-keyed join probes into the split assignment; "
    "output is a <=9-cell matrix. Only pairs where BOTH docs survived "
    "q58's sampling appear — unsampled docs can't leak.",
    tags=("dedup", "eval", "governance"),
)
def q139_split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .text_queries import stratified_sample_split

    corpus = _ladder_corpus(spark, sf_dir)
    verified = _verified(corpus).select("doc_a", "doc_b")
    splits = stratified_sample_split(corpus).select("doc_id", "split")
    return (
        pair_sides(verified, splits, "split")
        .groupBy("split_a", "split_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )


# Component-keyed splitting uses its own salt pair (q58 convention).
CSPLIT_A, CSPLIT_B = 439_759_219, 886_731_089


@register(
    "q153_component_keyed_split",
    # The component relation is q60's oracle verbatim (the same splice as
    # q117/q139): the split is keyed on exactly the clustering it must
    # respect.
    oracle=f"""
    WITH comp AS ({oracle_of("q60_neardup_components")})
    SELECT doc_id, component_id,
           CASE WHEN ({CSPLIT_A} * (component_id % 1000000007) + {CSPLIT_B}) % 100
                     < {80} THEN 'train'
                WHEN ({CSPLIT_A} * (component_id % 1000000007) + {CSPLIT_B}) % 100
                     < {90} THEN 'val'
                ELSE 'test' END AS split
    FROM comp
    """,
    doc="Component-keyed train/val/test split — the fix q139's leakage "
    "audit motivates: the split decision hashes the near-dup COMPONENT "
    "id (q60's clustering, oracle spliced verbatim), not the document, "
    "so every member of a duplicate cluster lands in the same split and "
    "cross-split near-dup leakage is ZERO BY CONSTRUCTION (asserted in "
    "tests), not merely measured small. Per-doc hashing (q58) remains "
    "correct for sampling; splitting must be component-keyed whenever "
    "eval integrity matters. Scale shape: the CC cost is already paid "
    "by the dedup pipeline; the split itself is a map-side affine "
    "transform of the component id — singleton components (the ~99%) "
    "behave exactly like per-doc hashing.",
    tags=("dedup", "eval", "sampling", "iterative"),
)
def q153_component_keyed_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    comp = q60_neardup_components(spark, sf_dir)
    slot = (
        F.lit(CSPLIT_A) * (F.col("component_id") % 1_000_000_007)
        + F.lit(CSPLIT_B)
    ) % 100
    return comp.select(
        "doc_id",
        "component_id",
        F.when(slot < 80, "train")
        .when(slot < 90, "val")
        .otherwise("test")
        .alias("split"),
    )


# ---------------------------------------------------------------------------
# Materialize-once component reuse — the production shape for the CC family.
# q60/q117/q139/q153 are self-contained registry entries, which means each
# recomputes the LSH -> verify -> connected-components ladder from scratch;
# fine for an oracle-checked catalog, wrong for a 100 TB pipeline, where
# components are computed ONCE per corpus snapshot and every consumer
# (histogram, split, leakage audit, dedup drop list) reads the parquet.
# ---------------------------------------------------------------------------


def component_rollup(comp: DataFrame) -> DataFrame:
    """Derive the whole CC consumer family from one scan of a materialized
    component frame: member-level cluster sizes (q117's histogram is one
    aggregate away) and the component-keyed split (q153's rule, salts
    spliced verbatim). One shuffle on component_id (the window); the split
    is a map-side affine transform."""
    size_w = Window.partitionBy("component_id")
    slot = (
        F.lit(CSPLIT_A) * (F.col("component_id") % 1_000_000_007)
        + F.lit(CSPLIT_B)
    ) % 100
    return comp.select(
        "doc_id",
        "component_id",
        F.count(F.lit(1)).over(size_w).cast("long").alias("cluster_size"),
        F.when(slot < 80, "train")
        .when(slot < 90, "val")
        .otherwise("test")
        .alias("split"),
    )


@register(
    "q155_component_reuse_rollup",
    oracle=f"""
    WITH comp AS ({oracle_of("q60_neardup_components")})
    SELECT doc_id, component_id,
           CAST(COUNT(*) OVER (PARTITION BY component_id) AS BIGINT)
               AS cluster_size,
           CASE WHEN ({CSPLIT_A} * (component_id % 1000000007) + {CSPLIT_B}) % 100
                     < 80 THEN 'train'
                WHEN ({CSPLIT_A} * (component_id % 1000000007) + {CSPLIT_B}) % 100
                     < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM comp
    """,
    doc="Materialize-once component reuse — the PRODUCTION composition "
    "for the connected-components family: q60's clustering is computed "
    "ONCE per (session, corpus) and written as a parquet checkpoint "
    "(checkpoint.materialize_parquet, the rule behind the verified-pair "
    "checkpoints), so a second call reads it back instead of rerunning "
    "the ladder; the consumer family derives from that one scan "
    "(member-level cluster sizes = q117's histogram one aggregate away; "
    "the component-keyed split = q153's rule, same "
    "salts). The self-contained entries q60/q117/q139/q153 each rerun "
    "the LSH->verify->CC ladder — correct, but at corpus scale the "
    "ladder runs once per snapshot and everything downstream reads the "
    "checkpoint; this entry IS that shape, and its oracle (q60's "
    "recursive twin + window + split case) proves the materialize/"
    "read-back round trip loses nothing. tests/test_component_reuse.py "
    "additionally pins derived == self-contained for all three "
    "consumers and one build per session, and the curation driver "
    "materializes the same frame as a numbered stage. Scale shape: the "
    "CC cost is paid once; the rollup is one component_id window over a "
    "two-column parquet.",
    tags=("dedup", "graph", "iterative", "composition"),
)
def q155_component_reuse_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = materialize_parquet(
        spark, sf_dir, "components",
        lambda: q60_neardup_components(spark, sf_dir),
    )
    return component_rollup(read_checkpoint(spark, path))


# Incremental CC: which doc_ids count as "the new batch" (every 7th doc,
# ~14% — big enough to merge components, small enough to be a batch).
INCR_CC_MOD, INCR_CC_REM = 7, 3


@register(
    "q157_incremental_components",
    # The contract IS the oracle: merging a batch into the prior
    # component state must equal a full recompute over corpus+batch —
    # q60's recursive reachability twin, spliced verbatim.
    oracle=f"""
    WITH comp AS ({oracle_of("q60_neardup_components")})
    SELECT doc_id, component_id FROM comp
    """,
    doc="INCREMENTAL connected components — the 'new shard arrives' path "
    "a production dedup pipeline runs daily instead of re-clustering "
    "the corpus: docs are split into the existing corpus (~86%) and a "
    "new batch (every 7th doc); the prior component state (q155's "
    "materialized frame — recomputed here only because registry "
    "entries are self-contained) is CONTRACTED to one node per "
    "component, the batch's fresh edges are the verified pairs "
    "TOUCHING the batch (a map-side filter — the q80 probe shape: "
    "O(batch x bucket), never O(corpus^2); verification is per-pair, "
    "so q21's verified set split by the batch predicate equals the two "
    "sets verified separately), and min-label CC runs on the "
    "contracted graph, whose edge set is batch-sized and whose old "
    "components are already collapsed (1-2 "
    "rounds, vs log(n) from scratch). Because every old component id "
    "is the min doc_id of its members, min-label over the contracted "
    "graph reproduces the full-recompute labels EXACTLY — the oracle "
    "is q60's full-ladder recursive twin, so the hash match proves "
    "incremental == from-scratch. Bucket caps are computed over the "
    "FULL population (exactly the production form: the materialized "
    "band index already reflects global bucket sizes), so equality "
    "holds even where caps bite. q157 and its checkpoint twin q262 run "
    "one contract-and-merge plan (_incremental_components), which "
    "below the graph operator's small-graph bound runs the whole "
    "algebra on the driver over one collect. Scale shape: one verify "
    "pass + CC over a component-count node set with batch-bounded "
    "edges.",
    tags=("dedup", "graph", "iterative", "incremental"),
)
def q157_incremental_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    # bucket caps see the full population, as the production materialized
    # band index would; verification is per-pair, so q21's verified set
    # split by the batch predicate is exactly the old-old and
    # touches-new sets verified separately (filter and verify commute).
    corpus = _ladder_corpus(spark, sf_dir)
    pairs = _verified(corpus).select("doc_a", "doc_b")
    return _incremental_components(corpus.select("doc_id"), pairs)


def _py_rem(d: int, mod: int) -> int:
    """Spark's % (remainder, sign of the dividend) — NOT Python's %
    (sign of the divisor) — so the driver-side batch predicate matches
    the SQL one even for negative ids."""
    r = abs(d) % mod
    return -r if d < 0 else r


def _incremental_labels(pairs) -> dict:
    """The collected contract-and-merge algebra: union-find-by-min over
    the old-old edges (== base CC labels: min old doc id per component),
    contract each new-batch edge through those labels (old endpoint ->
    base label, batch endpoint -> itself), union-find-by-min again over
    the contracted edges (== merge CC labels). Every doc whose label can
    differ from its own id is an edge endpoint (a non-endpoint doc is a
    singleton in base and its rep is touched by no contracted edge), so
    the endpoint labels are the whole map."""
    from ..operators.graph import union_find_by_min

    def is_new(d: int) -> bool:
        return _py_rem(d, INCR_CC_MOD) == INCR_CC_REM

    old = [(a, b) for a, b in pairs if not (is_new(a) or is_new(b))]
    new = [(a, b) for a, b in pairs if is_new(a) or is_new(b)]
    base = union_find_by_min(old)

    def rep(d: int) -> int:
        return d if is_new(d) else base.get(d, d)

    merged = union_find_by_min((rep(a), rep(b)) for a, b in new)
    return {d: merged.get(rep(d), rep(d)) for ab in pairs for d in ab}


def _incremental_components(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Contract-and-merge incremental CC over the (doc_id) node frame
    ``docs`` and the verified (doc_a, doc_b) pairs, split into old-old
    and touches-new by the batch predicate — the one plan of q157 (q21's
    verified pairs) and q262 (the verified-pair checkpoint).

    Below the graph operator's small-graph bound (round-12 verdict item
    5) BOTH CC invocations would collect their edge lists to the driver
    anyway — so the whole algebra (_incremental_labels) runs ONCE on the
    driver over one collect, and the distributed plan collapses to one
    docs scan + one broadcast label join, replacing base-CC -> two
    contraction joins -> corpus-sized distinct -> merge-CC -> final
    join. Union-by-min roots make every label the component's min id,
    exactly the star fixpoint's labels, so the result is row-identical
    — pinned by test. One collect of at most bound + 1 pairs both sizes
    and fetches the graph. Above the bound the distributed path below
    runs, with the same bound passed to both CC calls."""
    from ..operators import graph

    bound = graph.CC_SMALL_GRAPH_MAX_EDGES
    if bound > 0:  # 0 disables the cutover
        rows = pairs.limit(bound + 1).collect()
        if len(rows) <= bound:
            return graph.driver_labels_frame(
                docs, "doc_id", _incremental_labels(rows)
            )
    touches_new = (F.col("doc_a") % INCR_CC_MOD == INCR_CC_REM) | (
        F.col("doc_b") % INCR_CC_MOD == INCR_CC_REM
    )
    # the two filter branches read the pairs twice; the persist stops
    # q157's second read re-running the LSH -> verify ladder (guide §2.4)
    pairs = pairs.persist(StorageLevel.MEMORY_AND_DISK)
    old_pairs, new_pairs = pairs.filter(~touches_new), pairs.filter(touches_new)
    is_new = (F.col("doc_id") % INCR_CC_MOD) == INCR_CC_REM
    old_docs = docs.filter(~is_new)
    new_docs = docs.filter(is_new)

    base = graph.connected_components(
        old_docs, old_pairs,
        id_col="doc_id", src_col="doc_a", dst_col="doc_b",
        small_graph_max_edges=bound,
    ).select(F.col("id").alias("doc_id"), F.col("component_id").alias("label"))

    # contract: old docs are represented by their component id (the min
    # doc_id of the old component), new docs by themselves
    rep = base.select("doc_id", F.col("label").alias("rep")).unionByName(
        new_docs.select("doc_id", F.col("doc_id").alias("rep"))
    )
    contracted_edges = (
        pair_sides(new_pairs, rep, "rep")
        .filter(F.col("rep_a") != F.col("rep_b"))
        .select(F.col("rep_a").alias("doc_a"), F.col("rep_b").alias("doc_b"))
        .distinct()
    )
    contracted_nodes = rep.select(F.col("rep").alias("doc_id")).distinct()
    merged = graph.connected_components(
        contracted_nodes, contracted_edges,
        id_col="doc_id", src_col="doc_a", dst_col="doc_b",
        small_graph_max_edges=bound,
    ).select(F.col("id").alias("rep"), "component_id")

    return rep.join(merged, "rep").select("doc_id", "component_id")


# Cross-source content-overlap audit: bottom-k (KMV) sketch Jaccard between
# every pair of sources, audited against the exact fingerprint join. The
# sketch is the 100 TB form — per-source state is K int64 values, mergeable
# across shards/days (min-merge), and pair estimation touches only
# n_sources * K rows; the exact columns are the q86-convention audit that
# exists to make estimator error observable, not silent.
OVERLAP_K = 64
OVERLAP_A, OVERLAP_B = 667349063, 152287541  # sketch-key affine permutation
_FP_DUCK = _KEY_DUCK
from ..functions.scalar import POLY_MOD  # noqa: E402


@register(
    "q161_source_overlap_sketch",
    oracle=f"""
    WITH fp AS (
      SELECT DISTINCT source,
             ({OVERLAP_A} * {_FP_DUCK} + {OVERLAP_B}) % {POLY_MOD} AS sk
      FROM documents
    ),
    counts AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_vals FROM fp GROUP BY source
    ),
    sketch AS (
      SELECT source, sk FROM (
        SELECT source, sk,
               ROW_NUMBER() OVER (PARTITION BY source ORDER BY sk) AS rn
        FROM fp
      ) WHERE rn <= {OVERLAP_K}
    ),
    pairs AS (
      SELECT a.source AS src_a, b.source AS src_b
      FROM counts a JOIN counts b ON a.source < b.source
    ),
    tagged AS (
      SELECT p.src_a, p.src_b, s.sk,
             CASE WHEN s.source = p.src_a THEN 1 ELSE 0 END AS in_a,
             CASE WHEN s.source = p.src_b THEN 1 ELSE 0 END AS in_b
      FROM pairs p JOIN sketch s ON s.source IN (p.src_a, p.src_b)
    ),
    uni AS (
      SELECT src_a, src_b, sk, MAX(in_a) AS in_a, MAX(in_b) AS in_b
      FROM tagged GROUP BY src_a, src_b, sk
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY src_a, src_b ORDER BY sk)
                 AS rn
      FROM uni
    ),
    est AS (
      SELECT src_a, src_b,
             CAST(COUNT(*) AS BIGINT) AS sketch_k,
             CAST(SUM(in_a * in_b) AS BIGINT) AS n_common_in_sketch
      FROM ranked WHERE rn <= {OVERLAP_K} GROUP BY src_a, src_b
    ),
    exact AS (
      SELECT p.src_a, p.src_b,
             CAST(COALESCE(x.n_common, 0) AS BIGINT) AS n_exact_common
      FROM pairs p LEFT JOIN (
        SELECT a.source AS src_a, b.source AS src_b,
               COUNT(*) AS n_common
        FROM fp a JOIN fp b ON a.sk = b.sk AND a.source < b.source
        GROUP BY 1, 2
      ) x ON x.src_a = p.src_a AND x.src_b = p.src_b
    )
    SELECT e.src_a, e.src_b, e.sketch_k, e.n_common_in_sketch,
           CAST((e.n_common_in_sketch * 1000000) // e.sketch_k AS BIGINT)
               AS jaccard_est_ppm,
           x.n_exact_common,
           CAST((x.n_exact_common * 1000000)
                // (ca.n_vals + cb.n_vals - x.n_exact_common) AS BIGINT)
               AS jaccard_exact_ppm
    FROM est e
    JOIN exact x ON x.src_a = e.src_a AND x.src_b = e.src_b
    JOIN counts ca ON ca.source = e.src_a
    JOIN counts cb ON cb.source = e.src_b
    """,
    doc="Cross-source content-overlap audit: for every pair of sources, "
    "a bottom-k (KMV) sketch estimate of the Jaccard overlap of their "
    f"distinct content fingerprints (K={OVERLAP_K} smallest affine-"
    "permuted fps per source; estimate = shared fraction of the union's "
    "bottom-K) next to the exact fingerprint-join overlap — the "
    "provenance question a corpus curator asks before mixing sources "
    "('how much of src7 is already in src3?'), and the q86 convention: "
    "the estimator ships WITH its exact audit so sketch error is "
    "observable, never silent. Scale shape: per-source sketch state is "
    f"K={OVERLAP_K} int64 values — mergeable across shards and days by "
    "min-merge, so at 100 TB each increment sketches only its own docs; "
    "the Spark plan builds sketches in two bounded window levels "
    "(bottom-K within fp%256 sub-buckets, then bottom-K of the <=256*K "
    "survivors — no single task ever sees a source's full distinct-fp "
    "stream, and the two-level result is provably the global bottom-K); "
    "pair estimation then touches n_sources*K rows. The exact-join "
    "audit columns are themselves equi-joins on fp (no pair blowup: "
    "only genuinely shared fingerprints meet).",
    tags=("dedup", "profiling", "sketch"),
)
def q161_source_overlap_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    fps = (
        fingerprint_pandas(docs)
        .join(docs.select("doc_id", "source"), "doc_id")
        .select(
            "source",
            ((F.lit(OVERLAP_A) * F.col("content_fp") + F.lit(OVERLAP_B))
             % POLY_MOD).alias("sk"),
        )
        .distinct()
    )
    counts = fps.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_vals")
    )
    # Two-level bottom-K: sub-bucket windows bound every task's input; the
    # survivors (<= 256*K per source) feed the per-source window. Bottom-K
    # of per-bucket bottom-Ks == global bottom-K (every global winner wins
    # its own bucket), so the oracle's one-level form matches exactly.
    w1 = Window.partitionBy("source", F.col("sk") % 256).orderBy("sk")
    w2 = Window.partitionBy("source").orderBy("sk")
    sketch = (
        fps.withColumn("rn1", F.row_number().over(w1))
        .filter(F.col("rn1") <= OVERLAP_K)
        .withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") <= OVERLAP_K)
        .select("source", "sk")
    )
    # Pair universe: source-count-sized (not data-sized) — broadcast the
    # right side so the < theta-join plans as BroadcastNestedLoop, never a
    # CartesianProduct node. Sketch values then reach their pairs through
    # two EQUI-joins (one per pair side) + union: broadcast hash joins,
    # no OR-condition nested loop over the value stream.
    pairs = counts.select(F.col("source").alias("src_a")).join(
        F.broadcast(counts.select(F.col("source").alias("src_b"))),
        F.col("src_a") < F.col("src_b"),
    )
    va = sketch.join(
        F.broadcast(pairs), sketch["source"] == pairs["src_a"]
    ).select(
        "src_a", "src_b", "sk",
        F.lit(1).alias("in_a"), F.lit(0).alias("in_b"),
    )
    vb = sketch.join(
        F.broadcast(pairs), sketch["source"] == pairs["src_b"]
    ).select(
        "src_a", "src_b", "sk",
        F.lit(0).alias("in_a"), F.lit(1).alias("in_b"),
    )
    tagged = va.unionByName(vb)
    uni = tagged.groupBy("src_a", "src_b", "sk").agg(
        F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b")
    )
    wp = Window.partitionBy("src_a", "src_b").orderBy("sk")
    est = (
        uni.withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") <= OVERLAP_K)
        .groupBy("src_a", "src_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("sketch_k"),
            F.sum(F.col("in_a") * F.col("in_b")).cast("long")
            .alias("n_common_in_sketch"),
        )
    )
    exact_common = (
        fps.alias("a")
        .join(fps.alias("b"), "sk")
        .filter(F.col("a.source") < F.col("b.source"))
        .groupBy(
            F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    exact = pairs.join(exact_common, ["src_a", "src_b"], "left").select(
        "src_a", "src_b",
        F.coalesce("n_common", F.lit(0)).cast("long").alias("n_exact_common"),
    )
    return (
        est.join(exact, ["src_a", "src_b"])
        .join(
            F.broadcast(counts.select(F.col("source").alias("src_a"),
                                      F.col("n_vals").alias("nv_a"))),
            "src_a",
        )
        .join(
            F.broadcast(counts.select(F.col("source").alias("src_b"),
                                      F.col("n_vals").alias("nv_b"))),
            "src_b",
        )
        .select(
            "src_a", "src_b", "sketch_k", "n_common_in_sketch",
            F.expr("CAST((n_common_in_sketch * 1000000) div sketch_k AS LONG)")
            .alias("jaccard_est_ppm"),
            "n_exact_common",
            F.expr(
                "CAST((n_exact_common * 1000000) div "
                "(nv_a + nv_b - n_exact_common) AS LONG)"
            ).alias("jaccard_exact_ppm"),
        )
    )


# Longest common token span per candidate pair — the ExactSubstr-flavored
# verification metric (Lee et al. 2022, "Deduplicating Training Data Makes
# Language Models Better": substring-level duplication matters even when
# set-similarity is low; a long verbatim span is a stronger dup signal
# than trigram Jaccard for partial copies and quotations). Computed
# RELATIONALLY — token-position equi-join + diagonal gaps-and-islands —
# identical plans in both engines, no per-pair DP.
SPAN_TF_CAP = 32  # positions kept per (doc, token): bounds match fan-out


@register(
    "q162_longest_common_span",
    oracle=f"""
    WITH {_DUCK_CAND_CTE},
    pos0 AS (
      SELECT doc_id, t.i AS pos, string_split(text, ' ')[t.i] AS tok
      FROM documents,
           unnest(range(1, len(string_split(text, ' ')) + 1)) AS t(i)
    ),
    posr AS (
      SELECT doc_id, pos, tok,
             ROW_NUMBER() OVER (PARTITION BY doc_id, tok ORDER BY pos) AS rn
      FROM pos0
    ),
    kept AS (SELECT doc_id, pos, tok FROM posr WHERE rn <= {SPAN_TF_CAP}),
    capped AS (SELECT DISTINCT doc_id FROM posr WHERE rn > {SPAN_TF_CAP}),
    m AS (
      SELECT c.doc_a, c.doc_b, a.pos AS i, b.pos AS j
      FROM cand c
      JOIN kept a ON a.doc_id = c.doc_a
      JOIN kept b ON b.doc_id = c.doc_b AND b.tok = a.tok
    ),
    runs AS (
      SELECT doc_a, doc_b, CAST(COUNT(*) AS BIGINT) AS run_len
      FROM (
        SELECT doc_a, doc_b, i - j AS d, i,
               i - ROW_NUMBER() OVER (PARTITION BY doc_a, doc_b, i - j
                                      ORDER BY i) AS isl
        FROM m
      )
      GROUP BY doc_a, doc_b, d, isl
    ),
    agg AS (
      SELECT doc_a, doc_b,
             CAST(MAX(run_len) AS BIGINT) AS longest_span,
             CAST(SUM(run_len) AS BIGINT) AS n_match_positions
      FROM runs GROUP BY doc_a, doc_b
    )
    SELECT c.doc_a, c.doc_b,
           CAST(COALESCE(g.longest_span, 0) AS BIGINT) AS longest_span,
           CAST(COALESCE(g.n_match_positions, 0) AS BIGINT)
               AS n_match_positions,
           (ca.doc_id IS NOT NULL OR cb.doc_id IS NOT NULL) AS tf_capped
    FROM cand c
    LEFT JOIN agg g ON g.doc_a = c.doc_a AND g.doc_b = c.doc_b
    LEFT JOIN capped ca ON ca.doc_id = c.doc_a
    LEFT JOIN capped cb ON cb.doc_id = c.doc_b
    """,
    doc="Longest common contiguous token span per LSH candidate pair — "
    "the ExactSubstr-flavored dup signal (Lee et al. 2022): a long "
    "verbatim run marks partial copies and quotations that trigram "
    "Jaccard under-scores. A common span of length L is exactly L "
    "consecutive match points on one diagonal i-j of the token-position "
    "match relation; the ORACLE computes that relationally (position "
    "equi-join + gaps-and-islands windows), the Spark side computes the "
    "same integers per pair INSIDE the Arrow batch with a rolling "
    "diagonal dict (O(matches) time, O(row) memory) — chosen by "
    "EXECUTING both at gen100x, where the relational form's windows "
    "shuffle the full match relation (candidates x shared-token "
    "positions, billions of rows, >56 GB exchange) while the q21-shaped "
    "pair form ships only candidate pairs with their two texts. "
    f"Per-(doc, token) positions are capped at the first {SPAN_TF_CAP} "
    "(identical in both engines, surfaced via tf_capped): exact "
    "whenever no token repeats past the cap in a doc, conservative "
    "(never inflated) beyond it — without the cap, a degenerate doc of "
    "one repeated token makes match work quadratic per pair. Pair work "
    "only on LSH candidates (hot-bucket-capped upstream); never "
    "all-pairs.",
    tags=("dedup", "join", "window"),
)
def q162_longest_common_span(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Arrow per-pair form (one row per candidate pair): span work stays local
    # compute inside the batch. The relational diagonal-islands twin (the
    # oracle) is exact but shuffles the full match relation — candidates
    # x shared-token positions — for its windows; EXECUTED at gen100x
    # that was a >56 GB exchange (billions of match rows) where this
    # form ships only the candidate pairs with their two texts.
    from ..operators.text import common_span_pandas

    corpus = _ladder_corpus(spark, sf_dir)
    cand = minhash_candidates(corpus).select("doc_a", "doc_b")
    return common_span_pandas(pair_sides(cand, corpus, "text"), SPAN_TF_CAP)


# ---------------------------------------------------------------------------
# Edit-distance verification (q163): the third verification rung of the
# ladder, beside set-overlap (q21 Jaccard) and order-sensitive span
# (q162). Levenshtein distance is the measure CCNet/The-Pile-era fuzzy
# dedup used for short fields (titles, URLs) because it catches
# char-level rewrites (typo farms, template fills) that token-set
# Jaccard misses entirely. Cost per pair is O(len_a * len_b), so both
# engines score a fixed character prefix — the cap is the scale
# guarantee: per-pair work is a constant <= EDIT_PREFIX^2 regardless of
# document length, and pair work only exists for LSH candidates.
EDIT_PREFIX = 256
EDIT_SIM_MIN_PPM = 500_000


@register(
    "q163_edit_distance_verify",
    oracle=f"""
    WITH {_DUCK_CAND_CTE},
    d AS (
      SELECT doc_id, substr(text, 1, {EDIT_PREFIX}) AS pfx FROM documents
    ),
    scored AS (
      SELECT c.doc_a, c.doc_b,
             CAST(levenshtein(a.pfx, b.pfx) AS BIGINT) AS lev_dist,
             CAST(GREATEST(length(a.pfx), length(b.pfx), 1) AS BIGINT)
                 AS max_len
      FROM cand c JOIN d a ON a.doc_id = c.doc_a
                  JOIN d b ON b.doc_id = c.doc_b
    )
    SELECT doc_a, doc_b, lev_dist, max_len,
           CAST(((max_len - lev_dist) * 1000000) // max_len AS BIGINT)
               AS sim_ppm
    FROM scored
    WHERE ((max_len - lev_dist) * 1000000) // max_len
          >= {EDIT_SIM_MIN_PPM}
    """,
    doc="Character-level (Levenshtein) verification of the LSH candidate "
    "pairs — the edit-distance rung of the verify ladder next to q21's "
    "token-set Jaccard and q162's common-span: catches char-level "
    "rewrites (template fills, typo farms) that leave token "
    "multisets looking dissimilar. Similarity is reported in exact "
    "integer ppm of the longer prefix, so both engines agree "
    "bit-for-bit (lengths and distances are ints; the division is "
    f"integer). Scale shape: distance runs on a {EDIT_PREFIX}-char "
    "prefix, bounding per-pair work to a CONSTANT (the DP never sees a "
    "full document), and pairs exist only for hot-bucket-capped "
    "LSH candidates — never all-pairs. The Spark side uses the "
    "THRESHOLD form of its built-in JVM levenshtein (banded O(L*t) DP, "
    "early exit past EDIT_PREFIX/2) — result-identical because the sim "
    "gate already implies lev <= max_len/2 <= EDIT_PREFIX/2, and proven "
    "so by the oracle hash, which runs the plain unbanded form.",
    tags=("dedup", "join"),
)
def q163_edit_distance_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The prefix is the cost knob: DP cells grow as EDIT_PREFIX². A sweep
    # at gen100x (commit 1e9ee96) measured 256 -> 128 as 234.5 -> 122.7 s
    # for ~1% pair churn each way, and 64 as a flood of spurious pairs
    # (+76%); 256 stays the exact default.
    corpus = _ladder_corpus(spark, sf_dir)
    cand = minhash_candidates(corpus).select("doc_a", "doc_b")
    d = corpus.select("doc_id", F.substring("text", 1, EDIT_PREFIX).alias("pfx"))
    # Banded DP: any pair the sim gate keeps has lev <= max_len/2 <=
    # EDIT_PREFIX/2, so running levenshtein with that threshold (Spark's
    # 3-arg form returns -1 past it) is RESULT-IDENTICAL while the DP
    # explores an O(L*t) band and bails early on the dissimilar majority
    # of organic candidates — measured 268s -> (see BASELINE.md) at the
    # gen100x scale run for the plain O(L^2) form.
    scored = (
        pair_sides(cand, d, "pfx")
        .select(
            "doc_a",
            "doc_b",
            F.levenshtein("pfx_a", "pfx_b", EDIT_PREFIX // 2)
            .cast("long").alias("lev_dist"),
            F.greatest(
                F.length("pfx_a"), F.length("pfx_b"), F.lit(1)
            ).cast("long").alias("max_len"),
        )
        .filter(F.col("lev_dist") >= 0)
    )
    return scored.select(
        "doc_a",
        "doc_b",
        "lev_dist",
        "max_len",
        F.expr("(max_len - lev_dist) * 1000000 div max_len").alias("sim_ppm"),
    ).filter(F.col("sim_ppm") >= EDIT_SIM_MIN_PPM)


# ---------------------------------------------------------------------------
# Integer PageRank over the verified near-dup graph (q164): beyond
# membership (q60's components), WHICH doc is the hub of a duplication
# cluster matters — the canonical-survivor pick and the
# "template detection" question (one page duplicated into thousands)
# are both centrality questions. Fixed-point arithmetic makes the
# iterative algorithm fully oracle-checkable: pr is an integer
# micro-probability, per-edge contribution is pr div deg (int), damping
# 0.85 is applied as (17 * s) div 20 — exactly floor(0.85 * s), with a
# 5.4e17 overflow ceiling instead of the 9.2e15 the naive
# (850000 * s) div 1000000 form has.
PAGERANK_ITERS = 3


def _pagerank_duck_iter(prev: str, out: str) -> str:
    return f"""
    {out} AS (
      SELECT e.dst AS doc_id,
             150000 + (17 * SUM(p.pr // g.deg)) // 20 AS pr
      FROM edges e
      JOIN {prev} p ON p.doc_id = e.src
      JOIN deg g ON g.src = e.src
      GROUP BY e.dst
    )"""


@register(
    "q164_pagerank_neardup",
    oracle=f"""
    WITH {_DUCK_VERIFIED_PRELUDE},
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM verified
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM verified
    ),
    deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY src),
    pr0 AS (SELECT src AS doc_id, CAST(1000000 AS BIGINT) AS pr FROM deg),
    {",".join(_pagerank_duck_iter(f"pr{i}", f"pr{i + 1}") for i in range(PAGERANK_ITERS))}
    SELECT g.src AS doc_id, g.deg AS degree,
           CAST(p.pr AS BIGINT) AS pagerank_micro
    FROM deg g JOIN pr{PAGERANK_ITERS} p ON p.doc_id = g.src
    """,
    doc="Integer-arithmetic PageRank (3 fixed iterations, damping 0.85) "
    "over the verified near-dup pair graph: centrality picks the HUB of "
    "a duplication cluster — the canonical survivor, or the template "
    "page duplicated into thousands — where q60's components only give "
    "membership. All state is exact int64 micro-probability: per-edge "
    "contribution is pr div deg, damping is (17*s) div 20 == "
    "floor(0.85*s), so the iterative algorithm hash-matches a chained-"
    "CTE DuckDB twin bit-for-bit (same convention as q60/q157 — "
    "iterative does not mean unverifiable). Scale shape: classic "
    "Pregel-by-joins — each iteration is one equi-join of the edge list "
    "with a node-sized pr table plus one keyed agg; 3 iterations keep "
    "lineage shallow (no checkpoint needed); the edge list is the "
    "verified pair set, already hot-bucket-capped upstream, so degree "
    "is bounded by the LSH cap and the int ceiling (5.4e17) is "
    "unreachable.",
    tags=("dedup", "graph", "iterative"),
)
def q164_pagerank_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    verified = q21_ngram_jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b")
    return pagerank_from_pairs(verified)


def pagerank_from_pairs(pairs: DataFrame) -> DataFrame:
    """Integer PageRank over a canonical (doc_a < doc_b) verified pair
    frame — the computation shared by the self-contained q164 and its
    from-materialized twin q199; both hash against the same oracle."""
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionByName(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    # Materialize the edge list ONCE (the operators/graph.py convention):
    # without this every iteration's join re-executes the whole upstream
    # subtree — measured at the gen10x scale run as a ~4x constant on an
    # otherwise sub-linear query. localCheckpoint also truncates the
    # lineage the iterations would otherwise stack.
    # REBALANCE first: the fanned-out ladder leaves the pair frame in
    # per-core partitions, and the checkpoint would pin that layout for
    # every iteration's stage (measured q164 2.69 -> 2.14 s); AQE sizes
    # the rebalance, so a genuinely large edge list keeps many
    # partitions at scale.
    edges = edges.hint("rebalance").localCheckpoint(eager=True)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    pr = deg.select(F.col("src").alias("doc_id"), F.lit(1000000).cast("long").alias("pr"))
    src_edges = edges.join(deg, "src")
    for _ in range(PAGERANK_ITERS):
        pr = (
            src_edges.join(pr, src_edges["src"] == pr["doc_id"])
            .select(
                F.col("dst").alias("node"),
                F.expr("pr div deg").alias("c"),
            )
            .groupBy("node")
            .agg(F.expr("150000 + (17 * sum(c)) div 20").alias("pr"))
            .select(F.col("node").alias("doc_id"), "pr")
        )
    return deg.join(pr, deg["src"] == pr["doc_id"]).select(
        F.col("src").alias("doc_id"),
        F.col("deg").alias("degree"),
        F.col("pr").cast("long").alias("pagerank_micro"),
    )


# ---------------------------------------------------------------------------
# Triangle counting / local clustering (q172): the third graph statistic
# over the verified near-dup graph, after membership (q60 components)
# and centrality (q164 PageRank). Triangle density separates CHAINS of
# borderline matches (A~B~C with A,C unrelated — transitive-closure
# false friends, low clustering) from genuine duplicate CLUSTERS
# (everything matches everything, high clustering) — the diagnostic a
# curator reads before trusting component-level dedup. Canonical
# ordered-triple form: every triangle a<b<c is counted exactly once by
# joining (a,b)+(b,c)+(a,c) over the already-canonical (doc_a < doc_b)
# verified pair list.


@register(
    "q172_triangle_count",
    oracle=f"""
    WITH {_DUCK_VERIFIED_PRELUDE},
    tri AS (
      SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
      FROM verified e1
      JOIN verified e2 ON e2.doc_a = e1.doc_b
      JOIN verified e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
    ),
    members AS (
      SELECT a AS doc_id FROM tri
      UNION ALL SELECT b FROM tri
      UNION ALL SELECT c FROM tri
    ),
    deg AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS degree FROM (
        SELECT doc_a AS doc_id FROM verified
        UNION ALL SELECT doc_b FROM verified
      ) GROUP BY doc_id
    )
    SELECT g.doc_id, g.degree,
           CAST(COALESCE(t.n_triangles, 0) AS BIGINT) AS n_triangles,
           CAST((2000000 * COALESCE(t.n_triangles, 0))
                // NULLIF(g.degree * (g.degree - 1), 0) AS BIGINT)
               AS clustering_ppm
    FROM deg g
    LEFT JOIN (
      SELECT doc_id, COUNT(*) AS n_triangles FROM members GROUP BY doc_id
    ) t ON t.doc_id = g.doc_id
    """,
    doc="Triangle participation and local clustering coefficient per "
    "node of the verified near-dup graph: chains of borderline matches "
    "(the transitive-closure false friends that make component-level "
    "dedup risky) show clustering near 0, genuine duplicate cliques "
    "near 1e6 ppm — the diagnostic to read next to q117's component "
    "sizes before trusting q60's components. Every triangle a<b<c is "
    "counted exactly once by the canonical ordered-triple join "
    "(a,b)+(b,c)+(a,c) over the already-canonical verified pair list; "
    "clustering = 2*triangles / (deg*(deg-1)) in exact integer ppm "
    "with a NULLIF guard for degree-1 nodes. Scale shape: two "
    "equi-joins over the verified pair set whose degrees are BOUNDED "
    "by the LSH hot-bucket caps upstream (max degree <= bands*cap), so "
    "the ordered-triple join's fan-out is capped by construction — the "
    "degree-ordered orientation trick big graphs need is already "
    "enforced here by the candidate generator.",
    tags=("dedup", "graph", "join"),
)
def q172_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    verified = q21_ngram_jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b")
    return triangles_from_pairs(verified)


def triangles_from_pairs(pairs: DataFrame) -> DataFrame:
    """Triangle participation + clustering over a canonical verified pair
    frame — shared by the self-contained q172 and its from-materialized
    twin q200."""
    verified = pairs.hint("rebalance").localCheckpoint(eager=True)
    # three self-references below — one materialization instead of three
    # upstream executions, AQE-rebalanced so the checkpointed layout is
    # sized to the data, not to the ladder's fan-out (the q164 lesson)
    e1 = verified.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    e2 = verified.select(F.col("doc_a").alias("b"), F.col("doc_b").alias("c"))
    e3 = verified.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("c"))
    tri = e1.join(e2, "b").join(e3, ["a", "c"])
    members = (
        tri.select(F.col("a").alias("doc_id"))
        .unionByName(tri.select(F.col("b").alias("doc_id")))
        .unionByName(tri.select(F.col("c").alias("doc_id")))
    )
    tri_counts = members.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_triangles")
    )
    deg = (
        verified.select(F.col("doc_a").alias("doc_id"))
        .unionByName(verified.select(F.col("doc_b").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
    )
    return deg.join(tri_counts, "doc_id", "left").select(
        "doc_id",
        "degree",
        F.coalesce("n_triangles", F.lit(0)).cast("long").alias("n_triangles"),
        F.expr(
            "CAST(2000000 * coalesce(n_triangles, 0)"
            " div nullif(degree * (degree - 1), 0) AS BIGINT)"
        ).alias("clustering_ppm"),
    )


# ---------------------------------------------------------------------------
# Near-dup chain depth (q188): the FOURTH graph statistic over the
# verified pair list (after q60 membership, q164 centrality, q172
# clustering). The walk runs over the CANONICAL DAG — pairs are already
# (doc_a < doc_b), ascending edges can never cycle — which guarantees
# termination and makes the path multiset identical across engines by
# construction. The Spark side is a LEVEL-SYNCHRONOUS aggregated walk
# (one row per (doc, depth), not per path — see chain_depth_from_pairs);
# the oracle keeps DuckDB's WITH RECURSIVE enumeration, and the hash
# match is the proof the aggregated form counts exactly the recursion's
# path rows.
CHAIN_MAX_HOPS = 8


@register(
    "q188_neardup_chain_depth",
    oracle=f"""
    WITH RECURSIVE {_DUCK_VERIFIED_PRELUDE},
    roots AS (
      SELECT DISTINCT doc_a AS doc_id FROM verified v
      WHERE NOT EXISTS (
        SELECT 1 FROM verified w WHERE w.doc_b = v.doc_a
      )
    ),
    chain AS (
      SELECT doc_id, 0 AS depth FROM roots
      UNION ALL
      SELECT v.doc_b, c.depth + 1
      FROM chain c JOIN verified v ON v.doc_a = c.doc_id
      WHERE c.depth < {CHAIN_MAX_HOPS}
    )
    SELECT doc_id,
           CAST(MIN(depth) AS BIGINT) AS min_depth,
           CAST(MAX(depth) AS BIGINT) AS max_depth,
           CAST(COUNT(*) AS BIGINT) AS n_paths
    FROM chain GROUP BY doc_id
    """,
    doc="Duplication chain depth via a level-synchronous aggregated "
    "walk: from the near-dup DAG's roots (docs never appearing as the "
    "larger member of a verified pair), walk the canonical ascending "
    "edges and emit each reachable doc's min/max chain depth and path "
    "count. Deep chains with shallow clustering (q172) are the "
    "transitive-closure false friends that make component-level dedup "
    "risky — min_depth tells a curator how many borderline hops "
    "justify each doc's membership. Termination is BY CONSTRUCTION: "
    "the walk runs over the acyclic canonical direction (doc_a < "
    "doc_b always ascends), with a depth cap of "
    f"{CHAIN_MAX_HOPS} as an explicit fan-out bound. Each hop is one "
    "distributed hash join + hash aggregate over a frontier bounded "
    "by |docs| rows — the per-PATH row explosion that killed the "
    "earlier WITH RECURSIVE form on replica-heavy corpora "
    "(q188/q201 hit RECURSION_ROW_LIMIT_EXCEEDED on 32-way "
    "duplication cliques, commit ebe0df8) is aggregated away before it exists. "
    "Oracle: DuckDB WITH RECURSIVE path enumeration — the hash match "
    "proves the aggregated counts equal the enumerated rows.",
    tags=("dedup", "graph", "iterative"),
)
def q188_neardup_chain_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    verified = q21_ngram_jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b")
    return chain_depth_from_pairs(spark, verified)


def chain_depth_from_pairs(spark: SparkSession, pairs: DataFrame) -> DataFrame:
    """Level-synchronous AGGREGATED chain-depth walk over a canonical
    verified pair frame — shared by the self-contained q188 and its
    from-materialized twin q201.

    This replaced the WITH RECURSIVE form (commit ebe0df8): the recursion
    materializes ONE ROW PER PATH, and on a replica-heavy corpus (the
    32-way-duplicated stress corpus turns each near-dup pair into a
    32-clique) path multiplicity explodes combinatorially —
    RECURSION_ROW_LIMIT_EXCEEDED on exactly the corpus class where
    chain depth is most asked. The aggregated walk keeps ONE ROW PER
    (doc, depth) instead: level k holds (doc_id, number of length-k
    root-paths reaching it), and each hop is one distributed hash join
    + hash aggregate, so per-level row count is bounded by |docs|
    regardless of path multiplicity — the same bounded-frontier shape
    as the q60 large-star/small-star loops. Identical output by
    construction: min/max over depths with a nonzero count and the SUM
    of per-depth counts are exactly the recursion's MIN/MAX/COUNT(*)
    over enumerated path rows. Path COUNTS (not rows) can still grow
    combinatorially on dense DAGs; they are int64 sums with the
    {CHAIN_MAX_HOPS}-hop cap and upstream LSH degree caps as the bound,
    and the ANSI-mode gate turns any exceedance into a loud error."""
    verified = pairs.hint("rebalance").localCheckpoint(eager=True)
    # every hop re-reads the pair list — materialize once, AQE-sized
    edges = verified.select(F.col("doc_a").alias("doc_id"), "doc_b")
    heads = verified.select(F.col("doc_b").alias("doc_id")).distinct()
    roots = (
        verified.select(F.col("doc_a").alias("doc_id"))
        .distinct()
        .join(heads, "doc_id", "left_anti")
    )
    level = roots.select(
        "doc_id", F.lit(1).cast("long").alias("cnt")
    ).localCheckpoint(eager=True)
    levels = [level.select("doc_id", F.lit(0).alias("depth"), "cnt")]
    for k in range(1, CHAIN_MAX_HOPS + 1):
        level = (
            level.join(edges, "doc_id")
            .groupBy(F.col("doc_b").alias("doc_id"))
            .agg(F.sum("cnt").cast("long").alias("cnt"))
            .localCheckpoint(eager=True)  # bounded: <= |docs| rows
        )
        if level.isEmpty():
            break
        levels.append(level.select("doc_id", F.lit(k).alias("depth"), "cnt"))
    all_levels = levels[0]
    for lvl in levels[1:]:
        all_levels = all_levels.unionByName(lvl)
    return all_levels.groupBy("doc_id").agg(
        F.min("depth").cast("long").alias("min_depth"),
        F.max("depth").cast("long").alias("max_depth"),
        F.sum("cnt").cast("long").alias("n_paths"),
    )


# ---------------------------------------------------------------------------
# From-materialized graph twins (q199-q201): the round-5 scale run showed
# q164/q172/q188 each respending ~80% of their 100x budget recomputing the
# LSH -> shingle -> Jaccard ladder that is identical across all three. The
# production shape (the q155/q157 lesson, applied to the whole graph
# family): verify the pair list ONCE per corpus snapshot, write it as
# parquet, and run every graph statistic from that checkpoint. These
# twins register that shape: the first one executed in a session pays the
# ladder and materializes; the rest read the parquet. Their oracles are
# the self-contained entries' oracles SPLICED VERBATIM, so the hash match
# proves materialize/read-back loses nothing — twin == self-contained.
# ---------------------------------------------------------------------------

def materialize_verified_pairs(spark: SparkSession, sf_dir: str) -> str:
    """Run the LSH->verify ladder ONCE per (session, corpus) and write
    the canonical verified near-dup pair list as parquet; later calls in
    the same session return the existing checkpoint path while it still
    exists (the checkpoint.materialize_parquet rule)."""
    return materialize_parquet(
        spark, sf_dir, "neardup_pairs",
        lambda: q21_ngram_jaccard_pairs(spark, sf_dir)
        .select("doc_a", "doc_b")
        # REBALANCE before the write: the ladder's fan-out leaves the
        # pair frame in per-core partitions, and without this the tiny
        # checkpoint lands as 32 near-empty files whose per-file open
        # cost every iterative consumer then pays PER ROUND (measured:
        # q199/q201/q208 2-3x slower reading the splintered checkpoint).
        # AQE sizes the rebalance from runtime stats, so at scale the
        # same hint yields properly sized multi-file output (guide §6).
        .hint("rebalance"),
    )


def _materialized_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_checkpoint(spark, materialize_verified_pairs(spark, sf_dir))


@register(
    "q199_pagerank_materialized",
    oracle=oracle_of("q164_pagerank_neardup"),
    doc="q164's integer PageRank computed FROM THE MATERIALIZED verified "
    "pair checkpoint (materialize_verified_pairs): the ladder is paid "
    "once per session/corpus, the Pregel-by-joins iterations read a "
    "two-column parquet. Oracle is q164's, spliced verbatim — the hash "
    "match proves twin == self-contained. Scale shape: whichever of "
    "q199/q200/q201 runs first pays the one ladder execution; the "
    "others scan the checkpoint (the q155 materialize-once claim, "
    "extended to the whole graph family).",
    tags=("dedup", "graph", "iterative", "composition"),
)
def q199_pagerank_materialized(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pagerank_from_pairs(_materialized_pairs(spark, sf_dir))


@register(
    "q200_triangles_materialized",
    oracle=oracle_of("q172_triangle_count"),
    doc="q172's triangle participation / clustering coefficient computed "
    "from the materialized verified pair checkpoint — ordered-triple "
    "join over a parquet scan instead of three LSH-ladder executions. "
    "Oracle spliced verbatim from q172; hash match == twin identity.",
    tags=("dedup", "graph", "join", "composition"),
)
def q200_triangles_materialized(spark: SparkSession, sf_dir: str) -> DataFrame:
    return triangles_from_pairs(_materialized_pairs(spark, sf_dir))


@register(
    "q201_chain_depth_materialized",
    oracle=oracle_of("q188_neardup_chain_depth"),
    doc="q188's level-synchronous chain-depth walk computed from the "
    "materialized verified pair checkpoint — the per-hop joins re-read "
    "a two-column parquet instead of re-deriving the pair list. Oracle "
    "spliced verbatim from q188; hash match == twin identity.",
    tags=("dedup", "graph", "iterative", "composition"),
)
def q201_chain_depth_materialized(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return chain_depth_from_pairs(
        spark, _materialized_pairs(spark, sf_dir)
    )


# ---------------------------------------------------------------------------
# Winnowing fingerprints (q204) — the MOSS/Schleimer-Wilkerson-Aiken
# local-fingerprint scheme: hash every positional token k-gram, slide a
# w-window over the hash sequence, keep each window's MINIMUM hash. The
# guarantee: any shared token run of length >= k + w - 1 between two
# documents shares at least one selected fingerprint, so the inverted
# index over fingerprints finds every sufficiently-long overlap while
# storing ~2/(w+1) of the k-gram hashes. This is the third candidate
# rung next to MinHash-LSH (q22, whole-doc similarity) and SimHash (q23):
# winnowing is LOCAL — it catches a copied paragraph inside an otherwise
# unrelated document, which whole-doc sketches dilute away.
# ---------------------------------------------------------------------------

WINNOW_K = 3        # token k-gram width
WINNOW_W = 4        # winnowing window (guarantee length = k + w - 1 = 6)
WINNOW_MAX_DOCS = 64   # hot-fingerprint cap, the q22 convention
WINNOW_MIN_SHARED = 2  # pairs must share >= 2 fingerprints


@register(
    "q204_winnowing_fingerprints",
    oracle=f"""
    WITH tk AS (
      SELECT doc_id, string_split(lower(text), ' ') AS toks
      FROM documents
      WHERE len(string_split(text, ' ')) >= {WINNOW_K + WINNOW_W - 1}
    ),
    kg AS (
      SELECT doc_id,
             list_transform(
               range(1, len(toks) - {WINNOW_K - 2}),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
             ) AS kgs
      FROM tk
    ),
    h AS (
      SELECT doc_id, CAST(p AS INTEGER) AS pos, sha256(kgs[CAST(p AS INTEGER)]) AS h
      FROM kg, unnest(range(1, len(kgs) + 1)) AS t(p)
    ),
    wm AS (
      SELECT doc_id, pos,
             MIN(h) OVER (
               PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN {WINNOW_W - 1} PRECEDING AND CURRENT ROW
             ) AS wmin
      FROM h
    ),
    fp AS (
      SELECT DISTINCT doc_id, wmin AS fp
      FROM wm WHERE pos >= {WINNOW_W}
    ),
    nfp AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_fp FROM fp GROUP BY doc_id),
    hot AS (SELECT fp FROM fp GROUP BY fp HAVING COUNT(*) <= {WINNOW_MAX_DOCS}),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(COUNT(*) AS BIGINT) AS n_shared
      FROM fp a JOIN hot USING (fp) JOIN fp b USING (fp)
      WHERE a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
      HAVING COUNT(*) >= {WINNOW_MIN_SHARED}
    )
    SELECT p.doc_a, p.doc_b, p.n_shared,
           na.n_fp AS n_fp_a, nb.n_fp AS n_fp_b,
           CAST(p.n_shared * 1000000
                // (na.n_fp + nb.n_fp - p.n_shared) AS BIGINT) AS overlap_ppm
    FROM pairs p
    JOIN nfp na ON na.doc_id = p.doc_a
    JOIN nfp nb ON nb.doc_id = p.doc_b
    """,
    doc="Winnowing fingerprints (Schleimer/Wilkerson/Aiken, the MOSS "
    f"scheme): positional token {WINNOW_K}-gram sha256 hashes, window-"
    f"of-{WINNOW_W} minimum selection (fixed-width hex MIN == numeric "
    "MIN), DISTINCT selected hashes per doc, then an inverted-index "
    "self-join over fingerprints with the q22 hot-bucket cap "
    f"({WINNOW_MAX_DOCS} docs) and a >= {WINNOW_MIN_SHARED}-shared-"
    "fingerprint floor. Any shared token run of length >= "
    f"{WINNOW_K + WINNOW_W - 1} is guaranteed to share a fingerprint — "
    "the LOCAL-overlap detector (copied passages) next to the whole-doc "
    "sketches. Scale shape: the window-min is partition-local per doc "
    "(docs are KB-sized), the fingerprint store is ~2/(w+1) of k-gram "
    "volume, and pairing is an equi-key join bounded by the cap — never "
    "all-pairs. The ppm overlap uses exact integer division.",
    tags=("dedup", "fingerprint", "join"),
)
def q204_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    tk = docs.filter(
        F.size(F.split("text", " ")) >= WINNOW_K + WINNOW_W - 1
    ).select("doc_id", F.split(F.lower("text"), " ").alias("toks"))
    # Single-select explode of the inline transform: materializing the
    # k-gram array in its own projection and THEN posexplode-ing the
    # column re-evaluates the whole lambda per OUTPUT row — measured
    # 6.1 s vs 0.2 s for this exact subtree at sf0.1 (the q121/q126
    # re-split lesson, now measured for Generate). Same strings, same
    # 1-based positions, sha2 computed once per gram inside the struct.
    h = tk.select(
        "doc_id",
        F.expr(
            f"explode(transform(sequence(1, size(toks) - {WINNOW_K - 1}), "
            f"i -> struct(CAST(i AS INT) AS pos, "
            f"sha2(concat_ws(' ', slice(toks, i, {WINNOW_K})), 256) AS h)))"
        ).alias("x"),
    ).select("doc_id", "x.pos", "x.h")
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(-(WINNOW_W - 1), 0)
    )
    fp = (
        h.withColumn("wmin", F.min("h").over(w))
        .filter(F.col("pos") >= WINNOW_W)
        .select("doc_id", F.col("wmin").alias("fp"))
        .distinct()
        # three consumers below (per-doc counts + the cap window); the
        # sha256 + window-min subtree above is the dominant cost, so
        # share one materialization instead of re-running it per branch
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    nfp = fp.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("n_fp"))
    # The hot-fingerprint cap + pairing as ONE fp-keyed pass (the q22
    # in-bucket expansion shape): the window counts every bucket
    # (streams/spills, so unbounded buckets are safe), the filter keeps
    # only <= cap members, and collect_list is therefore bounded by the
    # cap by construction — no fp-keyed SELF-JOIN re-executing the
    # fingerprint subtree, no third exchange. Pair semantics unchanged:
    # each surviving shared fingerprint contributes each a<b pair once.
    wc = Window.partitionBy("fp")
    pairs = (
        fp.withColumn("c", F.count(F.lit(1)).over(wc))
        .filter(F.col("c") <= WINNOW_MAX_DOCS)
        .groupBy("fp")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") >= 2)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(sequence(1, size(ids) - 1), "
                    "i -> transform(slice(ids, i + 1, size(ids) - i), "
                    "y -> struct(element_at(ids, i) AS doc_a, y AS doc_b))))"
                )
            ).alias("p")
        )
        .select("p.doc_a", "p.doc_b")
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= WINNOW_MIN_SHARED)
    )
    return (
        pair_sides(pairs, nfp, "n_fp")
        .select(
            "doc_a", "doc_b", "n_shared", "n_fp_a", "n_fp_b",
            F.expr(
                "CAST(n_shared * 1000000 div (n_fp_a + n_fp_b - n_shared)"
                " AS LONG)"
            ).alias("overlap_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Prefix-filtering all-pairs similarity join (q205) — the Bayardo/
# Chaudhuri "AllPairs" exact-recall alternative to LSH, run over token
# TRIGRAM sets at the q21 threshold so its semantics line up with the
# engine's near-dup verify rung: order each document's distinct
# trigrams globally rarest-first; for Jaccard threshold t, two sets can
# only reach t if they share a feature within each other's first
# (m - ceil(t*m) + 1) rarest features, so indexing ONLY those prefixes
# finds EVERY qualifying pair with zero recall loss (unlike MinHash,
# which is probabilistic). Features are trigrams, not unigrams, by
# measurement: on this corpus's 31-word vocabulary, unigram-set Jaccard
# >= 0.7 is satisfied by ~40% of ALL random pairs (51,493 of 124,750 at
# sf0.01) — the OUTPUT itself is quadratic and the 10x bench run died
# grinding it, which is the executed evidence that set-similarity
# self-joins need discriminative features, not just a clever index.
# Trigram space is |vocab|^3, so posting lists stay short and true
# pairs are the planted near-dups — same answer family as q21, found
# EXACTLY instead of probabilistically (the q112 recall probe's
# denominator, computed rather than sampled).
# ---------------------------------------------------------------------------

# threshold t = 3/10, rational — ALIGNED with NEARDUP_JACCARD so q205's
# exact pair set is directly comparable to the q22->q21 LSH ladder
PF_JACCARD_NUM, PF_JACCARD_DEN = 3, 10


@register(
    "q205_prefix_filter_pairs",
    oracle=f"""
    WITH dtok AS (
      SELECT doc_id, unnest({token_ngrams_duck("text", 3)}) AS tok
      FROM documents
      WHERE len(string_split(text, ' ')) >= 3
    ),
    dfr AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM dtok GROUP BY tok),
    m AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS m FROM dtok GROUP BY doc_id),
    ranked AS (
      SELECT d.doc_id, d.tok,
             row_number() OVER (
               PARTITION BY d.doc_id ORDER BY f.df, d.tok
             ) AS r
      FROM dtok d JOIN dfr f ON f.tok = d.tok
    ),
    pfx AS (
      SELECT r.doc_id, r.tok
      FROM ranked r JOIN m ON m.doc_id = r.doc_id
      WHERE r.r <= m.m - ({PF_JACCARD_NUM} * m.m + {PF_JACCARD_DEN - 1})
                          // {PF_JACCARD_DEN} + 1
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM pfx a JOIN pfx b ON a.tok = b.tok AND a.doc_id < b.doc_id
    ),
    tgs AS (
      SELECT doc_id, {token_ngrams_duck("text", 3)} AS tg
      FROM documents
      WHERE len(string_split(text, ' ')) >= 3
    ),
    inter AS (
      SELECT c.doc_a, c.doc_b,
             CAST(len(list_intersect(a.tg, b.tg)) AS BIGINT) AS n_inter,
             CAST(len(a.tg) + len(b.tg)
                  - len(list_intersect(a.tg, b.tg)) AS BIGINT) AS n_union
      FROM cand c
      JOIN tgs a ON a.doc_id = c.doc_a
      JOIN tgs b ON b.doc_id = c.doc_b
    )
    SELECT doc_a, doc_b, n_inter, n_union,
           CAST(n_inter * 1000000 // n_union AS BIGINT) AS jacc_ppm
    FROM inter
    WHERE {PF_JACCARD_DEN} * n_inter >= {PF_JACCARD_NUM} * n_union
    """,
    doc="Prefix-filtering all-pairs Jaccard join (Bayardo et al. "
    "'Scaling Up All Pairs Similarity Search' / Chaudhuri's SSJoin) "
    "over token TRIGRAM sets at the q21 threshold (0.3): distinct "
    "trigrams per doc, global document frequency, rarest-first "
    "ordering, and an inverted index over ONLY each doc's first "
    "m - ceil(0.3m) + 1 features — EXACT recall at Jaccard >= 0.3, the "
    "deterministic complement to probabilistic MinHash-LSH (q22->q21): "
    "same threshold, same features, so its pair set is the computed "
    "ground truth the q112 recall probe samples. Verification counts "
    "shared distinct trigrams per candidate and keeps pairs by the "
    "exact RATIONAL comparison 10*inter >= 3*union (no float "
    "thresholding); verification joins each candidate pair to its two "
    "trigram ARRAYS and intersects per pair (the q21 form) — linear in "
    "candidates, never an exploded pair x feature join (the exploded "
    "verify was measured at ~2.4e9 rows at 10x and wedged). Features are "
    "trigrams by executed evidence, not taste: with unigram sets on "
    "this tiny-vocab corpus ~40% of ALL pairs pass t=0.7, the output "
    "itself is quadratic, and the 10x scale run ground to a halt — no "
    "index fixes a quadratic ANSWER; discriminative features do. "
    "Scale shape: every join is equi-key (trigram / doc id); prefix "
    "postings are rare-trigram-dominated by construction, and PPJoin "
    "length + positional filters (Xiao et al.) prune candidates with "
    "zero recall loss. Honest bound, MEASURED at 10x: prefix "
    "candidates 81.86M pairs, +length 75.14M, +positional 75.12M "
    "(-8.2% total) — on this short-doc, tiny-trigram-vocab corpus the "
    "surviving candidates genuinely share rare features, so no "
    "exactness-preserving filter removes the quadratic core; posting "
    "lists on a FIXED trigram space grow linearly with corpus size "
    "and the exact join's candidate volume grows super-linearly where "
    "LSH's capped buckets do not. Exactness has a price; the recorded "
    "1x/10x walls ARE that price, and the capped LSH ladder is the "
    "documented 100 TB path. ROUND-10 DEMOTION: this exact form is now "
    "the JUDGE only — tagged 'exact-judge', still oracle-checked by "
    "the correctness gate; "
    "q259_prefix_pairs_capped (identical schema, posting-capped index) "
    "is the registered default, with the cap's loss observable in "
    "q260's posting report and reconciled exactly in the wave test. "
    "Execution: the index is built (or reused) as the session's "
    "checkpointed bucketed tables (materialize_prefix_index) and the "
    "candidate + verify plan reads them — one plan at every scale, "
    "shared with q259/q263 (_pf_pairs_plan).",
    tags=("dedup", "join", "exact-judge"),
)
def q205_prefix_filter_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _pf_pairs_plan(spark, sf_dir, cap=None)


def _pf_pairs_plan(spark: SparkSession, sf_dir: str, cap: int | None) -> DataFrame:
    """Shared Bayardo/PPJoin all-pairs plan: exact (cap=None, the q205
    judge) or with hot prefix-posting lists dropped (cap=N, the q259
    default and its q263 twin — dropped tokens are observable in q260's
    report).

    Candidate generation always reads the prefix index CHECKPOINTED by
    materialize_prefix_index, never an in-DAG build: the round-11 1000x
    run measured the single-DAG form dying on DISK (the index-build
    shuffles and the candidate x trigram-array verify shuffle spill
    concurrently — 'No space left on device' at 5.21M docs/62 min),
    while the checkpointed form finished the same decade in 1603 s
    because lineage truncation keeps only one large shuffle live
    (commit ffd2be5). One plan at every scale; the index build is
    shared with every other prefix-family consumer in the session.
    n_docs for the broadcast cutovers is the tg row count the index
    build recorded, so planning over a built index runs no Spark job.

    The index tables are NOT persisted even though the plan reads pfx
    three times and tg twice: an A/B (round 12) measured the persisted
    form SLOWER (q263 read-side 4.5 -> 6.3 s) because the in-memory
    relation loses the bucketed scan's exchange-free sort-merge layout —
    the whole point of the checkpoint's bucketBy."""
    ix = materialize_prefix_index(spark, sf_dir)
    small = ix.n_docs <= PF_BROADCAST_MAX_DOCS
    return _pf_pairs_from(spark.table(ix.pfx), spark.table(ix.tg), small, cap)


# Trigram ids in the prefix index: a trigram's id is its first-occurrence
# slot, min(doc_id * 2^32 + pos) over the docs that contain it, with pos
# its position in that doc's distinct-trigram array. Each (doc, pos) slot
# holds one distinct trigram, so two trigrams never share an id; the
# encoding needs doc_id in [-2^31, 2^31), which the build checks per row.
_PF_SLOT = (
    "CASE WHEN doc_id >= -2147483648 AND doc_id < 2147483648"
    " THEN doc_id * 4294967296 + pos"
    " ELSE raise_error(concat('prefix index: doc_id ', CAST(doc_id AS STRING),"
    " ' is outside [-2^31, 2^31); trigram ids are doc_id * 2^32 + pos'))"
    " END"
)


def _pf_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, tok, r, m): every distinct trigram of every document with
    >= 3 words, as its 64-bit id (see _PF_SLOT), ranked per doc by the
    global (df, trigram string) order; m is the doc's distinct-trigram
    count. Lazy: materialize_prefix_index persists it for its two writes."""
    ws = (
        load_table(spark, sf_dir, "documents", fan_out=True)
        .filter(F.expr("size(split(text, ' ')) >= 3"))
        .select("doc_id", F.split("text", " ").alias("ws"))
    )
    # The explode runs over the INLINE trigram expression, not the tg
    # column of a prior projection: exploding a lambda-built array
    # column re-evaluates the lambda per output row (measured 3.3 s vs
    # 0.7 s for this subtree at sf0.1 — the q204 Generate lesson).
    dtok = ws.select(
        "doc_id", F.expr(f"posexplode({_TG_SPARK_WS})").alias("pos", "tok")
    )
    # the id rides in the df aggregate that already groups by trigram:
    # no extra job, no extra exchange
    dfr = dtok.groupBy("tok").agg(
        F.count(F.lit(1)).cast("long").alias("df"),
        F.min(F.expr(_PF_SLOT)).alias("id"),
    )
    # m (the doc's distinct-trigram count) is its row count, taken over
    # the rank window's own doc_id partitioning: no exchange and no
    # join. A size(trigram array) column beside the generator would be
    # evaluated once per exploded row, rebuilding the doc's array per
    # trigram (~80 % of the build's executor CPU at 530 docs).
    rw = Window.partitionBy("doc_id").orderBy("df", "tok")
    return (
        dtok.select("doc_id", "tok")
        .join(dfr, "tok")
        .select(
            "doc_id",
            F.col("id").alias("tok"),
            F.row_number().over(rw).alias("r"),
            F.count(F.lit(1)).over(Window.partitionBy("doc_id")).alias("m"),
        )
    )


def _pf_prefix(ranked: DataFrame) -> DataFrame:
    """The UNCAPPED Bayardo prefix index (doc_id, tok, r, m): each doc's
    first m - ceil(0.3m) + 1 entries of _pf_ranked's stream."""
    return (
        ranked
        .filter(
            F.col("r")
            <= F.col("m")
            - F.expr(
                f"({PF_JACCARD_NUM} * m + {PF_JACCARD_DEN - 1})"
                f" div {PF_JACCARD_DEN}"
            )
            + 1
        )
        .select("doc_id", "tok", "r", "m")
    )


def _pf_tg(ranked: DataFrame) -> DataFrame:
    """The per-doc verify arrays (doc_id, tg: sorted array<bigint>) of
    _pf_ranked's stream. Over a stream already hash-partitioned by
    doc_id (the build's bucket repartition) the grouping adds no
    exchange."""
    return ranked.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("tok")).alias("tg")
    )


def _pf_pairs_from(
    pfx: DataFrame, tgs: DataFrame, small: bool, cap: int | None
) -> DataFrame:
    """Candidate generation + exact verify over the checkpointed prefix
    index (see _pf_pairs_plan).

    ``small`` gates BOTH broadcasts in the plan (the verify arrays and
    the cap's hot-token set) on the measured corpus-size cutover."""
    # PPJoin candidate pruning (Xiao et al. 'Efficient Similarity Joins
    # for Near Duplicate Detection') on top of the Bayardo prefix
    # filter — both EXACT, both integer-only:
    #  * LENGTH filter: J >= t forces t*max(|a|,|b|) <= min(|a|,|b|)
    #    (J = I/U with I <= min and U >= max).
    #  * POSITIONAL filter: a shared token at per-doc ranks (r_a, r_b)
    #    in the SAME global (df, tok) order bounds the overlap by
    #    min(r_a-1, r_b-1) shared tokens before it + itself +
    #    min(m_a-r_a, m_b-r_b) after; J >= t needs overlap >=
    #    ceil(t*(m_a+m_b)/(1+t)). A true pair satisfies both bounds at
    #    EVERY shared prefix token, so filtering each generated match
    #    row prunes candidates without losing any qualifying pair.
    if cap is not None:
        # Hot tokens (posting list > cap) number at most
        # total-prefix-entries / cap — LINEAR in corpus size, not
        # constant, so a forced broadcast would itself become the scale
        # hazard (the round-10 verify-array lesson). Same cutover: under
        # PF_BROADCAST_MAX_DOCS the set is tiny and the broadcast
        # anti-join avoids shuffling the full index; above it, a plain
        # shuffled left_anti + AQE.
        hot_toks = (
            pfx.groupBy("tok")
            .agg(F.count(F.lit(1)).alias("plen"))
            .filter(F.col("plen") > cap)
            .select("tok")
        )
        pfx = pfx.join(
            F.broadcast(hot_toks) if small else hot_toks, "tok", "left_anti"
        )
    pa = pfx.select(
        F.col("doc_id").alias("doc_a"),
        "tok",
        F.col("r").alias("r_a"),
        F.col("m").alias("m_a"),
    )
    pb = pfx.select(
        F.col("doc_id").alias("doc_b"),
        "tok",
        F.col("r").alias("r_b"),
        F.col("m").alias("m_b"),
    )
    cand = (
        pa.join(pb, "tok")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter(
            PF_JACCARD_DEN * F.least("m_a", "m_b")
            >= PF_JACCARD_NUM * F.greatest("m_a", "m_b")
        )
        .filter(
            F.least(F.col("r_a") - 1, F.col("r_b") - 1)
            + 1
            + F.least(F.col("m_a") - F.col("r_a"), F.col("m_b") - F.col("r_b"))
            >= F.expr(
                f"({PF_JACCARD_NUM} * (m_a + m_b)"
                f" + {PF_JACCARD_NUM + PF_JACCARD_DEN - 1})"
                f" div {PF_JACCARD_NUM + PF_JACCARD_DEN}"
            )
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    # trigram arrays are doc-count x ~50 ids (64-bit; their string form
    # measured ~36 MB at 10x) —
    # above the 10 MB auto-broadcast threshold but in-memory up to
    # ~100K docs, where the explicit broadcast avoids shuffling
    # candidate x array rows (the q88 lesson). Beyond that the
    # broadcast ITSELF is the scale hazard (~360 MB at 521K docs,
    # ~3.6 GB at 5.2M — measured grinding at gen100x, round 10), so
    # large corpora fall back to plain equi-joins and AQE: the shuffle
    # is candidates x two arrays, linear in the cap-bounded candidate
    # count.
    # NOTE (round-13 probe): the two verify-side broadcasts are ALREADY
    # collapsed to one at runtime — AQE's canonicalized stage cache sees
    # through the per-side column aliases and the executed final plan
    # carries exactly one tg BroadcastQueryStage + one ReusedExchange
    # (plan dump in commit c702992). An alias-preserving
    # restructure intended to enable that reuse was A/B'd and reverted
    # as a runtime no-op: only ONE tg scan + broadcast build is paid
    # today, at any scale where AQE runs.
    tg_a = tgs.select(
        F.col("doc_id").alias("doc_a"), F.col("tg").alias("tg_a")
    )
    tg_b = tgs.select(
        F.col("doc_id").alias("doc_b"), F.col("tg").alias("tg_b")
    )
    inter = (
        cand.join(F.broadcast(tg_a) if small else tg_a, "doc_a")
        .join(F.broadcast(tg_b) if small else tg_b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.expr("CAST(size(array_intersect(tg_a, tg_b)) AS BIGINT)").alias(
                "n_inter"
            ),
            F.expr(
                "CAST(size(tg_a) + size(tg_b)"
                " - size(array_intersect(tg_a, tg_b)) AS BIGINT)"
            ).alias("n_union"),
        )
    )
    return (
        inter.filter(
            PF_JACCARD_DEN * F.col("n_inter")
            >= PF_JACCARD_NUM * F.col("n_union")
        )
        .select(
            "doc_a", "doc_b", "n_inter", "n_union",
            F.expr("CAST(n_inter * 1000000 div n_union AS LONG)").alias(
                "jacc_ppm"
            ),
        )
    )


# ---------------------------------------------------------------------------
# k-core decomposition (q208) and degree assortativity (q209): two more
# graph statistics over the verified near-dup graph, both computed FROM
# THE MATERIALIZED pair checkpoint (the q199-q201 convention — the LSH
# ladder is paid once per session/corpus). k-core separates dense
# duplication CLUSTERS (template farms, boilerplate families — every
# member still has >= k near-dup partners after peeling) from incidental
# chains; assortativity says whether high-degree docs link to other
# high-degree docs (a template hub network) or to leaves (one canonical
# page with many variants).
# ---------------------------------------------------------------------------

KCORE_K = 2
KCORE_ROUNDS = 4


def _kcore_duck_rounds() -> str:
    # Each round reads the previous edge CTE twice (degrees and edges), so
    # the edge CTEs are MATERIALIZED: inlined, DuckDB plans 3^rounds copies.
    steps = []
    prev = "e0"
    for r in range(1, KCORE_ROUNDS + 1):
        steps.append(f"""
    deg{r} AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg
               FROM {prev} GROUP BY src),
    keep{r} AS (SELECT src AS node FROM deg{r} WHERE deg >= {KCORE_K}),
    e{r} AS MATERIALIZED (
      SELECT e.src, e.dst FROM {prev} e
      JOIN keep{r} ka ON ka.node = e.src
      JOIN keep{r} kb ON kb.node = e.dst
    )""")
        prev = f"e{r}"
    return ",".join(steps)


@register(
    "q208_kcore_decomposition",
    oracle=f"""
    WITH {_DUCK_VERIFIED_PRELUDE},
    e0 AS MATERIALIZED (
      SELECT doc_a AS src, doc_b AS dst FROM verified
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM verified
    ),
    {_kcore_duck_rounds()}
    SELECT src AS doc_id, CAST(COUNT(*) AS BIGINT) AS core_deg
    FROM e{KCORE_ROUNDS} GROUP BY src
    """,
    doc=f"{KCORE_K}-core of the verified near-dup graph by "
    f"{KCORE_ROUNDS} fixed peeling rounds (each round drops nodes with "
    f"degree < {KCORE_K} and their edges): survivors are docs embedded "
    "in DENSE duplication structure — every remaining member keeps >= "
    f"{KCORE_K} near-dup partners even after fringe removal — i.e. the "
    "template-farm signal, where q60's components also merge incidental "
    "chains. Fixed-round peeling is the hash-verifiable contract (the "
    "q164 fixed-iteration convention); on these corpora peeling reaches "
    "its fixed point in fewer rounds (planted twins form stars and "
    "small cliques), and the round count is a constant, not data-"
    "dependent. Scale shape: reads the materialized pair checkpoint "
    "(ladder paid once, q199-q201 convention); each round is one keyed "
    "degree aggregate plus two semi-join-shaped filters on the shrinking "
    "edge list.",
    tags=("dedup", "graph", "iterative", "composition"),
)
def q208_kcore_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _materialized_pairs(spark, sf_dir)
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionByName(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    ).hint("rebalance").localCheckpoint(eager=True)
    for _ in range(KCORE_ROUNDS):
        deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
        keep = deg.filter(F.col("deg") >= KCORE_K).select(
            F.col("src").alias("node")
        )
        edges = (
            edges.join(keep.withColumnRenamed("node", "src"), "src", "left_semi")
            .join(keep.withColumnRenamed("node", "dst"), "dst", "left_semi")
            .select("src", "dst")
        )
    return edges.groupBy(F.col("src").alias("doc_id")).agg(
        F.count(F.lit(1)).cast("long").alias("core_deg")
    )


@register(
    "q209_degree_assortativity",
    oracle=f"""
    WITH {_DUCK_VERIFIED_PRELUDE},
    e AS (
      SELECT doc_a AS src, doc_b AS dst FROM verified
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM verified
    ),
    deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM e GROUP BY src),
    xy AS (
      SELECT da.deg AS x, db.deg AS y
      FROM e JOIN deg da ON da.src = e.src JOIN deg db ON db.src = e.dst
    ),
    sums AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS m,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(x * x) AS BIGINT) AS sxx
      FROM xy
    )
    SELECT m AS n_directed_edges, sx AS sum_deg, sxy AS sum_xy,
           sxx AS sum_xx,
           CAST(FLOOR(CAST(m * sxy - sx * sx AS DOUBLE) * 1000000.0
                      / CAST(NULLIF(m * sxx - sx * sx, 0) AS DOUBLE))
                AS BIGINT) AS assortativity_ppm
    FROM sums
    """,
    doc="Degree assortativity of the verified near-dup graph (Newman's "
    "r): Pearson correlation of endpoint degrees over the directed edge "
    "list (each undirected pair counted in both directions, which makes "
    "the x/y marginals symmetric and the formula collapse to "
    "(m*Sxy - Sx^2) / (m*Sxx - Sx^2)). Positive r = hubs link to hubs "
    "(a template network duplicating each other); negative r = "
    "star-shaped duplication (one canonical doc, many leaf variants) — "
    "the planted-twin structure of these corpora. All moments are exact "
    "int64 (degrees are LSH-cap-bounded, so m*Sxx stays ~1e15 even at "
    "gen1000x); the final ratio is the shared deterministic double-floor "
    "ppm expression (q192/q198 convention). Scale shape: reads the "
    "materialized checkpoint; two keyed aggregates and one single-row "
    "reduce.",
    tags=("dedup", "graph", "composition"),
)
def q209_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _materialized_pairs(spark, sf_dir)
    e = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionByName(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    deg = e.groupBy("src").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    xy = (
        e.join(deg.withColumnRenamed("src", "s2").alias("da"),
               F.col("src") == F.col("s2"))
        .select("dst", F.col("da.deg").alias("x"))
        .join(deg.withColumnRenamed("src", "s3").alias("db"),
              F.col("dst") == F.col("s3"))
        .select("x", F.col("db.deg").alias("y"))
    )
    sums = xy.agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        F.sum("x").cast("long").alias("sx"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    return sums.select(
        F.col("m").alias("n_directed_edges"),
        F.col("sx").alias("sum_deg"),
        F.col("sxy").alias("sum_xy"),
        F.col("sxx").alias("sum_xx"),
        F.expr(
            "CAST(FLOOR(CAST(m * sxy - sx * sx AS DOUBLE) * 1000000.0"
            " / CAST(NULLIF(m * sxx - sx * sx, 0) AS DOUBLE)) AS BIGINT)"
        ).alias("assortativity_ppm"),
    )


# ---------------------------------------------------------------------------
# Adamic-Adar link prediction (q211): the SEVENTH graph statistic over
# the verified near-dup graph. For every pair that shares at least one
# common neighbor, AA = sum over common neighbors z of 1/ln(deg(z)) —
# the classic "weighted common neighbors" score (Adamic & Adar 2003).
# Unlinked pairs (is_linked=0) rank which near-dup edges the verifier
# most likely MISSED (a chain A~B~C where A,C also share rare neighbors
# is probably a real duplicate the Jaccard threshold clipped); linked
# pairs get an edge-strength re-ranking. Each
# 1/ln(deg) term is held as exact integer micro-units via the shared
# micro-nat fixed point (1e12 div ln_micro(deg) — deg >= 2 for any
# common neighbor, so ln_micro >= 693147 and the division is always
# defined), making the per-pair sum order-independent and bit-equal
# across engines.


@register(
    "q211_adamic_adar_linkpred",
    oracle=f"""
    WITH {_DUCK_VERIFIED_PRELUDE},
    adj AS (
      SELECT doc_a AS u, doc_b AS z FROM verified
      UNION ALL SELECT doc_b AS u, doc_a AS z FROM verified
    ),
    deg AS (
      SELECT u AS z, CAST(COUNT(*) AS BIGINT) AS deg FROM adj GROUP BY u
    ),
    wedges AS (
      SELECT a1.u AS doc_u, a2.u AS doc_v, a1.z
      FROM adj a1 JOIN adj a2 ON a1.z = a2.z AND a1.u < a2.u
    ),
    flagged AS (
      SELECT w.doc_u, w.doc_v, w.z,
             CASE WHEN e.doc_a IS NOT NULL THEN 1 ELSE 0 END AS linked
      FROM wedges w
      LEFT JOIN verified e ON e.doc_a = w.doc_u AND e.doc_b = w.doc_v
    )
    SELECT w.doc_u, w.doc_v,
           CAST(MAX(w.linked) AS BIGINT) AS is_linked,
           CAST(COUNT(*) AS BIGINT) AS n_common,
           CAST(SUM(
             1000000000000 // CAST(FLOOR(
               ln(CAST(g.deg AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)
           ) AS BIGINT) AS aa_score_micro
    FROM flagged w JOIN deg g ON g.z = w.z
    GROUP BY w.doc_u, w.doc_v
    """,
    doc="Adamic-Adar scoring over the verified near-dup graph: for "
    "EVERY document pair sharing at least one common neighbor, the sum "
    "over common neighbors z of 1/ln(deg(z)) — rare shared neighbors "
    "weigh more than promiscuous ones (Adamic & Adar 2003). Pairs NOT "
    "already linked (is_linked=0) are the link-prediction output — the "
    "near-dup edges the Jaccard verifier most plausibly clipped, i.e. "
    "the human-review queue after a dedup run; pairs already linked "
    "get an edge-strength re-ranking (a clique's internal pairs score "
    "high, a chain's bridge scores low — the q172 chain-vs-clique "
    "diagnostic per EDGE instead of per node). On a planted-duplicate "
    "corpus the graph is near-clique, so most co-neighbor pairs are "
    "linked — exactly what the flag makes visible. Exactness: each "
    "1/ln(deg) term is integer micro-units via the shared micro-nat "
    "fixed point (1e12 div ln_micro(deg); common neighbors always have "
    "deg >= 2, so the divisor is >= ln(2)e6 and never zero), making "
    "the sum shuffle-order-independent and bit-equal across engines. "
    "Scale shape: the wedge join fans out deg(z)^2 per node — BOUNDED "
    "by the LSH hot-bucket caps upstream (max degree <= bands*cap), the "
    "same guarantee q172's triangle join rides; the non-adjacency check "
    "is a broadcast-able anti-join against the (canonical) edge list; "
    "grouping key space is capped by the wedge count. Never all-pairs.",
    tags=("dedup", "graph", "log-form"),
)
def q211_adamic_adar_linkpred(spark: SparkSession, sf_dir: str) -> DataFrame:
    verified = (
        q21_ngram_jaccard_pairs(spark, sf_dir)
        .select("doc_a", "doc_b")
        .hint("rebalance")  # AQE-size the checkpointed layout
        .localCheckpoint(eager=True)  # 3 self-references below, pay once
    )
    adj = verified.select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("z")
    ).unionByName(
        verified.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("z"))
    )
    deg = adj.groupBy("z").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    a1, a2 = adj.alias("a1"), adj.alias("a2")
    wedges = a1.join(
        a2,
        (F.col("a1.z") == F.col("a2.z")) & (F.col("a1.u") < F.col("a2.u")),
    ).select(
        F.col("a1.u").alias("doc_u"),
        F.col("a2.u").alias("doc_v"),
        F.col("a1.z").alias("z"),
    )
    flagged = wedges.join(
        verified.select(
            F.col("doc_a").alias("doc_u"),
            F.col("doc_b").alias("doc_v"),
            F.lit(1).alias("linked"),
        ),
        ["doc_u", "doc_v"],
        "left",
    ).withColumn("linked", F.coalesce("linked", F.lit(0)))
    return (
        flagged.join(deg, "z")
        .groupBy("doc_u", "doc_v")
        .agg(
            F.max("linked").cast("long").alias("is_linked"),
            F.count(F.lit(1)).cast("long").alias("n_common"),
            F.expr(
                "CAST(SUM(1000000000000 div CAST(FLOOR("
                "ln(CAST(deg AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT))"
                " AS BIGINT)"
            ).alias("aa_score_micro"),
        )
    )


# ---------------------------------------------------------------------------
# KMV cardinality algebra (q219): q161 reads the Jaccard RATIO off the
# union's bottom-K; this query completes the sketch's algebra with the
# other half — ABSOLUTE cardinalities from the K-th minimum (the KMV
# estimator, Bar-Yossef et al. 2002 / Beyer et al. 2007:
# D ~ (K-1)*M/kth_min for hashes uniform on [0, M)), for each source,
# their union (sketches merge by union-then-truncate), and the
# intersection via inclusion-exclusion — all next to their exact
# counterparts, so estimator error is observable, not asserted.
# A source with fewer than K distinct values keeps ALL of them, and
# its "estimate" is exact by construction (the standard KMV small-set
# rule).


KMV_ALG_K = 16  # smaller than q161's K so the (K-1)*M/kth_min
# estimator branch (not just the small-set rule) is exercised and
# oracle-verified at sf0.01, where sources hold ~25 distinct fps


@register(
    "q219_kmv_cardinality_algebra",
    oracle=f"""
    WITH fp AS (
      SELECT DISTINCT source,
             ({OVERLAP_A} * {_FP_DUCK} + {OVERLAP_B}) % {POLY_MOD} AS sk
      FROM documents
    ),
    per_src AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_exact,
             CAST(MAX(CASE WHEN rn <= {KMV_ALG_K} THEN sk END) AS BIGINT)
                 AS kth_min,
             CAST(SUM(CASE WHEN rn <= {KMV_ALG_K} THEN 1 ELSE 0 END)
                  AS BIGINT) AS k_held
      FROM (
        SELECT source, sk,
               ROW_NUMBER() OVER (PARTITION BY source ORDER BY sk) AS rn
        FROM fp
      ) GROUP BY source
    ),
    est_src AS (
      SELECT source, n_exact, k_held, kth_min,
             CASE WHEN k_held < {KMV_ALG_K} THEN k_held
                  ELSE ({KMV_ALG_K - 1} * CAST({POLY_MOD} AS BIGINT))
                       // kth_min END AS est_distinct
      FROM per_src
    ),
    pairs AS (
      SELECT a.source AS src_a, b.source AS src_b
      FROM est_src a JOIN est_src b ON a.source < b.source
    ),
    uni AS (
      SELECT p.src_a, p.src_b, f.sk
      FROM pairs p JOIN fp f ON f.source IN (p.src_a, p.src_b)
      GROUP BY p.src_a, p.src_b, f.sk
    ),
    uni_sketch AS (
      SELECT src_a, src_b,
             CAST(MAX(CASE WHEN rn <= {KMV_ALG_K} THEN sk END) AS BIGINT)
                 AS kth_min_u,
             CAST(SUM(CASE WHEN rn <= {KMV_ALG_K} THEN 1 ELSE 0 END)
                  AS BIGINT) AS k_held_u,
             CAST(COUNT(*) AS BIGINT) AS n_exact_union
      FROM (
        SELECT src_a, src_b, sk,
               ROW_NUMBER() OVER (
                 PARTITION BY src_a, src_b ORDER BY sk) AS rn
        FROM uni
      ) GROUP BY src_a, src_b
    )
    SELECT p.src_a, p.src_b,
           ea.est_distinct AS est_a, eb.est_distinct AS est_b,
           CASE WHEN u.k_held_u < {KMV_ALG_K} THEN u.k_held_u
                ELSE ({KMV_ALG_K - 1} * CAST({POLY_MOD} AS BIGINT))
                     // u.kth_min_u END AS est_union,
           ea.est_distinct + eb.est_distinct
             - (CASE WHEN u.k_held_u < {KMV_ALG_K} THEN u.k_held_u
                ELSE ({KMV_ALG_K - 1} * CAST({POLY_MOD} AS BIGINT))
                     // u.kth_min_u END) AS est_intersection,
           ea.n_exact AS n_exact_a, eb.n_exact AS n_exact_b,
           u.n_exact_union,
           ea.n_exact + eb.n_exact - u.n_exact_union AS n_exact_intersection
    FROM pairs p
    JOIN est_src ea ON ea.source = p.src_a
    JOIN est_src eb ON eb.source = p.src_b
    JOIN uni_sketch u ON u.src_a = p.src_a AND u.src_b = p.src_b
    """,
    doc=f"KMV cardinality algebra across sources: the absolute-count "
    "half of the bottom-k sketch q161 reads Jaccard ratios from — "
    f"per-source distinct estimates from the K-th minimum (K={KMV_ALG_K}; "
    "D ~ (K-1)*M/kth_min for affine-permuted hashes uniform on [0, M), "
    "Bar-Yossef et al. 2002), the UNION estimate from the merged "
    "sketch (bottom-k sketches merge by union-then-truncate — the "
    "property that makes them shard/day-composable like q213's HLL "
    "registers), and the INTERSECTION by inclusion-exclusion — each "
    "next to its exact counterpart so the estimator's error is "
    "committed evidence, not an assertion. Sources holding fewer than "
    "K distinct values keep everything and estimate exactly (the "
    "standard small-set rule); the intersection estimate may go "
    "negative on tiny overlaps — that is the honest behavior of "
    "inclusion-exclusion on noisy estimates and exactly what the audit "
    "columns expose. All estimates are integer expressions of the "
    "integer K-th minima — bit-equal across engines. Scale shape: "
    "DISTINCT fingerprints shuffle once on (source, fp); per-source "
    "sketches are K rows each (window rides WindowGroupLimit); the "
    "pair fan-out is sources^2-bounded with K-sized inputs. The exact "
    "columns are the only corpus-cardinality work, and exist to be "
    "dropped at scale.",
    tags=("dedup", "sketch", "profiling"),
)
def q219_kmv_cardinality_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..operators.text import fingerprint_pandas

    docs = load_table(spark, sf_dir, "documents")
    fp = (
        fingerprint_pandas(docs)
        .join(docs.select("doc_id", "source"), "doc_id")
        .select(
            "source",
            (
                (F.lit(OVERLAP_A) * F.col("content_fp") + F.lit(OVERLAP_B))
                % POLY_MOD
            ).alias("sk"),
        )
        .distinct()
    )
    w = Window.partitionBy("source").orderBy("sk")
    per_src = (
        fp.withColumn("rn", F.row_number().over(w))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_exact"),
            F.max(F.when(F.col("rn") <= KMV_ALG_K, F.col("sk")))
            .cast("long")
            .alias("kth_min"),
            F.sum(F.when(F.col("rn") <= KMV_ALG_K, 1).otherwise(0))
            .cast("long")
            .alias("k_held"),
        )
    )
    est_expr = (
        f"CASE WHEN k_held < {KMV_ALG_K} THEN k_held"
        f" ELSE ({KMV_ALG_K - 1} * CAST({POLY_MOD} AS BIGINT)) div kth_min END"
    )
    est_src = per_src.withColumn("est_distinct", F.expr(est_expr))
    a = est_src.select(
        F.col("source").alias("src_a"),
        F.col("est_distinct").alias("est_a"),
        F.col("n_exact").alias("n_exact_a"),
    )
    b = est_src.select(
        F.col("source").alias("src_b"),
        F.col("est_distinct").alias("est_b"),
        F.col("n_exact").alias("n_exact_b"),
    )
    pairs = a.crossJoin(b).filter(F.col("src_a") < F.col("src_b"))
    # Union sketch input: each pair's fingerprints are the fingerprints
    # of EITHER member source. Joining fp on the disjunction
    # (source==src_a)|(source==src_b) planned as a
    # BroadcastNestedLoopJoin (|fp| x n_pairs comparisons) — the OR
    # defeats the hash-join key extractor. Two equi-joins UNIONed keep
    # the plan hash-join-only at ANY source count; a fingerprint can
    # never match both sides of one pair (src_a < src_b, source is a
    # scalar), and the downstream DISTINCT dedups regardless.
    psel = pairs.select("src_a", "src_b")
    fp_a = fp.select(F.col("source").alias("src_a"), "sk")
    fp_b = fp.select(F.col("source").alias("src_b"), "sk")
    uni = (
        psel.join(fp_a, "src_a")
        .select("src_a", "src_b", "sk")
        .unionByName(psel.join(fp_b, "src_b").select("src_a", "src_b", "sk"))
        .distinct()
    )
    wu = Window.partitionBy("src_a", "src_b").orderBy("sk")
    uni_sketch = (
        uni.withColumn("rn", F.row_number().over(wu))
        .groupBy("src_a", "src_b")
        .agg(
            F.max(F.when(F.col("rn") <= KMV_ALG_K, F.col("sk")))
            .cast("long")
            .alias("kth_min_u"),
            F.sum(F.when(F.col("rn") <= KMV_ALG_K, 1).otherwise(0))
            .cast("long")
            .alias("k_held_u"),
            F.count(F.lit(1)).cast("long").alias("n_exact_union"),
        )
    )
    est_u = (
        f"CASE WHEN k_held_u < {KMV_ALG_K} THEN k_held_u"
        f" ELSE ({KMV_ALG_K - 1} * CAST({POLY_MOD} AS BIGINT))"
        f" div kth_min_u END"
    )
    return (
        pairs.join(uni_sketch, ["src_a", "src_b"])
        .select(
            "src_a",
            "src_b",
            "est_a",
            "est_b",
            F.expr(est_u).alias("est_union"),
            (F.col("est_a") + F.col("est_b") - F.expr(est_u)).alias(
                "est_intersection"
            ),
            "n_exact_a",
            "n_exact_b",
            "n_exact_union",
            (
                F.col("n_exact_a")
                + F.col("n_exact_b")
                - F.col("n_exact_union")
            ).alias("n_exact_intersection"),
        )
    )


# ---------------------------------------------------------------------------
# Survivor-policy dedup (q224): WHICH copy survives a dedup matters as
# much as THAT one does — the default min-doc_id rule (q110) is
# arbitrary, and at web scale the copies genuinely differ (one is
# truncated, one carries the full page). This query deduplicates on
# q110's normalized key but selects the survivor by QUALITY — the
# longest copy (most content preserved), doc_id-tiebroken — and emits
# both survivors side by side with a policy_differs flag: the audit a
# curation team reads to decide whether switching policies is worth a
# reprocessing run.


@register(
    "q224_survivor_policy_dedup",
    oracle="""
    WITH keyed AS (
      SELECT doc_id, n_chars,
             sha256(lower(substr(text, 1, 100))) AS content_hash
      FROM documents WHERE text IS NOT NULL
    ),
    grp AS (
      SELECT content_hash,
             CAST(COUNT(*) AS BIGINT) AS n_copies,
             CAST(MIN(doc_id) AS BIGINT) AS min_id_survivor,
             CAST(MAX(n_chars) AS BIGINT) AS survivor_n_chars
      FROM keyed GROUP BY content_hash
      HAVING COUNT(*) > 1
    ),
    best AS (
      SELECT k.content_hash,
             CAST(MIN(k.doc_id) AS BIGINT) AS quality_survivor
      FROM keyed k JOIN grp g
        ON g.content_hash = k.content_hash
       AND k.n_chars = g.survivor_n_chars
      GROUP BY k.content_hash
    )
    SELECT g.content_hash, g.n_copies, g.min_id_survivor,
           b.quality_survivor, g.survivor_n_chars,
           CAST(b.quality_survivor <> g.min_id_survivor AS BIGINT)
               AS policy_differs
    FROM grp g JOIN best b ON b.content_hash = g.content_hash
    """,
    doc="Survivor-policy dedup: duplicate groups on q110's normalized "
    "key (case-folded leading 100 chars) with TWO survivor rules side "
    "by side — the arbitrary min-doc_id baseline and the quality rule "
    "'keep the longest copy' (max n_chars, doc_id-tiebroken: the "
    "least-truncated version of the page, which is what a trainer "
    "actually wants to keep) — plus a policy_differs flag per group. "
    "The flag's sum is the reprocessing-value estimate: how many "
    "groups would change survivor if the policy switched, the question "
    "every curation team asks before re-running a 100 TB dedup. "
    "Exactness: pure counts, max, min — the argmax is expressed as "
    "max-then-tiebreak-join so both engines pick the identical doc "
    "(the q31 max_by tie discipline in join form). Scale shape: one "
    "groupBy on the 32-byte key; the HAVING prunes unique groups "
    "(~99%) before the survivor join, which is duplicate-groups-sized; "
    "bodies never shuffle, only keys and two ints.",
    tags=("dedup", "provenance", "quality"),
)
def q224_survivor_policy_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    keyed = docs.select(
        "doc_id",
        "n_chars",
        F.sha2(F.lower(F.substring("text", 1, 100)), 256).alias(
            "content_hash"
        ),
    )
    grp = (
        keyed.groupBy("content_hash")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_copies"),
            F.min("doc_id").cast("long").alias("min_id_survivor"),
            F.max("n_chars").cast("long").alias("survivor_n_chars"),
        )
        .filter(F.col("n_copies") > 1)
    )
    best = (
        keyed.alias("k")
        .join(
            grp.alias("g"),
            (F.col("g.content_hash") == F.col("k.content_hash"))
            & (F.col("k.n_chars") == F.col("g.survivor_n_chars")),
        )
        .groupBy(F.col("k.content_hash").alias("content_hash"))
        .agg(F.min("k.doc_id").cast("long").alias("quality_survivor"))
    )
    return grp.join(best, "content_hash").select(
        "content_hash",
        "n_copies",
        "min_id_survivor",
        "quality_survivor",
        "survivor_n_chars",
        F.expr(
            "CAST(quality_survivor <> min_id_survivor AS BIGINT)"
        ).alias("policy_differs"),
    )


# ---------------------------------------------------------------------------
# One-step label propagation (q230): the community/metadata-repair
# dynamic on the verified near-dup graph — each document adopts the
# plurality label (lang) among its verified neighbors, ties broken by
# the smallest label. One SYNCHRONOUS step is the oracle-able unit (the
# q38a convention for iterative algorithms: the fixpoint loop is this
# exact plan repeated, and one step already exposes the interesting
# rows — near-dup twins whose recorded language DISAGREES, i.e.
# mislabeled metadata that language-ID should arbitrate).


@register(
    "q230_label_propagation",
    # Edge relation spliced from q21's registered oracle: the step can
    # never drift from the verified pair graph it propagates over.
    oracle=f"""
    WITH pairs AS ({oracle_of("q21_ngram_jaccard_pairs")}),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    votes AS (
      SELECT e.src AS doc_id, d.lang AS cand_lang,
             CAST(COUNT(*) AS BIGINT) AS votes
      FROM edges e JOIN documents d ON d.doc_id = e.dst
      GROUP BY 1, 2
    ),
    win AS (
      SELECT doc_id, cand_lang, votes,
             row_number() OVER (
               PARTITION BY doc_id ORDER BY votes DESC, cand_lang
             ) AS rk
      FROM votes
    )
    SELECT w.doc_id, d.lang AS own_lang, w.cand_lang AS new_lang,
           w.votes,
           CAST(w.cand_lang <> d.lang AS BIGINT) AS changed
    FROM win w JOIN documents d ON d.doc_id = w.doc_id
    WHERE w.rk = 1
    """,
    doc="One synchronous label-propagation step over the verified "
    "near-dup graph (q21's capped-LSH + Jaccard pairs): every document "
    "with at least one verified neighbor adopts the plurality neighbor "
    "language, ties to the smallest label — deterministic under any "
    "partitioning. The changed=1 rows are the actionable output: "
    "near-duplicate twins whose RECORDED language disagrees, i.e. "
    "metadata errors a curation pass should route to language-ID "
    "arbitration (q24). Iterative LPA to a fixpoint is this plan "
    "repeated with the materialize-once pattern (q155/q157); one "
    "synchronous step is the hash-checkable unit, the q38a convention. "
    "Scale shape: candidate generation is the banded, hot-bucket-"
    "capped ladder (never all-pairs); the vote aggregate and the "
    "plurality window both key on doc_id — one shuffle, per-group "
    "state bounded by a doc's verified degree (cap-bounded upstream).",
    tags=("dedup", "graph", "training"),
)
def q230_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    corpus = _ladder_corpus(spark, sf_dir)
    pairs = _verified(corpus).select("doc_a", "doc_b")
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionAll(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    labels = corpus.select("doc_id", "lang")
    votes = (
        edges.join(
            labels.select(
                F.col("doc_id").alias("dst"), F.col("lang").alias("cand_lang")
            ),
            "dst",
        )
        .groupBy(F.col("src").alias("doc_id"), "cand_lang")
        .agg(F.count(F.lit(1)).cast("long").alias("votes"))
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("votes"), F.asc("cand_lang")
    )
    win = votes.withColumn("rk", F.row_number().over(w)).filter("rk = 1")
    return win.join(
        labels.withColumnRenamed("lang", "own_lang"), "doc_id"
    ).select(
        "doc_id",
        "own_lang",
        F.col("cand_lang").alias("new_lang"),
        "votes",
        F.expr("CAST(cand_lang <> own_lang AS BIGINT)").alias("changed"),
    )


# ---------------------------------------------------------------------------
# Modularity of the language partition (q234): Newman-Girvan modularity
# Q = sum_c [ e_c/m - (d_c/2m)^2 ] of the lang grouping evaluated on
# the verified near-dup graph — the one-number answer to "does the
# near-dup structure RESPECT the metadata partition?" (high Q: dups
# stay within a language, as they should; low/negative contributions:
# cross-language near-dups, i.e. translations or mislabeled twins —
# the same rows q230's label propagation flags, aggregated to a
# community-level quality score). Per-community contributions are
# exact integers: q_num_c = 4*m*e_c - d_c^2, Q_c = q_num_c / (4m^2)
# as a bit-equal IEEE expression of those integers.


@register(
    "q234_modularity_score",
    oracle=f"""
    WITH pairs AS ({oracle_of("q21_ngram_jaccard_pairs")}),
    lab AS (SELECT doc_id, lang FROM documents),
    e AS (
      SELECT la.lang AS lang_a, lb.lang AS lang_b
      FROM pairs p
      JOIN lab la ON la.doc_id = p.doc_a
      JOIN lab lb ON lb.doc_id = p.doc_b
    ),
    m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM e),
    within AS (
      SELECT lang_a AS lang, CAST(COUNT(*) AS BIGINT) AS e_c
      FROM e WHERE lang_a = lang_b GROUP BY lang_a
    ),
    deg AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS d_c FROM (
        SELECT lang_a AS lang FROM e
        UNION ALL
        SELECT lang_b AS lang FROM e
      ) GROUP BY lang
    )
    SELECT d.lang, m.m,
           COALESCE(w.e_c, 0) AS e_c, d.d_c,
           4 * m.m * COALESCE(w.e_c, 0) - d.d_c * d.d_c AS q_num,
           CAST(4 * m.m * COALESCE(w.e_c, 0) - d.d_c * d.d_c AS DOUBLE)
             / (4.0 * CAST(m.m AS DOUBLE) * CAST(m.m AS DOUBLE))
               AS q_contrib
    FROM deg d CROSS JOIN m LEFT JOIN within w ON w.lang = d.lang
    """,
    doc="Newman-Girvan modularity of the language partition over the "
    "verified near-dup graph (q21's pairs): per language, the exact "
    "integer contribution q_num = 4*m*e_c - d_c^2 and its IEEE value "
    "q_contrib = e_c/m - (d_c/2m)^2; SUM(q_contrib) is the modularity "
    "Q. Near-dup edges should be language-diagonal, so Q well below "
    "the degree-expected baseline exposes cross-language near-dup "
    "mass (translations / mislabeled metadata — the cluster-level "
    "rollup of q230's per-doc flags). Languages with no incident "
    "verified edge carry no row (their contribution is exactly 0). "
    "Exactness: counts are exact ints, q_contrib is the same "
    "expression tree of those ints in both dialects — bit-equal; "
    "int64 headroom 4*m*e_c <= 4m^2, overflow only past m ~ 1.5e9 "
    "verified pairs (cap-bounded far below that). Scale shape: the "
    "ladder generates pairs (banded, capped); the modularity rollup "
    "is two label-sized aggregates on top — free at any scale.",
    tags=("dedup", "graph", "eval"),
)
def q234_modularity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _ladder_corpus(spark, sf_dir)
    pairs = _verified(corpus).select("doc_a", "doc_b")
    e = pair_sides(pairs, corpus, "lang").select("lang_a", "lang_b")
    m = e.agg(F.count(F.lit(1)).cast("long").alias("m"))
    within = (
        e.filter("lang_a = lang_b")
        .groupBy(F.col("lang_a").alias("lang"))
        .agg(F.count(F.lit(1)).cast("long").alias("e_c"))
    )
    deg = (
        e.select(F.col("lang_a").alias("lang"))
        .unionAll(e.select(F.col("lang_b").alias("lang")))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).cast("long").alias("d_c"))
    )
    return (
        deg.crossJoin(F.broadcast(m))
        .join(F.broadcast(within), "lang", "left")
        .select(
            "lang",
            "m",
            F.coalesce("e_c", F.lit(0)).cast("long").alias("e_c"),
            "d_c",
            F.expr("4 * m * COALESCE(e_c, 0) - d_c * d_c").alias("q_num"),
            F.expr(
                "CAST(4 * m * COALESCE(e_c, 0) - d_c * d_c AS DOUBLE)"
                " / (4.0 * CAST(m AS DOUBLE) * CAST(m AS DOUBLE))"
            ).alias("q_contrib"),
        )
    )


# ---------------------------------------------------------------------------
# Exact substring-level dedup (q244) — Lee et al., "Deduplicating
# Training Data Makes Language Models Better" (arXiv:2107.06499): find
# every token run of length >= W that occurs more than once ANYWHERE in
# the corpus (across docs or repeated within one), and emit each doc's
# maximal duplicated SPANS — the exact span inventory a remove-step
# consumes. This is the production dedup mode the registry lacked: q20
# is whole-doc, q85 is line-grain, q204 is sampled fingerprints; none
# yields the exact duplicated token ranges. Lee et al. build a suffix
# array; the distributed equivalent is windowed: a token run of length
# L >= W is duplicated iff all of its L-W+1 windows are duplicated, so
# the union of duplicated W-windows IS the exact duplicated-span set.
# ---------------------------------------------------------------------------

# Lee et al. use W=50 BPE tokens on web-scale corpora; these docs are
# 10-99 whitespace tokens (median 56), so W=20 exercises the identical
# operator with a non-degenerate span population. The window content
# travels as sha256 of the exact token text (the q204 convention):
# byte-identical in both engines, and matching hashes == matching text
# up to cryptographic collision odds.
SUBSTR_W = 20


@register(
    "q244_exact_substring_spans",
    oracle=f"""
    WITH tk AS (
      SELECT doc_id, string_split(lower(text), ' ') AS toks
      FROM documents
      WHERE len(string_split(text, ' ')) >= {SUBSTR_W}
    ),
    wins AS (
      SELECT doc_id, CAST(p AS INTEGER) AS pos,
             sha256(array_to_string(
               toks[CAST(p AS INTEGER):CAST(p AS INTEGER) + {SUBSTR_W - 1}],
               ' ')) AS h
      FROM tk, unnest(range(1, len(toks) - {SUBSTR_W} + 2)) AS t(p)
    ),
    dup AS (
      SELECT doc_id, pos FROM (
        SELECT doc_id, pos, COUNT(*) OVER (PARTITION BY h) AS cnt FROM wins
      ) WHERE cnt >= 2
    ),
    flagged AS (
      SELECT doc_id, pos,
             CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                       IS NULL
                    OR pos > lag(pos) OVER (
                         PARTITION BY doc_id ORDER BY pos) + {SUBSTR_W}
                  THEN 1 ELSE 0 END AS new_island
      FROM dup
    ),
    isl AS (
      SELECT doc_id, pos,
             SUM(new_island) OVER (
               PARTITION BY doc_id ORDER BY pos) AS island
      FROM flagged
    )
    SELECT doc_id,
           CAST(MIN(pos) AS BIGINT) AS span_start,
           CAST(MAX(pos) + {SUBSTR_W - 1} AS BIGINT) AS span_end,
           CAST(MAX(pos) + {SUBSTR_W} - MIN(pos) AS BIGINT) AS n_dup_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_windows
    FROM isl GROUP BY doc_id, island
    """,
    doc="Exact substring-level dedup (Lee et al. 2021, arXiv:2107.06499, "
    f"the ExactSubstr mode): every token run of length >= {SUBSTR_W} "
    "occurring more than once in the corpus — including repeats inside "
    "one doc — reported as each doc's MAXIMAL duplicated spans "
    "(1-based token start/end, dup token count, contributing window "
    "count). Windowed formulation replaces the paper's suffix array: "
    f"a duplicated run of length L contributes L-{SUBSTR_W}+1 "
    "duplicated windows, and merging overlapping-or-adjacent "
    "duplicated windows (gaps-and-islands per doc) reconstructs the "
    "exact span set. Window identity is sha256 of the literal token "
    "text (q204 convention) — equal hashes mean equal text at "
    "cryptographic odds, and the 100 TB shuffle carries 32-byte keys, "
    "never W-token strings. Scale shape: window enumeration is "
    "doc-local array work; duplication detection is ONE shuffle of "
    "corpus windows on the hash; span merging is a per-doc window "
    "function over the (tiny) duplicated subset. No all-pairs stage "
    "anywhere — cost is linear in corpus tokens at any duplication "
    "density.",
    tags=("dedup", "spans", "window"),
)
def q244_exact_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tk = docs.filter(F.size(F.split("text", " ")) >= SUBSTR_W).select(
        "doc_id", F.split(F.lower("text"), " ").alias("toks")
    )
    wins = tk.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(1, size(toks) - {SUBSTR_W} + 1), "
                f"i -> sha2(concat_ws(' ', slice(toks, i, {SUBSTR_W})), 256))"
            )
        ).alias("pos0", "h"),
    ).select("doc_id", (F.col("pos0") + 1).cast("int").alias("pos"), "h")
    dup = (
        wins.withColumn(
            "cnt", F.count(F.lit(1)).over(Window.partitionBy("h"))
        )
        .filter(F.col("cnt") >= 2)
        .select("doc_id", "pos")
    )
    wd = Window.partitionBy("doc_id").orderBy("pos")
    flagged = dup.withColumn(
        "new_island",
        F.when(
            F.lag("pos").over(wd).isNull()
            | (F.col("pos") > F.lag("pos").over(wd) + SUBSTR_W),
            1,
        ).otherwise(0),
    )
    isl = flagged.withColumn("island", F.sum("new_island").over(wd))
    return (
        isl.groupBy("doc_id", "island")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + SUBSTR_W - 1).cast("long").alias("span_end"),
            F.count(F.lit(1)).cast("long").alias("n_windows"),
        )
        .select(
            "doc_id",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1)
            .cast("long")
            .alias("n_dup_tokens"),
            "n_windows",
        )
    )


# --- q247: LSH banding parameter tuner (analytic S-curve) -------------------
#
# For a MinHash budget of P permutations split into b bands of r rows, a
# pair with Jaccard s collides with probability 1 - (1 - s^r)^b (the LSH
# S-curve). The tuner evaluates every power-of-two factorization of two
# budgets — P=16 (the deployed q22 configuration, banded 4x4) and P=128 (a
# scale-up proposal) — against the corpus's OWN observed pair-similarity
# distribution (the q22 candidates verified with exact trigram Jaccard),
# reporting expected recall over true near-dups (jacc >= the q21 threshold)
# and expected false-positive collision mass over the rest. All arithmetic
# is exact int64 fixed-point (ppm): s^r and (1-s^r)^b are computed by
# repeated squaring with truncating division at each step — identical
# operation sequences in Spark (`div`) and DuckDB (`//`), so hashes are
# exact. Truncation bias is < log2(P) ppm per value, far below the 1-ppm
# grid the report is quoted on.

TUNER_GRID: list[tuple[int, int, int]] = [
    (p, p // r, r)
    for p in (16, 128)
    for r in (2**k for k in range(0, p.bit_length()))
    if p % r == 0
]
_TUNE_DUP_PPM = int(NEARDUP_JACCARD * 1_000_000)  # 300000


def _tuner_levels(div: str) -> list[dict[str, str]]:
    """Fixed-point power-chain columns, grouped into dependency levels
    (each level references only columns from earlier levels). ``div`` is
    the dialect's truncating integer division (`div` / `//`)."""
    max_p = max(p for p, _, _ in TUNER_GRID)
    n_lv = max_p.bit_length()  # log2(128)+1 = 8
    levels: list[dict[str, str]] = [{} for _ in range(n_lv + 2)]
    # s-chain: s{2^k} = s^(2^k), level k ("s1" is jacc_ppm itself, level 0)
    for k in range(1, n_lv):
        prev = f"s{2 ** (k - 1)}"
        levels[k][f"s{2 ** k}"] = f"(({prev} * {prev}) {div} 1000000)"
    # q-chains: qp_{r}_{e} = (1000000 - s^r)^e, e doubling up to bands
    for _, b, r in TUNER_GRID:
        if b <= 1:
            continue
        base_lv = r.bit_length()  # log2(r) + 1
        levels[base_lv][f"qp_{r}_1"] = f"(1000000 - s{r})"
        e, lv = 1, base_lv
        while e < b:
            prev = f"qp_{r}_{e}"
            e, lv = e * 2, lv + 1
            levels[lv].setdefault(f"qp_{r}_{e}", f"(({prev} * {prev}) {div} 1000000)")
    return [lv for lv in levels if lv]


def _tuner_collide(b: int, r: int) -> str:
    return f"s{r * b}" if b == 1 else f"(1000000 - qp_{r}_{b})"


def _tuner_oracle() -> str:
    chain_ctes, prev = [], "scored0"
    for i, lv in enumerate(_tuner_levels("//")):
        cols = ", ".join(f"{e} AS {n}" for n, e in lv.items())
        chain_ctes.append(f"lv{i} AS (SELECT *, {cols} FROM {prev})")
        prev = f"lv{i}"
    sums = ", ".join(
        f"CAST(SUM(CASE WHEN dup = 1 THEN {_tuner_collide(b, r)} ELSE 0 END) AS BIGINT)"
        f" AS dup_sum_{i}, "
        f"CAST(SUM(CASE WHEN dup = 1 THEN 0 ELSE {_tuner_collide(b, r)} END) AS BIGINT)"
        f" AS nondup_sum_{i}"
        for i, (_, b, r) in enumerate(TUNER_GRID)
    )
    rows = " UNION ALL ".join(
        f"SELECT {p} AS n_perms, {b} AS bands, {r} AS rows_per_band, "
        f"dup_sum_{i} AS dup_sum, nondup_sum_{i} AS nondup_sum, "
        f"n_dup, n_nondup FROM agg"
        for i, (p, b, r) in enumerate(TUNER_GRID)
    )
    return f"""
    WITH {_DUCK_CAND_CTE},
    d AS (
      SELECT doc_id, {_TG_DUCK} AS tg
      FROM documents
      WHERE len(string_split(text, ' ')) >= 3
    ),
    scored0 AS (
      SELECT c.doc_a, c.doc_b,
             (1000000 * len(list_intersect(a.tg, b.tg)))
               // len(list_distinct(a.tg || b.tg)) AS s1,
             CASE WHEN (1000000 * len(list_intersect(a.tg, b.tg)))
               // len(list_distinct(a.tg || b.tg)) >= {_TUNE_DUP_PPM}
               THEN 1 ELSE 0 END AS dup
      FROM cand c JOIN d a ON a.doc_id = c.doc_a JOIN d b ON b.doc_id = c.doc_b
    ),
    {", ".join(chain_ctes)},
    agg AS (
      SELECT CAST(SUM(dup) AS BIGINT) AS n_dup,
             CAST(SUM(1 - dup) AS BIGINT) AS n_nondup,
             {sums}
      FROM {prev}
    )
    SELECT CAST(n_perms AS INTEGER) AS n_perms,
           CAST(bands AS INTEGER) AS bands,
           CAST(rows_per_band AS INTEGER) AS rows_per_band,
           n_dup, n_nondup,
           CAST(CASE WHEN n_dup = 0 THEN 0
                ELSE dup_sum // n_dup END AS BIGINT) AS exp_recall_ppm,
           CAST(CASE WHEN n_nondup = 0 THEN 0
                ELSE nondup_sum // n_nondup END AS BIGINT) AS exp_fp_ppm
    FROM ({rows})
    """


@register(
    "q247_lsh_param_tuner",
    oracle=_tuner_oracle(),
    doc=f"LSH banding parameter tuner: evaluates the analytic S-curve "
    f"collision probability 1-(1-s^r)^b for every power-of-two "
    f"factorization of a 16-permutation budget (the deployed q22 4x4 "
    f"config) and a 128-permutation scale-up, against the corpus's own "
    f"observed pair-similarity distribution (q22 LSH candidates verified "
    f"with exact trigram Jaccard). Reports expected recall over true "
    f"near-dups (jacc >= {_TUNE_DUP_PPM} ppm) and expected false-positive "
    f"collision mass over the rest, so the b/r choice is data-driven, not "
    f"folklore. Everything is exact int64 fixed-point: s^r and (1-s^r)^b "
    f"by repeated squaring with truncating division, identical operation "
    f"sequences in both engines (truncation bias < log2(P) ppm). Scale "
    f"shape: one pass over the bounded candidate-pair set (hot buckets "
    f"capped upstream), {len(TUNER_GRID)} grid rows evaluated as extra "
    f"columns on that single pass — one global aggregate, no per-row "
    f"re-scan, then a {len(TUNER_GRID)}-way stack of the one-row result.",
    tags=("dedup", "lsh"),
)
def q247_lsh_param_tuner(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _ladder_corpus(spark, sf_dir)
    cand = minhash_candidates(corpus).select("doc_a", "doc_b")
    docs = _tg_docs(corpus.filter(F.size(F.split("text", " ")) >= 3))
    s1 = (
        "(1000000 * CAST(size(array_intersect(tg_a, tg_b)) AS BIGINT))"
        " div CAST(size(array_distinct(concat(tg_a, tg_b))) AS BIGINT)"
    )
    scored = (
        pair_sides(cand, docs, "tg")
        .select(
            F.expr(s1).alias("s1"),
            F.expr(f"CASE WHEN {s1} >= {_TUNE_DUP_PPM} THEN 1 ELSE 0 END").alias("dup"),
        )
    )
    for lv in _tuner_levels("div"):
        scored = scored.withColumns({n: F.expr(e) for n, e in lv.items()})
    agg = scored.agg(
        F.expr("CAST(SUM(dup) AS BIGINT)").alias("n_dup"),
        F.expr("CAST(SUM(1 - dup) AS BIGINT)").alias("n_nondup"),
        *[
            F.expr(
                f"CAST(SUM(CASE WHEN dup = 1 THEN {_tuner_collide(b_, r_)}"
                f" ELSE 0 END) AS BIGINT)"
            ).alias(f"dup_sum_{i}")
            for i, (_, b_, r_) in enumerate(TUNER_GRID)
        ],
        *[
            F.expr(
                f"CAST(SUM(CASE WHEN dup = 1 THEN 0"
                f" ELSE {_tuner_collide(b_, r_)} END) AS BIGINT)"
            ).alias(f"nondup_sum_{i}")
            for i, (_, b_, r_) in enumerate(TUNER_GRID)
        ],
    )
    stack = (
        f"stack({len(TUNER_GRID)}, "
        + ", ".join(
            f"{p}, {b_}, {r_}, dup_sum_{i}, nondup_sum_{i}"
            for i, (p, b_, r_) in enumerate(TUNER_GRID)
        )
        + ") AS (n_perms, bands, rows_per_band, dup_sum, nondup_sum)"
    )
    return agg.selectExpr("n_dup", "n_nondup", stack).select(
        F.col("n_perms").cast("int").alias("n_perms"),
        F.col("bands").cast("int").alias("bands"),
        F.col("rows_per_band").cast("int").alias("rows_per_band"),
        "n_dup",
        "n_nondup",
        F.expr(
            "CAST(CASE WHEN n_dup = 0 THEN 0 ELSE dup_sum div n_dup END AS BIGINT)"
        ).alias("exp_recall_ppm"),
        F.expr(
            "CAST(CASE WHEN n_nondup = 0 THEN 0"
            " ELSE nondup_sum div n_nondup END AS BIGINT)"
        ).alias("exp_fp_ppm"),
    )


# ---------------------------------------------------------------------------
# Capped prefix-filter all-pairs (q259) + posting report (q260) — the
# round-10 resolution of q205's documented weak status. q205 stays in
# the registry as the EXACT-RECALL JUDGE (oracle-checked at sf0.01,
# tagged 'exact-judge'); q259 is
# the drop-in default: identical output schema, identical algorithm,
# but prefix posting lists longer than PF_MAX_POSTING are dropped from
# the inverted index before candidate generation — the same hot-bucket
# cap q22/q32/q84 apply to LSH, making candidate volume O(corpus x cap)
# instead of super-linear. The cap's effect is never silent: q260
# reports the posting-length spectrum with dropped token/entry counts
# and the per-bucket candidate-pair bound (the q59 convention), and
# tests/test_r10_wave.py reconciles q259 against q205 exactly at test
# scale. Measured at sf0.1 the longest posting list is 12, so the cap
# is a no-op there (q259 == q205, zero loss); the 10x corpus's 75M-pair
# candidate core is replication-driven posting growth, exactly what the
# cap bounds at scale.
# ---------------------------------------------------------------------------

PF_MAX_POSTING = 64
PF_BROADCAST_MAX_DOCS = 100_000  # verify-array broadcast cutover (see _pf_pairs_from)

_PF_DUCK_CTES = f"""dtok AS (
      SELECT doc_id, unnest({token_ngrams_duck("text", 3)}) AS tok
      FROM documents
      WHERE len(string_split(text, ' ')) >= 3
    ),
    dfr AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM dtok GROUP BY tok),
    m AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS m FROM dtok GROUP BY doc_id),
    ranked AS (
      SELECT d.doc_id, d.tok,
             row_number() OVER (
               PARTITION BY d.doc_id ORDER BY f.df, d.tok
             ) AS r
      FROM dtok d JOIN dfr f ON f.tok = d.tok
    ),
    pfx AS (
      SELECT r.doc_id, r.tok
      FROM ranked r JOIN m ON m.doc_id = r.doc_id
      WHERE r.r <= m.m - ({PF_JACCARD_NUM} * m.m + {PF_JACCARD_DEN - 1})
                          // {PF_JACCARD_DEN} + 1
    ),
    post AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS plen
             FROM pfx GROUP BY tok)"""


@register(
    "q259_prefix_pairs_capped",
    oracle=f"""
    WITH {_PF_DUCK_CTES},
    pfx2 AS (
      SELECT p.doc_id, p.tok
      FROM pfx p JOIN post c ON c.tok = p.tok
      WHERE c.plen <= {PF_MAX_POSTING}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM pfx2 a JOIN pfx2 b ON a.tok = b.tok AND a.doc_id < b.doc_id
    ),
    tgs AS (
      SELECT doc_id, {token_ngrams_duck("text", 3)} AS tg
      FROM documents
      WHERE len(string_split(text, ' ')) >= 3
    ),
    inter AS (
      SELECT c.doc_a, c.doc_b,
             CAST(len(list_intersect(a.tg, b.tg)) AS BIGINT) AS n_inter,
             CAST(len(a.tg) + len(b.tg)
                  - len(list_intersect(a.tg, b.tg)) AS BIGINT) AS n_union
      FROM cand c
      JOIN tgs a ON a.doc_id = c.doc_a
      JOIN tgs b ON b.doc_id = c.doc_b
    )
    SELECT doc_a, doc_b, n_inter, n_union,
           CAST(n_inter * 1000000 // n_union AS BIGINT) AS jacc_ppm
    FROM inter
    WHERE {PF_JACCARD_DEN} * n_inter >= {PF_JACCARD_NUM} * n_union
    """,
    doc=f"Capped prefix-filter all-pairs Jaccard join — q205's default-"
    f"path twin (round-10 demotion): prefix posting lists longer than "
    f"{PF_MAX_POSTING} are dropped from the inverted index (broadcast "
    "anti-join against the hot-token set, which is small by "
    "construction) before candidate generation; survivors are "
    "verified by the same exact rational comparison. Same output "
    "schema as q205, so it is a drop-in; recall loss is only possible "
    "for pairs ALL of whose shared prefix tokens are hot, is zero at "
    "sf<=0.1 (longest posting list measured: 12), and is observable: "
    "q260 reports the posting spectrum + dropped counts, q205 remains "
    "the oracle-checked exact judge, and the wave test reconciles the "
    "two pair sets. Scale shape: the cap makes candidate volume "
    f"O(corpus x {PF_MAX_POSTING}) — linear where the exact join's "
    "10x-measured 75M-pair core grows super-linearly; everything else "
    "is the q205 plan (equi-joins, broadcast verify arrays, PPJoin "
    "length+positional pruning) over the same checkpointed prefix index "
    "(materialize_prefix_index) — q259 and its q263 twin run one plan.",
    tags=("dedup", "join", "capped"),
)
def q259_prefix_pairs_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _pf_pairs_plan(spark, sf_dir, cap=PF_MAX_POSTING)


@register(
    "q260_prefix_posting_report",
    oracle=f"""
    WITH {_PF_DUCK_CTES}
    SELECT CAST(LEAST(plen, {PF_MAX_POSTING + 1}) AS BIGINT) AS plen_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(plen) AS BIGINT) AS n_entries,
           CAST(SUM(CASE WHEN plen > {PF_MAX_POSTING} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_tokens_dropped,
           CAST(SUM(CASE WHEN plen > {PF_MAX_POSTING} THEN plen ELSE 0 END)
                AS BIGINT) AS n_entries_dropped,
           CAST(SUM(plen * (plen - 1) // 2) AS BIGINT) AS cand_pairs_bound
    FROM post GROUP BY 1
    """,
    doc="Prefix-posting spectrum report for the q259 cap — the q59 "
    "no-silent-caps rule applied to the AllPairs inverted index: per "
    "posting-length bucket (exact up to the cap, one tail bucket "
    "above), token and entry counts, how many tokens/entries the "
    f"{PF_MAX_POSTING}-cap drops, and the candidate-pair bound "
    "sum(plen*(plen-1)/2) — the quantity that goes quadratic on "
    "replicated corpora and that the cap bounds. Capping is only "
    "acceptable because its effect is observable here. int64: "
    "plen*(plen-1)/2 stays under 2^63 below ~4.3e9 docs sharing one "
    "posting (see tools/overflow_allowlist.json). Scale shape: one "
    "corpus scan -> prefix index -> token-keyed count -> bucket-sized "
    "aggregate (<= cap+1 rows out).",
    tags=("dedup", "observability"),
)
def q260_prefix_posting_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _pf_report_from(_pf_prefix(_pf_ranked(spark, sf_dir)))


def _pf_report_from(pfx: DataFrame) -> DataFrame:
    """Posting-length spectrum aggregation over a prefix index — shared by
    the self-contained q260 and its from-materialized twin."""
    post = pfx.groupBy("tok").agg(
        F.count(F.lit(1)).cast("long").alias("plen")
    )
    return (
        post.groupBy(
            F.expr(
                f"CAST(LEAST(plen, {PF_MAX_POSTING + 1}) AS BIGINT)"
            ).alias("plen_bucket")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum("plen").cast("long").alias("n_entries"),
            F.sum(
                F.when(F.col("plen") > PF_MAX_POSTING, 1).otherwise(0)
            ).cast("long").alias("n_tokens_dropped"),
            F.sum(
                F.when(
                    F.col("plen") > PF_MAX_POSTING, F.col("plen")
                ).otherwise(0)
            ).cast("long").alias("n_entries_dropped"),
            F.sum(
                F.expr("plen * (plen - 1) div 2")
            ).cast("long").alias("cand_pairs_bound"),
        )
    )


# ---------------------------------------------------------------------------
# From-materialized prefix-index twins (q263/q264) + incremental-CC twin
# (q262) — round-11 closures of the last two ladder-recomputing entries.
#
# q260 rebuilds the Bayardo prefix index (the dominant cost: tokenize ->
# df -> rank -> prefix cut); q157 re-runs the LSH -> verify ladder. The
# production shape is the q199-q201 convention: build the index /
# verify the pairs ONCE per corpus snapshot (checkpoint.materialize_once)
# and derive every consumer from the checkpoint — q205/q259 read the same index. Oracles
# are the self-contained entries' oracles spliced VERBATIM, so a hash
# match proves materialize/read-back loses nothing — twin ==
# self-contained.
# ---------------------------------------------------------------------------

# Bucket count for the materialized index layout: ADAPTIVE to corpus
# size (round-12 verdict item 1 — a fixed 64 made five bucketed scans
# of 64 near-empty files the dominant q263/q264 cost at small scale).
# Measured anchors (round 13, build / q263-read / q264 seconds):
#   sf0.1 (0.6 MB docs):  64 -> 3.1/4.9/0.59   8 -> 1.9/4.4/0.27
#   100x  (60 MB docs):   64 -> 73/11.0/1.4   16 -> 64/7.5/2.2
# Rule: one bucket per PF_BUCKET_TARGET_BYTES of raw documents,
# power-of-two, floored at 8 (read parallelism never collapses to a
# handful of tasks) and CAPPED AT 64 — the cap is itself measured: a
# 256-bucket build at 100x costs 180 s vs 64 s at 64 buckets (the
# bucketed write's tok-keyed repartition pays per-bucket overhead on a
# skewed key), and the first 1000x attempt at 256 buckets spent ~35
# min in that one stage. Unknown corpus size (remote URI — _dir_bytes
# returns None) falls back to the conservative production default
# below. The bucketed write repartitions on the bucket column first so
# each table lands as one file per bucket.
PF_INDEX_BUCKETS = 64  # unknown-size fallback
PF_BUCKET_TARGET_BYTES = 4 * 1024 * 1024
PF_BUCKET_MAX = 64


def _pf_index_buckets(sf_dir: str) -> int:
    import os as _os

    from ..sources.testdata import _dir_bytes

    nbytes = _dir_bytes(_os.path.join(sf_dir, "documents.parquet"))
    if nbytes is None:
        return PF_INDEX_BUCKETS
    b = 8
    while b < PF_BUCKET_MAX and nbytes > b * PF_BUCKET_TARGET_BYTES:
        b *= 2
    return b


class PrefixIndex(NamedTuple):
    """A built prefix index: its two tables and tg's row count (n_docs)."""

    pfx: str
    tg: str
    n_docs: int


def materialize_prefix_index(spark: SparkSession, sf_dir: str) -> PrefixIndex:
    """Build the UNCAPPED prefix index once per (session, corpus) and
    write it as two BUCKETED external catalog tables under the
    checkpoint directory: ``pfx`` (doc_id, tok, r, m — the ranked
    Bayardo prefix entries) bucketed+sorted by ``tok``, and ``tg``
    (doc_id, tg — the sorted verify arrays) bucketed+sorted by
    ``doc_id``. Returns the two table names and the tg row count, which
    an Observation on the tg write records (no count job); later calls
    in the same session return them while both tables exist (the
    checkpoint.materialize_once rule).

    Every trigram is stored as its 64-bit id, doc_id * 2^32 + pos of
    its first occurrence (_PF_SLOT), not as its string: the strings
    were most of the index bytes. Precondition: every doc_id
    lies in [-2^31, 2^31), or the ids would overflow and collide; the
    build fails with an error naming that bound before any table is
    written. The build persists _pf_ranked's id stream, so both writes
    share one tokenize -> df -> rank pass, and releases it when the
    writes end, failed or not.

    Layout rationale (round-11 verdict item 6 — the prefix family's
    super-linear tail): the downstream plan joins pfx WITH ITSELF on
    tok (candidate generation) and joins candidates with tg twice on
    doc id (verify). With plain parquet every consumer re-shuffles the
    full index — at 1000x the pfx self-join and the trigram-array
    shuffle were exactly the measured disk-spill killers. Bucketing
    moves that shuffle INTO the one-time write (a single repartition
    per table): the self-join reads co-bucketed sorted runs
    (shuffle-free sort-merge), the per-tok hot-token aggregate needs no
    exchange, and the verify join's tg side arrives pre-partitioned —
    only the cap-bounded candidate list still moves. An external table
    reports the same bucket spec as a managed one; its data lives in
    the fresh checkpoint directory, never in the shared warehouse, so
    no leftover location from another process can collide with it."""
    import hashlib as _hashlib
    import os as _os

    from ..sources import fs

    # Names are stable per (session, corpus), so a rebuild in the same
    # session overwrites the catalog entries instead of adding new ones.
    tag = _hashlib.md5(
        f"{spark.sparkContext.applicationId}|{_os.path.normpath(sf_dir)}".encode()
    ).hexdigest()[:16]
    names = (f"pf_idx_pfx_{tag}", f"pf_idx_tg_{tag}")

    def build(ckpt: str) -> PrefixIndex:
        # one tokenize -> df -> rank pass feeds both bucketed writes
        ranked = _pf_ranked(spark, sf_dir).persist()
        n_docs = Observation()
        try:
            n_buckets = _pf_index_buckets(sf_dir)
            # a cached frame reports no partitioning, so tg groups AFTER
            # its bucket repartition: one exchange per table
            frames = (
                _pf_prefix(ranked).repartition(n_buckets, "tok"),
                _pf_tg(ranked.repartition(n_buckets, "doc_id")).observe(
                    n_docs, F.count(F.lit(1)).alias("n")
                ),
            )
            for df, col, name in zip(frames, ("tok", "doc_id"), names):
                (
                    df.write.mode("overwrite")
                    .format("parquet")
                    .option("path", fs.join(ckpt, name))
                    .bucketBy(n_buckets, col)
                    .sortBy(col)
                    .saveAsTable(name)
                )
        finally:
            # everything downstream reads the bucketed checkpoint
            ranked.unpersist()
        return PrefixIndex(*names, n_docs.get["n"])

    return materialize_once(
        spark, sf_dir, "pf_idx", build,
        lambda ix: all(spark.catalog.tableExists(t) for t in (ix.pfx, ix.tg)),
    )


@register(
    "q262_incremental_components_materialized",
    oracle=oracle_of("q157_incremental_components"),
    doc="q157's incremental connected components computed FROM THE "
    "MATERIALIZED verified-pair checkpoint (materialize_verified_pairs "
    "— the same parquet q199-q201 read): because verification is "
    "per-pair, splitting the checkpoint by the batch predicate "
    "(either endpoint in the new batch) yields exactly q157's old-old "
    "and touches-new verified sets without re-running the LSH->verify "
    "ladder — the round-10 verdict measured the ladder at ~99% "
    "of q157's self-contained cost. Contract-and-merge CC is q157's "
    "own plan, _incremental_components, given the checkpoint instead "
    "of q21's in-plan pairs. Oracle: q157's (q60's "
    "full-recompute recursive twin) spliced verbatim — the hash match "
    "proves checkpoint-split == verify-twice == full recompute. Scale "
    "shape: one parquet scan + a filter in place of two ladder "
    "executions; CC over a component-count node set with batch-bounded "
    "edges, as before.",
    tags=("dedup", "graph", "iterative", "incremental", "composition"),
)
def q262_incremental_components_materialized(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _incremental_components(
        load_table(spark, sf_dir, "documents").select("doc_id"),
        _materialized_pairs(spark, sf_dir),
    )


@register(
    "q263_prefix_pairs_materialized",
    oracle=oracle_of("q259_prefix_pairs_capped"),
    doc="q259's capped prefix-filter all-pairs join computed FROM THE "
    "MATERIALIZED prefix index (materialize_prefix_index): the "
    "tokenize -> df -> rank -> prefix-cut build is paid once per "
    "corpus snapshot and written as two bucketed tables (pfx entries + "
    "verify trigram arrays, each trigram a 64-bit id); this entry reads "
    "the checkpoint, applies "
    "the PF_MAX_POSTING hot-token cap, and runs the PPJoin candidate + "
    "exact-verify plan. q205, q259 and q263 all run this one plan "
    "(_pf_pairs_plan) over the one checkpoint; n_docs for the broadcast "
    "cutovers is the tg row count the index build recorded, so planning "
    "over a built index runs no Spark job. Oracle: q259's spliced "
    "verbatim — hash match == twin identity. Scale shape: index build amortized across the "
    "prefix family; consume cost is the cap-bounded candidate join "
    "only.",
    tags=("dedup", "join", "capped", "composition"),
)
def q263_prefix_pairs_materialized(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _pf_pairs_plan(spark, sf_dir, cap=PF_MAX_POSTING)


@register(
    "q264_prefix_report_materialized",
    oracle=oracle_of("q260_prefix_posting_report"),
    doc="q260's posting-length spectrum report computed from the "
    "materialized prefix index — one token-keyed count over the pfx "
    "parquet instead of a full index rebuild (q260's 12.8 s in the "
    "round-10 driver bench was ~entirely the rebuild). Oracle: q260's "
    "spliced verbatim — hash match == twin identity.",
    tags=("dedup", "observability", "composition"),
)
def q264_prefix_report_materialized(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _pf_report_from(spark.table(materialize_prefix_index(spark, sf_dir).pfx))
