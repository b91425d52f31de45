"""Exact-substring deduplication (ExactSubstr) over the `documents` table.

The one canonical LLM-dedup family the registry lacked (round-11 verdict
item 1): Lee et al. 2022, "Deduplicating Training Data Makes Language
Models Better", deduplicate any substring of >= 50 tokens that appears
more than once in the corpus (their suffix-array ExactSubstr tool). The
distributed re-expression here is the sorted k-gram-run identity:

    A token position p of document d is covered by SOME duplicated
    substring of length >= L  <=>  p lies inside the L-token window of
    at least one duplicated L-gram occurrence (d, s), s <= p < s + L.

(=>: every length-L window of a duplicated run of length >= L is itself
duplicated — a substring of a string that occurs twice occurs twice —
and those windows cover the whole run. <=: a duplicated L-gram IS a
duplicated substring of length L.) So per-document duplicated-span
coverage is the size of the union of fixed-length intervals anchored at
duplicated L-gram positions — computable with one global L-gram
frequency aggregate, one inverted-index equi-join on the gram key, and a
per-document interval union: NO doc-pair materialization anywhere, which
is why this family needs no hot-key cap: candidate volume is linear in
corpus size by construction (contrast q259's pair join, where the cap
bounds a quadratic core).

Duplication is counted Lee-style across the WHOLE corpus including the
same document (frequency >= 2 over all positions), so a doc that repeats
its own boilerplate twice is covered — exactly the self-memorization
case ExactSubstr exists to remove.

L here is ESUB_L = 8 tokens (the q85 PASSAGE_N convention; the synthetic
docs are 10-99 tokens, so 50 would planted-dup-free every corpus; the
operator is a constant away from the paper's 50).

Scale path: the exact judge (q267/q268) shuffles gram STRINGS (~8 short
tokens); the production twin q269 keys the same pipeline on an explicit
62-bit integer gram hash (two independent 31-bit polynomial folds over
token hashes, packed into one int64), so the freq aggregate and the
inverted-index join shuffle 8-byte ints — the "at 100 TB the passage
string would be replaced by its 64-bit polynomial hash" promise in
q85's doc, delivered. Both folds are explicit integer arithmetic, so
DuckDB computes identical keys and the twin stays fully hash-checked;
a key collision (two distinct grams, same 62-bit key) would mark a
false duplicate in BOTH engines identically — expected collisions
n^2/2^63 ~= 3e-9 at 1x (2.4e5 grams) and ~0.003 at 1000x (2.4e8), and
the twin-identity test (q269 == q267 row-for-row) would catch one at
test scale.

Reference parity note: the reference repo (dag2_clean_validate.py:43-69)
dedups whole rows only; substring-level dedup is extension-tier — cited
per SURVEY.md section 7.6.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources import load_table
from .registry import register

# Minimum duplicated-run length in tokens. The paper uses 50; the
# synthetic docs are 10-99 tokens, so the family-defining constant is 8
# (the q85 passage convention) — every plan below is parameterized by it.
ESUB_L = 8

# Two independent 31-bit polynomial folds over token hashes for q269's
# packed 62-bit gram key. Bases/moduli chosen so acc*BASE + x < 2^63
# (acc < MOD < 2^31, BASE ~ 1e6, x < POLY_MOD ~ 2^30).
ESUB_H1_BASE, ESUB_H1_MOD = 1_000_003, 2_147_483_647  # 2^31 - 1 (prime)
ESUB_H2_BASE, ESUB_H2_MOD = 1_000_033, 2_147_483_629  # prime
ESUB_PACK = 2_147_483_648  # 2^31: key = h1 * PACK + h2 < 2^62

# Frequency-spectrum report tail bucket (q270): exact buckets 2..16,
# one tail bucket at 17+ — bounded output however hot the corpus.
ESUB_FREQ_TAIL = 17


def _esub_grams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_tokens, pos, g): every positioned L-gram of every
    eligible (>= L tokens) document — ONE corpus scan, no UDF. pos is
    1-based; g is the space-joined L-token window (split keeps empty
    fields in both dialects, so gram strings are byte-identical)."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    toks = (
        docs.select("doc_id", F.split("text", " ").alias("t"))
        .filter(F.expr(f"size(t) >= {ESUB_L}"))
    )
    return toks.select(
        "doc_id",
        F.expr("CAST(size(t) AS LONG)").alias("n_tokens"),
        F.expr(
            f"explode(transform(sequence(1, size(t) - {ESUB_L} + 1), "
            f"i -> struct(CAST(i AS LONG) AS pos, "
            f"concat_ws(' ', slice(t, i, {ESUB_L})) AS g)))"
        ).alias("x"),
    ).select("doc_id", "n_tokens", "x.pos", "x.g")


def _esub_grams_hashed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q269's integer twin of _esub_grams: (doc_id, n_tokens, pos, gk)
    where gk packs two independent 31-bit polynomial folds over the
    window's token hashes into one int64 — the shuffle carries 8-byte
    keys instead of ~8-token strings. Same eligibility, same positions.

    The Spark side is the Arrow/numpy operator (the q22 convention): the
    SQL higher-order-function form runs INTERPRETED — per-character
    lambda chains — and was measured 1.5x slower than shuffling the raw
    gram strings at gen100x (204 s vs 139 s, commit 7cd061b),
    defeating the twin's purpose; the numpy form computes the same
    integers vectorized and the DuckDB oracle keeps the SQL form, so
    the hash match proves the two paths agree."""
    from ..operators.text import esub_hashed_grams_pandas

    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    return esub_hashed_grams_pandas(
        docs,
        ESUB_L,
        (ESUB_H1_BASE, ESUB_H1_MOD),
        (ESUB_H2_BASE, ESUB_H2_MOD),
        ESUB_PACK,
    )


def _esub_coverage_from(grams: DataFrame, key: str) -> DataFrame:
    """Shared coverage plan over a positioned gram stream keyed by
    ``key`` (string g for the exact judge, int64 gk for the hashed
    twin): global frequency -> inverted-index join -> per-doc union of
    fixed-length intervals at duplicated positions.

    The union is one groupBy over the freq-joined stream: duplicated
    positions are collected per doc (collect_list skips the NULLs the
    when() leaves for unique grams), sorted, and folded — coverage =
    sum over consecutive dup positions of min(L, gap) plus L for the
    last. One aggregation yields every eligible doc (each emits >= 1
    gram), so zero-dup docs appear with dup_tokens = 0 without a second
    corpus scan. The per-doc position array is bounded by doc length —
    the same order as the verify trigram arrays elsewhere; a
    window-lead form avoids the array entirely but needs a separate
    doc spine (second scan), the wrong trade until docs outgrow
    partitions."""
    freq = grams.groupBy(key).agg(F.count(F.lit(1)).cast("long").alias("c"))
    flagged = grams.join(freq, key)
    cov = (
        f"CASE WHEN size(dps) = 0 THEN 0L "
        f"WHEN size(dps) = 1 THEN CAST({ESUB_L} AS LONG) "
        f"ELSE CAST({ESUB_L} AS LONG) + aggregate(sequence(1, size(dps) - 1), 0L, "
        f"(acc, i) -> acc + least(CAST({ESUB_L} AS LONG), "
        f"element_at(dps, i + 1) - element_at(dps, i))) END"
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.first("n_tokens").alias("n_tokens"),
            F.sort_array(
                F.collect_list(F.when(F.col("c") >= 2, F.col("pos")))
            ).alias("dps"),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.expr(cov).alias("dup_tokens"),
            F.expr(
                f"CAST(({cov}) * 1000000 div n_tokens AS LONG)"
            ).alias("dup_ppm"),
        )
    )


_ESUB_DUCK_GRAMS = f"""toks AS (
      SELECT doc_id, string_split(text, ' ') AS t
      FROM documents
      WHERE len(string_split(text, ' ')) >= {ESUB_L}
    ),
    grams AS (
      SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
             CAST(i AS BIGINT) AS pos,
             array_to_string(t[i:i+{ESUB_L - 1}], ' ') AS g
      FROM toks, unnest(generate_series(1, len(t) - {ESUB_L} + 1)) AS u(i)
    )"""

_ESUB_DUCK_COV = f"""
    freq AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS c FROM grams GROUP BY g),
    per_doc AS (
      SELECT gr.doc_id,
             MIN(gr.n_tokens) AS n_tokens,
             list_sort(list(CASE WHEN f.c >= 2 THEN gr.pos END)
                       FILTER (WHERE f.c >= 2)) AS dps
      FROM grams gr JOIN freq f ON f.g = gr.g
      GROUP BY gr.doc_id
    ),
    cov AS (
      -- dps IS NULL when no gram qualified: list(..) FILTER yields NULL,
      -- not [] — without the IS NULL arm the ELSE branch credits L
      -- phantom tokens to every dup-free doc
      SELECT doc_id, n_tokens,
             CASE WHEN dps IS NULL OR len(dps) = 0 THEN 0
                  ELSE CAST({ESUB_L} + COALESCE(list_sum(
                    list_transform(range(1, len(dps)),
                                   i -> LEAST({ESUB_L}, dps[i+1] - dps[i]))
                  ), 0) AS BIGINT) END AS dup_tokens
      FROM per_doc
    )
    SELECT doc_id, n_tokens, dup_tokens,
           CAST(dup_tokens * 1000000 // n_tokens AS BIGINT) AS dup_ppm
    FROM cov"""


@register(
    "q267_exactsubstr_coverage",
    oracle=f"""
    WITH {_ESUB_DUCK_GRAMS},
    {_ESUB_DUCK_COV}
    """,
    doc=f"ExactSubstr duplicated-span coverage (Lee et al. 2022, "
    f"'Deduplicating Training Data Makes Language Models Better'): per "
    f"document, how many of its tokens lie inside some substring of "
    f">= {ESUB_L} tokens that occurs elsewhere in the corpus (any "
    f"position, same doc included — frequency >= 2 over ALL gram "
    f"positions, the paper's self-memorization case). Computed by the "
    f"sorted k-gram-run identity (module docstring): positioned "
    f"{ESUB_L}-gram stream -> global frequency -> inverted-index join "
    f"-> per-doc union of fixed-length intervals, dup_ppm = "
    f"dup_tokens*1e6 div n_tokens. This is token-SPAN coverage with "
    f"positions — q85 is the distinct-passage fraction (positions "
    f"dropped); thresholding dup_ppm is the removal rule ExactSubstr "
    f"pipelines apply. Scale shape: one corpus scan, two keyed "
    f"shuffles (gram freq with map-side combine; inverted-index "
    f"equi-join) + one doc-keyed agg; NO pair materialization, so no "
    f"cap is needed — candidate volume is linear by construction. The "
    f"gram-string shuffle is the judge's cost; q269 is the int64-keyed "
    f"production twin.",
    tags=("dedup", "text", "exactsubstr"),
)
def q267_exactsubstr_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _esub_coverage_from(_esub_grams(spark, sf_dir), "g")


@register(
    "q268_exactsubstr_runs",
    oracle=f"""
    WITH {_ESUB_DUCK_GRAMS},
    freq AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS c FROM grams GROUP BY g),
    dup AS (
      SELECT gr.doc_id, gr.pos
      FROM grams gr JOIN freq f ON f.g = gr.g
      WHERE f.c >= 2
    ),
    flagged AS (
      SELECT doc_id, pos,
             CASE WHEN pos - LAG(pos) OVER w > {ESUB_L} OR
                       LAG(pos) OVER w IS NULL THEN 1 ELSE 0 END AS brk
      FROM dup
      WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ),
    islands AS (
      SELECT doc_id, pos,
             SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS UNBOUNDED PRECEDING) AS island
      FROM flagged
    )
    SELECT doc_id,
           CAST(MIN(pos) AS BIGINT) AS run_start,
           CAST(MAX(pos) - MIN(pos) + {ESUB_L} AS BIGINT) AS run_len,
           CAST(COUNT(*) AS BIGINT) AS n_grams
    FROM islands GROUP BY doc_id, island
    """,
    doc=f"Maximal duplicated runs — the spans ExactSubstr would actually "
    f"cut: gaps-and-islands over each document's duplicated "
    f"{ESUB_L}-gram positions (a new island starts when the gap to the "
    f"previous duplicated position exceeds {ESUB_L}, i.e. the fixed-"
    f"length intervals no longer touch), each island reported as "
    f"(run_start, run_len = last-first+{ESUB_L}, n_grams). Invariant "
    f"pinned in tests: sum(run_len) per doc == q267's dup_tokens — "
    f"runs ARE the interval union, itemized. Scale shape: q267's "
    f"pipeline with the per-doc fold swapped for lag/sum windows over "
    f"doc-partitioned dup positions (bounded by doc length).",
    tags=("dedup", "text", "exactsubstr", "window"),
)
def q268_exactsubstr_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    grams = _esub_grams(spark, sf_dir)
    freq = grams.groupBy("g").agg(F.count(F.lit(1)).cast("long").alias("c"))
    dup = (
        grams.join(freq, "g")
        .filter(F.col("c") >= 2)
        .select("doc_id", "pos")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    flagged = dup.withColumn(
        "brk",
        F.when(
            F.col("pos") - F.lag("pos").over(w) > ESUB_L, 1
        ).when(F.lag("pos").over(w).isNull(), 1).otherwise(0),
    )
    islands = flagged.withColumn(
        "island",
        F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return islands.groupBy("doc_id", "island").agg(
        F.min("pos").cast("long").alias("run_start"),
        (F.max("pos") - F.min("pos") + ESUB_L).cast("long").alias("run_len"),
        F.count(F.lit(1)).cast("long").alias("n_grams"),
    ).select("doc_id", "run_start", "run_len", "n_grams")


_ESUB_DUCK_TH = (
    "list_transform(string_split(text, ' '), t -> "
    "list_reduce(list_prepend(0::BIGINT, list_transform("
    "string_split(t, ''), c -> ascii(c)::BIGINT)), "
    "(acc, x) -> (acc * 31 + x) % 1000000007))"
)

_ESUB_DUCK_GRAMS_HASHED = f"""toks AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             {_ESUB_DUCK_TH} AS th
      FROM documents
      WHERE len(string_split(text, ' ')) >= {ESUB_L}
    ),
    grams AS (
      SELECT doc_id, n_tokens, CAST(i AS BIGINT) AS pos,
             list_reduce(list_prepend(0::BIGINT, th[i:i+{ESUB_L - 1}]),
               (acc, x) -> (acc * {ESUB_H1_BASE} + x) % {ESUB_H1_MOD})
               * {ESUB_PACK}
             + list_reduce(list_prepend(0::BIGINT, th[i:i+{ESUB_L - 1}]),
               (acc, x) -> (acc * {ESUB_H2_BASE} + x) % {ESUB_H2_MOD})
               AS g
      FROM toks, unnest(generate_series(1, CAST(n_tokens AS INT) - {ESUB_L} + 1)) AS u(i)
    )"""


@register(
    "q269_exactsubstr_hashed_coverage",
    oracle=f"""
    WITH {_ESUB_DUCK_GRAMS_HASHED},
    {_ESUB_DUCK_COV}
    """,
    doc=f"q267's production twin: the identical ExactSubstr coverage "
    f"pipeline keyed on an explicit 62-bit integer gram hash (two "
    f"independent 31-bit polynomial folds over the window's token "
    f"hashes, packed h1*2^31+h2 — all int64-safe: acc*base+x < 2^63) "
    f"instead of the ~{ESUB_L}-token gram STRING, so the frequency "
    f"shuffle and the inverted-index join carry 8-byte keys — the "
    f"100 TB shuffle-width fix q85's doc promises. Every fold is "
    f"explicit integer arithmetic, identical in DuckDB, so the twin "
    f"stays fully hash-checked; a 62-bit collision would mark a false "
    f"duplicate identically in both engines (expected n^2/2^63 ~ 3e-9 "
    f"at 1x, ~0.003 at 1000x — the documented exactness envelope) and "
    f"the q269==q267 twin-identity test would surface one at test "
    f"scale. Same output schema/rows as q267.",
    tags=("dedup", "text", "exactsubstr", "capped"),
)
def q269_exactsubstr_hashed_coverage(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _esub_coverage_from(_esub_grams_hashed(spark, sf_dir), "gk")


@register(
    "q270_exactsubstr_freq_report",
    oracle=f"""
    WITH {_ESUB_DUCK_GRAMS},
    freq AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS c FROM grams GROUP BY g)
    SELECT CAST(LEAST(c, {ESUB_FREQ_TAIL}) AS BIGINT) AS freq_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(c) AS BIGINT) AS n_occurrences
    FROM freq GROUP BY 1
    """,
    doc=f"ExactSubstr gram-frequency spectrum (the q59/q260 "
    f"observability convention): distinct {ESUB_L}-gram keys and total "
    f"occurrences per frequency bucket (exact up to {ESUB_FREQ_TAIL - 1}, "
    f"one tail bucket above — bounded output however hot the corpus). "
    f"freq_bucket >= 2 rows are the duplicated mass q267 charges "
    f"against documents; the report is how an operator sizes the "
    f"duplication load (and would choose L) before running the "
    f"coverage job. Scale shape: gram freq agg (map-side combine) -> "
    f"<= {ESUB_FREQ_TAIL} rows.",
    tags=("dedup", "text", "exactsubstr", "observability"),
)
def q270_exactsubstr_freq_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    grams = _esub_grams(spark, sf_dir)
    freq = grams.groupBy("g").agg(F.count(F.lit(1)).cast("long").alias("c"))
    return freq.groupBy(
        F.expr(f"CAST(LEAST(c, {ESUB_FREQ_TAIL}) AS BIGINT)").alias(
            "freq_bucket"
        )
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_grams"),
        F.sum("c").cast("long").alias("n_occurrences"),
    )
