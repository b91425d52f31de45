"""Text-analysis queries over the `documents` table: language ID, quality
scoring, token counting, fingerprinting — the per-document featurization
pass of a training-data pipeline. All pure SQL expressions (no UDFs), all
oracle-checked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.text import LANG_STOPWORDS, char_shingle_hashes_pair, poly_hash_pair
from ..schemas import rows_frame
from ..sources import load_table
from .registry import register

_LANGS = list(LANG_STOPWORDS)  # en, de, fr, es, zh


def _stoplist_sql(lang: str, dialect: str) -> str:
    words = ", ".join(f"'{w}'" for w in LANG_STOPWORDS[lang])
    if dialect == "spark":
        return f"array({words})"
    return f"[{words}]"


def _score_exprs(dialect: str) -> dict[str, str]:
    """Per-language stopword-hit counts over distinct lowercase tokens."""
    out = {}
    for lang in _LANGS:
        if dialect == "spark":
            out[lang] = (
                f"size(array_intersect(array_distinct(split(lower(text), ' ')), "
                f"{_stoplist_sql(lang, 'spark')}))"
            )
        else:
            out[lang] = (
                f"len(list_intersect(list_distinct(string_split(lower(text), ' ')), "
                f"{_stoplist_sql(lang, 'duck')}))"
            )
    return out


def _predict_expr(scores: dict[str, str]) -> str:
    """Argmax with deterministic precedence (list order breaks ties)."""
    # lang wins if its score >= all later langs' scores and > all earlier
    # ones is equivalent to a first-max CASE chain in list order.
    conds = []
    for i, lang in enumerate(_LANGS):
        others = [
            f"({scores[lang]}) >= ({scores[o]})" for o in _LANGS if o != lang
        ]
        conds.append(f"WHEN {' AND '.join(others)} THEN '{lang}'")
    return "CASE " + " ".join(conds) + " ELSE 'und' END"


_SPARK_SCORES = _score_exprs("spark")
_DUCK_SCORES = _score_exprs("duck")


@register(
    "q24_lang_id",
    oracle=f"""
    SELECT doc_id,
           {", ".join(f"CAST({_DUCK_SCORES[lang]} AS INTEGER) AS score_{lang}" for lang in _LANGS)},
           {_predict_expr(_DUCK_SCORES)} AS predicted_lang,
           lang AS labeled_lang,
           CAST(({_predict_expr(_DUCK_SCORES)}) = lang AS INTEGER) AS agree
    FROM documents
    """,
    doc="Heuristic language ID: stopword-hit counts per language over "
    "distinct tokens, argmax with deterministic tie order. One projection "
    "pass, no shuffle; the stopword arrays are constant-folded literals.",
    tags=("text",),
)
def q24_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pred = _predict_expr(_SPARK_SCORES)
    return docs.select(
        "doc_id",
        *[
            F.expr(_SPARK_SCORES[lang]).cast("int").alias(f"score_{lang}")
            for lang in _LANGS
        ],
        F.expr(pred).alias("predicted_lang"),
        F.col("lang").alias("labeled_lang"),
        (F.expr(pred) == F.col("lang")).cast("int").alias("agree"),
    )


@register(
    "q25_text_quality",
    oracle="""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars_measured,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           CAST(length(text) AS DOUBLE) / CAST(len(string_split(text, ' ')) AS DOUBLE)
               AS avg_token_span,
           CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS BIGINT)
               AS n_punct,
           CASE WHEN len(string_split(text, ' ')) < 5 THEN 'too_short'
                WHEN length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g'))
                     > len(string_split(text, ' ')) THEN 'punct_heavy'
                ELSE 'ok' END AS quality_band
    FROM documents
    """,
    doc="Quality scoring: length/token/punctuation stats + banding. "
    "Ratios are int/int double divisions — bit-deterministic per row.",
    tags=("text",),
)
def q25_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(F.split("text", " ")).cast("long")
    n_punct = (
        F.length("text") - F.length(F.regexp_replace("text", r"[.,;:!?]", ""))
    ).cast("long")
    return docs.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars_measured"),
        n_tokens.alias("n_tokens"),
        (F.length("text").cast("double") / n_tokens.cast("double")).alias(
            "avg_token_span"
        ),
        n_punct.alias("n_punct"),
        F.when(n_tokens < 5, "too_short")
        .when(n_punct > n_tokens, "punct_heavy")
        .otherwise("ok")
        .alias("quality_band"),
    )


@register(
    "q26_token_count",
    oracle=r"""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT)
               AS bpe_ish_tokens,
           CAST(length(text) AS BIGINT) AS n_chars_measured
    FROM documents
    """,
    doc="Token counting: whitespace tokens + a BPE-ish regex token count "
    "(letter runs / digit runs / single other-symbols). The regex is "
    "dialect-portable (no lookaround), so Java regex and RE2 agree.",
    tags=("text",),
)
def q26_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("ws_tokens"),
        F.size(
            F.regexp_extract_all("text", F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), 0)
        ).cast("long").alias("bpe_ish_tokens"),
        F.length("text").cast("long").alias("n_chars_measured"),
    )


# Stratified sampling rates per labeled language (percent kept), the
# downsample-overrepresented-languages step of corpus construction; and a
# deterministic 80/10/10 train/val/test split. Decisions come from two
# INDEPENDENT affine transforms of the content hash (disjoint constants),
# never from rand(): re-running on the same corpus reproduces the exact
# same sample on any cluster layout — and the oracle can check it row-for-row.
SAMPLE_PCT = {"en": 50, "de": 25, "fr": 25, "es": 25, "zh": 10}
_DEFAULT_PCT = 10
SPLIT_PCT = (80, 10)  # train, val; rest = test
_SAMPLE_A, _SAMPLE_B = 472882049, 299210837
_SPLIT_A, _SPLIT_B = 573259391, 674506111


def _keep_pct_expr() -> str:
    """Per-language keep percentage (identical SQL in both dialects)."""
    cases = " ".join(
        f"WHEN lang = '{lg}' THEN {pct}" for lg, pct in SAMPLE_PCT.items()
    )
    return f"CASE {cases} ELSE {_DEFAULT_PCT} END"


@register(
    "q58_stratified_sample_split",
    oracle=f"""
    WITH h AS (
      SELECT doc_id, lang, {poly_hash_pair("text", "text")[1]} AS key_hash
      FROM documents
    ),
    d AS (
      SELECT doc_id, lang,
             ({_SAMPLE_A} * key_hash + {_SAMPLE_B}) % 100 AS sample_slot,
             ({_SPLIT_A} * key_hash + {_SPLIT_B}) % 100 AS split_slot
      FROM h
    )
    SELECT doc_id, lang,
           CASE WHEN split_slot < {SPLIT_PCT[0]} THEN 'train'
                WHEN split_slot < {SPLIT_PCT[0] + SPLIT_PCT[1]} THEN 'val'
                ELSE 'test' END AS split
    FROM d
    WHERE sample_slot < ({_keep_pct_expr()})
    """,
    doc="Deterministic stratified sampling + train/val/test split: keep "
    "rates per language (downsampling overrepresented languages) and an "
    "80/10/10 split, both decided by independent affine transforms of "
    "the content hash mod 100 — never rand(), so the sample is exactly "
    "reproducible across runs, partitionings, and cluster sizes, "
    "content-stable under re-ingestion (same doc -> same split: no "
    "train/test leakage when the corpus is rebuilt), and row-for-row "
    "oracle-checkable. Pure map-side projection + filter, no shuffle.",
    tags=("text", "sampling"),
)
def q58_stratified_sample_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stratified_sample_split(load_table(spark, sf_dir, "documents"))


def stratified_sample_split(docs: DataFrame) -> DataFrame:
    """q58's (doc_id, lang, split) over a documents frame."""
    from ..operators.text import fingerprint_pandas

    keyed = docs.select("doc_id", "lang").join(
        fingerprint_pandas(docs).select("doc_id", F.col("content_fp").alias("key_hash")),
        "doc_id",
    )
    sample_slot = (_SAMPLE_A * F.col("key_hash") + _SAMPLE_B) % 100
    split_slot = (_SPLIT_A * F.col("key_hash") + _SPLIT_B) % 100
    keep_pct = F.expr(_keep_pct_expr())
    return (
        keyed.withColumn("sample_slot", sample_slot)
        .withColumn("split_slot", split_slot)
        .filter(F.col("sample_slot") < keep_pct)
        .select(
            "doc_id",
            "lang",
            F.when(F.col("split_slot") < SPLIT_PCT[0], "train")
            .when(F.col("split_slot") < SPLIT_PCT[0] + SPLIT_PCT[1], "val")
            .otherwise("test")
            .alias("split"),
        )
    )


_FP_SPARK, _FP_DUCK = poly_hash_pair("text", "text")
_SH8_SPARK, _SH8_DUCK = char_shingle_hashes_pair("text", 8)


@register(
    "q27_fingerprint",
    oracle=f"""
    SELECT doc_id,
           CAST({_FP_DUCK} AS BIGINT) AS content_fp,
           CAST(list_min({_SH8_DUCK}) AS BIGINT) AS min_shingle_fp
    FROM documents
    """,
    doc="Document fingerprinting: full-text rolling polynomial hash (exact "
    "identity, cheaper than sha256 to recompute incrementally) + the "
    "minimum 8-char-shingle hash (a 1-permutation MinHash — winnowing-lite "
    "locality signature).",
    tags=("text",),
)
def q27_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import fingerprint_pandas

    docs = load_table(spark, sf_dir, "documents")
    # Arrow/numpy path — identical integers to the SQL form in the oracle
    # (interpreted lambda chains make the expression form ~30x slower).
    return fingerprint_pandas(docs)


# Intra-document repetition (Gopher-style quality rule): heavily repeated
# n-grams / a single dominating token mark low-quality, degenerate text.
# The Spark side runs the Arrow twin (operators.text.repetition_scores_pandas);
# the oracle keeps this SQL form.
_REP_TG_DUCK = (
    "list_transform(range(1, len(string_split(text, ' ')) - 1), "
    "i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] "
    "|| ' ' || string_split(text, ' ')[i+2])"
)


@register(
    "q65_repetition_scores",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, string_split(text, ' ') AS tok, {_REP_TG_DUCK} AS tg
      FROM documents WHERE len(string_split(text, ' ')) >= 3
    ),
    mt AS (
      SELECT doc_id, MAX(c) AS max_tok FROM (
        SELECT doc_id, t, COUNT(*) AS c
        FROM (SELECT doc_id, unnest(tok) AS t FROM base)
        GROUP BY doc_id, t
      ) GROUP BY doc_id
    )
    SELECT b.doc_id,
           CAST(len(b.tok) AS BIGINT) AS n_tokens,
           CAST(len(b.tg) - len(list_distinct(b.tg)) AS DOUBLE)
             / CAST(len(b.tg) AS DOUBLE) AS dup_trigram_frac,
           CAST(mt.max_tok AS DOUBLE) / CAST(len(b.tok) AS DOUBLE)
             AS top_token_frac
    FROM base b JOIN mt USING (doc_id)
    """,
    doc="Intra-document repetition scores (the Gopher repetition rules): "
    "duplicate-trigram fraction (1 - distinct/total token trigrams) and "
    "top-token dominance (most frequent token's share of all tokens). "
    "Degenerate generated/boilerplate text scores high on both; quality "
    "pipelines threshold these alongside q25's length/punct bands. "
    "Map-side except one (doc_id, token) count — int-ratio doubles are "
    "bit-exact cross-engine, no rounding needed.",
    tags=("text", "quality"),
)
def q65_repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import repetition_scores_pandas

    docs = load_table(spark, sf_dir, "documents")
    # Arrow path: all three scores are per-document (map-only, no join),
    # and Counter/set beat the interpreted transform/sequence lambdas
    # ~5x. Integer-ratio doubles are bit-exact vs the oracle's SQL form.
    return repetition_scores_pandas(docs)


@register(
    "q78_source_length_profile",
    oracle="""
    WITH d AS (
      SELECT doc_id, source,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    r AS (
      SELECT source, n_tokens,
             ROW_NUMBER() OVER (
               PARTITION BY source ORDER BY n_tokens, doc_id) AS rn,
             CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS n
      FROM d
    )
    SELECT source, n,
           CAST(MIN(n_tokens) AS BIGINT) AS min_tokens,
           CAST(MAX(n_tokens) AS BIGINT) AS max_tokens,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(MIN(CASE WHEN rn = (n + 1) // 2 THEN n_tokens END)
               AS BIGINT) AS median_tokens,
           CAST(MIN(CASE WHEN rn = (95 * n + 99) // 100 THEN n_tokens END)
               AS BIGINT) AS p95_tokens
    FROM r GROUP BY source, n
    """,
    doc="Per-source corpus profile with EXACT order statistics: lower "
    "median (rank (n+1) div 2) and p95 (rank ceil(0.95n)) picked by "
    "rank from a per-source sort — integer ranks and integer token "
    "counts, so unlike approx_percentile/quantile_cont the result is "
    "bit-identical across engines and runs. Scale shape: one shuffle "
    "keyed on source for the rank window (per-source sort — the same "
    "shape any exact quantile needs), then a bounded per-source agg; "
    "the production alternative for skewed sources is approx_percentile "
    "(documented trade: approximate, but mergeable sketches, no sort).",
    tags=("text", "profiling"),
)
def q78_source_length_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id", "source", F.size(F.split("text", " ")).cast("long").alias("n_tokens")
    )
    w_rank = Window.partitionBy("source").orderBy("n_tokens", "doc_id")
    w_all = Window.partitionBy("source")
    r = d.select(
        "source",
        "n_tokens",
        F.row_number().over(w_rank).alias("rn"),
        F.count(F.lit(1)).over(w_all).cast("long").alias("n"),
    )
    median_rn = F.expr("(n + 1) div 2")
    p95_rn = F.expr("(95 * n + 99) div 100")
    return r.groupBy("source", "n").agg(
        F.min("n_tokens").cast("long").alias("min_tokens"),
        F.max("n_tokens").cast("long").alias("max_tokens"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.min(F.when(F.col("rn") == median_rn, F.col("n_tokens")))
        .cast("long")
        .alias("median_tokens"),
        F.min(F.when(F.col("rn") == p95_rn, F.col("n_tokens")))
        .cast("long")
        .alias("p95_tokens"),
    )


@register(
    "q82_source_length_profile_approx",
    oracle=None,  # approximate sketches: rank-tolerance-checked in pytest
    doc="The mergeable-sketch form of q78: per-source median/p95 via "
    "percentile_approx (Greenwald-Khanna in Spark). At 100 TB this is "
    "the production profile — sketches merge map-side with no per-source "
    "sort and no rank window shuffle — while q78 stays the exact, "
    "hash-checkable reference. Error envelope, measured not assumed "
    "(round 12): at accuracy 10000 the GK rank error is floor(n/10000), "
    "so for any source under 10K docs the sketch returns an EXACT order "
    "statistic — measured zero delta vs q78 on every (source, quantile) "
    "cell at sf0.001/0.01/0.1 (20 sources x 2 quantiles each); beyond "
    "10K docs/source the bound degrades gracefully to rank ±n/10000. "
    "Contract pinned in tests/test_approx_profile.py: zero delta below "
    "the exact-rank threshold, neighbor-rank tolerance above.",
    tags=("text", "profiling", "approx"),
)
def q82_source_length_profile_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "source", F.size(F.split("text", " ")).cast("long").alias("n_tokens")
    )
    return d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.min("n_tokens").cast("long").alias("min_tokens"),
        F.max("n_tokens").cast("long").alias("max_tokens"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.percentile_approx("n_tokens", 0.5, 10000)
        .cast("long")
        .alias("median_tokens"),
        F.percentile_approx("n_tokens", 0.95, 10000)
        .cast("long")
        .alias("p95_tokens"),
    )


# ---------------------------------------------------------------------------
# Unigram surprisal (q88) — the model-based quality rung: the lightweight
# stand-in for the KenLM-perplexity filter every published web-corpus
# pipeline runs (CCNet scores documents with a 5-gram LM; the unigram
# model keeps the same plan shape and the same consume-side contract —
# a per-doc mean log-loss — while staying library-free and verifiable).
# ---------------------------------------------------------------------------


# Micro-nat fixed point (the q105 integer-micro-unit pattern applied to a
# log statistic): per-token surprisal ln(N/cnt) is carried as
# L(N) - L(cnt) where L(x) = floor(ln(x)*1e6 + 0.5), an integer
# micro-nat. Why this is hash-safe across engines: L is applied only to
# the ~vocab-many DISTINCT integer count values; Spark's Math.log and
# DuckDB's ln differ by at most 1 ulp (~2e-9 micro-nats at these
# magnitudes), so the floor can only disagree when 1e6*ln(cnt) sits
# within 1 ulp of a .5 boundary — measured minimum distance on the test
# corpora is 0.005 micro-nats (6 orders of magnitude of headroom), and
# the per-value collision probability at any corpus is ~4e-9. All
# downstream arithmetic (per-token difference, per-doc sum, integer-div
# mean) is exact int64 and order-independent on both engines.
_LN_MICRO_SPARK = lambda c: F.floor(  # noqa: E731
    F.log(F.col(c).cast("double")) * 1e6 + F.lit(0.5)
).cast("long")


@register(
    "q88_unigram_surprisal",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
      FROM documents
    ),
    counts AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt FROM tok GROUP BY token
    ),
    total AS (
      SELECT CAST(FLOOR(ln(CAST(SUM(cnt) AS DOUBLE)) * 1000000.0 + 0.5)
                  AS BIGINT) AS l_total
      FROM counts
    ),
    model AS (
      SELECT token,
             CAST(FLOOR(ln(CAST(cnt AS DOUBLE)) * 1000000.0 + 0.5)
                  AS BIGINT) AS l_cnt
      FROM counts
    )
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(tt.l_total - m.l_cnt) AS BIGINT)
               AS sum_surprisal_micronat,
           CAST(SUM(tt.l_total - m.l_cnt) // COUNT(*) AS BIGINT)
               AS mean_surprisal_micronat
    FROM tok t JOIN model m ON m.token = t.token CROSS JOIN total tt
    GROUP BY t.doc_id
    """,
    doc="Per-document mean unigram surprisal in integer MICRO-NATS: mean "
    "over tokens of ln(N_corpus_tokens / corpus_count(token)) — the "
    "cross-entropy of the document under the corpus unigram MLE, held "
    "in fixed point (1e-6 nat) so per-doc sums are order-independent "
    "int64 and both engines agree bit-for-bit (the q105 micro-unit "
    "pattern; ln is applied only to the vocab-many distinct counts, "
    "where a 1-ulp engine difference is ~2e-9 micro-nats — see the "
    "module comment for the boundary analysis). Out-of-distribution or "
    "rare-token documents score high, degenerate/repetitive ones score "
    "low; quality pipelines band on this next to q25's surface stats "
    "and q65's repetition rules (the unigram stand-in for CCNet's KenLM "
    "perplexity filter — same plan, heavier model, when an LM table is "
    "available). Scale shape: token counts are a two-stage agg; the "
    "(token -> micro-nat) model is vocab-sized and joins the token "
    "stream on the token key (AQE broadcasts it when it fits); the "
    "corpus total is one broadcast scalar; the per-doc rollup is one "
    "keyed agg. With a REAL n-gram LM the model table is still the "
    "small side — the plan does not change, only the join key (n-gram) "
    "and the lookup table.",
    tags=("text", "quality", "log-form"),
)
def q88_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("token")
    )
    counts = tok.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    model = counts.select("token", _LN_MICRO_SPARK("cnt").alias("l_cnt"))
    total = counts.agg(F.sum("cnt").alias("cnt")).select(
        _LN_MICRO_SPARK("cnt").alias("l_total")
    )
    # EXPLICIT broadcast of the vocab-sized model: without it the planner
    # sort-merge-joins, shuffling the full token stream on a vocab-sized
    # key (measured at the 100x scale run: 32s and 25x growth per 10x
    # data from key skew + the sort; broadcast restores linear). The
    # model is an aggregate on token, so it is vocab-bounded by
    # construction — the small side at any corpus size.
    scored = (
        tok.join(F.broadcast(model), "token")
        .crossJoin(F.broadcast(total))
        .select("doc_id", (F.col("l_total") - F.col("l_cnt")).alias("s_micro"))
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum("s_micro").cast("long").alias("sum_surprisal_micronat"),
        F.expr("CAST(sum(s_micro) div count(1) AS LONG)").alias(
            "mean_surprisal_micronat"
        ),
    )


# ---------------------------------------------------------------------------
# Composed quality gate (q91) — the Gopher/FineWeb rule-stack form: every
# surface rule as an observable per-document flag plus the fused keep
# verdict. The published pipelines (Gopher table A1, FineWeb, RefinedWeb)
# all ship exactly this shape: N independent cheap rules, each tracked,
# composed with OR — so filter attrition is auditable rule by rule.
# ---------------------------------------------------------------------------

GATE_MIN_TOKENS = 5
GATE_DUP_TRIGRAM_MAX = 0.3   # Gopher: high duplicate-n-gram fraction
GATE_TOP_TOKEN_MAX = 0.2     # Gopher: most common word > 20% of doc
GATE_SPAN_MIN, GATE_SPAN_MAX = 3.0, 12.0  # mean token span (chars/token)


@register(
    "q91_quality_gate",
    oracle=f"""
    WITH base AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             CAST(length(text) AS DOUBLE)
               / CAST(len(string_split(text, ' ')) AS DOUBLE) AS span,
             CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g'))
                  AS BIGINT) AS n_punct
      FROM documents
    ),
    rep AS (
      SELECT doc_id,
             CAST(len(tg) - len(list_distinct(tg)) AS DOUBLE)
               / CAST(len(tg) AS DOUBLE) AS dup_frac,
             CAST(max_tok AS DOUBLE) / CAST(n_tok AS DOUBLE) AS top_frac
      FROM (
        SELECT b.doc_id, b.tg, b.n_tok, mt.max_tok
        FROM (
          SELECT doc_id, {_REP_TG_DUCK} AS tg,
                 len(string_split(text, ' ')) AS n_tok
          FROM documents WHERE len(string_split(text, ' ')) >= 3
        ) b JOIN (
          SELECT doc_id, MAX(c) AS max_tok FROM (
            SELECT doc_id, t, COUNT(*) AS c FROM (
              SELECT doc_id, unnest(string_split(text, ' ')) AS t
              FROM documents WHERE len(string_split(text, ' ')) >= 3
            ) GROUP BY doc_id, t
          ) GROUP BY doc_id
        ) mt USING (doc_id)
      )
    )
    SELECT b.doc_id,
           (b.n_tokens < {GATE_MIN_TOKENS}) AS r_too_short,
           (b.n_punct > b.n_tokens) AS r_punct_heavy,
           (b.span < {GATE_SPAN_MIN} OR b.span > {GATE_SPAN_MAX}) AS r_span,
           (COALESCE(r.dup_frac, CAST(0 AS DOUBLE)) > {GATE_DUP_TRIGRAM_MAX})
             AS r_dup_trigrams,
           (COALESCE(r.top_frac, CAST(0 AS DOUBLE)) > {GATE_TOP_TOKEN_MAX})
             AS r_top_token,
           NOT ((b.n_tokens < {GATE_MIN_TOKENS})
                OR (b.n_punct > b.n_tokens)
                OR (b.span < {GATE_SPAN_MIN} OR b.span > {GATE_SPAN_MAX})
                OR (COALESCE(r.dup_frac, CAST(0 AS DOUBLE)) > {GATE_DUP_TRIGRAM_MAX})
                OR (COALESCE(r.top_frac, CAST(0 AS DOUBLE)) > {GATE_TOP_TOKEN_MAX}))
             AS keep
    FROM base b LEFT JOIN rep r ON r.doc_id = b.doc_id
    """,
    doc=f"Composed quality gate — the Gopher/FineWeb rule-stack shape: "
    f"five surface rules, EACH an observable per-document flag "
    f"(min-length {GATE_MIN_TOKENS} tokens, punctuation-heavy, mean "
    f"token span outside [{GATE_SPAN_MIN},{GATE_SPAN_MAX}], duplicate-"
    f"trigram fraction > {GATE_DUP_TRIGRAM_MAX}, top-token dominance > "
    f"{GATE_TOP_TOKEN_MAX} — Gopher table-A1 thresholds), composed with "
    f"OR into the keep verdict. Per-rule flags make filter attrition "
    f"auditable rule by rule — the no-silent-caps principle applied to "
    f"quality filtering. Scale shape: q25's stats are map-only; the "
    f"repetition scores reuse q65's Arrow pass (one (doc,token) count "
    f"agg); the compose is a doc-keyed left join. All signals are "
    f"integer-ratio doubles — fused verdict stays hash-exact.",
    tags=("text", "quality", "composition"),
)
def q91_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import repetition_scores_pandas

    docs = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(F.split("text", " ")).cast("long")
    n_punct = (
        F.length("text") - F.length(F.regexp_replace("text", r"[.,;:!?]", ""))
    ).cast("long")
    base = docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        (F.length("text").cast("double") / n_tokens.cast("double")).alias("span"),
        n_punct.alias("n_punct"),
    )
    rep = repetition_scores_pandas(docs).select(
        "doc_id",
        F.col("dup_trigram_frac").alias("dup_frac"),
        F.col("top_token_frac").alias("top_frac"),
    )
    j = base.join(rep, "doc_id", "left")
    r_short = F.col("n_tokens") < GATE_MIN_TOKENS
    r_punct = F.col("n_punct") > F.col("n_tokens")
    r_span = (F.col("span") < GATE_SPAN_MIN) | (F.col("span") > GATE_SPAN_MAX)
    r_dup = F.coalesce("dup_frac", F.lit(0.0)) > GATE_DUP_TRIGRAM_MAX
    r_top = F.coalesce("top_frac", F.lit(0.0)) > GATE_TOP_TOKEN_MAX
    return j.select(
        "doc_id",
        r_short.alias("r_too_short"),
        r_punct.alias("r_punct_heavy"),
        r_span.alias("r_span"),
        r_dup.alias("r_dup_trigrams"),
        r_top.alias("r_top_token"),
        (~(r_short | r_punct | r_span | r_dup | r_top)).alias("keep"),
    )


from ..operators.text import token_ngrams_duck  # noqa: E402

NOVELTY_N = 5
_NOV_DUCK = token_ngrams_duck("text", NOVELTY_N)


@register(
    "q121_ngram_novelty",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, {_NOV_DUCK} AS gs
      FROM documents
      WHERE len(string_split(text, ' ')) >= {NOVELTY_N}
    ),
    shingles AS (
      SELECT doc_id, unnest(gs) AS g FROM d
    ),
    df AS (
      SELECT g, CAST(COUNT(*) AS BIGINT) AS df FROM shingles GROUP BY g
    )
    SELECT s.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_novel,
           CAST((SUM(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) * 1000000)
               // COUNT(*) AS BIGINT) AS novelty_ppm
    FROM shingles s JOIN df ON df.g = s.g
    GROUP BY s.doc_id
    """,
    doc=f"Leave-one-out n-gram novelty: per document, the fraction of its "
    f"distinct {NOVELTY_N}-gram shingles that appear NOWHERE else in the "
    "corpus (document frequency 1 — since shingles are distinct within a "
    "doc, df=1 means only this doc has it). The diversity/memorization "
    "signal: low novelty marks template text already covered elsewhere "
    "(a dedup-adjacent drop candidate); high novelty marks unique "
    "content worth keeping — and the same statistic against a TRAINING "
    "corpus estimates how much of a candidate doc is already memorized. "
    "Scale shape: the q63 decontamination inverted index turned on the "
    "corpus itself — shingle explode (map-side), df aggregate on the "
    "shingle key carrying only a count and a min(doc_id) scalar (a df=1 "
    "shingle's min IS its sole owner, so novel counts need no doc list "
    "— a collect_list fold would make any boilerplate shingle with "
    "df in the millions an executor-OOM hot bucket at corpus scale), "
    "one doc-grain aggregate per side, one doc-grain equi-join; "
    "shuffles carry shingle strings once and doc-grain scalars, never "
    "doc pairs and never per-shingle doc lists. Ratios exact integer "
    "ppm.",
    tags=("text", "dedup", "profiling"),
)
def q121_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Arrow shingle twin (q63's convention): the SQL transform-expression
    # form re-splits the text once PER ARRAY ELEMENT (5 splits x positions
    # — it benched 10x slower at sf0.1); token_shingles_pandas emits
    # byte-identical shingles in one pass per Arrow batch.
    from ..operators.text import token_shingles_pandas

    docs = load_table(spark, sf_dir, "documents").filter(
        F.size(F.split("text", " ")) >= NOVELTY_N
    )
    shingles = token_shingles_pandas(docs, NOVELTY_N).select("doc_id", "g")
    # Per-doc denominators: shingles are distinct within a doc, so
    # n_shingles is one doc-keyed count over the shingle stream.
    per_doc = shingles.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_shingles")
    )
    # Novel numerators WITHOUT materializing doc lists: aggregate df and
    # min(doc_id) per shingle — bounded state per group no matter how hot
    # the shingle — then keep only df=1 groups, whose min(doc_id) is
    # exactly the one document owning the shingle. df>1 shingles
    # contribute 0 novelty by definition, so dropping them loses nothing.
    novel = (
        shingles.groupBy("g")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.min("doc_id").alias("doc_id"),
        )
        .filter(F.col("df") == 1)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_novel"))
    )
    return (
        per_doc.join(novel, "doc_id", "left")
        .select(
            "doc_id",
            "n_shingles",
            F.coalesce("n_novel", F.lit(0)).cast("long").alias("n_novel"),
            F.expr(
                "CAST((coalesce(n_novel, 0) * 1000000)"
                " div n_shingles AS LONG)"
            ).alias("novelty_ppm"),
        )
    )


from pyspark.sql import Window  # noqa: E402

MAD_K = 3  # flag docs beyond 3 MADs from their source's median


@register(
    "q129_robust_length_outliers",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars
      FROM documents
    ),
    r AS (
      SELECT *, ROW_NUMBER() OVER (
               PARTITION BY source ORDER BY n_chars, doc_id) AS rn,
             CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS n
      FROM d
    ),
    med AS (
      SELECT source,
             CAST(MIN(CASE WHEN rn = (n + 1) // 2 THEN n_chars END)
                 AS BIGINT) AS med
      FROM r GROUP BY source, n
    ),
    dev AS (
      SELECT d.doc_id, d.source, d.n_chars, m.med,
             abs(d.n_chars - m.med) AS adev
      FROM d JOIN med m ON m.source = d.source
    ),
    rd AS (
      SELECT *, ROW_NUMBER() OVER (
               PARTITION BY source ORDER BY adev, doc_id) AS rn,
             CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS n
      FROM dev
    ),
    mad AS (
      SELECT source,
             CAST(MIN(CASE WHEN rn = (n + 1) // 2 THEN adev END)
                 AS BIGINT) AS mad
      FROM rd GROUP BY source, n
    )
    SELECT v.doc_id, v.source, v.n_chars, v.med, md.mad,
           v.adev > {MAD_K} * md.mad AS is_outlier
    FROM dev v JOIN mad md ON md.source = v.source
    """,
    doc=f"Robust length-outlier detection: per source, flag documents "
    f"whose length sits more than {MAD_K} median-absolute-deviations "
    "from the source median — the outlier rule that survives the very "
    "outliers it hunts (mean/std, q109's rule, gets dragged by a single "
    "giant doc; median/MAD has a 50% breakdown point — the right tool "
    "for length-skewed web sources). Both the median and the MAD use the "
    "exact lower-median rank convention (q78), so every quantity is an "
    "integer and the flag decision has no float boundary. Scale shape: "
    "two rank windows on the SAME source partitioning (one exchange, "
    "sort reused), two source-sized aggregates broadcast back; the "
    "production swap for a single giant stratum is approx_percentile "
    "edges (q82's documented trade).",
    tags=("text", "profiling", "anomaly"),
)
def q129_robust_length_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.col("n_chars").cast("long").alias("n_chars")
    )
    w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    cnt = Window.partitionBy("source")
    r = docs.withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.count(F.lit(1)).over(cnt).cast("long")
    )
    med = r.groupBy("source", "n").agg(
        F.min(F.when(F.col("rn") == F.expr("(n + 1) div 2"), F.col("n_chars")))
        .cast("long")
        .alias("med")
    ).select("source", "med")
    dev = docs.join(F.broadcast(med), "source").withColumn(
        "adev", F.abs(F.col("n_chars") - F.col("med"))
    )
    wd = Window.partitionBy("source").orderBy("adev", "doc_id")
    rd = dev.withColumn("rn", F.row_number().over(wd)).withColumn(
        "n", F.count(F.lit(1)).over(cnt).cast("long")
    )
    mad = rd.groupBy("source", "n").agg(
        F.min(F.when(F.col("rn") == F.expr("(n + 1) div 2"), F.col("adev")))
        .cast("long")
        .alias("mad")
    ).select("source", "mad")
    return dev.join(F.broadcast(mad), "source").select(
        "doc_id",
        "source",
        "n_chars",
        "med",
        "mad",
        (F.col("adev") > MAD_K * F.col("mad")).alias("is_outlier"),
    )


@register(
    "q136_token_mass_gini",
    oracle="""
    WITH d AS (
      SELECT doc_id, source,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS x
      FROM documents WHERE text IS NOT NULL
    ),
    r AS (
      SELECT source, x,
             ROW_NUMBER() OVER (
               PARTITION BY source ORDER BY x, doc_id) AS i,
             CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS n
      FROM d
    )
    SELECT source, n,
           CAST(SUM(x) AS BIGINT) AS total_tokens,
           CAST(FLOOR(
             CAST(2 * SUM(CAST(i AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0)))
                  - CAST(n + 1 AS DECIMAL(19,0)) * SUM(x) AS DOUBLE)
             * 1000000.0
             / CAST(CAST(n AS DECIMAL(19,0)) * SUM(x) AS DOUBLE)
           ) AS BIGINT) AS gini_ppm
    FROM r GROUP BY source, n
    """,
    doc="Token-mass inequality per source (Gini coefficient): how "
    "concentrated a source's token budget is in its longest documents — "
    "gini 0 = every doc contributes equally, near 1 = a few giants "
    "dominate (which silently turns doc-level sampling and per-doc "
    "quality decisions into TOKEN-level biases; q106's token-mass "
    "sampling exists precisely for high-gini sources). Computed from "
    "the rank form Gini = (2*sum(i*x_i) - (n+1)*sum(x)) / (n*sum(x)) "
    "over the per-source ascending sort — the rank moments are exact "
    "DECIMAL(38,0) (sum(i*x) ~ x_max*n^2/2 crosses int64 at ~1e7 "
    "docs/source once the ppm multiplier lands, so integers won't do), "
    "and the ratio is ONE deterministic double-floor expression with "
    "identical trees, so both engines agree bit-for-bit. "
    "Scale shape: one rank window per source (the q78 exact-order-stat "
    "shuffle, reused) + a bounded aggregate.",
    tags=("text", "profiling", "mixing"),
)
def q136_token_mass_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    d = docs.select(
        "doc_id",
        "source",
        F.size(F.split("text", " ")).cast("long").alias("x"),
    )
    w = Window.partitionBy("source").orderBy("x", "doc_id")
    cnt = Window.partitionBy("source")
    r = d.withColumn("i", F.row_number().over(w).cast("long")).withColumn(
        "n", F.count(F.lit(1)).over(cnt).cast("long")
    )
    # rank-form Gini with DECIMAL(38,0) moments: sum(i*x) ~ x_max*n^2/2
    # and the 1e6 ppm multiplier crossed int64 at just ~1e7 docs/source
    # in the original all-integer form (round-7 overflow audit); the
    # exact decimal moments feed ONE deterministic double-floor ratio
    # (q192/q198 convention — identical expression tree both engines).
    return r.groupBy("source", "n").agg(
        F.sum("x").cast("long").alias("total_tokens"),
        F.expr(
            "CAST(FLOOR("
            "CAST(2 * sum(CAST(i AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0)))"
            " - CAST(n + 1 AS DECIMAL(19,0)) * sum(x) AS DOUBLE)"
            " * 1000000.0D"
            " / CAST(CAST(n AS DECIMAL(19,0)) * sum(x) AS DOUBLE)"
            ") AS BIGINT)"
        ).alias("gini_ppm"),
    )


@register(
    "q147_lang_id_confusion",
    oracle=f"""
    WITH pred AS (
      SELECT lang AS labeled_lang,
             {_predict_expr(_DUCK_SCORES)} AS predicted_lang
      FROM documents
    )
    SELECT labeled_lang, predicted_lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM pred GROUP BY labeled_lang, predicted_lang
    """,
    doc="Language-ID confusion matrix: q24's classifier (same argmax "
    "expression, spliced from the shared constants) evaluated against "
    "the labeled language — the eval harness that turns a heuristic "
    "into a measured component (per-language precision/recall read "
    "directly off the matrix; the off-diagonal mass tells you which "
    "stopword lists to extend before trusting q75's language mixing, "
    "which consumes these labels). Scale shape: map-side scoring (the "
    "stopword arrays are constant-folded), one aggregate on a "
    "languages^2-bounded key space.",
    tags=("text", "eval"),
)
def q147_lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pred = F.expr(_predict_expr(_SPARK_SCORES))
    return docs.groupBy(
        F.col("lang").alias("labeled_lang"),
        pred.alias("predicted_lang"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n_docs"))


# ---------------------------------------------------------------------------
# Zipf rank-frequency slope (q168): the log-log slope of token frequency
# against rank — natural-language corpora sit near -1 (Zipf's law);
# machine-generated or template-heavy sources drift away, which makes
# the slope a cheap corpus-level quality fingerprint next to the
# per-document gates (q25/q91). Fit uses the frequency HEAD (top
# ZIPF_HEAD tokens per source), which is both the statistically honest
# choice (the cnt=1 tail always bends the line) and the scale
# guarantee: ranking is a two-level top-K (the q161 bottom-K pattern),
# so no task ever sorts a source's full vocabulary. The regression
# itself is exact int64: x = milli-nat ln(rank), y = milli-nat ln(cnt)
# (the q88 fixed-point convention at 1e-3 nat), slope =
# (n*Sxy - Sx*Sy) / (n*Sxx - Sx^2) emitted in exact integer
# milli-units — with n <= 1000 and milli-nat magnitudes ~2e4, every
# intermediate stays under 1.5e17, inside int64.
ZIPF_HEAD = 1000
_ZIPF_SALT = 32


@register(
    "q168_zipf_slope",
    oracle=f"""
    WITH tok AS (
      SELECT source, unnest(string_split(lower(text), ' ')) AS token
      FROM documents
    ),
    counts AS (
      SELECT source, token, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM tok GROUP BY source, token
    ),
    head AS (
      SELECT source, cnt,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY cnt DESC, token) AS rnk
      FROM counts
      QUALIFY rnk <= {ZIPF_HEAD}
    ),
    pts AS (
      SELECT source,
             CAST(FLOOR(ln(CAST(rnk AS DOUBLE)) * 1000.0 + 0.5) AS BIGINT)
                 AS x,
             CAST(FLOOR(ln(CAST(cnt AS DOUBLE)) * 1000.0 + 0.5) AS BIGINT)
                 AS y
      FROM head
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_head,
           CAST((1000 * (COUNT(*) * SUM(x * y) - SUM(x) * SUM(y)))
                // (COUNT(*) * SUM(x * x) - SUM(x) * SUM(x)) AS BIGINT)
               AS slope_milli
    FROM pts
    GROUP BY source
    """,
    doc="Per-source Zipf slope: least-squares slope of milli-nat "
    "ln(count) against milli-nat ln(rank) over each source's top-"
    f"{ZIPF_HEAD} tokens — natural text sits near -1000 (Zipf's law), "
    "template/machine-generated sources drift, making this a one-row-"
    "per-source corpus fingerprint beside the per-doc quality gates. "
    "Exactness: ln is applied only to small distinct integers (rank, "
    "count) under the q88 fixed-point convention (floor(ln*1e3+0.5); "
    "1-ulp engine disagreement is ~1e-6 milli-nats from a .5 "
    "boundary), and the regression is pure int64 arithmetic with an "
    "integer milli-slope division — bit-identical across engines. "
    "Scale shape: token counts are one keyed agg; the head is a "
    f"TWO-level top-K (per-(source, hash%{_ZIPF_SALT}) window capped "
    f"at {ZIPF_HEAD}, then the global window over <= "
    f"{_ZIPF_SALT}x{ZIPF_HEAD} survivors — every global head token "
    "wins its salt bucket, so the two-level result equals the oracle's "
    "one-level sort while no task ever orders a full vocabulary); the "
    "regression reduces each source to five int64 sums.",
    tags=("text", "profiling", "log-form"),
)
def q168_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "source", F.explode(F.split(F.lower("text"), " ")).alias("token")
    )
    counts = tok.groupBy("source", "token").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    w1 = (
        Window.partitionBy("source", F.pmod(F.hash("token"), F.lit(_ZIPF_SALT)))
        .orderBy(F.col("cnt").desc(), F.col("token"))
    )
    w2 = Window.partitionBy("source").orderBy(F.col("cnt").desc(), F.col("token"))
    head = (
        counts.withColumn("rnk1", F.row_number().over(w1))
        .filter(F.col("rnk1") <= ZIPF_HEAD)
        .withColumn("rnk", F.row_number().over(w2))
        .filter(F.col("rnk") <= ZIPF_HEAD)
    )
    pts = head.select(
        "source",
        F.floor(F.log(F.col("rnk").cast("double")) * 1000.0 + F.lit(0.5))
        .cast("long").alias("x"),
        F.floor(F.log(F.col("cnt").cast("double")) * 1000.0 + F.lit(0.5))
        .cast("long").alias("y"),
    )
    return pts.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_head"),
        F.expr(
            "CAST((1000 * (count(1) * sum(x * y) - sum(x) * sum(y)))"
            " div (count(1) * sum(x * x) - sum(x) * sum(x)) AS BIGINT)"
        ).alias("slope_milli"),
    )


# ---------------------------------------------------------------------------
# Flesch-style readability (q193): the classic reading-ease composite
# in integer micro-points. Sentence splitting, word counting and
# vowel-group (syllable-proxy) counting are all regex primitives both
# engines share; the three ratios become two integer floor-divisions.
# A standard text-quality feature next to q25's ratios and q91's rule
# stack. (This synthetic corpus has no sentence punctuation — every
# doc scores as one sentence, which the n_sentences column makes
# observable; on punctuated corpora the term varies.)


@register(
    "q193_readability",
    oracle="""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[^ ]+')) AS BIGINT) AS n_words,
           CAST(len(regexp_extract_all(text, '[.!?]+')) + 1 AS BIGINT)
               AS n_sentences,
           CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT)
               AS n_vowel_groups,
           CAST(206835000
                - 1015000 * len(regexp_extract_all(text, '[^ ]+'))
                  // (len(regexp_extract_all(text, '[.!?]+')) + 1)
                - 84600000
                  * len(regexp_extract_all(lower(text), '[aeiouy]+'))
                  // NULLIF(len(regexp_extract_all(text, '[^ ]+')), 0)
                AS BIGINT) AS flesch_micro
    FROM documents
    """,
    doc="Flesch reading-ease in exact integer micro-points: 206.835 - "
    "1.015*(words/sentences) - 84.6*(vowel_groups/words), with words = "
    "non-space runs, sentences = [.!?]+ runs + 1, and vowel groups as "
    "the standard syllable proxy — all three regex primitives from the "
    "Java-regex/RE2 common subset q92 established, and both divisions "
    "integer floor-divisions (NULLIF-guarded for empty docs, the q160 "
    "ANSI-div lesson). The classic readability feature text-quality "
    "stacks put next to length/stopword ratios (q25) before a "
    "perplexity model ever runs; on this punctuation-free synthetic "
    "corpus the sentence term is constant (observable via "
    "n_sentences), the syllable/word terms carry the signal. Scale "
    "shape: embarrassingly parallel single scan, whole-stage codegen, "
    "no shuffle at all.",
    tags=("text", "quality", "fixed-point"),
)
def q193_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    documents = load_table(spark, sf_dir, "documents")
    words = "size(regexp_extract_all(text, '[^ ]+', 0))"
    sents = "(size(regexp_extract_all(text, '[.!?]+', 0)) + 1)"
    vgs = "size(regexp_extract_all(lower(text), '[aeiouy]+', 0))"
    return documents.selectExpr(
        "doc_id",
        f"CAST({words} AS BIGINT) AS n_words",
        f"CAST({sents} AS BIGINT) AS n_sentences",
        f"CAST({vgs} AS BIGINT) AS n_vowel_groups",
        f"""CAST(206835000L
             - 1015000L * {words} div {sents}
             - 84600000L * {vgs} div NULLIF(CAST({words} AS BIGINT), 0)
             AS BIGINT) AS flesch_micro""",
    )


# ---------------------------------------------------------------------------
# Count-min heavy hitters with exact verification (q197): the
# bounded-memory frequency pattern. q70's exact top tokens needs a
# vocabulary-sized aggregate; the count-min sketch needs D*W cells
# (4KB here) no matter how large the vocabulary grows, at the price
# of one-sided overestimation — so the production shape is
# sketch-to-candidates, then an exact count restricted to the
# candidate stream. Both phases integer-deterministic.
from ..functions.scalar import POLY_MOD  # noqa: E402

CM_D = 4
CM_W = 1024
CM_SALTS = ((131, 7), (137, 11), (139, 13), (149, 17))
CM_FREQ_DIV = 200  # heavy hitter: count >= total_tokens / 200


def _cm_bucket(h: str, d: int) -> str:
    a, b = CM_SALTS[d]
    return f"(({a} * {h} + {b}) % {POLY_MOD}) % {CM_W}"


@register(
    "q197_countmin_heavy_hitters",
    oracle=f"""
    WITH toks AS (
      SELECT token,
             {poly_hash_pair("token", "token")[1]} AS h
      FROM (
        SELECT unnest(string_split(text, ' ')) AS token FROM documents
      ) WHERE len(token) > 0
    ),
    total AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM toks),
    cells AS (
      SELECT d, bucket, CAST(COUNT(*) AS BIGINT) AS cell_n
      FROM (
        SELECT unnest([{", ".join(str(d) for d in range(CM_D))}]) AS d,
               unnest([{", ".join(_cm_bucket("h", d) for d in range(CM_D))}])
                   AS bucket
        FROM toks
      ) GROUP BY d, bucket
    ),
    vocab AS (SELECT DISTINCT token, h FROM toks),
    est AS (
      SELECT v.token, CAST(MIN(c.cell_n) AS BIGINT) AS est_count
      FROM vocab v
      JOIN cells c ON (c.d, c.bucket) IN (
        {", ".join(f"({d}, {_cm_bucket('v.h', d)})" for d in range(CM_D))}
      )
      GROUP BY v.token
    ),
    cand AS (
      SELECT e.token, e.est_count FROM est e CROSS JOIN total t
      WHERE e.est_count * {CM_FREQ_DIV} >= t.n
    )
    SELECT c.token, c.est_count,
           CAST(x.n AS BIGINT) AS exact_count,
           CAST(c.est_count - x.n AS BIGINT) AS overestimate
    FROM cand c JOIN (
      SELECT token, COUNT(*) AS n FROM toks GROUP BY token
    ) x ON x.token = c.token
    """,
    doc="Count-min heavy hitters with exact verification: token "
    f"frequencies are sketched into a {CM_D}x{CM_W} cell table "
    "(4 salted affine hashes over the shared polynomial token hash), "
    "candidates are every token whose sketch estimate (min over the "
    f"{CM_D} cells) reaches 1/{CM_FREQ_DIV} of total token mass, and "
    "the exact pass counts ONLY the candidate-filtered stream — the "
    "bounded-memory frequency pattern for vocabularies too large to "
    "aggregate exactly (q70's exact form is vocabulary-sized; the "
    "sketch is 4 KB at ANY vocabulary, mergeable across partitions "
    "by cell addition, and one-sided: overestimate >= 0 by "
    "construction, asserted per token in the output). Scale shape: "
    "one token scan to D*W cells (map-side partials on a bounded key "
    "space), a vocab-sized probe against the broadcast cell table, "
    "then the exact count over a candidate-semi-joined stream — the "
    "full-vocabulary aggregate never happens.",
    tags=("text", "sketch", "aggregate"),
)
def q197_countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    documents = load_table(spark, sf_dir, "documents")
    hash_s = poly_hash_pair("token", "token")[0]
    toks = (
        documents.select(
            F.explode(F.split("text", " ")).alias("token")
        )
        .filter(F.length("token") > 0)
        .selectExpr("token", f"{hash_s} AS h")
    )
    total = toks.agg(F.count(F.lit(1)).cast("long").alias("n"))
    cells = (
        toks.selectExpr(
            "explode(arrays_zip("
            f"array({', '.join(str(d) for d in range(CM_D))}), "
            f"array({', '.join(_cm_bucket('h', d) for d in range(CM_D))})"
            ")) AS z"
        )
        .selectExpr("z.`0` AS d", "z.`1` AS bucket")
        .groupBy("d", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("cell_n"))
    )
    vocab = toks.distinct()
    probes = vocab.selectExpr(
        "token",
        "explode(arrays_zip("
        f"array({', '.join(str(d) for d in range(CM_D))}), "
        f"array({', '.join(_cm_bucket('h', d) for d in range(CM_D))})"
        ")) AS z",
    ).selectExpr("token", "z.`0` AS d", "z.`1` AS bucket")
    est = (
        probes.join(F.broadcast(cells), ["d", "bucket"])
        .groupBy("token")
        .agg(F.min("cell_n").cast("long").alias("est_count"))
    )
    cand = (
        est.crossJoin(F.broadcast(total))
        .filter(F.col("est_count") * CM_FREQ_DIV >= F.col("n"))
        .select("token", "est_count")
    )
    exact = (
        toks.join(F.broadcast(cand.select("token")), "token", "left_semi")
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_count"))
    )
    return cand.join(exact, "token").select(
        "token",
        "est_count",
        "exact_count",
        (F.col("est_count") - F.col("exact_count")).cast("long")
        .alias("overestimate"),
    )


# ---------------------------------------------------------------------------
# Chance-corrected classifier agreement (q207): Cohen's kappa between
# the heuristic language-ID (q24's argmax, spliced from the shared
# constants) and the labeled language. Raw accuracy over-states a
# classifier on skewed label mixes (predicting the majority class looks
# good); kappa subtracts the agreement two independent raters with
# these marginals would reach by chance — the honest scalar for "is the
# lang-ID good enough to drive q75's mixing", computed next to q147's
# full confusion matrix.
# ---------------------------------------------------------------------------


@register(
    "q207_lang_id_kappa",
    oracle=f"""
    WITH pred AS (
      SELECT lang AS labeled, {_predict_expr(_DUCK_SCORES)} AS predicted
      FROM documents
    ),
    n AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN labeled = predicted THEN 1 ELSE 0 END)
                  AS BIGINT) AS agree
      FROM pred
    ),
    rowm AS (SELECT labeled AS cls, CAST(COUNT(*) AS BIGINT) AS r
             FROM pred GROUP BY labeled),
    colm AS (SELECT predicted AS cls, CAST(COUNT(*) AS BIGINT) AS c
             FROM pred GROUP BY predicted),
    pe AS (
      SELECT CAST(COALESCE(SUM(CAST(rowm.r AS DECIMAL(19,0))
                               * CAST(colm.c AS DECIMAL(19,0))), 0)
                  AS DECIMAL(38,0)) AS pe_num
      FROM rowm JOIN colm ON colm.cls = rowm.cls
    )
    SELECT n.n AS n_docs, n.agree AS n_agree,
           CAST(pe.pe_num AS VARCHAR) AS pe_num,
           CAST(FLOOR(CAST(CAST(n.n AS DECIMAL(19,0)) * n.agree - pe.pe_num
                           AS DOUBLE) * 1000000.0
                      / CAST(NULLIF(CAST(n.n AS DECIMAL(19,0)) * n.n
                                    - pe.pe_num, 0) AS DOUBLE))
                AS BIGINT) AS kappa_ppm
    FROM n, pe
    """,
    doc="Cohen's kappa for the language-ID heuristic against the gold "
    "label: po = agree/N, pe = sum_c row_c*col_c / N^2, kappa = "
    "(po-pe)/(1-pe) computed as the exact integer expression "
    "(N*agree - pe_num) / (N^2 - pe_num) rendered with the shared "
    "deterministic double-floor ppm (q192/q198 convention). The N^2 "
    "terms (pe_num and the ratio's products) cross int64 at ~3e9 docs, "
    "so they run in DECIMAL(38,0) — exact to ~10^19 docs. Scale shape: one "
    "map-side classification pass (constant-folded stopword scores), "
    "one count aggregate, two languages-sized marginal aggregates "
    "joined broadcast — the languages^2 key space never leaves the "
    "executors unaggregated.",
    tags=("text", "eval"),
)
def q207_lang_id_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pred = docs.select(
        F.col("lang").alias("labeled"),
        F.expr(_predict_expr(_SPARK_SCORES)).alias("predicted"),
    )
    n = pred.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(
            F.when(F.col("labeled") == F.col("predicted"), 1).otherwise(0)
        ).cast("long").alias("agree"),
    )
    rowm = pred.groupBy(F.col("labeled").alias("cls")).agg(
        F.count(F.lit(1)).cast("long").alias("r")
    )
    colm = pred.groupBy(F.col("predicted").alias("cls")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    # pe_num = sum_c row_c*col_c <= N^2 crosses int64 at ~3e9 docs (a
    # 100 TB text corpus is ~1e10) — accumulate in DECIMAL(38,0); the
    # N*agree / N*N products in the kappa ratio get the same promotion
    # before their CAST AS DOUBLE (identical trees in the oracle).
    pe = (
        rowm.join(colm, "cls")
        .agg(
            F.coalesce(
                F.sum(
                    F.col("r").cast("decimal(19,0)")
                    * F.col("c").cast("decimal(19,0)")
                ),
                F.lit(0),
            )
            .cast("decimal(38,0)")
            .alias("pe_num")
        )
    )
    return (
        n.crossJoin(pe)
        .select(
            F.col("n").alias("n_docs"),
            F.col("agree").alias("n_agree"),
            F.col("pe_num").cast("string").alias("pe_num"),
            F.expr(
                "CAST(FLOOR(CAST(CAST(n AS DECIMAL(19,0)) * agree - pe_num"
                " AS DOUBLE) * 1000000.0"
                " / CAST(NULLIF(CAST(n AS DECIMAL(19,0)) * n - pe_num, 0)"
                " AS DOUBLE)) AS BIGINT)"
            ).alias("kappa_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Language-ID calibration / ECE (q218): q147's confusion matrix says
# WHERE the classifier errs; this says whether its CONFIDENCE can be
# trusted — reliability bins (predicted-confidence quintiles vs
# realized accuracy) and the Expected Calibration Error, the standard
# selective-prediction readout (Guo et al. 2017). A curation pipeline
# thresholds on classifier confidence when routing documents; an
# uncalibrated score makes every threshold lie. Confidence here is the
# natural one for the stopword argmax: best-language hits over total
# hits across languages, an exact integer ppm.


def _total_score_expr(scores: dict[str, str]) -> str:
    return "(" + " + ".join(f"({scores[lang]})" for lang in _LANGS) + ")"


def _best_score_expr(scores: dict[str, str]) -> str:
    return "greatest(" + ", ".join(scores[lang] for lang in _LANGS) + ")"


@register(
    "q218_langid_calibration",
    oracle=f"""
    WITH pred AS (
      SELECT lang AS labeled_lang,
             {_predict_expr(_DUCK_SCORES)} AS predicted_lang,
             COALESCE(({_best_score_expr(_DUCK_SCORES)}) * 1000000
                      // NULLIF({_total_score_expr(_DUCK_SCORES)}, 0), 0)
                 AS conf_ppm
      FROM documents
    ),
    binned AS (
      SELECT labeled_lang, predicted_lang, conf_ppm,
             least(conf_ppm // 200000, 4) AS bin
      FROM pred
    ),
    per_bin AS (
      SELECT bin,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(CASE WHEN predicted_lang = labeled_lang
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
             CAST(SUM(CASE WHEN predicted_lang = labeled_lang
                      THEN 1 ELSE 0 END) * 1000000 // COUNT(*) AS BIGINT)
                 AS acc_ppm,
             CAST(SUM(conf_ppm) // COUNT(*) AS BIGINT) AS mean_conf_ppm
      FROM binned GROUP BY bin
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM pred)
    SELECT CAST(bin AS BIGINT) AS bin, n_docs, n_correct, acc_ppm,
           mean_conf_ppm,
           CAST(n_docs * abs(acc_ppm - mean_conf_ppm) // n_total AS BIGINT)
               AS ece_term_ppm
    FROM per_bin CROSS JOIN tot
    """,
    doc="Language-ID calibration audit: documents bucketed into five "
    "confidence bins (confidence = best-language stopword hits over "
    "total hits, exact integer ppm — the natural score of the q24/q147 "
    "argmax), with realized accuracy and mean confidence per bin and "
    "each bin's Expected-Calibration-Error term n_b*|acc_b - conf_b|/N "
    "(Guo et al. 2017; summing ece_term_ppm gives the corpus ECE, "
    "asserted by the value test). This is the difference between a "
    "confusion matrix and a USABLE confidence: curation routes "
    "documents by thresholding this score, and an uncalibrated score "
    "makes every routing threshold lie. All quantities are exact "
    "integer arithmetic (counts, truncating ppm ratios) — bit-equal "
    "across engines. Scale shape: map-side scoring (constant-folded "
    "stopword arrays, same expressions as q24 spliced from the shared "
    "constants), one aggregate over a 5-key space, one broadcast-sized "
    "total join. One pass, never a shuffle of documents.",
    tags=("text", "eval", "quality"),
)
def q218_langid_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pred = docs.select(
        F.col("lang").alias("labeled_lang"),
        F.expr(_predict_expr(_SPARK_SCORES)).alias("predicted_lang"),
        F.expr(
            f"COALESCE(({_best_score_expr(_SPARK_SCORES)}) * 1000000"
            f" div NULLIF({_total_score_expr(_SPARK_SCORES)}, 0), 0)"
        ).alias("conf_ppm"),
    )
    binned = pred.withColumn(
        "bin", F.expr("least(conf_ppm div 200000, 4)")
    )
    per_bin = binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(
            F.when(F.col("predicted_lang") == F.col("labeled_lang"), 1)
            .otherwise(0)
        )
        .cast("long")
        .alias("n_correct"),
        F.expr(
            "CAST(SUM(CASE WHEN predicted_lang = labeled_lang THEN 1 ELSE 0 "
            "END) * 1000000 div COUNT(*) AS BIGINT)"
        ).alias("acc_ppm"),
        F.expr("CAST(SUM(conf_ppm) div COUNT(*) AS BIGINT)").alias(
            "mean_conf_ppm"
        ),
    )
    tot = pred.agg(F.count(F.lit(1)).cast("long").alias("n_total"))
    return per_bin.crossJoin(F.broadcast(tot)).select(
        F.col("bin").cast("long").alias("bin"),
        "n_docs",
        "n_correct",
        "acc_ppm",
        "mean_conf_ppm",
        F.expr(
            "CAST(n_docs * abs(acc_ppm - mean_conf_ppm) div n_total"
            " AS BIGINT)"
        ).alias("ece_term_ppm"),
    )


# ---------------------------------------------------------------------------
# Segment-level boilerplate dedup (q222): the C4 line-dedup rule
# (Raffel et al. 2020 — "discard any line that occurs three or more
# times in the corpus") re-expressed for flat token streams: documents
# are cut into consecutive fixed-width token segments, each segment's
# corpus document-frequency is counted, and segments shared by >= 3
# DISTINCT documents are boilerplate — per-doc boilerplate share and
# post-removal token count are the outputs a curation gate consumes.
# Line/segment dedup catches what DOCUMENT dedup cannot: headers,
# navigation, license blocks riding inside otherwise-unique pages.

SEG_WIDTH = 4      # tokens per segment (the "line" of a flat stream)
SEG_BOILER_DF = 2  # C4 ships >= 3 on web text; the synthetic corpus
# has no planted boilerplate, so >= 2 (any cross-doc repeat) is the
# threshold that keeps the predicate observably live at every scale
# while exercising the identical plan


@register(
    "q222_segment_boilerplate",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS t
      FROM documents WHERE text IS NOT NULL
    ),
    segs AS (
      SELECT doc_id,
             CAST(i AS BIGINT) AS seg_no,
             array_to_string(
               t[(CAST(i AS INTEGER) * {SEG_WIDTH} + 1)
                 : (CAST(i AS INTEGER) * {SEG_WIDTH} + {SEG_WIDTH})],
               ' ') AS seg,
             len(t[(CAST(i AS INTEGER) * {SEG_WIDTH} + 1)
                   : (CAST(i AS INTEGER) * {SEG_WIDTH} + {SEG_WIDTH})])
                 AS seg_len
      FROM toks,
           unnest(range(0, (len(t) + {SEG_WIDTH} - 1) // {SEG_WIDTH})) AS r(i)
    ),
    df AS (
      SELECT seg, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
      FROM segs GROUP BY seg
    )
    SELECT s.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_segments,
           CAST(SUM(CASE WHEN d.n_docs >= {SEG_BOILER_DF} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_boilerplate_segments,
           CAST(SUM(s.seg_len) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN d.n_docs >= {SEG_BOILER_DF}
                    THEN s.seg_len ELSE 0 END) AS BIGINT)
               AS n_boilerplate_tokens,
           CAST(SUM(CASE WHEN d.n_docs >= {SEG_BOILER_DF}
                    THEN s.seg_len ELSE 0 END) * 1000000
                // SUM(s.seg_len) AS BIGINT) AS boilerplate_ppm
    FROM segs s JOIN df d ON d.seg = s.seg
    GROUP BY s.doc_id
    """,
    doc=f"Segment-level boilerplate dedup — the C4 line-dedup rule "
    "(Raffel et al. 2020: drop any line occurring >= 3 times) for flat "
    f"token streams: consecutive {SEG_WIDTH}-token segments, corpus "
    f"document-frequency per segment, boilerplate = shared by >= "
    f"{SEG_BOILER_DF} distinct docs; per-doc boilerplate token share "
    "and counts out. This catches what DOCUMENT-level dedup (q20/q22) "
    "structurally cannot: headers, navigation bars, license blocks "
    "riding inside otherwise-unique pages — at web scale the single "
    "largest token-mass reduction in the C4 recipe. Scale shape: "
    "segmentation is a map-side explode (output proportional to token "
    "count / width); the DF table is segment-TYPE-sized (Zipf-bounded, "
    "far below corpus tokens) built by a two-stage distinct-count agg; "
    "the score join is an equi-join on the segment key; one final "
    "groupBy(doc_id). At production scale the segment key would be the "
    "segment's 64-bit hash, not the string — same plan, narrower "
    "shuffle (the q20 key discipline).",
    tags=("text", "dedup", "quality"),
)
def q222_segment_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    toks = docs.select("doc_id", F.split(F.lower("text"), " ").alias("t"))
    segs = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, (size(t) + {SEG_WIDTH - 1})"
                f" div {SEG_WIDTH} - 1),"
                f" i -> struct(CAST(i AS BIGINT) AS seg_no,"
                f" array_join(slice(t, i * {SEG_WIDTH} + 1, {SEG_WIDTH}), ' ')"
                f" AS seg,"
                f" size(slice(t, i * {SEG_WIDTH} + 1, {SEG_WIDTH}))"
                f" AS seg_len))"
            )
        ).alias("s"),
    ).select("doc_id", "s.seg_no", "s.seg", "s.seg_len")
    df = segs.groupBy("seg").agg(
        F.countDistinct("doc_id").cast("long").alias("n_docs")
    )
    return (
        segs.join(df, "seg")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_segments"),
            F.sum(
                F.when(F.col("n_docs") >= SEG_BOILER_DF, 1).otherwise(0)
            )
            .cast("long")
            .alias("n_boilerplate_segments"),
            F.sum("seg_len").cast("long").alias("n_tokens"),
            F.sum(
                F.when(
                    F.col("n_docs") >= SEG_BOILER_DF, F.col("seg_len")
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_boilerplate_tokens"),
            F.expr(
                f"CAST(SUM(CASE WHEN n_docs >= {SEG_BOILER_DF} THEN seg_len"
                " ELSE 0 END) * 1000000 div SUM(seg_len) AS BIGINT)"
            ).alias("boilerplate_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Mutual-information feature screen (q229): rank candidate categorical
# features by MI with a label — the model-free feature-selection /
# metadata-audit primitive ("which corpus attributes carry language
# signal?"). MI = sum_cells p(x,y) ln(p(x,y)/(p(x)p(y))); held in
# integer micro-nats via the engine's shared fixed point (q88/q105/
# q118): each cell contributes c_xy * (L(N)+L(c_xy)-L(c_x)-L(c_y))
# where L(x) = floor(ln(x)*1e6 + 0.5) — exact integers in both engines
# (counts sit on the grid; the nearest ln grid point is ~5e5 micro-nats
# from the rounding boundary, a 1-ulp cross-engine ln difference is
# ~2e-9 micro-nats).


def _mi_ln_micro(c: str) -> str:
    return f"CAST(FLOOR(ln(CAST({c} AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)"


@register(
    "q229_mi_feature_screen",
    oracle=f"""
    WITH obs AS (
      SELECT 'source' AS feature, source AS x, lang AS y FROM documents
      UNION ALL
      SELECT 'len_band' AS feature, CAST(n_chars // 120 AS VARCHAR) AS x,
             lang AS y
      FROM documents
    ),
    cells AS (
      SELECT feature, x, y, CAST(COUNT(*) AS BIGINT) AS c_xy
      FROM obs GROUP BY 1, 2, 3
    ),
    m AS (
      SELECT feature, x, y, c_xy,
             SUM(c_xy) OVER (PARTITION BY feature, x) AS c_x,
             SUM(c_xy) OVER (PARTITION BY feature, y) AS c_y,
             SUM(c_xy) OVER (PARTITION BY feature) AS n
      FROM cells
    )
    SELECT feature,
           CAST(MAX(n) AS BIGINT) AS n,
           CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST(GREATEST(0, SUM(c_xy * ({_mi_ln_micro("n")}
                 + {_mi_ln_micro("c_xy")}
                 - {_mi_ln_micro("c_x")} - {_mi_ln_micro("c_y")})))
                // MAX(n) AS BIGINT) AS mi_micronat
    FROM m
    GROUP BY feature
    """,
    doc="Mutual information of two candidate features (source; length "
    "band n_chars/120) with the language label, in exact integer "
    "micro-nats via the engine's shared log fixed point: MI*N = "
    "SUM_cells c_xy*(L(N)+L(c_xy)-L(c_x)-L(c_y)), L(x) = "
    "floor(ln(x)*1e6+0.5) — the per-cell log-SUM form is "
    "overflow-proof at any corpus size (the ratio form needs "
    "N*c_xy/(c_x*c_y) intermediates that blow past int64, the exact "
    "failure q118's scale run caught); the micro-nat sum is clamped at "
    "0 before the normalize (MI >= 0 by definition, and the clamp "
    "keeps a rounding-negative near-zero sum away from the "
    "floor-vs-truncate division divergence between engines). The feature-selection screen a "
    "pipeline runs before training shallow models on metadata. Scale "
    "shape: the stacked scan is one pass (map-side union of two "
    "projections); cells are (feature x category x lang)-bounded "
    "(~125 rows), so the margin windows and final rollup are "
    "constant-size regardless of corpus rows. int64 headroom: "
    "c_xy * term < 4e7*c_xy — overflows only past ~2e11 rows per "
    "cell (then promote the product to DECIMAL(38,0)).",
    tags=("text", "training", "eval"),
)
def q229_mi_feature_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    obs = docs.select(
        F.lit("source").alias("feature"),
        F.col("source").alias("x"),
        F.col("lang").alias("y"),
    ).unionAll(
        docs.select(
            F.lit("len_band").alias("feature"),
            F.expr("CAST(n_chars div 120 AS STRING)").alias("x"),
            F.col("lang").alias("y"),
        )
    )
    cells = obs.groupBy("feature", "x", "y").agg(
        F.count(F.lit(1)).cast("long").alias("c_xy")
    )
    m = cells.select(
        "feature", "x", "y", "c_xy",
        F.sum("c_xy").over(Window.partitionBy("feature", "x")).alias("c_x"),
        F.sum("c_xy").over(Window.partitionBy("feature", "y")).alias("c_y"),
        F.sum("c_xy").over(Window.partitionBy("feature")).alias("n"),
    )
    term = (
        f"({_mi_ln_micro('n')} + {_mi_ln_micro('c_xy')}"
        f" - {_mi_ln_micro('c_x')} - {_mi_ln_micro('c_y')})"
    )
    return m.groupBy("feature").agg(
        F.max("n").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.expr(
            f"CAST(GREATEST(0, SUM(c_xy * {term})) div MAX(n) AS BIGINT)"
        ).alias("mi_micronat"),
    )


# ---------------------------------------------------------------------------
# Conformal calibration thresholds (q231): the split-conformal quantile
# with the finite-sample correction — per calibration group (language),
# the k-th smallest nonconformity score where k = ceil((n+1)*(1-alpha)),
# which guarantees P(score_new <= threshold) >= 1-alpha for exchangeable
# data (Vovk et al.; the distribution-free calibration step behind
# selective prediction and abstention gates). Nonconformity here is
# document length (n_chars) — the stand-in for any per-doc score column;
# the plan is score-agnostic.

CONFORMAL_ALPHA_PPM = 100_000  # alpha = 0.10 -> 90% coverage


@register(
    "q231_conformal_thresholds",
    oracle=f"""
    WITH ranked AS (
      SELECT lang, n_chars, doc_id,
             row_number() OVER (
               PARTITION BY lang ORDER BY n_chars, doc_id
             ) AS rn,
             COUNT(*) OVER (PARTITION BY lang) AS n
      FROM documents
    )
    SELECT lang, CAST(n AS BIGINT) AS n,
           CAST(LEAST(n, ((n + 1) * 9 + 9) // 10) AS BIGINT) AS k,
           CAST(n_chars AS BIGINT) AS threshold,
           CAST(1000000 * LEAST(n, ((n + 1) * 9 + 9) // 10) // (n + 1)
                AS BIGINT) AS coverage_ppm
    FROM ranked
    WHERE rn = LEAST(n, ((n + 1) * 9 + 9) // 10)
    """,
    doc="Split-conformal calibration threshold per language group: the "
    "k-th smallest nonconformity score (n_chars as the stand-in score "
    "column) with the finite-sample correction k = ceil((n+1)*0.9) — "
    "the distribution-free >=90%-coverage guarantee behind abstention/"
    "selective-prediction gates, computed entirely in integer "
    "arithmetic (k and the realized coverage bound in ppm are exact; "
    "ties broken by doc_id so the threshold row is deterministic under "
    "any partitioning). Scale shape: one shuffle on the calibration "
    "group; the rank is an exact per-group order statistic (groups "
    "here are the 5 languages — for a single giant calibration set, "
    "swap the exact rank for percentile_approx the way q82 does, or "
    "calibrate per shard and take the max threshold: conformal "
    "validity survives both). The rank-filter plans as a "
    "WindowGroupLimit-free single window pass, k rows of state per "
    "group.",
    tags=("text", "eval", "window"),
)
def q231_conformal_thresholds(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    ranked = docs.select(
        "lang", "n_chars", "doc_id",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("lang")).alias("n"),
    )
    k = "LEAST(n, ((n + 1) * 9 + 9) div 10)"
    return ranked.filter(F.expr(f"rn = {k}")).select(
        "lang",
        F.col("n").cast("long").alias("n"),
        F.expr(f"CAST({k} AS BIGINT)").alias("k"),
        F.col("n_chars").cast("long").alias("threshold"),
        F.expr(f"CAST(1000000 * {k} div (n + 1) AS BIGINT)").alias(
            "coverage_ppm"
        ),
    )


# ---------------------------------------------------------------------------
# Per-document character entropy (q243): the classic gibberish/degenerate-
# text filter — Shannon entropy of the character distribution, in exact
# micro-nats via the q88 fixed point: with per-char counts c_i and doc
# length n, H = sum_i (c_i/n)·ln(n/c_i) = (sum_i c_i·(L(n)−L(c_i))) div n
# where L(x) = floor(ln(x)·1e6 + 0.5) is evaluated per DISTINCT INTEGER
# COUNT identically in both engines (1-ulp cross-libm differences are
# ~2e-9 micro-nats, far inside the rounding headroom — the measured q88
# boundary argument). Low char entropy catches repeated-character spam,
# template boilerplate, and binary-ish junk that token-level scores
# (q25/q65/q88) can miss; keyboard-mash gibberish scores HIGH here and
# is caught by the stopword/LM side — the signals are complementary,
# which is why production quality stacks carry both.

ENT_LOW_MICRO = 2_000_000  # flag docs under 2.0 nats of char entropy

_ENT_L = "CAST(FLOOR(ln(CAST({x} AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)"


@register(
    "q243_char_entropy",
    oracle=f"""
    WITH ch AS (
      SELECT doc_id, unnest(string_split(text, '')) AS ch
      FROM documents WHERE text IS NOT NULL AND len(text) > 0
    ),
    cnt AS (
      SELECT doc_id, ch, CAST(COUNT(*) AS BIGINT) AS c
      FROM ch GROUP BY doc_id, ch
    ),
    tot AS (
      SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n,
             CAST(COUNT(*) AS BIGINT) AS n_distinct
      FROM cnt GROUP BY doc_id
    )
    SELECT t.doc_id,
           t.n AS n_chars,
           t.n_distinct AS n_distinct_chars,
           CAST(SUM(c.c * ({_ENT_L.format(x="t.n")}
                           - {_ENT_L.format(x="c.c")})) // t.n AS BIGINT)
               AS char_entropy_micro,
           CAST(SUM(c.c * ({_ENT_L.format(x="t.n")}
                           - {_ENT_L.format(x="c.c")})) // t.n
                < {ENT_LOW_MICRO} AS BIGINT) AS low_entropy
    FROM cnt c JOIN tot t ON t.doc_id = c.doc_id
    GROUP BY t.doc_id, t.n, t.n_distinct
    """,
    doc="Per-document character-distribution Shannon entropy in exact "
    "micro-nats (H = sum c_i*(L(n)-L(c_i)) div n over per-char counts, "
    "L(x)=floor(ln(x)*1e6+0.5) per distinct integer count — the q88 "
    "fixed point), with an n_distinct_chars audit column and a "
    f"low_entropy flag under {ENT_LOW_MICRO / 1e6:.1f} nats — the "
    "repeated-character / template-spam / binary-junk filter that "
    "token-level quality scores miss (and the complement of the "
    "stopword/LM side, which catches high-entropy keyboard mash). "
    "Cross-engine: split(text,'') produces identical char arrays in "
    "both engines including the empty-string edge (filtered). Scale "
    "shape: one map-side char explode (linear in corpus chars), both "
    "aggregates and the join key on doc_id — one shuffle, reused; "
    "per-doc state is alphabet-sized. The per-doc integer sum is "
    "bounded by n*L(n) (~3.5e13 at a 1M-char doc) — int64-safe at any "
    "corpus size, documented in the overflow allowlist.",
    tags=("text", "quality"),
)
def q243_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.length("text") > 0)
    )
    cnt = (
        docs.select("doc_id", F.explode(F.split("text", "")).alias("ch"))
        .groupBy("doc_id", "ch")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    tot = cnt.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
    )
    ent_sum = (
        f"SUM(c * ({_ENT_L.format(x='n')} - {_ENT_L.format(x='c')}))"
    )
    return (
        cnt.join(tot, "doc_id")
        .groupBy("doc_id", "n", "n_distinct")
        .agg(
            F.expr(f"CAST({ent_sum} div n AS BIGINT)").alias(
                "char_entropy_micro"
            ),
            F.expr(
                f"CAST({ent_sum} div n < {ENT_LOW_MICRO} AS BIGINT)"
            ).alias("low_entropy"),
        )
        .select(
            "doc_id",
            F.col("n").alias("n_chars"),
            F.col("n_distinct").alias("n_distinct_chars"),
            "char_entropy_micro",
            "low_entropy",
        )
    )


# ---------------------------------------------------------------------------
# Misra-Gries heavy hitters with exact verification (q251): the
# deterministic-guarantee sibling of q197's count-min path. MG keeps at
# most K counters per shard and NEVER misses an item with count >
# N/(K+1) (Misra-Gries 1982; mergeable per Agarwal et al. 2012) — a
# recall theorem, where CMS offers a probabilistic overestimate bound.
# The two compose differently at 100 TB: CMS gives estimated counts from
# a fixed 4 KB cell table; MG gives a certain candidate superset with
# bounded size (shards*K) and no hash-collision failure mode. Both then
# re-count candidates exactly over a semi-joined stream. Because MG
# summary CONTENTS depend on fold order, only the exact-verified output
# leaves the operator — which is precisely why the query is fully
# hash-checkable against the plain frequent-items SQL: a recall bug
# would drop rows and break the hash.
MG_K = 64          # counters per shard -> guarantee threshold N/(K+1)
MG_SHARDS = 32     # deterministic doc_id-keyed shards (memory unit)


@register(
    "q251_misra_gries_heavy_hitters",
    oracle=f"""
    WITH toks AS (
      SELECT token FROM (
        SELECT unnest(string_split(text, ' ')) AS token FROM documents
      ) WHERE len(token) > 0
    ),
    total AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM toks),
    freq AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt FROM toks GROUP BY token
    )
    SELECT f.token,
           f.cnt AS exact_count,
           t.n AS n_tokens,
           CAST(1000000 * f.cnt // t.n AS BIGINT) AS share_ppm
    FROM freq f CROSS JOIN total t
    WHERE f.cnt * {MG_K + 1} > t.n
    """,
    doc="Misra-Gries heavy hitters with exact verification: per-shard "
    f"bounded summaries (K={MG_K} counters, {MG_SHARDS} doc_id-keyed "
    "shards, Arrow grouped map) generate a candidate set that "
    "PROVABLY contains every token with count > N/(K+1) — the "
    "deterministic-recall complement of q197's count-min estimate "
    "(no hash collisions, mergeable by the Agarwal et al. rule); the "
    "exact pass then counts only the candidate-semi-joined stream and "
    "keeps tokens over the threshold. The oracle is the plain "
    "frequent-items SQL, so the hash match IS the recall proof: if "
    "any true heavy hitter fell out of an MG summary, its row would "
    "be missing. Integer threshold cnt*(K+1) > N avoids division "
    "rounding. Scale shape: one corpus scan through the grouped map "
    "(summaries are K-sized per shard; shard count scales with "
    "executor memory, the threshold does not depend on it), one "
    "candidate-broadcast semi-joined recount — the vocabulary-sized "
    "aggregate never happens. Order caveat documented in the "
    "operator: summary residuals are order-dependent and never leave "
    "the operator; the verified output is order- and "
    "partition-independent.",
    tags=("text", "sketch", "aggregate", "pandas-udf"),
)
def q251_misra_gries_heavy_hitters(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.text import misra_gries_shard_summaries

    documents = load_table(spark, sf_dir, "documents")
    toks = (
        documents.select(
            "doc_id", F.explode(F.split("text", " ")).alias("token")
        )
        .filter(F.length("token") > 0)
        .select(
            "token", (F.col("doc_id") % MG_SHARDS).alias("shard")
        )
    )
    # The summary output is bounded at shards*(K+1) rows, so ONE pass
    # materializes it to the driver (the q38/q252 bounded-collect
    # pattern) — a second DataFrame consumer would re-execute the whole
    # grouped-map corpus scan (no CTE sharing across consumers).
    rows = misra_gries_shard_summaries(toks, MG_K).collect()
    out_schema = (
        "token string, exact_count long, n_tokens long, share_ppm long"
    )
    if not rows:
        return rows_frame(spark, [], out_schema)
    n = sum(r.cnt for r in rows if r.token is None)
    cand = sorted({r.token for r in rows if r.token is not None})
    cand_df = F.broadcast(rows_frame(spark, [(t,) for t in cand], "token string"))
    return (
        toks.join(cand_df, "token")
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_count"))
        .filter(F.col("exact_count") * (MG_K + 1) > F.lit(n))
        .selectExpr(
            "token",
            "exact_count",
            f"CAST({n} AS BIGINT) AS n_tokens",
            f"CAST(1000000 * exact_count div {n} AS BIGINT) AS share_ppm",
        )
    )


# ---------------------------------------------------------------------------
# Fasttext-style linear quality classifier (q257) — the standard web
# quality filter of CCNet / LLaMA-family data pipelines: hash every
# character n-gram of every token into D buckets, dot the bucket counts
# with a weight vector, squash through a sigmoid, threshold. This query
# ships the PLUMBING exactly (hashed bag-of-char-ngrams -> linear score
# -> sigmoid -> keep gate, all JVM-side expressions, no UDF); the
# weights are a DETERMINISTIC LITERAL stand-in for trained parameters
# (a multiplicative-hash formula over the bucket index — swap in real
# fastText weights as a broadcast lookup without touching the plan).
# The squash is the hard sigmoid clamp(x/4 + 1/2, 0, 1) (Courbariaux et
# al.) in exact ppm integers: the true logistic is strictly monotone in
# the linear score, so the KEEP decision is identical and the whole
# query stays hash-exact cross-engine — the q68 rational-core rule.
# ---------------------------------------------------------------------------

FT_BUCKETS = 1024
FT_KNUTH = 2654435761  # Knuth multiplicative hash constant


def _ft_weight(expr: str) -> str:
    """Deterministic weight in [-1000, 1000] milli-units for bucket
    ``expr`` — identical integer arithmetic in both dialects (bucket <
    1024 so bucket*KNUTH < 2.8e12, far inside int64)."""
    return f"((({expr}) * {FT_KNUTH}) % 4294967296) % 2001 - 1000"


@register(
    "q257_fasttext_quality_score",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
      FROM documents WHERE text IS NOT NULL
    ),
    pad AS (
      SELECT doc_id, '<' || w || '>' AS p FROM tok WHERE length(w) >= 1
    ),
    g AS (
      SELECT doc_id, substring(p, CAST(i AS INTEGER), 3) AS gram
      FROM pad, unnest(range(1, length(p) - 1)) AS t(i)
    ),
    wgt AS (
      SELECT doc_id,
             {_ft_weight(f"({poly_hash_pair('gram', 'gram')[1]}) % {FT_BUCKETS}")}
                 AS w_milli
      FROM g
    ),
    agg AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
             CAST(SUM(w_milli) AS BIGINT) AS score_sum_milli
      FROM wgt GROUP BY doc_id
    )
    SELECT doc_id, n_grams, score_sum_milli,
           CAST(score_sum_milli // n_grams AS BIGINT) AS score_avg_milli,
           CAST(LEAST(1000000, GREATEST(0,
                500000 + 250 * (score_sum_milli // n_grams)))
                AS BIGINT) AS sigmoid_ppm,
           CAST(LEAST(1000000, GREATEST(0,
                500000 + 250 * (score_sum_milli // n_grams)))
                >= 500000 AS INTEGER) AS keep
    FROM agg
    """,
    doc=f"Fasttext-style linear quality classifier (the CCNet/LLaMA web "
    "quality filter shape): boundary-padded character trigrams of every "
    f"token, polynomial-hashed into {FT_BUCKETS} buckets, bag-of-ngrams "
    "dot a literal weight vector (deterministic multiplicative-hash "
    "stand-in for trained weights — swapping in real parameters is a "
    "broadcast lookup, same plan), mean-pooled (fastText averages "
    "feature vectors), then the exact-integer hard sigmoid "
    "clamp(x/4+1/2) in ppm and the keep gate at 0.5. The true logistic "
    "is monotone in the linear score so the gate decision is identical; "
    "hard-sigmoid keeps every column hash-exact (integer counts, one "
    "truncating div — both engines truncate toward zero). Scale shape: "
    "one corpus scan, two map-side explodes (token, trigram), weight "
    "computed per row by codegen'd arithmetic (no lookup join), one "
    "doc_id-keyed partial-agg — no joins, no windows, no driver state; "
    "at 100 TB this is embarrassingly parallel and explode volume "
    "(~chars per doc) is the only cost.",
    tags=("text", "quality", "classifier"),
)
def q257_fasttext_quality_score(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    grams = (
        docs.select(
            "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("w")
        )
        .filter(F.length("w") >= 1)
        .selectExpr("doc_id", "concat('<', w, '>') AS p")
        .selectExpr(
            "doc_id",
            "explode(transform(sequence(1, length(p) - 2),"
            " i -> substring(p, i, 3))) AS gram",
        )
    )
    bucket = f"({poly_hash_pair('gram', 'gram')[0]}) % {FT_BUCKETS}"
    agg = (
        grams.selectExpr("doc_id", f"{_ft_weight(bucket)} AS w_milli")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum("w_milli").cast("long").alias("score_sum_milli"),
        )
    )
    sig = (
        "LEAST(1000000, GREATEST(0,"
        " 500000 + 250 * (score_sum_milli div n_grams)))"
    )
    return agg.selectExpr(
        "doc_id",
        "n_grams",
        "score_sum_milli",
        "CAST(score_sum_milli div n_grams AS BIGINT) AS score_avg_milli",
        f"CAST({sig} AS BIGINT) AS sigmoid_ppm",
        f"CAST({sig} >= 500000 AS INT) AS keep",
    )
