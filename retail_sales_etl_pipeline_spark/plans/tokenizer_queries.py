"""Tokenizer-training / text-normalization operators: PII-shape pattern
redaction, BPE pair counting (the first merge step of byte-pair-encoding
training), vocabulary building with OOV rates, and a bigram language
model — the ops a tokenizer-and-LM-prep stage runs over a cleaned corpus
before training data is packaged.

Extensions beyond the reference surface (the reference's scalar functions
stop at COALESCE/CASE/EXTRACT — SURVEY.md §2.8); these follow the same
oracle discipline as the rest of the registry.

Hash-parity notes: all scores are exact-integer counts or single IEEE
divisions of integers (bit-deterministic cross-engine). Top-k cuts are
always ordered by (count DESC, key ASC) so boundary ties are
deterministic. Regexes use only constructs with identical semantics in
Java regex (Spark) and RE2 (DuckDB): literal classes, `+`, `{2,}`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..schemas import rows_frame
from ..sources import load_table
from .registry import register

NUM_PATTERN = "[0-9]+"
EMAIL_PATTERN = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
BPE_TOP_PAIRS = 50
VOCAB_K = 20
BIGRAM_TOP_K = 100


@register(
    "q92_pattern_redaction",
    oracle=f"""
    SELECT event_id,
           regexp_replace(
             regexp_replace(props, '{EMAIL_PATTERN}', '<EMAIL>', 'g'),
             '{NUM_PATTERN}', '<NUM>', 'g') AS redacted,
           CAST(len(regexp_extract_all(props, '{NUM_PATTERN}')) AS INTEGER)
               AS n_num,
           CAST(len(regexp_extract_all(props, '{EMAIL_PATTERN}')) AS INTEGER)
               AS n_email
    FROM events
    """,
    doc="PII-shape pattern redaction over raw payloads (events.props): "
    "replace email-shaped spans with <EMAIL> then digit runs with <NUM>, "
    "reporting per-row match counts for audit. This is the exact plan "
    "shape of a production PII scrub (swap in phone/SSN/IP patterns — "
    "same regexp_replace chain, same counters); order matters (emails "
    "first, since they contain digits). Map-only: no shuffle, fully "
    "pushdown-friendly, whole-stage codegen on the JVM regex engine. "
    "Patterns restricted to the Java-regex/RE2 common subset so the "
    "DuckDB oracle matches bit-for-bit.",
    tags=("text", "normalization", "pii"),
)
def q92_pattern_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.regexp_replace(
            F.regexp_replace("props", EMAIL_PATTERN, "<EMAIL>"),
            NUM_PATTERN,
            "<NUM>",
        ).alias("redacted"),
        F.size(F.regexp_extract_all("props", F.lit(NUM_PATTERN), F.lit(0)))
        .cast("int")
        .alias("n_num"),
        F.size(F.regexp_extract_all("props", F.lit(EMAIL_PATTERN), F.lit(0)))
        .cast("int")
        .alias("n_email"),
    )


@register(
    "q94_bpe_pair_counts",
    oracle=f"""
    WITH words AS (
      SELECT unnest(string_split(lower(text), ' ')) AS w
      FROM documents WHERE text IS NOT NULL
    ),
    pairs AS (
      SELECT substring(w, CAST(i AS INTEGER), 2) AS pair
      FROM words, unnest(range(1, length(w))) AS t(i)
      WHERE length(w) >= 2
    ),
    counts AS (
      SELECT pair, CAST(COUNT(*) AS BIGINT) AS cnt FROM pairs GROUP BY pair
    )
    SELECT pair, cnt, CAST(rnk AS INTEGER) AS rnk
    FROM (
      SELECT *, ROW_NUMBER() OVER (ORDER BY cnt DESC, pair) AS rnk
      FROM counts
    )
    WHERE rnk <= {BPE_TOP_PAIRS}
    """,
    doc="BPE pair counting — the first merge step of byte-pair-encoding "
    "tokenizer training: corpus-wide counts of adjacent character pairs "
    "within words, top-50 by frequency. Scale shape: word explode -> "
    "in-word pair expansion (transform over sequence, JVM-side, no "
    "Python) -> two-stage hash aggregate on a ~alphabet^2-sized key "
    "space -> TakeOrderedAndProject top-k (no global sort); the rank "
    "column is added by a window over only the k survivors. Iterating "
    "merges = re-running this plan over the re-paired corpus; each "
    "iteration is the same bounded-key aggregate.",
    tags=("text", "tokenizer"),
)
def q94_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    words = docs.select(
        F.explode(F.split(F.lower("text"), " ")).alias("w")
    ).filter(F.length("w") >= 2)
    pairs = words.select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
        ).alias("pair")
    )
    counts = pairs.groupBy("pair").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    top = counts.orderBy(F.desc("cnt"), F.asc("pair")).limit(BPE_TOP_PAIRS)
    # rank over the k survivors only (tiny), never over the full key space
    w = Window.orderBy(F.desc("cnt"), F.asc("pair"))
    return top.withColumn("rnk", F.row_number().over(w).cast("int"))


@register(
    "q98_vocab_oov_rate",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
      FROM documents WHERE text IS NOT NULL
    ),
    counts AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt FROM tok GROUP BY tok
    ),
    vocab AS (
      SELECT tok FROM (
        SELECT tok, ROW_NUMBER() OVER (ORDER BY cnt DESC, tok) AS rnk
        FROM counts
      ) WHERE rnk <= {VOCAB_K}
    )
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_oov,
           CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS oov_frac
    FROM tok t LEFT JOIN vocab v ON t.tok = v.tok
    GROUP BY t.doc_id
    """,
    doc="Vocabulary coverage / OOV rate: build the top-K corpus vocabulary "
    "(count DESC, token ASC — deterministic boundary), then score every "
    "document's out-of-vocabulary token fraction against it. The vocab is "
    "k rows by construction -> explicit broadcast join (no shuffle of the "
    "token stream beyond the one groupBy); per-doc aggregation shuffles "
    "on doc_id once. This is the tokenizer-eval loop (does the vocab "
    "cover held-out text?) and doubles as a quality signal (high OOV = "
    "gibberish) — same rule family as the q91 quality gate.",
    tags=("text", "tokenizer"),
)
def q98_vocab_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("tok")
    )
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    vocab = (
        counts.orderBy(F.desc("cnt"), F.asc("tok"))
        .limit(VOCAB_K)
        .select("tok", F.lit(1).alias("in_vocab"))
    )
    joined = toks.join(F.broadcast(vocab), "tok", "left")
    n_oov = F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0)).cast("long")
    return joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        n_oov.alias("n_oov"),
        (n_oov.cast("double") / F.count(F.lit(1)).cast("double")).alias("oov_frac"),
    )


@register(
    "q99_bigram_lm",
    oracle=f"""
    WITH toks AS (
      SELECT string_split(lower(text), ' ') AS t
      FROM documents WHERE text IS NOT NULL
    ),
    bigrams AS (
      SELECT t[CAST(i AS INTEGER)] AS w1, t[CAST(i AS INTEGER) + 1] AS w2
      FROM toks, unnest(range(1, len(t))) AS r(i)
      WHERE len(t) >= 2
    ),
    bc AS (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM bigrams GROUP BY w1, w2
    ),
    totals AS (
      SELECT w1, CAST(SUM(cnt) AS BIGINT) AS w1_total FROM bc GROUP BY w1
    )
    SELECT w1, w2, cnt, w1_total,
           CAST(cnt AS DOUBLE) / CAST(w1_total AS DOUBLE) AS cond_p,
           CAST(rnk AS INTEGER) AS rnk
    FROM (
      SELECT bc.*, t.w1_total,
             ROW_NUMBER() OVER (ORDER BY bc.cnt DESC, bc.w1, bc.w2) AS rnk
      FROM bc JOIN totals t USING (w1)
    )
    WHERE rnk <= {BIGRAM_TOP_K}
    """,
    doc="Bigram language model over the corpus: adjacent-token pair "
    "counts and conditional probabilities P(w2|w1) = c(w1,w2)/c(w1,*), "
    "top-100 bigrams. The n-gram LM is the classic corpus-quality scorer "
    "(KenLM-style perplexity filters are trained exactly this way; q88's "
    "unigram surprisal is the order-1 special case). Scale shape: "
    "in-document bigram expansion via arrays_zip of two slices (JVM-side, "
    "guarded for 1-token docs — Spark's sequence(1,0) would descend), "
    "two-stage aggregate on (w1,w2), denominator aggregate on w1 reusing "
    "the same shuffle side, vocab-sized join (AQE broadcasts), "
    "TakeOrdered top-k. cond_p is one IEEE division of exact integers.",
    tags=("text", "tokenizer", "lm"),
)
def q99_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = docs.select(F.split(F.lower("text"), " ").alias("t")).filter(
        F.size("t") >= 2
    )
    bigrams = toks.select(
        F.explode(
            F.arrays_zip(
                F.slice("t", 1, F.size("t") - 1).alias("w1"),
                F.expr("slice(t, 2, size(t) - 1)").alias("w2"),
            )
        ).alias("b")
    ).select(F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    bc = bigrams.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    totals = bc.groupBy("w1").agg(F.sum("cnt").cast("long").alias("w1_total"))
    scored = bc.join(totals, "w1").select(
        "w1",
        "w2",
        "cnt",
        "w1_total",
        (F.col("cnt").cast("double") / F.col("w1_total").cast("double")).alias(
            "cond_p"
        ),
    )
    top = scored.orderBy(F.desc("cnt"), F.asc("w1"), F.asc("w2")).limit(
        BIGRAM_TOP_K
    )
    w = Window.orderBy(F.desc("cnt"), F.asc("w1"), F.asc("w2"))
    return top.withColumn("rnk", F.row_number().over(w).cast("int"))


PPL_LOW_SCORE_PPM = 50_000  # docs whose mean bigram prob < 5% are "odd"


@register(
    "q105_bigram_doc_score",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS t
      FROM documents WHERE text IS NOT NULL
    ),
    bigrams AS (
      SELECT doc_id,
             t[CAST(i AS INTEGER)] AS w1, t[CAST(i AS INTEGER) + 1] AS w2
      FROM toks, unnest(range(1, len(t))) AS r(i)
      WHERE len(t) >= 2
    ),
    bc AS (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM bigrams GROUP BY w1, w2
    ),
    totals AS (
      SELECT w1, CAST(SUM(cnt) AS BIGINT) AS w1_total FROM bc GROUP BY w1
    ),
    scored AS (
      SELECT b.doc_id,
             (bc.cnt * 1000000) // t.w1_total AS p_ppm
      FROM bigrams b
      JOIN bc ON b.w1 = bc.w1 AND b.w2 = bc.w2
      JOIN totals t ON b.w1 = t.w1
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(p_ppm) AS BIGINT) AS sum_p_ppm,
           CAST(SUM(p_ppm) // COUNT(*) AS BIGINT) AS mean_p_ppm,
           (SUM(p_ppm) // COUNT(*)) < {PPL_LOW_SCORE_PPM} AS is_low_score
    FROM scored GROUP BY doc_id
    """,
    doc="Per-document bigram-LM scoring — the KenLM-style perplexity "
    "filter composed end-to-end: train the bigram model on the corpus "
    "(q99's count tables, un-truncated), then score every document by "
    "the mean conditional probability of its own bigrams, flagging "
    "low-scoring (incoherent / boilerplate / wrong-language) docs. "
    "Probabilities are held as exact integer micro-units "
    "(cnt*1e6 div total) so per-doc sums are order-independent and both "
    "engines agree bit-for-bit; a production filter swaps in log-probs "
    "and a held-out LM but keeps this exact plan. Scale shape: bigram "
    "expansion is map-side; the model (vocab^2-bounded, tokens that "
    "co-occur only) is far smaller than the corpus, so the score join "
    "broadcasts at realistic vocab sizes and otherwise hash-joins on "
    "(w1,w2); one final groupBy(doc_id). Nothing touches the driver.",
    tags=("text", "tokenizer", "lm", "quality"),
)
def q105_bigram_doc_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = docs.select(
        "doc_id", F.split(F.lower("text"), " ").alias("t")
    ).filter(F.size("t") >= 2)
    bigrams = toks.select(
        "doc_id",
        F.explode(
            F.arrays_zip(
                F.slice("t", 1, F.size("t") - 1).alias("w1"),
                F.expr("slice(t, 2, size(t) - 1)").alias("w2"),
            )
        ).alias("b"),
    ).select("doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    bc = bigrams.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    totals = bc.groupBy("w1").agg(F.sum("cnt").cast("long").alias("w1_total"))
    model = bc.join(totals, "w1").select(
        "w1", "w2", F.expr("(cnt * 1000000) div w1_total").alias("p_ppm")
    )
    scored = bigrams.join(model, ["w1", "w2"])
    mean_ppm = F.expr("sum(p_ppm) div count(1)")
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.sum("p_ppm").cast("long").alias("sum_p_ppm"),
        mean_ppm.cast("long").alias("mean_p_ppm"),
        (mean_ppm < PPL_LOW_SCORE_PPM).alias("is_low_score"),
    )


def _ln_micro(c: str):
    """floor(ln(x)*1e6 + 0.5) as int64 — the shared micro-nat fixed point
    (see q88's boundary analysis: applied only to count values, where a
    1-ulp cross-engine ln difference is ~2e-9 micro-nats)."""
    return F.floor(
        F.log(F.col(c).cast("double")) * 1e6 + F.lit(0.5)
    ).cast("long")


COOC_MAX_DIST = 3
COOC_TOP_K = 100


@register(
    "q118_cooccurrence_pmi",
    oracle=f"""
    WITH toks AS (
      SELECT string_split(lower(text), ' ') AS t
      FROM documents WHERE text IS NOT NULL
    ),
    pairs AS (
      {" UNION ALL ".join(
        f'''SELECT least(t[CAST(i AS INTEGER)], t[CAST(i AS INTEGER) + {d}]) AS x,
               greatest(t[CAST(i AS INTEGER)], t[CAST(i AS INTEGER) + {d}]) AS y
        FROM toks, unnest(range(1, len(t) + 1 - {d})) AS r(i)
        WHERE len(t) >= {d + 1}'''
        for d in range(1, COOC_MAX_DIST + 1)
      )}
    ),
    pc AS (
      SELECT x, y, CAST(COUNT(*) AS BIGINT) AS c_xy
      FROM pairs GROUP BY x, y
    ),
    tc AS (
      SELECT unnest(t) AS w FROM toks
    ),
    uc AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS c_w FROM tc GROUP BY w
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs FROM pairs)
    SELECT x, y, c_xy, a.c_w AS c_x, b.c_w AS c_y,
           CAST(FLOOR(ln(CAST(n_pairs AS DOUBLE)) * 1000000.0 + 0.5)
                AS BIGINT)
           + CAST(FLOOR(ln(CAST(c_xy AS DOUBLE)) * 1000000.0 + 0.5)
                AS BIGINT)
           - CAST(FLOOR(ln(CAST(a.c_w AS DOUBLE)) * 1000000.0 + 0.5)
                AS BIGINT)
           - CAST(FLOOR(ln(CAST(b.c_w AS DOUBLE)) * 1000000.0 + 0.5)
                AS BIGINT) AS pmi_micronat,
           CAST(rnk AS INTEGER) AS rnk
    FROM (
      SELECT pc.*, row_number() OVER (ORDER BY pc.c_xy DESC, pc.x, pc.y)
                 AS rnk
      FROM pc
    ) pc
    JOIN uc a ON a.w = pc.x
    JOIN uc b ON b.w = pc.y
    CROSS JOIN n
    WHERE rnk <= {COOC_TOP_K}
    """,
    doc=f"Token co-occurrence counts with PMI-ratio scores — the GloVe/"
    "word2vec-style statistic table an embedding-training prep stage "
    f"builds: unordered token pairs within distance {COOC_MAX_DIST} "
    "inside each document, counted corpus-wide, with PMI = "
    "ln(N*c(x,y)/(c(x)*c(y))) held in integer MICRO-NATS as the SUM of "
    "per-count log terms L(N)+L(c_xy)-L(c_x)-L(c_y) (the q88/q105 "
    "fixed-point convention) — the log-sum form is not a stylistic "
    "choice: the exact ppm RATIO c_xy*N*1e6 needs ~2e21 intermediates "
    "at the 100x corpus (int64 overflows, caught by the executed scale "
    "run; decimal(38) multiplication silently degrades to double past "
    "declared precision), while every log term is bounded forever. "
    "Scale shape: pair expansion is map-side "
    f"(x{COOC_MAX_DIST} fan-out via slice+zip, JVM-only), counts are "
    "two-stage hash aggs on vocab-bounded keys, the unigram join is "
    "vocab-sized (AQE broadcasts), top-k is TakeOrdered over the pair "
    "counts and the rank window touches only the k survivors.",
    tags=("text", "tokenizer", "embedding"),
)
def q118_cooccurrence_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = docs.select(F.split(F.lower("text"), " ").alias("t"))
    streams = []
    for d in range(1, COOC_MAX_DIST + 1):
        pair = (
            toks.filter(F.size("t") >= d + 1)
            .select(
                F.explode(
                    F.arrays_zip(
                        F.expr(f"slice(t, 1, size(t) - {d})").alias("a"),
                        F.expr(f"slice(t, {d + 1}, size(t) - {d})").alias("b"),
                    )
                ).alias("p")
            )
            .select(
                F.least(F.col("p.a"), F.col("p.b")).alias("x"),
                F.greatest(F.col("p.a"), F.col("p.b")).alias("y"),
            )
        )
        streams.append(pair)
    pairs = streams[0]
    for s in streams[1:]:
        pairs = pairs.unionByName(s)
    pc = pairs.groupBy("x", "y").agg(F.count(F.lit(1)).cast("long").alias("c_xy"))
    uc = (
        toks.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("c_w"))
    )
    n = pairs.agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    top = pc.orderBy(F.desc("c_xy"), F.asc("x"), F.asc("y")).limit(COOC_TOP_K)
    rank_w = Window.orderBy(F.desc("c_xy"), F.asc("x"), F.asc("y"))
    ranked = top.withColumn("rnk", F.row_number().over(rank_w).cast("int"))
    a = uc.select(F.col("w").alias("x"), F.col("c_w").alias("c_x"))
    b = uc.select(F.col("w").alias("y"), F.col("c_w").alias("c_y"))
    return (
        ranked.join(F.broadcast(a), "x")
        .join(F.broadcast(b), "y")
        .crossJoin(F.broadcast(n))
        .select(
            "x",
            "y",
            "c_xy",
            "c_x",
            "c_y",
            # log-sum micro-nat form: overflow-proof at any corpus size
            # (the ratio form's c_xy*N*1e6 blew past int64 at 100x)
            (
                _ln_micro("n_pairs")
                + _ln_micro("c_xy")
                - _ln_micro("c_x")
                - _ln_micro("c_y")
            ).alias("pmi_micronat"),
            "rnk",
        )
    )


MERGE_MARK = "~"  # merged-pair placeholder (absent from the corpus alphabet)


@register(
    "q132_bpe_second_merge",
    oracle=f"""
    WITH words AS (
      SELECT unnest(string_split(lower(text), ' ')) AS w
      FROM documents WHERE text IS NOT NULL
    ),
    pairs AS (
      SELECT substring(w, CAST(i AS INTEGER), 2) AS pair
      FROM words, unnest(range(1, length(w))) AS t(i)
      WHERE length(w) >= 2
    ),
    top1 AS (
      SELECT pair FROM (
        SELECT pair, COUNT(*) AS cnt FROM pairs GROUP BY pair
        ORDER BY cnt DESC, pair LIMIT 1
      )
    ),
    merged AS (
      SELECT replace(w, (SELECT pair FROM top1), '{MERGE_MARK}') AS w
      FROM words
    ),
    pairs2 AS (
      SELECT substring(w, CAST(i AS INTEGER), 2) AS pair
      FROM merged, unnest(range(1, length(w))) AS t(i)
      WHERE length(w) >= 2
    )
    SELECT (SELECT pair FROM top1) AS merged_pair, pair,
           CAST(c2 AS BIGINT) AS cnt,
           CAST(rnk AS INTEGER) AS rnk
    FROM (
      SELECT pair, COUNT(*) AS c2,
             row_number() OVER (ORDER BY COUNT(*) DESC, pair) AS rnk
      FROM pairs2 GROUP BY pair
    )
    WHERE rnk <= {BPE_TOP_PAIRS}
    """,
    doc="The SECOND iteration of BPE training, end-to-end: find the "
    "corpus's top character pair (q94's count), apply the merge by "
    f"rewriting every occurrence to the single symbol '{MERGE_MARK}', "
    "re-count adjacent pairs over the REWRITTEN corpus, and emit the "
    "new top pairs — the proof that the iterative tokenizer loop is one "
    "repeated Spark plan (greedy merge -> rewrite -> recount), with the "
    "data-dependent merge flowing through a scalar subquery / broadcast "
    "single-row join rather than a driver round trip. Scale shape per "
    "iteration: map-side rewrite (replace is codegen'd), bounded "
    "alphabet^2 aggregate, TakeOrdered; full training = this plan in a "
    "loop with localCheckpoint per round (the q38/graph.py iterative "
    "discipline).",
    tags=("text", "tokenizer", "iterative"),
)
def q132_bpe_second_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    words = docs.select(F.explode(F.split(F.lower("text"), " ")).alias("w"))
    pairs = words.filter(F.length("w") >= 2).select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
        ).alias("pair")
    )
    top1 = (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("pair"))
        .limit(1)
        .select(F.col("pair").alias("merged_pair"))
    )
    merged = words.crossJoin(F.broadcast(top1)).select(
        "merged_pair",
        F.expr(f"replace(w, merged_pair, '{MERGE_MARK}')").alias("w"),
    )
    pairs2 = merged.filter(F.length("w") >= 2).select(
        "merged_pair",
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
        ).alias("pair"),
    )
    counts = pairs2.groupBy("merged_pair", "pair").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    top = counts.orderBy(F.desc("cnt"), F.asc("pair")).limit(BPE_TOP_PAIRS)
    w = Window.orderBy(F.desc("cnt"), F.asc("pair"))
    return top.withColumn("rnk", F.row_number().over(w).cast("int"))


# Tokenizer fertility: tokens-per-word by language — THE go/no-go metric
# for a tokenizer across a multilingual corpus (fertility >> 1 for a
# language means its text fragments into many subword tokens, inflating
# compute per character of content; vocab allocation is usually revisited
# when a served language's fertility is high). Uses the q26 BPE-ish regex
# token convention against whitespace words; ratios in exact integer ppm.
_FERTILITY_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


@register(
    "q160_tokenizer_fertility",
    oracle=r"""
    WITH per_doc AS (
      SELECT lang,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS words,
             CAST(len(regexp_extract_all(
                 text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT)
                 AS toks,
             CAST(length(text) AS BIGINT) AS chars
      FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(words) AS BIGINT) AS sum_words,
           CAST(SUM(toks) AS BIGINT) AS sum_tokens,
           CAST(SUM(chars) AS BIGINT) AS sum_chars,
           CAST((SUM(toks) * 1000000) // SUM(words) AS BIGINT)
               AS fertility_ppm,
           CAST((SUM(chars) * 1000000) // NULLIF(SUM(toks), 0) AS BIGINT)
               AS chars_per_token_ppm
    FROM per_doc GROUP BY lang
    """,
    doc="Tokenizer fertility by language: BPE-ish tokens per whitespace "
    "word and characters per token, aggregated per language label — the "
    "standard multilingual-tokenizer health metric (high fertility = "
    "the language fragments into many subwords, so each content "
    "character costs more sequence length; the usual trigger for "
    "revisiting vocab allocation, cf. UniMax/mT5 reporting). Token "
    "convention is q26's portable regex (letter runs / digit runs / "
    "single other-symbols — no lookaround, Java regex and RE2 agree); "
    "ratios are exact integer ppm so the rollup is hash-checked. Scale "
    "shape: per-doc counts are map-side expressions; one shuffle on the "
    "5-value lang key carrying 4 int64 partials per group.",
    tags=("tokenizer", "text", "profiling"),
)
def q160_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    per_doc = docs.select(
        "lang",
        F.size(F.split("text", " ")).cast("long").alias("words"),
        F.size(F.regexp_extract_all("text", F.lit(_FERTILITY_REGEX), 0))
        .cast("long")
        .alias("toks"),
        F.length("text").cast("long").alias("chars"),
    )
    agg = per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("words").cast("long").alias("sum_words"),
        F.sum("toks").cast("long").alias("sum_tokens"),
        F.sum("chars").cast("long").alias("sum_chars"),
    )
    return agg.select(
        "lang",
        "n_docs",
        "sum_words",
        "sum_tokens",
        "sum_chars",
        # sum_words >= n_docs >= 1 (split('') is ['']); sum_tokens CAN be 0
        # for a language of symbol-free whitespace docs — NULL, not a
        # DIVIDE_BY_ZERO (ANSI mode), matching the oracle's NULLIF.
        F.expr("CAST((sum_tokens * 1000000) div sum_words AS LONG)").alias(
            "fertility_ppm"
        ),
        F.expr(
            "CAST((sum_chars * 1000000) div NULLIF(sum_tokens, 0) AS LONG)"
        ).alias("chars_per_token_ppm"),
    )


# ---------------------------------------------------------------------------
# Stupid-backoff trigram LM (q212): the production n-gram scoring scheme
# (Brants et al. 2007, "Large Language Models in Machine Translation" —
# built FOR distributed count tables) extended from q105's bigram
# in-corpus scorer to a held-out trigram scorer: the model trains on one
# half of the corpus (doc_id % 2 = 0) and scores the OTHER half, so
# unseen n-grams genuinely occur and the backoff chain
# trigram -> 0.4*bigram -> 0.16*unigram is actually exercised (an
# in-corpus trigram scorer never backs off — every scored trigram was
# counted). All probabilities are exact integer ppm with a fixed
# evaluation order (the 0.4 factor as *4 div 10 AFTER the ppm division),
# so both engines agree bit-for-bit.

BACKOFF_LEVELS = ("tri", "bi", "uni", "unseen")


@register(
    "q212_trigram_backoff_lm",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS t,
             doc_id % 2 = 0 AS is_train
      FROM documents WHERE text IS NOT NULL
    ),
    train_uni AS (
      SELECT unnest(t) AS w FROM toks WHERE is_train
    ),
    c1 AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM train_uni GROUP BY w
    ),
    n_tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM train_uni),
    train_bi AS (
      SELECT t[CAST(i AS INTEGER)] AS w1, t[CAST(i AS INTEGER) + 1] AS w2
      FROM toks, unnest(range(1, len(t))) AS r(i)
      WHERE is_train AND len(t) >= 2
    ),
    c2 AS (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c
      FROM train_bi GROUP BY w1, w2
    ),
    train_tri AS (
      SELECT t[CAST(i AS INTEGER)] AS w1, t[CAST(i AS INTEGER) + 1] AS w2,
             t[CAST(i AS INTEGER) + 2] AS w3
      FROM toks, unnest(range(1, len(t) - 1)) AS r(i)
      WHERE is_train AND len(t) >= 3
    ),
    c3 AS (
      SELECT w1, w2, w3, CAST(COUNT(*) AS BIGINT) AS c
      FROM train_tri GROUP BY w1, w2, w3
    ),
    score_tri AS (
      SELECT doc_id, t[CAST(i AS INTEGER)] AS w1,
             t[CAST(i AS INTEGER) + 1] AS w2,
             t[CAST(i AS INTEGER) + 2] AS w3
      FROM toks, unnest(range(1, len(t) - 1)) AS r(i)
      WHERE NOT is_train AND len(t) >= 3
    ),
    scored AS (
      SELECT s.doc_id,
             CASE
               WHEN t3.c IS NOT NULL THEN (t3.c * 1000000) // b12.c
               WHEN b23.c IS NOT NULL
                 THEN (4 * ((b23.c * 1000000) // u2.c)) // 10
               WHEN u3.c IS NOT NULL
                 THEN (16 * ((u3.c * 1000000) // n_tot.n)) // 100
               ELSE 0
             END AS p_ppm,
             CASE WHEN t3.c IS NOT NULL THEN 'tri'
                  WHEN b23.c IS NOT NULL THEN 'bi'
                  WHEN u3.c IS NOT NULL THEN 'uni'
                  ELSE 'unseen' END AS level
      FROM score_tri s
      LEFT JOIN c3 t3 ON t3.w1 = s.w1 AND t3.w2 = s.w2 AND t3.w3 = s.w3
      LEFT JOIN c2 b12 ON b12.w1 = s.w1 AND b12.w2 = s.w2
      LEFT JOIN c2 b23 ON b23.w1 = s.w2 AND b23.w2 = s.w3
      LEFT JOIN c1 u2 ON u2.w = s.w2
      LEFT JOIN c1 u3 ON u3.w = s.w3
      CROSS JOIN n_tot
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_trigrams,
           CAST(SUM(p_ppm) AS BIGINT) AS sum_p_ppm,
           CAST(SUM(p_ppm) // COUNT(*) AS BIGINT) AS mean_p_ppm,
           CAST(SUM(CASE WHEN level = 'tri' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_tri_hits,
           CAST(SUM(CASE WHEN level = 'bi' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_bi_backoff,
           CAST(SUM(CASE WHEN level = 'uni' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_uni_backoff,
           CAST(SUM(CASE WHEN level = 'unseen' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_unseen
    FROM scored GROUP BY doc_id
    """,
    doc="Stupid-backoff trigram LM scoring (Brants et al. 2007 — the "
    "n-gram smoothing designed for distributed count tables: no "
    "normalization pass, just score = c3/c2 backing off to 0.4*c2/c1 "
    "then 0.4^2*c1/N), trained on the doc_id-even half and scored on "
    "the held-out odd half so unseen n-grams genuinely occur and every "
    "backoff rung is exercised — the honest LM-quality filter, unlike "
    "in-corpus scoring where no trigram is ever novel. Probabilities "
    "are exact integer ppm with a FIXED evaluation order (ppm division "
    "first, then *4 div 10), so per-doc sums are shuffle-order-"
    "independent and bit-equal across engines; per-doc backoff-level "
    "counts expose how much of each score is interpolation. Scale "
    "shape: n-gram expansion is map-side (slice+zip, JVM-only); the "
    "count tables are n-gram-TYPE-sized (far below corpus size, "
    "Zipf-bounded) so AQE broadcasts them at realistic vocabularies "
    "and hash-joins otherwise; one final groupBy(doc_id). The 50/50 "
    "hash split generalizes to the production shape: train on last "
    "week's corpus, score this week's increment.",
    tags=("text", "tokenizer", "lm", "eval"),
)
def q212_trigram_backoff_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    toks = docs.select(
        "doc_id",
        F.split(F.lower("text"), " ").alias("t"),
        (F.col("doc_id") % 2 == 0).alias("is_train"),
    )
    train = toks.filter("is_train")
    score = toks.filter(~F.col("is_train"))

    uni = train.select(F.explode("t").alias("w"))
    c1 = uni.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("c"))
    n_tot = uni.agg(F.count(F.lit(1)).cast("long").alias("n"))

    def bigrams(df):
        return df.filter(F.size("t") >= 2).select(
            "doc_id",
            F.explode(
                F.arrays_zip(
                    F.slice("t", 1, F.size("t") - 1).alias("w1"),
                    F.expr("slice(t, 2, size(t) - 1)").alias("w2"),
                )
            ).alias("b"),
        ).select("doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))

    def trigrams(df):
        return df.filter(F.size("t") >= 3).select(
            "doc_id",
            F.explode(
                F.arrays_zip(
                    F.slice("t", 1, F.size("t") - 2).alias("w1"),
                    F.expr("slice(t, 2, size(t) - 2)").alias("w2"),
                    F.expr("slice(t, 3, size(t) - 2)").alias("w3"),
                )
            ).alias("g"),
        ).select(
            "doc_id",
            F.col("g.w1").alias("w1"),
            F.col("g.w2").alias("w2"),
            F.col("g.w3").alias("w3"),
        )

    c2 = (
        bigrams(train)
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    c3 = (
        trigrams(train)
        .groupBy("w1", "w2", "w3")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )

    s = trigrams(score).alias("s")
    t3 = c3.alias("t3")
    b12 = c2.alias("b12")
    b23 = c2.alias("b23")
    u2 = c1.alias("u2")
    u3 = c1.alias("u3")
    scored = (
        s.join(
            t3,
            (F.col("t3.w1") == F.col("s.w1"))
            & (F.col("t3.w2") == F.col("s.w2"))
            & (F.col("t3.w3") == F.col("s.w3")),
            "left",
        )
        .join(
            b12,
            (F.col("b12.w1") == F.col("s.w1"))
            & (F.col("b12.w2") == F.col("s.w2")),
            "left",
        )
        .join(
            b23,
            (F.col("b23.w1") == F.col("s.w2"))
            & (F.col("b23.w2") == F.col("s.w3")),
            "left",
        )
        .join(u2, F.col("u2.w") == F.col("s.w2"), "left")
        .join(u3, F.col("u3.w") == F.col("s.w3"), "left")
        .crossJoin(F.broadcast(n_tot))
        .select(
            F.col("s.doc_id").alias("doc_id"),
            F.expr(
                "CASE"
                " WHEN t3.c IS NOT NULL THEN (t3.c * 1000000) div b12.c"
                " WHEN b23.c IS NOT NULL"
                "   THEN (4 * ((b23.c * 1000000) div u2.c)) div 10"
                " WHEN u3.c IS NOT NULL"
                "   THEN (16 * ((u3.c * 1000000) div n)) div 100"
                " ELSE 0 END"
            ).alias("p_ppm"),
            F.expr(
                "CASE WHEN t3.c IS NOT NULL THEN 'tri'"
                " WHEN b23.c IS NOT NULL THEN 'bi'"
                " WHEN u3.c IS NOT NULL THEN 'uni'"
                " ELSE 'unseen' END"
            ).alias("level"),
        )
    )
    lvl = [
        F.sum(F.when(F.col("level") == lv, 1).otherwise(0))
        .cast("long")
        .alias(al)
        for lv, al in zip(
            BACKOFF_LEVELS,
            ("n_tri_hits", "n_bi_backoff", "n_uni_backoff", "n_unseen"),
        )
    ]
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_trigrams"),
        F.sum("p_ppm").cast("long").alias("sum_p_ppm"),
        F.expr("sum(p_ppm) div count(1)").cast("long").alias("mean_p_ppm"),
        *lvl,
    )


# ---------------------------------------------------------------------------
# Zipf-exponent fit (q216): log-log OLS of token frequency on rank over
# the top of the frequency table — the corpus-health statistic that
# detects TEMPLATE/BOILERPLATE corpora (slope far from -1, r2 near 1
# with a kink) and MACHINE-GENERATED text (too-flat tails) before any
# model ever trains on them. Natural-language corpora follow
# freq ~ rank^(-s) with s ~ 1 (Zipf 1949); the fitted exponent is the
# single number to watch drift across ingestion batches.

ZIPF_TOP_R = 200  # fit over the head of the distribution


@register(
    "q216_zipf_exponent_fit",
    oracle=f"""
    WITH toks AS (
      SELECT unnest(string_split(lower(text), ' ')) AS w
      FROM documents WHERE text IS NOT NULL
    ),
    freq AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM toks GROUP BY w
    ),
    ranked AS (
      SELECT cnt, row_number() OVER (ORDER BY cnt DESC, w) AS rnk
      FROM freq
    ),
    pts AS (
      SELECT CAST(FLOOR(ln(CAST(rnk AS DOUBLE)) * 1000000.0 + 0.5)
                  AS BIGINT) AS x,
             CAST(FLOOR(ln(CAST(cnt AS DOUBLE)) * 1000000.0 + 0.5)
                  AS BIGINT) AS y
      FROM ranked WHERE rnk <= {ZIPF_TOP_R}
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(y * y) AS BIGINT) AS syy
      FROM pts
    )
    SELECT n, sx, sy, sxx, sxy, syy,
           (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
               AS zipf_slope,
           ((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             * (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy))
             / ((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))
               AS r_squared
    FROM s
    """,
    doc=f"Zipf-exponent fit: OLS of ln(frequency) on ln(rank) over the "
    f"top-{ZIPF_TOP_R} tokens of the corpus frequency table — natural "
    "text follows freq ~ rank^(-s) with s ~ 1 (Zipf 1949), and the "
    "fitted exponent is the one-number corpus-health check that flags "
    "template-heavy, machine-generated, or wrongly-tokenized batches "
    "before training (slope and r2 drifting across ingestion batches "
    "is the alarm). Complements q168's PER-SOURCE integer milli-nat "
    "slopes: this is the corpus-GLOBAL fit with a goodness-of-fit r2 "
    "(q168 ranks sources against each other; this one number plus its "
    "r2 is the whole-corpus drift monitor — a good slope with bad r2 "
    "means two mixed regimes, which per-source slopes can't see once "
    "sources are blended). Exactness: both log coordinates go through the "
    "shared micro-nat fixed point, the six sufficient statistics are "
    "exact int64 sums (|L| <= 2.1e7, so L^2 sums stay < 1e17 at any "
    "rank cap), and slope/r2 are IEEE expressions of those integers "
    "with identical trees in both dialects — bit-equal doubles, same "
    "closed form as q214's normal equations. Scale shape: the "
    "frequency table is vocab-sized (Zipf-bounded far below corpus "
    "size); the rank window runs on the bounded pool after a "
    f"TakeOrdered top-{ZIPF_TOP_R} — never a corpus-wide sort. One "
    "row out.",
    tags=("text", "tokenizer", "profiling", "log-form"),
)
def q216_zipf_exponent_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    freq = (
        docs.select(F.explode(F.split(F.lower("text"), " ")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    # TakeOrdered the bounded pool, then rank inside it (the q99/q12
    # convention — no global sort of the full vocab).
    pool = freq.orderBy(F.desc("cnt"), F.asc("w")).limit(ZIPF_TOP_R)
    ranked = pool.withColumn(
        "rnk", F.row_number().over(Window.orderBy(F.desc("cnt"), F.asc("w")))
    )
    pts = ranked.select(
        F.expr(
            "CAST(FLOOR(ln(CAST(rnk AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)"
        ).alias("x"),
        F.expr(
            "CAST(FLOOR(ln(CAST(cnt AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)"
        ).alias("y"),
    )
    s = pts.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    num = "(CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)"
    dxx = "(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)"
    dyy = "(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)"
    return s.select(
        "n", "sx", "sy", "sxx", "sxy", "syy",
        F.expr(f"{num} / {dxx}").alias("zipf_slope"),
        F.expr(f"({num} * {num}) / ({dxx} * {dyy})").alias("r_squared"),
    )


# ---------------------------------------------------------------------------
# Vocabulary coverage curve (q225): what fraction of corpus token MASS
# the top-K vocabulary covers, for a ladder of K — the curve a
# tokenizer-vocab-size decision reads directly (the knee is the right
# K; everything past it trades embedding-table memory for tail tokens
# that will be OOV-split anyway). Complements q98 (coverage of ONE
# chosen vocab) with the whole curve, and q216/q168 (Zipf fit) with
# the empirical integral the fit approximates.

COVERAGE_KS = (4, 8, 16, 32, 256, 4096)


@register(
    "q225_vocab_coverage_curve",
    oracle=f"""
    WITH toks AS (
      SELECT unnest(string_split(lower(text), ' ')) AS w
      FROM documents WHERE text IS NOT NULL
    ),
    freq AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM toks GROUP BY w
    ),
    ranked AS (
      SELECT cnt, row_number() OVER (ORDER BY cnt DESC, w) AS rnk
      FROM freq
    ),
    tot AS (
      SELECT CAST(SUM(cnt) AS BIGINT) AS n_tokens,
             CAST(COUNT(*) AS BIGINT) AS n_vocab
      FROM freq
    ),
    ks AS (
      SELECT CAST(k AS BIGINT) AS k
      FROM unnest([{", ".join(str(k) for k in COVERAGE_KS)}]) AS t(k)
    )
    SELECT ks.k, t.n_vocab, t.n_tokens,
           CAST(COALESCE(SUM(r.cnt), 0) AS BIGINT) AS tokens_covered,
           CAST(COALESCE(SUM(r.cnt), 0) * 1000000 // t.n_tokens AS BIGINT)
               AS coverage_ppm
    FROM ks
    LEFT JOIN ranked r ON r.rnk <= ks.k
    CROSS JOIN tot t
    GROUP BY ks.k, t.n_vocab, t.n_tokens
    """,
    doc=f"Vocabulary coverage curve: corpus token-mass share covered by "
    f"the top-K token types for K in {COVERAGE_KS} — the curve a "
    "tokenizer vocab-size decision reads directly (pick the knee; "
    "past it every added type buys tail mass that OOV-splitting "
    "handles anyway). Complements q98 (one vocab's OOV rate) with the "
    "full ladder and gives q216/q168's Zipf fits their empirical "
    "integral. Exactness: counts and truncating ppm ratios only. "
    "Scale shape: the frequency table is vocab-sized (Zipf-bounded); "
    "the rank window runs once over that bounded table; the K-ladder "
    "join fans each retained rank into at most |Ks| rows — the whole "
    "query after the one corpus scan is vocabulary-sized. (The "
    "rank <= k join is a small deliberate fan-out, NOT a window per K: "
    "one sort serves every K.)",
    tags=("text", "tokenizer", "profiling"),
)
def q225_vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    freq = (
        docs.select(F.explode(F.split(F.lower("text"), " ")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    ranked = freq.withColumn(
        "rnk", F.row_number().over(Window.orderBy(F.desc("cnt"), F.asc("w")))
    )
    tot = freq.agg(
        F.sum("cnt").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_vocab"),
    )
    ks = F.broadcast(rows_frame(spark, [(k,) for k in COVERAGE_KS], "k long"))
    return (
        ks.join(ranked, F.col("rnk") <= F.col("k"), "left")
        .crossJoin(F.broadcast(tot))
        .groupBy("k", "n_vocab", "n_tokens")
        .agg(
            F.coalesce(F.sum("cnt"), F.lit(0))
            .cast("long")
            .alias("tokens_covered"),
            F.expr(
                "CAST(COALESCE(SUM(cnt), 0) * 1000000 div n_tokens"
                " AS BIGINT)"
            ).alias("coverage_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Good-Turing frequency spectrum + unseen-mass / species-richness estimates
# (q248): the corpus-scaling question every vocab/dataset decision hides —
# "how much of the type distribution have we NOT seen yet?" — answered from
# the count-of-counts table alone. N_r = number of token types occurring
# exactly r times; Good-Turing says the probability mass of UNSEEN types is
# f1/N (Good 1953), the smoothed adjusted count for frequency r is
# r* = (r+1)·N_{r+1}/N_r, and Chao1 (Chao 1984, bias-corrected form)
# estimates total species richness as V + f1·(f1−1)/(2·(f2+1)). All three
# are pure integer arithmetic over two cheap aggregations, so the whole
# audit is hash-checked. Spectrum rows above GT_R_CAP collapse into one
# tail bucket (GT smoothing is only ever used at small r; the cap also
# bounds the (r+1)·N_{r+1} product — see the int64 note below).
GT_R_CAP = 1000  # spectrum rows kept per exact r; r > cap -> tail bucket

@register(
    "q248_good_turing_vocab",
    oracle=f"""
    WITH toks AS (
      SELECT unnest(string_split(lower(text), ' ')) AS w
      FROM documents WHERE text IS NOT NULL
    ),
    freq AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM toks GROUP BY w
    ),
    spec AS (
      SELECT CASE WHEN cnt <= {GT_R_CAP} THEN cnt
                  ELSE {GT_R_CAP + 1} END AS r_bucket,
             CAST(COUNT(*) AS BIGINT) AS n_types,
             CAST(SUM(cnt) AS BIGINT) AS type_mass
      FROM freq GROUP BY 1
    ),
    wind AS (
      SELECT r_bucket, n_types, type_mass,
             CASE WHEN r_bucket < {GT_R_CAP}
                   AND lead(r_bucket) OVER (ORDER BY r_bucket)
                       = r_bucket + 1
                  THEN lead(n_types) OVER (ORDER BY r_bucket)
                  ELSE 0 END AS nx_types,
             CAST(SUM(type_mass) OVER () AS BIGINT) AS n_tokens,
             CAST(SUM(n_types) OVER () AS BIGINT) AS n_vocab,
             CAST(COALESCE(SUM(CASE WHEN r_bucket = 1 THEN n_types END)
                           OVER (), 0) AS BIGINT) AS f1,
             CAST(COALESCE(SUM(CASE WHEN r_bucket = 2 THEN n_types END)
                           OVER (), 0) AS BIGINT) AS f2
      FROM spec
    )
    SELECT r_bucket, n_types, type_mass,
           CAST(COALESCE(
             1000000 * (r_bucket + 1) * nx_types // n_types, 0)
             AS BIGINT) AS gt_rstar_micro,
           n_tokens, n_vocab,
           CAST(1000000 * f1 // n_tokens AS BIGINT) AS p0_unseen_ppm,
           CAST(n_vocab + (f1 * (f1 - 1)) // (2 * (f2 + 1))
                AS BIGINT) AS chao1_total_types
    FROM wind
    """,
    doc="Good-Turing frequency spectrum: one row per occurrence-count "
    f"class r (exact for r <= {GT_R_CAP}, one tail bucket above) with "
    "N_r (n_types), the token mass at r, and the GT adjusted count "
    "r* = (r+1)N_{r+1}/N_r in micro-units (0 where N_{r+1} is absent "
    "or r is capped — the standard 'no estimate' sentinel); every row "
    "also carries the corpus-level estimates: unseen-type probability "
    "mass P0 = f1/N in ppm (Good 1953) and bias-corrected Chao1 total "
    "species richness V + f1(f1-1)/(2(f2+1)) (always defined, f2=0 "
    "safe). This is the 'is more data worth crawling' audit: P0 and "
    "Chao1-V say how much type space remains unsampled. Exactness: "
    "integer counts and truncating div only — fully hash-checked. "
    "Scale shape: ONE corpus scan -> vocab-sized shuffle (token "
    "counts) -> spectrum-sized shuffle (count-of-counts); the r+1 "
    "neighbor lookup and the corpus totals are windows over the "
    f"spectrum, which the r-cap bounds at {GT_R_CAP + 1} rows — a "
    "constant-size single-partition finish, no joins, no re-scan. "
    "int64 envelope: 1e6*(r+1)*N_{r+1} <= 1e6*(GT_R_CAP+1)*V — safe "
    "below ~9.2e9 vocabulary types; f1*(f1-1) caps at f1 ~ 3.0e9 "
    "singleton types (at 100 TB, shard the estimate per source first; "
    "both bounds sit far above any single-corpus vocabulary observed "
    "in practice).",
    tags=("text", "tokenizer", "profiling"),
)
def q248_good_turing_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    freq = (
        docs.select(F.explode(F.split(F.lower("text"), " ")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    spec = (
        freq.selectExpr(
            f"CASE WHEN cnt <= {GT_R_CAP} THEN cnt"
            f" ELSE {GT_R_CAP + 1} END AS r_bucket",
            "cnt",
        )
        .groupBy("r_bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_types"),
            F.sum("cnt").cast("long").alias("type_mass"),
        )
    )
    # Both the r+1 neighbor lookup and the corpus totals are windows over
    # the SPECTRUM table — bounded at GT_R_CAP+1 rows by construction, so
    # the single-partition window is a constant-size finish and the corpus
    # is scanned exactly ONCE (a spec self-join + broadcast-total variant
    # re-ran the token count three times).
    wind = spec.selectExpr(
        "r_bucket",
        "n_types",
        "type_mass",
        f"CASE WHEN r_bucket < {GT_R_CAP}"
        " AND lead(r_bucket) OVER (ORDER BY r_bucket) = r_bucket + 1"
        " THEN lead(n_types) OVER (ORDER BY r_bucket)"
        " ELSE 0 END AS nx_types",
        "CAST(SUM(type_mass) OVER () AS BIGINT) AS n_tokens",
        "CAST(SUM(n_types) OVER () AS BIGINT) AS n_vocab",
        "CAST(COALESCE(SUM(CASE WHEN r_bucket = 1 THEN n_types END)"
        " OVER (), 0) AS BIGINT) AS f1",
        "CAST(COALESCE(SUM(CASE WHEN r_bucket = 2 THEN n_types END)"
        " OVER (), 0) AS BIGINT) AS f2",
    )
    return wind.selectExpr(
        "r_bucket",
        "n_types",
        "type_mass",
        "CAST(COALESCE(1000000 * (r_bucket + 1) * nx_types"
        " div n_types, 0) AS BIGINT) AS gt_rstar_micro",
        "n_tokens",
        "n_vocab",
        "CAST(1000000 * f1 div n_tokens AS BIGINT) AS p0_unseen_ppm",
        "CAST(n_vocab + (f1 * (f1 - 1)) div (2 * (f2 + 1)) AS BIGINT)"
        " AS chao1_total_types",
    )


# ---------------------------------------------------------------------------
# Iterative BPE merge trainer (q256) — the loop that q94 is one round of.
# Real byte-pair-encoding training (Sennrich et al. 2016) is N SEQUENTIAL
# greedy merges: count adjacent symbol pairs over the corpus (weighted by
# word frequency), merge the most frequent pair everywhere, repeat. The
# key scale fact: after ONE corpus-sized word-count aggregation, training
# touches only the distinct-word table — every round is vocab-bounded,
# never corpus-bounded, so 100 TB of text costs one scan plus N
# vocab-sized rounds.
#
# Merge application must be LEFT-TO-RIGHT NON-OVERLAPPING (for pair (a,a)
# the word "a a a a" becomes "aa aa", not "aa a a"). Both engines apply
# it as the same single fold over the symbol sequence encoded as a
# \x1f-joined string: acc ends-with sep+L and s == R -> append R to acc
# (turning the trailing L into LR), else append sep+s. A symbol CREATED
# by the merge is L||R which is strictly longer than L, so it can never
# re-match as L within the same pass — the fold is exactly the regex
# left-to-right scan, without lookbehind (which RE2/DuckDB lacks).
# Verified identical on "aaaa"/"aab"/"baa" fixtures in both engines and
# against a pure-Python reference trainer in tests/test_r10_wave.py.
# ---------------------------------------------------------------------------

BPE_ROUNDS = 10
BPE_SEP = "\x1f"  # unit separator: words containing it are filtered out
# of the frequency table in BOTH dialects (see _bpe_train / wfreq CTE),
# so training never rests on an unchecked never-in-corpus assumption.


def _bpe_fold_pair(left: str, right: str) -> tuple[str, str]:
    """(spark_expr, duck_lambda_body) applying one merge to a seg string.

    ``left``/``right`` are embedded as literals on the Spark side (the
    driver loop knows the winner); the DuckDB side references the
    winner CTE's columns (w.left_sym / w.right_sym) instead, so the
    oracle needs no literal injection.
    """
    s = BPE_SEP
    el = left.replace("\\", "\\\\").replace("'", "\\'")
    er = right.replace("\\", "\\\\").replace("'", "\\'")
    spark = (
        f"aggregate(slice(split(seg, '{s}'), 2,"
        f" greatest(size(split(seg, '{s}')) - 1, 0)),"
        f" element_at(split(seg, '{s}'), 1),"
        f" (acc, s) -> CASE WHEN s = '{er}'"
        f" AND (acc = '{el}' OR endswith(acc, '{s}{el}'))"
        f" THEN acc || '{er}' ELSE acc || '{s}' || s END)"
    )
    duck = (
        f"list_reduce(string_split(s.seg, '{s}'),"
        f" (acc, x) -> CASE WHEN x = w.right_sym"
        f" AND (acc = w.left_sym OR ends_with(acc, '{s}' || w.left_sym))"
        f" THEN acc || w.right_sym ELSE acc || '{s}' || x END)"
    )
    return spark, duck


def _bpe_oracle_ctes() -> list[str]:
    """Unrolled per-round CTE chain (the q252 _kc_oracle convention):
    round k = pair-count CTE over seg_{k-1}, single-row winner CTE
    (cnt DESC, left, right), fold CTE producing seg_k. If a round has
    no pairs left its winner CTE is empty, the CROSS JOIN empties every
    later seg, and all later rounds emit zero rows — exactly the Spark
    driver loop's early break. Shared by q256 (publishes the winners)
    and q261 (encodes the corpus with the final segmentation). Every seg
    CTE is MATERIALIZED: round k reads seg_{k-1} twice (pair counts and
    fold), so inlined CTEs would plan 2^k copies of the chain."""
    s = BPE_SEP
    _, duck_fold = _bpe_fold_pair("", "")
    ctes = [
        f"""wfreq AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS freq FROM (
        SELECT unnest(string_split(lower(text), ' ')) AS w
        FROM documents WHERE text IS NOT NULL
      ) WHERE length(w) >= 1 AND NOT contains(w, '{s}') GROUP BY w
    )""",
        f"""seg0 AS MATERIALIZED (
      SELECT list_aggregate(string_split(w, ''), 'string_agg', '{s}')
                 AS seg,
             freq
      FROM wfreq
    )""",
    ]
    for k in range(1, BPE_ROUNDS + 1):
        ctes.append(f"""p{k} AS (
      SELECT ls[CAST(i AS INTEGER)] AS left_sym,
             ls[CAST(i AS INTEGER) + 1] AS right_sym, freq
      FROM (SELECT string_split(seg, '{s}') AS ls, freq
            FROM seg{k - 1} WHERE len(string_split(seg, '{s}')) >= 2),
           unnest(range(1, len(ls))) AS t(i)
    )""")
        ctes.append(f"""w{k} AS (
      SELECT left_sym, right_sym, CAST(SUM(freq) AS BIGINT) AS cnt
      FROM p{k} GROUP BY left_sym, right_sym
      ORDER BY cnt DESC, left_sym, right_sym LIMIT 1
    )""")
        ctes.append(f"""seg{k} AS MATERIALIZED (
      SELECT {duck_fold} AS seg, s.freq
      FROM seg{k - 1} s CROSS JOIN w{k} w
    )""")
    return ctes


def _bpe_oracle() -> str:
    rounds = "\n    UNION ALL ".join(
        f"SELECT CAST({k} AS INTEGER) AS round, left_sym, right_sym,"
        f" left_sym || right_sym AS merged, cnt AS pair_cnt FROM w{k}"
        for k in range(1, BPE_ROUNDS + 1)
    )
    return "WITH " + ",\n    ".join(_bpe_oracle_ctes()) + "\n    " + rounds


@register(
    "q256_bpe_merge_trainer",
    oracle=_bpe_oracle(),
    doc=f"Iterative BPE merge trainer (Sennrich et al. 2016), "
    f"N={BPE_ROUNDS} sequential greedy merges — the loop q94 is one "
    "round of. Output: the merge table (round, left, right, merged, "
    "weighted pair count), i.e. the trained tokenizer. Corpus text is "
    "aggregated ONCE into the distinct-word frequency table; every "
    "round after that is vocab-bounded: explode adjacent symbol pairs "
    "per distinct word (weighted by freq), two-stage hash aggregate "
    "on a ~symbol-vocab^2 key space, top-1 winner (cnt DESC, left, "
    "right — deterministic tie-break), then a JVM-side fold applies "
    "the merge left-to-right non-overlapping to every word's symbol "
    "string (see _bpe_fold_pair: provably equal to the regex scan, no "
    "lookbehind, identical list_reduce in DuckDB). Driver state is "
    "bounded at one (left,right,cnt) row per round (the q252/q38 "
    "pattern); lineage is truncated per round with localCheckpoint on "
    "the vocab-bounded segmentation table so the plan does not deepen "
    "across rounds. Oracle: unrolled per-round CTE chain "
    "(_bpe_oracle, the _kc_oracle convention); an exhausted corpus "
    "degrades identically on both sides (empty winner -> zero rows "
    "for that and all later rounds == the driver loop's break). "
    "Scale shape: one corpus scan + N vocab-sized rounds, each a "
    "map-side pair explode -> bounded-key aggregate -> "
    "TakeOrdered(1); at 100 TB the word-freq table is the only "
    "shuffle whose width tracks the data.",
    tags=("text", "tokenizer", "iterative"),
)
def q256_bpe_merge_trainer(spark: SparkSession, sf_dir: str) -> DataFrame:
    merges, _ = _bpe_train(spark, sf_dir)
    return rows_frame(
        spark,
        merges,
        "round INT, left_sym STRING, right_sym STRING,"
        " merged STRING, pair_cnt BIGINT",
    )


def _bpe_train(
    spark: SparkSession, sf_dir: str
) -> tuple[list[tuple[int, str, str, str, int]], DataFrame]:
    """Run the BPE training loop; returns (merge table rows, the final
    word segmentation DataFrame (seg string, weight freq)) — q256
    publishes the merges, q261 encodes the corpus with the final seg."""
    s = BPE_SEP
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    words = (
        docs.select(F.explode(F.split(F.lower("text"), " ")).alias("w"))
        .filter(F.length("w") >= 1)
        # A word containing the \x1f symbol separator would be silently
        # split into phantom symbols in BOTH engines (hash-parity could
        # not catch it) — exclude such words explicitly, mirrored in the
        # oracle's wfreq CTE, so BPE semantics never depend on an
        # unchecked corpus assumption.
        .filter(~F.col("w").contains(BPE_SEP))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )
    # vocab-bounded from here on: localCheckpoint materializes the word
    # table and truncates lineage so each round's plan is one fold deep
    seg = words.selectExpr(
        f"concat_ws('{s}', split(w, '')) AS seg", "freq"
    ).localCheckpoint()
    merges: list[tuple[int, str, str, str, int]] = []
    for rnd in range(1, BPE_ROUNDS + 1):
        ls = f"split(seg, '{s}')"
        pairs = (
            seg.filter(F.expr(f"size({ls}) >= 2"))
            .selectExpr(
                f"explode(transform(sequence(1, size({ls}) - 1),"
                f" i -> struct(element_at({ls}, i) AS l,"
                f" element_at({ls}, i + 1) AS r))) AS p",
                "freq",
            )
            .selectExpr("p.l AS left_sym", "p.r AS right_sym", "freq")
        )
        winner = (
            pairs.groupBy("left_sym", "right_sym")
            .agg(F.sum("freq").cast("long").alias("cnt"))
            .orderBy(F.desc("cnt"), "left_sym", "right_sym")
            .limit(1)
            .collect()  # bounded driver state: exactly one row per round
        )
        if not winner:
            break
        left, right = winner[0].left_sym, winner[0].right_sym
        merges.append(
            (rnd, left, right, left + right, int(winner[0].cnt))
        )
        fold, _ = _bpe_fold_pair(left, right)
        seg = seg.selectExpr(f"{fold} AS seg", "freq").localCheckpoint()
    return merges, seg


# ---------------------------------------------------------------------------
# BPE encode report (q261) — the trained tokenizer APPLIED: after q256's
# N merges the segmentation table IS the encoded corpus (every word's
# symbol sequence under the learned vocabulary), so encoding costs
# nothing beyond training. Reports the head of the learned token
# distribution plus the corpus compression statistics a tokenizer build
# signs off on (tokens/char is the number that decides whether the
# vocab is worth shipping).
# ---------------------------------------------------------------------------

BPE_TOP_TOKENS = 20


def _bpe_encode_oracle() -> str:
    s = BPE_SEP
    n = BPE_ROUNDS
    tail = f""",
    toks AS (
      SELECT unnest(string_split(seg, '{s}')) AS token, freq
      FROM seg{n}
    ),
    tcnt AS (
      SELECT token, CAST(SUM(freq) AS BIGINT) AS w_cnt
      FROM toks GROUP BY token
    ),
    totals AS (
      SELECT CAST(SUM(freq * len(string_split(seg, '{s}'))) AS BIGINT)
                 AS n_tokens_total,
             CAST(SUM(freq * (length(seg)
                              - len(string_split(seg, '{s}')) + 1))
                  AS BIGINT) AS n_chars_total
      FROM seg{n}
    ),
    types AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_token_types FROM tcnt
    )
    SELECT CAST(rnk AS INTEGER) AS rnk, token, w_cnt, n_token_types,
           n_tokens_total, n_chars_total,
           CAST(1000000 * n_tokens_total // n_chars_total AS BIGINT)
               AS tokens_per_char_ppm
    FROM (
      SELECT *, row_number() OVER (ORDER BY w_cnt DESC, token) AS rnk
      FROM tcnt
    ) CROSS JOIN totals CROSS JOIN types
    WHERE rnk <= {BPE_TOP_TOKENS}
    """
    return "WITH " + ",\n    ".join(_bpe_oracle_ctes()) + tail


@register(
    "q261_bpe_encode_report",
    oracle=_bpe_encode_oracle(),
    doc=f"BPE encode report: the q256-trained tokenizer applied to the "
    f"corpus. After N={BPE_ROUNDS} merges the vocab-bounded "
    "segmentation table IS the encoded corpus, so this costs one "
    "vocab-sized explode past training. Output: top-"
    f"{BPE_TOP_TOKENS} learned tokens by frequency-weighted count "
    "(ties broken by token text) with the corpus sign-off stats on "
    "every row — token-type count, total tokens, total characters, "
    "and tokens-per-char in ppm (the compression number a tokenizer "
    "build ships or dies on; chars are recovered exactly from the "
    "separator-joined segmentation as length(seg) - n_sym + 1, no "
    "re-scan of the raw text). All integer arithmetic; the oracle "
    "extends q256's unrolled CTE chain past the final segmentation. "
    "Scale shape: training's one corpus scan + N vocab-bounded "
    "rounds, then one explode + aggregate over the DISTINCT-WORD "
    "table (never the corpus) and a top-k window over the learned "
    "vocabulary — at 100 TB encode-report cost tracks vocabulary "
    "size, not data size.",
    tags=("text", "tokenizer", "iterative"),
)
def q261_bpe_encode_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = BPE_SEP
    _, seg = _bpe_train(spark, sf_dir)
    tcnt = (
        seg.selectExpr(f"explode(split(seg, '{s}')) AS token", "freq")
        .groupBy("token")
        .agg(F.sum("freq").cast("long").alias("w_cnt"))
    )
    totals = seg.selectExpr(
        f"CAST(SUM(freq * size(split(seg, '{s}'))) AS BIGINT)"
        " AS n_tokens_total",
        f"CAST(SUM(freq * (length(seg) - size(split(seg, '{s}')) + 1))"
        " AS BIGINT) AS n_chars_total",
    )
    types = tcnt.agg(
        F.count(F.lit(1)).cast("long").alias("n_token_types")
    )
    # top-k cut first (TakeOrderedAndProject), rank over only the k
    # survivors — the q94 convention; never a global-vocab window
    w = Window.orderBy(F.desc("w_cnt"), F.asc("token"))
    head = (
        tcnt.orderBy(F.desc("w_cnt"), F.asc("token"))
        .limit(BPE_TOP_TOKENS)
        .withColumn("rnk", F.row_number().over(w).cast("int"))
    )
    return (
        head.crossJoin(F.broadcast(types))
        .crossJoin(F.broadcast(totals))
        .selectExpr(
            "rnk", "token", "w_cnt", "n_token_types", "n_tokens_total",
            "n_chars_total",
            "CAST(1000000 * n_tokens_total div n_chars_total AS BIGINT)"
            " AS tokens_per_char_ppm",
        )
    )


# ---------------------------------------------------------------------------
# Unigram-LM (SentencePiece-style) trainer EM step (q266) — the other
# mainstream tokenizer trainer next to BPE (q94/q256/q261). Kudo 2018
# trains a unigram piece LM by EM over the segmentation lattice: the
# E-step computes each piece's EXPECTED count over ALL segmentations of
# every word (weighted by the product of piece probabilities), the
# M-step renormalizes. This entry is ONE exact EM round in the q38a
# one-step-oracle convention, made hash-checkable by integer arithmetic:
#
#  * seed pieces = every length-1/length-2 substring of the (distinct,
#    frequency-weighted) word table — the standard substring seed vocab;
#    pieces of length <= 2 keep the lattice recurrence second-order (the
#    EM math is length-generic);
#  * seed scores = 2-bit log-frequency quantization (1 + [f>=10] +
#    [f>=1000] + [f>=100000]) — integer stand-ins for the initial probs;
#  * forward/backward path sums Zf/Zb by the linear lattice recurrence
#    Zf(k) = s1(k)Zf(k-1) + s2(k)Zf(k-2) — an integer FOLD per distinct
#    word in Spark (F.aggregate, no UDF), a recursive CTE in DuckDB;
#  * occupancy of occurrence [a,b) = 1e6 * s * Zf(a) * Zb(b) div Z in
#    exact ppm (s*Zf(a)*Zb(b) <= Z, a sub-sum of Z's paths);
#  * E-step output: expected_ppm(piece) = SUM(freq * occ_ppm); M-step:
#    renormalized new_prob_ppm.
#
# int64 envelope: scores <= 4 make Z <= 8^L; words longer than
# UNI_MAX_WLEN = 14 chars are excluded in BOTH dialects (the standard
# max-piece-sentence knob), so 1e6 * Z <= 4.4e18 < 2^63 everywhere.
# Scale shape: ONE corpus scan -> distinct-word table; everything after
# is vocab-bounded (occurrence explode <= 2L rows per distinct word,
# piece vocab <= |alphabet| + |alphabet|^2), exactly the BPE scale fact.
# ---------------------------------------------------------------------------

UNI_MAX_WLEN = 14
UNI_T1, UNI_T2, UNI_T3 = 10, 1000, 100000

_UNI_SCORE_SPARK = (
    f"CAST(1 + IF(pf >= {UNI_T1}, 1, 0) + IF(pf >= {UNI_T2}, 1, 0)"
    f" + IF(pf >= {UNI_T3}, 1, 0) AS BIGINT)"
)

_UNI_ORACLE = f"""
    WITH RECURSIVE words AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS freq,
             CAST(length(w) AS INTEGER) AS L
      FROM (
        SELECT unnest(string_split(lower(text), ' ')) AS w
        FROM documents WHERE text IS NOT NULL
      ) WHERE length(w) BETWEEN 1 AND {UNI_MAX_WLEN} GROUP BY w
    ),
    occ AS (
      SELECT w, freq, L, CAST(k AS INTEGER) AS k,
             substr(w, CAST(k AS INTEGER), 1) AS piece,
             1 AS plen, CAST(k - 1 AS INTEGER) AS a, CAST(k AS INTEGER) AS b
      FROM words, unnest(range(1, L + 1)) AS t(k)
      UNION ALL
      SELECT w, freq, L, CAST(k AS INTEGER) AS k,
             substr(w, CAST(k - 1 AS INTEGER), 2) AS piece,
             2 AS plen, CAST(k - 2 AS INTEGER) AS a, CAST(k AS INTEGER) AS b
      FROM words, unnest(range(2, L + 1)) AS t(k)
      WHERE L >= 2
    ),
    pscore AS (
      SELECT piece, CAST(SUM(freq) AS BIGINT) AS pf,
             CAST(1 + (CASE WHEN SUM(freq) >= {UNI_T1} THEN 1 ELSE 0 END)
                    + (CASE WHEN SUM(freq) >= {UNI_T2} THEN 1 ELSE 0 END)
                    + (CASE WHEN SUM(freq) >= {UNI_T3} THEN 1 ELSE 0 END)
                  AS BIGINT) AS score
      FROM occ GROUP BY piece
    ),
    s1 AS (
      SELECT o.w, o.k, p.score FROM occ o
      JOIN pscore p ON p.piece = o.piece WHERE o.plen = 1
    ),
    s2 AS (
      SELECT o.w, o.k, p.score FROM occ o
      JOIN pscore p ON p.piece = o.piece WHERE o.plen = 2
    ),
    zf(w, k, z, zp) AS (
      SELECT s.w, 1, s.score, CAST(1 AS BIGINT) FROM s1 s WHERE s.k = 1
      UNION ALL
      SELECT f.w, f.k + 1,
             n1.score * f.z + COALESCE(n2.score, 0) * f.zp, f.z
      FROM zf f
      JOIN words wd ON wd.w = f.w AND f.k + 1 <= wd.L
      JOIN s1 n1 ON n1.w = f.w AND n1.k = f.k + 1
      LEFT JOIN s2 n2 ON n2.w = f.w AND n2.k = f.k + 1
    ),
    zb(w, j, z, zn) AS (
      SELECT w, L, CAST(1 AS BIGINT), CAST(0 AS BIGINT) FROM words
      UNION ALL
      SELECT b.w, b.j - 1,
             n1.score * b.z + COALESCE(n2.score, 0) * b.zn, b.z
      FROM zb b
      JOIN s1 n1 ON n1.w = b.w AND n1.k = b.j
      LEFT JOIN s2 n2 ON n2.w = b.w AND n2.k = b.j + 1
      WHERE b.j - 1 >= 0
    ),
    ztot AS (
      SELECT f.w, f.z AS zz FROM zf f JOIN words wd
        ON wd.w = f.w AND f.k = wd.L
    ),
    occx AS (
      SELECT o.piece, CAST(length(o.piece) AS INTEGER) AS piece_len,
             p.score, o.freq,
             (1000000 * p.score
              * (CASE WHEN o.a = 0 THEN 1 ELSE fa.z END)
              * bb.z) // t.zz AS occ_ppm
      FROM occ o
      JOIN pscore p ON p.piece = o.piece
      LEFT JOIN zf fa ON fa.w = o.w AND fa.k = o.a
      JOIN zb bb ON bb.w = o.w AND bb.j = o.b
      JOIN ztot t ON t.w = o.w
    ),
    expected AS (
      SELECT piece, piece_len, score,
             CAST(SUM(freq * occ_ppm) AS BIGINT) AS expected_ppm
      FROM occx GROUP BY piece, piece_len, score
    ),
    tot AS (SELECT CAST(SUM(expected_ppm) AS BIGINT) AS total FROM expected)
    SELECT piece, piece_len, score, expected_ppm,
           CAST(floor(1000000.0 * expected_ppm / total) AS BIGINT)
               AS new_prob_ppm
    FROM expected CROSS JOIN tot
"""


@register(
    "q266_unigram_lm_em_step",
    oracle=_UNI_ORACLE,
    doc=f"Unigram-LM (SentencePiece, Kudo 2018) trainer EM step — one "
    "exact E+M round over the segmentation lattice, completing the "
    "tokenizer-trainer family next to BPE (q256/q261). Seed vocab = "
    "all length-1/2 substrings of the distinct-word table; seed "
    "scores = 2-bit log-frequency quantization (integer stand-ins "
    "for initial probs). E-step: every piece occurrence's expected "
    "occupancy over ALL segmentations, 1e6*s*Zf(a)*Zb(b) div Z in "
    "exact ppm, with the forward/backward path sums computed by the "
    "second-order lattice recurrence as ONE INTEGER FOLD per distinct "
    "word (F.aggregate — no UDF, no recursion in the hot path); "
    "M-step: frequency-weighted expected counts renormalized to "
    "new_prob_ppm (deterministic double floor, the q192/q198 "
    "convention — 1e6*expected overflows int64 where the division "
    "itself cannot). Oracle: the same integers via recursive CTEs "
    "(zf/zb), the q60-recursion convention. int64 envelope: scores "
    f"<= 4 bound Z <= 8^L; words > {UNI_MAX_WLEN} chars excluded in "
    "both dialects (the max-piece-sentence knob) so 1e6*Z < 2^63. "
    "Scale shape: one corpus scan -> distinct-word aggregate; "
    "occurrence explode, lattice folds and the piece aggregate are "
    "all vocab-bounded (<= 2L rows per distinct word, piece space "
    "<= alphabet + alphabet^2) — at 100 TB only the word-frequency "
    "shuffle tracks the data, the BPE scale fact.",
    tags=("text", "tokenizer", "iterative"),
)
def q266_unigram_lm_em_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    words = (
        docs.select(F.explode(F.split(F.lower("text"), " ")).alias("w"))
        .filter(
            (F.length("w") >= 1) & (F.length("w") <= UNI_MAX_WLEN)
        )
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
        .withColumn("L", F.length("w").cast("int"))
    )
    occ1 = words.selectExpr(
        "w", "freq", "L", "explode(sequence(1, L)) AS k"
    ).selectExpr(
        "w", "freq", "L", "k", "substring(w, k, 1) AS piece",
        "1 AS plen", "k - 1 AS a", "k AS b",
    )
    occ2 = (
        words.filter("L >= 2")
        .selectExpr("w", "freq", "L", "explode(sequence(2, L)) AS k")
        .selectExpr(
            "w", "freq", "L", "k", "substring(w, k - 1, 2) AS piece",
            "2 AS plen", "k - 2 AS a", "k AS b",
        )
    )
    occ = occ1.unionByName(occ2)
    # piece scores: alphabet-bounded (<= |sigma| + |sigma|^2 rows) ->
    # broadcast to every occurrence row
    pscore = (
        occ.groupBy("piece")
        .agg(F.sum("freq").cast("long").alias("pf"))
        .selectExpr("piece", f"{_UNI_SCORE_SPARK} AS score")
    )
    occs = occ.join(F.broadcast(pscore), "piece")
    # per-word score arrays (s1 indexed 1..L; s2f padded so element_at
    # (s2f, k) = s2(k) for k >= 2), then the two lattice folds
    s1arr = (
        occs.filter("plen = 1")
        .groupBy("w")
        .agg(F.expr(
            "transform(sort_array(collect_list(struct(k, score))),"
            " x -> CAST(x.score AS BIGINT))"
        ).alias("s1"))
    )
    s2arr = (
        occs.filter("plen = 2")
        .groupBy("w")
        .agg(F.expr(
            "transform(sort_array(collect_list(struct(k, score))),"
            " x -> CAST(x.score AS BIGINT))"
        ).alias("s2tail"))
    )
    lat = (
        words.join(s1arr, "w")
        .join(s2arr, "w", "left")
        .withColumn(
            "s2f",
            F.expr(
                "concat(array(CAST(0 AS BIGINT)),"
                " coalesce(s2tail, CAST(array() AS ARRAY<BIGINT>)))"
            ),
        )
        .withColumn(
            "zf",
            F.expr(
                "aggregate(sequence(1, L), array(CAST(1 AS BIGINT)),"
                " (acc, k) -> array_append(acc,"
                "   element_at(s1, k) * element_at(acc, k)"
                "   + IF(k >= 2, element_at(s2f, k)"
                "       * element_at(acc, k - 1), CAST(0 AS BIGINT))))"
            ),
        )
        .withColumn(
            "zbl",
            F.expr(
                "aggregate(sequence(1, L), array(CAST(1 AS BIGINT)),"
                " (acc, t) -> array_append(acc,"
                "   element_at(s1, L - t + 1) * element_at(acc, t)"
                "   + IF(t >= 2, element_at(s2f, L - t + 2)"
                "       * element_at(acc, t - 1), CAST(0 AS BIGINT))))"
            ),
        )
        .withColumn("zz", F.expr("element_at(zf, L + 1)"))
        .select("w", "zf", "zbl", "zz")
    )
    occx = occs.join(lat, "w").selectExpr(
        "piece",
        "CAST(plen AS INTEGER) AS piece_len",
        "score",
        "freq",
        "(1000000 * score * element_at(zf, a + 1)"
        " * element_at(zbl, L - b + 1)) div zz AS occ_ppm",
    )
    expected = occx.groupBy("piece", "piece_len", "score").agg(
        F.sum(F.expr("freq * occ_ppm")).cast("long").alias("expected_ppm")
    )
    tot = expected.agg(
        F.sum("expected_ppm").cast("long").alias("total")
    )
    return expected.crossJoin(F.broadcast(tot)).selectExpr(
        "piece", "piece_len", "score", "expected_ppm",
        "CAST(floor(1000000.0 * expected_ppm / total) AS BIGINT)"
        " AS new_prob_ppm",
    )
