"""Search / ranking / chunking queries over the `documents` table: TF-IDF
term extraction, BM25 keyword search, sliding-window chunking, and corpus
token statistics — the retrieval-and-packaging tail of a training-data
pipeline (after cleaning/dedup, corpora are chunked for training and
indexed for retrieval).

Hash-parity notes: every score is computed from exact integers (tf, df,
doc-length, corpus counts) with an IDENTICAL floating-point expression
tree in both dialects — only correctly-rounded IEEE ops (+ - * /), no
transcendentals — so doubles are bit-equal cross-engine. Where a classic
formulation uses log() (IDF), we keep the monotone rational core and
document the transform: ranking order is what matters and log's
cross-libm rounding is not oracle-safe.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources import load_table
from .registry import oracle_of, register

TOP_TERMS_PER_DOC = 3
BM25_TERMS = ("join", "merge", "vector")
BM25_TOP_K = 20
CHUNK_TOKENS = 32
CHUNK_STRIDE = 24
TOP_TOKENS_PER_SOURCE = 10

# tf-idf with a rational idf (n_docs / df): same ranking as the log form
# for any fixed corpus (log is monotone), bit-deterministic cross-engine.
_TFIDF_SCORE = (
    "CAST(tf AS DOUBLE) * (CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE))"
)

# BM25 with the rational idf core (n_docs - df + 0.5) / (df + 0.5) — the
# argument of the standard log1p idf — and the exact Robertson tf
# saturation term, k1=1.2 b=0.75. (k1+1)=2.2, (1-b)=0.25.
_BM25_TERM_SCORE = (
    "((CAST(n_docs - df AS DOUBLE) + CAST(0.5 AS DOUBLE))"
    " / (CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE)))"
    " * ((CAST(tf AS DOUBLE) * CAST(2.2 AS DOUBLE))"
    " / (CAST(tf AS DOUBLE) + CAST(1.2 AS DOUBLE)"
    " * (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE)"
    " * (CAST(dl AS DOUBLE) / avgdl))))"
)


@register(
    "q67_tfidf_top_terms",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
      FROM documents
    ),
    tf AS (
      SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM tok GROUP BY doc_id, term
    ),
    df AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, df.df,
             {_TFIDF_SCORE} AS tfidf
      FROM tf JOIN df USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tf, df, tfidf,
           CAST(rnk AS INTEGER) AS rnk
    FROM (
      SELECT *, ROW_NUMBER() OVER (
               PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rnk
      FROM scored
    )
    WHERE rnk <= {TOP_TERMS_PER_DOC}
    """,
    doc="Per-document top-3 TF-IDF terms: token explode -> (doc,term) "
    "partial-agg TF -> term-keyed DF counts -> rational-idf score -> "
    "per-doc top-k window. Scale shape: TF and DF are both two-stage "
    "aggregates (map-side combine before the shuffle); the TF<->DF join "
    "keys on term (vocab-sized, AQE picks broadcast when it fits); the "
    "corpus count joins as a broadcast scalar; the final window "
    "partitions by doc_id — no global sort, no all-pairs. idf kept "
    "rational (n_docs/df, monotone with the log form) so doubles are "
    "bit-equal cross-engine.",
    tags=("text", "search"),
)
def q67_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("term")
    )
    tf = tok.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    df = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    n = docs.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    scored = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n))
        .withColumn("tfidf", F.expr(_TFIDF_SCORE))
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= TOP_TERMS_PER_DOC)
        .select("doc_id", "term", "tf", "df", "tfidf", "rnk")
    )


def _sql_str(s: str) -> str:
    """Embed a term as a SQL string literal (single quotes doubled)."""
    return "'" + s.replace("'", "''") + "'"


def _bm25_oracle() -> str:
    # Positional aliases (s_0, s_1, ...) — never derived from term text,
    # so terms containing quotes/keywords/punctuation can't break the SQL.
    terms_sql = ", ".join(_sql_str(t) for t in BM25_TERMS)
    per_term = ", ".join(
        f"COALESCE(SUM(CASE WHEN term = {_sql_str(t)} THEN score END), "
        f"CAST(0 AS DOUBLE)) AS s_{i}"
        for i, t in enumerate(BM25_TERMS)
    )
    total = " + ".join(f"s_{i}" for i in range(len(BM25_TERMS)))
    return f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
      FROM documents
    ),
    dl AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM tok GROUP BY doc_id
    ),
    stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
      FROM dl
    ),
    tf AS (
      SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM tok WHERE term IN ({terms_sql}) GROUP BY doc_id, term
    ),
    df AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term
    ),
    scored AS (
      SELECT tf.doc_id, tf.term, {_BM25_TERM_SCORE} AS score
      FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
    ),
    per_doc AS (
      SELECT doc_id, {per_term} FROM scored GROUP BY doc_id
    )
    SELECT doc_id, {total} AS bm25
    FROM per_doc
    ORDER BY bm25 DESC, doc_id
    LIMIT {BM25_TOP_K}
    """


@register(
    "q68_bm25_search",
    oracle=_bm25_oracle(),
    doc="BM25 keyword search (k1=1.2, b=0.75, rational idf core — the "
    "log's argument, same ranking) for a fixed term set. Scale shape: the "
    "token stream is FILTERED to the query terms before any shuffle (the "
    "inverted-index probe — work is proportional to postings hit, not "
    "corpus size); df is |query| rows (broadcast); avgdl is one broadcast "
    "scalar row; per-doc term scores come from single-row conditional "
    "sums added in fixed order (no order-dependent double SUM); final "
    "top-20 is TakeOrderedAndProject, never a global sort.",
    tags=("text", "search"),
)
def q68_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        _bm25_scores(docs)
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(BM25_TOP_K)
    )


def _bm25_scores(docs: DataFrame) -> DataFrame:
    """(doc_id, bm25) for every document containing >= 1 query term —
    q68's scoring subtree (rational-idf core, fixed-order per-term sums),
    shared with the hybrid-retrieval fusion (q89)."""
    tok = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("term")
    )
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        (
            F.sum("dl").cast("double") / F.count(F.lit(1)).cast("double")
        ).alias("avgdl"),
    )
    tf = (
        tok.filter(F.col("term").isin(*BM25_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    df = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    scored = (
        tf.join(F.broadcast(df), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .withColumn("score", F.expr(_BM25_TERM_SCORE))
    )
    per_term = [
        F.coalesce(
            F.sum(F.when(F.col("term") == t, F.col("score"))),
            F.lit(0).cast("double"),
        ).alias(f"s_{i}")
        for i, t in enumerate(BM25_TERMS)
    ]
    per_doc = scored.groupBy("doc_id").agg(*per_term)
    total = None
    for i in range(len(BM25_TERMS)):
        col = F.col(f"s_{i}")
        total = col if total is None else total + col
    return per_doc.select("doc_id", total.alias("bm25"))


@register(
    "q69_doc_chunking",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, string_split(text, ' ') AS tok,
             len(string_split(text, ' ')) AS n
      FROM documents
      WHERE text IS NOT NULL
    ),
    starts AS (
      SELECT doc_id, tok, n,
             unnest(range(0, n, {CHUNK_STRIDE})) AS start
      FROM base
    )
    SELECT doc_id,
           CAST(FLOOR(start / CAST({CHUNK_STRIDE} AS DOUBLE)) AS BIGINT)
               AS chunk_id,
           CAST(start AS BIGINT) AS start,
           CAST(len(list_slice(tok, start + 1, start + {CHUNK_TOKENS}))
               AS BIGINT) AS chunk_len,
           array_to_string(
               list_slice(tok, start + 1, start + {CHUNK_TOKENS}), ' ')
               AS chunk_text
    FROM starts
    """,
    doc=f"Sliding-window document chunking ({CHUNK_TOKENS}-token chunks, "
    f"stride {CHUNK_STRIDE}, {CHUNK_TOKENS - CHUNK_STRIDE}-token overlap) "
    "— the packaging step that turns curated documents into fixed-size "
    "training samples. Pure map-side row expansion (sequence + "
    "explode + slice): fan-out per doc is ceil(n/stride), bounded by "
    "document length; no shuffle, no driver involvement; chunk "
    "boundaries depend only on content, so re-chunking is deterministic "
    "across any partitioning.",
    tags=("text", "chunking"),
)
def q69_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    base = docs.filter(F.col("text").isNotNull()).select(
        "doc_id",
        F.split("text", " ").alias("tok"),
        F.size(F.split("text", " ")).alias("n"),
    )
    starts = base.select(
        "doc_id",
        "tok",
        F.explode(
            F.expr(f"sequence(0, n - 1, {CHUNK_STRIDE})")
        ).alias("start"),
    )
    chunk = F.slice(F.col("tok"), F.col("start") + 1, CHUNK_TOKENS)
    return starts.select(
        "doc_id",
        F.floor(F.col("start") / F.lit(float(CHUNK_STRIDE)))
        .cast("long")
        .alias("chunk_id"),
        F.col("start").cast("long").alias("start"),
        F.size(chunk).cast("long").alias("chunk_len"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


@register(
    "q70_corpus_token_stats",
    oracle=f"""
    WITH tok AS (
      SELECT source, unnest(string_split(lower(text), ' ')) AS token
      FROM documents
    ),
    counts AS (
      SELECT source, token, CAST(COUNT(*) AS BIGINT) AS c
      FROM tok GROUP BY source, token
    ),
    ranked AS (
      SELECT source, token, c,
             CAST(SUM(c) OVER (PARTITION BY source) AS BIGINT) AS source_total,
             ROW_NUMBER() OVER (
                 PARTITION BY source ORDER BY c DESC, token) AS rnk
      FROM counts
    )
    SELECT source, token, c,
           CAST(c AS DOUBLE) / CAST(source_total AS DOUBLE) AS share,
           CAST(rnk AS INTEGER) AS rnk
    FROM ranked
    WHERE rnk <= {TOP_TOKENS_PER_SOURCE}
    """,
    doc="Corpus token statistics: top-10 tokens per source with frequency "
    "share — the vocabulary/frequency report a corpus build emits per "
    "slice. Scale shape: the (source, token) count is a two-stage "
    "aggregate (map-side combine absorbs the explode fan-out before the "
    "shuffle); the window partitions by source over vocab-sized input — "
    "cardinality is |sources| x |vocab|, independent of corpus row "
    "count; share uses an exact integer window SUM, then one "
    "deterministic int/int double division.",
    tags=("text", "stats"),
)
def q70_corpus_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "source", F.explode(F.split(F.lower("text"), " ")).alias("token")
    )
    counts = tok.groupBy("source", "token").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    w_tot = Window.partitionBy("source")
    w_rnk = Window.partitionBy("source").orderBy(
        F.col("c").desc(), F.col("token")
    )
    return (
        counts.withColumn("source_total", F.sum("c").over(w_tot).cast("long"))
        .withColumn("rnk", F.row_number().over(w_rnk).cast("int"))
        .filter(F.col("rnk") <= TOP_TOKENS_PER_SOURCE)
        .select(
            "source",
            "token",
            "c",
            (F.col("c").cast("double") / F.col("source_total").cast("double"))
            .alias("share"),
            "rnk",
        )
    )


@register(
    "q71_sliding_event_windows",
    oracle="""
    WITH expanded AS (
      -- make_timestamp(us) builds a NAIVE timestamp: matches Spark's
      -- TIMESTAMP_NTZ windows under ANY session TZ. (to_timestamp returns
      -- TIMESTAMPTZ, and CASTing that to TIMESTAMP converts through the
      -- session zone — both forms fail the TZ=America/New_York probe.)
      SELECT make_timestamp(
               ((CAST(FLOOR(epoch(ts) / 900.0) AS BIGINT) - k) * 900)
               * 1000000
             ) AS window_start,
             event_type, value
      FROM events, unnest(range(0, 4)) AS u(k)
      WHERE ts IS NOT NULL
    )
    SELECT window_start, event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(value * 1000000) AS BIGINT)) AS BIGINT)
               AS value_micros
    FROM expanded
    GROUP BY window_start, event_type
    """,
    doc="Sliding 1-hour windows every 15 minutes (batch form of the "
    "streaming sliding window in streaming/events.py): each event lands "
    "in exactly 4 overlapping windows. Spark's native F.window handles "
    "the expansion; the oracle reconstructs it as floor-to-slide minus "
    "k*slide for k in 0..3. Fan-out is a fixed x4 map-side expansion "
    "before a bounded-cardinality (window, type) aggregate — partial "
    "aggregation absorbs it before the shuffle. Double SUM goes through "
    "floor-micros integers (order-independent, sign-safe).",
    tags=("events", "window"),
)
def q71_sliding_event_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "1 hour", "15 minutes"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(F.col("value") * 1000000).cast("long"))
            .cast("long")
            .alias("value_micros"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n",
            "value_micros",
        )
    )


# ---------------------------------------------------------------------------
# Log-form scoring variants (q72/q73): the textbook TF-IDF / BM25 score
# values a production consumer expects, carried in integer MICRO-NATS
# (the q88/q105 fixed-point pattern: ln applied only to the vocab-many
# distinct counts, floor(ln*1e6 + 0.5); everything downstream exact
# int64) — so both are fully hash-checked by DuckDB oracles despite the
# transcendental core. tests/test_search_log_form.py additionally pins
# the fixed-point values to the TRUE float log scores within the
# provable quantization bound and proves internal rank consistency. The
# ranking itself genuinely differs from the rational-core forms
# (q67/q68): log dampens high-idf terms relative to tf, which is the
# point of the log form.
# ---------------------------------------------------------------------------


@register(
    "q72_tfidf_log_top_terms",
    # Integer micro-nat fixed point (the q88/q105 pattern): ln is applied
    # only to the vocab-many distinct df values and the corpus count, each
    # rounded to micro-nats (floor(ln*1e6 + 0.5)); the per-term score
    # tf * (L(n) - L(df)) is exact int64 on both engines, so the log-form
    # ranker is fully hash-checked instead of rows-only. Quantization is
    # 1e-6 nat per log call — ranking-irrelevant, and value agreement
    # with true ln is pinned in tests/test_search_log_form.py.
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
      FROM documents
    ),
    tf AS (
      SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM tok GROUP BY doc_id, term
    ),
    df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, df.df,
             tf.tf * (CAST(FLOOR(ln(CAST(n_docs AS DOUBLE)) * 1000000.0
                                 + 0.5) AS BIGINT)
                    - CAST(FLOOR(ln(CAST(df.df AS DOUBLE)) * 1000000.0
                                 + 0.5) AS BIGINT)) AS tfidf_micronat
      FROM tf JOIN df USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tf, df, tfidf_micronat, CAST(rnk AS INTEGER) AS rnk
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf_micronat DESC, term) AS rnk
      FROM scored
    ) WHERE rnk <= {TOP_TERMS_PER_DOC}
    """,
    doc="Per-document top-3 terms by textbook TF-IDF in integer "
    "MICRO-NATS: tf * (ln(n_docs) - ln(df)) held in fixed point (the "
    "q88/q105 micro-unit pattern — ln touches only the vocab-many "
    "distinct counts, everything downstream is exact int64), so the "
    "log-form ranker is hash-checked end to end rather than rows-only. "
    "Identical plan shape to q67 (two-stage TF and DF aggs, vocab-keyed "
    "join, broadcast corpus scalar, per-doc top-k window) — only the "
    "scoring expression changes, so the 100 TB story is q67's. True-ln "
    "agreement pinned in tests/test_search_log_form.py.",
    tags=("text", "search", "log-form"),
)
def q72_tfidf_log_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    ln_micro = lambda c: F.floor(  # noqa: E731
        F.log(F.col(c).cast("double")) * 1e6 + F.lit(0.5)
    ).cast("long")
    tok = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("term")
    )
    tf = tok.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    df = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    n = docs.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df.select("term", "df", ln_micro("df").alias("l_df"))), "term")
        .crossJoin(F.broadcast(n.select(ln_micro("n_docs").alias("l_n"))))
        .withColumn(
            "tfidf_micronat",
            F.col("tf") * (F.col("l_n") - F.col("l_df")),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf_micronat").desc(), F.col("term")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= TOP_TERMS_PER_DOC)
        .select("doc_id", "term", "tf", "df", "tfidf_micronat", "rnk")
    )


@register(
    "q73_bm25_log_search",
    # Integer micro-nat fixed point (the q88/q105 pattern). Exact
    # algebra, all int64: the idf argument 1 + (n-df+0.5)/(df+0.5)
    # simplifies to (2n+1)/(2df+1) — one IEEE division of exact integers
    # (bit-deterministic), ln'd once per distinct df and rounded to
    # micro-nats. The Okapi saturation tf*(k1+1) / (tf + k1*(1-b+b*dl/avgdl))
    # with k1=1.2, b=0.75, avgdl=S/n (S = total tokens) clears to the
    # integer ratio 44*tf*S / (20*tf*S + 6*S + 18*dl*n); per-term score
    # = idf_micro * num div den. Integer sums are order-independent, so
    # the old fixed-order per-term summation workaround is gone too.
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
      FROM documents
    ),
    dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl
           FROM tok GROUP BY doc_id),
    stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(dl) AS BIGINT) AS s_tok
      FROM dl
    ),
    tf AS (
      SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM tok WHERE term IN ({{terms}}) GROUP BY doc_id, term
    ),
    df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
    scored AS (
      SELECT tf.doc_id,
             CAST(FLOOR(ln((2.0 * n_docs + 2.0) / (2.0 * df.df + 1.0))
                        * 1000000.0 + 0.5) AS BIGINT)
             * (44 * tf.tf * s_tok)
             // (20 * tf.tf * s_tok + 6 * s_tok + 18 * dl.dl * n_docs)
                 AS s_micro
      FROM tf JOIN df USING (term) JOIN dl USING (doc_id)
      CROSS JOIN stats
    )
    SELECT doc_id, CAST(SUM(s_micro) AS BIGINT) AS bm25_micronat
    FROM scored GROUP BY doc_id
    ORDER BY bm25_micronat DESC, doc_id LIMIT {{topk}}
    """.format(terms=", ".join(_sql_str(t) for t in BM25_TERMS),
               topk=BM25_TOP_K),
    doc="BM25 keyword search with the standard Robertson/Sparck-Jones "
    "log idf, held in integer MICRO-NATS end to end (the q88/q105 "
    "pattern): idf's argument reduces exactly to (2n+2)/(2df+1), ln'd "
    "once per distinct df; the Okapi saturation term clears to an "
    "integer ratio (k1=2.2, b=0.75 are rational), so every per-term "
    "score is exact int64, per-doc sums are order-independent, and the "
    "log-form ranker is fully hash-checked rather than rows-only — "
    "alongside q68's hash-exact rational-core twin. Same inverted-index "
    "plan shape as q68: postings filtered to query terms before any "
    "shuffle, broadcast df and corpus stats, TakeOrdered top-20. "
    "True-ln agreement pinned in tests/test_search_log_form.py.",
    tags=("text", "search", "log-form"),
)
def q73_bm25_log_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("term")
    )
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("s_tok"),
    )
    tf = (
        tok.filter(F.col("term").isin(*BM25_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    df = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    idf_micro = F.floor(
        F.log(
            (F.lit(2.0) * F.col("n_docs") + F.lit(2.0))
            / (F.lit(2.0) * F.col("df") + F.lit(1.0))
        )
        * 1e6
        + F.lit(0.5)
    ).cast("long")
    s_micro = F.expr(
        "idf_micro * (44 * tf * s_tok)"
        " div (20 * tf * s_tok + 6 * s_tok + 18 * dl * n_docs)"
    )
    scored = (
        tf.join(F.broadcast(df), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .withColumn("idf_micro", idf_micro)
        .withColumn("s_micro", s_micro)
    )
    return (
        scored.groupBy("doc_id")
        .agg(F.sum("s_micro").cast("long").alias("bm25_micronat"))
        .orderBy(F.col("bm25_micronat").desc(), "doc_id")
        .limit(BM25_TOP_K)
    )


# ---------------------------------------------------------------------------
# Hybrid retrieval with reciprocal-rank fusion (q89) — the production RAG
# retrieval shape: a lexical ranking (BM25, q68) and a semantic ranking
# (embedding cosine, q30's machinery) fused by RRF (Cormack et al.,
# SIGIR'09): rrf(d) = sum over systems of 1/(K + rank_d), K=60.
# ---------------------------------------------------------------------------

RRF_K = 60
RRF_POOL = 50       # per-system candidate pool fed into the fusion
HYBRID_TOP_K = 20
HYBRID_QUERY_VEC = 0  # the query embedding: vec_id 0 (deterministic convention)


def _hybrid_oracle() -> str:
    from ..operators.similarity import dot_pair, norm_pair

    terms_sql = ", ".join(_sql_str(t) for t in BM25_TERMS)
    per_term = ", ".join(
        f"COALESCE(SUM(CASE WHEN term = {_sql_str(t)} THEN score END), "
        f"CAST(0 AS DOUBLE)) AS s_{i}"
        for i, t in enumerate(BM25_TERMS)
    )
    total = " + ".join(f"s_{i}" for i in range(len(BM25_TERMS)))
    norm_d = norm_pair("embedding")[1]
    dot_d = dot_pair("a.emb", "b.emb")[1]
    return f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
      FROM documents
    ),
    dl AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM tok GROUP BY doc_id
    ),
    stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
      FROM dl
    ),
    tf AS (
      SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM tok WHERE term IN ({terms_sql}) GROUP BY doc_id, term
    ),
    df AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term
    ),
    scored AS (
      SELECT tf.doc_id, tf.term, {_BM25_TERM_SCORE} AS score
      FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
    ),
    per_doc AS (
      SELECT doc_id, {per_term} FROM scored GROUP BY doc_id
    ),
    text_rank AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY {total} DESC, doc_id) AS r_text
      FROM per_doc
      QUALIFY r_text <= {RRF_POOL}
    ),
    v AS (
      SELECT vec_id, embedding::DOUBLE[] AS emb, {norm_d} AS nrm
      FROM embeddings
    ),
    qv AS (SELECT * FROM v WHERE vec_id = {HYBRID_QUERY_VEC}),
    vec_rank AS (
      SELECT a.vec_id AS doc_id,
             ROW_NUMBER() OVER (
               ORDER BY {dot_d} / (a.nrm * b.nrm) DESC, a.vec_id
             ) AS r_vec
      FROM v a CROSS JOIN qv b
      WHERE a.vec_id <> {HYBRID_QUERY_VEC}
      QUALIFY r_vec <= {RRF_POOL}
    )
    SELECT COALESCE(t.doc_id, s.doc_id) AS doc_id,
           CAST(COALESCE(t.r_text, 0) AS BIGINT) AS r_text,
           CAST(COALESCE(s.r_vec, 0) AS BIGINT) AS r_vec,
           (CASE WHEN t.r_text IS NULL THEN CAST(0 AS DOUBLE)
                 ELSE 1.0 / ({RRF_K} + t.r_text) END
            + CASE WHEN s.r_vec IS NULL THEN CAST(0 AS DOUBLE)
                   ELSE 1.0 / ({RRF_K} + s.r_vec) END) AS rrf
    FROM text_rank t FULL OUTER JOIN vec_rank s ON t.doc_id = s.doc_id
    ORDER BY rrf DESC, doc_id
    LIMIT {HYBRID_TOP_K}
    """


@register(
    "q89_hybrid_rrf_retrieval",
    oracle=_hybrid_oracle(),
    doc=f"Hybrid retrieval with reciprocal-rank fusion (RRF, K={RRF_K}): "
    f"the BM25 lexical ranking (q68's rational core) and the embedding "
    f"cosine ranking against query vector vec_id={HYBRID_QUERY_VEC} each "
    f"contribute a top-{RRF_POOL} pool; fused score = sum of "
    f"1/({RRF_K}+rank) over the systems that retrieved the doc (absent "
    f"rank reported as 0 — an explicit sentinel, not NULL, so the "
    f"output is engine-portable). The doc<->vector identity join uses "
    f"doc_id == vec_id. Scale shape: each pool is selected by "
    f"TakeOrderedAndProject (per-partition top-k, never a global sort) "
    f"and only THEN ranked — the rank window runs on {RRF_POOL} rows "
    f"regardless of corpus size; the fusion is a {RRF_POOL}x{RRF_POOL} "
    f"outer join. Ranks are ints, so 1/(K+rank) is bit-exact "
    f"cross-engine — fusion stays hash-checked.",
    tags=("text", "search", "similarity", "fusion"),
)
def q89_hybrid_rrf_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import dot_pair, norm_pair

    docs = load_table(spark, sf_dir, "documents")

    # text pool: TakeOrdered(POOL) first, then rank the tiny pool — the
    # no-global-sort form of ROW_NUMBER ... QUALIFY
    text_pool = (
        _bm25_scores(docs)
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(RRF_POOL)
    )
    wt = Window.orderBy(F.col("bm25").desc(), "doc_id")
    text_rank = text_pool.select(
        "doc_id", F.row_number().over(wt).cast("long").alias("r_text")
    )

    emb = load_table(spark, sf_dir, "embeddings")
    norm_s = norm_pair("embedding")[0]
    v = emb.select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("emb"),
        F.expr(norm_s).alias("nrm"),
    )
    qv = v.filter(F.col("vec_id") == HYBRID_QUERY_VEC)
    dot_s = dot_pair("a.emb", "b.emb")[0]
    vec_pool = (
        v.alias("a")
        .filter(F.col("vec_id") != HYBRID_QUERY_VEC)
        .crossJoin(F.broadcast(qv).alias("b"))
        .select(
            F.col("a.vec_id").alias("doc_id"),
            (F.expr(dot_s) / (F.col("a.nrm") * F.col("b.nrm"))).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), "doc_id")
        .limit(RRF_POOL)
    )
    wv = Window.orderBy(F.col("cosine").desc(), "doc_id")
    vec_rank = vec_pool.select(
        "doc_id", F.row_number().over(wv).cast("long").alias("r_vec")
    )

    fused = text_rank.join(vec_rank, "doc_id", "full_outer")
    rrf = F.when(
        F.col("r_text").isNull(), F.lit(0.0)
    ).otherwise(F.lit(1.0) / (F.lit(RRF_K) + F.col("r_text"))) + F.when(
        F.col("r_vec").isNull(), F.lit(0.0)
    ).otherwise(F.lit(1.0) / (F.lit(RRF_K) + F.col("r_vec")))
    return (
        fused.select(
            "doc_id",
            F.coalesce("r_text", F.lit(0)).cast("long").alias("r_text"),
            F.coalesce("r_vec", F.lit(0)).cast("long").alias("r_vec"),
            rrf.alias("rrf"),
        )
        .orderBy(F.col("rrf").desc(), "doc_id")
        .limit(HYBRID_TOP_K)
    )


SPARSE_DF_CAP = 50  # terms in more than 50 docs don't pair (stopword-ish)
SPARSE_TOP_PAIRS = 20
# Per-term contribution unit: tf_a*tf_b * PPM_CAP2 div (df+1)^2 — the idf
# weight RELATIVE to the df cap, in ppm. The previous unit multiplied by
# (n_docs+1)^2, a global constant that cancels in the ranking but grows
# with the corpus: at ~1.5M docs the per-row numerator crossed int64
# (caught by tools/audit_overflow.py in round 7, one decade above the
# executed gen100x corpus). With the cap-relative unit the numerator is
# bounded by TF_CLAMP^2 * PPM_CAP2 ~ 2.6e17 — corpus-independent.
SPARSE_TF_CLAMP = 10_000  # sublinear-tf guard: caps the numerator
SPARSE_PPM_CAP2 = 1_000_000 * (SPARSE_DF_CAP + 1) * (SPARSE_DF_CAP + 1)


@register(
    "q127_sparse_tfidf_similarity",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
      FROM documents
    ),
    tf AS (
      SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM tok GROUP BY doc_id, term
    ),
    df AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term
    ),
    contrib AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             (LEAST(a.tf, {SPARSE_TF_CLAMP}) * LEAST(b.tf, {SPARSE_TF_CLAMP})
              * {SPARSE_PPM_CAP2})
               // ((df.df + 1) * (df.df + 1)) AS c_ppm
      FROM tf a
      JOIN tf b ON a.term = b.term AND a.doc_id < b.doc_id
      JOIN df ON df.term = a.term
      WHERE df.df <= {SPARSE_DF_CAP}
    ),
    pair_scores AS (
      SELECT doc_a, doc_b,
             CAST(SUM(CAST(c_ppm AS DECIMAL(19,0))) AS DECIMAL(38,0))
                 AS score_ppm
      FROM contrib GROUP BY doc_a, doc_b
    )
    SELECT doc_a, doc_b, CAST(score_ppm AS VARCHAR) AS score_ppm,
           CAST(rnk AS INTEGER) AS rnk FROM (
      SELECT *, row_number() OVER (
        ORDER BY score_ppm DESC, doc_a, doc_b) AS rnk
      FROM pair_scores
    ) WHERE rnk <= {SPARSE_TOP_PAIRS}
    """,
    doc="Sparse TF-IDF document similarity — the sparse-vector twin of "
    "the dense ANN stack: each document is its TF-IDF bag, and the "
    "unnormalized dot product between documents is computed through the "
    "INVERTED INDEX (posting-list self-join per term), never through "
    "document pairs directly. Terms appearing in more than "
    f"{SPARSE_DF_CAP} docs are excluded from pairing (the q63 DF-cap "
    "rule: stopword-grade postings would make the self-join quadratic "
    "AND contribute ~zero idf weight — the cap is explicit, mirrored in "
    "the oracle, not silent). Per-term contributions use the rational "
    "idf squared RELATIVE TO THE DF CAP, held in exact integer ppm "
    "(floor-division before the sum, so partial sums merge exactly; "
    "the cap-relative unit keeps the per-row numerator <= ~2.6e17 at "
    "ANY corpus size, where the previous (n_docs+1)^2 unit crossed "
    "int64 at ~1.5M docs — the constant factor cancels in the "
    "ranking); pair scores accumulate in DECIMAL(38,0); top-20 pairs "
    "by score with total-order tiebreaks. Scale shape: shuffles carry "
    "(term, posting) rows and pair partials — bounded by cap^2 per "
    "term.",
    tags=("text", "search", "similarity"),
)
def q127_sparse_tfidf_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("term")
    )
    tf = tok.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    df = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    rare = df.filter(F.col("df") <= SPARSE_DF_CAP)
    a = tf.select("term", F.col("doc_id").alias("doc_a"), F.col("tf").alias("tf_a"))
    b = tf.select("term", F.col("doc_id").alias("doc_b"), F.col("tf").alias("tf_b"))
    contrib = (
        a.join(b, ["term"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .join(rare, "term")
        .select(
            "doc_a",
            "doc_b",
            # cap-relative idf^2 in ppm: numerator <= TF_CLAMP^2 *
            # PPM_CAP2 ~ 2.6e17 — int64-safe at ANY corpus size (the
            # old (n_docs+1)^2 unit crossed int64 at ~1.5M docs)
            F.expr(
                f"(LEAST(tf_a, {SPARSE_TF_CLAMP})"
                f" * LEAST(tf_b, {SPARSE_TF_CLAMP})"
                f" * {SPARSE_PPM_CAP2})"
                " div ((df + 1) * (df + 1))"
            ).alias("c_ppm"),
        )
    )
    scores = contrib.groupBy("doc_a", "doc_b").agg(
        F.sum(F.col("c_ppm").cast("decimal(19,0)"))
        .cast("decimal(38,0)")
        .alias("score_ppm")
    )
    top = scores.orderBy(
        F.desc("score_ppm"), F.asc("doc_a"), F.asc("doc_b")
    ).limit(SPARSE_TOP_PAIRS)
    w = Window.orderBy(F.desc("score_ppm"), F.asc("doc_a"), F.asc("doc_b"))
    return (
        top.withColumn("rnk", F.row_number().over(w).cast("int"))
        .withColumn("score_ppm", F.col("score_ppm").cast("string"))
    )


# ---------------------------------------------------------------------------
# RAG chunking (q239): fixed-size token windows with stride — the
# document segmentation every retrieval corpus build runs before
# embedding (chunk-level vectors, not doc-level; overlap so no answer
# span straddles a boundary unseen). Chunk identity is (doc_id,
# chunk_idx) plus a content fingerprint (the shared polynomial hash of
# the chunk text), which is what chunk-level dedup and incremental
# re-embedding key on. Pure map-side: tokens -> bounded explode of
# ceil(n/stride) window starts -> slice + hash; linear in tokens,
# nothing shuffles, the chunk table partitions exactly like its source.

RAG_CHUNK_TOKENS = 64
RAG_CHUNK_STRIDE = 32


def _chunk_fp_pair() -> tuple[str, str]:
    from ..operators.text import poly_hash_pair

    return poly_hash_pair(
        "array_join(chunk, ' ')", "array_to_string(chunk, ' ')"
    )


@register(
    "q239_rag_chunks",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS tokens,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n
      FROM documents WHERE text IS NOT NULL AND len(text) > 0
    ),
    chunks AS (
      SELECT doc_id, n, CAST(i AS BIGINT) AS chunk_idx,
             CAST(i * {RAG_CHUNK_STRIDE} AS BIGINT) AS start_pos,
             list_slice(tokens, i * {RAG_CHUNK_STRIDE} + 1,
                        LEAST(i * {RAG_CHUNK_STRIDE} + {RAG_CHUNK_TOKENS},
                              CAST(n AS INTEGER))) AS chunk
      FROM tok, unnest(range(0, ((n - 1) // {RAG_CHUNK_STRIDE}) + 1)) AS t(i)
    )
    SELECT doc_id, chunk_idx, start_pos,
           CAST(len(chunk) AS BIGINT) AS chunk_len,
           {{fp}} AS chunk_fp
    FROM chunks
    """.replace("{fp}", _chunk_fp_pair()[1]),
    doc=f"RAG chunker: {RAG_CHUNK_TOKENS}-token windows at stride "
    f"{RAG_CHUNK_STRIDE} (50% overlap) over whitespace tokens, emitting "
    "(doc_id, chunk_idx, start_pos, chunk_len, chunk_fp) — the corpus "
    "segmentation step upstream of chunk embedding, with the shared "
    "polynomial content fingerprint as the chunk identity for "
    "chunk-level dedup and incremental re-embedding (only chunks whose "
    "fp changed get re-encoded). Tail chunks shorter than the window "
    "are kept (chunk_len tells the consumer). Scale shape: one "
    "map-side explode of ceil(n_tokens/stride) starts per doc — chunk "
    "count is linear in corpus tokens, the fingerprint is the same "
    "aggregate-free expression both engines share, no shuffle at all; "
    "at 100 TB this pipelines straight into the embedding UDF with "
    "source-file partitioning intact.",
    tags=("search", "text", "chunking"),
)
def q239_rag_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    fp_spark, _ = _chunk_fp_pair()
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.length("text") > 0)
    )
    tok = docs.select(
        "doc_id",
        F.split("text", " ").alias("tokens"),
        F.size(F.split("text", " ")).cast("long").alias("n"),
    )
    chunks = tok.select(
        "doc_id",
        "n",
        "tokens",
        F.explode(
            F.expr(f"sequence(0L, (n - 1) div {RAG_CHUNK_STRIDE})")
        ).alias("chunk_idx"),
    ).select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        (F.col("chunk_idx") * RAG_CHUNK_STRIDE).cast("long").alias("start_pos"),
        F.expr(
            f"slice(tokens, CAST(chunk_idx * {RAG_CHUNK_STRIDE} + 1 AS INT),"
            f" {RAG_CHUNK_TOKENS})"
        ).alias("chunk"),
    )
    return chunks.select(
        "doc_id",
        "chunk_idx",
        "start_pos",
        F.size("chunk").cast("long").alias("chunk_len"),
        F.expr(fp_spark).alias("chunk_fp"),
    )


# ---------------------------------------------------------------------------
# Cross-encoder-style rerank eval (q242): the second-stage ranking every
# production retrieval stack runs — a cheap first stage (q89's BM25+ANN
# RRF fusion) proposes a small candidate list, then an expensive PAIR
# scorer that sees query and candidate TOGETHER re-orders it. The
# cross-encoder proxy here is exact token-set Jaccard between the query
# document's token set and each candidate's (a deterministic stand-in
# for a neural pair scorer: same data flow, same cost envelope — one
# bounded scorer call per candidate, never per corpus row). The output
# is the eval artifact: per candidate, first-stage rank vs reranked
# rank and the displacement between them — the table a retrieval team
# reads to decide whether the second stage earns its latency.

RERANK_QUERY_DOC = HYBRID_QUERY_VEC  # doc_id == vec_id identity (q89)


def _rerank_oracle() -> str:
    return f"""
    WITH fused AS ({oracle_of("q89_hybrid_rrf_retrieval")}),
    fr AS (
      SELECT doc_id,
             CAST(row_number() OVER (ORDER BY rrf DESC, doc_id) AS BIGINT)
                 AS fused_rank
      FROM fused
    ),
    qt AS (
      SELECT DISTINCT term FROM (
        SELECT unnest(string_split(lower(coalesce(text, '')), ' ')) AS term
        FROM documents WHERE doc_id = {RERANK_QUERY_DOC})
    ),
    qn AS (SELECT CAST(COUNT(*) AS BIGINT) AS qn FROM qt),
    ct AS (
      SELECT DISTINCT doc_id, term FROM (
        SELECT fr.doc_id,
               unnest(string_split(lower(coalesce(d.text, '')), ' ')) AS term
        FROM fr JOIN documents d ON d.doc_id = fr.doc_id)
    ),
    cn AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS cn FROM ct GROUP BY doc_id
    ),
    ix AS (
      SELECT ct.doc_id, CAST(COUNT(*) AS BIGINT) AS inter
      FROM ct JOIN qt ON qt.term = ct.term GROUP BY ct.doc_id
    ),
    scored AS (
      SELECT fr.doc_id, fr.fused_rank,
             COALESCE(
               (COALESCE(ix.inter, 0) * 1000000)
                 // NULLIF(cn.cn + qn.qn - COALESCE(ix.inter, 0), 0),
               0) AS jacc_ppm
      FROM fr JOIN cn ON cn.doc_id = fr.doc_id
      CROSS JOIN qn
      LEFT JOIN ix ON ix.doc_id = fr.doc_id
    ),
    ranked AS (
      SELECT doc_id, fused_rank,
             CAST(row_number() OVER (ORDER BY jacc_ppm DESC, doc_id)
                  AS BIGINT) AS rerank_rank,
             CAST(jacc_ppm AS BIGINT) AS jacc_ppm
      FROM scored
    )
    SELECT doc_id, fused_rank, rerank_rank, jacc_ppm,
           CAST(fused_rank - rerank_rank AS BIGINT) AS displacement
    FROM ranked
    """


@register(
    "q242_crossencoder_rerank_eval",
    # q89's registered oracle is spliced in as the candidate relation:
    # the eval can never drift from the fused list it re-orders.
    oracle=_rerank_oracle(),
    doc="Cross-encoder-style second-stage rerank of q89's fused top-"
    f"{HYBRID_TOP_K} list: each candidate is pair-scored against query "
    f"doc {RERANK_QUERY_DOC} by exact distinct-token Jaccard in ppm "
    "(integer floor-div, NULLIF-guarded for empty token unions), then "
    "re-ranked; output is (fused_rank, rerank_rank, jacc_ppm, "
    "displacement) per candidate — the standard two-stage retrieval "
    "eval table. The query doc itself may appear in the candidate list "
    "(BM25 can retrieve it); the rerank correctly puts it first — the "
    "eval scores the fused list AS DELIVERED. Scale shape: the pair "
    "scorer touches exactly the candidate list (20 rows joined to "
    "their texts, query tokens broadcast), never the corpus — the "
    "defining property of a second-stage reranker; both rank windows "
    f"run over the bounded {HYBRID_TOP_K}-row frame. A neural "
    "cross-encoder drops into the same plan as a mapInPandas scorer "
    "over the same bounded candidate join.",
    tags=("search", "fusion", "eval"),
)
def q242_crossencoder_rerank_eval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    fused = q89_hybrid_rrf_retrieval(spark, sf_dir)
    wf = Window.orderBy(F.desc("rrf"), F.asc("doc_id"))
    fr = fused.select(
        "doc_id", F.row_number().over(wf).cast("long").alias("fused_rank")
    )
    toks = F.expr("array_distinct(split(lower(coalesce(text, '')), ' '))")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", toks.alias("toks")
    )
    # Global aggregate => EXACTLY one row even when the query doc is
    # absent from the corpus (qtoks degrades to the empty array, scoring
    # every candidate at jacc 0) — the DuckDB oracle's COUNT-over-empty
    # qn CTE behaves the same way, so the degenerate corpus stays
    # hash-symmetric instead of the crossJoin annihilating to 0 rows.
    qdoc = (
        docs.filter(F.col("doc_id") == RERANK_QUERY_DOC)
        .agg(
            F.coalesce(
                F.first("toks"), F.expr("CAST(array() AS ARRAY<STRING>)")
            ).alias("qtoks")
        )
    )
    scored = (
        fr.join(docs, "doc_id")
        .crossJoin(F.broadcast(qdoc))
        .select(
            "doc_id",
            "fused_rank",
            F.expr(
                "COALESCE((CAST(size(array_intersect(toks, qtoks)) AS BIGINT)"
                " * 1000000)"
                " div NULLIF(CAST(size(toks) AS BIGINT)"
                " + CAST(size(qtoks) AS BIGINT)"
                " - CAST(size(array_intersect(toks, qtoks)) AS BIGINT), 0),"
                " 0)"
            ).alias("jacc_ppm"),
        )
    )
    wr = Window.orderBy(F.desc("jacc_ppm"), F.asc("doc_id"))
    return scored.select(
        "doc_id",
        "fused_rank",
        F.row_number().over(wr).cast("long").alias("rerank_rank"),
        F.col("jacc_ppm").cast("long").alias("jacc_ppm"),
    ).select(
        "doc_id",
        "fused_rank",
        "rerank_rank",
        "jacc_ppm",
        (F.col("fused_rank") - F.col("rerank_rank"))
        .cast("long")
        .alias("displacement"),
    )
