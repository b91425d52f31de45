"""Text-analysis + dedup expression builders (LLM-data-pipeline operators).

All operators are pure Spark SQL expressions (higher-order functions over
arrays — transform/aggregate/array_min), zero Python UDFs: they run
JVM-side, scale linearly over partitions, and — because every hash is an
explicit polynomial over character codes rather than an engine-internal
hash — the exact same values are computable by any ANSI-SQL oracle
(DuckDB: list_transform/list_reduce/list_min).

Operators:
- exact dedup: sha256(content) group-by (`dedup_queries.q20`)
- near-dup candidates: MinHash signatures over char-5-shingles, banded LSH
  (`minhash_sig_expr`) — the standard shingle→minhash→band→bucket-join
  pipeline; band-equality join replaces the O(n²) pair scan at scale.
- SimHash: sign-aggregated token-hash bits (`simhash_expr`)
- n-gram Jaccard: exact token-trigram set similarity for verification of
  LSH candidates (`jaccard_pairs`, `token_ngrams_duck`)
- language ID: stopword-hit scoring (`LANG_STOPWORDS`)
- quality scoring, token counting, rolling-hash fingerprinting
"""

from __future__ import annotations

from collections import Counter

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from ..functions.scalar import POLY_BASE, POLY_MOD

# 16 fixed (a, b) affine-permutation constants for MinHash: h_k(x) =
# (a_k*x + b_k) mod POLY_MOD. a_k < 10^6 keeps a_k*x < 10^15 « 2^63.
MINHASH_PERMS: list[tuple[int, int]] = [
    (824393, 104729), (990001, 224737), (145007, 350377), (428003, 479909),
    (737279, 611953), (293201, 746773), (618439, 882377), (506131, 15485863),
    (175003, 32452843), (909091, 49979687), (380041, 67867967), (660013, 86028121),
    (274177, 104395301), (554143, 122949823), (839809, 141650939), (121021, 160481183),
]
MINHASH_BANDS = 4  # 4 bands x 4 rows: P(candidate) = 1-(1-j^4)^4

LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "and", "of", "to", "in", "is"],
    "de": ["der", "die", "das", "und", "ist", "ein", "nicht"],
    "fr": ["le", "la", "les", "et", "est", "un", "une"],
    "es": ["el", "los", "las", "y", "es", "un", "una"],
    "zh": ["的", "是", "不", "了", "在", "我", "有"],
}


# --- dialect-paired expression builders ------------------------------------
# Each returns (spark_sql, duckdb_sql) so the engine expression and its
# oracle are generated from the same template — parity by construction.


def poly_hash_pair(s_expr_spark: str, s_expr_duck: str) -> tuple[str, str]:
    """Polynomial rolling hash of a string expression (identical integer
    result in both dialects)."""
    spark = (
        f"aggregate(transform(split({s_expr_spark}, ''), c -> ascii(c)), 0L, "
        f"(acc, x) -> (acc * {POLY_BASE} + x) % {POLY_MOD})"
    )
    duck = (
        f"list_reduce(list_prepend(0::BIGINT, list_transform("
        f"string_split({s_expr_duck}, ''), c -> ascii(c)::BIGINT)), "
        f"(acc, x) -> (acc * {POLY_BASE} + x) % {POLY_MOD})"
    )
    return spark, duck


def char_shingle_hashes_pair(col: str, k: int = 5) -> tuple[str, str]:
    """Array of polynomial hashes of all char k-shingles of ``col``.

    Both dialects use 1-based substring, so the shingle sets align exactly.
    """
    sh_spark, sh_duck = poly_hash_pair("s", "s")
    spark = (
        f"transform(sequence(1, greatest(length({col}) - {k - 1}, 1)), "
        f"i -> substring({col}, i, {k}))"
    )
    duck = (
        f"list_transform(range(1, greatest(length({col}) - {k - 1}, 1) + 1), "
        f"i -> substring({col}, i, {k}))"
    )
    spark_hashes = f"transform({spark}, s -> {sh_spark})"
    duck_hashes = f"list_transform({duck}, s -> {sh_duck})"
    return spark_hashes, duck_hashes


def minhash_sig_expr(col: str = "text", k: int = 5) -> tuple[list[str], list[str]]:
    """Per-permutation MinHash values (lists of spark / duckdb exprs)."""
    hashes_spark, hashes_duck = char_shingle_hashes_pair(col, k)
    spark_sigs, duck_sigs = [], []
    for a, b in MINHASH_PERMS:
        spark_sigs.append(
            f"array_min(transform({hashes_spark}, h -> ({a}L * h + {b}L) % {POLY_MOD}))"
        )
        duck_sigs.append(
            f"list_min(list_transform({hashes_duck}, h -> ({a} * h + {b}) % {POLY_MOD}))"
        )
    return spark_sigs, duck_sigs


def token_hashes_pair(col: str = "text") -> tuple[str, str]:
    h_spark, h_duck = poly_hash_pair("t", "t")
    return (
        f"transform(split({col}, ' '), t -> {h_spark})",
        f"list_transform(string_split({col}, ' '), t -> {h_duck})",
    )


def simhash_expr(col: str = "text", bits: int = 16) -> tuple[str, str]:
    """SimHash: for each bit j, sum +-1 over token hashes by bit j's value;
    the fingerprint sets bit j when the sum is positive."""
    th_spark, th_duck = token_hashes_pair(col)
    spark_terms, duck_terms = [], []
    for j in range(bits):
        spark_terms.append(
            f"(CASE WHEN aggregate({th_spark}, 0L, (acc, h) -> "
            f"acc + (CASE WHEN (h div {1 << j}) % 2 = 1 THEN 1 ELSE -1 END)) > 0 "
            f"THEN {1 << j}L ELSE 0L END)"
        )
        duck_terms.append(
            f"(CASE WHEN list_sum(list_transform({th_duck}, h -> "
            f"CASE WHEN (h // {1 << j}) % 2 = 1 THEN 1 ELSE -1 END)) > 0 "
            f"THEN {1 << j} ELSE 0 END)"
        )
    return " + ".join(spark_terms), " + ".join(duck_terms)


# --- vectorized Arrow path ---------------------------------------------
# The SQL higher-order-function forms above are exact and oracle-mirrored,
# but Spark does not codegen lambda chains — char-level hashing runs
# interpreted (~microseconds per element), which at millions of shingles
# dominates wall clock. These Arrow-batched numpy implementations compute
# THE SAME integers (explicit int64 polynomial/affine arithmetic), so they
# drop in for the Spark side while the DuckDB oracle keeps the SQL form —
# parity verified per-row by the correctness gate itself.


def minhash_minima(text: str) -> list[int]:
    """text -> the 16 MinHash minima (one per affine permutation over the
    char-5-shingle polynomial hashes), identical integers to
    ``minhash_sig_expr``'s SQL list."""
    mod, base, k = POLY_MOD, POLY_BASE, 5
    codes = np.fromiter(map(ord, text), dtype=np.int64, count=len(text))
    n = len(codes)
    m = max(n - (k - 1), 1)
    h = np.zeros(m, dtype=np.int64)
    for j in range(min(k, n)):
        h = (h * base + codes[j : j + m]) % mod
    return [int(((a * h + b) % mod).min()) for a, b in MINHASH_PERMS]


def minhash_bands_pandas(df, text_col: str = "text", id_col: str = "doc_id"):
    """(id, band0..bandN) MinHash band signatures, numpy-vectorized.

    Matches minhash_sig_expr exactly: char-5-shingle polynomial hashes,
    16 affine permutations, 4 bands of 4 joined with '-'.
    """
    bands = MINHASH_BANDS
    rows_per_band = len(MINHASH_PERMS) // bands
    schema = f"{id_col} long, " + ", ".join(f"band{b} string" for b in range(bands))

    def per_batch(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            out_rows = []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                sigs = minhash_minima(text)
                row = {id_col: did}
                for b in range(bands):
                    chunk = sigs[b * rows_per_band : (b + 1) * rows_per_band]
                    row[f"band{b}"] = "-".join(str(v) for v in chunk)
                out_rows.append(row)
            yield pd.DataFrame(out_rows)

    return df.select(id_col, text_col).mapInPandas(per_batch, schema)


def minhash_components_pandas(df, text_col: str = "text", id_col: str = "doc_id"):
    """(id, m0..m15) the 16 RAW MinHash minima (one per permutation) —
    the component form minhash_bands_pandas concatenates into band
    strings. Needed when the CONSUMER is the Broder estimator
    (est_jaccard = matching-component fraction), which compares
    permutations one by one rather than banded groups. Same kernel,
    identical integers to ``minhash_sig_expr``'s SQL list."""
    n_perms = len(MINHASH_PERMS)
    schema = f"{id_col} long, " + ", ".join(f"m{i} long" for i in range(n_perms))

    def per_batch(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            out_rows = []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                row = {id_col: did}
                for i, v in enumerate(minhash_minima(text)):
                    row[f"m{i}"] = v
                out_rows.append(row)
            yield pd.DataFrame(out_rows)

    return df.select(id_col, text_col).mapInPandas(per_batch, schema)


def text_fingerprint(text: str) -> tuple[int, int]:
    """text -> (content_fp, min_shingle_fp): the polynomial hash of the
    whole text and the least char-8-shingle hash, identical integers to
    the poly_hash_pair / char_shingle_hashes_pair(k=8) SQL forms."""
    mod, base, k = POLY_MOD, POLY_BASE, 8
    codes = np.fromiter(map(ord, text), dtype=np.int64, count=len(text))
    full = 0
    for c in codes.tolist():
        full = (full * base + c) % mod
    n = len(codes)
    m = max(n - (k - 1), 1)
    h = np.zeros(m, dtype=np.int64)
    for j in range(min(k, n)):
        h = (h * base + codes[j : j + m]) % mod
    return full, int(h.min())


def fingerprint_pandas(df, text_col: str = "text", id_col: str = "doc_id"):
    """(id, content_fp, min_shingle_fp) — numpy-vectorized twin of the
    poly_hash_pair / char_shingle_hashes_pair(k=8) SQL forms."""
    schema = f"{id_col} long, content_fp long, min_shingle_fp long"

    def per_batch(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            rows = []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                content_fp, min_shingle_fp = text_fingerprint(text)
                rows.append(
                    {
                        id_col: did,
                        "content_fp": content_fp,
                        "min_shingle_fp": min_shingle_fp,
                    }
                )
            yield pd.DataFrame(rows)

    return df.select(id_col, text_col).mapInPandas(per_batch, schema)


def simhash_pandas(df, text_col: str = "text", id_col: str = "doc_id", bits: int = 16):
    """(id, simhash) — numpy twin of simhash_expr: same token polynomial
    hashes, same sign-aggregation per bit."""
    mod, base = POLY_MOD, POLY_BASE
    schema = f"{id_col} long, simhash long"

    def per_batch(batches):
        def token_hash(tok: str) -> int:
            h = 0
            for c in tok:
                h = (h * base + ord(c)) % mod
            return h

        for pdf in batches:
            if pdf.empty:
                continue
            rows = []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                th = np.fromiter(
                    (token_hash(t) for t in text.split(" ")), dtype=np.int64
                )
                sim = 0
                for j in range(bits):
                    votes = ((th >> j) & 1) * 2 - 1
                    if votes.sum() > 0:
                        sim |= 1 << j
                rows.append({id_col: did, "simhash": sim})
            yield pd.DataFrame(rows)

    return df.select(id_col, text_col).mapInPandas(per_batch, schema)


def token_ngrams_ws_expr(ws: str, n: int = 3) -> str:
    """Distinct word n-grams (joined with spaces) of a projected
    ``split(text, ' ')`` array column ``ws`` — the Spark twin of
    ``token_ngrams_duck``. Project the split first: inlined, the split
    would re-run per array subscript (the q121/q126 lesson). Callers
    guard ``size(ws) >= n``: Spark's ANSI array indexing errors on
    out-of-range, and sequence(0, negative) descends."""
    return (
        f"array_distinct(transform(sequence(0, size({ws}) - {n}), "
        f"i -> concat_ws(' ', " + ", ".join(f"{ws}[i+{d}]" for d in range(n)) + ")))"
    )


def jaccard_pairs(pairs, n: int = 3):
    """Token-n-gram Jaccard over candidate pairs, in native expressions.

    Input columns: (doc_a, doc_b, text_a, text_b); output (doc_a, doc_b,
    jaccard). Set sizes are ints (|a | b| = |a| + |b| - |a & b| over the
    distinct n-gram arrays) and the division is one IEEE op, so the scores
    are bit-identical to the SQL list_intersect/list_distinct form the
    oracles use; a text under n tokens has no n-grams and scores 0.0.
    Quadratic work runs ONLY on the supplied (LSH candidate) pairs.
    """

    def grams(ws: str):
        return F.expr(
            f"IF(size({ws}) >= {n}, {token_ngrams_ws_expr(ws, n)},"
            " CAST(array() AS ARRAY<STRING>))"
        )

    score = F.when(F.col("n_sum") == 0, F.lit(0.0)).otherwise(
        F.col("n_inter").cast("double")
        / (F.col("n_sum") - F.col("n_inter")).cast("double")
    )
    # One Project per step, each reading its inputs more than once, so the
    # split and the arrays are computed once per row. The score leaves
    # through a one-row explode: a caller's filter on jaccard stops at that
    # Generate, where through Projects Catalyst would push it into the join
    # condition with the arrays inlined once per reference.
    return (
        pairs.select(
            "doc_a", "doc_b",
            F.split("text_a", " ").alias("ws_a"),
            F.split("text_b", " ").alias("ws_b"),
        )
        .select("doc_a", "doc_b", grams("ws_a").alias("g_a"), grams("ws_b").alias("g_b"))
        .select(
            "doc_a", "doc_b",
            F.size(F.array_intersect("g_a", "g_b")).alias("n_inter"),
            (F.size("g_a") + F.size("g_b")).alias("n_sum"),
        )
        .select("doc_a", "doc_b", F.explode(F.array(score)).alias("jaccard"))
    )


def token_ngrams_duck(col: str, n: int = 3) -> str:
    """DuckDB: distinct word n-grams (joined with spaces) of text column
    ``col`` — the oracle side of LSH-candidate verification."""
    return (
        f"list_distinct(list_transform(range(1, len(string_split({col},' ')) - {n - 2}), "
        f"i -> " + " || ' ' || ".join(f"string_split({col},' ')[i+{d}]" for d in range(n)) + "))"
    )


def token_shingles_pandas(df, n: int, text_col: str = "text", id_col: str = "doc_id"):
    """(id, g) DISTINCT word n-gram rows per document — the Arrow twin of
    exploding ``token_ngrams_ws_expr``. Python ``str.split(' ')``
    matches Spark ``split(text, ' ')`` (both keep empty fields, including
    trailing ones), so shingle strings are byte-identical to the SQL form.
    Docs with < n tokens emit nothing (callers filter anyway)."""
    schema = f"{id_col} long, g string"

    def per_batch(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            ids, grams = [], []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                toks = text.split(" ")
                if len(toks) < n:
                    continue
                seen = set()
                for i in range(len(toks) - n + 1):
                    g = " ".join(toks[i : i + n])
                    if g not in seen:
                        seen.add(g)
                        ids.append(did)
                        grams.append(g)
            yield pd.DataFrame({id_col: ids, "g": grams})

    return df.select(id_col, text_col).mapInPandas(per_batch, schema)


def repetition_scores_pandas(df, text_col: str = "text", id_col: str = "doc_id"):
    """(id, n_tokens, dup_trigram_frac, top_token_frac) — Arrow twin of the
    q65 SQL form. All three values are integer-ratio doubles (bit-exact
    across engines); docs with < 3 tokens are skipped (mirror the SQL
    filter)."""
    schema = (
        f"{id_col} long, n_tokens long, dup_trigram_frac double, "
        f"top_token_frac double"
    )

    def per_batch(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            rows = []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                toks = text.split(" ")
                nt = len(toks)
                if nt < 3:
                    continue
                tg = [" ".join(toks[i : i + 3]) for i in range(nt - 2)]
                rows.append(
                    {
                        id_col: did,
                        "n_tokens": nt,
                        "dup_trigram_frac": (len(tg) - len(set(tg))) / len(tg),
                        "top_token_frac": max(Counter(toks).values()) / nt,
                    }
                )
            yield pd.DataFrame(rows)

    return df.select(id_col, text_col).mapInPandas(per_batch, schema)


def token_bucket_counts_pandas(
    df,
    n_buckets: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep_col: str | None = None,
):
    """(id[, keep_col], bucket, occ) hashed-n-gram feature counts per
    document — the map-side pre-aggregated form of ``explode(tokens) ->
    poly_hash % n_buckets``: per-document bucket occurrence counts are
    folded INSIDE the Arrow batch, so what leaves the map stage is at most
    min(n_tokens, n_buckets) rows per doc instead of one row per token
    occurrence. Hash is the portable polynomial (POLY_BASE/POLY_MOD), so a
    SQL oracle reproduces every bucket id exactly. Per-batch token->hash
    memoization: corpus token frequency is Zipfian, so the dict hit rate
    is high and the char-level polynomial runs once per distinct token
    per batch."""
    cols = [id_col] + ([keep_col] if keep_col else []) + [text_col]
    extra = f"{keep_col} string, " if keep_col else ""
    schema = f"{id_col} long, {extra}bucket long, occ long"
    mod, base = POLY_MOD, POLY_BASE

    def per_batch(batches):
        memo: dict[str, int] = {}

        def bucket(tok: str) -> int:
            b = memo.get(tok)
            if b is None:
                h = 0
                for c in tok:
                    h = (h * base + ord(c)) % mod
                b = memo[tok] = h % n_buckets
            return b

        for pdf in batches:
            if pdf.empty:
                continue
            rows = []
            for tup in pdf.itertuples(index=False):
                rec = tup._asdict()
                counts = Counter(bucket(t) for t in rec[text_col].split(" "))
                for bkt, occ in counts.items():
                    out = {id_col: rec[id_col], "bucket": bkt, "occ": occ}
                    if keep_col:
                        out[keep_col] = rec[keep_col]
                    rows.append(out)
            yield pd.DataFrame(rows)

    return df.select(*cols).mapInPandas(per_batch, schema)


def common_span_pandas(pairs, tf_cap: int, text_a: str = "text_a", text_b: str = "text_b"):
    """(doc_a, doc_b, longest_span, n_match_positions, tf_capped) — the
    Arrow twin of the relational diagonal-islands longest-common-span
    (q162's oracle form). Same integers: per-(doc, token) positions past
    ``tf_cap`` are excluded (capped docs flagged), a common span of
    length L is L consecutive match points on one diagonal. Run state is
    a rolling per-row dict (j -> run length at the previous i), so memory
    is O(row width), not O(matches). This is the q21 jaccard shape —
    pair work stays INSIDE the Arrow batch as local compute; nothing
    data-sized is shuffled for windows, which is what lets the span
    metric run at corpus scale where a cluster-wide shuffle of the
    match relation (candidates x shared-token positions) would not."""
    schema = (
        "doc_a long, doc_b long, longest_span long, "
        "n_match_positions long, tf_capped boolean"
    )

    def per_batch(batches):
        def span(ta: str, tb: str):
            toks_b = tb.split(" ")
            pb: dict[str, list[int]] = {}
            cnt_b: dict[str, int] = {}
            capped = False
            for j, t in enumerate(toks_b):
                c = cnt_b.get(t, 0) + 1
                cnt_b[t] = c
                if c <= tf_cap:
                    pb.setdefault(t, []).append(j)
                else:
                    capped = True
            cnt_a: dict[str, int] = {}
            best = 0
            nmatch = 0
            prev: dict[int, int] = {}  # j -> run length ending at (i-1, j)
            for i, t in enumerate(ta.split(" ")):
                c = cnt_a.get(t, 0) + 1
                cnt_a[t] = c
                if c > tf_cap:
                    capped = True
                    prev = {}
                    continue
                cur: dict[int, int] = {}
                for j in pb.get(t, ()):
                    ln = prev.get(j - 1, 0) + 1
                    cur[j] = ln
                    if ln > best:
                        best = ln
                nmatch += len(cur)
                prev = cur
            return best, nmatch, capped

        for pdf in batches:
            if pdf.empty:
                continue
            rows = []
            for da, db, ta, tb in zip(
                pdf["doc_a"], pdf["doc_b"], pdf[text_a], pdf[text_b]
            ):
                best, nmatch, capped = span(ta, tb)
                rows.append({
                    "doc_a": int(da), "doc_b": int(db),
                    "longest_span": best, "n_match_positions": nmatch,
                    "tf_capped": capped,
                })
            yield pd.DataFrame(rows)

    return pairs.select("doc_a", "doc_b", text_a, text_b).mapInPandas(
        per_batch, schema
    )


def misra_gries_shard_summaries(
    toks, k: int, token_col: str = "token", shard_col: str = "shard"
):
    """Per-shard Misra-Gries frequent-item summaries (Arrow grouped map).

    Each shard's token stream is folded chunk-by-chunk into a bounded
    summary of at most ``k`` counters: a chunk's exact value_counts (a
    zero-error MG summary of the chunk) is added to the running summary,
    and whenever the summary exceeds ``k`` entries the (k+1)-th largest
    count is subtracted from every counter and non-positive entries drop
    (the Agarwal et al. 'Mergeable Summaries' merge rule) — memory stays
    O(k + chunk) however large the shard. The guarantee the caller
    relies on: any token whose SHARD count exceeds n_shard/(k+1) is in
    the summary; by pigeonhole, any token whose GLOBAL count exceeds
    N/(k+1) survives in at least one shard. Summary CONTENTS beyond that
    recall set depend on fold order (Arrow batch order is not
    deterministic), so callers must treat the output as a candidate set
    and re-count exactly — never publish the residual counts.

    Output rows per shard, keyed by the emitted ``shard`` column: one
    (shard, token=None, cnt=n_shard) total row plus one (shard, token,
    residual cnt) row per retained counter — streaming consumers merge
    each shard's rows as ONE real summary rather than singletons.
    """
    chunk = 65536

    def summarize(key, pdf: "pd.DataFrame") -> "pd.DataFrame":
        counters: dict[str, int] = {}
        col = pdf[token_col]
        for lo in range(0, len(col), chunk):
            vc = col.iloc[lo : lo + chunk].value_counts()
            for t, c in vc.items():
                counters[t] = counters.get(t, 0) + int(c)
            if len(counters) > k:
                sub = sorted(counters.values(), reverse=True)[k]
                counters = {
                    t: c - sub for t, c in counters.items() if c > sub
                }
        shard = key[0]
        rows = [{"shard": shard, "token": None, "cnt": len(col)}]
        rows += [
            {"shard": shard, "token": t, "cnt": c}
            for t, c in counters.items()
        ]
        return pd.DataFrame(rows)

    return toks.groupBy(shard_col).applyInPandas(
        summarize, "shard long, token string, cnt long"
    )


def esub_hashed_grams_pandas(
    df, L: int, h1: tuple[int, int], h2: tuple[int, int], pack: int,
    text_col: str = "text", id_col: str = "doc_id",
):
    """(doc_id, n_tokens, pos, gk) positioned L-gram rows keyed by the
    packed 62-bit double polynomial hash — the Arrow/numpy twin of the
    SQL higher-order-function form in exactsubstr_queries (which Spark
    runs interpreted: per-character lambda chains measured 1.5x SLOWER
    than shuffling the raw gram strings at gen100x). Computes THE SAME
    integers: token hash = poly(31, 1e9+7) over character codes (vocab
    is corpus-bounded, so hashes are computed once per distinct token
    per batch), then per window two vectorized 8-step rolling folds
    (acc*base + th) mod m over the batch-flattened token-hash stream
    with document-boundary masking. acc*base < 2^31 * ~1e6 < 2^52 —
    int64-safe. The DuckDB oracle keeps the SQL form; the hash match is
    itself the proof the two paths agree (the q22 convention)."""
    schema = f"{id_col} long, n_tokens long, pos long, gk long"
    (b1, m1), (b2, m2) = h1, h2

    def per_batch(batches):
        POLY_B, POLY_M = 31, 1_000_000_007

        def tok_hash(t: str) -> int:
            acc = 0
            for ch in t:
                acc = (acc * POLY_B + ord(ch)) % POLY_M
            return acc

        cache: dict = {}
        for pdf in batches:
            if pdf.empty:
                continue
            doc_ids, th_chunks, n_toks = [], [], []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                toks = text.split(" ")
                if len(toks) < L:
                    continue
                hs = np.empty(len(toks), dtype=np.int64)
                for i, t in enumerate(toks):
                    v = cache.get(t)
                    if v is None:
                        v = tok_hash(t)
                        cache[t] = v
                    hs[i] = v
                doc_ids.append(int(did))
                th_chunks.append(hs)
                n_toks.append(len(toks))
            if not doc_ids:
                continue
            th = np.concatenate(th_chunks)
            lens = np.asarray(n_toks, dtype=np.int64)
            starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
            # which doc owns each flattened token (for boundary masking)
            owner = np.repeat(np.arange(len(lens)), lens)
            n_win = len(th) - L + 1
            acc1 = np.zeros(n_win, dtype=np.int64)
            acc2 = np.zeros(n_win, dtype=np.int64)
            for k in range(L):
                w = th[k : k + n_win]
                acc1 = (acc1 * b1 + w) % m1
                acc2 = (acc2 * b2 + w) % m2
            valid = owner[: n_win] == owner[L - 1 :]
            idx = np.nonzero(valid)[0]
            own = owner[idx]
            out = pd.DataFrame(
                {
                    id_col: np.asarray(doc_ids, dtype=np.int64)[own],
                    "n_tokens": lens[own],
                    "pos": idx - starts[own] + 1,
                    "gk": acc1[idx] * pack + acc2[idx],
                }
            )
            yield out

    return df.select(id_col, text_col).mapInPandas(per_batch, schema)
