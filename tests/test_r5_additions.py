"""Round-5 additions: DSIR importance weights (q158), perceptual image
hashing over real decode (q159), tokenizer fertility (q160)."""

from __future__ import annotations

import struct

from pyspark.sql import functions as F

from retail_sales_etl_pipeline_spark.functions.scalar import POLY_BASE, POLY_MOD
from retail_sales_etl_pipeline_spark.operators.multimodal import (
    PHASH_GX,
    PHASH_GY,
    decode_bmp,
    perceptual_hashes,
    synth_media_payloads,
)
from retail_sales_etl_pipeline_spark.operators.text import (
    token_bucket_counts_pandas,
)
from retail_sales_etl_pipeline_spark.plans.mixing_queries import (
    DSIR_K,
    DSIR_TARGET,
    q158_dsir_importance_weights,
)

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def _py_bucket(tok: str, n_buckets: int) -> int:
    h = 0
    for c in tok:
        h = (h * POLY_BASE + ord(c)) % POLY_MOD
    return h % n_buckets


def test_token_bucket_counts_match_pure_python(spark):
    rows = [
        (1, "srcA", "the quick brown fox the"),
        (2, "srcB", ""),  # split('') -> [''] — one empty token, bucket 0
        (3, "srcA", "zeta zeta zeta"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {
        (r["doc_id"], r["bucket"]): r["occ"]
        for r in token_bucket_counts_pandas(df, 64, keep_col="source").collect()
    }
    want: dict[tuple[int, int], int] = {}
    for did, _, text in rows:
        for t in text.split(" "):
            k = (did, _py_bucket(t, 64))
            want[k] = want.get(k, 0) + 1
    assert got == want


def test_dsir_ranks_target_like_doc_first(spark, tmp_path):
    # Target corpus speaks 'alpha beta'; candidate 10 is pure target
    # vocabulary, candidate 11 shares nothing with it. DSIR must rank 10
    # above 11, and the weight gap must be strictly positive.
    rows = [
        (1, "alpha beta alpha beta", "en", DSIR_TARGET[0], 0),
        (2, "beta alpha beta", "en", DSIR_TARGET[1], 0),
        (10, "alpha beta", "en", "web", 0),
        (11, "zeta yota", "en", "web", 0),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = {
        r["doc_id"]: r
        for r in q158_dsir_importance_weights(spark, str(tmp_path)).collect()
    }
    assert set(out) == {10, 11}  # target docs are never candidates
    assert out[10]["rnk"] == 1 and out[11]["rnk"] == 2
    assert out[10]["logw_micronat"] > out[11]["logw_micronat"]


def test_dsir_registry_output_shape(spark):
    out = q158_dsir_importance_weights(spark, SMOKE_SF_DIR).collect()
    assert 0 < len(out) <= DSIR_K
    ranks = sorted(r["rnk"] for r in out)
    assert ranks == list(range(1, len(out) + 1))  # dense 1..n
    by_rnk = sorted(out, key=lambda r: r["rnk"])
    for a, b in zip(by_rnk, by_rnk[1:]):  # ordered by weight desc
        assert a["logw_micronat"] >= b["logw_micronat"]
    assert all(r["source"] not in DSIR_TARGET for r in out)


def _bmp_bytes(w: int, h: int, logical: bytes) -> bytes:
    row_size = (w * 3 + 3) // 4 * 4
    pad = b"\x00" * (row_size - w * 3)
    body = b"".join(
        logical[y * w * 3 : (y + 1) * w * 3] + pad
        for y in range(h - 1, -1, -1)
    )
    return (
        b"BM" + struct.pack("<IHHI", 54 + len(body), 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0,
                      len(body), 2835, 2835, 0, 0)
        + body
    )


def _py_dhash(w: int, h: int, px: bytes) -> int:
    v = 0
    for gy in range(PHASH_GY):
        py = gy * (h - 1) // (PHASH_GY - 1)
        for gx in range(PHASH_GX - 1):
            p0 = (py * w + gx * (w - 1) // (PHASH_GX - 1)) * 3
            p1 = (py * w + (gx + 1) * (w - 1) // (PHASH_GX - 1)) * 3
            g0 = (px[p0] + px[p0 + 1] + px[p0 + 2]) // 3
            g1 = (px[p1] + px[p1 + 1] + px[p1 + 2]) // 3
            if g0 > g1:
                v |= 1 << (gy * 8 + gx)
    return v


def test_phash_brightness_invariant_when_no_clipping(spark):
    # All channel bytes <= 200, so the +10 twin never clips at 255 and the
    # dHash must be bit-identical — the exact failure byte-level dedup has.
    w, h = 10, 8
    logical = bytes((i * 37) % 200 for i in range(w * h * 3))
    payload = _bmp_bytes(w, h, logical)
    df = spark.createDataFrame(
        [(99, payload)], "doc_id long, payload binary"
    )
    row = perceptual_hashes(df).collect()[0]
    assert (row["width"], row["height"]) == (w, h)
    assert row["dhash_twin_match"] is True
    assert row["byte_twin_match"] is False
    assert row["dhash"] == _py_dhash(w, h, logical)


def test_phash_inline_decoder_matches_module_decoder(spark):
    # The dHash of real synth payloads (odd doc_ids are BMP) against
    # decode_bmp + the pure-python grid math.
    docs = spark.range(1, 12).select(F.col("id").alias("doc_id"))
    imgs = synth_media_payloads(docs).filter(F.col("mime") == "image/bmp")
    payloads = {r["doc_id"]: bytes(r["payload"]) for r in imgs.collect()}
    got = {r["doc_id"]: r for r in perceptual_hashes(imgs).collect()}
    assert set(got) == set(payloads) and len(got) >= 5
    for did, payload in payloads.items():
        w, h, px = decode_bmp(payload)
        assert got[did]["dhash"] == _py_dhash(w, h, px)


def test_source_overlap_sketch_invariants(spark, duck):
    from retail_sales_etl_pipeline_spark.plans.dedup_queries import (
        OVERLAP_K,
        q161_source_overlap_sketch,
    )

    rows = q161_source_overlap_sketch(spark, SMOKE_SF_DIR).collect()
    n_sources = duck.execute(
        "SELECT COUNT(DISTINCT source) FROM documents"
    ).fetchone()[0]
    assert len(rows) == n_sources * (n_sources - 1) // 2  # every pair once
    for r in rows:
        assert r["src_a"] < r["src_b"]
        assert 1 <= r["sketch_k"] <= OVERLAP_K
        assert 0 <= r["n_common_in_sketch"] <= r["sketch_k"]
        assert 0 <= r["jaccard_est_ppm"] <= 1_000_000
        assert 0 <= r["jaccard_exact_ppm"] <= 1_000_000
        # sketch can only see overlap that exists
        if r["n_exact_common"] == 0:
            assert r["n_common_in_sketch"] == 0


def test_two_level_bottom_k_equals_global(spark):
    # The scalable two-level bottom-K (per sk%256 sub-bucket, then global)
    # must equal the straight global bottom-K the oracle computes.
    import random

    from pyspark.sql import Window as W

    rng = random.Random(7)
    data = [("s%d" % (i % 3), rng.randrange(10**9)) for i in range(5000)]
    df = spark.createDataFrame(data, "source string, sk long").distinct()
    K = 64
    w1 = W.partitionBy("source", F.col("sk") % 256).orderBy("sk")
    w2 = W.partitionBy("source").orderBy("sk")
    two = (
        df.withColumn("rn1", F.row_number().over(w1))
        .filter(F.col("rn1") <= K)
        .withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") <= K)
        .select("source", "sk")
    )
    one = (
        df.withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") <= K)
        .select("source", "sk")
    )
    assert sorted(map(tuple, two.collect())) == sorted(map(tuple, one.collect()))


def test_kmv_sketch_is_mergeable():
    # The doc's 100 TB claim: per-shard bottom-K sketches min-merge into
    # the corpus sketch. Algebraically: bottomK(bottomK(X) u bottomK(Y))
    # == bottomK(X u Y) for any split — prove it on random splits.
    import random

    rng = random.Random(11)
    K = 64
    universe = rng.sample(range(10**9), 5000)
    for trial in range(5):
        cut = rng.randrange(1, len(universe))
        x, y = set(universe[:cut]), set(universe[cut:])
        bk = lambda s: sorted(s)[:K]  # noqa: E731
        assert bk(set(bk(x)) | set(bk(y))) == bk(x | y)


def test_dsir_selection_stage_composes_with_corpus(spark, tmp_path):
    from retail_sales_etl_pipeline_spark.plans.curation_pipeline import (
        dsir_selection_stage,
    )
    from retail_sales_etl_pipeline_spark.plans.mixing_queries import (
        DSIR_TARGET,
        dsir_scores,
    )
    from retail_sales_etl_pipeline_spark.sources import load_table

    # Corpus = every document (stand-in for curate() survivors; any
    # doc_id-carrying parquet composes).
    docs = load_table(spark, SMOKE_SF_DIR, "documents")
    corpus_path = str(tmp_path / "corpus")
    docs.select("doc_id").write.parquet(corpus_path)
    out_path = str(tmp_path / "selected")

    m = dsir_selection_stage(
        spark, SMOKE_SF_DIR, corpus_path, out_path, keep_ppm=250_000
    )
    kept = spark.read.parquet(out_path)
    # exact deterministic budget: floor(n_cand * ppm / 1e6) candidates
    assert m["k_selected"] == m["n_candidates"] * 250_000 // 1_000_000
    assert kept.filter(F.col("logw_micronat").isNotNull()).count() == m["k_selected"]
    # target-domain corpus members always kept, with NULL weight
    n_target = docs.filter(F.col("source").isin(*DSIR_TARGET)).count()
    assert m["n_target_kept"] == n_target
    assert m["n_written"] == m["k_selected"] + n_target
    # selection is by weight: min kept weight >= max dropped weight
    scores = {r["doc_id"]: r["logw_micronat"] for r in dsir_scores(docs).collect()}
    kept_ids = {r["doc_id"] for r in kept.collect() if r["logw_micronat"] is not None}
    kept_w = [scores[d] for d in kept_ids]
    drop_w = [w for d, w in scores.items() if d not in kept_ids]
    assert min(kept_w) >= max(drop_w)


def test_streaming_dsir_scoring_equals_batch(spark, tmp_path):
    # Fit in batch, export the model, score a document STREAM statelessly
    # — per-doc integer micro-nat weights must equal the batch q158 core
    # for every candidate doc.
    from retail_sales_etl_pipeline_spark.plans.mixing_queries import (
        DSIR_BUCKETS,
        dsir_scores,
    )
    from retail_sales_etl_pipeline_spark.sources import load_table
    from retail_sales_etl_pipeline_spark.streaming import run_to_memory
    from retail_sales_etl_pipeline_spark.streaming.scoring import (
        dsir_score_stream,
        export_dsir_model,
    )

    docs = load_table(spark, SMOKE_SF_DIR, "documents")
    model, c_micro = export_dsir_model(docs)
    assert 0 < len(model) <= DSIR_BUCKETS

    stream_dir = str(tmp_path / "docs_stream")
    cand = docs.filter(~F.col("source").isin(*DSIR_TARGET))
    cand.repartition(4).write.parquet(stream_dir)  # several files -> several batches
    stream = (
        spark.readStream.schema(
            "doc_id long, text string, lang string, source string, n_chars long"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
    )
    got = run_to_memory(
        dsir_score_stream(stream, model, c_micro, DSIR_BUCKETS),
        "dsir_stream_scores",
        output_mode="append",
    )
    stream_w = {r["doc_id"]: r["logw_micronat"] for r in got.collect()}
    batch_w = {
        r["doc_id"]: r["logw_micronat"] for r in dsir_scores(docs).collect()
    }
    assert stream_w == batch_w


def test_fertility_zero_token_language_is_null_not_error(spark, tmp_path):
    # ANSI mode: a language whose docs contain no regex tokens must yield
    # NULL chars_per_token_ppm, not DIVIDE_BY_ZERO.
    from retail_sales_etl_pipeline_spark.plans.registry import load_all

    spark.createDataFrame(
        [(1, "   ", "xx", "s", 3), (2, "hello world", "en", "s", 11)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(str(tmp_path / "documents.parquet"))
    rows = {
        r["lang"]: r
        for r in load_all()["q160_tokenizer_fertility"]
        .spark_fn(spark, str(tmp_path))
        .collect()
    }
    assert rows["xx"]["chars_per_token_ppm"] is None
    assert rows["xx"]["sum_tokens"] == 0
    assert rows["en"]["chars_per_token_ppm"] == 5_500_000  # 11 chars / 2 toks


def test_longest_common_span_matches_bruteforce_dp(spark, duck):
    # Independent check: recompute every pair's span with a pure-Python
    # O(n*m) DP over the cap-filtered token sequences — a genuinely
    # different algorithm from the relational diagonal-islands plan.
    from retail_sales_etl_pipeline_spark.plans.dedup_queries import (
        SPAN_TF_CAP,
        q162_longest_common_span,
    )

    rows = q162_longest_common_span(spark, SMOKE_SF_DIR).collect()
    assert rows  # candidates exist at sf0.001
    texts = dict(
        duck.execute("SELECT doc_id, text FROM documents").fetchall()
    )

    def kept_positions(doc_id):
        toks = texts[doc_id].split(" ")
        seen: dict[str, int] = {}
        out = {}
        for p, t in enumerate(toks):
            seen[t] = seen.get(t, 0) + 1
            if seen[t] <= SPAN_TF_CAP:
                out[p] = t
        return out, any(v > SPAN_TF_CAP for v in seen.values())

    for r in rows[:50]:
        pa, cap_a = kept_positions(r["doc_a"])
        pb, cap_b = kept_positions(r["doc_b"])
        # exact DP (dict keyed by (i, j))
        best, nmatch = 0, 0
        ends: dict[tuple[int, int], int] = {}
        for i in sorted(pa):
            for j in sorted(pb):
                if pa[i] == pb[j]:
                    nmatch += 1
                    ln = ends.get((i - 1, j - 1), 0) + 1
                    ends[(i, j)] = ln
                    best = max(best, ln)
        assert r["longest_span"] == best, (r["doc_a"], r["doc_b"])
        assert r["n_match_positions"] == nmatch
        assert r["tf_capped"] == (cap_a or cap_b)
