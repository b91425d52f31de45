"""Similarity-search queries over the `embeddings` table (64-dim float
vectors). Brute-force exact top-k as the baseline; IVF cluster probing and
random-projection LSH as the scale paths. All three are oracle-checked
exactly: dot products are index-ordered double sums, bit-identical between
Spark's aggregate(zip_with(...)) and DuckDB's list_dot_product.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.similarity import (
    RP_MAX_BUCKET,
    RP_TABLES,
    dot_pair,
    l2sq_sub_pair,
    norm_pair,
    rp_bucket_pair,
    rp_buckets_pandas,
)
from ..schemas import rows_frame
from ..sources import load_table
from .checkpoint import materialize_parquet, read_checkpoint
from .registry import oracle_of, register

N_QUERIES = 5  # query set = vec_id < 5
TOP_K = 10
N_CENTROIDS = 16  # fixed K: centroids = vec_id < 16, independent of corpus size
NEARDUP_COS = 0.4

_DOT_S, _DOT_D = dot_pair("a.emb", "b.emb")
_NORM_S, _NORM_D = norm_pair("embedding")


def _vec_view_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("emb"),
        F.expr(_NORM_S.replace("embedding", "embedding")).alias("nrm"),
    )


_DUCK_VEC_CTE = f"""
    SELECT vec_id, embedding::DOUBLE[] AS emb, {_NORM_D} AS nrm
    FROM embeddings
"""


def _ivf_scored(v: DataFrame) -> DataFrame:
    """(vec_id, centroid_id, cos_c) for every vector x broadcast centroid."""
    cents = v.filter(F.col("vec_id") < N_CENTROIDS)
    a, b = v.alias("a"), F.broadcast(cents).alias("b")
    cos = F.expr(_DOT_S) / (F.col("a.nrm") * F.col("b.nrm"))
    return a.join(b).select(
        F.col("a.vec_id").alias("vec_id"),
        F.col("b.vec_id").alias("centroid_id"),
        cos.alias("cos_c"),
    )


def _ivf_assign(scored: DataFrame) -> DataFrame:
    """Nearest-centroid argmax shared by q31/q52: max_by(struct(cos,
    -centroid_id)) — same survivor as the oracle's ORDER BY cos DESC,
    centroid_id ASC window, but with map-side partial aggregation instead
    of a full N*K window shuffle. Any change to this tie-break MUST stay
    mirrored in both queries' oracle SQL."""
    return scored.groupBy("vec_id").agg(
        F.max_by(
            F.col("centroid_id"),
            F.struct(F.col("cos_c").alias("c"), (-F.col("centroid_id")).alias("neg_id")),
        ).alias("centroid_id")
    )


@register(
    "q30_ann_bruteforce",
    oracle=f"""
    WITH v AS ({_DUCK_VEC_CTE})
    SELECT query_id, neighbor_id, cosine, CAST(rnk AS INTEGER) AS rank FROM (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             {_DOT_D} / (a.nrm * b.nrm) AS cosine,
             row_number() OVER (
               PARTITION BY a.vec_id
               ORDER BY {_DOT_D} / (a.nrm * b.nrm) DESC, b.vec_id
             ) AS rnk
      FROM v a JOIN v b ON a.vec_id < {N_QUERIES} AND b.vec_id <> a.vec_id
    ) WHERE rnk <= {TOP_K}
    """,
    doc="Exact cosine top-k (brute force): the ANN baseline. O(N*Q) dots "
    "computed map-side; the only shuffle is the per-query top-k window "
    "over Q*N scored rows, which AQE keeps partition-local per query. "
    "For large Q use operators.similarity.brute_force_topk_pandas (Arrow "
    "matmul + partial top-k merge, verified equal in tests).",
    tags=("similarity",),
)
def q30_ann_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    v = _vec_view_spark(spark, sf_dir)
    # broadcast the Q-sized query side EXPLICITLY: the non-equi join
    # is a BroadcastNestedLoopJoin and size estimates at corpus scale
    # picked the N-side once (q258 at gen1000x: 2M vectors broadcast,
    # JVM death) — the q255 convention, now uniform
    a = F.broadcast(v.filter(F.col("vec_id") < N_QUERIES)).alias("a")
    b = v.alias("b")
    cos = F.expr(_DOT_S) / (F.col("a.nrm") * F.col("b.nrm"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        a.join(b, F.col("b.vec_id") != F.col("a.vec_id"))
        .select(
            F.col("a.vec_id").alias("query_id"),
            F.col("b.vec_id").alias("neighbor_id"),
            cos.alias("cosine"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .withColumn("rank", F.col("rank").cast("int"))
    )


@register(
    "q31_ann_ivf",
    oracle=f"""
    WITH v AS ({_DUCK_VEC_CTE}),
    cents AS (SELECT * FROM v WHERE vec_id < {N_CENTROIDS}),
    assign AS (
      SELECT vec_id, centroid_id FROM (
        SELECT a.vec_id, b.vec_id AS centroid_id,
               row_number() OVER (
                 PARTITION BY a.vec_id
                 ORDER BY {_DOT_D} / (a.nrm * b.nrm) DESC, b.vec_id
               ) AS rnk
        FROM v a JOIN cents b ON true
      ) WHERE rnk = 1
    )
    SELECT query_id, neighbor_id, cosine, CAST(rnk AS INTEGER) AS rank FROM (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             {_DOT_D} / (a.nrm * b.nrm) AS cosine,
             row_number() OVER (
               PARTITION BY a.vec_id
               ORDER BY {_DOT_D} / (a.nrm * b.nrm) DESC, b.vec_id
             ) AS rnk
      FROM v a
      JOIN assign qa ON qa.vec_id = a.vec_id
      JOIN assign ba ON ba.centroid_id = qa.centroid_id AND ba.vec_id <> a.vec_id
      JOIN v b ON b.vec_id = ba.vec_id
      WHERE a.vec_id < {N_QUERIES}
    ) WHERE rnk <= {TOP_K}
    """,
    doc=f"IVF-style approximate top-k: a FIXED set of K={N_CENTROIDS} "
    "centroids (deterministic sample: vec_id < K) is broadcast to assign "
    "every vector to its nearest centroid. Assignment is a broadcast join "
    "followed by a max_by group-by whose partial (map-side) aggregation "
    "collapses the N*K scored rows to N before any shuffle — no window "
    "sort over N*K rows, and K never grows with the corpus, so the "
    "broadcast and the O(N*K) map stage both survive a 100 TB scale-up. "
    "Each query then probes only its own cluster via a (centroid_id) "
    "equi-join — candidates shrink ~K-fold vs brute force. Same "
    "approximation computed by both engines, so exact hash parity.",
    tags=("similarity",),
)
def q31_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    v = _vec_view_spark(spark, sf_dir)
    assign = _ivf_assign(_ivf_scored(v))

    qa = assign.alias("qa")
    ba = assign.alias("ba")
    cand = (
        v.alias("a")
        .filter(F.col("a.vec_id") < N_QUERIES)
        .join(qa, F.col("qa.vec_id") == F.col("a.vec_id"))
        .join(
            ba,
            (F.col("ba.centroid_id") == F.col("qa.centroid_id"))
            & (F.col("ba.vec_id") != F.col("a.vec_id")),
        )
        .join(v.alias("b"), F.col("b.vec_id") == F.col("ba.vec_id"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        cand.select(
            F.col("a.vec_id").alias("query_id"),
            F.col("b.vec_id").alias("neighbor_id"),
            (F.expr(_DOT_S) / (F.col("a.nrm") * F.col("b.nrm"))).alias("cosine"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .withColumn("rank", F.col("rank").cast("int"))
    )


N_PROBE = 2


@register(
    "q52_ann_ivf_nprobe",
    oracle=f"""
    WITH v AS ({_DUCK_VEC_CTE}),
    cents AS (SELECT * FROM v WHERE vec_id < {N_CENTROIDS}),
    assign AS (
      SELECT vec_id, centroid_id FROM (
        SELECT a.vec_id, b.vec_id AS centroid_id,
               row_number() OVER (
                 PARTITION BY a.vec_id
                 ORDER BY {_DOT_D} / (a.nrm * b.nrm) DESC, b.vec_id
               ) AS rnk
        FROM v a JOIN cents b ON true
      ) WHERE rnk = 1
    ),
    qassign AS (
      SELECT vec_id, centroid_id FROM (
        SELECT a.vec_id, b.vec_id AS centroid_id,
               row_number() OVER (
                 PARTITION BY a.vec_id
                 ORDER BY {_DOT_D} / (a.nrm * b.nrm) DESC, b.vec_id
               ) AS rnk
        FROM v a JOIN cents b ON a.vec_id < {N_QUERIES}
      ) WHERE rnk <= {N_PROBE}
    )
    SELECT query_id, neighbor_id, cosine, CAST(rnk AS INTEGER) AS rank FROM (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             {_DOT_D} / (a.nrm * b.nrm) AS cosine,
             row_number() OVER (
               PARTITION BY a.vec_id
               ORDER BY {_DOT_D} / (a.nrm * b.nrm) DESC, b.vec_id
             ) AS rnk
      FROM v a
      JOIN qassign qa ON qa.vec_id = a.vec_id
      JOIN assign ba ON ba.centroid_id = qa.centroid_id AND ba.vec_id <> a.vec_id
      JOIN v b ON b.vec_id = ba.vec_id
      WHERE a.vec_id < {N_QUERIES}
    ) WHERE rnk <= {TOP_K}
    """,
    doc=f"IVF with multi-cluster probing (nprobe={N_PROBE}): database "
    "vectors keep the shuffle-free max_by assignment of q31, while each "
    "QUERY fans out to its 2 nearest centroids — a per-query window over "
    "only Q*K rows (Q tiny), so the recall boost costs nothing at corpus "
    "scale. Candidates are then the union of the probed clusters; "
    "duplicate (query, neighbor) pairs cannot arise because each "
    "database vector belongs to exactly one cluster.",
    tags=("similarity",),
)
def q52_ann_ivf_nprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    v = _vec_view_spark(spark, sf_dir)
    scored = _ivf_scored(v)
    # database side: argmax via map-side partial max_by (the q31 shape)
    assign = _ivf_assign(scored)
    # query side: top-nprobe centroids; the window touches only Q*K rows
    wq = Window.partitionBy("vec_id").orderBy(F.desc("cos_c"), F.asc("centroid_id"))
    qassign = (
        scored.filter(F.col("vec_id") < N_QUERIES)
        .withColumn("rnk", F.row_number().over(wq))
        .filter(F.col("rnk") <= N_PROBE)
        .select("vec_id", "centroid_id")
    )

    qa, ba = qassign.alias("qa"), assign.alias("ba")
    cand = (
        v.alias("a")
        .filter(F.col("a.vec_id") < N_QUERIES)
        .join(qa, F.col("qa.vec_id") == F.col("a.vec_id"))
        .join(
            ba,
            (F.col("ba.centroid_id") == F.col("qa.centroid_id"))
            & (F.col("ba.vec_id") != F.col("a.vec_id")),
        )
        .join(v.alias("b"), F.col("b.vec_id") == F.col("ba.vec_id"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        cand.select(
            F.col("a.vec_id").alias("query_id"),
            F.col("b.vec_id").alias("neighbor_id"),
            (F.expr(_DOT_S) / (F.col("a.nrm") * F.col("b.nrm"))).alias("cosine"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .withColumn("rank", F.col("rank").cast("int"))
    )


_DOT_AA_S, _DOT_AA_D = dot_pair("a.emb", "a.emb")
_DOT_AC_S, _DOT_AC_D = dot_pair("a.emb", "c.cemb")
_DOT_CC_S, _DOT_CC_D = dot_pair("c.cemb", "c.cemb")


@register(
    "q38a_kmeans_one_step",
    oracle=f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    cents AS (
      SELECT vec_id AS centroid_id, emb AS cemb FROM v WHERE vec_id < {N_CENTROIDS}
    ),
    scored AS (
      SELECT a.vec_id, c.centroid_id,
             {_DOT_AA_D} - 2 * {_DOT_AC_D} + {_DOT_CC_D} AS dist
      FROM v a CROSS JOIN cents c
    ),
    assign AS (
      SELECT vec_id, centroid_id FROM (
        SELECT *, row_number() OVER (
          PARTITION BY vec_id ORDER BY dist, centroid_id
        ) AS rnk FROM scored
      ) WHERE rnk = 1
    ),
    el AS (
      SELECT v.vec_id, t.i AS dim,
             CAST(floor(v.emb[t.i + 1] * 1000000000 + 0.5) AS BIGINT) AS x_nano
      FROM v, range(0, 64) t(i)
    )
    SELECT s.centroid_id, CAST(e.dim AS BIGINT) AS dim,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(SUM(e.x_nano) AS BIGINT) AS dim_sum_nano
    FROM assign s JOIN el e ON e.vec_id = s.vec_id
    GROUP BY s.centroid_id, e.dim
    """,
    doc="ONE unrolled Lloyd's iteration, fully SQL-expressible — the "
    "value-level oracle for the iterative k-means operator (q38 stays the "
    "rows-only 5-iteration profile). Assignment: argmin of the squared-"
    "euclidean expansion x.x - 2x.c + c.c over the 16 broadcast bootstrap "
    "centroids, every dot an index-ordered fold (bit-identical across "
    "engines), ties to the lowest centroid id. Update: per (centroid, "
    "dim), member count and the element sum in integer nano-units "
    "(floor(x*1e9+0.5): double*int and floor are bit-identical across "
    "engines, and int64 sums are order-independent — a per-element "
    "DECIMAL cast is NOT, the engines' double->decimal roundings differ "
    "in the last digit). Count and sum together determine the updated "
    "centroid, so any assignment, tie-break, or partial-sum bug changes "
    "a hashed value. tests/test_kmeans_quant.py cross-checks "
    "operators.kmeans against this query's implied centroids.",
    tags=("similarity", "oracle-twin"),
)
def q38a_kmeans_one_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.select(
        "vec_id", F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("emb")
    )
    cents = v.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"), F.col("emb").alias("cemb")
    )
    a, c = v.alias("a"), F.broadcast(cents).alias("c")
    dist = (
        F.expr(_DOT_AA_S) - F.lit(2.0) * F.expr(_DOT_AC_S) + F.expr(_DOT_CC_S)
    ).alias("dist")
    scored = a.join(c).select(F.col("a.vec_id").alias("vec_id"), "centroid_id", dist)
    # map-side partial min_by (the q31 shape): ties -> lowest centroid_id
    # via lexicographic struct comparison; no N*K window shuffle.
    assign = scored.groupBy("vec_id").agg(
        F.min_by("centroid_id", F.struct("dist", "centroid_id")).alias("centroid_id")
    )
    el = v.select("vec_id", F.posexplode("emb").alias("dim", "x")).withColumn(
        "x_nano", F.floor(F.col("x") * F.lit(1000000000.0) + F.lit(0.5)).cast("long")
    )
    return (
        assign.join(el, "vec_id")
        .groupBy("centroid_id", F.col("dim").cast("long").alias("dim"))
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum("x_nano").alias("dim_sum_nano"),
        )
    )


@register(
    "q38_kmeans_ivf_clusters",
    oracle=None,  # iterative algorithm: the declared rows-only case
    doc="Trained-IVF cluster profile: 5 Lloyd's iterations refine the "
    "q31 bootstrap centroids (operators.kmeans). Each iteration is one "
    "mapInPandas pass emitting <= k partial-sum rows per partition "
    "(map-side combine; shuffle volume independent of corpus size), with "
    "kilobyte centroids held on the driver between jobs — the MLlib "
    "pattern without its abstractions. Iterative = not SQL-expressible, "
    "so this entry is deliberately rows-only (k rows, fixed schema).",
    tags=("similarity", "iterative", "pandas-udf"),
)
def q38_kmeans_ivf_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.kmeans import kmeans_assign, kmeans_fit

    emb = load_table(spark, sf_dir, "embeddings")
    if emb.isEmpty():
        # fresh partition / filtered-out slice: nothing to train on — an
        # empty profile with the trained schema, not a crash
        # (kmeans_fit itself still raises: training on zero rows is a
        # caller error; the QUERY degrades gracefully).
        return rows_frame(
            spark, [], "centroid_id int, n_members long, avg_sq_dist double"
        )
    centroids = kmeans_fit(emb, k=N_CENTROIDS, iters=5)
    return (
        kmeans_assign(emb, centroids)
        .groupBy("centroid_id")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.round(F.avg("sq_dist"), 4).alias("avg_sq_dist"),
        )
    )


_QUANT_LEVELS = 127  # symmetric int8


@register(
    "q39_embedding_quantization",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, embedding::DOUBLE[] AS emb,
             greatest(list_max(list_transform(embedding::DOUBLE[], x -> abs(x))),
                      1e-30) / {_QUANT_LEVELS}.0 AS scale
      FROM embeddings
    ),
    q AS (
      SELECT vec_id, emb, scale,
             list_transform(emb, x -> floor(x / scale + 0.5)) AS qv
      FROM v
    )
    SELECT vec_id, scale,
           CAST(list_sum(qv) AS BIGINT) AS qsum,
           round(list_dot_product(emb, qv)
                 / (sqrt(list_dot_product(emb, emb))
                    * sqrt(list_dot_product(qv, qv))), 4) AS recon_cos
    FROM q
    """,
    doc=f"Symmetric int8 embedding quantization (4x storage/bandwidth cut "
    f"for ANN): per-vector scale = max|x|/{_QUANT_LEVELS}, levels = "
    f"floor(x/scale + 0.5) — floor instead of round because both engines "
    f"define floor identically while round's half-rule differs. Scale "
    f"cancels in cosine, so reconstruction quality is the cosine between "
    f"the raw vector and its integer levels (rounded 4dp for the "
    f"interpolation ulp). All per-row arithmetic: map-side, no shuffle.",
    tags=("similarity", "quantization"),
)
def q39_embedding_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.selectExpr(
        "vec_id",
        "transform(embedding, x -> CAST(x AS DOUBLE)) AS emb",
        f"greatest(array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE)))), "
        f"1e-30D) / {_QUANT_LEVELS}.0D AS scale",
    )
    q = v.selectExpr(
        "vec_id",
        "emb",
        "scale",
        # Spark floor(double) -> BIGINT; keep doubles for the dot products
        "transform(emb, x -> CAST(floor(x / scale + 0.5) AS DOUBLE)) AS qv",
    )
    return q.selectExpr(
        "vec_id",
        "scale",
        "CAST(aggregate(qv, 0.0D, (acc, x) -> acc + x) AS BIGINT) AS qsum",
        "round(aggregate(zip_with(emb, qv, (x, y) -> x * y), 0.0D, (acc, v) -> acc + v) "
        "/ (sqrt(aggregate(zip_with(emb, emb, (x, y) -> x * y), 0.0D, (acc, v) -> acc + v)) "
        "* sqrt(aggregate(zip_with(qv, qv, (x, y) -> x * y), 0.0D, (acc, v) -> acc + v))), 4) "
        "AS recon_cos",
    )


RERANK_K = 3 * TOP_K  # quantized probe keeps 3k candidates for exact re-rank

_QDOT_S, _QDOT_D = dot_pair("a.qv", "b.qv")


@register(
    "q62_ann_quantized",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, emb, sqrt(list_dot_product(emb, emb)) AS nrm,
             greatest(list_max(list_transform(emb, x -> abs(x))), 1e-30)
               / {_QUANT_LEVELS}.0 AS scale
      FROM (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings)
    ),
    q AS (
      SELECT vec_id, emb, nrm, scale,
             list_transform(emb, x -> floor(x / scale + 0.5)) AS qv
      FROM v
    ),
    probe AS (
      SELECT query_id, neighbor_id FROM (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY a.vec_id
                 ORDER BY ({_QDOT_D} * a.scale * b.scale) / (a.nrm * b.nrm) DESC,
                          b.vec_id
               ) AS rnk
        FROM q a JOIN q b ON a.vec_id < {N_QUERIES} AND b.vec_id <> a.vec_id
      ) WHERE rnk <= {RERANK_K}
    )
    SELECT query_id, neighbor_id, cosine, CAST(rnk AS INTEGER) AS rank FROM (
      SELECT p.query_id, p.neighbor_id,
             list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm) AS cosine,
             row_number() OVER (
               PARTITION BY p.query_id
               ORDER BY list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm) DESC,
                        p.neighbor_id
             ) AS rnk
      FROM probe p
      JOIN v a ON a.vec_id = p.query_id
      JOIN v b ON b.vec_id = p.neighbor_id
    ) WHERE rnk <= {TOP_K}
    """,
    doc=f"Quantized ANN search — the composition q39 + q30 were halves "
    f"of: PROBE with int8 levels (integer dot products: every term is an "
    f"exact integer <= 127^2, so the sum is order-independent and "
    f"bit-identical across engines — cheaper and 4x less memory "
    f"bandwidth than fp64 at corpus scale), keep the top {RERANK_K} "
    f"candidates per query, then RE-RANK those at full fp64 cosine for "
    f"the final top {TOP_K}. Scale cancellation makes the quantized "
    f"ranking nearly order-preserving, so recall@{TOP_K} stays high "
    f"(asserted >= 0.9 vs brute force in pytest) while the expensive "
    f"exact scoring touches only {RERANK_K} rows per query. Fully "
    f"oracle-checked: quantization grid, integer dots, and both windows "
    f"are deterministic in both dialects.",
    tags=("similarity", "quantization"),
)
def q62_ann_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.selectExpr(
        "vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS emb"
    ).selectExpr(
        "vec_id",
        "emb",
        "sqrt(aggregate(zip_with(emb, emb, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "0.0D, (acc, v) -> acc + v)) AS nrm",
        f"greatest(array_max(transform(emb, x -> abs(x))), 1e-30D) / {_QUANT_LEVELS}.0D AS scale",
    )
    q = v.selectExpr(
        "vec_id",
        "emb",
        "nrm",
        "scale",
        "transform(emb, x -> CAST(floor(x / scale + 0.5) AS DOUBLE)) AS qv",
    )
    a = q.filter(F.col("vec_id") < N_QUERIES).alias("a")
    b = q.alias("b")
    approx = (F.expr(_QDOT_S) * F.col("a.scale") * F.col("b.scale")) / (
        F.col("a.nrm") * F.col("b.nrm")
    )
    wp = Window.partitionBy("query_id").orderBy(F.desc("approx"), F.asc("neighbor_id"))
    probe = (
        a.join(b, F.col("b.vec_id") != F.col("a.vec_id"))
        .select(
            F.col("a.vec_id").alias("query_id"),
            F.col("b.vec_id").alias("neighbor_id"),
            approx.alias("approx"),
        )
        .withColumn("rnk", F.row_number().over(wp))
        .filter(F.col("rnk") <= RERANK_K)
        .select("query_id", "neighbor_id")
    )
    av = v.alias("a")
    bv = v.alias("b")
    cos = F.expr(_DOT_S) / (F.col("a.nrm") * F.col("b.nrm"))
    wr = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        probe.join(av, F.col("a.vec_id") == F.col("query_id"))
        .join(bv, F.col("b.vec_id") == F.col("neighbor_id"))
        .select("query_id", "neighbor_id", cos.alias("cosine"))
        .withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= TOP_K)
        .withColumn("rank", F.col("rank").cast("int"))
    )


@register(
    "q64_ann_ivf_quantized",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, emb, sqrt(list_dot_product(emb, emb)) AS nrm,
             greatest(list_max(list_transform(emb, x -> abs(x))), 1e-30)
               / {_QUANT_LEVELS}.0 AS scale
      FROM (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings)
    ),
    q AS (
      SELECT vec_id, emb, nrm, scale,
             list_transform(emb, x -> floor(x / scale + 0.5)) AS qv
      FROM v
    ),
    cents AS (SELECT * FROM v WHERE vec_id < {N_CENTROIDS}),
    assign AS (
      SELECT vec_id, centroid_id FROM (
        SELECT a.vec_id, b.vec_id AS centroid_id,
               row_number() OVER (
                 PARTITION BY a.vec_id
                 ORDER BY {_DOT_D} / (a.nrm * b.nrm) DESC, b.vec_id
               ) AS rnk
        FROM v a JOIN cents b ON true
      ) WHERE rnk = 1
    ),
    probe AS (
      SELECT query_id, neighbor_id FROM (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY a.vec_id
                 ORDER BY ({_QDOT_D} * a.scale * b.scale) / (a.nrm * b.nrm) DESC,
                          b.vec_id
               ) AS rnk
        FROM q a
        JOIN assign qa ON qa.vec_id = a.vec_id
        JOIN assign ba ON ba.centroid_id = qa.centroid_id
                      AND ba.vec_id <> a.vec_id
        JOIN q b ON b.vec_id = ba.vec_id
        WHERE a.vec_id < {N_QUERIES}
      ) WHERE rnk <= {RERANK_K}
    )
    SELECT query_id, neighbor_id, cosine, CAST(rnk AS INTEGER) AS rank FROM (
      SELECT p.query_id, p.neighbor_id,
             list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm) AS cosine,
             row_number() OVER (
               PARTITION BY p.query_id
               ORDER BY list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm) DESC,
                        p.neighbor_id
             ) AS rnk
      FROM probe p
      JOIN v a ON a.vec_id = p.query_id
      JOIN v b ON b.vec_id = p.neighbor_id
    ) WHERE rnk <= {TOP_K}
    """,
    doc=f"The full production ANN stack in one plan — all three published "
    f"tricks composed: (1) IVF pruning via q31's shuffle-free max_by "
    f"assignment restricts each query to its own cluster (~K-fold fewer "
    f"candidates); (2) the int8 probe (q62) ranks those candidates with "
    f"exact-integer dot products (4x less memory bandwidth — at 100 TB "
    f"the quantized corpus is what fits in cluster RAM); (3) fp64 "
    f"re-rank of the top {RERANK_K} yields the final top {TOP_K}. Each "
    f"stage already oracle-checked alone (q31/q62/q30); this entry "
    f"hash-checks their composition end-to-end.",
    tags=("similarity", "quantization", "composition"),
)
def q64_ann_ivf_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.selectExpr(
        "vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS emb"
    ).selectExpr(
        "vec_id",
        "emb",
        "sqrt(aggregate(zip_with(emb, emb, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "0.0D, (acc, v) -> acc + v)) AS nrm",
        f"greatest(array_max(transform(emb, x -> abs(x))), 1e-30D) / {_QUANT_LEVELS}.0D AS scale",
    )
    q = v.selectExpr(
        "vec_id",
        "emb",
        "nrm",
        "scale",
        "transform(emb, x -> CAST(floor(x / scale + 0.5) AS DOUBLE)) AS qv",
    )
    # IVF assignment: q31's shape — broadcast centroids, map-side max_by
    cents = v.filter(F.col("vec_id") < N_CENTROIDS)
    a_s, c_s = v.alias("a"), F.broadcast(cents).alias("b")
    cos_c = F.expr(_DOT_S) / (F.col("a.nrm") * F.col("b.nrm"))
    scored = a_s.join(c_s).select(
        F.col("a.vec_id").alias("vec_id"),
        F.col("b.vec_id").alias("centroid_id"),
        cos_c.alias("cos_c"),
    )
    assign = _ivf_assign(scored)

    qa, ba = assign.alias("qa"), assign.alias("ba")
    approx = (F.expr(_QDOT_S) * F.col("a.scale") * F.col("b.scale")) / (
        F.col("a.nrm") * F.col("b.nrm")
    )
    wp = Window.partitionBy("query_id").orderBy(F.desc("approx"), F.asc("neighbor_id"))
    probe = (
        q.alias("a")
        .filter(F.col("a.vec_id") < N_QUERIES)
        .join(qa, F.col("qa.vec_id") == F.col("a.vec_id"))
        .join(
            ba,
            (F.col("ba.centroid_id") == F.col("qa.centroid_id"))
            & (F.col("ba.vec_id") != F.col("a.vec_id")),
        )
        .join(q.alias("b"), F.col("b.vec_id") == F.col("ba.vec_id"))
        .select(
            F.col("a.vec_id").alias("query_id"),
            F.col("b.vec_id").alias("neighbor_id"),
            approx.alias("approx"),
        )
        .withColumn("rnk", F.row_number().over(wp))
        .filter(F.col("rnk") <= RERANK_K)
        .select("query_id", "neighbor_id")
    )
    cos = F.expr(_DOT_S) / (F.col("a.nrm") * F.col("b.nrm"))
    wr = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        probe.join(v.alias("a"), F.col("a.vec_id") == F.col("query_id"))
        .join(v.alias("b"), F.col("b.vec_id") == F.col("neighbor_id"))
        .select("query_id", "neighbor_id", cos.alias("cosine"))
        .withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= TOP_K)
        .withColumn("rank", F.col("rank").cast("int"))
    )


_RP_SPARK = [rp_bucket_pair("emb", t)[0] for t in range(RP_TABLES)]
_RP_DUCK = [rp_bucket_pair("emb", t)[1] for t in range(RP_TABLES)]


@register(
    "q32_rp_lsh_neardup",
    oracle=f"""
    WITH v AS ({_DUCK_VEC_CTE}),
    buckets AS (
      {" UNION ALL ".join(
          f"SELECT vec_id, emb, nrm, {t} AS tbl, ({e}) AS bucket FROM v"
          for t, e in enumerate(_RP_DUCK)
      )}
    ),
    okbuckets AS (
      SELECT vec_id, tbl, bucket FROM (
        SELECT *, COUNT(*) OVER (PARTITION BY tbl, bucket) AS bucket_n
        FROM buckets
      ) WHERE bucket_n <= {RP_MAX_BUCKET}
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM okbuckets a JOIN okbuckets b
        ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id
    )
    SELECT c.vec_a, c.vec_b, {_DOT_D} / (a.nrm * b.nrm) AS cosine
    FROM cand c JOIN v a ON a.vec_id = c.vec_a JOIN v b ON b.vec_id = c.vec_b
    WHERE {_DOT_D} / (a.nrm * b.nrm) >= {NEARDUP_COS}
    """,
    doc=f"Embedding near-dup pairs via random-projection LSH: {RP_TABLES} "
    f"tables of sign-bit buckets from fixed integer hyperplanes; candidate "
    f"pairs come from (table, bucket) equality — never an all-pairs scan — "
    f"with buckets above {RP_MAX_BUCKET} members dropped before pairing "
    f"(hot-bucket cap, mirrored in the oracle; q59 reports the drops), "
    f"then exact cosine >= {NEARDUP_COS} verification. Buckets are computed "
    f"by the Arrow/numpy twin (operators.similarity.rp_buckets_pandas) with "
    f"fold-order-exact accumulation, so DuckDB reproduces them bit-for-bit; "
    f"the pure-SQL expression path (rp_bucket_pair) is kept and "
    f"equality-tested against the Arrow path in tests.",
    tags=("similarity", "dedup", "lsh"),
)
def q32_rp_lsh_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return rp_neardup_pairs(emb)


def rp_neardup_pairs(
    emb: DataFrame, max_bucket: int = RP_MAX_BUCKET, min_cos: float = NEARDUP_COS
) -> DataFrame:
    """q32's body as a reusable operator (parameterized cap for tests).
    The bucket count is a window over (tbl, bucket) — the self-join's own
    shuffle key — so capping costs one co-partitioned pass."""
    v = emb.select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("emb"),
        F.expr(_NORM_S.replace("embedding", "embedding")).alias("nrm"),
    )
    from pyspark.sql import Window

    buckets = rp_buckets_pandas(emb)
    w = Window.partitionBy("tbl", "bucket")
    ok = (
        buckets.withColumn("bucket_n", F.count(F.lit(1)).over(w))
        .filter(F.col("bucket_n") <= max_bucket)
        .drop("bucket_n")
    )
    # In-bucket pair expansion (the q22 shape): the bucket-keyed
    # SELF-JOIN form executes the Arrow bucket subtree once per side
    # and pays an extra exchange; collecting the capped bucket members
    # per (tbl, bucket) is co-partitioned with the window — no new
    # exchange, arrays bounded by the cap because only cap-surviving
    # rows are collected. Identical pair set (every shared ok-bucket
    # yields each a<b pair once; distinct() dedups across tables).
    cand = (
        ok.groupBy("tbl", "bucket")
        .agg(F.sort_array(F.collect_list("vec_id")).alias("ids"))
        .filter(F.size("ids") >= 2)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(sequence(1, size(ids) - 1), "
                    "i -> transform(slice(ids, i + 1, size(ids) - i), "
                    "y -> struct(element_at(ids, i) AS vec_a, y AS vec_b))))"
                )
            ).alias("p")
        )
        .select("p.vec_a", "p.vec_b")
        .distinct()
    )
    av, bv = v.alias("a"), v.alias("b")
    cos = F.expr(_DOT_S) / (F.col("a.nrm") * F.col("b.nrm"))
    return (
        cand.join(av, F.col("a.vec_id") == F.col("vec_a"))
        .join(bv, F.col("b.vec_id") == F.col("vec_b"))
        .select("vec_a", "vec_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= min_cos)
    )


@register(
    "q66_embedding_neardup_components",
    oracle=f"""
    WITH RECURSIVE v AS ({_DUCK_VEC_CTE}),
    buckets AS (
      {" UNION ALL ".join(
          f"SELECT vec_id, emb, nrm, {t} AS tbl, ({e}) AS bucket FROM v"
          for t, e in enumerate(_RP_DUCK)
      )}
    ),
    okbuckets AS (
      SELECT vec_id, tbl, bucket FROM (
        SELECT *, COUNT(*) OVER (PARTITION BY tbl, bucket) AS bucket_n
        FROM buckets
      ) WHERE bucket_n <= {RP_MAX_BUCKET}
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM okbuckets a JOIN okbuckets b
        ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id
    ),
    verified AS (
      SELECT c.vec_a, c.vec_b
      FROM cand c JOIN v a ON a.vec_id = c.vec_a JOIN v b ON b.vec_id = c.vec_b
      WHERE {_DOT_D} / (a.nrm * b.nrm) >= {NEARDUP_COS}
    ),
    edges AS (
      SELECT vec_a AS src, vec_b AS dst FROM verified
      UNION ALL
      SELECT vec_b AS src, vec_a AS dst FROM verified
    ),
    reach(vec_id, label) AS (
      SELECT vec_id, vec_id FROM v
      UNION
      SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.vec_id
    )
    SELECT vec_id, CAST(MIN(label) AS BIGINT) AS component_id
    FROM reach GROUP BY vec_id
    """,
    doc="Embedding near-dup CLUSTERS: connected components over q32's "
    "verified cosine>=threshold pairs (capped RP-LSH candidates) — the "
    "embedding-space twin of q60's text components, closing the "
    "transitivity gap for semantic dedup the same way: one canonical "
    "vector (min vec_id) per cluster. Same operators.graph min-label "
    "propagation; same WITH RECURSIVE oracle pattern; fully hash-checked "
    "despite being iterative.",
    tags=("similarity", "dedup", "graph", "iterative"),
)
def q66_embedding_neardup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_components(emb, rp_neardup_pairs(emb).select("vec_a", "vec_b"))


def embedding_components(emb: DataFrame, pairs: DataFrame) -> DataFrame:
    """(vec_id, component_id) over verified (vec_a, vec_b) pairs — the
    one CC call of q66 (pairs verified in-plan) and q271 (pairs read
    from the checkpoint)."""
    from ..operators.graph import connected_components

    return connected_components(
        emb.select("vec_id"),
        pairs,
        id_col="vec_id",
        src_col="vec_a",
        dst_col="vec_b",
    ).select(F.col("id").alias("vec_id"), "component_id")


# ---------------------------------------------------------------------------
# Prototypicality-based data pruning (q87) — the SSL-prototypes rule of
# Sorscher et al., "Beyond neural scaling laws" (arXiv:2206.14486): rank
# examples by cosine to their cluster centroid; when data is ABUNDANT,
# prune the most prototypical (easiest) examples and keep the hard ones.
# ---------------------------------------------------------------------------

PRUNE_KEEP_DEN = 5  # prune the top-1/5 most prototypical per cluster

_DOT_PC_S, _DOT_PC_D = dot_pair("a.emb", "c.cemb")


@register(
    "q87_prototypicality_pruning",
    oracle=f"""
    WITH v AS ({_DUCK_VEC_CTE}),
    cents AS (
      SELECT vec_id AS centroid_id, emb AS cemb, nrm AS cnrm
      FROM v WHERE vec_id < {N_CENTROIDS}
    ),
    scored AS (
      SELECT a.vec_id, c.centroid_id,
             {_DOT_PC_D} / (a.nrm * c.cnrm) AS cos_c
      FROM v a CROSS JOIN cents c
    ),
    assigned AS (
      SELECT vec_id, centroid_id, cos_c FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY vec_id ORDER BY cos_c DESC, centroid_id ASC
        ) AS rn FROM scored
      ) WHERE rn = 1
    ),
    ranked AS (
      SELECT *,
             ROW_NUMBER() OVER (
               PARTITION BY centroid_id ORDER BY cos_c DESC, vec_id ASC
             ) AS proto_rank,
             COUNT(*) OVER (PARTITION BY centroid_id) AS cluster_n
      FROM assigned
    )
    SELECT vec_id, centroid_id, cos_c,
           CAST(proto_rank AS BIGINT) AS proto_rank,
           ((proto_rank - 1) * {PRUNE_KEEP_DEN} < cluster_n) AS pruned
    FROM ranked
    """,
    doc=f"Prototypicality pruning (SSL-prototypes rule, Sorscher et al. "
    f"arXiv:2206.14486): every embedding is assigned to its nearest of "
    f"the {N_CENTROIDS} broadcast bootstrap centroids (q31's assignment "
    f"— the window form here is the oracle; the engine uses the "
    f"max_by partial-agg shape that never shuffles N*K rows), ranked "
    f"within its cluster by cosine TO that centroid, and the most "
    f"prototypical ceil(n/{PRUNE_KEEP_DEN}) per cluster are flagged "
    f"pruned — in the abundant-data regime easy/redundant examples "
    f"contribute least to loss. The flag uses exact integer arithmetic "
    f"((rank-1)*{PRUNE_KEEP_DEN} < n <=> rank <= ceil(n/"
    f"{PRUNE_KEEP_DEN})), so the keep set is deterministic and "
    f"hash-checkable. Scale shape: broadcast centroids, map-side "
    f"max_by assignment, then ONE shuffle keyed on centroid_id for the "
    f"rank window — cluster count is fixed, AQE splits skewed clusters.",
    tags=("similarity", "pruning", "mixing"),
)
def q87_prototypicality_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    v = _vec_view_spark(spark, sf_dir)
    scored = _ivf_scored(v)
    # argmax centroid per vector WITH its cosine: max(cos) is the cosine of
    # the argmax by construction; the max_by tiebreak (highest cos, then
    # LOWEST centroid_id) must stay mirrored in the oracle's window.
    assigned = scored.groupBy("vec_id").agg(
        F.max("cos_c").alias("cos_c"),
        F.max_by(
            F.col("centroid_id"),
            F.struct(F.col("cos_c").alias("c"), (-F.col("centroid_id")).alias("neg_id")),
        ).alias("centroid_id"),
    )
    wr = Window.partitionBy("centroid_id").orderBy(F.desc("cos_c"), F.asc("vec_id"))
    wn = Window.partitionBy("centroid_id")
    return assigned.select(
        "vec_id",
        "centroid_id",
        "cos_c",
        F.row_number().over(wr).cast("long").alias("proto_rank"),
        F.count(F.lit(1)).over(wn).alias("cluster_n"),
    ).select(
        "vec_id",
        "centroid_id",
        "cos_c",
        "proto_rank",
        ((F.col("proto_rank") - 1) * PRUNE_KEEP_DEN < F.col("cluster_n")).alias(
            "pruned"
        ),
    )


HARD_NEG_K = 5


@register(
    "q101_hard_negative_mining",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS emb, {_NORM_D} AS nrm
      FROM embeddings
    )
    SELECT query_id, label, neighbor_id, neighbor_label, cosine,
           CAST(rnk AS INTEGER) AS rank
    FROM (
      SELECT a.vec_id AS query_id, a.label AS label,
             b.vec_id AS neighbor_id, b.label AS neighbor_label,
             {_DOT_D} / (a.nrm * b.nrm) AS cosine,
             row_number() OVER (
               PARTITION BY a.vec_id
               ORDER BY {_DOT_D} / (a.nrm * b.nrm) DESC, b.vec_id
             ) AS rnk
      FROM v a JOIN v b
        ON a.vec_id < {N_QUERIES} AND b.label <> a.label
    ) WHERE rnk <= {HARD_NEG_K}
    """,
    doc="Hard-negative mining for contrastive training: for each query "
    "vector, the top-5 most cosine-similar vectors with a DIFFERENT "
    "label — the highest-loss negatives a retrieval/embedding trainer "
    "wants in each batch (in-batch negatives are mostly easy; mined "
    "hard negatives drive the gradient). Same scale shape as q30's "
    "brute-force scorer with the label-mismatch predicate pushed into "
    "the join (scores only cross-label pairs); the production path at "
    "corpus scale swaps the scorer for the q64 ANN stack and keeps "
    "this exact form as its recall oracle.",
    tags=("similarity", "training"),
)
def q101_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.select(
        "vec_id",
        "label",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("emb"),
        F.expr(_NORM_S).alias("nrm"),
    )
    # broadcast the Q-sized query side EXPLICITLY: the non-equi join
    # is a BroadcastNestedLoopJoin and size estimates at corpus scale
    # picked the N-side once (q258 at gen1000x: 2M vectors broadcast,
    # JVM death) — the q255 convention, now uniform
    a = F.broadcast(v.filter(F.col("vec_id") < N_QUERIES)).alias("a")
    b = v.alias("b")
    cos = F.expr(_DOT_S) / (F.col("a.nrm") * F.col("b.nrm"))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        a.join(b, F.col("b.label") != F.col("a.label"))
        .select(
            F.col("a.vec_id").alias("query_id"),
            F.col("a.label").alias("label"),
            F.col("b.vec_id").alias("neighbor_id"),
            F.col("b.label").alias("neighbor_label"),
            cos.alias("cosine"),
        )
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= HARD_NEG_K)
    )


@register(
    "q103_embedding_standardize",
    oracle="""
    WITH el AS (
      SELECT CAST(i AS INTEGER) AS pos,
             CAST(FLOOR(CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE)
                        * 1000000) AS BIGINT) AS x_micros
      FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
    )
    SELECT pos,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(x_micros) AS BIGINT) AS s1,
           CAST(CAST(SUM(CAST(x_micros AS DECIMAL(19,0))
                         * CAST(x_micros AS DECIMAL(19,0)))
                     AS DECIMAL(38,0)) AS VARCHAR) AS s2,
           CAST(SUM(x_micros) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
               AS mean_micros,
           sqrt((CAST(CAST(SUM(CAST(x_micros AS DECIMAL(19,0))
                               * CAST(x_micros AS DECIMAL(19,0)))
                           AS DECIMAL(38,0)) AS DOUBLE)
                 - CAST(SUM(x_micros) AS DOUBLE)
                   * CAST(SUM(x_micros) AS DOUBLE)
                   / CAST(COUNT(*) AS DOUBLE))
                / CAST(COUNT(*) AS DOUBLE)) AS std_micros
    FROM el GROUP BY pos
    """,
    doc="Per-dimension standardization statistics for the embedding "
    "corpus (the 'fit' of a z-score scaler): mean and population std of "
    "every dimension, computed from exact integer micro-unit sums. s1 "
    "is int64-safe (|x_micros| <= 1e6 -> crosses 2^63 only at ~9.2e12 "
    "vectors per dimension), but s2's per-row term x_micros^2 reaches "
    "1e12, crossing int64 at just ~9.2e6 vectors — ONE decade above the "
    "gen1000x corpus — so s2 accumulates in DECIMAL(38,0) (identical "
    "expression tree both engines, good to ~10^26 vectors); the "
    "aggregation stays shuffle-order-independent and both engines "
    "agree bit-for-bit; mean/std are then "
    "IEEE expressions of those exact integers (sqrt is correctly "
    "rounded). Scale shape: one posexplode (64x fan-out, map-side) + "
    "one bounded-key aggregate; the 64-row result broadcasts back as "
    "the normalization model — the 'transform' step is a pure map. "
    "This is the preprocessing stage quantization (q39) and k-means "
    "(q38) assume when dimensions are badly scaled.",
    tags=("similarity", "profiling"),
)
def q103_embedding_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    el = emb.select(
        F.posexplode(F.expr("transform(embedding, x -> CAST(x AS DOUBLE))")).alias(
            "pos0", "x"
        )
    ).select(
        (F.col("pos0") + 1).cast("int").alias("pos"),
        F.floor(F.col("x") * 1000000).cast("long").alias("x_micros"),
    )
    n = F.count(F.lit(1)).cast("long")
    s1 = F.sum("x_micros").cast("long")
    s2 = F.sum(
        F.col("x_micros").cast("decimal(19,0)")
        * F.col("x_micros").cast("decimal(19,0)")
    ).cast("decimal(38,0)")
    return el.groupBy("pos").agg(
        n.alias("n"),
        s1.alias("s1"),
        s2.cast("string").alias("s2"),
        (s1.cast("double") / n.cast("double")).alias("mean_micros"),
        F.sqrt(
            (
                s2.cast("double")
                - s1.cast("double") * s1.cast("double") / n.cast("double")
            )
            / n.cast("double")
        ).alias("std_micros"),
    )


@register(
    "q111_ann_recall_eval",
    # The ground-truth and candidate sides are the ALREADY-REGISTERED
    # oracle SQL of q30/q31, spliced in verbatim — the eval can never
    # drift from the queries it evaluates.
    oracle=f"""
    WITH exact AS ({oracle_of("q30_ann_bruteforce")}),
    approx AS ({oracle_of("q31_ann_ivf")})
    SELECT e.query_id,
           CAST(COUNT(a.neighbor_id) AS BIGINT) AS n_hits,
           CAST({TOP_K} AS BIGINT) AS k,
           (COUNT(a.neighbor_id) * 1000000) // {TOP_K} AS recall_ppm
    FROM exact e
    LEFT JOIN approx a
      ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
    GROUP BY e.query_id
    """,
    doc=f"ANN recall evaluation, in-engine: recall@{TOP_K} of the IVF "
    "index (q31's plan) against the exact brute-force ground truth "
    "(q30's plan), per query — the measurement loop every ANN deployment "
    "must run before trusting its index (nprobe/K tuning reads directly "
    "off this number; q52/q62/q64 swap in as the candidate side "
    "unchanged). Both retrievals run as their production plans and meet "
    "in one (query_id, neighbor_id) join; recall is held as exact "
    "integer ppm so both engines agree bit-for-bit. Scale shape: ground "
    "truth on a FIXED query panel (Q constant, not corpus-sized), so the "
    "brute-force side stays O(N*Q) map-side work even at 100 TB — "
    "eval-on-panel is the production form.",
    tags=("similarity", "eval"),
)
def q111_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    exact = q30_ann_bruteforce(spark, sf_dir).select("query_id", "neighbor_id")
    approx = (
        q31_ann_ivf(spark, sf_dir)
        .select("query_id", "neighbor_id")
        .withColumn("hit", F.lit(1))
    )
    return (
        exact.join(approx, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("hit").cast("long").alias("n_hits"),
            F.lit(TOP_K).cast("long").alias("k"),
            F.expr(f"(count(hit) * 1000000) div {TOP_K}").alias("recall_ppm"),
        )
    )


@register(
    "q135_triplet_mining",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS emb, {_NORM_D} AS nrm
      FROM embeddings
    ),
    pos AS (
      SELECT query_id, neighbor_id AS positive_id, cosine AS pos_cosine
      FROM (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               {_DOT_D} / (a.nrm * b.nrm) AS cosine,
               row_number() OVER (
                 PARTITION BY a.vec_id
                 ORDER BY {_DOT_D} / (a.nrm * b.nrm) DESC, b.vec_id
               ) AS rnk
        FROM v a JOIN v b
          ON a.vec_id < {N_QUERIES} AND b.label = a.label
         AND b.vec_id <> a.vec_id
      ) WHERE rnk = 1
    ),
    neg AS (
      SELECT query_id, neighbor_id AS negative_id, cosine AS neg_cosine
      FROM (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               {_DOT_D} / (a.nrm * b.nrm) AS cosine,
               row_number() OVER (
                 PARTITION BY a.vec_id
                 ORDER BY {_DOT_D} / (a.nrm * b.nrm) DESC, b.vec_id
               ) AS rnk
        FROM v a JOIN v b ON a.vec_id < {N_QUERIES} AND b.label <> a.label
      ) WHERE rnk = 1
    )
    SELECT p.query_id, p.positive_id, n.negative_id,
           p.pos_cosine, n.neg_cosine,
           p.pos_cosine - n.neg_cosine AS margin
    FROM pos p JOIN neg n ON n.query_id = p.query_id
    """,
    doc="Contrastive-training triplet builder: for each anchor, the most "
    "similar SAME-label vector (the easiest positive — reverse the rank "
    "order for hard-positive mining, same plan) and the most similar "
    "CROSS-label vector (the hardest negative, q101's top-1), "
    "plus the margin the triplet loss will see — margins near zero mark "
    "the pairs that drive gradient, and a NEGATIVE margin is a label "
    "error candidate (a cross-label vector closer than every same-label "
    "one), which makes this double as a label-noise audit. Scale shape: "
    "two label-predicated scorers over the fixed anchor panel (O(N*Q) "
    "map-side), each collapsed by a per-anchor top-1 window, joined on "
    "the anchor id; production swaps the scorer for the q64 ANN stack.",
    tags=("similarity", "training"),
)
def q135_triplet_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.select(
        "vec_id",
        "label",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("emb"),
        F.expr(_NORM_S).alias("nrm"),
    )
    # broadcast the Q-sized query side EXPLICITLY: the non-equi join
    # is a BroadcastNestedLoopJoin and size estimates at corpus scale
    # picked the N-side once (q258 at gen1000x: 2M vectors broadcast,
    # JVM death) — the q255 convention, now uniform
    a = F.broadcast(v.filter(F.col("vec_id") < N_QUERIES)).alias("a")
    b = v.alias("b")
    cos = F.expr(_DOT_S) / (F.col("a.nrm") * F.col("b.nrm"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))

    def top1(pred, id_alias, cos_alias):
        return (
            a.join(b, pred)
            .select(
                F.col("a.vec_id").alias("query_id"),
                F.col("b.vec_id").alias("neighbor_id"),
                cos.alias("cosine"),
            )
            .withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") == 1)
            .select(
                "query_id",
                F.col("neighbor_id").alias(id_alias),
                F.col("cosine").alias(cos_alias),
            )
        )

    pos = top1(
        (F.col("b.label") == F.col("a.label"))
        & (F.col("b.vec_id") != F.col("a.vec_id")),
        "positive_id",
        "pos_cosine",
    )
    neg = top1(F.col("b.label") != F.col("a.label"), "negative_id", "neg_cosine")
    return pos.join(neg, "query_id").select(
        "query_id",
        "positive_id",
        "negative_id",
        "pos_cosine",
        "neg_cosine",
        (F.col("pos_cosine") - F.col("neg_cosine")).alias("margin"),
    )


NORM2_LO, NORM2_HI = 0.25, 400.0  # degenerate-embedding bounds on |v|^2


@register(
    "q150_embedding_hygiene",
    oracle=f"""
    WITH v AS ({_DUCK_VEC_CTE})
    SELECT vec_id, nrm * nrm AS norm2,
           nrm * nrm < {NORM2_LO} OR nrm * nrm > {NORM2_HI}
               AS is_degenerate
    FROM v
    """,
    doc="Embedding hygiene gate: flag vectors whose squared norm falls "
    "outside sane bounds — near-zero norms are dead embeddings (an "
    "encoder failure or padding row: their cosines are numerically "
    "meaningless and they poison every centroid they touch), extreme "
    "norms dominate un-normalized dot products. Run before ANY of the "
    "similarity stack (q30+); k-means (q38) and SemDeDup (q74) assume "
    "this gate already dropped the degenerates. norm2 is the "
    "index-ordered double dot (the registry's deterministic-sum rule), "
    "squared to avoid sqrt entirely; the flag compares doubles against "
    "exact literals, bit-identical cross-engine. Map-only, no shuffle.",
    tags=("similarity", "quality", "profiling"),
)
def q150_embedding_hygiene(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = _vec_view_spark(spark, sf_dir)
    norm2 = F.col("nrm") * F.col("nrm")
    return v.select(
        "vec_id",
        norm2.alias("norm2"),
        ((norm2 < NORM2_LO) | (norm2 > NORM2_HI)).alias("is_degenerate"),
    )


# ---------------------------------------------------------------------------
# kNN label-consistency audit (q174): the confident-learning-style
# mislabel detector — for every vector, how many of its nearest
# neighbors (by exact cosine, candidates from the RP-LSH buckets q32
# already maintains) carry the SAME label. Low agreement flags likely
# labeling noise before it poisons a classifier head or a
# hard-negative miner (q101 treats cross-label neighbors as signal;
# this query asks whether the LABEL, not the pair, is the problem).
K_AUDIT = 5


@register(
    "q174_label_consistency_audit",
    oracle=f"""
    WITH v AS ({_DUCK_VEC_CTE}),
    buckets AS (
      {" UNION ALL ".join(
          f"SELECT vec_id, {t} AS tbl, ({e}) AS bucket FROM v"
          for t, e in enumerate(_RP_DUCK)
      )}
    ),
    okbuckets AS (
      SELECT vec_id, tbl, bucket FROM (
        SELECT *, COUNT(*) OVER (PARTITION BY tbl, bucket) AS bucket_n
        FROM buckets
      ) WHERE bucket_n <= {RP_MAX_BUCKET}
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS query_id, b.vec_id AS neighbor_id
      FROM okbuckets a JOIN okbuckets b
        ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id <> b.vec_id
    ),
    topk AS (
      SELECT query_id, neighbor_id FROM (
        SELECT c.query_id, c.neighbor_id,
               ROW_NUMBER() OVER (
                 PARTITION BY c.query_id
                 ORDER BY {_DOT_D} / (a.nrm * b.nrm) DESC, c.neighbor_id
               ) AS rnk
        FROM cand c
        JOIN v a ON a.vec_id = c.query_id
        JOIN v b ON b.vec_id = c.neighbor_id
      ) WHERE rnk <= {K_AUDIT}
    )
    SELECT t.query_id AS vec_id, ql.label,
           CAST(COUNT(*) AS BIGINT) AS k_found,
           CAST(SUM(CASE WHEN nl.label = ql.label THEN 1 ELSE 0 END)
                AS BIGINT) AS n_agree,
           CAST(SUM(CASE WHEN nl.label = ql.label THEN 1 ELSE 0 END)
                * 1000000 // COUNT(*) AS BIGINT) AS agree_ppm
    FROM topk t
    JOIN embeddings ql ON ql.vec_id = t.query_id
    JOIN embeddings nl ON nl.vec_id = t.neighbor_id
    GROUP BY t.query_id, ql.label
    """,
    doc="Label-consistency audit over approximate nearest neighbors "
    f"(confident-learning shape): each vector's top-{K_AUDIT} exact-"
    "cosine neighbors among its RP-LSH bucket-mates are checked for "
    "label agreement, emitting k_found / n_agree / exact-ppm agreement "
    "per vector — the mislabeled-sample shortlist is the low-agreement "
    "tail. Candidates come from the SAME hot-bucket-capped (table, "
    "bucket) equi-joins as q32 (never all-pairs; drops reported by "
    "q59); ranking uses the bit-deterministic per-pair cosine with a "
    "total-order tiebreak, so both engines pick identical neighbor "
    "sets. Scale shape: bucket join work is capped per bucket, the "
    "top-K window partitions by query (fine-grained, no skew), and "
    "labels join on the vector key — the audit costs one candidate "
    "pass over what the dedup path already computes.",
    tags=("similarity", "training", "lsh"),
)
def q174_label_consistency_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..operators.similarity import rp_buckets_pandas

    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("emb"),
        F.expr(_NORM_S.replace("embedding", "embedding")).alias("nrm"),
    )
    labels = emb.select("vec_id", "label")
    buckets = rp_buckets_pandas(emb)
    w = Window.partitionBy("tbl", "bucket")
    ok = (
        buckets.withColumn("bucket_n", F.count(F.lit(1)).over(w))
        .filter(F.col("bucket_n") <= RP_MAX_BUCKET)
        .drop("bucket_n")
    )
    # In-bucket pair expansion (the q22/q32 shape, round-13): the
    # bucket-keyed SELF-JOIN form executed the Arrow bucket subtree
    # (scan -> rp_buckets_pandas -> cap window) once PER SIDE — the
    # round-12 before-plan shows two scans, two ArrowEvalPython nodes
    # and two window Exchanges. Collecting the capped bucket members is
    # co-partitioned with the cap window (no new exchange, arrays
    # bounded by the cap), and each a<b pair is oriented BOTH ways
    # because the audit ranks neighbors per query — exactly the pair
    # set the a.vec_id != b.vec_id join produced.
    # (both orientations come from a second inline explode, not a
    # self-union — a union's two branches would re-execute the whole
    # bucket subtree, the very duplication this removes)
    cand = (
        ok.groupBy("tbl", "bucket")
        .agg(F.sort_array(F.collect_list("vec_id")).alias("ids"))
        .filter(F.size("ids") >= 2)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(sequence(1, size(ids) - 1), "
                    "i -> transform(slice(ids, i + 1, size(ids) - i), "
                    "y -> struct(element_at(ids, i) AS vec_a, y AS vec_b))))"
                )
            ).alias("p")
        )
        .select(
            F.explode(
                F.expr(
                    "array(struct(p.vec_a AS query_id, p.vec_b AS neighbor_id), "
                    "struct(p.vec_b AS query_id, p.vec_a AS neighbor_id))"
                )
            ).alias("q")
        )
        .select("q.query_id", "q.neighbor_id")
        .distinct()
    )
    cos = F.expr(_DOT_S) / (F.col("a.nrm") * F.col("b.nrm"))
    wq = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    topk = (
        cand.join(v.alias("a"), F.col("a.vec_id") == F.col("query_id"))
        .join(v.alias("b"), F.col("b.vec_id") == F.col("neighbor_id"))
        .select("query_id", "neighbor_id", cos.alias("cosine"))
        .withColumn("rnk", F.row_number().over(wq))
        .filter(F.col("rnk") <= K_AUDIT)
        .select("query_id", "neighbor_id")
    )
    ql = labels.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("q_label")
    )
    nl = labels.select(
        F.col("vec_id").alias("neighbor_id"), F.col("label").alias("n_label")
    )
    return (
        # labels are corpus-sized (one row per vector): a key-equi join,
        # NEVER a broadcast — the q88 lesson applies to small-by-
        # construction tables only
        topk.join(ql, "query_id")
        .join(nl, "neighbor_id")
        .groupBy(F.col("query_id").alias("vec_id"), F.col("q_label").alias("label"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("k_found"),
            F.sum((F.col("n_label") == F.col("q_label")).cast("long"))
            .cast("long").alias("n_agree"),
            F.expr(
                "CAST(sum(CAST(n_label = q_label AS LONG)) * 1000000"
                " div count(1) AS BIGINT)"
            ).alias("agree_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Matryoshka truncated-dimension recall (q181): how much ANN quality
# survives keeping only the first MRL_DIMS of the embedding — the
# evaluation behind Matryoshka representation learning (Kusupati et
# al. 2022) and every "search the short prefix, re-rank full" serving
# stack. recall@K of prefix-cosine top-K against full-cosine top-K,
# per query, exact.
MRL_DIMS = 8
MRL_SAMPLE_MOD = 20  # query sample: vec_id % 20 == 0 ...
MRL_MAX_QID = 500  # ... AND vec_id < 500: the sample is FIXED-SIZE
# (<= 25 queries) at ANY corpus scale. The mod alone grows the sample
# with the corpus and makes the brute-force eval O(N^2/20) — measured
# 48x growth in the 1x->10x decade before this bound existed. At
# sf<=0.01 every vec_id is < 500, so the bound changes nothing there.


@register(
    "q181_matryoshka_recall",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, embedding::DOUBLE[] AS emb,
             embedding[1:{MRL_DIMS}]::DOUBLE[] AS emb8,
             {_NORM_D} AS nrm,
             sqrt(list_dot_product(embedding[1:{MRL_DIMS}]::DOUBLE[],
                                   embedding[1:{MRL_DIMS}]::DOUBLE[]))
                 AS nrm8
      FROM embeddings
    ),
    q AS (SELECT * FROM v WHERE vec_id % {MRL_SAMPLE_MOD} = 0 AND vec_id < {MRL_MAX_QID}),
    full_k AS (
      SELECT query_id, neighbor_id FROM (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY a.vec_id
                 ORDER BY list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm)
                              DESC,
                          b.vec_id
               ) AS rnk
        FROM q a JOIN v b ON b.vec_id <> a.vec_id
      ) WHERE rnk <= {TOP_K}
    ),
    trunc_k AS (
      SELECT query_id, neighbor_id FROM (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY a.vec_id
                 ORDER BY list_dot_product(a.emb8, b.emb8)
                              / (a.nrm8 * b.nrm8) DESC,
                          b.vec_id
               ) AS rnk
        FROM q a JOIN v b ON b.vec_id <> a.vec_id
      ) WHERE rnk <= {TOP_K}
    )
    SELECT f.query_id,
           CAST(COUNT(*) AS BIGINT) AS k_full,
           CAST(SUM(CASE WHEN t.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_overlap,
           CAST(SUM(CASE WHEN t.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                * 1000000 // COUNT(*) AS BIGINT) AS recall_ppm
    FROM full_k f
    LEFT JOIN trunc_k t
      ON t.query_id = f.query_id AND t.neighbor_id = f.neighbor_id
    GROUP BY f.query_id
    """,
    doc=f"Matryoshka truncated-dimension recall: for a deterministic "
    f"query sample (vec_id % {MRL_SAMPLE_MOD} == 0, capped at vec_id < "
    f"{MRL_MAX_QID} so the eval stays FIXED-COST at any corpus size), the exact-cosine "
    f"top-{TOP_K} using only the first {MRL_DIMS} of 64 dims is "
    f"compared against the full-dimension top-{TOP_K}; output is per-"
    "query overlap and exact recall ppm — the evaluation behind "
    "Matryoshka representation learning and 'search the prefix, "
    "re-rank full' serving (q62's int8 stack trades precision per "
    "dim; this trades dims). Both rankings use the bit-deterministic "
    "index-ordered dot fold with the neighbor_id tiebreak, so the "
    "sets are identical across engines and the recall is exact, not "
    "estimated. Scale shape: brute-force cost is bounded by the "
    "QUERY SAMPLE (|q| x N dots, map-side; the same contract as "
    "q111's recall eval), and the prefix ranking is the cheap one a "
    "production variant would route through the q32 bucket ladder.",
    tags=("similarity", "eval"),
)
def q181_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    dot8_s, _ = dot_pair("a.emb8", "b.emb8")
    norm8_src = _NORM_S.replace(
        "embedding", f"slice(embedding, 1, {MRL_DIMS})"
    )
    v = emb.select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("emb"),
        F.expr(
            f"transform(slice(embedding, 1, {MRL_DIMS}),"
            " x -> CAST(x AS DOUBLE))"
        ).alias("emb8"),
        F.expr(_NORM_S).alias("nrm"),
        F.expr(norm8_src).alias("nrm8"),
    )
    q = v.filter(
        (F.col("vec_id") % MRL_SAMPLE_MOD == 0)
        & (F.col("vec_id") < MRL_MAX_QID)
    )

    def topk(score) -> DataFrame:
        w = Window.partitionBy("query_id").orderBy(
            F.desc("score"), F.asc("neighbor_id")
        )
        return (
            q.alias("a")
            .join(v.alias("b"), F.col("b.vec_id") != F.col("a.vec_id"))
            .select(
                F.col("a.vec_id").alias("query_id"),
                F.col("b.vec_id").alias("neighbor_id"),
                score.alias("score"),
            )
            .withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= TOP_K)
            .select("query_id", "neighbor_id")
        )

    full_k = topk(F.expr(_DOT_S) / (F.col("a.nrm") * F.col("b.nrm")))
    trunc_k = topk(F.expr(dot8_s) / (F.col("a.nrm8") * F.col("b.nrm8")))
    # count overlap via left-semi style flag join on both key columns
    overlap = (
        full_k.join(trunc_k, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_overlap"))
    )
    return (
        full_k.groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("long").alias("k_full"))
        .join(overlap, "query_id", "left")
        .select(
            "query_id",
            "k_full",
            F.coalesce("n_overlap", F.lit(0)).cast("long").alias("n_overlap"),
            F.expr(
                "CAST(coalesce(n_overlap, 0) * 1000000 div k_full AS BIGINT)"
            ).alias("recall_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Exact quantized Gram/covariance matrix (q202) and fixed-point power-
# iteration PCA (q203): the linear-algebra plumbing a training pipeline
# needs over an embedding corpus (PCA whitening, drift detection on the
# covariance, low-rank diagnostics). The scale design: the only
# corpus-sized pass is a mapInPandas partial Gram — each Arrow batch
# contributes one d x d integer matrix (numpy int64 matmul, exact), so a
# partition emits O(d^2) rows REGARDLESS of row count, and the shuffle
# carries ~d^2/2 cells per partition, never the data. Quantization is
# centi-units (floor(x*100 + 0.5)): with |x| <= ~4 and corpora up to
# gen1000x (2e6 vectors) every moment stays inside int64 —
# gram <= 2e6 * 400^2 = 3.2e11, n*gram <= 6.4e17, s_i*s_j <= 6.4e17 —
# so the covariance numerator n*G_ij - S_i*S_j is EXACT integer
# arithmetic, shuffle-order-independent, and bit-identical in DuckDB.
# ---------------------------------------------------------------------------

GRAM_SCALE = 100  # centi-unit quantization (see int64 budget above)
POWER_ITERS = 3   # fixed-point power-method iterations (q203)

_GRAM_DUCK_CELLS = f"""
    qv AS (
      SELECT vec_id, CAST(i AS INTEGER) AS i,
             CAST(FLOOR(CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE)
                        * {GRAM_SCALE} + 0.5) AS BIGINT) AS q
      FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
    ),
    g AS (
      SELECT a.i AS i, b.i AS j, CAST(SUM(a.q * b.q) AS BIGINT) AS gram_centi2
      FROM qv a JOIN qv b ON a.vec_id = b.vec_id AND a.i <= b.i
      GROUP BY a.i, b.i
    ),
    s AS (SELECT i, CAST(SUM(q) AS BIGINT) AS s1 FROM qv GROUP BY i),
    nv AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings)
"""


def gram_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(i, j, val) cell stream: upper-triangle Gram cells (1-based, i<=j),
    per-dimension sums as (i, 0, s_i), and the vector count as (0, 0, n).
    One corpus pass; every partition emits a bounded d^2-sized partial."""
    emb = load_table(spark, sf_dir, "embeddings").select("embedding")
    scale = GRAM_SCALE

    def part(batches):
        import numpy as np
        import pandas as pd

        acc = None
        s = None
        n = 0
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.vstack(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            )
            Q = np.floor(X * scale + 0.5).astype(np.int64)
            G = Q.T @ Q  # int64 matmul: exact
            acc = G if acc is None else acc + G
            s = Q.sum(axis=0) if s is None else s + Q.sum(axis=0)
            n += Q.shape[0]
        if acc is None:
            return
        d = acc.shape[0]
        iu = np.triu_indices(d)
        out = pd.DataFrame(
            {
                "i": (iu[0] + 1).astype("int32"),
                "j": (iu[1] + 1).astype("int32"),
                "val": acc[iu].astype("int64"),
            }
        )
        sums = pd.DataFrame(
            {
                "i": np.arange(1, d + 1, dtype="int32"),
                "j": np.zeros(d, dtype="int32"),
                "val": s.astype("int64"),
            }
        )
        cnt = pd.DataFrame(
            {
                "i": np.zeros(1, dtype="int32"),
                "j": np.zeros(1, dtype="int32"),
                "val": np.array([n], dtype="int64"),
            }
        )
        yield pd.concat([out, sums, cnt], ignore_index=True)

    cells = emb.mapInPandas(part, "i int, j int, val long")
    return cells.groupBy("i", "j").agg(F.sum("val").cast("long").alias("val"))


@register(
    "q202_embedding_gram",
    oracle=f"""
    WITH {_GRAM_DUCK_CELLS}
    SELECT g.i, g.j, nv.n AS n_vecs, g.gram_centi2,
           sa.s1 AS s_i, sb.s1 AS s_j,
           CAST(nv.n * g.gram_centi2 - sa.s1 * sb.s1 AS BIGINT) AS cov_num
    FROM g
    CROSS JOIN nv
    JOIN s sa ON sa.i = g.i
    JOIN s sb ON sb.i = g.j
    """,
    doc="Exact quantized Gram + covariance-numerator matrix over the "
    "embedding corpus: upper-triangle cells G_ij = sum q_i q_j in "
    "centi-units, per-dimension sums, and the exact integer covariance "
    "numerator n*G_ij - S_i*S_j (population covariance times n^2, "
    "scaled by 1e4) — the fit artifact for PCA/whitening (q203 consumes "
    "it) and a corpus drift fingerprint next to q103's per-dimension "
    "moments. Scale shape: mapInPandas partial Gram — one d x d int64 "
    "matmul per Arrow batch, O(d^2) rows out per PARTITION independent "
    "of row count, one bounded-key aggregate; the covariance assembly "
    "joins d^2/2 cells against two broadcast d-row frames. All moments "
    "are int64-exact through gen1000x (see module budget note).",
    tags=("similarity", "linalg", "pandas-udf"),
)
def q202_embedding_gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    cells = gram_cells(spark, sf_dir)
    gram = cells.filter((F.col("i") > 0) & (F.col("j") > 0)).select(
        "i", "j", F.col("val").alias("gram_centi2")
    )
    sums = cells.filter((F.col("i") > 0) & (F.col("j") == 0)).select(
        "i", F.col("val").alias("s1")
    )
    n = cells.filter((F.col("i") == 0) & (F.col("j") == 0)).select(
        F.col("val").alias("n_vecs")
    )
    sa = F.broadcast(sums.select(F.col("i").alias("_ia"), F.col("s1").alias("s_i")))
    sb = F.broadcast(sums.select(F.col("i").alias("_ib"), F.col("s1").alias("s_j")))
    return (
        gram.crossJoin(F.broadcast(n))
        .join(sa, F.col("i") == F.col("_ia"))
        .join(sb, F.col("j") == F.col("_ib"))
        .select(
            "i", "j", "n_vecs", "gram_centi2", "s_i", "s_j",
            (
                F.col("n_vecs") * F.col("gram_centi2")
                - F.col("s_i") * F.col("s_j")
            ).cast("long").alias("cov_num"),
        )
    )


def _power_iter_duck() -> str:
    """Chained-CTE fixed-point power iterations (the q164 oracle
    convention: iterative does not mean unverifiable)."""
    steps = []
    prev = "v0"
    for k in range(1, POWER_ITERS + 1):
        steps.append(f"""
    u{k} AS (
      SELECT gn.i, CAST(SUM(gn.g * {prev}.v) AS BIGINT) AS u
      FROM gn JOIN {prev} ON {prev}.i = gn.j GROUP BY gn.i
    ),
    m{k} AS (SELECT MAX(ABS(u)) AS m FROM u{k}),
    v{k} AS (SELECT i, CAST(u // greatest(m // 1000000, 1) AS BIGINT) AS v
             FROM u{k}, m{k})""")
        prev = f"v{k}"
    return ",".join(steps)


@register(
    "q203_pca_power_iteration",
    oracle=f"""
    WITH {_GRAM_DUCK_CELLS},
    gf AS (
      SELECT i, j, gram_centi2 AS gram FROM g
      UNION ALL
      SELECT j, i, gram_centi2 FROM g WHERE i < j
    ),
    gm AS (SELECT MAX(ABS(gram)) AS m FROM gf),
    gn AS (SELECT i, j, CAST(gram * 1000000 // m AS BIGINT) AS g
           FROM gf, gm),
    v0 AS (SELECT DISTINCT i, CAST(1000000 AS BIGINT) AS v FROM gn),
    {_power_iter_duck()}
    SELECT v.i, v.v AS eig_micro, u.u AS iterate_raw
    FROM v{POWER_ITERS} v JOIN u{POWER_ITERS} u ON u.i = v.i
    """,
    doc=f"{POWER_ITERS} exact power-iteration steps of the PCA solver "
    "over the quantized Gram matrix (all-ones start) — the verifiable "
    "inner loop of top-eigenvector extraction; production runs this "
    "same step until the spectral gap says stop (on near-degenerate "
    "spectra like an evenly-clustered corpus that is O(1/gap) rounds, "
    "each one cheap d^2 work), while the registry entry fixes the "
    "round count so the result is a deterministic hash-checkable "
    "contract (the q164 convention): "
    "the matrix is normalized to 1e6 fixed point by its max |cell|, each "
    "iteration is one matvec (64-term integer dot per dimension, "
    "max |term| 1e12, sum <= 6.4e13 — far inside int64) followed by "
    "DIVIDE-side renormalization v = u div max(floor(max|u|/1e6), 1) — "
    "never u*1e6, whose worst case 6.4e19 would overflow int64 (a bug "
    "this query's recurrence-identity pytest caught at design time) — "
    "max-|u| renormalization, so the whole iteration chain is exact "
    "integer arithmetic and hash-matches DuckDB's chained-CTE twin "
    "bit-for-bit. Scale shape: the corpus pass is q202's bounded "
    "mapInPandas Gram; the iterations run on a d^2-row frame — constant "
    "work regardless of corpus size (the right asymptotics for PCA at "
    "100 TB: one data pass, then driver-scale linear algebra kept "
    "relational for verifiability).",
    tags=("similarity", "linalg", "iterative"),
)
def q203_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    cells = gram_cells(spark, sf_dir)
    gram = cells.filter((F.col("i") > 0) & (F.col("j") > 0))
    gf = gram.select("i", "j", F.col("val").alias("gram")).unionByName(
        gram.filter(F.col("i") < F.col("j")).select(
            F.col("j").alias("i"), F.col("i").alias("j"),
            F.col("val").alias("gram"),
        )
    )
    # d^2 rows after the one corpus pass — materialize once, iterate on it
    gf = gf.localCheckpoint(eager=True)
    gm = gf.agg(F.max(F.abs(F.col("gram"))).alias("m"))
    gn = gf.crossJoin(F.broadcast(gm)).select(
        "i", "j", F.expr("CAST(gram * 1000000 div m AS LONG)").alias("g")
    )
    v = gn.select("i").distinct().select(
        "i", F.lit(1000000).cast("long").alias("v")
    )
    u = None
    for _ in range(POWER_ITERS):
        u = (
            gn.join(v.select(F.col("i").alias("j"), "v"), "j")
            .groupBy("i")
            .agg(F.sum(F.col("g") * F.col("v")).cast("long").alias("u"))
        )
        m = u.agg(F.max(F.abs(F.col("u"))).alias("m"))
        v = u.crossJoin(F.broadcast(m)).select(
            "i",
            F.expr(
                "CAST(u div greatest(m div 1000000, 1) AS LONG)"
            ).alias("v"),
        )
    return v.join(u, "i").select(
        "i", F.col("v").alias("eig_micro"), F.col("u").alias("iterate_raw")
    )


# ---------------------------------------------------------------------------
# Rank-quality evaluation of the ANN index (q210): recall (q111) treats
# the top-k as a SET; MRR and nDCG grade the ORDER — the metrics a
# retrieval deployment actually tunes against (RAG context ranking,
# recommendation slates). Both are held in exact integer fixed point:
# the log2 discount table is precomputed in Python and inlined as
# identical literals in both dialects, so DCG/IDCG are pure integer
# sums and nDCG an integer ppm ratio — bit-equal across engines.

# floor(1e6 / log2(r + 1) + 0.5) for r = 1..TOP_K — the standard nDCG
# position discount as a micro-unit lookup table.
import math as _math

_DISCOUNT_MICRO = {
    r: int(1e6 / _math.log2(r + 1) + 0.5) for r in range(1, TOP_K + 1)
}


def _discount_case(rank_col: str) -> str:
    """CASE expression mapping a 1-based rank to its micro-discount —
    valid in both Spark SQL and DuckDB (shared literal table)."""
    whens = " ".join(
        f"WHEN {r} THEN {d}" for r, d in _DISCOUNT_MICRO.items()
    )
    return f"(CASE {rank_col} {whens} ELSE 0 END)"


# Graded relevance from the exact rank: top-1 is highly relevant (3),
# ranks 2-5 relevant (2), 6-10 marginal (1), not in the exact top-k: 0.
_REL_CASE = (
    "(CASE WHEN {gt} IS NULL THEN 0 WHEN {gt} <= 1 THEN 3 "
    "WHEN {gt} <= 5 THEN 2 ELSE 1 END)"
)


@register(
    "q210_ann_rank_eval",
    # Ground-truth and candidate sides spliced from the registered q30/q31
    # oracles (the q111 convention): the eval can never drift from the
    # retrievals it grades.
    oracle=f"""
    WITH exact AS ({oracle_of("q30_ann_bruteforce")}),
    approx AS ({oracle_of("q31_ann_ivf")}),
    graded AS (
      SELECT a.query_id, a.rank AS a_rank,
             {_REL_CASE.format(gt="e.rank")} AS rel
      FROM approx a
      LEFT JOIN exact e
        ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
    ),
    ideal AS (
      SELECT query_id, rel,
             row_number() OVER (
               PARTITION BY query_id ORDER BY rel DESC, a_rank
             ) AS i_rank
      FROM graded
    ),
    dcg AS (
      SELECT query_id,
             CAST(SUM(rel * {_discount_case("a_rank")}) AS BIGINT)
                 AS dcg_micro
      FROM graded GROUP BY query_id
    ),
    idcg AS (
      SELECT query_id,
             CAST(SUM(rel * {_discount_case("i_rank")}) AS BIGINT)
                 AS idcg_micro
      FROM ideal GROUP BY query_id
    ),
    rr AS (
      SELECT a.query_id,
             CAST(COALESCE(MIN(1000000 // a.rank), 0) AS BIGINT) AS rr_ppm
      FROM approx a
      JOIN exact e
        ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
       AND e.rank = 1
      GROUP BY a.query_id
    )
    SELECT d.query_id, d.dcg_micro, i.idcg_micro,
           CAST(1000000 * d.dcg_micro // NULLIF(i.idcg_micro, 0) AS BIGINT)
               AS ndcg_ppm,
           CAST(COALESCE(r.rr_ppm, 0) AS BIGINT) AS rr_ppm
    FROM dcg d
    JOIN idcg i ON i.query_id = d.query_id
    LEFT JOIN rr r ON r.query_id = d.query_id
    """,
    doc=f"Rank-quality evaluation of the IVF index against the exact "
    "ground truth: nDCG@k with graded relevance derived from the exact "
    "rank (top-1 -> 3, 2-5 -> 2, 6-10 -> 1, miss -> 0) and MRR of the "
    "exact top-1 — the ORDER-sensitive complement to q111's set recall, "
    "and the pair of numbers a RAG/recsys deployment actually tunes "
    "nprobe and K against. Exactness: the log2 position discounts are a "
    f"precomputed {TOP_K}-entry micro-unit literal table shared by both "
    "dialects, so DCG and the ideal-ordering IDCG are exact integer "
    "sums and nDCG an integer ppm ratio — no transcendental evaluated "
    "in-engine, bit-equal everywhere. Scale shape: both retrievals run "
    "their production plans over a FIXED query panel; the grading join "
    "is panel-sized (Q*k rows) and the window sort for the ideal "
    "ordering touches k rows per query — driver never involved.",
    tags=("similarity", "eval"),
)
def q210_ann_rank_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    exact = q30_ann_bruteforce(spark, sf_dir).select(
        "query_id", "neighbor_id", F.col("rank").alias("gt_rank")
    )
    approx = q31_ann_ivf(spark, sf_dir).select(
        "query_id", "neighbor_id", F.col("rank").alias("a_rank")
    )
    graded = approx.join(exact, ["query_id", "neighbor_id"], "left").select(
        "query_id",
        "a_rank",
        F.expr(_REL_CASE.format(gt="gt_rank")).alias("rel"),
        "gt_rank",
    )
    iw = Window.partitionBy("query_id").orderBy(F.desc("rel"), F.asc("a_rank"))
    ideal = graded.withColumn("i_rank", F.row_number().over(iw))
    dcg = graded.groupBy("query_id").agg(
        F.expr(f"CAST(SUM(rel * {_discount_case('a_rank')}) AS BIGINT)").alias(
            "dcg_micro"
        )
    )
    idcg = ideal.groupBy("query_id").agg(
        F.expr(f"CAST(SUM(rel * {_discount_case('i_rank')}) AS BIGINT)").alias(
            "idcg_micro"
        )
    )
    rr = (
        graded.filter(F.col("gt_rank") == 1)
        .groupBy("query_id")
        .agg(F.expr("CAST(MIN(1000000 div a_rank) AS BIGINT)").alias("rr_ppm"))
    )
    return (
        dcg.join(idcg, "query_id")
        .join(rr, "query_id", "left")
        .select(
            "query_id",
            "dcg_micro",
            "idcg_micro",
            F.expr(
                "CAST(1000000 * dcg_micro div nullif(idcg_micro, 0) AS BIGINT)"
            ).alias("ndcg_ppm"),
            F.coalesce("rr_ppm", F.lit(0)).cast("long").alias("rr_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Embedding effective rank (q217): the participation ratio
# tr(C)^2 / ||C||_F^2 of the embedding covariance — a basis-free
# estimate of how many dimensions the corpus ACTUALLY uses (for
# eigenvalues l_k it equals (sum l)^2 / sum l^2: d for isotropic
# embeddings, ~1 for collapsed ones). This is the one-number
# representation-collapse monitor (cf. RankMe, Garrido et al. 2023)
# read BEFORE trusting any cosine-based stack: collapsed embeddings
# make everything look like a near-duplicate. Computed from q202's
# EXACT integer Gram cells; each covariance cell is first normalized
# by n^2 (integer division — bounds the cell by the data range alone,
# corpus-size-independent, so the Frobenius sum stays in int64 at ANY
# corpus size, where raw cov_num^2 would overflow past ~3e5 vectors).


@register(
    "q217_embedding_effective_rank",
    oracle=f"""
    WITH gram AS ({oracle_of("q202_embedding_gram")}),
    cells AS (
      SELECT i, j,
             cov_num // (n_vecs * n_vecs) AS c,
             n_vecs
      FROM gram
    ),
    s AS (
      SELECT CAST(MAX(n_vecs) AS BIGINT) AS n_vecs,
             CAST(COUNT(CASE WHEN i = j THEN 1 END) AS BIGINT) AS d,
             CAST(SUM(CASE WHEN i = j THEN c ELSE 0 END) AS BIGINT)
                 AS trace_centi2,
             CAST(SUM(c * c * (CASE WHEN i = j THEN 1 ELSE 2 END))
                  AS BIGINT) AS frob2
      FROM cells
    )
    SELECT d, n_vecs, trace_centi2, frob2,
           (CAST(trace_centi2 AS DOUBLE) * trace_centi2)
             / CAST(frob2 AS DOUBLE) AS participation_ratio
    FROM s
    """,
    doc="Effective rank (participation ratio) of the embedding "
    "covariance: tr(C)^2 / ||C||_F^2, the basis-free count of "
    "dimensions the corpus actually uses — d for isotropic embeddings, "
    "1 for full collapse (cf. RankMe, Garrido et al. 2023). THE "
    "representation-health gate before any cosine-based stack (ANN, "
    "SemDeDup, hard negatives): collapsed embeddings make everything "
    "cosine-similar and silently turn near-dup removal into corpus "
    "deletion. Built on q202's exact integer Gram (oracle spliced from "
    "its registered SQL): each covariance cell is normalized by n^2 "
    "with integer division FIRST, which bounds every cell by the "
    "centi-unit data range alone — corpus-size-independent, so the "
    "Frobenius sum of squares stays inside int64 at any scale (raw "
    "cov_num^2 overflows past ~3e5 vectors; the div-first form is the "
    "same overflow discipline as q203's divide-side renormalization). "
    "Off-diagonal cells count twice (symmetry); trace and Frobenius "
    "are exact integer sums; the final ratio is an IEEE expression of "
    "those integers — bit-equal across engines. Scale shape: d^2/2 "
    "rows in, one row out; all corpus-sized work already happened in "
    "q202's one pass.",
    tags=("similarity", "linalg", "profiling"),
)
def q217_embedding_effective_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    gram = q202_embedding_gram(spark, sf_dir)
    cells = gram.select(
        "i",
        "j",
        F.expr("cov_num div (n_vecs * n_vecs)").alias("c"),
        "n_vecs",
    )
    s = cells.agg(
        F.expr("CAST(COUNT(CASE WHEN i = j THEN 1 END) AS BIGINT)").alias("d"),
        F.max("n_vecs").cast("long").alias("n_vecs"),
        F.expr("CAST(SUM(CASE WHEN i = j THEN c ELSE 0 END) AS BIGINT)").alias(
            "trace_centi2"
        ),
        F.expr(
            "CAST(SUM(c * c * (CASE WHEN i = j THEN 1 ELSE 2 END)) AS BIGINT)"
        ).alias("frob2"),
    )
    return s.select(
        "d",
        "n_vecs",
        "trace_centi2",
        "frob2",
        F.expr(
            "(CAST(trace_centi2 AS DOUBLE) * trace_centi2)"
            " / CAST(frob2 AS DOUBLE)"
        ).alias("participation_ratio"),
    )


# ---------------------------------------------------------------------------
# Simplified silhouette (q233): clustering-quality evaluation for the
# labeled embedding corpus — for each vector, a = squared distance to
# its OWN label centroid, b = squared distance to the nearest OTHER
# centroid, s = (b-a)/max(a,b) in ppm. The "simplified" (point-to-
# centroid) silhouette is the form that scales: the classical
# point-to-all-points silhouette is O(N^2) and never runs at corpus
# size, while this one is a broadcast join against a k*d-cell centroid
# table (Hruschka et al.'s simplified silhouette — the standard
# surrogate, monotone with the full one on well-separated data).
# Everything is exact integer arithmetic: micro-unit coordinates,
# integer centroid division (both engines truncate toward zero),
# int64 squared distances (|x|<=~4e6 micro, 64 dims -> <=1e15).


@register(
    "q233_simplified_silhouette",
    oracle="""
    WITH el AS (
      SELECT vec_id, CAST(label AS BIGINT) AS own_label,
             CAST(i AS INTEGER) AS pos,
             CAST(FLOOR(CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE)
                        * 1000000) AS BIGINT) AS x_micro
      FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
    ),
    cents AS (
      SELECT own_label AS cand_label, pos,
             CAST(SUM(x_micro) // COUNT(*) AS BIGINT) AS c_micro
      FROM el GROUP BY own_label, pos
    ),
    d2 AS (
      SELECT e.vec_id, e.own_label, c.cand_label,
             CAST(SUM((e.x_micro - c.c_micro) * (e.x_micro - c.c_micro))
                  AS BIGINT) AS dist2
      FROM el e JOIN cents c ON c.pos = e.pos
      GROUP BY e.vec_id, e.own_label, c.cand_label
    ),
    ab AS (
      SELECT vec_id, own_label,
             MIN(CASE WHEN cand_label = own_label THEN dist2 END) AS a,
             MIN(CASE WHEN cand_label <> own_label THEN dist2 END) AS b
      FROM d2 GROUP BY vec_id, own_label
    ),
    s AS (
      SELECT own_label,
             COALESCE(CAST(FLOOR(CAST(b - a AS DOUBLE) * 1000000.0
                      / CAST(NULLIF(GREATEST(a, b), 0) AS DOUBLE))
                      AS BIGINT), 0) AS s_ppm
      FROM ab
    )
    SELECT own_label AS label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(s_ppm) // COUNT(*) AS BIGINT) AS mean_s_ppm,
           CAST(SUM(CASE WHEN s_ppm < 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_negative
    FROM s GROUP BY own_label
    """,
    doc="Simplified (point-to-centroid) silhouette per embedding label: "
    "s = (b-a)/max(a,b) with a = squared distance to the own-label "
    "centroid and b = the nearest other centroid, in exact integer ppm "
    "— the clustering-quality readout for the label structure the ANN "
    "stack (q31/q38) partitions by, and the scalable surrogate for the "
    "O(N^2) classical silhouette (a broadcast k*d centroid table "
    "instead of all-pairs). mean_s_ppm near 0 flags overlapping "
    "clusters; n_negative counts points closer to a foreign centroid "
    "(misassignments). Exactness: micro-unit coordinates, integer "
    "centroid division (both engines truncate toward zero), int64 "
    "distances — no float ACCUMULATION anywhere, so shuffle order is "
    "irrelevant; the final per-point ratio is ONE deterministic IEEE "
    "double expression (dist2 <= ~4e15 < 2^53 so the doubles are "
    "exact integers; the old integer form 1e6*(b-a) overflows int64 "
    "at the module's coordinate bound). Scale shape: one 64x map-side explode, one "
    "(label x dim)-bounded aggregate broadcast back, one keyed "
    "re-aggregate per (vec, candidate) — k*N rows, linear in the "
    "corpus for fixed k; the same plan at 100 TB swaps nothing.",
    tags=("similarity", "eval", "aggregate"),
)
def q233_simplified_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    el = emb.select(
        "vec_id",
        F.col("label").cast("long").alias("own_label"),
        F.posexplode(
            F.expr("transform(embedding, x -> CAST(x AS DOUBLE))")
        ).alias("pos0", "x"),
    ).select(
        "vec_id",
        "own_label",
        (F.col("pos0") + 1).cast("int").alias("pos"),
        F.floor(F.col("x") * 1000000).cast("long").alias("x_micro"),
    )
    cents = (
        el.groupBy(
            F.col("own_label").alias("cand_label"), F.col("pos")
        )
        .agg(
            F.expr("CAST(SUM(x_micro) div COUNT(*) AS BIGINT)").alias(
                "c_micro"
            )
        )
    )
    d2 = (
        el.join(F.broadcast(cents), "pos")
        .groupBy("vec_id", "own_label", "cand_label")
        .agg(
            F.expr(
                "CAST(SUM((x_micro - c_micro) * (x_micro - c_micro))"
                " AS BIGINT)"
            ).alias("dist2")
        )
    )
    ab = d2.groupBy("vec_id", "own_label").agg(
        F.expr(
            "MIN(CASE WHEN cand_label = own_label THEN dist2 END)"
        ).alias("a"),
        F.expr(
            "MIN(CASE WHEN cand_label <> own_label THEN dist2 END)"
        ).alias("b"),
    )
    # s = (b-a)/max(a,b) as ONE deterministic IEEE double ratio (q213
    # convention): the former integer form 1000000*(b-a) reaches ~1e21
    # at the module's own coordinate bound (|x| <= ~4e6 micro, 64 dims
    # -> dist2 <= ~4e15) — past int64, an ANSI ARITHMETIC_OVERFLOW on
    # sufficiently spread embeddings. dist2 <= ~4e15 < 2^53, so the
    # doubles below are EXACT integers and the identical expression
    # tree floors identically in both engines.
    s = ab.select(
        "own_label",
        F.expr(
            "COALESCE(CAST(FLOOR(CAST(b - a AS DOUBLE) * 1000000.0D"
            " / CAST(NULLIF(GREATEST(a, b), 0) AS DOUBLE))"
            " AS BIGINT), 0)"
        ).alias("s_ppm"),
    )
    return s.groupBy(F.col("own_label").alias("label")).agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.expr("CAST(SUM(s_ppm) div COUNT(*) AS BIGINT)").alias("mean_s_ppm"),
        F.expr(
            "CAST(SUM(CASE WHEN s_ppm < 0 THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("n_negative"),
    )


# --- q246: product-quantization codebook + ADC top-k ------------------------
#
# PQ (Jégou et al., "Product Quantization for Nearest Neighbor Search"):
# split the 64-dim vector into M=8 contiguous 8-dim subvectors; per
# subspace, quantize to the nearest of K=16 codebook entries (deterministic
# sample: the subvectors of vec_id < 16, the q31 centroid convention); a
# vector is then 8 small codes (~8 bytes) instead of 256 bytes of floats.
# Query scoring is Asymmetric Distance Computation: a per-query lookup
# table of Q*M*K=640 exact subspace distances is broadcast and the doc
# side contributes ONLY its codes — the raw embedding column is never
# touched after encoding, which is the whole point at 100 TB.

PQ_M = 8  # subspaces
PQ_SUBDIM = 8  # dims per subspace (PQ_M * PQ_SUBDIM = 64)
PQ_K = 16  # codebook entries per subspace (vec_id < PQ_K)

_PQ_SUB = [l2sq_sub_pair("a.emb", "c.emb", m * PQ_SUBDIM, PQ_SUBDIM) for m in range(PQ_M)]


def _pq_oracle() -> str:
    scored_cols = ",\n             ".join(f"{d} AS d{m}" for m, (_, d) in enumerate(_PQ_SUB))
    rnk_cols = ",\n             ".join(
        f"row_number() OVER (PARTITION BY vec_id ORDER BY d{m}, cid) AS r{m}"
        for m in range(PQ_M)
    )
    code_cols = ",\n             ".join(
        f"MAX(CASE WHEN r{m} = 1 THEN cid END) AS code_{m}" for m in range(PQ_M)
    )
    lut_cols = ",\n             ".join(
        f"{d.replace('a.emb', 'q.emb')} AS d{m}" for m, (_, d) in enumerate(_PQ_SUB)
    )
    joins = "\n      ".join(
        f"JOIN lut l{m} ON l{m}.query_id = l0.query_id AND l{m}.cid = w.code_{m}"
        for m in range(1, PQ_M)
    )
    adc = " + ".join(f"l{m}.d{m}" for m in range(PQ_M))
    return f"""
    WITH v AS ({_DUCK_VEC_CTE}),
    cents AS (SELECT vec_id AS cid, emb FROM v WHERE vec_id < {PQ_K}),
    scored AS (
      SELECT a.vec_id, c.cid,
             {scored_cols}
      FROM v a JOIN cents c ON true
    ),
    rnk AS (
      SELECT vec_id, cid,
             {rnk_cols}
      FROM scored
    ),
    codes AS (
      SELECT vec_id,
             {code_cols}
      FROM rnk GROUP BY vec_id
    ),
    lut AS (
      SELECT q.vec_id AS query_id, c.cid,
             {lut_cols}
      FROM v q JOIN cents c ON q.vec_id < {N_QUERIES}
    ),
    adc AS (
      SELECT l0.query_id, w.vec_id AS neighbor_id, {adc} AS adc_dist
      FROM codes w
      JOIN lut l0 ON l0.cid = w.code_0
      {joins}
      WHERE w.vec_id <> l0.query_id
    )
    SELECT query_id, neighbor_id, adc_dist, CAST(rnk AS INTEGER) AS rank
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY adc_dist, neighbor_id
      ) AS rnk FROM adc
    ) WHERE rnk <= {TOP_K}
    """


@register(
    "q246_pq_adc_topk",
    oracle=_pq_oracle(),
    doc=f"Product-quantization ANN (Jégou et al.): each 64-dim vector is "
    f"encoded as M={PQ_M} per-subspace codes against a K={PQ_K}-entry "
    "deterministic codebook (subvectors of vec_id < K, the q31 centroid "
    "convention), then queries score candidates by Asymmetric Distance "
    "Computation against a broadcast Q*M*K lookup table. Scale shape: "
    "encoding is one broadcast nested-loop over K=16 rows folded by "
    "map-side min_by partials (one shuffle of N code rows, ~8 bytes of "
    "payload per vector vs 256 bytes of floats); scoring is a chain of "
    f"{PQ_M} broadcast hash joins on the LUT — the embedding column is "
    "never read again, and nothing shuffles until the final per-query "
    "top-k. ADC distance is a fixed-order 8-term double sum of unrolled "
    "index-ordered subspace distances, so hashes are bit-exact vs the "
    "oracle (no float aggregation across shuffled rows anywhere). "
    "Tie-breaks (distance, then centroid id / neighbor id) mirrored via "
    "min_by(struct) <-> row_number windows.",
    tags=("similarity", "compression"),
)
def q246_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    v = _vec_view_spark(spark, sf_dir)
    cents = v.filter(F.col("vec_id") < PQ_K).select(
        F.col("vec_id").alias("cid"), F.col("emb")
    )

    # Encode: nearest codebook entry per subspace. One broadcast
    # nested-loop (K=16 rows) then a single groupBy whose 8 min_by
    # partials collapse N*K scored rows to N map-side.
    pairs = v.alias("a").join(F.broadcast(cents.withColumnRenamed("emb", "c_emb")).alias("c"))
    code_aggs = []
    for m in range(PQ_M):
        s_expr, _ = l2sq_sub_pair("a.emb", "c.c_emb", m * PQ_SUBDIM, PQ_SUBDIM)
        code_aggs.append(
            F.min_by(
                F.col("c.cid"),
                F.struct(F.expr(s_expr).alias("d"), F.col("c.cid").alias("c")),
            ).alias(f"code_{m}")
        )
    codes = pairs.groupBy(F.col("a.vec_id").alias("vec_id")).agg(*code_aggs)

    # ADC lookup table: Q*K rows x M distance columns, broadcast.
    lut = (
        v.filter(F.col("vec_id") < N_QUERIES)
        .alias("a")
        .join(F.broadcast(cents.withColumnRenamed("emb", "c_emb")).alias("c"))
        .select(
            F.col("a.vec_id").alias("query_id"),
            F.col("c.cid").alias("cid"),
            *[
                F.expr(l2sq_sub_pair("a.emb", "c.c_emb", m * PQ_SUBDIM, PQ_SUBDIM)[0]).alias(
                    f"d{m}"
                )
                for m in range(PQ_M)
            ],
        )
    )

    # Chain of broadcast hash joins: code_m -> LUT row. The first join
    # fans each doc out to the Q queries; the rest are keyed on
    # (query_id, code_m).
    r = codes.join(
        F.broadcast(lut.select("query_id", F.col("cid").alias("code_0"), "d0")),
        on="code_0",
    )
    for m in range(1, PQ_M):
        r = r.join(
            F.broadcast(
                lut.select("query_id", F.col("cid").alias(f"code_{m}"), f"d{m}")
            ),
            on=["query_id", f"code_{m}"],
        )
    adc = F.expr(" + ".join(f"d{m}" for m in range(PQ_M)))
    scored = r.filter(F.col("vec_id") != F.col("query_id")).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        adc.alias("adc_dist"),
    )
    # Two-stage exact top-k: a global top-K row is top-K within its
    # salt bucket, so rank within (query, salt) first and carry at most
    # 32*K rows per query into the exact final window. The single
    # per-query sort task over all N scored rows was the registry's one
    # super-linear decade point (r1000 = 22.6, commit 568dc88);
    # the salt is a deterministic function of neighbor_id, so the final
    # (adc_dist, neighbor_id) order — and every output value — is
    # unchanged.
    w1 = Window.partitionBy("query_id", "salt").orderBy(
        F.asc("adc_dist"), F.asc("neighbor_id")
    )
    pruned = (
        scored.withColumn("salt", F.pmod(F.col("neighbor_id"), F.lit(32)))
        .withColumn("r1", F.row_number().over(w1))
        .filter(F.col("r1") <= TOP_K)
        .drop("salt", "r1")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adc_dist"), F.asc("neighbor_id")
    )
    return (
        pruned.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .withColumn("rank", F.col("rank").cast("int"))
    )


# ---------------------------------------------------------------------------
# k-center coreset selection (q252): Gonzalez (1985) farthest-point
# traversal — the classic 2-approximation for k-center, used in data
# pipelines as DIVERSITY selection: pick the K most mutually-distant
# embeddings as a coverage skeleton (dedup keeps what's identical out;
# this keeps what's maximally different in). Deterministic: seed = min
# vec_id, each round adds the point with the largest min-distance to the
# chosen set (ties -> smallest vec_id), full-dim squared-L2 as the
# unrolled index-ordered 64-term sum (the q30/q246 bit-exactness
# convention). The Spark side is the honest distributed form of an
# inherently sequential-by-round algorithm: per round, ONE scan of the
# vector table scores LEAST(d2 to each chosen center) — centers ride
# along as literal arrays (K*64 doubles of driver state, the q38
# bounded-collect pattern), so round r costs one scan, never a
# self-join; the oracle is the same K rounds as an unrolled CTE chain.
KC_K = 4


def _l2sq_lit_spark(col: str, center: list[float]) -> str:
    """Unrolled 64-term squared-L2 between an array column and a literal
    center — textually index-ordered and left-associated exactly like
    l2sq_sub_pair, so the double result is bit-identical to the oracle's
    column-vs-column form."""
    terms = [
        f"(({col}[{j}] - ({v!r}D)) * ({col}[{j}] - ({v!r}D)))"
        for j, v in enumerate(center)
    ]
    return " + ".join(terms)


def _kc_oracle() -> str:
    d2 = l2sq_sub_pair("a.emb", "c.emb", 0, 64)[1]
    ctes = [
        "v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings)",
        "c0 AS (SELECT vec_id, emb FROM v ORDER BY vec_id LIMIT 1)",
        f"r1 AS (SELECT a.vec_id, a.emb, ({d2}) AS mind"
        " FROM v a LEFT JOIN c0 c ON TRUE)",
    ]
    for i in range(1, KC_K):
        excl = " AND ".join(
            f"vec_id <> (SELECT vec_id FROM c{j})" for j in range(i)
        )
        ctes.append(
            f"c{i} AS (SELECT vec_id, emb, mind FROM r{i} WHERE {excl}"
            " ORDER BY mind DESC, vec_id LIMIT 1)"
        )
        ctes.append(
            f"r{i + 1} AS (SELECT a.vec_id, a.emb,"
            f" LEAST(a.mind, ({d2})) AS mind"
            f" FROM r{i} a LEFT JOIN c{i} c ON TRUE)"
        )
    rounds = "\n    UNION ALL ".join(
        [
            "SELECT 0 AS round, vec_id, 0.0 AS sel_d2 FROM c0",
        ]
        + [
            f"SELECT {i} AS round, vec_id, mind AS sel_d2 FROM c{i}"
            for i in range(1, KC_K)
        ]
        + [
            f"SELECT {KC_K} AS round, CAST(-1 AS BIGINT) AS vec_id,"
            " m AS sel_d2 FROM (SELECT MAX(mind) AS m,"
            f" COUNT(*) AS nn FROM r{KC_K}) WHERE nn > 0",
        ]
    )
    return "WITH " + ",\n    ".join(ctes) + "\n    " + rounds


@register(
    "q252_kcenter_coreset",
    oracle=_kc_oracle(),
    doc=f"Gonzalez farthest-point k-center coreset (K={KC_K}): diversity "
    "selection over the embedding table — seed = min vec_id, then each "
    "round adds the point maximizing min squared-L2 distance to the "
    "chosen set (tie -> smallest vec_id); output is the selection "
    "trace (round, vec_id, the argmax distance = the PREVIOUS set's "
    "covering radius) plus a final row (round=K, vec_id=-1) with the "
    "covering radius of the full selection — the k-center objective "
    "value, a 2-approximation of optimal (Gonzalez 1985). Exactness: "
    "d2 is the unrolled index-ordered 64-term sum (bit-identical "
    "cross-engine, q246 convention); LEAST skips NULLs identically in "
    "both engines, which also makes the oracle's CTE chain degrade "
    "correctly when the corpus has fewer than K points (both sides "
    "emit only the achievable rounds). Scale shape: K-1 scans of the "
    "vector table, each a map-only LEAST-of-literals projection + "
    "TakeOrdered(1) — centers are bounded driver state (K*64 "
    "doubles, the q38 pattern), no self-join, no shuffle beyond the "
    "single-row top-1; at 100 TB each round is one embarrassingly "
    "parallel pass.",
    tags=("similarity", "sampling", "iterative"),
)
def q252_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    out_schema = "round INT, vec_id BIGINT, sel_d2 DOUBLE"
    v = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("emb"),
    )
    seed = v.orderBy("vec_id").limit(1).collect()
    if not seed:
        return rows_frame(spark, [], out_schema)
    chosen = [int(seed[0].vec_id)]
    centers = [list(seed[0].emb)]
    results: list[tuple] = [(0, chosen[0], 0.0)]
    for rnd in range(1, KC_K):
        mind = "LEAST(" + ", ".join(
            f"({_l2sq_lit_spark('emb', c)})" for c in centers
        ) + ")" if len(centers) > 1 else _l2sq_lit_spark("emb", centers[0])
        cand = (
            v.filter(~F.col("vec_id").isin(chosen))
            .selectExpr("vec_id", "emb", f"({mind}) AS mind")
            .orderBy(F.desc("mind"), F.asc("vec_id"))
            .limit(1)
            .collect()
        )
        if not cand:
            break
        r = cand[0]
        results.append((rnd, int(r.vec_id), float(r.mind)))
        chosen.append(int(r.vec_id))
        centers.append(list(r.emb))
    mind_all = "LEAST(" + ", ".join(
        f"({_l2sq_lit_spark('emb', c)})" for c in centers
    ) + ")" if len(centers) > 1 else _l2sq_lit_spark("emb", centers[0])
    cov = (
        v.selectExpr(f"({mind_all}) AS mind")
        .agg(F.max("mind").alias("m"))
        .collect()[0].m
    )
    results.append((KC_K, -1, float(cov)))
    return rows_frame(spark, results, out_schema)


# ---------------------------------------------------------------------------
# IVF index maintenance (q253): the production ANN question q31/q52 leave
# open — a new ingest batch arrives; do NOT rebuild the index. Assign the
# batch to the EXISTING centroids (one broadcast argmax pass, q31's exact
# assignment), and report per-centroid occupancy drift: base count, added
# count, added share, and a hot flag when a cell exceeds 2x the mean —
# the retrain trigger every IVF deployment monitors (imbalanced cells
# degrade probe recall; the q59 bucket-cap lesson applied to ANN). The
# incoming batch is carved deterministically (vec_id % 13 == 0, q169's
# CDC convention) so the query is self-contained and hash-checked.
IVF_INC_MOD = 13


@register(
    "q253_ivf_index_maintenance",
    oracle=f"""
    WITH v AS ({_DUCK_VEC_CTE}),
    cents AS (SELECT * FROM v WHERE vec_id < {N_CENTROIDS}),
    assign AS (
      SELECT vec_id, centroid_id,
             CAST(vec_id % {IVF_INC_MOD} = 0 AS BIGINT) AS is_new
      FROM (
        SELECT a.vec_id, b.vec_id AS centroid_id,
               row_number() OVER (
                 PARTITION BY a.vec_id
                 ORDER BY {_DOT_D} / (a.nrm * b.nrm) DESC, b.vec_id
               ) AS rnk
        FROM v a JOIN cents b ON true
      ) WHERE rnk = 1
    ),
    cells AS (
      SELECT centroid_id,
             CAST(SUM(1 - is_new) AS BIGINT) AS n_base,
             CAST(SUM(is_new) AS BIGINT) AS n_new,
             CAST(COUNT(*) AS BIGINT) AS n_total
      FROM assign GROUP BY centroid_id
    )
    SELECT centroid_id, n_base, n_new, n_total,
           CAST(1000000 * n_new // n_total AS BIGINT) AS added_share_ppm,
           CAST(n_total * CAST(SUM(1) OVER () AS BIGINT)
                > 2 * CAST(SUM(n_total) OVER () AS BIGINT)
                AS BIGINT) AS hot_flag
    FROM cells
    """,
    doc=f"IVF index maintenance: assign ALL vectors (base + the "
    f"vec_id % {IVF_INC_MOD} = 0 incremental carve, q169's CDC "
    "convention) to the existing K={0} centroids with q31's exact "
    "broadcast argmax, then report per-centroid occupancy: base/new/"
    "total counts, added share in ppm, and a hot flag when a cell "
    "exceeds 2x the mean occupancy (n_total*K > 2*N in exact "
    "integers) — the retrain trigger an IVF deployment monitors "
    "instead of rebuilding per batch (imbalanced cells degrade "
    "fixed-nprobe recall). Scale shape: one vector scan, the K-wide "
    "broadcast score + map-side max_by collapse (no N*K shuffle), a "
    "K-row aggregate, and K-row windows for the totals — everything "
    "after the scan is centroid-sized.".format(N_CENTROIDS),
    tags=("similarity", "index", "incremental"),
)
def q253_ivf_index_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    v = _vec_view_spark(spark, sf_dir)
    assign = _ivf_assign(_ivf_scored(v)).withColumn(
        "is_new",
        (F.col("vec_id") % IVF_INC_MOD == 0).cast("long"),
    )
    cells = assign.groupBy("centroid_id").agg(
        F.sum(F.lit(1) - F.col("is_new")).cast("long").alias("n_base"),
        F.sum("is_new").cast("long").alias("n_new"),
        F.count(F.lit(1)).cast("long").alias("n_total"),
    )
    return cells.selectExpr(
        "centroid_id",
        "n_base",
        "n_new",
        "n_total",
        "CAST(1000000 * n_new div n_total AS BIGINT) AS added_share_ppm",
        "CAST(n_total * CAST(SUM(1) OVER () AS BIGINT)"
        " > 2 * CAST(SUM(n_total) OVER () AS BIGINT) AS BIGINT)"
        " AS hot_flag",
    )


# ---------------------------------------------------------------------------
# nDCG@k retrieval eval (q254): the graded ranking metric the recall@k
# evals (q111/q210) don't capture — position matters. Relevance is
# label agreement (the q101/q135 convention), the discount weights
# 1e6/log2(i+1) are precomputed INTEGER literals (k is small and fixed,
# so the whole metric is exact integer arithmetic — no transcendental
# evaluation inside either engine), and IDCG uses the corpus-true
# relevant count capped at k, so a query with few relevant neighbors is
# scored against an achievable ideal.
NDCG_K = 10
_NDCG_W = {
    i: int(1_000_000 / __import__("math").log2(i + 1) + 0.5)
    for i in range(1, NDCG_K + 1)
}
_NDCG_W_CASE = (
    "CASE rnk "
    + " ".join(f"WHEN {i} THEN {w}" for i, w in _NDCG_W.items())
    + " ELSE 0 END"
)
_NDCG_CUMW = {}
_acc = 0
for _i in range(1, NDCG_K + 1):
    _acc += _NDCG_W[_i]
    _NDCG_CUMW[_i] = _acc
_NDCG_IDCG_CASE = (
    "CASE LEAST(n_rel_total, " + str(NDCG_K) + ") "
    + " ".join(f"WHEN {i} THEN {c}" for i, c in _NDCG_CUMW.items())
    + " ELSE 0 END"
)


@register(
    "q254_ndcg_eval",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, embedding::DOUBLE[] AS emb, {_NORM_D} AS nrm, label
      FROM embeddings
    ),
    ranked AS (
      SELECT a.vec_id AS query_id, a.label,
             CAST(b.label = a.label AS BIGINT) AS rel, rnk
      FROM (
        SELECT a.vec_id, a.label, b.vec_id AS neighbor_id, b.label AS blabel,
               row_number() OVER (
                 PARTITION BY a.vec_id
                 ORDER BY {_DOT_D} / (a.nrm * b.nrm) DESC, b.vec_id
               ) AS rnk
        FROM v a JOIN v b ON a.vec_id < {N_QUERIES} AND b.vec_id <> a.vec_id
      ) AS a(vec_id, label, bvid, blabel, rnk)
      JOIN v b ON b.vec_id = a.bvid
      WHERE rnk <= {NDCG_K}
    ),
    totals AS (
      SELECT a.vec_id AS query_id,
             CAST(COUNT(*) FILTER (WHERE b.label = a.label
                                   AND b.vec_id <> a.vec_id) AS BIGINT)
                 AS n_rel_total
      FROM v a JOIN v b ON a.vec_id < {N_QUERIES}
      GROUP BY a.vec_id
    ),
    dcg AS (
      SELECT query_id, label,
             CAST(SUM(rel) AS BIGINT) AS n_rel_retrieved,
             CAST(SUM(rel * ({_NDCG_W_CASE})) AS BIGINT) AS dcg_micro
      FROM ranked GROUP BY query_id, label
    )
    SELECT d.query_id, d.label, d.n_rel_retrieved,
           CAST(LEAST(t.n_rel_total, {NDCG_K}) AS BIGINT) AS n_rel_ideal,
           d.dcg_micro,
           CAST({_NDCG_IDCG_CASE} AS BIGINT) AS idcg_micro,
           CAST(1000000 * d.dcg_micro
                // NULLIF({_NDCG_IDCG_CASE}, 0) AS BIGINT) AS ndcg_ppm
    FROM dcg d JOIN totals t ON t.query_id = d.query_id
    """,
    doc=f"nDCG@{NDCG_K} retrieval eval: brute-force cosine top-"
    f"{NDCG_K} per query (q30's exact ranking), relevance = label "
    "agreement (the q101/q135 convention), DCG with 1e6/log2(i+1) "
    "discount weights precomputed as integer literals and IDCG from "
    "the corpus-true relevant count capped at k — position-aware "
    "ranking quality, exact integer arithmetic end to end (the only "
    "doubles are the cosine scores that produce the ranking, "
    "bit-identical cross-engine per the q30 convention; ndcg_ppm is "
    "a truncating integer ratio). NULL-safe: a query with zero "
    "relevant neighbors scores NULL ndcg (0/0), kept as NULL in both "
    "engines. Scale shape: q30's scored window plus one per-query "
    "relevant-count aggregate; at corpus scale the ranking side swaps "
    "for the q64 ANN stack and this exact form stays as its judge.",
    tags=("similarity", "eval"),
)
def q254_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("emb"),
        F.expr(_NORM_S.replace("embedding", "embedding")).alias("nrm"),
        "label",
    )
    # broadcast the Q-sized query side EXPLICITLY: the non-equi join
    # is a BroadcastNestedLoopJoin and size estimates at corpus scale
    # picked the N-side once (q258 at gen1000x: 2M vectors broadcast,
    # JVM death) — the q255 convention, now uniform
    a = F.broadcast(v.filter(F.col("vec_id") < N_QUERIES)).alias("a")
    b = v.alias("b")
    cos = F.expr(_DOT_S) / (F.col("a.nrm") * F.col("b.nrm"))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    ranked = (
        a.join(b, F.col("b.vec_id") != F.col("a.vec_id"))
        .select(
            F.col("a.vec_id").alias("query_id"),
            F.col("a.label").alias("label"),
            F.col("b.vec_id").alias("neighbor_id"),
            (F.col("b.label") == F.col("a.label")).cast("long").alias("rel"),
            cos.alias("cosine"),
        )
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= NDCG_K)
    )
    dcg = ranked.groupBy("query_id", "label").agg(
        F.sum("rel").cast("long").alias("n_rel_retrieved"),
        F.expr(f"CAST(SUM(rel * ({_NDCG_W_CASE})) AS BIGINT)").alias(
            "dcg_micro"
        ),
    )
    totals = (
        a.join(b, F.col("b.vec_id") != F.col("a.vec_id"))
        .groupBy(F.col("a.vec_id").alias("query_id"))
        .agg(
            F.sum(
                (F.col("b.label") == F.col("a.label")).cast("long")
            ).cast("long").alias("n_rel_total")
        )
    )
    return (
        dcg.join(totals, "query_id")
        .selectExpr(
            "query_id",
            "label",
            "n_rel_retrieved",
            f"CAST(LEAST(n_rel_total, {NDCG_K}) AS BIGINT) AS n_rel_ideal",
            "dcg_micro",
            f"CAST({_NDCG_IDCG_CASE} AS BIGINT) AS idcg_micro",
            f"CAST(1000000 * dcg_micro div NULLIF({_NDCG_IDCG_CASE}, 0)"
            " AS BIGINT) AS ndcg_ppm",
        )
    )


# ---------------------------------------------------------------------------
# KNN-Shapley data valuation (q255): which training points actually HELP?
# Jia et al. (VLDB 2019) give the exact closed form for KNN utility —
# for each validation point, sort training points by distance and run
# the suffix recurrence s_i = s_{i+1} + (m_i - m_{i+1})/K * min(K,i)/i
# (s_N = m_N/N), where m_i is label agreement. Points that push correct
# labels into the top-K get positive value; mislabeled or out-of-place
# points go negative — the principled cut list for data curation, at
# O(N log N) per validation point instead of exponential Shapley. The
# recurrence is a per-query suffix SUM window over the distance ranking
# (the q30 shape), with each term a single truncating micro-division so
# both engines produce identical integers (div and // both truncate
# toward zero, including negatives).
SHAP_K = 5


@register(
    "q255_knn_shapley_valuation",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, embedding::DOUBLE[] AS emb,
             {_DOT_D.replace("a.emb", "embedding::DOUBLE[]").replace("b.emb", "embedding::DOUBLE[]")} AS n2,
             label
      FROM embeddings
    ),
    scored AS (
      SELECT a.vec_id AS query_id, b.vec_id AS train_id, b.label,
             CAST(b.label = a.label AS BIGINT) AS m,
             row_number() OVER (
               PARTITION BY a.vec_id
               ORDER BY (a.n2 + b.n2 - 2 * ({_DOT_D})),
                        b.vec_id
             ) AS rnk,
             CAST(COUNT(*) OVER (PARTITION BY a.vec_id) AS BIGINT)
                 AS n_train
      FROM v a JOIN v b
        ON a.vec_id < {N_QUERIES} AND b.vec_id >= {N_QUERIES}
    ),
    deltas AS (
      SELECT query_id, train_id, label, rnk, n_train, m,
             CASE WHEN lead(m) OVER w IS NULL
                  THEN m * 1000000 // n_train
                  ELSE (m - lead(m) OVER w) * 1000000
                       * LEAST({SHAP_K}, rnk) // ({SHAP_K} * rnk)
             END AS delta_micro
      FROM scored
      WINDOW w AS (PARTITION BY query_id ORDER BY rnk)
    ),
    shap AS (
      SELECT query_id, train_id, label,
             CAST(SUM(delta_micro) OVER (
               PARTITION BY query_id ORDER BY rnk
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
             ) AS BIGINT) AS s_micro
      FROM deltas
    )
    SELECT train_id, label,
           CAST(SUM(s_micro) // {N_QUERIES} AS BIGINT)
               AS avg_shapley_micro,
           CAST(SUM(CASE WHEN s_micro > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_pos_queries,
           CAST(SUM(CASE WHEN s_micro < 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_neg_queries
    FROM shap GROUP BY train_id, label
    """,
    doc=f"KNN-Shapley data valuation (Jia et al. 2019): the exact "
    f"closed-form Shapley value of every training point for a K={SHAP_K} "
    "nearest-neighbor utility over the validation queries — the suffix "
    "recurrence s_i = s_(i+1) + (m_i - m_(i+1))/K * min(K,i)/i on the "
    "distance ranking, evaluated as a per-query suffix-SUM window with "
    "each term one truncating micro-division (identical integers in "
    "both engines; div and // both truncate toward zero, negatives "
    "included). Output: per-training-point average value plus "
    "helps/hurts query counts — the principled curation cut list "
    "(negative value = the point pushes wrong labels into top-K; the "
    "efficiency property sum_i s_i = matches@K / K is value-tested "
    "within truncation tolerance). Distances: d2 = n2_a + n2_b - "
    "2*dot with the squared norms computed ONCE per vector in the "
    "view and one index-ordered dot per pair (bit-identical "
    "cross-engine, the q30 convention) — the unrolled 64-subscript "
    "form used on small relations re-evaluates its array per "
    "subscript once Catalyst collapses the projection into the "
    "pairwise join (~150us/pair at 10x, measured and rejected). "
    "Scale shape: the q30 scored relation (Q broadcast x N train) "
    "plus per-query windows — at corpus scale the exact ranking swaps "
    "for the ANN stack over a candidate pool and this form stays as "
    "the oracle on the pool.",
    tags=("similarity", "eval", "valuation"),
)
def q255_knn_shapley_valuation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    # n2 is computed ONCE per vector in the view; the per-pair work is a
    # single dot product (d2 = n2_a + n2_b - 2*dot). The unrolled
    # 64-subscript form used elsewhere on SMALL relations re-evaluates
    # the transform() array per subscript once Catalyst collapses the
    # projection into the join — ~150us/pair at 10x, measured; this form
    # is the pairwise-scan shape that actually scales.
    n2_spark = _DOT_S.replace("a.emb", "embedding").replace(
        "b.emb", "embedding"
    )
    v = emb.select(
        "vec_id",
        "embedding",
        F.expr(n2_spark).alias("n2"),
        "label",
    )
    a = F.broadcast(v.filter(F.col("vec_id") < N_QUERIES)).alias("a")
    # The per-pair dot is an interpreted lambda (Spark does not codegen
    # higher-order functions), so the scoring map stage must not be
    # pinned to the parquet split count — repartition the train side to
    # full parallelism before fanning out Q rows per vector.
    b = (
        v.filter(F.col("vec_id") >= N_QUERIES)
        .repartition(F.col("vec_id"))
        .alias("b")
    )
    pair_dot = _DOT_S.replace("a.emb", "a.embedding").replace(
        "b.emb", "b.embedding"
    )
    wq = Window.partitionBy("query_id")
    wr = wq.orderBy("rnk")
    scored = (
        b.join(a)
        .select(
            F.col("a.vec_id").alias("query_id"),
            F.col("b.vec_id").alias("train_id"),
            F.col("b.label").alias("label"),
            (F.col("b.label") == F.col("a.label")).cast("long").alias("m"),
            F.expr(f"a.n2 + b.n2 - 2 * ({pair_dot})").alias("d2"),
        )
        .withColumn(
            "rnk",
            F.row_number().over(
                wq.orderBy(F.asc("d2"), F.asc("train_id"))
            ),
        )
        .withColumn("n_train", F.count(F.lit(1)).over(wq).cast("long"))
    )
    deltas = scored.withColumn("m_next", F.lead("m").over(wr)).selectExpr(
        "query_id", "train_id", "label", "rnk",
        "CASE WHEN m_next IS NULL"
        " THEN m * 1000000 div n_train"
        f" ELSE (m - m_next) * 1000000 * LEAST({SHAP_K}, rnk)"
        f"      div ({SHAP_K} * rnk)"
        " END AS delta_micro",
    )
    # Suffix sum as a DESC-ordered prefix sum: Spark's UnboundedFollowing
    # frame re-aggregates the remaining rows for EVERY row (O(n^2) per
    # partition — 42 s at 10x, measured); the incremental
    # UnboundedPreceding frame over rnk DESC is the O(n) form and the
    # deltas are exact integers, so the reordering changes nothing.
    shap = deltas.withColumn(
        "s_micro",
        F.sum("delta_micro")
        .over(
            wq.orderBy(F.desc("rnk")).rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        )
        .cast("long"),
    )
    return shap.groupBy("train_id", "label").agg(
        F.expr(f"CAST(SUM(s_micro) div {N_QUERIES} AS BIGINT)").alias(
            "avg_shapley_micro"
        ),
        F.sum((F.col("s_micro") > 0).cast("long")).cast("long").alias(
            "n_pos_queries"
        ),
        F.sum((F.col("s_micro") < 0).cast("long")).cast("long").alias(
            "n_neg_queries"
        ),
    )


# ---------------------------------------------------------------------------
# MRR@k retrieval eval (q258) — completes the ranking-eval triad next to
# recall@k (q111/q210) and nDCG@k (q254): the reciprocal rank of the
# FIRST relevant neighbor, the metric QA/retrieval stacks report when
# only one hit matters. Same scored relation as q254 (brute-force exact
# cosine ranking, relevance = label agreement), one extra conditional
# MIN per query — integer-exact in ppm.
# ---------------------------------------------------------------------------


@register(
    "q258_mrr_eval",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, embedding::DOUBLE[] AS emb, {_NORM_D} AS nrm, label
      FROM embeddings
    ),
    ranked AS (
      SELECT a.vec_id AS query_id, a.label,
             CAST(b.label = a.label AS BIGINT) AS rel, rnk
      FROM (
        SELECT a.vec_id, a.label, b.vec_id AS neighbor_id, b.label AS blabel,
               row_number() OVER (
                 PARTITION BY a.vec_id
                 ORDER BY {_DOT_D} / (a.nrm * b.nrm) DESC, b.vec_id
               ) AS rnk
        FROM v a JOIN v b ON a.vec_id < {N_QUERIES} AND b.vec_id <> a.vec_id
      ) AS a(vec_id, label, bvid, blabel, rnk)
      JOIN v b ON b.vec_id = a.bvid
      WHERE rnk <= {NDCG_K}
    ),
    per_q AS (
      SELECT query_id, label,
             CAST(COALESCE(MIN(rnk) FILTER (WHERE rel = 1), 0) AS BIGINT)
                 AS first_rel_rank,
             CAST(COALESCE(1000000 // NULLIF(
                 MIN(rnk) FILTER (WHERE rel = 1), 0), 0) AS BIGINT)
                 AS rr_ppm
      FROM ranked GROUP BY query_id, label
    )
    SELECT query_id, label, first_rel_rank, rr_ppm,
           CAST(SUM(rr_ppm) OVER () // COUNT(*) OVER () AS BIGINT)
               AS mrr_ppm
    FROM per_q
    """,
    doc=f"MRR@{NDCG_K} retrieval eval (mean reciprocal rank of the "
    "first relevant neighbor): q254's exact cosine top-k scored "
    "relation with relevance = label agreement, then per query the "
    "conditional MIN rank of the first hit — rr = 1e6/rank ppm "
    "(0 when no relevant neighbor lands in the top-k; first_rel_rank "
    "carries the 0 sentinel) and the corpus MRR as a truncating "
    "integer mean repeated per row (window SUM/COUNT over the "
    f"query-count-sized relation, {N_QUERIES} rows). Completes the "
    "standard ranking-metric triad next to recall@k (q111/q210) and "
    "nDCG@k (q254) on the same integer-weight conventions — all "
    "columns exact integers, the only doubles are the cosine scores "
    "producing the ranking (bit-identical cross-engine, q30 "
    "convention). Scale shape: identical to q254 — Q broadcast x N "
    "train scored join, per-query window, then a constant-size "
    "finish; at corpus scale the ranking side swaps for the q64 ANN "
    "stack and this exact form stays as its judge.",
    tags=("similarity", "eval"),
)
def q258_mrr_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("emb"),
        F.expr(_NORM_S.replace("embedding", "embedding")).alias("nrm"),
        "label",
    )
    # broadcast the Q-sized query side EXPLICITLY: the non-equi join
    # is a BroadcastNestedLoopJoin and size estimates at corpus scale
    # picked the N-side once (q258 at gen1000x: 2M vectors broadcast,
    # JVM death) — the q255 convention, now uniform
    a = F.broadcast(v.filter(F.col("vec_id") < N_QUERIES)).alias("a")
    b = v.alias("b")
    cos = F.expr(_DOT_S) / (F.col("a.nrm") * F.col("b.nrm"))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    ranked = (
        a.join(b, F.col("b.vec_id") != F.col("a.vec_id"))
        .select(
            F.col("a.vec_id").alias("query_id"),
            F.col("a.label").alias("label"),
            F.col("b.vec_id").alias("neighbor_id"),
            (F.col("b.label") == F.col("a.label")).cast("long").alias("rel"),
            cos.alias("cosine"),
        )
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= NDCG_K)
    )
    per_q = ranked.groupBy("query_id", "label").agg(
        F.expr(
            "CAST(COALESCE(MIN(CASE WHEN rel = 1 THEN rnk END), 0)"
            " AS BIGINT)"
        ).alias("first_rel_rank"),
        F.expr(
            "CAST(COALESCE(1000000 div NULLIF("
            "MIN(CASE WHEN rel = 1 THEN rnk END), 0), 0) AS BIGINT)"
        ).alias("rr_ppm"),
    )
    return per_q.selectExpr(
        "query_id",
        "label",
        "first_rel_rank",
        "rr_ppm",
        "CAST(SUM(rr_ppm) OVER () div COUNT(*) OVER () AS BIGINT)"
        " AS mrr_ppm",
    )


# ---------------------------------------------------------------------------
# From-materialized embedding-pair twin (q271) — round-12 closure of the
# last heavy graph query still rebuilding its candidate ladder from
# scratch (the round-11 verdict's watch item on q66's bench drift): the
# q199-q201/q262-q264 convention applied to the EMBEDDING near-dup graph.
# ---------------------------------------------------------------------------

def materialize_embedding_pairs(spark: SparkSession, sf_dir: str) -> str:
    """Run the capped RP-LSH -> cosine-verify ladder (q32's plan) ONCE
    per (session, corpus) and write the verified embedding near-dup pair
    list as parquet; later calls in the same session return the existing
    checkpoint path while it still exists (the
    checkpoint.materialize_parquet rule)."""
    return materialize_parquet(
        spark, sf_dir, "emb_pairs",
        lambda: rp_neardup_pairs(load_table(spark, sf_dir, "embeddings"))
        .select("vec_a", "vec_b"),
    )


@register(
    "q271_embedding_components_materialized",
    oracle=oracle_of("q66_embedding_neardup_components"),
    doc="q66's embedding near-dup connected components computed FROM THE "
    "MATERIALIZED verified cosine-pair checkpoint "
    "(materialize_embedding_pairs): the capped RP-LSH bucket self-join "
    "+ cosine verification — the dominant cost q66 re-runs on every "
    "execution — is paid once per corpus snapshot and written as a "
    "two-column parquet; this twin reads the checkpoint and makes "
    "q66's one CC call (embedding_components). Oracle: q66's "
    "WITH RECURSIVE form spliced verbatim — the hash match proves "
    "checkpoint/read-back loses nothing (twin == self-contained). "
    "Scale shape: one parquet scan + O(log n) CC rounds in place of "
    "the ladder; the round-11 verdict measured q66 as the last heavy "
    "graph query rebuilding candidates from scratch (its q262 "
    "text-graph sibling read 196 s vs 260-311 s self-contained at "
    "100x).",
    tags=("similarity", "dedup", "graph", "iterative", "composition"),
)
def q271_embedding_components_materialized(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return embedding_components(
        load_table(spark, sf_dir, "embeddings"),
        read_checkpoint(spark, materialize_embedding_pairs(spark, sf_dir)),
    )
