"""Similarity search over embedding columns (array<float>).

Two execution paths, same semantics:

1. **SQL-expression path** (the oracle-checked default): dot products as
   ``aggregate(zip_with(...))`` — index-ordered double summation, which is
   bit-identical to DuckDB's list_dot_product, so cosine scores need no
   rounding to hash-match. Stays JVM-side in whole-stage codegen.
2. **Arrow/numpy path** (``brute_force_topk_pandas``): mapInPandas batches
   with a broadcast query matrix and one BLAS matmul per batch, emitting
   per-batch partial top-k that a final window merge reduces. This is the
   throughput path when Q (number of queries) is large — 10-100x the
   per-element SQL fold — at the cost of engine-external arithmetic
   (pairwise summation), so it is verified against path 1 in tests rather
   than against the oracle.

Scale patterns:
- brute force is O(N*Q) but embarrassingly parallel: partial top-k per
  partition, merge k*partitions rows — never a full N*Q shuffle.
- IVF: K centroids broadcast to assign each vector once (O(N*K)), then
  queries probe only their own cluster — a (cluster_id) equi-join.
- RP-LSH: T tables of B sign-bits from fixed integer hyperplanes; candidate
  pairs come from (table, bucket) equality — tunable recall/cost via T, B.
  Hyperplanes are deterministic integer formulas, so the whole pipeline is
  oracle-expressible.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schemas import rows_frame

RP_TABLES = 4
RP_BITS = 4
_DIMS = 64

# Hot-bucket cap for RP-LSH candidate generation (see dedup_queries.
# LSH_MAX_BUCKET for the rationale). The 2^RP_BITS bucket space is FIXED,
# so bucket size grows linearly with the corpus — at real corpus scale the
# structural fix is more hyperplanes (bucket space must scale with N); the
# cap's job is bounding degenerate buckets (e.g. near-zero embeddings that
# all land in one cell) to cap^2 pair work. Observed max bucket: 65 at
# sf0.01, 281 at sf0.1 — 1024 is a no-op at test scale and is mirrored in
# the q32 oracle; dropped buckets stay observable via q59.
RP_MAX_BUCKET = 1024


def _hyperplane(bit_k: int, dims: int = _DIMS) -> list[int]:
    """Deterministic pseudo-random integer hyperplane in [-9, 9]."""
    return [((bit_k * 73856093 + j * 19349663) % 19) - 9 for j in range(dims)]


# --- dialect-paired expressions -------------------------------------------


def dot_pair(a: str, b: str) -> tuple[str, str]:
    spark = (
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        f"0.0D, (acc, v) -> acc + v)"
    )
    duck = f"list_dot_product({a}::DOUBLE[], {b}::DOUBLE[])"
    return spark, duck


def norm_pair(a: str) -> tuple[str, str]:
    ds, dd = dot_pair(a, a)
    return f"sqrt({ds})", f"sqrt({dd})"


def hyperplane_dot_pair(col: str, bit_k: int, dims: int = _DIMS) -> tuple[str, str]:
    h = _hyperplane(bit_k, dims)
    spark_arr = "array(" + ", ".join(f"{v}.0D" for v in h) + ")"
    duck_arr = "[" + ", ".join(f"{v}.0" for v in h) + "]::DOUBLE[]"
    return dot_pair(col, spark_arr)[0], f"list_dot_product({col}::DOUBLE[], {duck_arr})"


def l2sq_sub_pair(a: str, b: str, start: int, length: int) -> tuple[str, str]:
    """Squared L2 distance over one subvector (0-based element ``start``,
    ``length`` elements) as a paired (Spark SQL, DuckDB SQL) expression.

    Both sides are the SAME unrolled left-associated 8-ish-term sum of
    per-index squared differences — index-ordered, so the double result is
    bit-identical across engines (the q30 dot-product convention). Spark
    array subscripts are 0-based, DuckDB's 1-based; both inputs are
    already DOUBLE[] views so no per-term casts are needed.
    """
    s_terms, d_terms = [], []
    for i in range(length):
        j = start + i
        s_terms.append(f"(({a}[{j}] - {b}[{j}]) * ({a}[{j}] - {b}[{j}]))")
        d_terms.append(f"(({a}[{j + 1}] - {b}[{j + 1}]) * ({a}[{j + 1}] - {b}[{j + 1}]))")
    return " + ".join(s_terms), " + ".join(d_terms)


def rp_bucket_pair(col: str, table: int, bits: int = RP_BITS) -> tuple[str, str]:
    """Sign-bit bucket id for one LSH table: bit r set when the projection
    onto hyperplane (table*bits + r) is positive."""
    s_terms, d_terms = [], []
    for r in range(bits):
        ds, dd = hyperplane_dot_pair(col, table * bits + r)
        s_terms.append(f"(CASE WHEN {ds} > 0 THEN {1 << r} ELSE 0 END)")
        d_terms.append(f"(CASE WHEN {dd} > 0 THEN {1 << r} ELSE 0 END)")
    return " + ".join(s_terms), " + ".join(d_terms)


# --- Arrow/numpy path ------------------------------------------------------


def rp_buckets_pandas(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    tables: int = RP_TABLES,
    bits: int = RP_BITS,
    dims: int = _DIMS,
) -> DataFrame:
    """Arrow/numpy twin of the SQL ``rp_bucket_pair`` expressions: emits
    (vec_id, tbl, bucket) for every LSH table in one mapInPandas pass.

    Bit-identical to the SQL fold: products are rounded individually and the
    accumulation runs sequentially over dims (index order, starting at 0.0),
    matching ``aggregate(zip_with(...), 0.0D, (acc, v) -> acc + v)`` exactly —
    so sign decisions near zero cannot diverge from the oracle. ~16 fused
    hyperplane projections per batch instead of 16 interpreted lambda chains.
    """
    import numpy as np

    n_planes = tables * bits
    hyp = np.array(
        [_hyperplane(k, dims) for k in range(n_planes)], dtype=np.float64
    )  # (planes, dims)
    powers = np.array([1 << r for r in range(bits)], dtype=np.int64)
    out_schema = "vec_id long, tbl int, bucket int"

    def bucketize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            mat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            n = mat.shape[0]
            # sequential accumulation over dims == the SQL fold's order
            acc = np.zeros((n, n_planes), dtype=np.float64)
            for j in range(dims):
                acc += mat[:, j : j + 1] * hyp[:, j][None, :]
            signs = (acc > 0).reshape(n, tables, bits)
            buckets = (signs * powers[None, None, :]).sum(axis=2)  # (n, tables)
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(ids, tables),
                    "tbl": np.tile(np.arange(tables, dtype=np.int32), n),
                    "bucket": buckets.reshape(-1).astype(np.int32),
                }
            )

    return emb.select(id_col, vec_col).mapInPandas(bucketize, out_schema)


def brute_force_topk_pandas(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k via Arrow-batched numpy matmul + partial top-k
    merge. Returns (query_id, neighbor_id, cosine, rank).

    The query matrix is collected (queries are a user-supplied handful) and
    shipped in the task closure; each Arrow batch computes Q x batch scores
    with one BLAS call and emits only its local top-k — the merge input is
    k * n_batches rows, independent of corpus size.
    """
    import numpy as np

    q_rows = (
        emb.filter(F.col(id_col).isin(query_ids)).select(id_col, vec_col).collect()
    )
    if not q_rows:
        # no matching query vectors: empty result, stable schema
        return rows_frame(
            emb.sparkSession, [], "query_id long, neighbor_id long, cosine double, rank int"
        )
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    q_mat = np.stack([np.asarray(r[1], dtype=np.float64) for r in q_rows])
    q_norm = np.linalg.norm(q_mat, axis=1)

    out_schema = "query_id long, neighbor_id long, cosine double"

    def score_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            mat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            norms = np.linalg.norm(mat, axis=1)
            scores = (q_mat @ mat.T) / (q_norm[:, None] * norms[None, :])
            # self-matches excluded
            for qi, qid in enumerate(q_ids):
                mask = ids != qid
                s, i = scores[qi][mask], ids[mask]
                top = np.argsort(-s, kind="stable")[:k]
                yield pd.DataFrame(
                    {"query_id": qid, "neighbor_id": i[top], "cosine": s[top]}
                )

    partial = emb.select(id_col, vec_col).mapInPandas(score_batches, out_schema)
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .withColumn("rank", F.col("rank").cast("int"))
    )
