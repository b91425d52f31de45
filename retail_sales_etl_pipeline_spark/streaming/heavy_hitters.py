"""Streaming Misra-Gries heavy hitters — the streaming twin of q251's
batch candidate->verify pipeline (plans/text_queries.py).

Production shape at 100 TB: the corpus arrives as document batches and
"what tokens are heavy right now" must be answerable without re-reading
history. MG summaries are mergeable (Agarwal et al. 2012), so each
micro-batch's DISTRIBUTED per-shard summaries (the exact q251 grouped-map
operator) fold into ONE running K-counter summary in ``foreachBatch`` —
state is K counters + a token count, kilobytes forever, and the recall
theorem composes across the merge tree: any token whose count over the
WHOLE stream so far exceeds N/(K+1) is in the running summary.

Honesty note, and the contrast with the KLL rollup twin: MG summary
RESIDUALS depend on fold order (Arrow batch order inside a shard, batch
arrival order across the stream), so — unlike the KLL sketch — there is
no replay bit-identity claim here. The deterministic artifact is the
VERIFIED output: exact-recount the candidates over the full data and
threshold on cnt*(K+1) > N, which tests/test_streaming_mg.py asserts
equals batch q251 row-for-row. That is the same discipline as the batch
query: summaries never leave the operator unverified.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.text import misra_gries_shard_summaries
from ..plans.text_queries import MG_K, MG_SHARDS
from ..schemas import rows_frame

DOCS_STREAM_SCHEMA = (
    "doc_id long, text string, lang string, source string, n_chars long"
)


def read_documents_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-source document stream (one parquet file per micro-batch by
    default — the test harness's slice-replay shape)."""
    return (
        spark.readStream.schema(DOCS_STREAM_SCHEMA)
        .format("parquet")
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .load(path)
    )


def doc_token_shards(docs: DataFrame) -> DataFrame:
    """q251's token projection: (token, shard) with doc_id-keyed shards."""
    return (
        docs.select(
            "doc_id", F.explode(F.split("text", " ")).alias("token")
        )
        .filter(F.length("token") > 0)
        .select("token", (F.col("doc_id") % MG_SHARDS).alias("shard"))
    )


def merge_mg(
    counters: dict[str, int], batches: list[dict[str, int]], k: int
) -> dict[str, int]:
    """Agarwal et al. merge: add counters, then (if over k entries)
    subtract the (k+1)-th largest count and drop non-positives. Errors
    add, so the N/(k+1) recall threshold holds for the merged stream."""
    out = dict(counters)
    for b in batches:
        for t, c in b.items():
            out[t] = out.get(t, 0) + c
    if len(out) > k:
        sub = sorted(out.values(), reverse=True)[k]
        out = {t: c - sub for t, c in out.items() if c > sub}
    return out


class MgRollup:
    """Running MG summary + the ``foreachBatch`` sink that folds each
    micro-batch into it. State: <= k counters and one token count."""

    def __init__(self, k: int = MG_K):
        self.k = k
        self.counters: dict[str, int] = {}
        self.n_tokens = 0
        self.n_batches = 0
        self.max_state = 0

    def fold_batch(self, batch_docs: DataFrame) -> None:
        rows = misra_gries_shard_summaries(
            doc_token_shards(batch_docs), self.k
        ).collect()
        self.n_batches += 1
        # The operator emits its grouping key, so each shard's rows merge
        # as ONE real K-counter summary (not singletons) — the Agarwal
        # et al. merge then composes shard summaries into the rollup.
        shard_sums: dict[object, dict[str, int]] = {}
        for r in rows:
            if r.token is None:
                self.n_tokens += int(r.cnt)
            else:
                shard_sums.setdefault(r.shard, {})[r.token] = int(r.cnt)
        self.counters = merge_mg(
            self.counters, list(shard_sums.values()), self.k
        )
        self.max_state = max(self.max_state, len(self.counters))

    def sink(self, batch_docs: DataFrame, batch_id: int) -> None:
        self.fold_batch(batch_docs)

    def candidates(self) -> list[str]:
        return sorted(self.counters)


def verified_heavy_hitters(
    spark: SparkSession, all_docs: DataFrame, rollup: MgRollup
) -> DataFrame:
    """q251's exact-verify stage driven by the STREAM's candidate state:
    recount only candidate tokens over the full data, threshold on the
    exact integer rule. Equality with batch q251 is the streaming twin's
    correctness claim."""
    out_schema = (
        "token string, exact_count long, n_tokens long, share_ppm long"
    )
    cand = rollup.candidates()
    n = rollup.n_tokens
    if not cand or n == 0:
        return rows_frame(spark, [], out_schema)
    cand_df = F.broadcast(rows_frame(spark, [(t,) for t in cand], "token string"))
    return (
        doc_token_shards(all_docs)
        .join(cand_df, "token")
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_count"))
        .filter(F.col("exact_count") * (rollup.k + 1) > F.lit(n))
        .selectExpr(
            "token",
            "exact_count",
            f"CAST({n} AS BIGINT) AS n_tokens",
            f"CAST(1000000 * exact_count div {n} AS BIGINT) AS share_ppm",
        )
    )
