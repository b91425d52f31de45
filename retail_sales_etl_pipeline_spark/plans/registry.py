"""Central query registry.

Every operator the engine claims is registered here as a named query:
a PySpark callable ``(spark, sf_dir) -> DataFrame`` plus, where the
semantics are SQL-expressible, an equivalent ANSI-SQL string a DuckDB
oracle can run over the same parquet files. ``__spark_entry__`` exposes
this registry to the correctness driver.

Hash-parity conventions (the driver compares sorted-by-column-name,
order-insensitive value hashes):

- counts → BIGINT on both sides (DuckDB SUM(int) is HUGEINT — cast it).
- money / double SUMs → per-row cast to DECIMAL then sum (exact,
  order-independent), rendered as a fixed-scale string.
- per-row double arithmetic (x*y, x/y) is bit-deterministic IEEE and safe.
- every computed column aliased identically in both dialects.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

SparkQuery = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    name: str
    spark_fn: SparkQuery
    oracle: str | None  # ANSI SQL for DuckDB; None → rows-only check
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


QUERIES: dict[str, Query] = {}


def register(
    name: str,
    oracle: str | None,
    doc: str = "",
    tags: tuple[str, ...] = (),
) -> Callable[[SparkQuery], SparkQuery]:
    def deco(fn: SparkQuery) -> SparkQuery:
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        QUERIES[name] = Query(name, fn, oracle, doc, tags)
        return fn

    return deco


QUERY_MODULES = (
    "parity_queries",
    "dedup_queries",
    "exactsubstr_queries",
    "curation_queries",
    "similarity_queries",
    "text_queries",
    "search_queries",
    "event_queries",
    "multimodal_queries",
    "mixing_queries",
    "tokenizer_queries",
    "analytic_queries",
    "window_queries",
    "composite_queries",
)


def oracle_of(name: str) -> str:
    """The registered oracle of ``name``, for splicing verbatim into
    another query's oracle. The module that registers ``name`` must be
    imported first: a module that splices another module's oracle
    imports that module itself."""
    return QUERIES[name].oracle


def load_all() -> dict[str, Query]:
    """Import every query-defining module, then return the registry.

    A broken module must FAIL LOUDLY: silently skipping it would shrink the
    registry and let the correctness gate 'pass' on reduced coverage with no
    signal. All failures are collected so one broken module doesn't mask
    another, then raised together.

    CACHE CONTRACT: four queries persist() a multi-consumer frame INSIDE
    their own DAG and deliberately do not unpersist it — q86's
    candidates, q157/q262's pairs in the distributed branch (above the
    small-graph bound), q165's items/supp and q204's fingerprints. The
    DataFrame is still lazy when the query function returns, so the
    query cannot know when its consumer is done. A long-lived session
    running many registry queries should call
    ``spark.catalog.clearCache()`` between queries (the test fixtures do
    exactly this); a one-job-per-application deployment needs nothing.
    Every such persist is single-query-scoped: nothing is keyed to
    survive into another query's plan. The two other persists release
    their own: the connected-components operator's edge list
    (operators.graph) and the prefix-index build's ranked frame.
    """
    failures: list[tuple[str, Exception]] = []
    for mod in QUERY_MODULES:
        try:
            __import__(f"{__package__}.{mod}")
        except Exception as exc:  # noqa: BLE001 — any import-time error counts
            failures.append((mod, exc))
    if failures:
        detail = "; ".join(f"{m}: {type(e).__name__}: {e}" for m, e in failures)
        raise ImportError(f"query module(s) failed to import — {detail}")
    return QUERIES
