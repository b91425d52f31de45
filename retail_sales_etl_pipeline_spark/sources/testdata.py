"""Readers for the driver-generated TPC-H-ish parquet testdata.

Each table is a single parquet file under an ``sf*`` directory (see
TESTDATA.md). These are plain columnar scans: filters and projections
declared downstream reach the parquet reader via Catalyst pushdown, so no
options beyond the path are needed here. At cluster scale the same code
reads a directory of many files; nothing below assumes a single file.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension-sized tables that should always be broadcast when joined against
# the big fact-sized tables. At any realistic scale factor these stay orders
# of magnitude below spark.sql.autoBroadcastJoinThreshold relative to the
# fact tables; we still mark broadcasts explicitly at the join sites.
SMALL_TABLES = frozenset({"region", "nation", "supplier", "part", "customer"})


# Corpus tables whose consumers do heavy PER-ROW compute (tokenize,
# n-gram explode, binary decode, vector math) mapped to their primary
# key. A parquet file is split at ROW-GROUP granularity, and every
# testdata table is written as one row group — so however many byte-range
# splits the scan planner makes, exactly one task gets all the rows and
# the whole narrow pipeline runs single-threaded (measured: the trigram
# explode over sf0.1 documents took 3.7 s on one core while 31 idled).
# When the scan is too small to fill the cores, fan it out once, hashed
# by the primary key so every downstream groupBy/window on that key
# reuses the partitioning instead of adding its own exchange.
# embeddings is deliberately NOT here: its per-row work is vectorized
# numpy over Arrow batches, and the A/B measurement (q66/q32 +0.3-0.5 s
# with the fan-out, q74 -0.2 s) showed splitting a tiny vector table
# into per-core Arrow crumbs costs more than the parallelism returns.
# The relational tables (orders/lineitem/events and the dims) are not
# here either, by measurement: a full-bench A/B with
# orders/lineitem/events fanned out showed the extra exchange taxing
# ~200 cheap scan+agg queries by ~0.1-0.5 s each (q33 0.15→0.66,
# q183 0.25→0.71, q05 0.25→0.72) — more than the few CPU-heavy
# aggregates (q124 2.45→1.20 in isolation) win back. Their per-row
# work is columnar expression evaluation, not the per-doc text/decode
# compute that makes the documents fan-out pay.
#
# The fan-out is OPT-IN per call site (``fan_out=True``), also by
# measurement: blanket fan-out of documents taxed every cheap doc
# query with a 32-task stage chain it didn't need (q20 0.28→0.80,
# q118 0.71→2.11 — an explicit repartition is exempt from AQE
# coalescing, so the whole downstream plan inherits the task count),
# while the heavy sites (LSH signature ladder, prefix index, k-gram
# winnowing, ExactSubstr grams) win 2-5x (q259 12.7→3.8, q163
# 6.2→1.3, q268 1.65→0.82 isolated A/B). Callers that do real
# per-row compute over the corpus ask for the fan-out; everyone else
# keeps the raw scan.
#
# orders/lineitem entries exist ONLY for the handful of opt-in sites
# whose aggregate is measurably compute-bound on the single-row-group
# scan (q124's 24-expression profile with its 7x countDistinct Expand:
# 2.45→1.20 isolated in the round-12 A/B; q175's lineitem join+rollup).
# Every other relational consumer keeps the raw scan — the round-12
# full-bench A/B showed a blanket relational fan-out taxing ~200 cheap
# queries more than these few win back.
_FANOUT_TABLES = {
    "documents": "doc_id",
    "orders": "o_orderkey",
    "lineitem": "l_orderkey",
}

# Fan out only when the scan CANNOT fill the cluster on its own: a
# parquet scan produces at most ceil(bytes / maxPartitionBytes) tasks
# (fewer still when files have few row groups), so below
# cores x maxPartitionBytes the natural parallelism is provably under
# the core count and the one extra exchange buys a fully-parallel
# pipeline. Measured motivation for the round-13 widening (was a fixed
# 4 MB/core): the 1000x corpus is a single 605 MB file of ~6 row
# groups — above the old gate, so the opt-in sites never fanned out
# and the index build's interpreted trigram stage ran ~35 min on 5
# straggler tasks with 27 cores idle (thread-dump evidence in commit
# c702992). At production scale (multi-TB directories of
# many files) bytes >> cores x split size and the plan is untouched —
# the rule adapts to scale instead of tuning for local[32].
_FANOUT_FALLBACK_SPLIT_BYTES = 128 * 1024 * 1024


_SIZE_SUFFIX = {"k": 1024, "m": 1024**2, "g": 1024**3, "t": 1024**4}


def _parse_bytes(v: str) -> int | None:
    s = v.strip().lower().removesuffix("b")
    if s and s[-1] in _SIZE_SUFFIX:
        mult, s = _SIZE_SUFFIX[s[-1]], s[:-1]
    else:
        mult = 1
    try:
        return int(float(s) * mult)
    except ValueError:
        return None


def _fanout_gate_bytes(spark: SparkSession) -> int:
    cores = spark.sparkContext.defaultParallelism
    raw = spark.conf.get(
        "spark.sql.files.maxPartitionBytes", str(_FANOUT_FALLBACK_SPLIT_BYTES)
    )
    split = _parse_bytes(raw) or _FANOUT_FALLBACK_SPLIT_BYTES
    return cores * split


def _dir_bytes(path: str) -> int | None:
    """On-disk bytes of a LOCAL path, or None when the size cannot be
    known this way (URI scheme like hdfs://s3a://, or a path this
    process cannot see). The round-12 form returned 0 for those — which
    INVERTED the fan-out gate at exactly the scale it protects against:
    an arbitrarily large remote table would read as 'tiny' and get the
    repartition (round-12 ADVICE, medium). Unknown size now means NO
    fan-out: the safe default is the untouched scan, and a genuinely
    tiny remote table merely misses a local-mode optimization."""
    if "://" in path or not os.path.exists(path):
        return None
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def load_table(
    spark: SparkSession, sf_dir: str, name: str, fan_out: bool = False
) -> DataFrame:
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = _load_events(spark, path) if name == "events" else spark.read.parquet(path)
    key = _FANOUT_TABLES.get(name)
    if fan_out and key is not None:
        nbytes = _dir_bytes(path)
        if nbytes is not None and nbytes < _fanout_gate_bytes(spark):
            df = df.repartition(spark.sparkContext.defaultParallelism, key)
    return df


def _load_events(spark: SparkSession, path: str) -> DataFrame:
    """events.ts is parquet TIMESTAMP(NANOS), which Spark's vectorized
    reader rejects ([PARQUET_TYPE_ILLEGAL]). Read nanos as raw longs
    (legacy conf, runtime-settable) and convert to microsecond
    TIMESTAMP_NTZ — lossless for this data (every value has zero
    sub-microsecond part).

    NTZ, not timestamp_micros (LTZ): every other testdata timestamp reads
    as NTZ wall-clock, and an LTZ ts would make date_trunc/session_window/
    to_date depend on the SESSION time zone — same integer data, different
    hour buckets under TZ=America/New_York. timestampadd on an NTZ epoch
    literal is exact integer µs arithmetic with no zone in sight."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    if isinstance(df.schema["ts"].dataType, LongType):
        # integer division: epoch-nanos (~1.7e18) exceeds double precision
        # (2^53), so `/ 1000` would round some values off by 1 µs
        df = df.withColumn(
            "ts",
            F.expr(
                "timestampadd(MICROSECOND, ts div 1000, "
                "TIMESTAMP_NTZ '1970-01-01 00:00:00')"
            ),
        )
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every testdata table as a temp view (for spark.sql use)."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
