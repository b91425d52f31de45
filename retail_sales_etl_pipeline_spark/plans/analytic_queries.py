"""Analytic operators beyond the reference surface: as-of join, pivot,
rollup/grouping sets, outer-join aggregation, percentiles.

The as-of join is the canonical "Spark lacks a native one" operator
(DuckDB/Pandas/kdb all ship it): implemented here as the scalable
union-and-last_value window pattern — one shuffle on the partition key,
no range explosion — and oracle-checked against DuckDB's native
ASOF LEFT JOIN.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import decimal_str, money_sum
from ..functions.scalar import POLY_MOD
from ..sources import load_table
from .registry import register

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@register(
    "q40_asof_join",
    oracle="""
    WITH p AS (
      SELECT user_id, ts, event_id AS purchase_event_id, value
      FROM events WHERE event_type = 'purchase'
      QUALIFY row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) = 1
    ),
    e AS (
      SELECT user_id, ts, event_id FROM events WHERE event_type = 'error'
    )
    SELECT e.event_id, e.user_id, e.ts,
           p.purchase_event_id,
           p.value AS purchase_value,
           CAST(epoch_us(e.ts) - epoch_us(p.ts) AS BIGINT) AS gap_us
    FROM e ASOF LEFT JOIN p ON e.user_id = p.user_id AND e.ts >= p.ts
    """,
    doc="As-of join: each error event matched to the most recent "
    "prior-or-simultaneous purchase by the same user. Spark has no native "
    "as-of join; the scalable form is union-both-sides + last_value(ignore "
    "nulls) over one (user_id, ts) window — a single shuffle, no range-"
    "explosion, same plan shape at any scale. Ties inside the build side "
    "are pre-deduped (max event_id per (user, ts)) so both engines pick "
    "the same match. Oracle: DuckDB's native ASOF LEFT JOIN.",
    tags=("analytic", "join", "asof"),
)
def q40_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w_tie = Window.partitionBy("user_id", "ts").orderBy(F.desc("event_id"))
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .withColumn("_rn", F.row_number().over(w_tie))
        .filter(F.col("_rn") == 1)
        .select(
            "user_id",
            "ts",
            F.col("event_id").alias("purchase_event_id"),
            F.col("value").alias("purchase_value"),
            F.lit(0).alias("side"),
            F.lit(None).cast("long").alias("event_id"),
        )
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id",
        "ts",
        F.lit(None).cast("long").alias("purchase_event_id"),
        F.lit(None).cast("double").alias("purchase_value"),
        F.lit(1).alias("side"),
        "event_id",
    )
    # side=0 sorts purchases before errors at identical ts, matching the
    # oracle's >= (inclusive) as-of semantics.
    unioned = purchases.unionByName(errors)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "side")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = unioned.select(
        "event_id",
        "user_id",
        "ts",
        "side",
        F.last("purchase_event_id", ignorenulls=True).over(w).alias("purchase_event_id"),
        F.last("purchase_value", ignorenulls=True).over(w).alias("purchase_value"),
        F.last(F.when(F.col("side") == 0, F.col("ts")), ignorenulls=True)
        .over(w)
        .alias("p_ts"),
    )
    return carried.filter(F.col("side") == 1).select(
        "event_id",
        "user_id",
        "ts",
        "purchase_event_id",
        "purchase_value",
        # timestampdiff NTZ-to-NTZ: TZ-free, unlike unix_micros (which
        # would cast NTZ inputs to LTZ via the session zone)
        F.expr("timestampdiff(MICROSECOND, p_ts, ts)").cast("long").alias("gap_us"),
    )


@register(
    "q41_pivot_event_counts",
    oracle=f"""
    SELECT CAST(hour(ts) AS INTEGER) AS hour_of_day,
           {", ".join(f"CAST(SUM(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) AS BIGINT) AS {t}" for t in EVENT_TYPES)}
    FROM events
    GROUP BY hour(ts)
    """,
    doc="Pivot: event counts per hour-of-day, one column per event type "
    "(explicit value list — a pivot without one needs an extra distinct "
    "pass and yields nondeterministic column order). Planned as a single "
    "hash aggregate with N conditional counters, same as the oracle's "
    "CASE form.",
    tags=("analytic", "pivot"),
)
def q41_pivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.hour("ts").cast("int").alias("hour_of_day"))
        .pivot("event_type", EVENT_TYPES)
        .count()
        .na.fill(0, EVENT_TYPES)
    )


@register(
    "q42_rollup_revenue",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INTEGER) AS yr,
           CAST(month(o_orderdate) AS INTEGER) AS mo,
           CAST(GROUPING(year(o_orderdate)) AS INTEGER) AS g_yr,
           CAST(GROUPING(month(o_orderdate)) AS INTEGER) AS g_mo,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS VARCHAR)
               AS revenue
    FROM orders
    GROUP BY ROLLUP(year(o_orderdate), month(o_orderdate))
    """,
    doc="ROLLUP hierarchy (year -> month -> grand total) with GROUPING "
    "flags disambiguating subtotal rows from genuine NULL keys. One "
    "shuffle; Spark expands the grouping sets map-side.",
    tags=("analytic", "rollup"),
)
def q42_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").withColumn(
        "yr", F.year("o_orderdate")
    ).withColumn("mo", F.month("o_orderdate"))
    return (
        orders.rollup("yr", "mo")
        .agg(
            F.grouping("yr").cast("int").alias("g_yr"),
            F.grouping("mo").cast("int").alias("g_mo"),
            F.count(F.lit(1)).alias("n_orders"),
            decimal_str(money_sum("o_totalprice")).alias("revenue"),
        )
        .select(
            F.col("yr").cast("int").alias("yr"),
            F.col("mo").cast("int").alias("mo"),
            "g_yr",
            "g_mo",
            "n_orders",
            "revenue",
        )
    )


@register(
    "q43_outer_join_customer_orders",
    oracle="""
    SELECT c.c_custkey,
           c.c_mktsegment,
           CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_orders,
           CAST(COALESCE(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)),
                         CAST(0 AS DECIMAL(38,2))) AS VARCHAR) AS lifetime_value
    FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey, c.c_mktsegment
    """,
    doc="LEFT OUTER join + aggregate: every customer appears, zero-order "
    "customers show n_orders=0 and 0.00 lifetime value (COUNT(col) skips "
    "the null-extended rows; SUM of none is NULL -> coalesced). The "
    "customer side broadcasts when dimension-sized.",
    tags=("analytic", "join"),
)
def q43_outer_join_customer_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    zero = F.lit(0).cast("decimal(38,2)")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(money_sum("o_totalprice").cast("decimal(38,2)"), zero)
            .cast("string")
            .alias("lifetime_value"),
        )
    )


@register(
    "q44_percentiles",
    oracle="""
    SELECT o_orderpriority,
           round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
           round(quantile_cont(o_totalprice, 0.9), 4) AS p90,
           round(quantile_cont(o_totalprice, 0.99), 4) AS p99
    FROM orders
    GROUP BY o_orderpriority
    """,
    doc="Exact interpolated percentiles per group (ANSI percentile_cont "
    "semantics in both engines; rounded to 4 decimals to absorb last-ulp "
    "interpolation differences). At 100 TB the exact form requires a "
    "per-group sort — approx_percentile (t-digest sketch, one pass, "
    "mergeable) is the scale path when error tolerance allows.",
    tags=("analytic", "aggregate"),
)
def q44_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.round(F.percentile("o_totalprice", F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile("o_totalprice", F.lit(0.9)), 4).alias("p90"),
        F.round(F.percentile("o_totalprice", F.lit(0.99)), 4).alias("p99"),
    )


@register(
    "q107_scd2_history",
    oracle="""
    WITH ordered AS (
      SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey,
             lag(o_orderpriority) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ) AS prev_p
      FROM orders
    ),
    flagged AS (
      SELECT *, CASE WHEN prev_p IS NULL OR prev_p <> o_orderpriority
                     THEN 1 ELSE 0 END AS chg
      FROM ordered
    ),
    seg AS (
      SELECT *, SUM(chg) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS UNBOUNDED PRECEDING
             ) AS version
      FROM flagged
    ),
    hist AS (
      SELECT o_custkey, o_orderpriority AS priority,
             CAST(version AS INTEGER) AS version,
             MIN(o_orderdate) AS valid_from
      FROM seg GROUP BY o_custkey, o_orderpriority, version
    )
    SELECT o_custkey, priority, version,
           CAST(valid_from AS VARCHAR) AS valid_from_iso,
           CAST(lead(valid_from) OVER (
             PARTITION BY o_custkey ORDER BY version
           ) AS VARCHAR) AS valid_to_iso,
           lead(valid_from) OVER (
             PARTITION BY o_custkey ORDER BY version
           ) IS NULL AS is_current
    FROM hist
    """,
    doc="Slowly-changing-dimension Type-2 history build: per customer, "
    "collapse the order stream into contiguous runs of o_orderpriority "
    "and emit one versioned row per run with [valid_from, valid_to) "
    "effective-date bounds and an is_current flag — the standard "
    "warehouse pattern for tracking attribute history (reference "
    "dim upserts are Type-1 overwrite, operators/dims.py; this is the "
    "history-preserving sibling). Plan: change-point detection via lag, "
    "run ids via a running sum, run collapse via groupBy, bounds via "
    "lead — ALL on the same (custkey, date, key) sort within one "
    "partitioning, so Spark plans a single exchange and reuses its sort "
    "for every window. Scale: state per key is its run count; no "
    "driver-side anything; ties broken by o_orderkey so versions are "
    "deterministic under any partitioning.",
    tags=("warehouse", "window", "scd2"),
)
def q107_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderpriority", "o_orderdate", "o_orderkey"
    )
    seq = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    flagged = orders.withColumn(
        "chg",
        F.when(
            F.lag("o_orderpriority").over(seq).isNull()
            | (F.lag("o_orderpriority").over(seq) != F.col("o_orderpriority")),
            1,
        ).otherwise(0),
    )
    seg = flagged.withColumn(
        "version",
        F.sum("chg").over(seq.rowsBetween(Window.unboundedPreceding, 0)).cast("int"),
    )
    hist = seg.groupBy(
        "o_custkey", F.col("o_orderpriority").alias("priority"), "version"
    ).agg(F.min("o_orderdate").alias("valid_from"))
    by_ver = Window.partitionBy("o_custkey").orderBy("version")
    valid_to = F.lead("valid_from").over(by_ver)
    return hist.select(
        "o_custkey",
        "priority",
        "version",
        F.col("valid_from").cast("string").alias("valid_from_iso"),
        valid_to.cast("string").alias("valid_to_iso"),
        valid_to.isNull().alias("is_current"),
    )


N_SALTS = 16


@register(
    "q108_salted_skew_agg",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS total_value
    FROM events
    GROUP BY event_type
    """,
    doc=f"Salted two-phase aggregation for pathologically skewed group "
    "keys: events carry only ~5 distinct event_types, so a naive "
    "groupBy(event_type) funnels the whole table through 5 reducers — "
    "the classic hot-key straggler at 100 TB. Phase 1 aggregates on "
    f"(event_type, salt) with salt = pmod(hash(event_id), {N_SALTS}), "
    "spreading each hot key across "
    f"{N_SALTS} reducers; phase 2 merges the {N_SALTS}x5 partials — "
    "COUNTs add, and the per-row DECIMAL cast makes the value SUM "
    "associative (order-independent), which is exactly the property "
    "that licenses split-and-merge. The oracle runs the PLAIN GROUP BY: "
    "hash parity proves the salted plan computes the identical result. "
    "(Spark's partial/final hash agg does this automatically for "
    "built-in aggregates; the explicit form is the pattern for "
    "algebraic aggregates the optimizer can't split — and the one to "
    "reach for when AQE skew handling can't see the key.)",
    tags=("scale", "aggregate", "skew"),
)
def q108_salted_skew_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    partial = (
        ev.withColumn("salt", F.pmod(F.hash("event_id"), F.lit(N_SALTS)))
        .groupBy("event_type", "salt")
        .agg(
            F.count(F.lit(1)).alias("pn"),
            F.sum(F.col("value").cast("decimal(18,6)")).alias("pv"),
        )
    )
    return partial.groupBy("event_type").agg(
        F.sum("pn").cast("long").alias("n_events"),
        decimal_str(F.sum("pv"), 38, 6).alias("total_value"),
    )


@register(
    "q120_cdc_merge",
    oracle="""
    WITH chg AS (
      SELECT o_custkey AS custkey,
             CASE WHEN o_orderstatus = 'P' THEN 'delete'
                  ELSE 'upsert' END AS op,
             o_totalprice AS new_bal
      FROM (
        SELECT *, row_number() OVER (
          PARTITION BY o_custkey ORDER BY o_orderkey DESC
        ) AS rn FROM orders
      ) WHERE rn = 1
    )
    SELECT COALESCE(c.c_custkey, chg.custkey) AS c_custkey,
           CAST(CAST(CASE WHEN chg.op = 'upsert' THEN chg.new_bal
                          ELSE c.c_acctbal END AS DECIMAL(18,2)) AS VARCHAR)
               AS acctbal,
           CASE WHEN chg.custkey IS NULL THEN 'kept'
                WHEN c.c_custkey IS NULL THEN 'inserted'
                ELSE 'updated' END AS change_kind
    FROM customer c
    FULL OUTER JOIN chg ON chg.custkey = c.c_custkey
    WHERE chg.op IS NULL OR chg.op <> 'delete'
    """,
    doc="CDC changelog application — MERGE INTO semantics as one "
    "declarative plan: collapse the change stream to the LAST operation "
    "per key (row_number / max_by over the change sequence — upserts "
    "carry a new balance, 'P'-status rows act as deletes), then a full "
    "outer join against the snapshot applies upsert/delete/keep in a "
    "single pass, labeling each surviving row kept/updated/inserted. "
    "This is the batch form of the reference's Type-1 upsert "
    "(operators/dims.py) extended with deletes — and exactly what "
    "Delta/Iceberg MERGE compiles to underneath. Scale shape: one "
    "shuffle per side on the merge key; the change collapse and the "
    "join share the custkey partitioning; no driver-side state. The "
    "snapshot is never rewritten in place — the result IS the new "
    "snapshot (rename-aside swap on write, sources/fs.py pattern).",
    tags=("warehouse", "cdc", "join"),
)
def q120_cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    orders = load_table(spark, sf_dir, "orders")
    chg = orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.max_by(
            F.struct(
                F.when(F.col("o_orderstatus") == "P", "delete")
                .otherwise("upsert")
                .alias("op"),
                F.col("o_totalprice").alias("new_bal"),
            ),
            F.col("o_orderkey"),
        ).alias("last")
    ).select("custkey", F.col("last.op").alias("op"), F.col("last.new_bal").alias("new_bal"))
    merged = cust.join(chg, cust.c_custkey == chg.custkey, "full_outer").filter(
        F.col("op").isNull() | (F.col("op") != "delete")
    )
    return merged.select(
        F.coalesce("c_custkey", "custkey").alias("c_custkey"),
        F.when(F.col("op") == "upsert", F.col("new_bal"))
        .otherwise(F.col("c_acctbal"))
        .cast("decimal(18,2)")
        .cast("string")
        .alias("acctbal"),
        F.when(F.col("custkey").isNull(), "kept")
        .when(F.col("c_custkey").isNull(), "inserted")
        .otherwise("updated")
        .alias("change_kind"),
    )


K_ANON = 5


@register(
    "q123_k_anonymity",
    oracle=f"""
    WITH g AS (
      SELECT c_mktsegment, c_nationkey, CAST(COUNT(*) AS BIGINT) AS grp_n
      FROM customer GROUP BY c_mktsegment, c_nationkey
    )
    SELECT c_mktsegment, c_nationkey, grp_n,
           grp_n < {K_ANON} AS at_risk
    FROM g
    """,
    doc=f"k-anonymity audit over quasi-identifiers (market segment x "
    f"nation): every combination's population, flagged when fewer than "
    f"k={K_ANON} individuals share it — records in such groups are "
    "re-identifiable by the combination alone, the check privacy review "
    "runs before any customer-derived dataset is released for training. "
    "Scale shape: one hash aggregate on the quasi-identifier tuple "
    "(bounded key space = product of attribute cardinalities); the "
    "flagged rows drive suppression or generalization downstream (drop "
    "the group, or coarsen nation to region and re-run the same plan). "
    "Pure integer decision — no float boundary.",
    tags=("governance", "aggregate"),
)
def q123_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    return (
        cust.groupBy("c_mktsegment", "c_nationkey")
        .agg(F.count(F.lit(1)).cast("long").alias("grp_n"))
        .withColumn("at_risk", F.col("grp_n") < K_ANON)
    )


_PROFILE_COLS = [
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
]


@register(
    "q124_table_profile",
    oracle=f"""
    {" UNION ALL ".join(
        f'''SELECT '{c}' AS col_name,
               CAST(COUNT(*) FILTER (WHERE {c} IS NULL) AS BIGINT) AS n_null,
               CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
               CAST(MIN({c}) AS VARCHAR) AS min_str,
               CAST(MAX({c}) AS VARCHAR) AS max_str
        FROM orders'''
        for c in _PROFILE_COLS
    )}
    """,
    doc="One-statement table profile (the ANALYZE/data-quality summary): "
    "per column, null count, exact distinct count, and min/max rendered "
    "as strings — the stats sheet every ingest gate and query planner "
    "wants, over all columns in one submitted job. Spark computes ALL "
    "six columns' stats in a single aggregate over ONE scan (24 "
    "aggregate expressions in one pass; the multiple exact "
    "COUNT(DISTINCT)s plan through one Expand — a bounded 6x row "
    "fan-out inside the same stage, still one read of the table), then "
    "unpivots the single stats row with stack(); exact COUNT(DISTINCT) "
    "is the honest audit form (swap approx_count_distinct for the "
    "sketch form at 100 TB — same plan, mergeable, and the Expand "
    "disappears, see q82's pattern). Timestamps/decimals render "
    "through ISO/fixed-scale strings so both engines hash identically.",
    tags=("governance", "profiling", "aggregate"),
)
def q124_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fan_out: the 24-expression profile aggregate (with its 7x
    # countDistinct Expand) is compute-bound on the single-row-group
    # scan — the one relational site the round-12 A/B measured winning
    # from the size-gated repartition (2.45 -> 1.20 isolated) without
    # taxing anything else (opt-in, this site only)
    orders = load_table(spark, sf_dir, "orders", fan_out=True)
    aggs = []
    for c in _PROFILE_COLS:
        aggs += [
            F.count(F.when(F.col(c).isNull(), 1))
            .cast("long")
            .alias(f"{c}__n_null"),
            F.countDistinct(c).cast("long").alias(f"{c}__n_distinct"),
            F.min(c).cast("string").alias(f"{c}__min_str"),
            F.max(c).cast("string").alias(f"{c}__max_str"),
        ]
    row = orders.agg(*aggs)
    stack = ", ".join(
        f"'{c}', {c}__n_null, {c}__n_distinct, {c}__min_str, {c}__max_str"
        for c in _PROFILE_COLS
    )
    return row.select(
        F.expr(
            f"stack({len(_PROFILE_COLS)}, {stack}) AS "
            "(col_name, n_null, n_distinct, min_str, max_str)"
        )
    )


RARE_MIN_COUNT = 15
HIST_BIN_WIDTH = 10  # events.value histogram bin width


@register(
    "q133_rare_category_collapse",
    oracle=f"""
    WITH base AS (
      SELECT c_mktsegment || '/' || CAST(c_nationkey AS VARCHAR) AS cat
      FROM customer
    ),
    counts AS (
      SELECT cat, CAST(COUNT(*) AS BIGINT) AS n FROM base GROUP BY cat
    )
    SELECT CASE WHEN c.n >= {RARE_MIN_COUNT} THEN b.cat
                ELSE 'OTHER' END AS category,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM base b JOIN counts c ON c.cat = b.cat
    GROUP BY 1
    """,
    doc=f"Long-tail category collapse over the (segment x nation) "
    f"composite key: values occurring fewer than {RARE_MIN_COUNT} times "
    "fold into 'OTHER' — the feature-engineering step before "
    "one-hot/embedding encoding (unbounded categorical vocabularies "
    "leak memory and overfit; the collapse bounds them), and the same "
    "shape as privacy suppression of small groups (q123's remediation "
    "— q123 finds the risky combos, this query erases them). Scale "
    "shape: the category-count aggregate is vocab-sized and broadcasts "
    "back onto a map-side CASE — the fact table is never shuffled "
    "twice; the final aggregate key space is bounded by construction.",
    tags=("warehouse", "aggregate", "training"),
)
def q133_rare_category_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(
        F.concat_ws("/", "c_mktsegment", F.col("c_nationkey").cast("string"))
        .alias("cat")
    )
    counts = cust.groupBy("cat").agg(F.count(F.lit(1)).cast("long").alias("n"))
    return (
        cust.join(F.broadcast(counts), "cat")
        .groupBy(
            F.when(F.col("n") >= RARE_MIN_COUNT, F.col("cat"))
            .otherwise("OTHER")
            .alias("category")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
    )


@register(
    "q134_value_histogram",
    oracle=f"""
    SELECT event_type,
           CAST(FLOOR(value / {HIST_BIN_WIDTH}) AS BIGINT) AS bin,
           CAST(FLOOR(value / {HIST_BIN_WIDTH}) * {HIST_BIN_WIDTH}
               AS DOUBLE) AS bin_lo,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events
    WHERE value IS NOT NULL
    GROUP BY event_type, FLOOR(value / {HIST_BIN_WIDTH})
    """,
    doc=f"Fixed-width value histogram per event type (bin width "
    f"{HIST_BIN_WIDTH}): the distribution fingerprint monitoring "
    "compares release-over-release to catch drift (a shifted mode or a "
    "new spike at zero is invisible in mean/std but obvious here). "
    "floor(x/w) of an IEEE double is bit-deterministic cross-engine, so "
    "bin edges are exact; the aggregate key space is types x occupied "
    "bins — bounded by the data's range, not its row count. One "
    "partial+final hash agg; equi-depth sibling = q116.",
    tags=("events", "profiling", "aggregate"),
)
def q134_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    bin_col = F.floor(F.col("value") / HIST_BIN_WIDTH)
    return ev.groupBy(
        "event_type",
        bin_col.cast("long").alias("bin"),
        (bin_col * HIST_BIN_WIDTH).cast("double").alias("bin_lo"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))


SKEW_TOP_K = 10


@register(
    "q143_join_key_skew",
    oracle=f"""
    WITH k AS (
      SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS n
      FROM lineitem GROUP BY l_orderkey
    ),
    stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
             CAST(SUM(n) AS BIGINT) AS n_rows,
             CAST(MAX(n) AS BIGINT) AS max_n
      FROM k
    )
    SELECT t.l_orderkey, t.n, s.n_keys, s.n_rows,
           CAST((t.n * n_keys * 1000000) // n_rows AS BIGINT)
               AS skew_x_mean_ppm,
           CAST(rnk AS INTEGER) AS rnk
    FROM (
      SELECT *, row_number() OVER (ORDER BY n DESC, l_orderkey) AS rnk
      FROM k
    ) t CROSS JOIN stats s
    WHERE rnk <= {SKEW_TOP_K}
    """,
    doc="Join-key skew diagnostic: the hottest join keys on the fact "
    "side, each with its multiple of the mean key frequency in exact "
    "integer ppm — the report to run BEFORE a big join ships, because "
    "skew decides the strategy (broadcast the other side, salt the hot "
    "keys (q108), or lean on AQE skew-join splitting, which only "
    "triggers past its thresholds). A key at 10^6x mean is one straggler "
    "task holding the whole stage. Scale shape: one key-count aggregate "
    "(two-stage), a 1-row stats broadcast, TakeOrdered top-k; the rank "
    "window touches only the k survivors.",
    tags=("scale", "profiling", "join"),
)
def q143_join_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    k = li.groupBy("l_orderkey").agg(F.count(F.lit(1)).cast("long").alias("n"))
    stats = k.agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum("n").cast("long").alias("n_rows"),
    )
    top = k.orderBy(F.desc("n"), F.asc("l_orderkey")).limit(SKEW_TOP_K)
    w = Window.orderBy(F.desc("n"), F.asc("l_orderkey"))
    return (
        top.withColumn("rnk", F.row_number().over(w).cast("int"))
        .crossJoin(F.broadcast(stats))
        .select(
            "l_orderkey",
            "n",
            "n_keys",
            "n_rows",
            F.expr("CAST((n * n_keys * 1000000) div n_rows AS LONG)").alias(
                "skew_x_mean_ppm"
            ),
            "rnk",
        )
    )


@register(
    "q149_revenue_momentum",
    oracle="""
    WITH monthly AS (
      SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS yr,
             CAST(EXTRACT(month FROM o_orderdate) AS INTEGER) AS mo,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                 AS DECIMAL(38,2)) AS rev
      FROM orders GROUP BY 1, 2
    )
    SELECT yr, mo, CAST(rev AS VARCHAR) AS revenue,
           CAST(lag(rev) OVER (ORDER BY yr, mo) AS VARCHAR) AS prev_revenue,
           -- exact integer cents: DECIMAL * 1e6 overflows precision 38 and
           -- silently promotes to DOUBLE (off-by-one at ppm scale)
           CAST(CAST(rev * 100 AS BIGINT) * 1000000
                // CAST(lag(rev) OVER (ORDER BY yr, mo) * 100 AS BIGINT)
               AS BIGINT) AS momentum_ppm
    FROM monthly
    """,
    doc="Revenue momentum: monthly decimal-exact revenue with the "
    "previous month and the month-over-month ratio in integer ppm — the "
    "finance dashboard staple (q16 is the plain rollup; this adds the "
    "trend). Exactness discipline: money aggregates through "
    "DECIMAL(18,2) (order-independent), and the ratio divides two "
    "integer micro-scaled decimals so the boundary is float-free; the "
    "ordered window runs over the months-sized frame only. First month "
    "has NULL prev/momentum by definition.",
    tags=("warehouse", "window", "aggregate"),
)
def q149_revenue_momentum(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.year("o_orderdate").cast("int").alias("yr"),
        F.month("o_orderdate").cast("int").alias("mo"),
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("decimal(38,2)")
        .alias("rev")
    )
    w = Window.orderBy("yr", "mo")
    prev = F.lag("rev").over(w)
    return monthly.select(
        "yr",
        "mo",
        F.col("rev").cast("string").alias("revenue"),
        prev.cast("string").alias("prev_revenue"),
        F.expr(
            "CAST(CAST(rev * 100 AS BIGINT) * 1000000"
            " div CAST(lag(rev) OVER (ORDER BY yr, mo) * 100 AS BIGINT)"
            " AS BIGINT)"
        ).alias("momentum_ppm"),
    )


@register(
    "q151_fulfillment_latency",
    oracle="""
    WITH per_order AS (
      SELECT o.o_orderkey,
             CAST(date_diff('day', CAST(o.o_orderdate AS DATE),
                            CAST(MAX(l.l_shipdate) AS DATE)) AS BIGINT)
                 AS days_to_full_ship
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_orderkey, o.o_orderdate
    )
    SELECT days_to_full_ship // 7 AS latency_week,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(MIN(days_to_full_ship) AS BIGINT) AS min_days,
           CAST(MAX(days_to_full_ship) AS BIGINT) AS max_days
    FROM per_order GROUP BY days_to_full_ship // 7
    """,
    doc="Order-fulfillment latency distribution: days from order "
    "placement to the LAST lineitem shipment (an order isn't fulfilled "
    "until its slowest line ships), bucketed into weeks — the "
    "operational-SLA histogram the warehouse exists to answer, and the "
    "max-aggregate-then-diff pattern every 'time to completion of a "
    "multi-part job' metric uses (same shape for multi-shard export "
    "completion or multi-file ingest latency). Scale shape: one "
    "co-partitioned orderkey join + per-order max (partial map-side), "
    "then a bounded week-bucket aggregate; date_diff of DATE-cast NTZ "
    "values is exact integer days in both engines.",
    tags=("warehouse", "aggregate", "join"),
)
def q151_fulfillment_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    per_order = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.max("l_shipdate").alias("last_ship"))
        .select(
            F.datediff(
                F.col("last_ship").cast("date"),
                F.col("o_orderdate").cast("date"),
            )
            .cast("long")
            .alias("days_to_full_ship")
        )
    )
    return per_order.groupBy(
        F.expr("days_to_full_ship div 7").alias("latency_week")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.min("days_to_full_ship").cast("long").alias("min_days"),
        F.max("days_to_full_ship").cast("long").alias("max_days"),
    )


@register(
    "q152_balance_percentiles",
    oracle="""
    SELECT c_custkey, c_mktsegment,
           CAST(rnk AS BIGINT) AS rnk,
           CAST(n AS BIGINT) AS n,
           CAST(rnk - 1 AS DOUBLE) / CAST(n - 1 AS DOUBLE) AS pct_rank,
           CAST(le AS DOUBLE) / CAST(n AS DOUBLE) AS cume
    FROM (
      SELECT c_custkey, c_mktsegment,
             row_number() OVER (
               PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey
             ) AS rnk,
             COUNT(*) OVER (PARTITION BY c_mktsegment) AS n,
             COUNT(*) OVER (
               PARTITION BY c_mktsegment ORDER BY c_acctbal
               RANGE UNBOUNDED PRECEDING
             ) AS le
      FROM customer
    )
    """,
    doc="Per-segment balance position statistics: each customer's exact "
    "rank, percent-rank, and cumulative-distribution position within "
    "its market segment — the rank-family completion next to q45 "
    "(rank/dense_rank) and q44 (value percentiles). Both ratios are "
    "expressed as single IEEE divisions of exact integers — "
    "row_number with a total-order tiebreak for pct_rank, and a "
    "RANGE-frame running count (ties share their cumulative count, "
    "cume_dist's defining property) — rather than the built-in "
    "percent_rank/cume_dist, whose tie semantics this form makes "
    "explicit and cross-engine-exact. One segment-keyed sort serves "
    "all three windows.",
    tags=("warehouse", "window"),
)
def q152_balance_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    by_bal = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    seg = Window.partitionBy("c_mktsegment")
    le_w = (
        Window.partitionBy("c_mktsegment")
        .orderBy("c_acctbal")
        .rangeBetween(Window.unboundedPreceding, 0)
    )
    r = (
        cust.withColumn("rnk", F.row_number().over(by_bal).cast("long"))
        .withColumn("n", F.count(F.lit(1)).over(seg).cast("long"))
        .withColumn("le", F.count(F.lit(1)).over(le_w).cast("long"))
    )
    return r.select(
        "c_custkey",
        "c_mktsegment",
        "rnk",
        "n",
        ((F.col("rnk") - 1).cast("double") / (F.col("n") - 1).cast("double")).alias(
            "pct_rank"
        ),
        (F.col("le").cast("double") / F.col("n").cast("double")).alias("cume"),
    )


# ---------------------------------------------------------------------------
# Market-basket association rules (q165): the classic co-purchase
# question ("parts bought together") as a scale-shaped pair pipeline.
# The same shape as the dedup candidate generation: pair work happens
# only WITHIN a basket (equi-join on the order key), degenerate baskets
# are capped before pairing, and a support prefilter prunes the item
# stream before the self-join (an item in fewer than MIN_PAIR_SUPP
# baskets can never reach pair support — dropping it early is pure
# pruning, provably result-neutral).
BASKET_CAP = 32       # baskets larger than this are bulk orders, not
                      # co-purchase signal (observed max 13 at sf0.01 —
                      # no-op at test scale, quadratic-work guard at 100 TB)
MIN_PAIR_SUPP = 2


@register(
    "q165_market_basket",
    oracle=f"""
    WITH items0 AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    ok_orders AS (
      SELECT l_orderkey FROM items0 GROUP BY l_orderkey
      HAVING COUNT(*) <= {BASKET_CAP}
    ),
    items AS (
      SELECT i.l_orderkey, i.l_partkey
      FROM items0 i JOIN ok_orders o ON o.l_orderkey = i.l_orderkey
    ),
    supp AS (
      SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n_i FROM items GROUP BY 1
    ),
    freq AS (SELECT * FROM supp WHERE n_i >= {MIN_PAIR_SUPP}),
    fitems AS (
      SELECT i.l_orderkey, i.l_partkey
      FROM items i JOIN freq f ON f.l_partkey = i.l_partkey
    ),
    pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             CAST(COUNT(*) AS BIGINT) AS n_ab
      FROM fitems a JOIN fitems b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING COUNT(*) >= {MIN_PAIR_SUPP}
    ),
    total AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_orders FROM ok_orders)
    SELECT p.part_a, p.part_b, p.n_ab,
           sa.n_i AS n_a, sb.n_i AS n_b, t.n_orders,
           CAST(p.n_ab * 1000000 // sa.n_i AS BIGINT) AS conf_ab_ppm,
           CAST(p.n_ab * 1000000 // sb.n_i AS BIGINT) AS conf_ba_ppm,
           CAST((p.n_ab::HUGEINT * t.n_orders * 1000000)
                // (sa.n_i::HUGEINT * sb.n_i) AS BIGINT) AS lift_ppm
    FROM pairs p
    JOIN supp sa ON sa.l_partkey = p.part_a
    JOIN supp sb ON sb.l_partkey = p.part_b
    CROSS JOIN total t
    """,
    doc="Market-basket association rules over lineitem: for every part "
    f"pair co-ordered in >= {MIN_PAIR_SUPP} baskets, support, directed "
    "confidence, and lift — all in exact integer ppm (lift's "
    "n_ab*n_orders*1e6 product runs in DECIMAL(38,0)/HUGEINT so the "
    "integer floor-division is exact at any corpus size; int64 alone "
    "overflows past ~3M orders). Scale shape is the dedup-candidate "
    "shape applied to retail: pair generation is an equi-join on the "
    f"basket key (never all-pairs), baskets over {BASKET_CAP} items are "
    "excluded before pairing (quadratic-work guard, observed no-op at "
    "test scale), and items below pair support are pruned BEFORE the "
    "self-join — an Apriori-style pushdown that is provably "
    "result-neutral but shrinks the joined stream. Cited reference "
    "parity: the reference's schema stops at revenue rollups; this is "
    "the co-purchase extension its category_performance view "
    "(schema/warehouse_schema.sql) points toward.",
    tags=("analytics", "join"),
)
def q165_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    items0 = li.select("l_orderkey", "l_partkey").distinct()
    # basket-size cap as a WINDOW over the distinct item stream — the
    # former groupBy+join-back re-ran the distinct subtree per branch
    # and paid an extra join; the window is co-partitioned with the
    # distinct's own exchange (guide §2.4). items/supp are persisted:
    # items feeds three consumers (supp, the frequent-item prune, the
    # order-count aggregate), supp two (the frequency filter and the
    # per-item support attach).
    w = Window.partitionBy("l_orderkey")
    items = (
        items0.withColumn("bsize", F.count(F.lit(1)).over(w))
        .filter(F.col("bsize") <= BASKET_CAP)
        .drop("bsize")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    supp = items.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_i")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    freq = supp.filter(F.col("n_i") >= MIN_PAIR_SUPP).select("l_partkey")
    # The frequent-item table is vocab-sized (bounded by the part
    # catalog, not the fact table) — broadcast it so the prune is a
    # map-side semi-join, no extra shuffle of the item stream.
    fitems = items.join(F.broadcast(freq), "l_partkey").select(
        "l_orderkey", "l_partkey"
    )
    # in-basket pair expansion (the q22 shape): baskets are <= BASKET_CAP
    # items by the filter above, so the collected arrays are bounded and
    # the orderkey self-join (which re-ran the whole item pipeline per
    # side) disappears. Item sets are distinct per order, so the sorted
    # array yields each part_a < part_b pair exactly once.
    pairs = (
        fitems.groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_list("l_partkey")).alias("ids"))
        .filter(F.size("ids") >= 2)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(sequence(1, size(ids) - 1), "
                    "i -> transform(slice(ids, i + 1, size(ids) - i), "
                    "y -> struct(element_at(ids, i) AS part_a, y AS part_b))))"
                )
            ).alias("p")
        )
        .select("p.part_a", "p.part_b")
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_ab"))
        .filter(F.col("n_ab") >= MIN_PAIR_SUPP)
    )
    total = items.agg(
        F.countDistinct("l_orderkey").cast("long").alias("n_orders")
    )
    sa = supp.select(F.col("l_partkey").alias("part_a"), F.col("n_i").alias("n_a"))
    sb = supp.select(F.col("l_partkey").alias("part_b"), F.col("n_i").alias("n_b"))
    return (
        pairs.join(F.broadcast(sa), "part_a")
        .join(F.broadcast(sb), "part_b")
        .crossJoin(F.broadcast(total))
        .select(
            "part_a", "part_b", "n_ab", "n_a", "n_b", "n_orders",
            F.expr("n_ab * 1000000 div n_a").alias("conf_ab_ppm"),
            F.expr("n_ab * 1000000 div n_b").alias("conf_ba_ppm"),
            F.expr(
                "CAST(CAST(n_ab AS DECIMAL(38,0)) * n_orders * 1000000 "
                "div (CAST(n_a AS DECIMAL(38,0)) * n_b) AS BIGINT)"
            ).alias("lift_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Pareto frontier / skyline (q166): the orders no other order beats on
# BOTH price and recency, per market segment. The naive skyline is an
# all-pairs dominance self-join; the scalable form is sort + running-max
# (an order is dominated iff a strictly-later order has strictly higher
# price — one RANGE window answers that), and the Spark side runs it in
# TWO levels so no single task ever sorts a whole segment: a salted
# local prune first (dominated-in-bucket => dominated-globally, so
# pruning is result-neutral), then the exact window over the tiny
# survivor set.
PARETO_SALT = 64


@register(
    "q166_pareto_frontier",
    oracle="""
    WITH o AS (
      SELECT c.c_mktsegment, o.o_orderkey, o.o_totalprice, o.o_orderdate,
             -epoch_us(o.o_orderdate) AS neg_ep
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    m AS (
      SELECT *,
             MAX(o_totalprice) OVER (
               PARTITION BY c_mktsegment ORDER BY neg_ep
               RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS best_later
      FROM o
    )
    SELECT c_mktsegment, o_orderkey, o_totalprice, o_orderdate
    FROM m
    WHERE best_later IS NULL OR best_later <= o_totalprice
    """,
    doc="Per-segment Pareto frontier (skyline) of orders on the "
    "(totalprice, order recency) plane: an order survives unless some "
    "STRICTLY later order has STRICTLY higher price. The all-pairs "
    "dominance join every textbook skyline starts from is replaced by "
    "one sort: ordered by descending date, an order is dominated iff "
    "the running max of price over strictly-later rows exceeds its own "
    "— a RANGE frame ending 1 before the current epoch value, so "
    "same-date peers (which cannot strictly dominate) are excluded "
    "by construction in both engines. Scale shape: the Spark plan is "
    f"two-level — a (segment, hash%{PARETO_SALT}) salted local prune "
    "first (dominance within a subset implies global dominance, so the "
    "prune is provably result-neutral), then the exact window over "
    "survivors only (~frontier-sized, O(log n) per bucket on "
    "non-adversarial data) — no single task ever sorts a full segment, "
    "which a naive PARTITION BY segment window would require of a "
    "5-segment 100 TB table.",
    tags=("analytics", "window"),
)
def q166_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.scalar import epoch_us

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    o = (
        orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
        .select(
            "c_mktsegment", "o_orderkey", "o_totalprice", "o_orderdate",
            (-epoch_us("o_orderdate")).alias("neg_ep"),
        )
    )
    frontier_cols = ["c_mktsegment", "o_orderkey", "o_totalprice", "o_orderdate"]

    def prune(df: DataFrame, extra_key) -> DataFrame:
        part = ["c_mktsegment"] + ([extra_key] if extra_key else [])
        w = (
            Window.partitionBy(*part)
            .orderBy("neg_ep")
            .rangeBetween(Window.unboundedPreceding, -1)
        )
        best = F.max("o_totalprice").over(w)
        return df.withColumn("best_later", best).filter(
            F.col("best_later").isNull()
            | (F.col("best_later") <= F.col("o_totalprice"))
        ).drop("best_later")

    salted = o.withColumn(
        "salt", F.pmod(F.hash("o_orderkey"), F.lit(PARETO_SALT))
    )
    survivors = prune(salted, "salt").drop("salt")
    return prune(survivors, None).select(*frontier_cols)


# ---------------------------------------------------------------------------
# Z-order layout audit (q167): at 100 TB the question "should this table
# be laid out by date, or Z-ordered on (price, date)?" is a measurable
# tradeoff, not a vibe — this query measures it. Rows are bucketed on
# both dimensions, assigned to files under two layouts (date-sorted vs
# Morton/Z-interleaved), and a fixed two-dimensional query box is
# evaluated against each layout's per-file min/max zone map — exactly
# the pruning a parquet reader does with row-group statistics. All
# arithmetic is integer (bit interleave as explicit div/mod sums), so
# the audit is hash-checked end to end.
Z_BITS = 8
Z_PRICE_STEP = 2500.0
Z_DATE_EPOCH = "1995-01-01"
Z_DATE_STEP = 10
Z_BOX = (100, 140, 100, 140)  # price_b lo/hi, day_b lo/hi (inclusive)


def _morton16(div_op: str, pb: str, db: str) -> str:
    """Bit-interleave two Z_BITS-bit bucket expressions into a Morton
    key, as pure div/mod/add arithmetic valid in both SQL dialects
    (``div_op`` is Spark's ``div`` or DuckDB's ``//``)."""
    terms = []
    for b in range(Z_BITS):
        terms.append(f"((({pb}) {div_op} {1 << b}) % 2) * {1 << (2 * b + 1)}")
        terms.append(f"((({db}) {div_op} {1 << b}) % 2) * {1 << (2 * b)}")
    return " + ".join(terms)


_Z_DUCK_CELLS = f"""
    cells AS (
      SELECT LEAST(255, CAST(floor(o_totalprice / {Z_PRICE_STEP}) AS INTEGER))
                 AS price_b,
             LEAST(255, date_diff('day', DATE '{Z_DATE_EPOCH}', o_orderdate)
                        // {Z_DATE_STEP}) AS day_b,
             CAST(COUNT(*) AS BIGINT) AS n_rows
      FROM orders GROUP BY 1, 2
    ),
    filed AS (
      SELECT price_b, day_b, n_rows,
             ({_morton16("//", "price_b", "day_b")}) // 256 AS zfile,
             day_b AS lfile
      FROM cells
    )
"""


def _z_duck_layout(tag: str, filecol: str) -> str:
    lo_p, hi_p, lo_d, hi_d = Z_BOX
    return f"""
      SELECT '{tag}' AS layout,
             CAST(COUNT(*) AS BIGINT) AS n_files,
             CAST(SUM(CASE WHEN min_p <= {hi_p} AND max_p >= {lo_p}
                            AND min_d <= {hi_d} AND max_d >= {lo_d}
                      THEN 1 ELSE 0 END) AS BIGINT) AS files_touched,
             CAST(SUM(CASE WHEN min_p <= {hi_p} AND max_p >= {lo_p}
                            AND min_d <= {hi_d} AND max_d >= {lo_d}
                      THEN file_rows ELSE 0 END) AS BIGINT) AS rows_scanned,
             CAST(SUM(box_rows) AS BIGINT) AS rows_matched
      FROM (
        SELECT {filecol},
               MIN(price_b) AS min_p, MAX(price_b) AS max_p,
               MIN(day_b) AS min_d, MAX(day_b) AS max_d,
               SUM(n_rows) AS file_rows,
               SUM(CASE WHEN price_b BETWEEN {lo_p} AND {hi_p}
                         AND day_b BETWEEN {lo_d} AND {hi_d}
                   THEN n_rows ELSE 0 END) AS box_rows
        FROM filed GROUP BY {filecol}
      )
    """


@register(
    "q167_zorder_layout",
    oracle=f"""
    WITH {_Z_DUCK_CELLS}
    {_z_duck_layout("zorder", "zfile")}
    UNION ALL
    {_z_duck_layout("date_sorted", "lfile")}
    """,
    doc="Data-layout pruning audit: orders bucketed on (price, day), "
    "assigned to 256 files under two layouts — date-sorted (the default "
    "time-partitioned lake layout) and Morton/Z-ordered on both "
    "dimensions (Delta/Iceberg OPTIMIZE ZORDER) — then a fixed "
    "price-x-date query box is tested against each layout's per-file "
    "min/max zone maps, reporting files touched and rows scanned next "
    "to the true matching rows. This is the decision metric for "
    "choosing a 100 TB layout: the date-sorted layout prunes the date "
    "dimension only (every touched file is scanned in full across "
    "price), while Z-order bounds BOTH dimensions per file. The Morton "
    "key is explicit div/mod bit arithmetic, identical in both "
    "dialects; everything downstream is integer min/max/sum over a "
    "cell table GROUPed once on (price_b, day_b) — one scan, one "
    "vocab-sized shuffle (<=65k cells at any corpus size), from which "
    "both layouts' file stats derive without touching the fact table "
    "again.",
    tags=("analytics", "layout"),
)
def q167_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    filed = _z_filed(spark, sf_dir)
    return _zone_layout_stats(filed, "zorder", "zfile").unionByName(
        _zone_layout_stats(filed, "date_sorted", "lfile")
    )


def _z_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(price_b, day_b, n_rows): orders bucketed onto the 256x256 grid —
    the shared input of the q167 and q249 layout audits."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.selectExpr(
            f"LEAST(255, CAST(floor(o_totalprice / {Z_PRICE_STEP}D) AS INT))"
            " AS price_b",
            f"LEAST(255, datediff(o_orderdate, DATE '{Z_DATE_EPOCH}')"
            f" div {Z_DATE_STEP}) AS day_b",
        )
        .groupBy("price_b", "day_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
    )


def _z_filed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The q167 cell/file assignment frame: per-cell row counts plus the
    Morton (zfile) and date-sorted (lfile) file ids."""
    cells = _z_cells(spark, sf_dir)
    return cells.selectExpr(
        "price_b", "day_b", "n_rows",
        f"({_morton16('div', 'price_b', 'day_b')}) div 256 AS zfile",
        "day_b AS lfile",
    )


def _zone_layout_stats(
    filed: DataFrame, tag: str, filecol: str
) -> DataFrame:
    """Per-layout zone-map pruning stats off a (price_b, day_b, n_rows,
    <filecol>) frame (the q167 fixed-file-grid form; q249 computes its
    grouped three-layout variant inline)."""
    lo_p, hi_p, lo_d, hi_d = Z_BOX
    per_file = filed.groupBy(filecol).agg(
        F.min("price_b").alias("min_p"), F.max("price_b").alias("max_p"),
        F.min("day_b").alias("min_d"), F.max("day_b").alias("max_d"),
        F.sum("n_rows").alias("file_rows"),
        F.sum(
            F.when(
                F.col("price_b").between(lo_p, hi_p)
                & F.col("day_b").between(lo_d, hi_d),
                F.col("n_rows"),
            ).otherwise(F.lit(0))
        ).alias("box_rows"),
    )
    touched = (
        (F.col("min_p") <= hi_p) & (F.col("max_p") >= lo_p)
        & (F.col("min_d") <= hi_d) & (F.col("max_d") >= lo_d)
    )
    return per_file.agg(
        F.lit(tag).alias("layout"),
        F.count(F.lit(1)).cast("long").alias("n_files"),
        F.sum(touched.cast("long")).cast("long").alias("files_touched"),
        F.sum(
            F.when(touched, F.col("file_rows")).otherwise(F.lit(0))
        ).cast("long").alias("rows_scanned"),
        F.sum("box_rows").cast("long").alias("rows_matched"),
    )


# ---------------------------------------------------------------------------
# Incremental rollup maintenance (q169): the 100 TB refresh pattern —
# never rescan the base table to admit a new batch. The monthly revenue
# rollup (q16's shape) is maintained as mergeable partial aggregates:
# the already-materialized base partition and the incoming increment
# each produce (count, decimal-sum) partials, and the refresh is a
# union + re-aggregate of PARTIALS ONLY. The DuckDB oracle computes the
# full recompute directly, so the hash match IS the proof that
# merge(partials) == recompute(all) — the algebraic property
# incremental view maintenance rests on. The increment here is carved
# deterministically (o_orderkey % 13 == 0 plays the role of the new
# CDC batch) so the query is self-contained and reproducible.
INC_MOD = 13


@register(
    "q169_incremental_rollup",
    oracle=f"""
    SELECT strftime(o_orderdate, '%Y-%m') AS sale_month,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CASE WHEN o_orderkey % {INC_MOD} = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_new_orders,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                     AS DECIMAL(38,2)) AS VARCHAR) AS month_revenue
    FROM orders
    GROUP BY strftime(o_orderdate, '%Y-%m')
    """,
    doc="Incremental maintenance of the monthly revenue rollup: the base "
    "corpus and a new increment batch (deterministically carved as "
    f"o_orderkey % {INC_MOD} == 0, standing in for the day's CDC batch) "
    "are aggregated SEPARATELY into mergeable partials (count + exact "
    "decimal sum), then merged by re-aggregation — the base table is "
    "never rescanned at refresh time. The oracle is the full recompute "
    "over everything, so the hash match proves the algebraic identity "
    "merge(partial(base), partial(increment)) == recompute(base ∪ "
    "increment) that incremental view maintenance rests on; money stays "
    "DECIMAL end to end (order-independent), rendered once at the edge. "
    "Scale shape: at 100 TB the base partials are a months-sized "
    "materialized table (thousands of rows); the refresh touches only "
    "the increment plus that tiny table — one keyed agg over the "
    "increment, one union, one months-sized re-agg. n_new_orders makes "
    "the increment's contribution observable per month.",
    tags=("analytics", "aggregate", "incremental", "decimal"),
)
def q169_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    is_inc = F.col("o_orderkey") % INC_MOD == 0

    def partials(df: DataFrame, inc_flag: int) -> DataFrame:
        return df.groupBy(
            F.date_format("o_orderdate", "yyyy-MM").alias("sale_month")
        ).agg(
            F.count(F.lit(1)).cast("long").alias("pc"),
            money_sum("o_totalprice").alias("ps"),
            F.lit(inc_flag).alias("is_inc"),
        )

    base = partials(orders.filter(~is_inc), 0)
    inc = partials(orders.filter(is_inc), 1)
    return (
        base.unionByName(inc)
        .groupBy("sale_month")
        .agg(
            F.sum("pc").cast("long").alias("n_orders"),
            F.sum(F.col("pc") * F.col("is_inc")).cast("long")
            .alias("n_new_orders"),
            decimal_str(F.sum("ps")).alias("month_revenue"),
        )
    )


# ---------------------------------------------------------------------------
# Point-in-time (as-of) join against SCD2 history (q175): the classic
# warehouse correctness trap — joining a fact to a versioned dimension
# must pick the version valid AT THE FACT'S TIMESTAMP, not the current
# one (that's lookahead leakage) and not all of them (that's a fan-out
# double count). Composes q107's SCD2 build with q40's union+last_value
# as-of machinery; facts are pre-aggregated to the PIT grain first, so
# the match needs no per-row identity and touches far fewer rows.


@register(
    "q175_point_in_time_join",
    oracle="""
    WITH ordered AS (
      SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey,
             lag(o_orderpriority) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ) AS prev_p
      FROM orders
    ),
    seg AS (
      SELECT *, SUM(CASE WHEN prev_p IS NULL OR prev_p <> o_orderpriority
                         THEN 1 ELSE 0 END) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS UNBOUNDED PRECEDING
             ) AS version
      FROM ordered
    ),
    hist AS (
      SELECT o_custkey, o_orderpriority AS priority, version,
             MIN(o_orderdate) AS valid_from
      FROM seg GROUP BY o_custkey, o_orderpriority, version
    ),
    day_hist AS (
      SELECT o_custkey, priority, valid_from FROM (
        SELECT *, row_number() OVER (
          PARTITION BY o_custkey, valid_from ORDER BY version DESC
        ) AS rn FROM hist
      ) WHERE rn = 1
    ),
    fact AS (
      SELECT o.o_custkey, l.l_shipdate,
             CAST(COUNT(*) AS BIGINT) AS n_items,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                      * CAST(1 - l_discount AS DECIMAL(4,2)))
                  AS DECIMAL(38,4)) AS rev
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      GROUP BY o.o_custkey, l.l_shipdate
    ),
    pit AS (
      SELECT l_shipdate, n_items, rev, priority FROM (
        SELECT f.l_shipdate, f.n_items, f.rev, h.priority,
               row_number() OVER (
                 PARTITION BY f.o_custkey, f.l_shipdate
                 ORDER BY h.valid_from DESC
               ) AS rn
        FROM fact f LEFT JOIN day_hist h
          ON h.o_custkey = f.o_custkey AND h.valid_from <= f.l_shipdate
      ) WHERE rn = 1
    )
    SELECT priority AS priority_at_ship,
           strftime(l_shipdate, '%Y-%m') AS ship_month,
           CAST(SUM(n_items) AS BIGINT) AS n_items,
           CAST(CAST(SUM(rev) AS DECIMAL(38,4)) AS VARCHAR) AS revenue
    FROM pit
    GROUP BY priority, strftime(l_shipdate, '%Y-%m')
    """,
    doc="Point-in-time join of the lineitem fact against the SCD2 "
    "priority history q107 builds: each shipped item is credited to the "
    "customer's priority regime valid AT l_shipdate — never the current "
    "version (lookahead leakage) and never a version fan-out (double "
    "count; same-day runs collapse to the version that ends the day, so "
    "the PIT key is unique by construction). Facts are pre-aggregated "
    "to (custkey, ship_date) grain BEFORE the match — the PIT answer "
    "depends only on that grain, so the as-of machinery touches a "
    "fraction of the fact rows and needs no per-row identity (this "
    "corpus's (l_orderkey, l_linenumber) is not unique — discovered by "
    "probe, the reason the naive per-row oracle is impossible here). "
    "Spark side: q40's union+last_value(ignore nulls) interleave on one "
    "(custkey, date, src) sort — ONE shuffle, no range-join explosion — "
    "with dim-before-fact ordering making valid_from <= shipdate "
    "inclusive; items shipping before the customer's first version "
    "(29k rows at sf0.01 ship before their own order date) surface as "
    "an honest NULL-priority group, never silently dropped. The oracle "
    "is the independent join-then-pick-latest form, so the hash match "
    "proves the window trick equals the obvious semantics. Revenue is "
    "exact decimal per row. Scale shape: the fact rollup is the only "
    "lineitem-sized shuffle; history rows ride the same custkey "
    "partitioning; final rollup is (priority x month)-sized.",
    tags=("warehouse", "join", "asof", "scd2", "decimal"),
)
def q175_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    # fan_out: the single-task lineitem scan feeds the fact join +
    # (custkey, shipdate) rollup — the serial segment of this plan;
    # the orders side stays raw (one broadcast build + one window whose
    # exchange already provides downstream parallelism)
    lineitem = load_table(spark, sf_dir, "lineitem", fan_out=True)

    seq = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seg = orders.select(
        "o_custkey", "o_orderpriority", "o_orderdate", "o_orderkey"
    ).withColumn(
        "chg",
        F.when(
            F.lag("o_orderpriority").over(seq).isNull()
            | (F.lag("o_orderpriority").over(seq) != F.col("o_orderpriority")),
            1,
        ).otherwise(0),
    ).withColumn(
        "version",
        F.sum("chg").over(seq.rowsBetween(Window.unboundedPreceding, 0)),
    )
    hist = seg.groupBy(
        "o_custkey", F.col("o_orderpriority").alias("priority"), "version"
    ).agg(F.min("o_orderdate").alias("valid_from"))
    w_day = Window.partitionBy("o_custkey", "valid_from").orderBy(
        F.desc("version")
    )
    day_hist = (
        hist.withColumn("rn", F.row_number().over(w_day))
        .filter(F.col("rn") == 1)
        .select(
            "o_custkey",
            F.col("valid_from").alias("pit_date"),
            "priority",
        )
    )

    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount")
    ).cast("decimal(4,2)")
    fact = (
        lineitem.join(
            orders.select("o_orderkey", "o_custkey"),
            lineitem.l_orderkey == F.col("o_orderkey"),
        )
        .groupBy("o_custkey", F.col("l_shipdate").alias("pit_date"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            F.sum(rev).cast("decimal(38,4)").alias("rev"),
        )
    )

    # interleave: dim rows (src=0) sort before fact rows (src=1) at equal
    # dates, so last_value picks a version with valid_from <= ship date
    dim_rows = day_hist.select(
        "o_custkey", "pit_date", F.lit(0).alias("src"), "priority",
        F.lit(None).cast("long").alias("n_items"),
        F.lit(None).cast("decimal(38,4)").alias("rev"),
    )
    fact_rows = fact.select(
        "o_custkey", "pit_date", F.lit(1).alias("src"),
        F.lit(None).cast("string").alias("priority"), "n_items", "rev",
    )
    w_pit = (
        Window.partitionBy("o_custkey")
        .orderBy("pit_date", "src")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    matched = (
        dim_rows.unionByName(fact_rows)
        .withColumn(
            "priority_at_ship",
            F.last("priority", ignorenulls=True).over(w_pit),
        )
        .filter(F.col("src") == 1)
    )
    return matched.groupBy(
        "priority_at_ship",
        F.date_format("pit_date", "yyyy-MM").alias("ship_month"),
    ).agg(
        F.sum("n_items").cast("long").alias("n_items"),
        decimal_str(F.sum("rev"), 38, 4).alias("revenue"),
    )


# ---------------------------------------------------------------------------
# RFM customer segmentation (q176): the standard retail marketing
# segmentation — recency / frequency / monetary quintiles — computed
# WITHIN each market segment so the windows stay partitioned (a global
# NTILE would funnel every customer through one reducer; scoring
# against segment peers is both the scalable form and the analytically
# honest one).


@register(
    "q176_rfm_segmentation",
    oracle="""
    WITH ref AS (SELECT MAX(o_orderdate) AS ref_date FROM orders),
    per_cust AS (
      SELECT c.c_mktsegment, o.o_custkey,
             CAST(date_diff('day', MAX(o.o_orderdate),
                            (SELECT ref_date FROM ref)) AS BIGINT)
                 AS recency_days,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                  AS DECIMAL(38,2)) AS monetary
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY c.c_mktsegment, o.o_custkey
    )
    SELECT c_mktsegment, o_custkey, recency_days, n_orders,
           CAST(monetary AS VARCHAR) AS monetary,
           CAST(ntile(5) OVER (
             PARTITION BY c_mktsegment
             ORDER BY recency_days DESC, o_custkey
           ) AS INTEGER) AS r_score,
           CAST(ntile(5) OVER (
             PARTITION BY c_mktsegment
             ORDER BY n_orders ASC, o_custkey
           ) AS INTEGER) AS f_score,
           CAST(ntile(5) OVER (
             PARTITION BY c_mktsegment
             ORDER BY monetary ASC, o_custkey
           ) AS INTEGER) AS m_score
    FROM per_cust
    """,
    doc="RFM segmentation: per customer with at least one order, days "
    "since last order (recency, against the corpus max order date so "
    "the metric is reproducible), order count (frequency) and exact "
    "decimal lifetime spend (monetary), each scored into quintiles "
    "WITHIN the customer's market segment — score 5 = most recent / "
    "most frequent / highest spend, ties broken by custkey so NTILE "
    "assigns identically in both engines. Scoring within segment keeps "
    "every window PARTITIONED (5 segments here, thousands of partitions "
    "in a real catalog) — the naive global NTILE is a single-reducer "
    "sort at 100 TB, the classic window-scaling trap; segment-relative "
    "scores are also the analytically defensible form (a luxury-goods "
    "buyer's frequency should not be scored against grocery). One "
    "customer-sized agg, then three same-partition window sorts over "
    "the small per-customer table.",
    tags=("warehouse", "window", "retail", "decimal"),
)
def q176_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    ref = orders.agg(F.max("o_orderdate").alias("ref_date"))
    per_cust = (
        orders.join(
            customer.select("c_custkey", "c_mktsegment"),
            orders.o_custkey == F.col("c_custkey"),
        )
        .groupBy("c_mktsegment", "o_custkey")
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            money_sum("o_totalprice").cast("decimal(38,2)").alias("monetary"),
        )
        .crossJoin(F.broadcast(ref))
        .withColumn(
            "recency_days",
            F.datediff(F.col("ref_date"), F.col("last_order")).cast("long"),
        )
    )
    w_r = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("recency_days"), F.asc("o_custkey")
    )
    w_f = Window.partitionBy("c_mktsegment").orderBy(
        F.asc("n_orders"), F.asc("o_custkey")
    )
    w_m = Window.partitionBy("c_mktsegment").orderBy(
        F.asc("monetary"), F.asc("o_custkey")
    )
    return per_cust.select(
        "c_mktsegment",
        "o_custkey",
        "recency_days",
        "n_orders",
        F.col("monetary").cast("string").alias("monetary"),
        F.ntile(5).over(w_r).cast("int").alias("r_score"),
        F.ntile(5).over(w_f).cast("int").alias("f_score"),
        F.ntile(5).over(w_m).cast("int").alias("m_score"),
    )


# ---------------------------------------------------------------------------
# Functional-dependency audit (q178): data-profiling primitive — does
# column A determine column B? Violated FDs are how denormalization
# bugs, bad merges, and dirty dimension loads surface. One groupBy per
# candidate FD; each result is determinant-cardinality-sized.

FD_CANDIDATES = (
    ("part.p_brand->p_type", "part", "p_brand", "p_type"),
    ("part.p_type->p_size", "part", "p_type", "p_size"),
    ("customer.c_nationkey->c_mktsegment", "customer", "c_nationkey",
     "c_mktsegment"),
    ("orders.o_custkey->o_orderpriority", "orders", "o_custkey",
     "o_orderpriority"),
)


@register(
    "q178_functional_dependency_audit",
    oracle=" UNION ALL ".join(
        f"""
        SELECT '{fd}' AS fd,
               CAST(COUNT(*) AS BIGINT) AS n_det,
               CAST(SUM(CASE WHEN n_dep > 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_violating_det,
               CAST(MAX(n_dep) AS BIGINT) AS max_dep_per_det,
               CAST(SUM(CASE WHEN n_dep > 1 THEN n_rows ELSE 0 END)
                    AS BIGINT) AS n_rows_in_violation
        FROM (
          SELECT {det}, COUNT(DISTINCT {dep}) AS n_dep,
                 COUNT(*) AS n_rows
          FROM {tbl} GROUP BY {det}
        )
        """
        for fd, tbl, det, dep in FD_CANDIDATES
    ),
    doc="Functional-dependency audit over candidate column pairs "
    "(brand→type, type→size, nationkey→segment, custkey→priority): for "
    "each FD, how many determinant values exist, how many are violated "
    "(more than one distinct dependent), the worst fan-out, and how "
    "many rows sit under violated determinants — the ANALYZE-style "
    "profiling primitive that catches denormalization drift, bad merges "
    "and dirty dimension loads before they fan out a join (a violated "
    "FD used as a join key IS a row-duplicating bug; see q143 for the "
    "frequency-skew sibling). Per FD: one partial-aggregated groupBy "
    "on the determinant with an exact COUNT DISTINCT of the dependent, "
    "then a determinant-cardinality-sized rollup; the four audits union "
    "into one result. Scale: each audit shuffles only (det, dep) pairs "
    "— column-pruned scans, never full rows.",
    tags=("profiling", "quality", "aggregate"),
)
def q178_functional_dependency_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    out: DataFrame | None = None
    for fd, tbl, det, dep in FD_CANDIDATES:
        per_det = (
            load_table(spark, sf_dir, tbl)
            .groupBy(det)
            .agg(
                F.countDistinct(dep).alias("n_dep"),
                F.count(F.lit(1)).alias("n_rows"),
            )
        )
        audit = per_det.agg(
            F.lit(fd).alias("fd"),
            F.count(F.lit(1)).cast("long").alias("n_det"),
            F.sum((F.col("n_dep") > 1).cast("long")).cast("long")
            .alias("n_violating_det"),
            F.max("n_dep").cast("long").alias("max_dep_per_det"),
            F.sum(
                F.when(F.col("n_dep") > 1, F.col("n_rows")).otherwise(0)
            ).cast("long").alias("n_rows_in_violation"),
        )
        out = audit if out is None else out.unionByName(audit)
    return out


# ---------------------------------------------------------------------------
# TPC-H Q17 shape (q182): "small-quantity" revenue — lineitems whose
# quantity is below 20% of their part's average quantity. The classic
# correlated-aggregate filter, decorrelated into a per-part aggregate
# joined back on the same key. The threshold compare is INTEGER-exact:
# qty < sum/(5*cnt)  ⇔  5*qty*cnt < sum, and this corpus's quantities
# are whole numbers (probed), so no double division ever happens.


@register(
    "q182_small_quantity_revenue",
    oracle="""
    WITH per_part AS (
      SELECT l_partkey,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_sum,
             CAST(COUNT(*) AS BIGINT) AS qty_cnt
      FROM lineitem GROUP BY l_partkey
    )
    SELECT p.p_brand,
           CAST(COUNT(*) AS BIGINT) AS n_small_lines,
           CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)))
                     AS DECIMAL(38,2)) AS VARCHAR) AS small_qty_revenue
    FROM lineitem l
    JOIN per_part a ON a.l_partkey = l.l_partkey
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE 5 * CAST(l.l_quantity AS BIGINT) * a.qty_cnt < a.qty_sum
    GROUP BY p.p_brand
    """,
    doc="TPC-H Q17 shape: revenue locked up in small-quantity orders — "
    "lineitems with quantity below 20% of their part's average, rolled "
    "up per brand (the 'would batching these into bulk orders pay?' "
    "analysis; TPC-H 2.17.3 asks it for one brand, this asks it for "
    "all). The correlated aggregate is decorrelated into a per-part "
    "(sum, count) aggregate joined back on l_partkey — both sides of "
    "that join shuffle on the SAME key, so Catalyst plans one exchange "
    "each and no broadcast of anything fact-sized. The 0.2*avg "
    "threshold is evaluated as 5*qty*cnt < sum in pure int64 (this "
    "corpus's quantities are whole numbers — probed, and asserted by "
    "the test): no double division, no rounding boundary, bit-equal "
    "in both engines by construction. Revenue is exact decimal. Part "
    "is joined only for the brand label (broadcast-sized dim).",
    tags=("retail", "join", "aggregate", "decimal"),
)
def q182_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    per_part = lineitem.groupBy("l_partkey").agg(
        F.sum(F.col("l_quantity").cast("long")).alias("qty_sum"),
        F.count(F.lit(1)).alias("qty_cnt"),
    )
    small = lineitem.join(per_part, "l_partkey").filter(
        5 * F.col("l_quantity").cast("long") * F.col("qty_cnt")
        < F.col("qty_sum")
    )
    return (
        small.join(
            F.broadcast(part.select("p_partkey", "p_brand")),
            small.l_partkey == F.col("p_partkey"),
        )
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_small_lines"),
            decimal_str(money_sum("l_extendedprice"))
            .alias("small_qty_revenue"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q15 shape (q183): top supplier(s) by revenue in a quarter —
# aggregate, then keep the rows equal to the scalar max. Decimal
# revenue makes the max and the equality exact (the double form would
# be a flaky boundary).

Q15_FROM = "1996-01-01"
Q15_TO = "1996-04-01"


@register(
    "q183_top_supplier",
    oracle=f"""
    WITH rev AS (
      SELECT l_suppkey,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                      * CAST(1 - l_discount AS DECIMAL(4,2)))
                  AS DECIMAL(38,4)) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '{Q15_FROM}'
        AND l_shipdate < TIMESTAMP '{Q15_TO}'
      GROUP BY l_suppkey
    )
    SELECT l_suppkey, CAST(total_revenue AS VARCHAR) AS total_revenue
    FROM rev
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
    """,
    doc=f"TPC-H Q15 shape: the supplier(s) with maximum revenue over "
    f"[{Q15_FROM}, {Q15_TO}) — aggregate per supplier, then keep rows "
    "equal to the scalar max (Q15's CREATE VIEW + subquery, as one "
    "plan). Revenue is exact decimal (price x discount complement per "
    "row), so the max and the tie-preserving equality are bit-exact — "
    "the double form would hinge on last-ulp sum order, exactly the "
    "flakiness the decimal convention exists to kill. Scale shape: the "
    "shipdate filter pushes to the scan, the per-supplier agg is "
    "map-side partial + one supplier-sized shuffle, and the scalar max "
    "broadcasts back over the tiny aggregate — the fact table is "
    "touched once.",
    tags=("retail", "aggregate", "decimal", "subquery"),
)
def q183_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    rev_expr = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount")
    ).cast("decimal(4,2)")
    rev = (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit(Q15_FROM).cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit(Q15_TO).cast("timestamp_ntz"))
        )
        .groupBy("l_suppkey")
        .agg(F.sum(rev_expr).cast("decimal(38,4)").alias("total_revenue"))
    )
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("mx"))
        .select(
            "l_suppkey",
            F.col("total_revenue").cast("string").alias("total_revenue"),
        )
    )


# ---------------------------------------------------------------------------
# Cohort revenue triangle (q184): the classic retention economics
# readout — customers grouped by first-order month, revenue tracked by
# months-since-acquisition. The month arithmetic is pure integers
# (year*12+month), never float date math.


@register(
    "q184_cohort_revenue_triangle",
    oracle="""
    WITH first_order AS (
      SELECT o_custkey, MIN(o_orderdate) AS first_dt
      FROM orders GROUP BY o_custkey
    )
    SELECT strftime(f.first_dt, '%Y-%m') AS cohort_month,
           CAST((date_part('year', o.o_orderdate) * 12
                 + date_part('month', o.o_orderdate))
                - (date_part('year', f.first_dt) * 12
                   + date_part('month', f.first_dt)) AS BIGINT)
               AS age_months,
           CAST(COUNT(DISTINCT o.o_custkey) AS BIGINT) AS n_active,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2)))
                     AS DECIMAL(38,2)) AS VARCHAR) AS revenue
    FROM orders o JOIN first_order f ON f.o_custkey = o.o_custkey
    GROUP BY 1, 2
    """,
    doc="Cohort revenue triangle: customers cohorted by first-order "
    "month, each later order credited to (cohort, months-since-"
    "acquisition) with distinct active customers, order count and "
    "exact decimal revenue per cell — the retention-economics readout "
    "(LTV curves, cohort decay) every subscription/retail business "
    "reads weekly; q96 is its distinct-users day-grain sibling over "
    "events. Month age is integer (year*12 + month) arithmetic — no "
    "float date math, no months_between fractional semantics to "
    "disagree on. Scale shape: the first-order aggregate and the "
    "credit join both shuffle on o_custkey (one exchange, "
    "co-partitioned), the triangle itself is (months x months)-sized; "
    "COUNT(DISTINCT custkey) per cell is exact and partial-aggregated "
    "because the cell count is bounded.",
    tags=("warehouse", "retail", "aggregate", "decimal"),
)
def q184_cohort_revenue_triangle(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    first_order = orders.groupBy("o_custkey").agg(
        F.min("o_orderdate").alias("first_dt")
    )
    midx = lambda c: F.year(c) * 12 + F.month(c)  # noqa: E731
    return (
        orders.join(first_order, "o_custkey")
        .groupBy(
            F.date_format("first_dt", "yyyy-MM").alias("cohort_month"),
            (midx(F.col("o_orderdate")) - midx(F.col("first_dt")))
            .cast("long")
            .alias("age_months"),
        )
        .agg(
            F.countDistinct("o_custkey").cast("long").alias("n_active"),
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            decimal_str(money_sum("o_totalprice")).alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# Benford leading-digit audit (q187): first-digit distribution of
# order totals vs Benford's law — the classic fraud / synthetic-data
# smell test. Expected shares are hardcoded integer ppm constants
# (log10(1+1/d) pre-rounded, summing to exactly 1e6) — no runtime
# transcendental, nothing to disagree on.

BENFORD_PPM = {
    1: 301030, 2: 176091, 3: 124939, 4: 96910, 5: 79181,
    6: 66947, 7: 57992, 8: 51153, 9: 45757,
}


@register(
    "q187_benford_audit",
    oracle=f"""
    WITH digits AS (
      SELECT CAST(substr(CAST(CAST(o_totalprice AS DECIMAL(18,2))
                              AS VARCHAR), 1, 1) AS INTEGER) AS digit
      FROM orders WHERE o_totalprice >= 1
    ),
    counts AS (
      SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM digits GROUP BY digit
    ),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS t FROM counts)
    SELECT digit, n,
           CAST(n * 1000000 // t AS BIGINT) AS observed_ppm,
           CAST(CASE digit
             {" ".join(f"WHEN {d} THEN {p}" for d, p in BENFORD_PPM.items())}
           END AS BIGINT) AS benford_ppm,
           CAST(n * 1000000 // t - CASE digit
             {" ".join(f"WHEN {d} THEN {p}" for d, p in BENFORD_PPM.items())}
           END AS BIGINT) AS deviation_ppm
    FROM counts CROSS JOIN tot
    """,
    doc="Benford's-law leading-digit audit of order totals: observed "
    "first-digit counts and exact ppm shares against the hardcoded "
    "Benford expectation (log10(1+1/d) pre-rounded to integer ppm, "
    "summing to exactly 1e6 — no runtime transcendental, so both "
    "engines agree by construction). Large deviations flag fabricated "
    "or synthetically-generated amounts — the classic forensic "
    "accounting screen, and a useful smell test on any pipeline's "
    "numeric columns (this corpus's uniform-ish totals deviate "
    "strongly, which IS the finding). Digit extraction goes through "
    "the DECIMAL(18,2) string rendering both engines share, never "
    "float log10. Scale shape: one scan to a 9-row table; the ppm "
    "division happens on the 9-row side of a scalar broadcast.",
    tags=("profiling", "quality", "retail"),
)
def q187_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    case = "CASE digit " + " ".join(
        f"WHEN {d} THEN {p}" for d, p in BENFORD_PPM.items()
    ) + " END"
    counts = (
        orders.filter(F.col("o_totalprice") >= 1)
        .select(
            F.substring(
                F.col("o_totalprice").cast("decimal(18,2)").cast("string"),
                1, 1,
            ).cast("int").alias("digit")
        )
        .groupBy("digit")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    tot = counts.agg(F.sum("n").cast("long").alias("t"))
    return counts.crossJoin(F.broadcast(tot)).selectExpr(
        "digit",
        "n",
        "CAST(n * 1000000 div t AS BIGINT) AS observed_ppm",
        f"CAST({case} AS BIGINT) AS benford_ppm",
        f"CAST(n * 1000000 div t - {case} AS BIGINT) AS deviation_ppm",
    )


# ---------------------------------------------------------------------------
# Data-contract audit (q194): the declarative quality-gate engine
# (operators/contracts.py) run against the retail schema — one report
# row per contract, all contracts on a table sharing ONE scan. The
# ship-before-order rule REALLY fails on this corpus (29k rows at
# sf0.01), which is the point: a contract engine that only ever
# passes is untested.

CONTRACTS_SQL = (
    ("orders.positive_totalprice", "orders", "o_totalprice <= 0"),
    ("orders.custkey_not_null", "orders", "o_custkey IS NULL"),
    ("orders.status_in_domain", "orders",
     "o_orderstatus NOT IN ('O', 'F', 'P')"),
    ("lineitem.quantity_in_range", "lineitem",
     "l_quantity < 1 OR l_quantity > 50"),
    ("lineitem.discount_in_range", "lineitem",
     "l_discount < 0 OR l_discount > 0.1"),
    ("lineitem.ship_after_order", "li_orders",
     "l_shipdate < o_orderdate"),
)


@register(
    "q194_data_contract_audit",
    oracle=" UNION ALL ".join(
        f"""
        SELECT '{name}' AS contract, '{tbl}' AS table_name,
               CAST(COUNT(*) AS BIGINT) AS n_checked,
               CAST(SUM(CASE WHEN {pred} THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_violations,
               CAST(SUM(CASE WHEN {pred} THEN 1 ELSE 0 END) * 1000000
                    // COUNT(*) AS BIGINT) AS violation_ppm
        FROM {"(SELECT l.*, o.o_orderdate FROM lineitem l"
              " JOIN orders o ON o.o_orderkey = l.l_orderkey)"
              if tbl == "li_orders" else tbl}
        """
        for name, tbl, pred in CONTRACTS_SQL
    ),
    doc="Declarative data-contract audit over the retail schema (the "
    "dbt-tests / expectations engine surface, operators/contracts.py): "
    "six rules — domain bounds, null keys, value ranges, and the "
    "cross-table ship-after-order ordering — each reported as checked/"
    "violations/exact ppm. Rules are grouped BY TABLE and evaluated in "
    "ONE scan per table as fused SUM(CASE) partial aggregates (N rules "
    "never cost N scans); the cross-table rule rides a single "
    "co-keyed join. The ship-after-order contract genuinely FAILS on "
    "this corpus (~2.5% of lineitems ship before their order date — "
    "the same data fact q175 had to design around), proving the "
    "engine reports violations instead of vacuously passing; the "
    "reference's row-count and file-existence ingestion guards "
    "(dag1_ingest_csv.py) are two hardcoded instances of this general "
    "form. Scale shape: one scan per table + one join, all map-side "
    "partials, report is rules-sized.",
    tags=("quality", "warehouse", "profiling"),
)
def q194_data_contract_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.contracts import Contract, audit_contracts

    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    li_orders = lineitem.join(
        orders.select("o_orderkey", "o_orderdate"),
        lineitem.l_orderkey == F.col("o_orderkey"),
    )
    return audit_contracts(
        spark,
        {"orders": orders, "lineitem": lineitem, "li_orders": li_orders},
        [Contract(n, t, p) for n, t, p in CONTRACTS_SQL],
    )


# ---------------------------------------------------------------------------
# l-diversity audit (q195): k-anonymity's necessary complement — a
# large quasi-identifier group is still unsafe if everyone in it
# shares the same SENSITIVE value (homogeneity attack). Per q123
# group: distinct sensitive values (account-balance sign band) and
# the dominant value's share.

L_DIVERSITY = 2


@register(
    "q195_l_diversity",
    oracle=f"""
    WITH tagged AS (
      SELECT c_mktsegment, c_nationkey,
             CASE WHEN c_acctbal < 0 THEN 'neg'
                  WHEN c_acctbal < 5000 THEN 'mid' ELSE 'high' END
                 AS sens_band
      FROM customer
    ),
    g AS (
      SELECT c_mktsegment, c_nationkey,
             CAST(COUNT(*) AS BIGINT) AS grp_n,
             CAST(COUNT(DISTINCT sens_band) AS BIGINT) AS l_distinct,
             CAST(MAX(band_n) AS BIGINT) AS dominant_n
      FROM (
        SELECT c_mktsegment, c_nationkey, sens_band,
               COUNT(*) OVER (
                 PARTITION BY c_mktsegment, c_nationkey, sens_band
               ) AS band_n
        FROM tagged
      ) GROUP BY c_mktsegment, c_nationkey
    )
    SELECT c_mktsegment, c_nationkey, grp_n, l_distinct,
           CAST(dominant_n * 1000000 // grp_n AS BIGINT)
               AS dominant_share_ppm,
           l_distinct < {L_DIVERSITY} AS homogeneity_risk
    FROM g
    """,
    doc="l-diversity audit over the q123 quasi-identifier groups "
    "(segment x nation), sensitive attribute = account-balance band "
    "(neg/mid/high): per group, its size, the number of DISTINCT "
    "sensitive values, the dominant band's exact ppm share, and the "
    f"homogeneity flag (fewer than l={L_DIVERSITY} distinct values) — "
    "k-anonymity's necessary complement, because a thousand-person "
    "group where everyone is in the 'neg' band leaks the sensitive "
    "attribute without identifying anyone (the homogeneity attack "
    "k alone cannot see). Plan: one window + one exact-distinct "
    "aggregate on the quasi-tuple — the window and the groupBy share "
    "the (segment, nation) partitioning, bounded key space, pure "
    "integer decision. Composes with q123: release gates check BOTH "
    "flags.",
    tags=("governance", "aggregate", "window"),
)
def q195_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").withColumn(
        "sens_band",
        F.when(F.col("c_acctbal") < 0, "neg")
        .when(F.col("c_acctbal") < 5000, "mid")
        .otherwise("high"),
    )
    w = Window.partitionBy("c_mktsegment", "c_nationkey", "sens_band")
    g = (
        cust.withColumn("band_n", F.count(F.lit(1)).over(w))
        .groupBy("c_mktsegment", "c_nationkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("grp_n"),
            F.countDistinct("sens_band").cast("long").alias("l_distinct"),
            F.max("band_n").cast("long").alias("dominant_n"),
        )
    )
    return g.selectExpr(
        "c_mktsegment",
        "c_nationkey",
        "grp_n",
        "l_distinct",
        "CAST(dominant_n * 1000000 div grp_n AS BIGINT)"
        " AS dominant_share_ppm",
        f"l_distinct < {L_DIVERSITY} AS homogeneity_risk",
    )


# ---------------------------------------------------------------------------
# Exact weighted median (q196): the robust per-group center where each
# row counts with a weight — here, median extended price per brand
# weighted by quantity ("the price of the median UNIT sold", not the
# median line). Integer rank arithmetic over cumulative weights, the
# q78 exact-order-statistic machinery generalized to weights.


@register(
    "q196_weighted_median",
    oracle="""
    WITH pts AS (
      SELECT p.p_brand,
             CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                 AS cents,
             CAST(l.l_quantity AS BIGINT) AS w
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ),
    cum AS (
      SELECT p_brand, cents, w,
             SUM(w) OVER (
               PARTITION BY p_brand ORDER BY cents, w
               ROWS UNBOUNDED PRECEDING
             ) AS cw,
             SUM(w) OVER (PARTITION BY p_brand) AS tw
      FROM pts
    )
    SELECT p_brand,
           CAST(tw AS BIGINT) AS total_units,
           CAST(MIN(cents) AS BIGINT) AS weighted_median_cents
    FROM (
      SELECT p_brand, cents, tw FROM cum WHERE 2 * cw >= tw
    ) GROUP BY p_brand, tw
    """,
    doc="Exact weighted median per brand: the extended price of the "
    "median UNIT sold (each lineitem weighted by its quantity) — the "
    "lower weighted median, defined as the smallest value whose "
    "cumulative weight reaches half the total, computed with pure "
    "integer rank arithmetic (2*cum >= total avoids any half-total "
    "division) over cents. Weighted medians answer 'what does the "
    "typical unit cost' where q78's unweighted median answers 'what "
    "does the typical line cost' — they diverge exactly when quantity "
    "correlates with price, which is the interesting case. Ties are "
    "ordered (cents, w) so both engines accumulate identically. Scale "
    "shape: one (brand) shuffle, the cumulative window and the total "
    "ride the same sort; per-group state is the sort, not a "
    "collection.",
    tags=("retail", "window", "aggregate", "robust"),
)
def q196_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    pts = lineitem.join(
        F.broadcast(part.select("p_partkey", "p_brand")),
        lineitem.l_partkey == F.col("p_partkey"),
    ).select(
        "p_brand",
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("long").alias("cents"),
        F.col("l_quantity").cast("long").alias("w"),
    )
    w_cum = (
        Window.partitionBy("p_brand")
        .orderBy("cents", "w")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_tot = Window.partitionBy("p_brand")
    cum = pts.withColumn("cw", F.sum("w").over(w_cum)).withColumn(
        "tw", F.sum("w").over(w_tot)
    )
    return (
        cum.filter(2 * F.col("cw") >= F.col("tw"))
        .groupBy("p_brand", "tw")
        .agg(F.min("cents").cast("long").alias("weighted_median_cents"))
        .select(
            "p_brand",
            F.col("tw").cast("long").alias("total_units"),
            "weighted_median_cents",
        )
    )


# ---------------------------------------------------------------------------
# Revenue concentration audit (q198): how much of each segment's
# revenue comes from its top decile of customers — the 80/20
# dependence readout (customer-concentration risk; q136 is the
# token-mass sibling on documents). Decile by NTILE within segment
# (deterministic ties), shares in exact ppm from decimal cents.


@register(
    "q198_revenue_concentration",
    oracle="""
    WITH per_cust AS (
      SELECT c.c_mktsegment, o.o_custkey,
             CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100)
                  AS BIGINT) AS cents
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1, 2
    ),
    ranked AS (
      SELECT c_mktsegment, cents,
             ntile(10) OVER (
               PARTITION BY c_mktsegment ORDER BY cents DESC, o_custkey
             ) AS decile
      FROM per_cust
    )
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(CASE WHEN decile = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_top_decile,
           CAST(SUM(CASE WHEN decile = 1 THEN cents ELSE 0 END) AS BIGINT)
               AS top_decile_cents,
           CAST(SUM(cents) AS BIGINT) AS total_cents,
           CAST(FLOOR(CAST(SUM(CASE WHEN decile = 1 THEN cents ELSE 0 END)
                          AS DOUBLE) * 1000000.0
                      / CAST(SUM(cents) AS DOUBLE))
                AS BIGINT) AS top_decile_share_ppm
    FROM ranked GROUP BY c_mktsegment
    """,
    doc="Customer-concentration audit: per market segment, the share "
    "of lifetime revenue held by the top decile of customers (NTILE "
    "within segment on exact decimal cents, ties broken by custkey) — "
    "the 80/20 dependence readout that quantifies revenue-at-risk if "
    "the biggest accounts churn, and the retail twin of q136's "
    "token-mass Gini (doc-level curation decisions becoming "
    "token-level bias there; account-level dependence here). All "
    "integer: cents from the decimal cast, shares in exact ppm. "
    "Scale shape: customer-grain aggregate on the custkey shuffle, "
    "then a segment-partitioned NTILE over the small per-customer "
    "table and a segments-sized rollup — the q176 window discipline "
    "(never a global single-reducer sort).",
    tags=("retail", "window", "aggregate", "warehouse"),
)
def q198_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    per_cust = (
        orders.join(
            customer.select("c_custkey", "c_mktsegment"),
            orders.o_custkey == F.col("c_custkey"),
        )
        .groupBy("c_mktsegment", "o_custkey")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("long")
            .alias("cents")
        )
    )
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("cents"), F.asc("o_custkey")
    )
    ranked = per_cust.withColumn("decile", F.ntile(10).over(w))
    top = (F.col("decile") == 1).cast("long")
    return ranked.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum(top).cast("long").alias("n_top_decile"),
        F.sum(top * F.col("cents")).cast("long").alias("top_decile_cents"),
        F.sum("cents").cast("long").alias("total_cents"),
        F.expr(
            # one deterministic IEEE double ratio (q192 convention):
            # integer cents*1e6 overflows int64 at the 100x corpus
            # (caught by EXECUTING the scale run), and Spark decimal
            # `div` disagrees with DuckDB `//` on decimals — the
            # identical double expression floors identically in both
            "CAST(FLOOR(CAST(SUM(CASE WHEN decile = 1 THEN cents"
            " ELSE 0 END) AS DOUBLE) * 1000000.0D"
            " / CAST(SUM(cents) AS DOUBLE)) AS BIGINT)"
        ).alias("top_decile_share_ppm"),
    )


# ---------------------------------------------------------------------------
# Multiple linear regression via normal equations (q214): the third
# linalg fixed point (after q202's Gram matrix and q203's power
# iteration) — closed-form OLS of lineitem revenue on quantity and
# discount from ONE distributed pass of exact integer sufficient
# statistics. This is how regression actually runs at 100 TB: the k*k
# normal-equations system is built from k(k+3)/2 exact sums in a single
# map-side-combined aggregation (here k=2: 9 sums), then solved in
# closed form (Cramer) — no gradient iterations, no corpus re-scans,
# and the sums are mergeable across shards/days like every other
# algebraic aggregate in the engine. Coefficients are IEEE expressions
# of the exact integer sums (identical expression tree in both
# dialects → bit-equal doubles).


@register(
    "q214_ols_normal_equations",
    oracle="""
    WITH obs AS (
      SELECT CAST(l_quantity AS BIGINT) AS x1,
             CAST(CAST(l_discount AS DECIMAL(6,2)) * 100 AS BIGINT) AS x2,
             CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)
                 AS y
      FROM lineitem
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x1) AS BIGINT) AS sx1,
             CAST(SUM(x2) AS BIGINT) AS sx2,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x1 * x1) AS BIGINT) AS sx1x1,
             CAST(SUM(x2 * x2) AS BIGINT) AS sx2x2,
             CAST(SUM(x1 * x2) AS BIGINT) AS sx1x2,
             CAST(SUM(CAST(x1 AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))
                  AS DECIMAL(38,0)) AS sx1y,
             CAST(SUM(CAST(x2 AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))
                  AS DECIMAL(38,0)) AS sx2y,
             CAST(SUM(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))
                  AS DECIMAL(38,0)) AS syy
      FROM obs
    )
    SELECT n, sx1, sx2, sy, sx1x1, sx2x2, sx1x2,
           CAST(sx1y AS VARCHAR) AS sx1y,
           CAST(sx2y AS VARCHAR) AS sx2y,
           CAST(syy AS VARCHAR) AS syy,
           (
             (CAST(n AS DOUBLE) * sx2x2 - CAST(sx2 AS DOUBLE) * sx2)
               * (CAST(n AS DOUBLE) * CAST(sx1y AS DOUBLE) - CAST(sx1 AS DOUBLE) * sy)
             - (CAST(n AS DOUBLE) * sx1x2 - CAST(sx1 AS DOUBLE) * sx2)
               * (CAST(n AS DOUBLE) * CAST(sx2y AS DOUBLE) - CAST(sx2 AS DOUBLE) * sy)
           ) / NULLIF(
             (CAST(n AS DOUBLE) * sx1x1 - CAST(sx1 AS DOUBLE) * sx1)
               * (CAST(n AS DOUBLE) * sx2x2 - CAST(sx2 AS DOUBLE) * sx2)
             - (CAST(n AS DOUBLE) * sx1x2 - CAST(sx1 AS DOUBLE) * sx2)
               * (CAST(n AS DOUBLE) * sx1x2 - CAST(sx1 AS DOUBLE) * sx2)
           , 0.0) AS beta_qty_cents,
           (
             (CAST(n AS DOUBLE) * sx1x1 - CAST(sx1 AS DOUBLE) * sx1)
               * (CAST(n AS DOUBLE) * CAST(sx2y AS DOUBLE) - CAST(sx2 AS DOUBLE) * sy)
             - (CAST(n AS DOUBLE) * sx1x2 - CAST(sx1 AS DOUBLE) * sx2)
               * (CAST(n AS DOUBLE) * CAST(sx1y AS DOUBLE) - CAST(sx1 AS DOUBLE) * sy)
           ) / NULLIF(
             (CAST(n AS DOUBLE) * sx1x1 - CAST(sx1 AS DOUBLE) * sx1)
               * (CAST(n AS DOUBLE) * sx2x2 - CAST(sx2 AS DOUBLE) * sx2)
             - (CAST(n AS DOUBLE) * sx1x2 - CAST(sx1 AS DOUBLE) * sx2)
               * (CAST(n AS DOUBLE) * sx1x2 - CAST(sx1 AS DOUBLE) * sx2)
           , 0.0) AS beta_disc_cents
    FROM s
    """,
    doc="Closed-form multiple linear regression (OLS) of lineitem "
    "revenue-in-cents on quantity and discount-in-percent via the "
    "normal equations: ONE distributed pass accumulates the 10 exact "
    "integer sufficient statistics (n, first/second moments, "
    "cross-moments). The x-only sums are int64-safe at any corpus "
    "(quantity <= 50, discount-pct <= 10), but every y-bearing product "
    "is DECIMAL(38,0): price-cents < ~1.05e7 makes y*y ~ 1e14 PER ROW, "
    "which crosses int64 at a mere ~10^5 worst-case rows — exactly the "
    "ARITHMETIC_OVERFLOW that killed the round-6 bench at sf0.1 "
    "(commit 700a95f). DECIMAL(38,0) holds y*y sums to ~10^24 rows; "
    "both dialects build the identical decimal expression tree, so the "
    "sums still hash equal. Then the centered 2x2 system is solved by "
    "Cramer's rule as a pure expression of those integers. This is the "
    "production shape of regression at 100 TB: sufficient statistics "
    "are algebraic aggregates (map-side combined, shard-mergeable, "
    "incremental across daily increments); the k*k solve is O(k^3) "
    "driver-free math on one row, valid up to the k~100s where feature "
    "engineering hands over to SGD. Exactness: the integer sums are "
    "shuffle-order-independent; the coefficients are IEEE expressions "
    "of those exact integers with IDENTICAL expression trees in both "
    "dialects, so even the doubles hash bit-equal. (Expected: "
    "beta_qty ~ mean part price — extendedprice = qty*price; beta_disc "
    "~ 0 — discount is independent of revenue in TPC-H.)",
    tags=("analytics", "linalg", "aggregate"),
)
def q214_ols_normal_equations(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    obs = li.select(
        F.col("l_quantity").cast("long").alias("x1"),
        (F.col("l_discount").cast("decimal(6,2)") * 100)
        .cast("long")
        .alias("x2"),
        (F.col("l_extendedprice").cast("decimal(12,2)") * 100)
        .cast("long")
        .alias("y"),
    )
    s = obs.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x1").cast("long").alias("sx1"),
        F.sum("x2").cast("long").alias("sx2"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x1") * F.col("x1")).cast("long").alias("sx1x1"),
        F.sum(F.col("x2") * F.col("x2")).cast("long").alias("sx2x2"),
        F.sum(F.col("x1") * F.col("x2")).cast("long").alias("sx1x2"),
        F.sum(
            F.col("x1").cast("decimal(19,0)") * F.col("y").cast("decimal(19,0)")
        ).cast("decimal(38,0)").alias("sx1y"),
        F.sum(
            F.col("x2").cast("decimal(19,0)") * F.col("y").cast("decimal(19,0)")
        ).cast("decimal(38,0)").alias("sx2y"),
        F.sum(
            F.col("y").cast("decimal(19,0)") * F.col("y").cast("decimal(19,0)")
        ).cast("decimal(38,0)").alias("syy"),
    )
    # Centered second moments as doubles-of-exact-ints; same operation
    # order as the oracle so the IEEE results are bit-identical. The
    # y-bearing sums are DECIMAL(38,0) and enter through an explicit
    # CAST AS DOUBLE (identical node in the oracle); at oracle scale
    # they are < 2^53 so the conversion is exact in both engines.
    s11 = "(CAST(n AS DOUBLE) * sx1x1 - CAST(sx1 AS DOUBLE) * sx1)"
    s22 = "(CAST(n AS DOUBLE) * sx2x2 - CAST(sx2 AS DOUBLE) * sx2)"
    s12 = "(CAST(n AS DOUBLE) * sx1x2 - CAST(sx1 AS DOUBLE) * sx2)"
    s1y = "(CAST(n AS DOUBLE) * CAST(sx1y AS DOUBLE) - CAST(sx1 AS DOUBLE) * sy)"
    s2y = "(CAST(n AS DOUBLE) * CAST(sx2y AS DOUBLE) - CAST(sx2 AS DOUBLE) * sy)"
    det = f"({s11} * {s22} - {s12} * {s12})"
    return s.select(
        "n", "sx1", "sx2", "sy", "sx1x1", "sx2x2", "sx1x2",
        F.col("sx1y").cast("string").alias("sx1y"),
        F.col("sx2y").cast("string").alias("sx2y"),
        F.col("syy").cast("string").alias("syy"),
        F.expr(f"({s22} * {s1y} - {s12} * {s2y}) / NULLIF({det}, 0.0D)").alias(
            "beta_qty_cents"
        ),
        F.expr(f"({s11} * {s2y} - {s12} * {s1y}) / NULLIF({det}, 0.0D)").alias(
            "beta_disc_cents"
        ),
    )


# ---------------------------------------------------------------------------
# Leave-one-out target encoding (q227): the categorical-feature encoder
# gradient-boosting / linear pipelines use when one-hot explodes —
# replace the category with the target rate among the OTHER rows of the
# same category, shrunk toward the global rate (additive smoothing,
# m=20 pseudo-observations). Leaving the row's own label out is what
# prevents the target-leakage that makes naive mean-encoding overfit.

TE_SMOOTHING_M = 20


@register(
    "q227_target_encoding_loo",
    oracle=f"""
    WITH lab AS (
      SELECT o_orderkey, o_orderpriority AS category,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
      FROM orders
    ),
    cat AS (
      SELECT category, CAST(COUNT(*) AS BIGINT) AS n_c,
             CAST(SUM(y) AS BIGINT) AS pos_c
      FROM lab GROUP BY category
    ),
    g AS (
      SELECT CAST(1000000 * SUM(y) // COUNT(*) AS BIGINT) AS g_ppm
      FROM lab
    )
    SELECT l.o_orderkey, l.category, CAST(l.y AS BIGINT) AS y,
           CAST((1000000 * (c.pos_c - l.y) + {TE_SMOOTHING_M} * g.g_ppm)
                // (c.n_c - 1 + {TE_SMOOTHING_M}) AS BIGINT) AS enc_ppm
    FROM lab l JOIN cat c ON c.category = l.category CROSS JOIN g
    """,
    doc="Leave-one-out target encoding of o_orderpriority against the "
    "is-fulfilled label (o_orderstatus='F'), with additive smoothing "
    f"toward the global rate (m={TE_SMOOTHING_M} pseudo-observations): "
    "enc = (pos_cat - y_own + m*global_rate) / (n_cat - 1 + m), held "
    "in exact integer ppm so both engines agree bit-for-bit. Scale "
    "shape: ONE category-sized aggregate (5 rows) + one global scalar, "
    "both broadcast back onto the fact scan — the encode itself is a "
    "pure map with no shuffle of the big table and no window; the "
    "category stats are algebraic, so daily increments merge instead "
    "of rescanning. int64 headroom: 1e6*pos_c overflows only past "
    "~9e12 rows per category (then the same plan promotes to "
    "DECIMAL(38,0)).",
    tags=("analytics", "training", "encoding"),
)
def q227_target_encoding_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    lab = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderpriority").alias("category"),
        F.expr(
            "CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END"
        ).alias("y"),
    )
    cat = lab.groupBy("category").agg(
        F.count(F.lit(1)).cast("long").alias("n_c"),
        F.sum("y").cast("long").alias("pos_c"),
    )
    g = lab.agg(
        F.expr(
            "CAST(1000000 * SUM(y) div COUNT(*) AS BIGINT)"
        ).alias("g_ppm")
    )
    return (
        lab.join(F.broadcast(cat), "category")
        .crossJoin(F.broadcast(g))
        .select(
            "o_orderkey",
            "category",
            F.col("y").cast("long").alias("y"),
            F.expr(
                f"CAST((1000000 * (pos_c - y) + {TE_SMOOTHING_M} * g_ppm)"
                f" div (n_c - 1 + {TE_SMOOTHING_M}) AS BIGINT)"
            ).alias("enc_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# t-closeness audit (q228): the third rung of the privacy ladder after
# k-anonymity (q123: are groups big enough?) and l-diversity (q195: are
# sensitive values varied enough?) — t-closeness (Li et al., ICDE 2007)
# asks whether each quasi-identifier group's sensitive-value
# DISTRIBUTION stays close to the global one, because a group can be
# large and varied yet still leak (e.g. 'all orders in this group are
# high-value'). Distance = the ordered-attribute Earth Mover's Distance:
# mean absolute difference of cumulative distributions over the ordered
# buckets. Proportions are ppm-quantized BEFORE the EMD (the committed
# spec): every quantity stays int64 at any corpus size, and both
# engines agree bit-for-bit — a sub-ppm distribution difference is not
# a privacy signal.

TCLOSE_BUCKETS = 8  # ordered o_totalprice bands, 62.5K wide (range ~500K)
TCLOSE_T_PPM = 150_000  # flag groups with EMD > 0.15


@register(
    "q228_t_closeness",
    oracle=f"""
    WITH lab AS (
      SELECT o_orderpriority AS qi_priority,
             CAST(year(o_orderdate) AS BIGINT) AS qi_year,
             LEAST({TCLOSE_BUCKETS - 1},
                   CAST(FLOOR(o_totalprice / 62500.0) AS BIGINT)) AS bkt
      FROM orders
    ),
    grp AS (
      SELECT qi_priority, qi_year, CAST(COUNT(*) AS BIGINT) AS n_g
      FROM lab GROUP BY 1, 2
    ),
    cells AS (
      SELECT qi_priority, qi_year, bkt, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM lab GROUP BY 1, 2, 3
    ),
    gbkt AS (
      SELECT bkt, CAST(COUNT(*) AS BIGINT) AS cnt_all FROM lab GROUP BY 1
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_all FROM lab),
    grid AS (
      SELECT g.qi_priority, g.qi_year, g.n_g, r.range AS bkt,
             COALESCE(c.cnt, 0) AS cnt,
             COALESCE(b.cnt_all, 0) AS cnt_all, t.n_all
      FROM grp g
      CROSS JOIN range({TCLOSE_BUCKETS}) r
      CROSS JOIN tot t
      LEFT JOIN cells c ON c.qi_priority = g.qi_priority
        AND c.qi_year = g.qi_year AND c.bkt = r.range
      LEFT JOIN gbkt b ON b.bkt = r.range
    ),
    cum AS (
      SELECT qi_priority, qi_year, n_g, bkt,
             SUM(1000000 * cnt // n_g) OVER (
               PARTITION BY qi_priority, qi_year ORDER BY bkt
             ) AS cum_g_ppm,
             SUM(1000000 * cnt_all // n_all) OVER (
               PARTITION BY qi_priority, qi_year ORDER BY bkt
             ) AS cum_all_ppm
      FROM grid
    )
    SELECT qi_priority, qi_year, n_g,
           CAST(SUM(CASE WHEN bkt < {TCLOSE_BUCKETS - 1}
                         THEN ABS(cum_g_ppm - cum_all_ppm) ELSE 0 END)
                // {TCLOSE_BUCKETS - 1} AS BIGINT) AS emd_ppm,
           CAST(SUM(CASE WHEN bkt < {TCLOSE_BUCKETS - 1}
                         THEN ABS(cum_g_ppm - cum_all_ppm) ELSE 0 END)
                // {TCLOSE_BUCKETS - 1} > {TCLOSE_T_PPM} AS BIGINT)
               AS t_violation
    FROM cum
    GROUP BY qi_priority, qi_year, n_g
    """,
    doc="t-closeness audit over quasi-identifier groups (priority x "
    "order-year) with o_totalprice as the ordered sensitive attribute "
    f"({TCLOSE_BUCKETS} fixed 62.5K-wide bands): EMD = mean |cumulative "
    "group distribution - cumulative global distribution| over the "
    "ordered buckets, on ppm-quantized proportions (exact integers in "
    f"both engines); groups with EMD > {TCLOSE_T_PPM} ppm are flagged. "
    "Completes the release-audit ladder q123 (k-anonymity) -> q195 "
    "(l-diversity) -> t-closeness, the check that catches large, "
    "varied groups whose VALUE DISTRIBUTION still deviates enough to "
    "leak. Scale shape: two grouped counts + one bucket-sized global "
    "aggregate; the dense (group x 8)-bucket grid is generated, never "
    "exploded from data; windows run over 8-row frames per group. "
    "Nothing is corpus-ordered, nothing driver-side.",
    tags=("analytics", "privacy", "window"),
)
def q228_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    B = TCLOSE_BUCKETS
    lab = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("qi_priority"),
        F.year("o_orderdate").cast("long").alias("qi_year"),
        F.expr(
            f"LEAST({B - 1}, CAST(FLOOR(o_totalprice / 62500.0) AS BIGINT))"
        ).alias("bkt"),
    )
    grp = lab.groupBy("qi_priority", "qi_year").agg(
        F.count(F.lit(1)).cast("long").alias("n_g")
    )
    cells = lab.groupBy("qi_priority", "qi_year", "bkt").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    gbkt = lab.groupBy("bkt").agg(
        F.count(F.lit(1)).cast("long").alias("cnt_all")
    )
    tot = lab.agg(F.count(F.lit(1)).cast("long").alias("n_all"))
    grid = (
        grp.crossJoin(spark.range(B).select(F.col("id").alias("bkt")))
        .crossJoin(F.broadcast(tot))
        .join(cells, ["qi_priority", "qi_year", "bkt"], "left")
        .join(F.broadcast(gbkt), "bkt", "left")
        .select(
            "qi_priority", "qi_year", "n_g", "bkt",
            F.coalesce("cnt", F.lit(0)).alias("cnt"),
            F.coalesce("cnt_all", F.lit(0)).alias("cnt_all"),
            "n_all",
        )
    )
    w = Window.partitionBy("qi_priority", "qi_year").orderBy("bkt")
    cum = grid.select(
        "qi_priority", "qi_year", "n_g", "bkt",
        F.sum(F.expr("1000000 * cnt div n_g")).over(w).alias("cum_g_ppm"),
        F.sum(F.expr("1000000 * cnt_all div n_all")).over(w).alias(
            "cum_all_ppm"
        ),
    )
    emd = F.expr(
        f"CAST(SUM(CASE WHEN bkt < {B - 1}"
        " THEN ABS(cum_g_ppm - cum_all_ppm) ELSE 0 END)"
        f" div {B - 1} AS BIGINT)"
    )
    return cum.groupBy("qi_priority", "qi_year", "n_g").agg(
        emd.alias("emd_ppm"),
        (emd > TCLOSE_T_PPM).cast("long").alias("t_violation"),
    )


# ---------------------------------------------------------------------------
# Poisson-bootstrap standard error (q232): uncertainty quantification
# for corpus statistics at 100 TB. Classical bootstrap resampling needs
# N draws WITH replacement per replicate — impossible distributed; the
# Poisson bootstrap (each row enters replicate r with weight
# w ~ Poisson(1)) is the standard one-pass approximation (Chamandy et
# al., Google 2012): all R replicates accumulate in a SINGLE scan as
# 2R algebraic sums. Weights are deterministic: a salted affine
# transform of the content hash per (doc, replicate) inverted through
# the Poisson(1) CDF held as integer ppm literals — reproducible,
# partition-independent, engine-identical.

BOOT_R = 16
BOOT_SALT_A, BOOT_SALT_B, BOOT_SALT_R = 614_889_281, 918_273_645, 7_919
BOOT_SALT_C = 999_983  # per-replicate multiplier step (prime)
# Poisson(1) CDF in ppm: P(X <= k) for k = 0..7; weights cap at 8.
BOOT_CDF_PPM = (367879, 735758, 919698, 981011, 996340, 999405, 999916,
                999989)


def _boot_w(u: str) -> str:
    """Poisson(1) weight from a uniform ppm draw: #thresholds below u."""
    return "(" + " + ".join(
        f"CASE WHEN {u} >= {t} THEN 1 ELSE 0 END" for t in BOOT_CDF_PPM
    ) + ")"


def _boot_u(key: str, r) -> str:
    """Uniform ppm draw for (row, replicate): an affine hash whose
    MULTIPLIER varies with the replicate index — ((A + r*C) * key + B +
    r*R) mod p mod 1e6. A draw merely additive in r (round-6 form) made
    the 16 replicate weight vectors near-copies of each other (every
    row's u shifted by the same constant per replicate — a monotone
    drift, not independent resamples), biasing the across-replicate
    variance. With the key*r cross term, u_{r+1}-u_r = (key*C + R) mod
    p varies per ROW, so replicate draws are pairwise decorrelated
    (universal-hash style). Magnitude: key < p=1e9+7, multiplier
    A + 16C < 6.4e8, product < 6.4e17 — int64-safe in both engines."""
    return (
        f"((({BOOT_SALT_A} + {r} * {BOOT_SALT_C}) * {key}"
        f" + {BOOT_SALT_B} + {r} * {BOOT_SALT_R}) % {POLY_MOD} % 1000000)"
    )


def _boot_hash_duck() -> str:
    from ..operators.text import poly_hash_pair

    return poly_hash_pair("text", "text")[1]


@register(
    "q232_poisson_bootstrap_se",
    oracle=f"""
    WITH d AS (
      SELECT CAST(n_chars AS BIGINT) AS x,
             {_boot_hash_duck()} AS key_hash
      FROM documents
    ),
    rep AS (
      SELECT r.range AS r,
             CAST(SUM({_boot_w(_boot_u('d.key_hash', 'r.range'))} * d.x)
                  AS BIGINT) AS num,
             CAST(SUM({_boot_w(_boot_u('d.key_hash', 'r.range'))})
                  AS BIGINT) AS den
      FROM d CROSS JOIN range(1, {BOOT_R + 1}) r
      GROUP BY r.range
    ),
    full_m AS (
      SELECT CAST(1000000 * SUM(x) // COUNT(*) AS BIGINT) AS full_mean_micro
      FROM d
    ),
    means AS (
      SELECT r, CAST(1000000 * num // NULLIF(den, 0) AS BIGINT) AS m_micro
      FROM rep
    )
    SELECT CAST(COUNT(m_micro) AS BIGINT) AS r_eff,
           MAX(f.full_mean_micro) AS full_mean_micro,
           CAST(SUM((m_micro - f.full_mean_micro)
                    * (m_micro - f.full_mean_micro))
                // (COUNT(m_micro) - 1) AS BIGINT) AS var_micro2,
           SQRT(CAST(SUM((m_micro - f.full_mean_micro)
                         * (m_micro - f.full_mean_micro))
                     // (COUNT(m_micro) - 1) AS DOUBLE)) AS se_micro
    FROM means CROSS JOIN full_m f
    """,
    doc="Poisson-bootstrap standard error of the mean document length: "
    f"{BOOT_R} bootstrap replicates where each document enters "
    "replicate r with weight w ~ Poisson(1), drawn DETERMINISTICALLY "
    "by hashing (content, replicate) with a PER-REPLICATE multiplier "
    "(A + r*C)*key mod p — the key*r cross term makes replicate draws "
    "pairwise decorrelated (a draw merely additive in r shifts every "
    "row identically, collapsing the 16 replicates into near-copies "
    "and biasing the variance) — then pushing the uniform through "
    "the Poisson(1) CDF held as integer ppm literals — the "
    "one-pass resampling scheme that replaces with-replacement "
    "bootstrap at distributed scale (all replicate sums are algebraic "
    "aggregates in one scan; the engine plan computes all "
    f"{2 * BOOT_R} sums in a SINGLE aggregation, no row fan-out — the "
    "oracle's row-expanded form proves the same integers). Replicate "
    "means are exact micro-unit integers; the variance across "
    "replicates is centered on the exact full-sample mean so every "
    "intermediate stays int64 (deviations are bounded by sampling "
    "noise, not by the mean's magnitude); SE is the correctly-rounded "
    "IEEE sqrt of that exact integer — bit-equal everywhere. Scale "
    "shape: one scan, 2R+2 mergeable sums, a 16-row driver-free "
    "finish.",
    tags=("analytics", "eval", "sampling"),
)
def q232_poisson_bootstrap_se(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import poly_hash_pair

    hash_spark, _ = poly_hash_pair("text", "text")
    d = load_table(spark, sf_dir, "documents").select(
        F.col("n_chars").cast("long").alias("x"),
        F.expr(hash_spark).alias("key_hash"),
    )
    aggs = [
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
    ]
    for r in range(1, BOOT_R + 1):
        w = _boot_w(_boot_u("key_hash", r))
        aggs.append(F.expr(f"CAST(SUM({w} * x) AS BIGINT)").alias(f"num_{r}"))
        aggs.append(F.expr(f"CAST(SUM({w}) AS BIGINT)").alias(f"den_{r}"))
    one = d.agg(*aggs)
    stack_args = ", ".join(f"{r}, num_{r}, den_{r}" for r in range(1, BOOT_R + 1))
    rep = one.selectExpr(
        "CAST(1000000 * sx div n AS BIGINT) AS full_mean_micro",
        f"stack({BOOT_R}, {stack_args}) AS (r, num, den)",
    ).selectExpr(
        "full_mean_micro",
        "CAST(1000000 * num div NULLIF(den, 0) AS BIGINT) AS m_micro",
    )
    return rep.agg(
        F.expr("CAST(COUNT(m_micro) AS BIGINT)").alias("r_eff"),
        F.max("full_mean_micro").alias("full_mean_micro"),
        F.expr(
            "CAST(SUM((m_micro - full_mean_micro)"
            " * (m_micro - full_mean_micro))"
            " div (COUNT(m_micro) - 1) AS BIGINT)"
        ).alias("var_micro2"),
        F.expr(
            "SQRT(CAST(SUM((m_micro - full_mean_micro)"
            " * (m_micro - full_mean_micro))"
            " div (COUNT(m_micro) - 1) AS DOUBLE))"
        ).alias("se_micro"),
    )


# ---------------------------------------------------------------------------
# Hilbert-curve layout audit (q249): q167's zone-map harness with the curve
# the literature says to use instead of Morton when locality is the goal
# (Faloutsos & Roseman, PODS '89: Hilbert has no Z-order "seams" — every
# curve step is a unit Manhattan step, so per-file bounding boxes stay
# compact). The 2-D Hilbert index is computed MSB-first through the classic
# 4-state machine (the iterative xy2d recursion of "Programming the Hilbert
# curve", flattened to a digit/state table); both 16-entry tables are packed
# base-4 into single int64 constants so the lookup is pure div/shift/mod
# arithmetic — identical integers in both dialects, validated cell-by-cell
# against the textbook recursion in tests/test_r9b_wave.py. Output adds the
# box-INDEPENDENT locality metric (per-file bounding-box area) next to
# q167's fixed-box pruning stats: at 100 TB, sum_bbox_area is what decides
# zorder-vs-hilbert for OPTIMIZE, not one lucky query box.
H_BITS = 8  # 256x256 cells -> 16-bit Hilbert index -> 256 files
# D[s][q] / S[s][q] packed base-4 at entry index s*4+q (q = 2*x_bit+y_bit):
# D = [[0,1,3,2],[0,3,1,2],[2,1,3,0],[2,3,1,0]]
# S = [[1,0,2,0],[0,3,1,1],[2,2,0,3],[3,1,3,2]]
H_DCONST = 506895540
H_SCONST = 3083492385


def _hilbert_steps(div_op: str, one_shl: str) -> list[tuple[str, str]]:
    """Ordered (column, sql) pairs that thread the packed 4-state Hilbert
    machine over (price_b, day_b) MSB-first. ``one_shl`` is a dialect
    template for 2^{n} with a dynamic exponent (the table lookup shift)."""
    steps: list[tuple[str, str]] = [("hs0", "CAST(0 AS BIGINT)")]
    for i, lvl in enumerate(range(H_BITS - 1, -1, -1)):
        q = (
            f"(2 * ((price_b {div_op} {1 << lvl}) % 2)"
            f" + ((day_b {div_op} {1 << lvl}) % 2))"
        )
        idx = f"(2 * (hs{i} * 4 + {q}))"
        shl = one_shl.format(n=idx)
        steps.append((f"hd{i}", f"(({H_DCONST} {div_op} {shl}) % 4)"))
        steps.append((f"hs{i + 1}", f"(({H_SCONST} {div_op} {shl}) % 4)"))
    fold = "CAST(0 AS BIGINT)"
    for i in range(H_BITS):
        fold = f"({fold} * 4 + hd{i})"
    steps.append(("hilbert_d", fold))
    return steps


def _hilbert_duck_ctes() -> str:
    steps = _hilbert_steps("//", "(CAST(1 AS BIGINT) << ({n}))")
    ctes = [f"h0 AS (SELECT *, {steps[0][1]} AS hs0 FROM cells)"]
    for i in range(H_BITS):
        hd_name, hd_sql = steps[1 + 2 * i]
        hs_name, hs_sql = steps[2 + 2 * i]
        ctes.append(
            f"h{i + 1} AS (SELECT *, {hd_sql} AS {hd_name},"
            f" {hs_sql} AS {hs_name} FROM h{i})"
        )
    ctes.append(
        "keys AS (SELECT price_b, day_b, n_rows,"
        f" ({steps[-1][1]}) AS hkey,"
        f" ({_morton16('//', 'price_b', 'day_b')}) AS zkey,"
        f" day_b * 256 + price_b AS lkey FROM h{H_BITS})"
    )
    packs = ", ".join(
        f"LEAST(255, 256 * (SUM(n_rows) OVER (ORDER BY {key})"
        f" - n_rows) // (SUM(n_rows) OVER ())) AS {col}"
        for key, col in (("hkey", "hfile"), ("zkey", "zfile"), ("lkey", "lfile"))
    )
    ctes.append(
        f"packed AS (SELECT price_b, day_b, n_rows, {packs} FROM keys)"
    )
    ctes.append(
        "unpiv AS ("
        + " UNION ALL ".join(
            f"SELECT price_b, day_b, n_rows, '{tag}' AS layout,"
            f" {col} AS f FROM packed"
            for tag, col in (
                ("hilbert", "hfile"),
                ("zorder", "zfile"),
                ("date_sorted", "lfile"),
            )
        )
        + ")"
    )
    return ",\n    ".join(ctes)


@register(
    "q249_hilbert_layout",
    oracle=f"""
    WITH {_Z_DUCK_CELLS},
    {_hilbert_duck_ctes()},
    perfile AS (
      SELECT layout, f,
             MIN(price_b) AS min_p, MAX(price_b) AS max_p,
             MIN(day_b) AS min_d, MAX(day_b) AS max_d,
             SUM(n_rows) AS file_rows,
             SUM(CASE WHEN price_b BETWEEN {Z_BOX[0]} AND {Z_BOX[1]}
                       AND day_b BETWEEN {Z_BOX[2]} AND {Z_BOX[3]}
                 THEN n_rows ELSE 0 END) AS box_rows
      FROM unpiv GROUP BY layout, f
    )
    SELECT layout,
           CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(CASE WHEN min_p <= {Z_BOX[1]} AND max_p >= {Z_BOX[0]}
                          AND min_d <= {Z_BOX[3]} AND max_d >= {Z_BOX[2]}
                    THEN 1 ELSE 0 END) AS BIGINT) AS files_touched,
           CAST(SUM(CASE WHEN min_p <= {Z_BOX[1]} AND max_p >= {Z_BOX[0]}
                          AND min_d <= {Z_BOX[3]} AND max_d >= {Z_BOX[2]}
                    THEN file_rows ELSE 0 END) AS BIGINT) AS rows_scanned,
           CAST(SUM(box_rows) AS BIGINT) AS rows_matched,
           CAST(SUM((max_p - min_p + 1) * (max_d - min_d + 1)) AS BIGINT)
               AS sum_bbox_area,
           CAST(MAX((max_p - min_p + 1) * (max_d - min_d + 1)) AS BIGINT)
               AS max_bbox_area
    FROM perfile GROUP BY layout
    """,
    doc="Hilbert-vs-Z-order-vs-date-sorted layout audit with ROW-BUDGET "
    "file packing — the real OPTIMIZE model: cells are sorted along "
    "each curve and packed into 256 equal-row files by cumulative row "
    "count (q167's fixed `div 256` cut would make any quadrant-"
    "recursive curve produce the same 16x16 blocks; byte-balanced "
    "packing is where curve choice actually bites). The 2-D Hilbert "
    "index runs MSB-first through the classic 4-state digit/state "
    "machine, both lookup tables packed base-4 into int64 constants so "
    "every step is div/shiftleft/mod integer arithmetic — identical in "
    "both dialects and validated against the textbook xy2d recursion "
    "for all 65,536 cells in tests. Reports q167's fixed-box zone-map "
    "pruning stats PLUS the box-independent locality metric: total and "
    "max per-file bounding-box area (Faloutsos & Roseman PODS '89 — "
    "Hilbert's unit-step property keeps file bboxes compact where "
    "Z-order's bit-interleave seams stretch them). Scale shape: ONE "
    "fact scan, one <=65k-cell shuffle; the state-machine chain is 17 "
    "codegen'd projections over the cell table, the packing cumsums "
    "are windows over that SAME bounded table, and the three layouts "
    "ride one stack() fan-out of the cells — zero joins, no re-scan. "
    "This is the OPTIMIZE-layout decision query: run once per table, "
    "read sum_bbox_area.",
    tags=("analytics", "layout"),
)
def q249_hilbert_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _z_cells(spark, sf_dir)
    for name, sql in _hilbert_steps(
        "div", "shiftleft(CAST(1 AS BIGINT), {n})"
    ):
        df = df.selectExpr("*", f"{sql} AS {name}")
    keys = df.selectExpr(
        "price_b", "day_b", "n_rows",
        "hilbert_d AS hkey",
        f"({_morton16('div', 'price_b', 'day_b')}) AS zkey",
        "day_b * 256 + price_b AS lkey",
    )
    packed = keys.selectExpr(
        "price_b", "day_b", "n_rows",
        *[
            f"LEAST(255, 256 * (SUM(n_rows) OVER (ORDER BY {key})"
            f" - n_rows) div (SUM(n_rows) OVER ())) AS {col}"
            for key, col in (
                ("hkey", "hfile"), ("zkey", "zfile"), ("lkey", "lfile")
            )
        ],
    )
    # One cell pass fans out 3x (one row per layout) instead of three
    # re-executions of the whole subtree — the fact table is scanned once.
    unpiv = packed.selectExpr(
        "price_b", "day_b", "n_rows",
        "stack(3, 'hilbert', hfile, 'zorder', zfile,"
        " 'date_sorted', lfile) AS (layout, f)",
    )
    lo_p, hi_p, lo_d, hi_d = Z_BOX
    per_file = unpiv.groupBy("layout", "f").agg(
        F.min("price_b").alias("min_p"), F.max("price_b").alias("max_p"),
        F.min("day_b").alias("min_d"), F.max("day_b").alias("max_d"),
        F.sum("n_rows").alias("file_rows"),
        F.sum(
            F.when(
                F.col("price_b").between(lo_p, hi_p)
                & F.col("day_b").between(lo_d, hi_d),
                F.col("n_rows"),
            ).otherwise(F.lit(0))
        ).alias("box_rows"),
    )
    touched = (
        (F.col("min_p") <= hi_p) & (F.col("max_p") >= lo_p)
        & (F.col("min_d") <= hi_d) & (F.col("max_d") >= lo_d)
    )
    area = (F.col("max_p") - F.col("min_p") + 1) * (
        F.col("max_d") - F.col("min_d") + 1
    )
    return per_file.groupBy("layout").agg(
        F.count(F.lit(1)).cast("long").alias("n_files"),
        F.sum(touched.cast("long")).cast("long").alias("files_touched"),
        F.sum(
            F.when(touched, F.col("file_rows")).otherwise(F.lit(0))
        ).cast("long").alias("rows_scanned"),
        F.sum("box_rows").cast("long").alias("rows_matched"),
        F.sum(area).cast("long").alias("sum_bbox_area"),
        F.max(area).cast("long").alias("max_bbox_area"),
    )


# ---------------------------------------------------------------------------
# Differentially-private count release (q250): the mechanism a pipeline
# needs the day its corpus statistics leave the trust boundary — per-source
# document counts released under the discrete (two-sided geometric) Laplace
# mechanism of Ghosh-Roughgarden-Sundararajan (the universally-optimal
# discrete analogue of Laplace noise). alpha = 1/2 (epsilon = ln 2 per
# unit sensitivity) makes every CDF value an exact dyadic rational, so the
# whole inverse-CDF draw is integer arithmetic: u is a deterministic
# uniform over [0, POLY_MOD^2) built from two independent polynomial
# hashes of the (salted) group key, and the noise is the inverse CDF of u
# evaluated through a threshold ladder computed once in exact Fractions —
# no floats anywhere, so the release is bit-identical cross-engine and
# hash-checked. Noise is truncated to +-DP_NOISE_CAP (tail mass < 2^-57,
# the standard bounded-noise variant). The true count and sampled noise
# columns stay in THIS result because the correctness gate verifies the
# mechanism; a production release ships (source, dp_count) only.
DP_NOISE_CAP = 59
DP_EPS_MICRO = 693147  # ln 2 in micro-nats: alpha = exp(-eps) = 1/2
_DP_R = POLY_MOD * POLY_MOD  # uniform range of u: two stacked poly hashes

# Dialect-paired hash expressions built from the shared template, so the
# Spark u and the oracle u agree by construction (same polynomial, same
# salts, same stacking).
from ..operators.text import poly_hash_pair as _poly_hash_pair  # noqa: E402 — placed with its one consumer

_DP_H1 = _poly_hash_pair("concat('dp1:', source)", "'dp1:' || source")
_DP_H2 = _poly_hash_pair("concat('dp2:', source)", "'dp2:' || source")

# Affine post-mix before stacking: raw polynomial hashes of sequential
# keys ('src10', 'src11', ...) differ only by the last character's
# base^0 contribution — a +-few-units delta that would land neighbors in
# the SAME noise bucket (the q245 salt-collapse lesson). A big-multiplier
# affine map amplifies a delta of 1 to ~2.65e9 mod POLY_MOD, restoring
# spread; multipliers stay below 9.2e18 / POLY_MOD so the product is
# int64-exact in both engines.
_DP_A1, _DP_C1 = 2_654_435_769, 104_729      # 2^32 / golden ratio
_DP_A2, _DP_C2 = 2_246_822_519, 15_485_863   # xxhash PRIME32_2


def _dp_u(h1: str, h2: str) -> str:
    m1 = f"(({_DP_A1} * ({h1}) + {_DP_C1}) % {POLY_MOD})"
    m2 = f"(({_DP_A2} * ({h2}) + {_DP_C2}) % {POLY_MOD})"
    return f"{m1} * CAST({POLY_MOD} AS BIGINT) + {m2}"


_DP_U_SPARK = _dp_u(_DP_H1[0], _DP_H2[0])
_DP_U_DUCK = _dp_u(_DP_H1[1], _DP_H2[1])


def _dp_thresholds() -> list[tuple[int, int]]:
    """(k, floor(CDF(k) * R)) for the alpha=1/2 two-sided geometric:
    P(0) = 1/3, P(+-m) = (1/3)*2^-m; CDF(-m) = 2^(1-m)/3,
    CDF(k>=0) = 1 - 2^-k/3. Exact via Fractions, evaluated once."""
    from fractions import Fraction

    out = []
    for k in range(-DP_NOISE_CAP, DP_NOISE_CAP):
        if k < 0:
            cdf = Fraction(2, 3 * (1 << (-k)))
        else:
            cdf = 1 - Fraction(1, 3 * (1 << k))
        out.append((k, (cdf.numerator * _DP_R) // cdf.denominator))
    return out


_DP_THRESHOLDS = _dp_thresholds()


def _dp_noise_case(u: str) -> str:
    """Inverse-CDF threshold ladder as one CASE expression (valid in both
    dialects): smallest k with u < floor(CDF(k)*R), else +cap."""
    whens = " ".join(
        f"WHEN {u} < {thr} THEN {k}" for k, thr in _DP_THRESHOLDS
    )
    return f"(CASE {whens} ELSE {DP_NOISE_CAP} END)"


@register(
    "q250_dp_noisy_release",
    oracle=f"""
    WITH grp AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM documents WHERE source IS NOT NULL GROUP BY source
    ),
    keyed AS (
      SELECT source, n_docs, {_DP_U_DUCK} AS u
      FROM grp
    )
    SELECT source, n_docs,
           CAST({_dp_noise_case("u")} AS BIGINT) AS dp_noise,
           CAST(n_docs + {_dp_noise_case("u")} AS BIGINT) AS dp_count,
           CAST({DP_EPS_MICRO} AS BIGINT) AS epsilon_micro
    FROM keyed
    """,
    doc="DETERMINISTIC SIMULATION of the discrete-Laplace (two-sided "
    "geometric, Ghosh et al.) noisy-count mechanism at the parameters "
    "of epsilon = ln 2 — NOT a differentially-private release. The "
    "noise draw u is two stacked polynomial hashes of hard-coded "
    "salts over the PUBLIC group key, so anyone with code access can "
    "recompute dp_noise and recover exact counts; no epsilon "
    "guarantee holds for this mechanism as implemented. What IS "
    "exercised (and hash-verified cross-engine) is the mechanism "
    "plumbing a real release would use: uniform u over "
    "POLY_MOD^2 ~ 1e18 pushed through the inverse CDF as a "
    f"{2 * DP_NOISE_CAP}-threshold integer CASE ladder precomputed in "
    "exact Fractions (alpha = 1/2 makes every CDF value dyadic; zero "
    "floats end to end). Noise truncated to +-" f"{DP_NOISE_CAP} "
    "(tail < 2^-57). A real release requires (1) a SECRET "
    "per-release seed folded into the hash in place of the literal "
    "salts and (2) shipping (source, dp_count, epsilon) only — the "
    "n_docs/dp_noise columns are retained HERE purely for the "
    "correctness gate. Scale shape: one scan, one tiny group-by on "
    "source, then per-row codegen'd CASE arithmetic — no joins, no "
    "driver round-trip; at 100 TB the ladder cost is per GROUP, not "
    "per row.",
    tags=("analytics", "privacy"),
)
def q250_dp_noisy_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    grp = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("source").isNotNull())
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )
    keyed = grp.selectExpr("source", "n_docs", f"{_DP_U_SPARK} AS u")
    noise = _dp_noise_case("u")
    return keyed.selectExpr(
        "source",
        "n_docs",
        f"CAST({noise} AS BIGINT) AS dp_noise",
        f"CAST(n_docs + {noise} AS BIGINT) AS dp_count",
        f"CAST({DP_EPS_MICRO} AS BIGINT) AS epsilon_micro",
    )
