"""Event-stream queries (batch form, oracle-checked).

These are the batch equivalents of the Structured Streaming operators in
``streaming/`` — same windowing semantics, same results — which is exactly
how Spark treats them: one logical operator, two execution modes. The
streaming module is tested against these batch results.

Hash-parity notes: double SUMs over groups go through micro-unit integers
(floor(value*1e6)) — floor is deterministic in both engines regardless of
sign, unlike banker's-vs-half-up rounding.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..schemas import rows_frame
from ..sources import load_table
from .registry import register

SESSION_GAP_MIN = 30


@register(
    "q33_event_hourly_agg",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(value * 1000000) AS BIGINT)) AS BIGINT)
               AS value_micros
    FROM events
    GROUP BY date_trunc('hour', ts), event_type
    """,
    doc="Tumbling 1-hour window aggregate over the event stream (batch "
    "form; the streaming twin in streaming/events.py uses F.window + "
    "watermark and is tested equal). Partial aggregation happens map-side; "
    "the shuffle key is (hour, type) — bounded cardinality at any scale.",
    tags=("events", "window"),
)
def q33_event_hourly_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_trunc("hour", "ts").alias("window_start"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(F.col("value") * 1000000).cast("long")).cast("long").alias("value_micros"),
        )
    )


@register(
    "q34_sessionize",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, ts, event_id,
             CASE WHEN epoch_ms(ts) - epoch_ms(lag(ts) OVER w)
                       > {SESSION_GAP_MIN} * 60 * 1000
                  OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, ts, event_id,
             SUM(new_session) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING
             ) AS session_id
      FROM seq
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           MIN(ts) AS session_start, MAX(ts) AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM sess
    GROUP BY user_id, session_id
    """,
    doc="Gap-based sessionization (30-min inactivity): lag(ts) flags "
    "session starts, a running sum numbers sessions, then one aggregate "
    "per (user, session). Two windows + one agg over the same (user_id) "
    "partitioning — Spark reuses a single shuffle for all three.",
    tags=("events", "window"),
)
def q34_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_ms = SESSION_GAP_MIN * 60 * 1000
    from ..functions import epoch_us

    ts_ms = (epoch_us("ts") / 1000).cast("long")
    prev_ms = F.lag(ts_ms).over(w)
    new_session = F.when(
        prev_ms.isNull() | ((ts_ms - prev_ms) > gap_ms), 1
    ).otherwise(0)
    sess = ev.withColumn(
        "session_id",
        F.sum(new_session).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return sess.groupBy("user_id", F.col("session_id").cast("long").alias("session_id")).agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
    )


@register(
    "q35_session_window",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, ts, event_id,
             -- microsecond-exact gap (epoch_us), matching session_window's
             -- native precision: an ms-truncated comparison would split
             -- sessions the engine merges when the true gap is within 1 ms
             -- below the boundary (the data HAS sub-ms timestamps).
             -- >= because Spark windows are [ts, ts+gap): a gap of exactly
             -- 30:00 starts a new session.
             CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w)
                       >= {SESSION_GAP_MIN} * 60 * 1000000
                  OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING
             ) AS session_id
      FROM seq
    )
    SELECT user_id, MIN(ts) AS session_start,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM sess GROUP BY user_id, session_id
    """,
    doc="Spark's native session_window operator (the streaming-capable "
    "form of q34): gap-merged windows per user. The oracle reconstructs "
    "identical sessions via lag+cumsum — session contents must match; "
    "output omits window end because session_window pads it by the gap.",
    tags=("events", "window"),
)
def q35_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.session_window("ts", f"{SESSION_GAP_MIN} minutes"), "user_id"
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            "n_events",
        )
    )


@register(
    "q36_event_json_props",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT)
               AS k_total,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events
    GROUP BY event_type
    """,
    doc="Semi-structured projection: JSON property extraction from the "
    "props column + rollup. get_json_object stays in codegen; at scale "
    "prefer from_json with an explicit schema once the shape is fixed.",
    tags=("events", "scalar"),
)
def q36_event_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.sum(F.get_json_object("props", "$.k").cast("int")).cast("long").alias("k_total"),
        F.count(F.lit(1)).alias("n"),
    )


ATTRIB_WINDOW_MIN = 30
_W_US = ATTRIB_WINDOW_MIN * 60 * 1_000_000


def binned_attribution_counts(
    ev: DataFrame, probe_type: str = "purchase", window_us: int = _W_US
) -> DataFrame:
    """Bin-and-refine trailing-window count: for each ``probe_type`` event,
    the number of same-user events with ts in (probe_ts - window, probe_ts)
    — strict on both ends. An interval of width W spans at most two W-bins,
    so each probe expands to 2 candidate bins and matching is a
    (user_id, bin) equi-join + exact refine."""
    from ..functions import epoch_us

    withb = ev.withColumn("us", epoch_us("ts")).withColumn(
        "bucket", F.expr(
            f"timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts) "
            f"div {window_us}"
        )
    )
    p = withb.filter(F.col("event_type") == probe_type).select(
        F.col("event_id").alias("p_event_id"),
        F.col("user_id"),
        F.col("us").alias("p_us"),
        "bucket",
    )
    probe = p.select(
        "p_event_id",
        "user_id",
        "p_us",
        F.explode(F.array(F.col("bucket") - 1, F.col("bucket"))).alias("cb"),
    )
    x = withb.select(
        F.col("user_id"),
        F.col("us").alias("x_us"),
        F.col("bucket").alias("cb"),
    )
    matched = (
        probe.join(x, ["user_id", "cb"])
        .filter(
            (F.col("x_us") < F.col("p_us"))
            & (F.col("x_us") > F.col("p_us") - window_us)
        )
        .groupBy("p_event_id")
        .agg(F.count(F.lit(1)).alias("n_prior"))
    )
    return (
        p.join(matched, "p_event_id", "left")
        .select(
            F.col("p_event_id").alias("event_id"),
            "user_id",
            F.coalesce(F.col("n_prior"), F.lit(0)).cast("long").alias("n_prior"),
        )
    )


@register(
    "q55_user_gap_stats",
    oracle="""
    WITH g AS (
      SELECT user_id,
             epoch_us(ts) - lag(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS gap_us
      FROM events
    )
    SELECT user_id,
           CAST(COUNT(gap_us) AS BIGINT) AS n_gaps,
           CAST(MIN(gap_us) AS BIGINT) AS min_gap_us,
           CAST(MAX(gap_us) AS BIGINT) AS max_gap_us,
           median(gap_us) AS median_gap_us
    FROM g WHERE gap_us IS NOT NULL
    GROUP BY user_id
    """,
    doc="Per-user inter-event gap stats — the CANONICAL all-JVM plan: "
    "lag window over (user_id sort ts, event_id) for microsecond-exact "
    "gaps, then one keyed aggregate with Spark's exact median. One "
    "shuffle on user_id, whole-stage codegen end to end, zero Python — "
    "the plan to copy for per-entity features that SQL CAN express. "
    "The same semantics through the pandas APIs exist as deliberate "
    "twins: q83 (batched mapInPandas, the scalable shape when per-group "
    "Python is genuinely needed) and q154 (per-group applyInPandas, the "
    "slow-twin demo of why one Python call per small group does not "
    "scale). Median of an even count is "
    "the midpoint mean in Spark, numpy and DuckDB, and gaps are exact "
    "integer micros, so parity is exact.",
    tags=("events", "window"),
)
def q55_user_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import epoch_us

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.select(
        "user_id",
        (epoch_us("ts") - F.lag(epoch_us("ts")).over(w)).alias("gap_us"),
    ).filter(F.col("gap_us").isNotNull())
    return gaps.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_gaps"),
        F.min("gap_us").cast("long").alias("min_gap_us"),
        F.max("gap_us").cast("long").alias("max_gap_us"),
        F.median("gap_us").alias("median_gap_us"),
    )


@register(
    "q53_range_join_attribution",
    oracle=f"""
    WITH p AS (SELECT * FROM events WHERE event_type = 'purchase')
    SELECT p.event_id, p.user_id,
           CAST(COUNT(x.event_id) AS BIGINT) AS n_prior
    FROM p LEFT JOIN events x
      ON x.user_id = p.user_id
     AND x.ts < p.ts
     AND x.ts > p.ts - INTERVAL {ATTRIB_WINDOW_MIN} MINUTE
    GROUP BY p.event_id, p.user_id
    """,
    doc=f"Range (interval) join via bin-and-refine: per purchase, count "
    f"same-user events in the trailing {ATTRIB_WINDOW_MIN}-minute "
    f"attribution window. A naive ts-inequality join has no equi-key and "
    f"degenerates to per-user cross products; instead timestamps are "
    f"binned to the window width, each probe expands to its 2 candidate "
    f"bins (an interval of width W spans at most 2 W-bins), candidates "
    f"come from a (user_id, bin) EQUI-join, and the exact inequality "
    f"refines them — bounded fan-out, shuffle on hash keys, the standard "
    f"scale form of every time-range join. Oracle runs the naive "
    f"non-equi form; hash parity proves the binned plan is exact.",
    tags=("events", "join", "range"),
)
def q53_range_join_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type"
    )
    return binned_attribution_counts(ev)


@register(
    "q83_user_gap_stats_batched",
    oracle="""
    WITH g AS (
      SELECT user_id,
             epoch_us(ts) - lag(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS gap_us
      FROM events
    )
    SELECT user_id,
           CAST(COUNT(gap_us) AS BIGINT) AS n_gaps,
           CAST(MIN(gap_us) AS BIGINT) AS min_gap_us,
           CAST(MAX(gap_us) AS BIGINT) AS max_gap_us,
           median(gap_us) AS median_gap_us
    FROM g WHERE gap_us IS NOT NULL
    GROUP BY user_id
    """,
    doc="q55's semantics through the BATCHED grouped-map shape: "
    "repartition on user_id + sortWithinPartitions, then ONE mapInPandas "
    "call per Arrow batch with a carry of the trailing (possibly "
    "incomplete) user across batch boundaries — versus applyInPandas's "
    "one Python call per group (q154). With many small groups the "
    "per-call overhead dominates applyInPandas; the batched form pays "
    "it once per Arrow batch. The within-partition SORT is load-bearing "
    "for scale correctness: hash partitioning guarantees a user's rows "
    "share a partition but NOT an Arrow batch (default 10k rows/batch — "
    "any partition bigger than that splits, and an unsorted stream can "
    "interleave a user across non-adjacent batches, silently splitting "
    "their stats; invisible at sf<=0.1 where partitions fit one batch, "
    "guaranteed at sf1+). Sorted + carried, memory is one batch plus "
    "one user's history, never the whole partition. Same results "
    "bit-for-bit (identical oracle as q55) — the documented trade: "
    "batched mapInPandas for small-group fan-out, applyInPandas only "
    "when per-group state must be a whole DataFrame.",
    tags=("events", "pandas-udf", "perf-twin"),
)
def q83_user_gap_stats_batched(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id")

    def stats_of(pdf):
        import numpy as np

        # rows arrive sorted by (user_id, ts, event_id); users contiguous
        us = pdf["ts"].astype("int64").to_numpy() // 1000  # ns -> us
        uid = pdf["user_id"].to_numpy()
        rows = []
        start = 0
        n = len(pdf)
        for i in range(1, n + 1):
            if i == n or uid[i] != uid[start]:
                gaps = np.diff(us[start:i])
                if len(gaps):
                    rows.append(
                        {
                            "user_id": int(uid[start]),
                            "n_gaps": len(gaps),
                            "min_gap_us": int(gaps.min()),
                            "max_gap_us": int(gaps.max()),
                            "median_gap_us": float(np.median(gaps)),
                        }
                    )
                start = i
        return rows

    cols = ["user_id", "n_gaps", "min_gap_us", "max_gap_us", "median_gap_us"]

    def per_batch(batches):
        import pandas as pd

        carry = None
        for pdf in batches:
            if pdf.empty:
                continue
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
            # hold back the last user: their rows may continue in the
            # next batch of this (sorted) partition stream
            last_uid = pdf["user_id"].iloc[-1]
            mask = pdf["user_id"].to_numpy() == last_uid
            carry = pdf[mask]
            emit = pdf[~mask]
            if not emit.empty:
                yield pd.DataFrame(stats_of(emit), columns=cols)
        if carry is not None and not carry.empty:
            yield pd.DataFrame(stats_of(carry), columns=cols)

    return (
        ev.repartition("user_id")
        .sortWithinPartitions("user_id", "ts", "event_id")
        .mapInPandas(
            per_batch,
            "user_id long, n_gaps long, min_gap_us long, max_gap_us long, "
            "median_gap_us double",
        )
    )


@register(
    "q154_user_gap_stats_grouped",
    oracle="""
    WITH g AS (
      SELECT user_id,
             epoch_us(ts) - lag(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS gap_us
      FROM events
    )
    SELECT user_id,
           CAST(COUNT(gap_us) AS BIGINT) AS n_gaps,
           CAST(MIN(gap_us) AS BIGINT) AS min_gap_us,
           CAST(MAX(gap_us) AS BIGINT) AS max_gap_us,
           median(gap_us) AS median_gap_us
    FROM g WHERE gap_us IS NOT NULL
    GROUP BY user_id
    """,
    doc="q55's semantics through per-group applyInPandas — kept as the "
    "SLOW TWIN (tag 'slow-twin'): one Python roundtrip per user means "
    "per-call overhead dominates when groups are small and numerous (10x slower "
    "than q83's batched form at sf0.1, and the gap widens with user "
    "count). It exists to pin the hash-identity of the three shapes "
    "(q55 all-JVM, q83 batched, q154 grouped) and to document WHEN the "
    "grouped-map API is right: per-group state that must be a whole "
    "DataFrame (model fits, per-entity embeddings), groups large enough "
    "that per-call overhead amortizes. Copy q55 or q83, not this.",
    tags=("events", "pandas-udf", "slow-twin"),
)
def q154_user_gap_stats_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id")

    def per_user(pdf):
        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values(["ts", "event_id"])
        us = pdf["ts"].astype("int64").to_numpy() // 1000  # ns -> us
        gaps = np.diff(us)
        if len(gaps) == 0:
            return pd.DataFrame(
                columns=[
                    "user_id", "n_gaps", "min_gap_us", "max_gap_us",
                    "median_gap_us",
                ]
            )
        return pd.DataFrame(
            {
                "user_id": [int(pdf["user_id"].iloc[0])],
                "n_gaps": [len(gaps)],
                "min_gap_us": [int(gaps.min())],
                "max_gap_us": [int(gaps.max())],
                "median_gap_us": [float(np.median(gaps))],
            }
        )

    return ev.groupBy("user_id").applyInPandas(
        per_user,
        "user_id long, n_gaps long, min_gap_us long, max_gap_us long, "
        "median_gap_us double",
    )


FUNNEL_WINDOW_DAYS = 7
RETENTION_MAX_OFFSET = 14
WINSOR_LO_PCT = 5  # p05 / p95 winsorization bounds


@register(
    "q95_event_funnel",
    oracle=f"""
    WITH s AS (
      SELECT user_id, MIN(ts) AS signup_ts
      FROM events WHERE event_type = 'signup' GROUP BY user_id
    ),
    conv AS (
      SELECT s.user_id,
             MAX(CASE WHEN p.ts IS NOT NULL THEN 1 ELSE 0 END) AS converted
      FROM s LEFT JOIN events p
        ON p.user_id = s.user_id
       AND p.event_type = 'purchase'
       AND p.ts >= s.signup_ts
       AND p.ts <= s.signup_ts + INTERVAL {FUNNEL_WINDOW_DAYS} DAY
      GROUP BY s.user_id
    )
    SELECT
      (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM events) AS n_users,
      CAST(COUNT(*) AS BIGINT) AS n_signup_users,
      CAST(SUM(converted) AS BIGINT) AS n_converted_7d
    FROM conv
    """,
    doc="Conversion funnel: of all users, how many signed up, and how "
    "many of those purchased within 7 days of their FIRST signup. Scale "
    "shape: one groupBy(user_id) for first-signup timestamps, one "
    "co-partitioned left join against the purchase slice (same user_id "
    "shuffle key — no second repartition under AQE), one bounded "
    "aggregate; the all-users distinct count is an independent "
    "partial-agg branch crossJoined as a 1-row literal. No window "
    "functions, no per-user state on the driver.",
    tags=("events", "funnel"),
)
def q95_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    joined = s.join(
        p,
        (F.col("p_user") == F.col("user_id"))
        & (F.col("p_ts") >= F.col("signup_ts"))
        & (
            F.col("p_ts")
            <= F.col("signup_ts") + F.expr(f"INTERVAL {FUNNEL_WINDOW_DAYS} DAYS")
        ),
        "left",
    )
    conv = joined.groupBy("user_id").agg(
        F.max(F.when(F.col("p_ts").isNotNull(), 1).otherwise(0)).alias("converted")
    )
    funnel = conv.agg(
        F.count(F.lit(1)).cast("long").alias("n_signup_users"),
        F.sum("converted").cast("long").alias("n_converted_7d"),
    )
    totals = ev.agg(F.countDistinct("user_id").cast("long").alias("n_users"))
    return totals.crossJoin(funnel).select(
        "n_users", "n_signup_users", "n_converted_7d"
    )


@register(
    "q96_retention_cohorts",
    oracle=f"""
    WITH first_day AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_date
      FROM events GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS active_date FROM events
    )
    SELECT CAST(f.cohort_date AS VARCHAR) AS cohort_date_iso,
           CAST(date_diff('day', f.cohort_date, a.active_date) AS INTEGER)
               AS offset_days,
           CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_active
    FROM activity a JOIN first_day f ON a.user_id = f.user_id
    WHERE date_diff('day', f.cohort_date, a.active_date)
          <= {RETENTION_MAX_OFFSET}
    GROUP BY cohort_date_iso, offset_days
    """,
    doc="Retention cohorts: users grouped by first-seen date; for each "
    "cohort, distinct active users at day offsets 0..14. The standard "
    "product-analytics rollup (D1/D7 retention reads directly off the "
    "result). Scale shape: both the first-seen aggregate and the "
    "distinct-activity projection shuffle on user_id (one exchange, "
    "reused for the join under AQE); the final aggregate's key space is "
    "bounded by dates x 15 offsets. The offset cap keeps the output "
    "cohort-triangle-sized regardless of history length.",
    tags=("events", "retention"),
)
def q96_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    first_day = ev.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("cohort_date")
    )
    activity = ev.select(
        "user_id", F.col("ts").cast("date").alias("active_date")
    ).distinct()
    offset = F.datediff(F.col("active_date"), F.col("cohort_date"))
    return (
        activity.join(first_day, "user_id")
        .filter(offset <= RETENTION_MAX_OFFSET)
        .groupBy(
            # ISO string per the registry's date-rendering convention
            F.col("cohort_date").cast("string").alias("cohort_date_iso"),
            offset.cast("int").alias("offset_days"),
        )
        .agg(F.countDistinct("user_id").cast("long").alias("n_active"))
    )


@register(
    "q97_value_winsorize",
    oracle=f"""
    WITH ranked AS (
      SELECT event_type, value,
             ROW_NUMBER() OVER (
               PARTITION BY event_type ORDER BY value, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM events
    ),
    bounds AS (
      SELECT event_type,
             CAST(MAX(n) AS BIGINT) AS n,
             MAX(CASE WHEN rn = (n + 19) // 20 THEN value END) AS p05,
             MAX(CASE WHEN rn = (19 * n + 19) // 20 THEN value END) AS p95
      FROM ranked GROUP BY event_type
    )
    SELECT e.event_type, b.n, b.p05, b.p95,
           CAST(SUM(CAST(FLOOR(
             CASE WHEN e.value < b.p05 THEN b.p05
                  WHEN e.value > b.p95 THEN b.p95
                  ELSE e.value END * 1000000) AS BIGINT)) AS BIGINT)
               AS clipped_sum_micros
    FROM events e JOIN bounds b ON e.event_type = b.event_type
    GROUP BY e.event_type, b.n, b.p05, b.p95
    """,
    doc="Winsorization (outlier clipping) of event values at exact "
    "p05/p95 per event type: percentile = value at integer rank "
    "ceil(p*n) computed with pure integer arithmetic ((n+19) DIV 20 — "
    "no 0.05*n float), so both engines select the identical row even "
    "with duplicate values (the value at a rank is tie-order-invariant "
    "when ordered by value). Clipped sums go through floor-micro "
    "integers per the module convention. This is the exact, "
    "sort-per-group form (partition key = event_type, bounded "
    "cardinality); the mergeable-sketch alternative for unbounded "
    "groups is q82's percentile_approx pattern. Bounds join back via "
    "broadcast (group-count rows).",
    tags=("events", "profiling"),
)
def q97_value_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    wn = Window.partitionBy("event_type")
    ranked = ev.select(
        "event_type",
        "value",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    lo = F.expr("(n + 19) DIV 20")
    hi = F.expr("(19 * n + 19) DIV 20")
    bounds = ranked.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n"),
        F.max(F.when(F.col("rn") == lo, F.col("value"))).alias("p05"),
        F.max(F.when(F.col("rn") == hi, F.col("value"))).alias("p95"),
    )
    clipped = ev.join(F.broadcast(bounds), "event_type").select(
        "event_type",
        "n",
        "p05",
        "p95",
        F.when(F.col("value") < F.col("p05"), F.col("p05"))
        .when(F.col("value") > F.col("p95"), F.col("p95"))
        .otherwise(F.col("value"))
        .alias("clipped"),
    )
    return clipped.groupBy("event_type", "n", "p05", "p95").agg(
        F.sum(F.floor(F.col("clipped") * 1000000).cast("long"))
        .cast("long")
        .alias("clipped_sum_micros")
    )


DEBOUNCE_SECONDS = 600


@register(
    "q100_event_debounce",
    oracle=f"""
    WITH seq AS (
      SELECT event_id, user_id, event_type, ts,
             epoch_us(ts) - epoch_us(lag(ts) OVER (
               PARTITION BY user_id ORDER BY ts, event_id)) AS gap_us
      FROM events
    )
    SELECT event_id, user_id, event_type, ts
    FROM seq
    WHERE gap_us IS NULL OR gap_us > {DEBOUNCE_SECONDS} * 1000000
    """,
    doc="Event debouncing (burst collapse): drop any event arriving "
    "within 10 minutes of the user's previous event — the standard "
    "telemetry noise-reduction step before sessionization or funnel "
    "analysis. This is the lag-form (gap to the previous RAW event): one "
    "window over the same (user_id, ts) shuffle q34 already uses, fully "
    "parallel. The alternative kept-relative semantics (gap to the "
    "previous SURVIVOR) is inherently sequential per key — that form "
    "belongs to the stateful streaming operator "
    "(applyInPandasWithState, streaming/stateful.py), not a batch "
    "window.",
    tags=("events", "dedup"),
)
def q100_event_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import epoch_us

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = epoch_us("ts") - F.lag(epoch_us("ts")).over(w)
    return (
        ev.withColumn("gap_us", gap_us)
        .filter(
            F.col("gap_us").isNull()
            | (F.col("gap_us") > DEBOUNCE_SECONDS * 1_000_000)
        )
        .select("event_id", "user_id", "event_type", "ts")
    )


@register(
    "q104_event_gap_fill",
    oracle="""
    WITH counts AS (
      SELECT user_id, date_trunc('hour', ts) AS hour_start,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY user_id, date_trunc('hour', ts)
    ),
    spans AS (
      SELECT user_id, MIN(hour_start) AS lo, MAX(hour_start) AS hi
      FROM counts GROUP BY user_id
    ),
    grid AS (
      SELECT user_id, CAST(h AS TIMESTAMP) AS hour_start
      FROM spans, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS t(h)
    )
    SELECT g.user_id, g.hour_start, COALESCE(c.n, 0) AS n
    FROM grid g LEFT JOIN counts c
      ON c.user_id = g.user_id AND c.hour_start = g.hour_start
    """,
    doc="Time-series gap filling: per-user hourly event counts with "
    "missing hours zero-filled across each user's own [first, last] "
    "hour span — the densification step before any rolling-window or "
    "forecasting consumer (sparse counts silently skew moving "
    "averages). Scale shape: one (user, hour) aggregate; the dense "
    "hour grid is generated by explode(sequence(lo, hi, interval)) "
    "from the per-user span — a map-side fan-out proportional to the "
    "OUTPUT, never a calendar cross join; the left join back is "
    "co-partitioned on user_id. All timestamps stay NTZ so hour "
    "boundaries are session-TZ-independent.",
    tags=("events", "window"),
)
def q104_event_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("hour_start")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    spans = counts.groupBy("user_id").agg(
        F.min("hour_start").alias("lo"), F.max("hour_start").alias("hi")
    )
    grid = spans.select(
        "user_id",
        F.explode(F.expr("sequence(lo, hi, interval 1 hour)")).alias(
            "hour_start"
        ),
    )
    return grid.join(counts, ["user_id", "hour_start"], "left").select(
        "user_id",
        "hour_start",
        F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n"),
    )


ANOMALY_Z = 3  # flag hours beyond 3 population std-devs


@register(
    "q109_event_anomaly",
    oracle=f"""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS hour,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY event_type, date_trunc('hour', ts)
    ),
    stats AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_hours,
             CAST(SUM(cnt) AS BIGINT) AS s1,
             CAST(SUM(cnt * cnt) AS BIGINT) AS s2
      FROM hourly GROUP BY event_type
    )
    SELECT h.event_type, CAST(h.hour AS VARCHAR) AS hour_iso, h.cnt,
           s.n_hours,
           (s.n_hours * h.cnt - s.s1) * (s.n_hours * h.cnt - s.s1)
             > {ANOMALY_Z * ANOMALY_Z} * (s.n_hours * s.s2 - s.s1 * s.s1)
             AS is_anomaly
    FROM hourly h JOIN stats s USING (event_type)
    """,
    doc=f"Time-series anomaly flagging: hourly event counts per type, "
    f"flagged when the count sits more than {ANOMALY_Z} population "
    "standard deviations from that type's mean — the monitoring rule "
    "every ingest pipeline runs over its own throughput. The z-test is "
    "evaluated in EXACT integer arithmetic: z^2 > 9 rewritten as "
    "(n*cnt - s1)^2 > 9*(n*s2 - s1^2), so there is no sqrt, no division, "
    "no float rounding at the decision boundary, and both engines agree "
    "on every borderline hour (int64 holds up to ~3e9 events/type with "
    "hourly counts to ~40k; past that, promote to DECIMAL — same plan). "
    "Scale shape: one (type, hour) aggregate, one type-sized stats "
    "aggregate broadcast back; the hour grid is observed hours (q104 is "
    "the densified twin if silent-zero hours must alarm too).",
    tags=("events", "anomaly", "window"),
)
def q109_event_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    stats = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_hours"),
        F.sum("cnt").cast("long").alias("s1"),
        F.sum(F.col("cnt") * F.col("cnt")).cast("long").alias("s2"),
    )
    dev = F.col("n_hours") * F.col("cnt") - F.col("s1")
    var_n2 = F.col("n_hours") * F.col("s2") - F.col("s1") * F.col("s1")
    return hourly.join(F.broadcast(stats), "event_type").select(
        "event_type",
        F.col("hour").cast("string").alias("hour_iso"),
        "cnt",
        "n_hours",
        (dev * dev > F.lit(ANOMALY_Z * ANOMALY_Z) * var_n2).alias("is_anomaly"),
    )


PATH_TOP_K = 25
PATH_MAX_LEN = 12  # truncate very long sessions: path space must stay bounded


@register(
    "q113_session_paths",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN epoch_ms(ts) - epoch_ms(lag(ts) OVER w)
                       > {SESSION_GAP_MIN} * 60 * 1000
                  OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, ts, event_id, event_type,
             SUM(new_session) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING
             ) AS session_id
      FROM seq
    ),
    numbered AS (
      SELECT user_id, session_id, event_type,
             row_number() OVER (
               PARTITION BY user_id, session_id ORDER BY ts, event_id
             ) AS pos
      FROM sess
    ),
    paths AS (
      SELECT user_id, session_id,
             string_agg(event_type, '>' ORDER BY pos) AS path
      FROM numbered WHERE pos <= {PATH_MAX_LEN}
      GROUP BY user_id, session_id
    ),
    counts AS (
      SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions
      FROM paths GROUP BY path
    )
    SELECT path, n_sessions, CAST(rnk AS INTEGER) AS rnk FROM (
      SELECT *, row_number() OVER (ORDER BY n_sessions DESC, path) AS rnk
      FROM counts
    ) WHERE rnk <= {PATH_TOP_K}
    """,
    doc="Session path mining: sessionize (q34's gap rule), render each "
    "session as its ordered event-type path (first "
    f"{PATH_MAX_LEN} events — truncation keeps the path key space "
    "bounded no matter how long a bot session runs), count identical "
    f"paths corpus-wide, top-{PATH_TOP_K}. The product-analytics "
    "workhorse ('what do users actually do?') and, for agent/chat logs, "
    "the trajectory-frequency profile a behavior-cloning dataset is "
    "curated against. Plan: the sessionize windows, the position "
    "window, and the path aggregate all share the (user_id) shuffle; "
    "path counting is a two-stage hash agg on a bounded key space; "
    "top-k is TakeOrdered, never a full sort. Ordered string_agg / "
    "sorted array_join render identically in both engines.",
    tags=("events", "window", "funnel"),
)
def q113_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import epoch_us

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_ms = SESSION_GAP_MIN * 60 * 1000
    ts_ms = (epoch_us("ts") / 1000).cast("long")
    prev_ms = F.lag(ts_ms).over(w)
    new_session = F.when(
        prev_ms.isNull() | ((ts_ms - prev_ms) > gap_ms), 1
    ).otherwise(0)
    sess = ev.withColumn(
        "session_id",
        F.sum(new_session).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    pos_w = Window.partitionBy("user_id", "session_id").orderBy("ts", "event_id")
    numbered = sess.withColumn("pos", F.row_number().over(pos_w)).filter(
        F.col("pos") <= PATH_MAX_LEN
    )
    paths = numbered.groupBy("user_id", "session_id").agg(
        F.array_join(
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct(F.col("pos"), F.col("event_type")))
                ),
                lambda s: s.event_type,
            ),
            ">",
        ).alias("path")
    )
    counts = paths.groupBy("path").agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions")
    )
    top = counts.orderBy(F.desc("n_sessions"), F.asc("path")).limit(PATH_TOP_K)
    rank_w = Window.orderBy(F.desc("n_sessions"), F.asc("path"))
    return top.withColumn("rnk", F.row_number().over(rank_w).cast("int"))


LABEL_WINDOW_MIN = 30


@register(
    "q115_conversion_labels",
    oracle=f"""
    WITH seq AS (
      SELECT event_id, user_id, ts, event_type,
             MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
               AS next_purchase_us
      FROM events
    )
    SELECT event_id, user_id,
           next_purchase_us IS NOT NULL
             AND next_purchase_us - epoch_us(ts)
                 <= {LABEL_WINDOW_MIN} * 60 * 1000000 AS label,
           CASE WHEN next_purchase_us - epoch_us(ts)
                     <= {LABEL_WINDOW_MIN} * 60 * 1000000
                THEN next_purchase_us - epoch_us(ts) END AS ttc_us
    FROM seq WHERE event_type = 'click'
    """,
    doc=f"Supervised label generation: every click labeled by whether the "
    f"same user purchased within {LABEL_WINDOW_MIN} minutes AFTER it, "
    "plus the exact time-to-conversion in integer microseconds — the "
    "standard positive/negative builder for conversion models, and the "
    "forward-looking sibling of q40's backward as-of join. The 'next "
    "purchase' is a CONDITIONAL window min over a forward frame "
    "(1 FOLLOWING..UNBOUNDED) on the same (user_id, ts, event_id) sort "
    "every other event query uses — one shuffle, no self-join, no range "
    "explosion; per-row state during the scan is a single running min. "
    "Timestamps stay NTZ epoch-µs integers end-to-end, so label "
    "boundaries are exact and TZ-independent.",
    tags=("events", "window", "training"),
)
def q115_conversion_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import epoch_us

    ev = load_table(spark, sf_dir, "events")
    fwd = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    next_us = F.min(
        F.when(F.col("event_type") == "purchase", epoch_us("ts"))
    ).over(fwd)
    window_us = LABEL_WINDOW_MIN * 60 * 1_000_000
    seq = ev.withColumn("next_purchase_us", next_us)
    ttc = F.col("next_purchase_us") - epoch_us("ts")
    return seq.filter(F.col("event_type") == "click").select(
        "event_id",
        "user_id",
        (F.col("next_purchase_us").isNotNull() & (ttc <= window_us)).alias(
            "label"
        ),
        F.when(ttc <= window_us, ttc).alias("ttc_us"),
    )


LATE_THRESHOLD_MIN = 10


@register(
    "q125_lateness_profile",
    oracle=f"""
    WITH seq AS (
      SELECT event_type,
             MAX(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY event_id
               ROWS UNBOUNDED PRECEDING
             ) - epoch_us(ts) AS lateness_us
      FROM events
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(CASE WHEN lateness_us > 0 THEN 1 END) AS BIGINT)
               AS n_disordered,
           CAST(COUNT(CASE WHEN lateness_us
                                > {LATE_THRESHOLD_MIN} * 60 * 1000000
                           THEN 1 END) AS BIGINT) AS n_late,
           CAST(MAX(lateness_us) AS BIGINT) AS max_lateness_us
    FROM seq GROUP BY event_type
    """,
    doc="Event-time lateness profile: treating event_id as arrival order, "
    "each event's lateness = how far its timestamp sits behind the "
    "running event-time high-water mark of its user's stream; per type, "
    "the disordered count, the count beyond "
    f"{LATE_THRESHOLD_MIN} minutes, and the worst case. This is the "
    "measurement that SETS a streaming watermark: the q71/streaming "
    "ladder's withWatermark delay should cover ~max observed lateness, "
    "and this query is the evidence (run it before picking the delay, "
    "re-run it to detect drift). Scale shape: one running-max window on "
    "the (user_id, event_id) partitioning the event family already "
    "uses, one bounded aggregate; lateness stays in exact integer "
    "microseconds.",
    tags=("events", "streaming", "profiling"),
)
def q125_lateness_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import epoch_us

    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    lateness = F.max(epoch_us("ts")).over(w) - epoch_us("ts")
    seq = ev.select("event_type", lateness.alias("lateness_us"))
    late_us = LATE_THRESHOLD_MIN * 60 * 1_000_000
    return seq.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.count(F.when(F.col("lateness_us") > 0, 1))
        .cast("long")
        .alias("n_disordered"),
        F.count(F.when(F.col("lateness_us") > late_us, 1))
        .cast("long")
        .alias("n_late"),
        F.max("lateness_us").cast("long").alias("max_lateness_us"),
    )


CHURN_CUTOFF = "2024-01-16 00:00:00"
CHURN_WINDOW_DAYS = 7


@register(
    "q128_churn_labels",
    oracle=f"""
    WITH active AS (
      SELECT DISTINCT user_id FROM events
      WHERE ts >= TIMESTAMP '{CHURN_CUTOFF}' - INTERVAL {CHURN_WINDOW_DAYS} DAY
        AND ts < TIMESTAMP '{CHURN_CUTOFF}'
    ),
    retained AS (
      SELECT DISTINCT user_id FROM events
      WHERE ts >= TIMESTAMP '{CHURN_CUTOFF}'
        AND ts < TIMESTAMP '{CHURN_CUTOFF}' + INTERVAL {CHURN_WINDOW_DAYS} DAY
    )
    SELECT a.user_id, r.user_id IS NULL AS churned
    FROM active a LEFT JOIN retained r ON r.user_id = a.user_id
    """,
    doc=f"Churn label generation at a fixed cutoff: users active in the "
    f"{CHURN_WINDOW_DAYS} days before {CHURN_CUTOFF} are labeled churned "
    f"when they have NO event in the {CHURN_WINDOW_DAYS} days after — "
    "the standard point-in-time label builder for retention models, and "
    "the disciplined form that avoids label leakage: both windows are "
    "anchored to one cutoff, never to per-user 'last seen' (which leaks "
    "the answer into the feature window). q115's conversion labels are "
    "the event-anchored sibling; this is the snapshot-anchored one. "
    "Scale shape: two pre-aggregated DISTINCT projections (both pushed-"
    "down date filters on the scan) met by one co-partitioned left "
    "join; label cardinality = active users, not events. Timestamps "
    "NTZ so the cutoff is TZ-independent.",
    tags=("events", "training"),
)
def q128_churn_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cutoff = F.lit(CHURN_CUTOFF).cast("timestamp_ntz")
    lo = cutoff - F.expr(f"INTERVAL {CHURN_WINDOW_DAYS} DAYS")
    hi = cutoff + F.expr(f"INTERVAL {CHURN_WINDOW_DAYS} DAYS")
    active = (
        ev.filter((F.col("ts") >= lo) & (F.col("ts") < cutoff))
        .select("user_id")
        .distinct()
    )
    retained = (
        ev.filter((F.col("ts") >= cutoff) & (F.col("ts") < hi))
        .select("user_id")
        .distinct()
        .withColumn("seen", F.lit(1))
    )
    return active.join(retained, "user_id", "left").select(
        "user_id", F.col("seen").isNull().alias("churned")
    )


WAU_WINDOW_DAYS = 7


@register(
    "q130_wau_dau",
    oracle=f"""
    WITH du AS (
      SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
    ),
    dau AS (
      SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM du GROUP BY day
    ),
    contrib AS (
      SELECT CAST(day + CAST(o AS INTEGER) AS DATE) AS target_day, user_id
      FROM du, unnest(range(0, {WAU_WINDOW_DAYS})) AS t(o)
    ),
    wau AS (
      SELECT target_day AS day,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau
      FROM contrib GROUP BY target_day
    )
    SELECT CAST(d.day AS VARCHAR) AS day_iso, d.dau, w.wau,
           CAST(d.dau * 1000000 // w.wau AS BIGINT) AS stickiness_ppm
    FROM dau d JOIN wau w ON w.day = d.day
    """,
    doc=f"Rolling {WAU_WINDOW_DAYS}-day distinct actives (WAU) next to "
    "daily actives (DAU) and the DAU/WAU stickiness ratio — the product "
    "dashboard staple, and the representative SLIDING-WINDOW-DISTINCT "
    "problem: COUNT(DISTINCT) does not merge across window panes, so "
    "the scalable exact form dedups to (day, user) grain first, then "
    f"fans each active-day out to the {WAU_WINDOW_DAYS} windows it "
    "contributes to (bounded x{WAU_WINDOW_DAYS}, map-side) and counts "
    "distinct per target day — never a per-day re-scan of raw events. "
    "The sketch alternative at extreme scale is mergeable HLL per day "
    "unioned across the window (approx_count_distinct — the q82 trade). "
    "Days only (no user windows), ratio exact integer ppm. Output "
    "includes partial leading windows (days with < "
    f"{WAU_WINDOW_DAYS} days of history), matching dashboard practice.",
    tags=("events", "window", "analytics"),
)
def q130_wau_dau(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    du = ev.select(
        F.col("ts").cast("date").alias("day"), "user_id"
    ).distinct()
    dau = du.groupBy("day").agg(F.count(F.lit(1)).cast("long").alias("dau"))
    contrib = du.select(
        F.explode(F.expr(f"sequence(0, {WAU_WINDOW_DAYS - 1})")).alias("o"),
        "day",
        "user_id",
    ).select(F.expr("date_add(day, o)").alias("day"), "user_id")
    wau = contrib.groupBy("day").agg(
        F.countDistinct("user_id").cast("long").alias("wau")
    )
    return (
        dau.join(wau, "day")
        .select(
            F.col("day").cast("string").alias("day_iso"),
            "dau",
            "wau",
            F.expr("CAST(dau * 1000000 div wau AS LONG)").alias(
                "stickiness_ppm"
            ),
        )
    )


@register(
    "q137_last_touch_attribution",
    oracle=f"""
    WITH seq AS (
      SELECT event_id, user_id, ts, event_type,
             epoch_us(ts) AS us,
             MAX(CASE WHEN event_type <> 'purchase'
                      THEN epoch_us(ts) END)
               OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
                     RANGE BETWEEN {ATTRIB_WINDOW_MIN} * 60 * 1000000
                           PRECEDING AND 1 PRECEDING)
               AS last_touch_us
      FROM events
    )
    SELECT event_id, user_id,
           CAST(last_touch_us AS BIGINT) AS last_touch_us,
           CAST(us - last_touch_us AS BIGINT) AS touch_gap_us
    FROM seq WHERE event_type = 'purchase'
    """,
    doc=f"Last-touch attribution through a time-bounded RANGE-frame "
    "window: for each purchase, the timestamp of the most recent "
    f"NON-purchase event by the same user within the trailing "
    f"{ATTRIB_WINDOW_MIN} minutes — the marketing-attribution primitive, "
    "expressed as a conditional window max over a RANGE frame on epoch "
    "microseconds (value-bounded, not row-bounded: the frame holds "
    "exactly the 30-minute neighborhood regardless of event density). "
    "This is the third form of the same trailing-window family: q53 "
    "solves it as a bin-and-refine equi-join (counts), q40 as an as-of "
    "join (nearest only, unbounded), this one as a RANGE window — one "
    "user_id shuffle, per-row state a single running extremum, ties on "
    "identical timestamps resolved identically in both engines by the "
    "window's value ordering. NULL last_touch = organic purchase.",
    tags=("events", "window", "range"),
)
def q137_last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import epoch_us

    ev = load_table(spark, sf_dir, "events").withColumn("us", epoch_us("ts"))
    window_us = ATTRIB_WINDOW_MIN * 60 * 1_000_000
    w = (
        Window.partitionBy("user_id")
        .orderBy("us")
        .rangeBetween(-window_us, -1)
    )
    last_touch = F.max(
        F.when(F.col("event_type") != "purchase", F.col("us"))
    ).over(w)
    return (
        ev.withColumn("last_touch_us", last_touch)
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            F.col("last_touch_us").cast("long").alias("last_touch_us"),
            (F.col("us") - F.col("last_touch_us"))
            .cast("long")
            .alias("touch_gap_us"),
        )
    )


# Arm assignment: Lehmer-style affine map modulo a Mersenne prime,
# thresholded at half. An affine transform taken mod 2 is a trap — with
# both salts odd it reduces to (user_id + 1) % 2, pure id parity, which
# correlates with sequential allocation and sharded id ranges. Mod a
# LARGE PRIME the map u -> (A*u + B) mod P is a bijection whose orbit
# equidistributes over [0, P); thresholding at P/2 splits arms ~50/50
# with no dependence on any low-order-bit structure of user_id. user_id
# is reduced mod P first so (P-1)*A stays inside int64 on both engines.
AB_SALT_A, AB_SALT_B = 354_817_327, 777_767_777
AB_PRIME = 2_147_483_647  # 2^31 - 1
AB_HALF = (AB_PRIME + 1) // 2


@register(
    "q142_ab_uplift",
    oracle=f"""
    WITH users AS (
      SELECT user_id,
             CASE WHEN ({AB_SALT_A} * (user_id % {AB_PRIME}) + {AB_SALT_B})
                       % {AB_PRIME} >= {AB_HALF}
                  THEN 1 ELSE 0 END AS arm,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                 AS converted
      FROM events GROUP BY user_id
    )
    SELECT CAST(arm AS INTEGER) AS arm,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(converted) AS BIGINT) AS n_converted,
           CAST((SUM(converted) * 1000000) // COUNT(*) AS BIGINT)
               AS conv_ppm
    FROM users GROUP BY arm
    """,
    doc="A/B experiment readout with deterministic hash randomization: "
    "users assigned to arms by a salted Lehmer map of user_id — affine "
    "transform modulo the Mersenne prime 2^31-1, thresholded at half "
    "(the production assignment rule — stable across sessions and "
    "re-runs, and auditable: re-running the query reproduces the exact "
    "assignment; the mod-prime bijection equidistributes, so the split "
    "does not inherit id parity or shard structure the way any mod-2 "
    "affine rule would), per-arm converter counts and conversion rate "
    "in exact integer ppm. The readout every experimentation pipeline "
    "computes; significance testing consumes these four integers "
    "directly. Scale shape: one user-grain aggregate (partial max over "
    "the purchase flag), then a 2-row arm rollup — events are scanned "
    "once, never joined.",
    tags=("events", "analytics", "sampling"),
)
def q142_ab_uplift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    h = (
        F.lit(AB_SALT_A) * (F.col("user_id") % AB_PRIME) + F.lit(AB_SALT_B)
    ) % AB_PRIME
    users = ev.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("converted")
    ).select(
        F.when(h >= AB_HALF, 1).otherwise(0).cast("int").alias("arm"),
        "converted",
    )
    return users.groupBy("arm").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("converted").cast("long").alias("n_converted"),
        F.expr("CAST((sum(converted) * 1000000) div count(1) AS LONG)").alias(
            "conv_ppm"
        ),
    )


@register(
    "q144_seasonality_profile",
    oracle="""
    WITH base AS (
      SELECT event_type,
             CAST(EXTRACT(dow FROM ts) AS INTEGER) AS dow,
             CAST(EXTRACT(hour FROM ts) AS INTEGER) AS hod
      FROM events
    ),
    cells AS (
      SELECT event_type, dow, hod, CAST(COUNT(*) AS BIGINT) AS n
      FROM base GROUP BY event_type, dow, hod
    ),
    totals AS (
      SELECT event_type, CAST(SUM(n) AS BIGINT) AS total
      FROM cells GROUP BY event_type
    )
    SELECT c.event_type, c.dow, c.hod, c.n,
           CAST((c.n * 1000000) // t.total AS BIGINT) AS share_ppm
    FROM cells c JOIN totals t ON t.event_type = c.event_type
    """,
    doc="Seasonality fingerprint: each event type's activity profile over "
    "the (day-of-week x hour-of-day) grid with shares in exact integer "
    "ppm — the temporal twin of q134's value histogram, and the "
    "reference profile drift monitoring diffs release-over-release (a "
    "traffic source changing timezone mix or a bot ramping at 3am moves "
    "cells no aggregate rate shows). Postgres DOW convention (0=Sunday, "
    "the C2 parity rule) on NTZ timestamps so the grid is "
    "TZ-independent. Scale shape: one aggregate on a <= types x 168 "
    "key space, type-sized totals broadcast back.",
    tags=("events", "profiling", "scalar"),
)
def q144_seasonality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import pg_dayofweek

    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        "event_type",
        pg_dayofweek("ts").alias("dow"),
        F.hour("ts").cast("int").alias("hod"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    totals = cells.groupBy("event_type").agg(
        F.sum("n").cast("long").alias("total")
    )
    return cells.join(F.broadcast(totals), "event_type").select(
        "event_type",
        "dow",
        "hod",
        "n",
        F.expr("CAST((n * 1000000) div total AS LONG)").alias("share_ppm"),
    )


@register(
    "q145_three_step_funnel",
    oracle="""
    WITH v AS (
      SELECT user_id, MIN(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, MIN(e.ts) AS t2
      FROM events e JOIN v ON v.user_id = e.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t1
      GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS t3
      FROM events e JOIN c ON c.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t2
      GROUP BY e.user_id
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM v) AS n_view,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM c) AS n_view_click,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM p)
               AS n_view_click_purchase
    """,
    doc="Strictly-ordered three-step funnel: users who viewed, then "
    "clicked AFTER their first view, then purchased AFTER that first "
    "qualifying click — the ordered-sequence semantics that separate a "
    "real funnel from three independent existence checks (q95 is the "
    "two-step time-windowed form; unordered counts overstate every "
    "step). Each step is one conditional min-aggregate joined to the "
    "previous step's first-completion time — k steps = k co-partitioned "
    "(user_id) aggregate+join rounds on one shuffle key, never a "
    "per-user sequence scan on the driver. First-completion (MIN) "
    "semantics make the count monotone non-increasing by construction.",
    tags=("events", "funnel"),
)
def q145_three_step_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")

    def first_after(step_type, prev, prev_t, out_t):
        joined = ev.filter(F.col("event_type") == step_type).join(
            prev, "user_id"
        )
        return (
            joined.filter(F.col("ts") > F.col(prev_t))
            .groupBy("user_id")
            .agg(F.min("ts").alias(out_t))
        )

    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = first_after("click", v, "t1", "t2")
    p = first_after("purchase", c, "t2", "t3")
    nv = v.agg(F.count(F.lit(1)).cast("long").alias("n_view"))
    nc = c.agg(F.count(F.lit(1)).cast("long").alias("n_view_click"))
    np_ = p.agg(F.count(F.lit(1)).cast("long").alias("n_view_click_purchase"))
    return nv.crossJoin(nc).crossJoin(np_)


@register(
    "q146_props_key_profile",
    oracle="""
    WITH keys AS (
      SELECT unnest(json_keys(props)) AS key FROM events
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_events FROM events)
    SELECT k.key, CAST(COUNT(*) AS BIGINT) AS n_present,
           t.n_events,
           CAST((COUNT(*) * 1000000) // t.n_events AS BIGINT)
               AS presence_ppm
    FROM keys k CROSS JOIN tot t
    GROUP BY k.key, t.n_events
    """,
    doc="Semi-structured schema discovery: which keys the JSON payload "
    "column actually carries and in what fraction of events — the "
    "profile that turns get_json_object probing (q36) into a committed "
    "from_json schema (keys near 100% presence become typed columns; "
    "long-tail keys stay in a variant/map). Run it before and after "
    "producer releases: a key's presence dropping is an upstream "
    "contract break no row count shows. Scale shape: map-side "
    "json_object_keys explode, one aggregate on the key space (bounded "
    "by payload vocabulary), 1-row total broadcast.",
    tags=("events", "scalar", "profiling"),
)
def q146_props_key_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    keys = ev.select(F.explode(F.json_object_keys("props")).alias("key"))
    tot = ev.agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    return (
        keys.crossJoin(F.broadcast(tot))
        .groupBy("key", "n_events")
        .agg(F.count(F.lit(1)).cast("long").alias("n_present"))
        .select(
            "key",
            "n_present",
            "n_events",
            F.expr("CAST((n_present * 1000000) div n_events AS LONG)").alias(
                "presence_ppm"
            ),
        )
    )


@register(
    "q148_session_concurrency",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, ts, event_id,
             CASE WHEN epoch_ms(ts) - epoch_ms(lag(ts) OVER w)
                       > {SESSION_GAP_MIN} * 60 * 1000
                  OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id,
             SUM(new_session) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING
             ) AS session_id, ts
      FROM seq
    ),
    bounds AS (
      SELECT CAST(MIN(ts) AS DATE) AS start_day,
             CAST(MAX(ts) AS DATE) AS end_day
      FROM sess GROUP BY user_id, session_id
    ),
    days AS (
      SELECT CAST(start_day AS VARCHAR) AS day_iso,
             CAST(COUNT(*) AS BIGINT) AS n_started
      FROM bounds GROUP BY start_day
    ),
    ends AS (
      SELECT CAST(end_day AS VARCHAR) AS day_iso,
             CAST(COUNT(*) AS BIGINT) AS n_ended
      FROM bounds GROUP BY end_day
    )
    SELECT COALESCE(d.day_iso, e.day_iso) AS day_iso,
           COALESCE(d.n_started, 0) AS n_started,
           COALESCE(e.n_ended, 0) AS n_ended,
           CAST(SUM(COALESCE(d.n_started, 0) - COALESCE(e.n_ended, 0))
               OVER (ORDER BY COALESCE(d.day_iso, e.day_iso)
                     ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS open_at_eod
    FROM days d FULL OUTER JOIN ends e ON e.day_iso = d.day_iso
    """,
    doc="Session load profile: per day, how many sessions started, how "
    "many ended, and how many span past end-of-day (the running "
    "start-minus-end balance) — the capacity-planning curve behind "
    "'how much session state does the streaming job hold', i.e. the "
    "measured input to sizing applyInPandasWithState memory and "
    "watermark retention. Scale shape: sessionization rides the usual "
    "(user_id) shuffle; boundaries aggregate to DAY grain before the "
    "running sum, so the only ordered window runs over a days-sized "
    "frame — never the event stream (a global ordered window over raw "
    "events would be the single-partition trap).",
    tags=("events", "window", "profiling"),
)
def q148_session_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import epoch_us

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_ms = SESSION_GAP_MIN * 60 * 1000
    ts_ms = (epoch_us("ts") / 1000).cast("long")
    prev_ms = F.lag(ts_ms).over(w)
    new_session = F.when(
        prev_ms.isNull() | ((ts_ms - prev_ms) > gap_ms), 1
    ).otherwise(0)
    sess = ev.withColumn(
        "session_id",
        F.sum(new_session).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    bounds = sess.groupBy("user_id", "session_id").agg(
        F.min(F.col("ts").cast("date")).alias("start_day"),
        F.max(F.col("ts").cast("date")).alias("end_day"),
    )
    days = bounds.groupBy(
        F.col("start_day").cast("string").alias("day_iso")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_started"))
    ends = bounds.groupBy(
        F.col("end_day").cast("string").alias("day_iso")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_ended"))
    joined = days.join(ends, "day_iso", "full_outer").select(
        "day_iso",
        F.coalesce("n_started", F.lit(0)).alias("n_started"),
        F.coalesce("n_ended", F.lit(0)).alias("n_ended"),
    )
    run = Window.orderBy("day_iso").rowsBetween(Window.unboundedPreceding, 0)
    return joined.withColumn(
        "open_at_eod",
        F.sum(F.col("n_started") - F.col("n_ended")).over(run).cast("long"),
    )


# ---------------------------------------------------------------------------
# Variable-length interval union (q170): total covered time from
# overlapping spans. Each event opens an interval whose LENGTH is its
# own value (seconds) — so spans nest and chain arbitrarily, which is
# exactly the case plain gap-sessionization (q34's fixed-gap islands)
# cannot express: an island ends only when the next start exceeds the
# RUNNING MAX of all previous ends, not the previous end. This is the
# classic interval-union/coverage operator (total active time, SLA
# coverage, sensor uptime) in its gaps-and-islands form: two windows
# over one (user_id, start) sort.
INTERVAL_MAX_S = 600  # spans are clamped — one corrupt value must not
#                       produce a year-long interval that merges everything


@register(
    "q170_interval_union",
    oracle=f"""
    WITH spans AS (
      SELECT user_id, event_id,
             epoch_us(ts) AS s,
             epoch_us(ts)
               + CAST(ROUND(LEAST(value, {INTERVAL_MAX_S}) * 100) AS BIGINT)
                 * 10000 AS e
      FROM events
    ),
    flagged AS (
      SELECT user_id, s, e,
             CASE WHEN s > MAX(e) OVER (
                    PARTITION BY user_id ORDER BY s, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  THEN 1 ELSE 0 END AS new_island
      FROM spans
    ),
    islands AS (
      SELECT user_id, s, e,
             SUM(new_island) OVER (
               PARTITION BY user_id ORDER BY s, e
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      FROM flagged
    ),
    per_island AS (
      SELECT user_id, island,
             CAST(COUNT(*) AS BIGINT) AS n_spans,
             MAX(e) - MIN(s) AS covered
      FROM islands GROUP BY user_id, island
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_islands,
           CAST(SUM(n_spans) AS BIGINT) AS n_spans,
           CAST(SUM(covered) AS BIGINT) AS covered_us
    FROM per_island GROUP BY user_id
    """,
    doc="Per-user interval union: each event opens a span of its own "
    "value-many seconds (clamped at "
    f"{INTERVAL_MAX_S}s — one corrupt duration must not merge a year), "
    "overlapping/chained spans are merged into islands, and the output "
    "is each user's island count and total covered microseconds. "
    "Because span lengths VARY, an island ends only when a start "
    "exceeds the running max of ALL previous ends (a long span can "
    "swallow many short ones) — the property fixed-gap sessionization "
    "(q34) cannot express and the reason the flag uses a running-max "
    "window, not lag. All arithmetic is integer epoch-us (value has "
    "2-decimal precision, so value*1e6 is integer-exact in a double), "
    "deterministically tie-broken by event_id. Scale shape: one "
    "shuffle on user_id; both windows and both rollups ride the same "
    "(user_id, start) sort — Spark plans a single Exchange+Sort, and "
    "the streaming twin of this operator is the stateful "
    "applyInPandasWithState debounce (streaming/stateful.py) with "
    "max-end carry as its state.",
    tags=("events", "window", "sessionize"),
)
def q170_interval_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.scalar import epoch_us

    events = load_table(spark, sf_dir, "events")
    spans = events.select(
        "user_id",
        "event_id",
        epoch_us("ts").alias("s"),
        (
            epoch_us("ts")
            + F.expr(
                f"CAST(ROUND(LEAST(value, {INTERVAL_MAX_S}) * 100) AS BIGINT)"
                " * 10000"
            )
        ).alias("e"),
    )
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = spans.select(
        "user_id",
        "s",
        "e",
        F.when(F.col("s") > F.max("e").over(w_prev), F.lit(1))
        .otherwise(F.lit(0))
        .alias("new_island"),
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    islands = flagged.withColumn("island", F.sum("new_island").over(w_run))
    per_island = islands.groupBy("user_id", "island").agg(
        F.count(F.lit(1)).cast("long").alias("n_spans"),
        (F.max("e") - F.min("s")).alias("covered"),
    )
    return per_island.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_islands"),
        F.sum("n_spans").cast("long").alias("n_spans"),
        F.sum("covered").cast("long").alias("covered_us"),
    )


# ---------------------------------------------------------------------------
# Semi-additive snapshot rollup (q171): balances/inventory/levels sum
# across entities but NOT across time — the classic data-warehouse
# semi-additive fact. The period total is the sum of each user's
# CLOSING value (last event in the period), never the sum of all
# events. Kimball's snapshot-fact pattern, expressed as one
# fine-grained window + one keyed agg.


@register(
    "q171_semi_additive_snapshot",
    oracle="""
    WITH closing AS (
      SELECT day, user_id, value FROM (
        SELECT strftime(ts, '%Y-%m-%d') AS day, user_id, value,
               ROW_NUMBER() OVER (
                 PARTITION BY user_id, strftime(ts, '%Y-%m-%d')
                 ORDER BY ts DESC, event_id DESC
               ) AS rn
        FROM events
      ) WHERE rn = 1
    )
    SELECT day,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(38,2))
                AS VARCHAR) AS total_closing,
           CAST(CAST(MAX(CAST(value AS DECIMAL(18,2))) AS DECIMAL(38,2))
                AS VARCHAR) AS max_closing
    FROM closing GROUP BY day
    """,
    doc="Semi-additive snapshot rollup (the Kimball balance-fact "
    "pattern): per DAY, the sum and max of each user's CLOSING value "
    "— the last event in the day by (ts, event_id), a deterministic "
    "total-order survivor like q02's — because level-style measures "
    "(balances, inventory, account state) add across users but never "
    "across time; summing every event would double-count every "
    "intra-period update. Closing values go through per-row "
    "DECIMAL(18,2) casts so the cross-user sum is exact and "
    "shuffle-order-independent (the q08 money convention). Scale "
    "shape: the survivor window partitions by (user_id, day) — "
    "millions of small partitions, no skew, one shuffle — and the "
    "day rollup is a days-sized second agg; composes with q104's "
    "grid fill when carried-forward balances for silent days are "
    "needed.",
    tags=("events", "window", "warehouse", "decimal"),
)
def q171_semi_additive_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import decimal_str

    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy(
        "user_id", F.date_format("ts", "yyyy-MM-dd")
    ).orderBy(F.col("ts").desc(), F.col("event_id").desc())
    closing = (
        events.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.date_format("ts", "yyyy-MM-dd").alias("day"),
            F.col("value").cast("decimal(18,2)").alias("v"),
        )
    )
    return closing.groupBy("day").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        decimal_str(F.sum("v")).alias("total_closing"),
        decimal_str(F.max("v")).alias("max_closing"),
    )


# ---------------------------------------------------------------------------
# Distribution drift / PSI (q173): the population-stability-index the
# monitoring layer computes between a reference window and the current
# one — the standard "has this feature drifted" gate. q131's snapshot
# diff sees row-level churn; PSI sees DISTRIBUTION-level drift even
# when every row is new. Fixed-point exactness: the log-ratio goes
# through the micro-nat table (the q88 convention — ln applied only to
# distinct integer counts), the mass difference stays a rational with
# an exact integer numerator, and their product runs in
# DECIMAL(38,0)/HUGEINT before one integer floor-division — both
# engines agree bit-for-bit per bin.
PSI_SPLIT_TS = "2024-01-16 00:00:00"
PSI_BIN_W = 25.0
PSI_MAX_BIN = 24
_PSI_L_DUCK = "CAST(FLOOR(ln(CAST({x} AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)"


@register(
    "q173_distribution_drift_psi",
    oracle=f"""
    WITH binned AS (
      SELECT LEAST({PSI_MAX_BIN}, CAST(floor(value / {PSI_BIN_W}) AS INTEGER))
                 AS bin,
             CASE WHEN ts < TIMESTAMP '{PSI_SPLIT_TS}' THEN 1 ELSE 0 END
                 AS early
      FROM events
    ),
    counts AS (
      SELECT bin,
             CAST(SUM(early) AS BIGINT) AS cnt_e,
             CAST(SUM(1 - early) AS BIGINT) AS cnt_l
      FROM binned GROUP BY bin
    ),
    totals AS (
      SELECT CAST(SUM(cnt_e) AS BIGINT) AS ne, CAST(SUM(cnt_l) AS BIGINT) AS nl
      FROM counts
    )
    SELECT c.bin, c.cnt_e, c.cnt_l,
           CASE WHEN c.cnt_e > 0 AND c.cnt_l > 0 THEN
             CAST(((c.cnt_e::HUGEINT * t.nl - c.cnt_l::HUGEINT * t.ne)
                   * ({_PSI_L_DUCK.format(x="c.cnt_e")}
                      + {_PSI_L_DUCK.format(x="t.nl")}
                      - {_PSI_L_DUCK.format(x="c.cnt_l")}
                      - {_PSI_L_DUCK.format(x="t.ne")}))
                  // (t.ne::HUGEINT * t.nl) AS BIGINT)
           END AS psi_contrib_micro
    FROM counts c CROSS JOIN totals t
    """,
    doc="Population stability index (PSI) of the event value "
    "distribution between a reference window and the current one "
    f"(split at {PSI_SPLIT_TS}, {PSI_MAX_BIN + 1} fixed-width bins): "
    "per bin, both counts and the exact PSI contribution "
    "(p_early - p_late) * ln(p_early/p_late) in integer micro-PSI — "
    "the drift gate monitoring layers put on every feature, catching "
    "distribution shift q131's row-level diff cannot see. Exactness: "
    "ln runs only on the few distinct counts via the micro-nat table "
    "(q88 convention), the mass difference keeps an exact integer "
    "numerator, and the product is DECIMAL(38,0)/HUGEINT with one "
    "final floor-division; bins empty on either side emit NULL "
    "contribution (observable, never a silent epsilon fudge). Scale "
    "shape: one scan to a bins-sized table, then scalar totals "
    "broadcast back — the fact table is touched once regardless of "
    "window sizes.",
    tags=("events", "profiling", "log-form"),
)
def q173_distribution_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    binned = events.selectExpr(
        f"LEAST({PSI_MAX_BIN}, CAST(floor(value / {PSI_BIN_W}D) AS INT))"
        " AS bin",
        f"CASE WHEN ts < TIMESTAMP_NTZ '{PSI_SPLIT_TS}' THEN 1 ELSE 0 END"
        " AS early",
    )
    counts = binned.groupBy("bin").agg(
        F.sum("early").cast("long").alias("cnt_e"),
        F.sum(F.lit(1) - F.col("early")).cast("long").alias("cnt_l"),
    )
    totals = counts.agg(
        F.sum("cnt_e").cast("long").alias("ne"),
        F.sum("cnt_l").cast("long").alias("nl"),
    )
    lmicro = (
        "CAST(FLOOR(ln(CAST({x} AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)"
    )
    return counts.crossJoin(F.broadcast(totals)).selectExpr(
        "bin",
        "cnt_e",
        "cnt_l",
        f"""CASE WHEN cnt_e > 0 AND cnt_l > 0 THEN
          CAST(((CAST(cnt_e AS DECIMAL(38,0)) * nl
                 - CAST(cnt_l AS DECIMAL(38,0)) * ne)
                * ({lmicro.format(x="cnt_e")} + {lmicro.format(x="nl")}
                   - {lmicro.format(x="cnt_l")} - {lmicro.format(x="ne")}))
               div (CAST(ne AS DECIMAL(38,0)) * nl) AS BIGINT)
        END AS psi_contrib_micro""",
    )


# ---------------------------------------------------------------------------
# First-order Markov transition matrix (q177): P(next event type |
# current event type) from per-user event sequences — the sequence
# model behind next-action prediction, funnel leak detection, and
# session simulation. 'START' is the synthetic state before each
# user's first event, so row masses are observable per prior state.


@register(
    "q177_markov_transitions",
    oracle="""
    WITH seq AS (
      SELECT COALESCE(lag(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ), 'START') AS prev_type,
             event_type
      FROM events
    ),
    cnt AS (
      SELECT prev_type, event_type, CAST(COUNT(*) AS BIGINT) AS n
      FROM seq GROUP BY prev_type, event_type
    )
    SELECT prev_type, event_type, n,
           CAST(n * 1000000 // SUM(n) OVER (PARTITION BY prev_type)
                AS BIGINT) AS p_ppm
    FROM cnt
    """,
    doc="First-order Markov transition matrix over per-user event "
    "sequences: count of (previous type -> type) transitions, ordered "
    "by (ts, event_id) within user, with a synthetic 'START' prior "
    "state for each user's first event, and the conditional transition "
    "probability in exact integer ppm (n * 1e6 div row total). The "
    "sequence-model readout behind next-action prediction and funnel "
    "leak detection; q113's session paths enumerate whole trajectories "
    "— this is their memoryless projection, dense and comparable "
    "across corpora. Scale shape: one user_id shuffle for the lag "
    "window, then the count table is (types+1)^2-sized — the ppm "
    "window runs over ~36 rows regardless of corpus size.",
    tags=("events", "window", "sequence"),
)
def q177_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        F.coalesce(F.lag("event_type").over(w), F.lit("START")).alias(
            "prev_type"
        ),
        "event_type",
    )
    cnt = seq.groupBy("prev_type", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    w_prev = Window.partitionBy("prev_type")
    return cnt.withColumn("tot", F.sum("n").over(w_prev)).selectExpr(
        "prev_type",
        "event_type",
        "n",
        "CAST(n * 1000000 div tot AS BIGINT) AS p_ppm",
    )


# ---------------------------------------------------------------------------
# Fixed-point EWMA features (q179): per-user exponentially-weighted
# value average with decay 1/2, truncated at the last EWMA_K events —
# the streaming-feature-store shape (recent behavior weighted over
# old) in pure integer arithmetic. Weight of the k-th most recent
# event is 2^(EWMA_K-k): all weights are exact powers of two, cents
# ride the q171 DECIMAL(18,2) convention, and the final micro-value is
# one integer floor-division — bit-equal across engines, no float
# decay product anywhere.
EWMA_K = 16


@register(
    "q179_ewma_features",
    oracle=f"""
    WITH recent AS (
      SELECT user_id,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
             row_number() OVER (
               PARTITION BY user_id ORDER BY ts DESC, event_id DESC
             ) AS rn
      FROM events
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_used,
           CAST(SUM(cents * (CAST(1 AS BIGINT) << ({EWMA_K} - rn))) * 10000
                // SUM(CAST(1 AS BIGINT) << ({EWMA_K} - rn))
                AS BIGINT) AS ewma_micro
    FROM recent WHERE rn <= {EWMA_K}
    GROUP BY user_id
    """,
    doc=f"Per-user fixed-point EWMA of event value (decay 1/2, "
    f"truncated at the {EWMA_K} most recent events by (ts, event_id)): "
    "the feature-store recency-weighted average, computed entirely in "
    "integers — the k-th most recent event carries weight "
    f"2^({EWMA_K}-k), values become cents via the q171 DECIMAL(18,2) "
    "cast, and the result is one floor-division to micro-value units. "
    "The truncation bound is principled: dropped events carry < 2^-16 "
    "of the mass, below the micro-unit output resolution. No float "
    "decay product, no order-dependent double sum — both engines "
    "agree bit-for-bit. Scale shape: one user_id shuffle for the "
    "recency window (fine-grained partitions), then a keyed agg of at "
    f"most {EWMA_K} rows per user; the streaming twin is a per-key "
    "(ewma_num, ewma_den) pair in applyInPandasWithState.",
    tags=("events", "window", "training", "fixed-point"),
)
def q179_ewma_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    recent = (
        events.select(
            "user_id",
            "ts",
            "event_id",
            (F.col("value").cast("decimal(18,2)") * 100)
            .cast("long").alias("cents"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= EWMA_K)
        .select("user_id", "cents", "rn")
    )
    return recent.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_used"),
        F.expr(
            f"CAST(SUM(cents * shiftleft(CAST(1 AS BIGINT), {EWMA_K} - rn))"
            f" * 10000 div SUM(shiftleft(CAST(1 AS BIGINT), {EWMA_K} - rn))"
            " AS BIGINT)"
        ).alias("ewma_micro"),
    )


# ---------------------------------------------------------------------------
# U-shaped multi-touch attribution (q180): credit each user's
# conversion across their touch events — 40% to the first touch, 40%
# to the last, the middle 20% split evenly — in exact integer ppm.
# The position-based scheme marketing stacks default to when
# first-touch and last-touch (q137) disagree. Event order is the
# lexicographic (ts, event_id) pair — NEVER a packed epoch*K+id
# integer, which overflows int64 (epoch_us * 1e7 > 2^63).


@register(
    "q180_multitouch_attribution",
    oracle="""
    WITH conv AS (
      SELECT user_id, ts AS conv_ts, event_id AS conv_eid FROM (
        SELECT user_id, ts, event_id,
               row_number() OVER (
                 PARTITION BY user_id ORDER BY ts, event_id
               ) AS rn
        FROM events WHERE event_type = 'purchase'
      ) WHERE rn = 1
    ),
    touches AS (
      SELECT e.user_id, e.event_type,
             row_number() OVER (
               PARTITION BY e.user_id ORDER BY e.ts, e.event_id
             ) AS pos,
             COUNT(*) OVER (PARTITION BY e.user_id) AS n
      FROM events e JOIN conv c ON c.user_id = e.user_id
      WHERE e.event_type IN ('view', 'click')
        AND (e.ts, e.event_id) < (c.conv_ts, c.conv_eid)
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_touches,
           CAST(SUM(CASE
             WHEN n = 1 THEN 1000000
             WHEN n = 2 THEN 500000
             WHEN pos = 1 OR pos = n THEN 400000
             ELSE 200000 // (n - 2)
           END) AS BIGINT) AS credit_ppm
    FROM touches
    GROUP BY event_type
    """,
    doc="U-shaped (position-based) multi-touch attribution: each "
    "converting user's first purchase is credited across their prior "
    "view/click touches — 40% to the first touch, 40% to the last, "
    "the middle 20% split evenly (100% / 50-50 for 1- and 2-touch "
    "paths) — summed per touch type in exact integer ppm. The scheme "
    "marketing stacks reach for when first-touch and last-touch "
    "(q137) disagree; per-user credit sums to 1e6 up to the "
    "documented floor-division remainder on the middle split (at most "
    "n-3 ppm per user, observable, never silently redistributed). "
    "Event order is the lexicographic (ts, event_id) pair compared as "
    "a row value in both engines — a packed epoch*K+id integer key "
    "would overflow int64. Scale shape: conversions are a per-user "
    "min(struct) agg riding the same user_id shuffle as the touch "
    "window — one exchange, then a types-sized rollup.",
    tags=("events", "window", "attribution"),
)
def q180_multitouch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    conv = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min(F.struct("ts", "event_id")).alias("c"))
        .select(
            "user_id",
            F.col("c.ts").alias("conv_ts"),
            F.col("c.event_id").alias("conv_eid"),
        )
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_n = Window.partitionBy("user_id")
    touches = (
        events.filter(F.col("event_type").isin("view", "click"))
        .join(conv, "user_id")
        .filter(
            (F.col("ts") < F.col("conv_ts"))
            | (
                (F.col("ts") == F.col("conv_ts"))
                & (F.col("event_id") < F.col("conv_eid"))
            )
        )
        .withColumn("pos", F.row_number().over(w))
        .withColumn("n", F.count(F.lit(1)).over(w_n))
    )
    credit = (
        F.when(F.col("n") == 1, 1000000)
        .when(F.col("n") == 2, 500000)
        .when((F.col("pos") == 1) | (F.col("pos") == F.col("n")), 400000)
        .otherwise(F.expr("200000 div (n - 2)"))
    )
    return touches.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_touches"),
        F.sum(credit).cast("long").alias("credit_ppm"),
    )


# ---------------------------------------------------------------------------
# Balance carry-forward daily grid (q185): each user's daily closing
# balance with last-observation-carried-forward over silent days —
# the balance-sheet snapshot generator that turns an event stream
# into the dense per-day state table BI tools and feature stores
# expect. Composes q171's closing-value survivor with q104's dense
# grid, swapping zero-fill for LOCF.


@register(
    "q185_balance_carry_forward",
    oracle="""
    WITH closing AS (
      SELECT user_id, day, cents FROM (
        SELECT user_id, ts::DATE AS day,
               CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
               row_number() OVER (
                 PARTITION BY user_id, ts::DATE
                 ORDER BY ts DESC, event_id DESC
               ) AS rn
        FROM events
      ) WHERE rn = 1
    ),
    bounds AS (SELECT MAX(ts::DATE) AS max_day FROM events),
    first_day AS (
      SELECT user_id, MIN(day) AS first_day FROM closing GROUP BY user_id
    ),
    grid AS (
      SELECT f.user_id, CAST(gs.g AS DATE) AS day
      FROM first_day f CROSS JOIN bounds b,
           LATERAL (
             SELECT unnest(generate_series(
               f.first_day::TIMESTAMP, b.max_day::TIMESTAMP,
               INTERVAL 1 DAY)) AS g
           ) gs
    )
    SELECT g.user_id,
           strftime(g.day, '%Y-%m-%d') AS day,
           last_value(c.cents IGNORE NULLS) OVER (
             PARTITION BY g.user_id ORDER BY g.day
             ROWS UNBOUNDED PRECEDING
           ) AS closing_cents,
           c.cents IS NOT NULL AS is_observed
    FROM grid g
    LEFT JOIN closing c ON c.user_id = g.user_id AND c.day = g.day
    """,
    doc="Daily balance snapshot grid with last-observation-carried-"
    "forward: per user, a dense day axis from their first active day "
    "to the corpus high-water day, closing value (q171's survivor, in "
    "exact cents) carried across silent days, with an is_observed "
    "audit flag separating real readings from carried ones — the "
    "snapshot-fact generator that turns event streams into the "
    "per-day state table BI and feature stores expect (q104 is the "
    "zero-fill sibling for flow measures; LOCF is the correct fill "
    "for level measures). Scale shape: the survivor window and the "
    "grid explode both partition by user_id — one exchange; the grid "
    "is bounded by users x days, generated by sequence(), never a "
    "cross join against a calendar table; the LOCF window rides the "
    "same partitioning. Never carries ACROSS users by construction.",
    tags=("events", "window", "warehouse", "grid"),
)
def q185_balance_carry_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", F.to_date("ts")).orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    closing = (
        events.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.to_date("ts").alias("day"),
            (F.col("value").cast("decimal(18,2)") * 100)
            .cast("long")
            .alias("cents"),
        )
    )
    bounds = events.agg(F.max(F.to_date("ts")).alias("max_day"))
    grid = (
        closing.groupBy("user_id")
        .agg(F.min("day").alias("first_day"))
        .crossJoin(F.broadcast(bounds))
        .select(
            "user_id",
            F.explode(
                F.sequence("first_day", "max_day", F.expr("interval 1 day"))
            ).alias("day"),
        )
    )
    w_locf = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        grid.join(closing, ["user_id", "day"], "left")
        .select(
            "user_id",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.last("cents", ignorenulls=True).over(w_locf)
            .alias("closing_cents"),
            F.col("cents").isNotNull().alias("is_observed"),
        )
    )


# ---------------------------------------------------------------------------
# G-test of independence (q186): is event type independent of day of
# week? The likelihood-ratio sibling of chi-square, chosen because its
# log form rides the established micro-nat fixed point (q88/q173
# convention) AND stays in range at any scale — chi-square's
# (obs*N - row*col)^2 overflows even DECIMAL(38) at petabyte counts,
# the same trap q118's PMI ratio hit at 100x.


@register(
    "q186_gtest_independence",
    oracle=f"""
    WITH obs AS (
      SELECT CAST(date_part('dow', ts) AS INTEGER) AS dow, event_type,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    margins AS (
      SELECT o.dow, o.event_type, o.n,
             SUM(o.n) OVER (PARTITION BY o.dow) AS row_n,
             SUM(o.n) OVER (PARTITION BY o.event_type) AS col_n,
             SUM(o.n) OVER () AS tot
      FROM obs o
    )
    SELECT dow, event_type, n,
           CAST((CAST(2 * n AS DECIMAL(38,0))
                 * ({{L_n}} + {{L_tot}} - {{L_row}} - {{L_col}}))
                AS BIGINT) AS g_contrib_micro
    FROM margins
    """.format(
        L_n="CAST(FLOOR(ln(CAST(n AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)",
        L_tot="CAST(FLOOR(ln(CAST(tot AS DOUBLE)) * 1000000.0 + 0.5)"
        " AS BIGINT)",
        L_row="CAST(FLOOR(ln(CAST(row_n AS DOUBLE)) * 1000000.0 + 0.5)"
        " AS BIGINT)",
        L_col="CAST(FLOOR(ln(CAST(col_n AS DOUBLE)) * 1000000.0 + 0.5)"
        " AS BIGINT)",
    ),
    doc="G-test (likelihood-ratio) independence audit of event type vs "
    "day of week: per contingency cell, the observed count and its "
    "exact contribution 2*n*ln(n*N / (row*col)) in integer micro-nats "
    "— the seasonality-confound detector (if type depends on weekday, "
    "any weekday-imbalanced A/B readout like q142's is confounded; "
    "q144 shows the shares, this tests them). The G form is chosen "
    "over chi-square DELIBERATELY: its log rides the established "
    "micro-nat table (ln only on the few distinct counts, q88/q173 "
    "convention) and 2*n*(L(n)+L(N)-L(row)-L(col)) stays within "
    "DECIMAL(38) at ANY corpus size, while chi-square's "
    "(n*N - row*col)^2 needs ~4x the digits of N and overflows at "
    "petabyte scale — the q118 overflow lesson applied at design "
    "time. Scale shape: one scan to a (7 x types) table; margins are "
    "windows over that tiny table. dow is 0=Sunday in both engines "
    "(Spark dayofweek()-1 == DuckDB date_part('dow')).",
    tags=("events", "profiling", "log-form", "stats"),
)
def q186_gtest_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    obs = events.groupBy(
        (F.dayofweek("ts") - 1).cast("int").alias("dow"), "event_type"
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    margins = (
        obs.withColumn(
            "row_n", F.sum("n").over(Window.partitionBy("dow"))
        )
        .withColumn(
            "col_n", F.sum("n").over(Window.partitionBy("event_type"))
        )
        .withColumn(
            "tot",
            F.sum("n").over(
                Window.partitionBy()
            ),
        )
    )
    lm = "CAST(FLOOR(ln(CAST({x} AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)"
    return margins.selectExpr(
        "dow",
        "event_type",
        "n",
        f"""CAST((CAST(2 * n AS DECIMAL(38,0))
              * ({lm.format(x='n')} + {lm.format(x='tot')}
                 - {lm.format(x='row_n')} - {lm.format(x='col_n')}))
             AS BIGINT) AS g_contrib_micro""",
    )


# ---------------------------------------------------------------------------
# CUSUM change-point detection (q189): the sequential drift alarm —
# per event type, a one-sided cumulative-sum statistic over the dense
# daily count series, with allowance k = mean/10 and decision
# threshold h = 5*mean (the classic CUSUM parameterization). The
# recurrence s_t = max(0, s_{t-1} + d_t) looks inherently sequential,
# but has the closed form s_t = S_t - min(0, min_{j<=t} S_j) over the
# plain prefix sums S — so it runs as TWO window functions on one
# (type, day) sort instead of an n_days-round recursion (measured:
# the recursive form costs ~0.7 s PER DAY of span in driver-side
# iteration setup; the window form is one pass at any span). All
# integer micro-units; int64 holds to ~1e12 events/type.


@register(
    "q189_cusum_changepoint",
    oracle="""
    WITH bounds AS (
      SELECT MIN(ts::DATE) AS d0,
             CAST(date_diff('day', MIN(ts::DATE), MAX(ts::DATE)) AS BIGINT)
                 + 1 AS n_days
      FROM events
    ),
    raw AS (
      SELECT event_type,
             CAST(date_diff('day', (SELECT d0 FROM bounds), ts::DATE)
                  AS BIGINT) AS idx,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    params AS (
      SELECT event_type,
             CAST(SUM(n) * 1000000 // (SELECT n_days FROM bounds)
                  AS BIGINT) AS mean_micro
      FROM raw GROUP BY event_type
    ),
    grid AS (
      SELECT p.event_type, gs.idx, COALESCE(r.n, 0) AS n,
             p.mean_micro, p.mean_micro // 10 AS k_micro,
             5 * p.mean_micro AS h_micro
      FROM params p
      CROSS JOIN (
        SELECT unnest(generate_series(0, (SELECT n_days FROM bounds) - 1))
            AS idx
      ) gs
      LEFT JOIN raw r ON r.event_type = p.event_type AND r.idx = gs.idx
    ),
    prefix AS (
      SELECT event_type, idx, n, h_micro,
             SUM(n * 1000000 - mean_micro - k_micro) OVER (
               PARTITION BY event_type ORDER BY idx
               ROWS UNBOUNDED PRECEDING
             ) AS s_prefix
      FROM grid
    )
    SELECT event_type, idx AS day_idx, n,
           CAST(s_prefix - LEAST(CAST(0 AS BIGINT), MIN(s_prefix) OVER (
             PARTITION BY event_type ORDER BY idx
             ROWS UNBOUNDED PRECEDING
           )) AS BIGINT) AS cusum_micro,
           s_prefix - LEAST(CAST(0 AS BIGINT), MIN(s_prefix) OVER (
             PARTITION BY event_type ORDER BY idx
             ROWS UNBOUNDED PRECEDING
           )) > h_micro AS is_alarm
    FROM prefix
    """,
    doc="One-sided CUSUM change-point detector per event type over the "
    "dense daily count series (zero-filled silent days — a day with no "
    "events is evidence, not a gap): s_t = max(0, s_{t-1} + x_t - "
    "mean - k) with the classic allowance k = mean/10 and alarm "
    "threshold h = 5*mean, all in exact integer micro-units. CUSUM "
    "accumulates small persistent shifts q109's per-day z-score "
    "cannot see — the upward-drift alarm monitoring stacks pair with "
    "q173's PSI (distribution) and q186's G (association). The "
    "clamped recurrence is NOT computed by iteration: it has the "
    "closed form s_t = S_t - min(0, min_{j<=t} S_j) over plain "
    "prefix sums, so the whole statistic is two stacked windows on "
    "ONE (type, day) sort — a single pass whatever the day span, "
    "where the WITH RECURSIVE form (tested during development) costs "
    "a driver round-trip per day of span. int64 micro-units hold to "
    "~1e12 events/type; DECIMAL(38,0) is the documented headroom "
    "swap beyond.",
    tags=("events", "stats", "window", "monitoring"),
)
def q189_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    bounds = events.agg(
        F.min(F.to_date("ts")).alias("d0"),
        (
            F.datediff(F.max(F.to_date("ts")), F.min(F.to_date("ts"))) + 1
        ).cast("long").alias("n_days"),
    )
    raw = (
        events.crossJoin(F.broadcast(bounds))
        .groupBy(
            "event_type",
            F.datediff(F.to_date("ts"), F.col("d0")).cast("long").alias("idx"),
            "n_days",
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    params = raw.groupBy("event_type", "n_days").agg(
        F.expr("CAST(SUM(n) * 1000000 div n_days AS BIGINT)").alias(
            "mean_micro"
        )
    )
    grid = (
        params.select(
            "event_type",
            "mean_micro",
            F.expr("mean_micro div 10").alias("k_micro"),
            (F.lit(5) * F.col("mean_micro")).alias("h_micro"),
            F.explode(F.expr("sequence(0, n_days - 1)")).alias("idx"),
        )
        .join(raw.select("event_type", "idx", "n"), ["event_type", "idx"], "left")
        .fillna(0, subset=["n"])
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("idx")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    prefix = grid.withColumn(
        "s_prefix",
        F.sum(
            F.col("n") * 1000000 - F.col("mean_micro") - F.col("k_micro")
        ).over(w),
    )
    cusum = F.col("s_prefix") - F.least(
        F.lit(0).cast("long"), F.min("s_prefix").over(w)
    )
    return prefix.select(
        "event_type",
        F.col("idx").alias("day_idx"),
        "n",
        cusum.alias("cusum_micro"),
        (cusum > F.col("h_micro")).alias("is_alarm"),
    )


# ---------------------------------------------------------------------------
# A/B significance via the G-test (q190): q142 emits the four readout
# integers; this runs the 2x2 likelihood-ratio test on them — arm x
# converted — in the same micro-nat fixed point as q186. The sum of
# the four contributions against 3.841e6 micro (chi-square_1 at
# p=0.05) is the ship/no-ship gate.


@register(
    "q190_ab_significance",
    oracle=f"""
    WITH users AS (
      SELECT user_id,
             CASE WHEN ({{sa}} * (user_id % {{pr}}) + {{sb}})
                       % {{pr}} >= {{hf}}
                  THEN 1 ELSE 0 END AS arm,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                 AS converted
      FROM events GROUP BY user_id
    ),
    obs AS (
      SELECT CAST(arm AS INTEGER) AS arm,
             CAST(converted AS INTEGER) AS converted,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM users GROUP BY 1, 2
    ),
    margins AS (
      SELECT o.arm, o.converted, o.n,
             SUM(o.n) OVER (PARTITION BY o.arm) AS row_n,
             SUM(o.n) OVER (PARTITION BY o.converted) AS col_n,
             SUM(o.n) OVER () AS tot
      FROM obs o
    )
    SELECT arm, converted, n,
           CAST((CAST(2 * n AS DECIMAL(38,0))
                 * ({{L_n}} + {{L_tot}} - {{L_row}} - {{L_col}}))
                AS BIGINT) AS g_contrib_micro
    FROM margins
    """.format(
        sa=AB_SALT_A, sb=AB_SALT_B, pr=AB_PRIME, hf=AB_HALF,
        L_n="CAST(FLOOR(ln(CAST(n AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)",
        L_tot="CAST(FLOOR(ln(CAST(tot AS DOUBLE)) * 1000000.0 + 0.5)"
        " AS BIGINT)",
        L_row="CAST(FLOOR(ln(CAST(row_n AS DOUBLE)) * 1000000.0 + 0.5)"
        " AS BIGINT)",
        L_col="CAST(FLOOR(ln(CAST(col_n AS DOUBLE)) * 1000000.0 + 0.5)"
        " AS BIGINT)",
    ),
    doc="A/B significance: the 2x2 likelihood-ratio G-test on q142's "
    "experiment table (hash-assigned arm x converted), per-cell "
    "contributions 2*n*ln(n*N/(row*col)) in exact integer micro-nats "
    "(the q186 machinery applied to the experimentation gate). The "
    "decision rule the pipeline publishes: sum of the four cells vs "
    "3,841,459 micro (chi-square, 1 df, p=0.05) — G is "
    "asymptotically chi-square distributed, and the fixed point makes "
    "the reported statistic reproducible to the micro-nat across "
    "engines and reruns, which a float chi-square is not. Scale "
    "shape: one user-grain aggregate (same single scan as q142), "
    "then windows over a 4-row table.",
    tags=("events", "stats", "log-form", "sampling"),
)
def q190_ab_significance(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    h = (
        F.lit(AB_SALT_A) * (F.col("user_id") % AB_PRIME) + F.lit(AB_SALT_B)
    ) % AB_PRIME
    users = ev.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("converted")
    ).select(
        F.when(h >= AB_HALF, 1).otherwise(0).cast("int").alias("arm"),
        F.col("converted").cast("int").alias("converted"),
    )
    obs = users.groupBy("arm", "converted").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    margins = (
        obs.withColumn("row_n", F.sum("n").over(Window.partitionBy("arm")))
        .withColumn(
            "col_n", F.sum("n").over(Window.partitionBy("converted"))
        )
        .withColumn("tot", F.sum("n").over(Window.partitionBy()))
    )
    lm = "CAST(FLOOR(ln(CAST({x} AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)"
    return margins.selectExpr(
        "arm",
        "converted",
        "n",
        f"""CAST((CAST(2 * n AS DECIMAL(38,0))
              * ({lm.format(x='n')} + {lm.format(x='tot')}
                 - {lm.format(x='row_n')} - {lm.format(x='col_n')}))
             AS BIGINT) AS g_contrib_micro""",
    )


# ---------------------------------------------------------------------------
# Daily trend slopes (q191): exact OLS slope of daily event counts vs
# day index per event type — the "is this metric drifting" regression
# the monitoring layer runs on every counter. Pure integer rational:
# slope = (n*Sxy - Sx*Sy) / (n*Sxx - Sx^2), reported as numerator/
# denominator-reduced milli-counts-per-day via one floor-division.


@register(
    "q191_trend_slopes",
    oracle="""
    WITH bounds AS (
      SELECT MIN(ts::DATE) AS d0,
             CAST(date_diff('day', MIN(ts::DATE), MAX(ts::DATE)) AS BIGINT)
                 + 1 AS n_days
      FROM events
    ),
    raw AS (
      SELECT event_type,
             CAST(date_diff('day', (SELECT d0 FROM bounds), ts::DATE)
                  AS BIGINT) AS idx,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    grid AS (
      SELECT t.event_type, gs.idx, COALESCE(r.n, 0) AS n
      FROM (SELECT DISTINCT event_type FROM raw) t
      CROSS JOIN (
        SELECT unnest(generate_series(0, (SELECT n_days FROM bounds) - 1))
            AS idx
      ) gs
      LEFT JOIN raw r ON r.event_type = t.event_type AND r.idx = gs.idx
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(SUM(n) AS BIGINT) AS total,
           CAST((COUNT(*) * SUM(idx * n) - SUM(idx) * SUM(n)) * 1000
                // (COUNT(*) * SUM(idx * idx) - SUM(idx) * SUM(idx))
                AS BIGINT) AS slope_milli_per_day
    FROM grid GROUP BY event_type
    """,
    doc="Exact OLS trend slope of daily counts per event type (day "
    "index as regressor, dense zero-filled grid so silent days pull "
    "the trend down honestly): slope = (n*Sxy - Sx*Sy)/(n*Sxx - Sx^2) "
    "evaluated entirely in int64 and reported in milli-counts-per-day "
    "via one floor-division — the drift regression monitoring layers "
    "run on every counter, deterministic to the last digit (the q168 "
    "Zipf-slope integer-regression pattern on the time axis). "
    "Overflow headroom: Sxy <= n_days^2 * max_count — at 1e12 "
    "events/day and a 3-year window that is ~1e18, inside int64; the "
    "DECIMAL(38) swap is the documented path beyond. Scale shape: "
    "one scan to (types x days), then a types-sized agg; the grid "
    "explode is bounded by types x days.",
    tags=("events", "stats", "monitoring"),
)
def q191_trend_slopes(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    bounds = events.agg(
        F.min(F.to_date("ts")).alias("d0"),
        (
            F.datediff(F.max(F.to_date("ts")), F.min(F.to_date("ts"))) + 1
        ).cast("long").alias("n_days"),
    )
    raw = (
        events.crossJoin(F.broadcast(bounds))
        .groupBy(
            "event_type",
            F.datediff(F.to_date("ts"), F.col("d0")).cast("long").alias("idx"),
            "n_days",
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    grid = (
        raw.select("event_type", "n_days").distinct()
        .select(
            "event_type",
            F.explode(F.expr("sequence(0, n_days - 1)")).alias("idx"),
        )
        .join(raw.select("event_type", "idx", "n"), ["event_type", "idx"], "left")
        .fillna(0, subset=["n"])
    )
    return grid.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("n").cast("long").alias("total"),
        F.expr(
            "CAST((COUNT(*) * SUM(idx * n) - SUM(idx) * SUM(n)) * 1000"
            " div (COUNT(*) * SUM(idx * idx) - SUM(idx) * SUM(idx))"
            " AS BIGINT)"
        ).alias("slope_milli_per_day"),
    )


# ---------------------------------------------------------------------------
# Exact correlation components + r^2 (q192): does event value depend
# on hour of day? Sums are exact integers (DECIMAL(38,0) — cents and
# hour products never round), the Pearson numerator/denominators are
# exact, and only the final scalar ratio touches doubles — one
# deterministic IEEE expression per group, floored to ppm. The
# feature-screening primitive (drop-the-flat-features, find-the-
# leaky-ones) run per event type.


@register(
    "q192_value_hour_correlation",
    oracle="""
    WITH pts AS (
      SELECT event_type,
             CAST(date_part('hour', ts) AS BIGINT) AS x,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
      FROM events
    ),
    sums AS (
      SELECT event_type,
             CAST(COUNT(*) AS DECIMAL(38,0)) AS n,
             CAST(SUM(x) AS DECIMAL(38,0)) AS sx,
             CAST(SUM(y) AS DECIMAL(38,0)) AS sy,
             CAST(SUM(CAST(x AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))
                  AS DECIMAL(38,0)) AS sxy,
             CAST(SUM(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0)))
                  AS DECIMAL(38,0)) AS sxx,
             CAST(SUM(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))
                  AS DECIMAL(38,0)) AS syy
      FROM pts GROUP BY event_type
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n,
           CAST(n * sxy - sx * sy AS VARCHAR) AS cov_num,
           CASE WHEN n * sxy - sx * sy > 0 THEN 1
                WHEN n * sxy - sx * sy < 0 THEN -1 ELSE 0 END AS corr_sign,
           CAST(FLOOR(
             CAST(n * sxy - sx * sy AS DOUBLE)
             * CAST(n * sxy - sx * sy AS DOUBLE) * 1000000.0
             / NULLIF(CAST(n * sxx - sx * sx AS DOUBLE)
                      * CAST(n * syy - sy * sy AS DOUBLE), 0.0)
           ) AS BIGINT) AS r2_ppm
    FROM sums
    """,
    doc="Pearson correlation screen of event value (exact cents) vs "
    "hour of day, per event type: the covariance numerator n*Sxy-Sx*Sy "
    "is computed and REPORTED exactly (DECIMAL(38,0) sums — nothing "
    "rounds until the last step), its sign gives the correlation "
    "direction, and r^2 lands as one deterministic IEEE double "
    "expression floored to ppm (identical expression tree in both "
    "engines = identical bits; the convention that per-row double "
    "arithmetic is safe, applied to one per-GROUP scalar). The "
    "feature-screening primitive — flat features (r2~0) get dropped, "
    "suspiciously strong ones (r2~1e6) get leak-audited — composing "
    "with q144's share profile and q191's trend slope into the "
    "monitoring triad. Scale shape: one scan, map-side partial sums, "
    "types-sized rollup; the decimal sums never overflow (y^2 <= "
    "2.4e9 per row, 1e12 rows -> 2.4e21 << 1e38).",
    tags=("events", "stats", "profiling"),
)
def q192_value_hour_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    pts = events.select(
        "event_type",
        F.hour("ts").cast("long").alias("x"),
        (F.col("value").cast("decimal(18,2)") * 100)
        .cast("long").alias("y"),
    )
    sums = pts.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        # the decimal promotion must sit INSIDE the sum — a round-7 audit
        # (tools/audit_overflow.py) caught the original form casting the
        # completed int64 SUM to decimal, i.e. accumulating y*y (~3.1e9
        # per row) in int64, which crosses 2^63 at ~2.9e9 events/type
        # while the docstring claimed decimal safety.
        F.sum(
            F.col("x").cast("decimal(19,0)") * F.col("y").cast("decimal(19,0)")
        ).cast("decimal(38,0)").alias("sxy"),
        F.sum(
            F.col("x").cast("decimal(19,0)") * F.col("x").cast("decimal(19,0)")
        ).cast("decimal(38,0)").alias("sxx"),
        F.sum(
            F.col("y").cast("decimal(19,0)") * F.col("y").cast("decimal(19,0)")
        ).cast("decimal(38,0)").alias("syy"),
    )
    return sums.selectExpr(
        "event_type",
        "CAST(n AS BIGINT) AS n",
        "CAST(n * sxy - sx * sy AS STRING) AS cov_num",
        """CASE WHEN n * sxy - sx * sy > 0 THEN 1
                WHEN n * sxy - sx * sy < 0 THEN -1 ELSE 0 END AS corr_sign""",
        """CAST(FLOOR(
             CAST(n * sxy - sx * sy AS DOUBLE)
             * CAST(n * sxy - sx * sy AS DOUBLE) * 1000000.0D
             / NULLIF(CAST(n * sxx - sx * sx AS DOUBLE)
                      * CAST(n * syy - sy * sy AS DOUBLE), 0.0)
           ) AS BIGINT) AS r2_ppm""",
    )


# ---------------------------------------------------------------------------
# HyperLogLog distinct-count sketch with exact audit (q213): the
# third cardinality sketch in the engine (after q161's KMV bottom-k and
# q197's count-min), and the one every 100 TB pipeline actually ships —
# per-key distinct counts in m registers of memory, mergeable across
# partitions/shards/days by register-wise MAX (Flajolet et al. 2007).
# The whole sketch is exact integer arithmetic on a portable affine
# hash, so the register table, both estimators, and the chosen estimate
# are bit-identical across engines — and the EXACT distinct count is
# computed alongside to audit the sketch's error in-engine.

HLL_P = 10                    # 2^10 = 1024 registers
HLL_M = 1 << HLL_P
HLL_SALT_A = 824393           # affine permutation over Z_POLY_MOD
HLL_SALT_B = 104729
_HLL_MOD = 1_000_000_007      # POLY_MOD: hash range => 20 usable w-bits
# alpha_m * m^2 in micro-units for m=1024 (Flajolet et al. 2007, Fig. 3)
HLL_ALPHA_M2_MICRO = 755_541_746_198
# w = h div 2^p < POLY_MOD/2^p < 2^20: rho = leading zeros in the 20-bit
# field + 1, generated as an exact integer CASE chain (no log2 floats).
_RHO_CASE = (
    "(CASE "
    + " ".join(
        f"WHEN w >= {1 << (19 - i)} THEN {i + 1}" for i in range(20)
    )
    + " ELSE 21 END)"
)


@register(
    "q213_hll_distinct_sketch",
    oracle=f"""
    WITH hashed AS (
      SELECT event_type,
             ({HLL_SALT_A} * (user_id % {_HLL_MOD}) + {HLL_SALT_B}) % {_HLL_MOD} AS h
      FROM events WHERE user_id IS NOT NULL
    ),
    rho AS (
      SELECT event_type, h % {HLL_M} AS bucket, w, {_RHO_CASE} AS r
      FROM (SELECT event_type, h, h // {HLL_M} AS w FROM hashed)
    ),
    registers AS (
      SELECT event_type, bucket, CAST(MAX(r) AS BIGINT) AS m_j
      FROM rho GROUP BY event_type, bucket
    ),
    sketch AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS occupied,
             CAST({HLL_M} - COUNT(*) AS BIGINT) AS zeros,
             CAST(SUM(1 << (21 - m_j)) AS BIGINT)
               + ({HLL_M} - COUNT(*)) * {1 << 21} AS denom_scaled
      FROM registers GROUP BY event_type
    ),
    ests AS (
      SELECT event_type, occupied, zeros,
             ({HLL_ALPHA_M2_MICRO} * {1 << 21}) // denom_scaled // 1000000
                 AS est_hll,
             CASE WHEN zeros > 0 THEN
               ({HLL_M} * (6931472 - CAST(FLOOR(
                  ln(CAST(zeros AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)))
               // 1000000
             END AS est_lc
      FROM sketch
    ),
    exact AS (
      SELECT event_type,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
      FROM events WHERE user_id IS NOT NULL GROUP BY event_type
    )
    SELECT e.event_type, x.n_exact, e.occupied, e.zeros,
           CAST(e.est_hll AS BIGINT) AS est_hll,
           CAST(e.est_lc AS BIGINT) AS est_lc,
           CAST(CASE WHEN e.est_hll <= {(5 * HLL_M) // 2} AND e.zeros > 0
                THEN e.est_lc ELSE e.est_hll END AS BIGINT) AS est_chosen,
           CAST(((CASE WHEN e.est_hll <= {(5 * HLL_M) // 2} AND e.zeros > 0
                  THEN e.est_lc ELSE e.est_hll END) - x.n_exact) * 1000000
                // x.n_exact AS BIGINT) AS err_ppm
    FROM ests e JOIN exact x ON x.event_type = e.event_type
    """,
    doc=f"HyperLogLog distinct-user sketch per event type with an "
    f"in-engine exact audit: a portable affine hash over Z_(1e9+7) is "
    f"split into a {HLL_P}-bit register index and a 20-bit pattern "
    "field whose leading-zero rank is computed by an exact integer "
    "CASE chain (no float log2 anywhere near a register); registers "
    "are MAX-merged per (type, bucket) — the merge that makes the "
    "sketch shard-, day-, and partition-composable at 100 TB, which "
    "exact COUNT(DISTINCT) fundamentally is not. Both Flajolet "
    "estimators are exact integer expressions: the raw harmonic-mean "
    "estimate via a 2^21-scaled denominator (empty registers "
    "contribute 2^21 each), and the small-range linear-counting "
    "correction m*ln(m/V) via the shared micro-nat fixed point, with "
    "the standard <= 2.5m switch — so estimate AND sketch hash "
    "bit-equal across engines, and err_ppm against the exact count is "
    "the committed evidence of sketch accuracy. Scale shape: the "
    "register build is a two-stage hash agg on (type, bucket) keys "
    "(<= types*m rows after the map-side partial — bounded regardless "
    "of corpus size); the exact audit is the only corpus-cardinality "
    "aggregation, and it exists precisely to be dropped at scale.",
    tags=("events", "sketch", "aggregate"),
)
def q213_hll_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
    )
    hashed = ev.select(
        "event_type",
        (
            (F.lit(HLL_SALT_A) * (F.col("user_id") % F.lit(_HLL_MOD))
            + F.lit(HLL_SALT_B))
            % F.lit(_HLL_MOD)
        ).alias("h"),
    )
    rho = hashed.select(
        "event_type",
        (F.col("h") % HLL_M).alias("bucket"),
        F.expr(f"h div {HLL_M}").alias("w"),
    ).select("event_type", "bucket", F.expr(_RHO_CASE).alias("r"))
    registers = rho.groupBy("event_type", "bucket").agg(
        F.max("r").cast("long").alias("m_j")
    )
    sketch = registers.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("occupied"),
        (F.lit(HLL_M) - F.count(F.lit(1))).cast("long").alias("zeros"),
        (
            F.sum(F.expr("CAST(shiftleft(1, 21 - m_j) AS BIGINT)"))
            + (F.lit(HLL_M) - F.count(F.lit(1))) * F.lit(1 << 21)
        )
        .cast("long")
        .alias("denom_scaled"),
    )
    ests = sketch.select(
        "event_type",
        "occupied",
        "zeros",
        F.expr(
            f"({HLL_ALPHA_M2_MICRO}L * {1 << 21}) div denom_scaled"
            " div 1000000"
        ).alias("est_hll"),
        F.expr(
            f"CASE WHEN zeros > 0 THEN ({HLL_M} * (6931472 - CAST(FLOOR("
            "ln(CAST(zeros AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)))"
            " div 1000000 END"
        ).alias("est_lc"),
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("n_exact")
    )
    chosen = (
        f"CASE WHEN est_hll <= {(5 * HLL_M) // 2} AND zeros > 0"
        " THEN est_lc ELSE est_hll END"
    )
    return ests.join(exact, "event_type").select(
        "event_type",
        "n_exact",
        "occupied",
        "zeros",
        F.col("est_hll").cast("long").alias("est_hll"),
        F.col("est_lc").cast("long").alias("est_lc"),
        F.expr(f"CAST({chosen} AS BIGINT)").alias("est_chosen"),
        F.expr(
            f"CAST((({chosen}) - n_exact) * 1000000 div n_exact AS BIGINT)"
        ).alias("err_ppm"),
    )


# ---------------------------------------------------------------------------
# Seasonal-naive forecast + MASE evaluation (q215): the forecasting
# baseline every capacity-planning / anomaly pipeline must beat before
# shipping a model (Hyndman & Koehler 2006 — MASE is the scale-free
# forecast error that, unlike MAPE, survives zero-count hours). The
# per-type hourly series is DENSIFIED first (q104's grid pattern):
# lag-based forecasts over a sparse series silently compare
# non-adjacent hours, which flatters the naive baseline exactly when
# traffic is burstiest.

MASE_SEASON_H = 24  # daily seasonality on an hourly grid


@register(
    "q215_seasonal_naive_mase",
    oracle=f"""
    WITH counts AS (
      SELECT event_type, date_trunc('hour', ts) AS hour_start,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY event_type, date_trunc('hour', ts)
    ),
    spans AS (
      SELECT event_type, MIN(hour_start) AS lo, MAX(hour_start) AS hi
      FROM counts GROUP BY event_type
    ),
    grid AS (
      SELECT event_type, CAST(h AS TIMESTAMP) AS hour_start
      FROM spans, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS t(h)
    ),
    dense AS (
      SELECT g.event_type, g.hour_start, COALESCE(c.n, 0) AS n,
             row_number() OVER (
               PARTITION BY g.event_type ORDER BY g.hour_start
             ) AS pos
      FROM grid g LEFT JOIN counts c
        ON c.event_type = g.event_type AND c.hour_start = g.hour_start
    ),
    lagged AS (
      SELECT event_type, n,
             lag(n, {MASE_SEASON_H}) OVER (
               PARTITION BY event_type ORDER BY hour_start
             ) AS n_season,
             lag(n, 1) OVER (
               PARTITION BY event_type ORDER BY hour_start
             ) AS n_prev,
             pos
      FROM dense
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_hours_scored,
           CAST(SUM(abs(n - n_season)) AS BIGINT) AS sae_seasonal,
           CAST(SUM(abs(n - n_prev)) AS BIGINT) AS sae_naive1,
           CAST(SUM(abs(n - n_season)) * 1000000
                // NULLIF(SUM(abs(n - n_prev)), 0) AS BIGINT) AS mase_ppm
    FROM lagged
    WHERE pos > {MASE_SEASON_H}
    GROUP BY event_type
    """,
    doc=f"Seasonal-naive forecast evaluation: forecast each hour's "
    f"per-type event count by the count {MASE_SEASON_H} hours earlier "
    "(same hour yesterday), and score it with MASE — the ratio of the "
    "seasonal forecast's total absolute error to the one-step-naive "
    "baseline's, in exact integer ppm (Hyndman & Koehler 2006: "
    "mase < 1e6 ppm means daily seasonality genuinely predicts this "
    "stream, and any real model must beat BOTH). The series is "
    "densified per type over its own [first, last] hour span before "
    "lagging (q104's explode(sequence) grid — output-proportional, "
    "never a calendar cross join): lags over a SPARSE series compare "
    "non-adjacent hours and corrupt both error sums exactly where "
    "traffic is burstiest. Scored hours start past the first season so "
    "both lags exist — no NULL-padding bias. Scale shape: one (type, "
    "hour) aggregate, the grid fan-out, and two lag windows sharing "
    "one (type)-partitioned sort; per-type state during the scan is "
    f"{MASE_SEASON_H + 1} rows. All counts and errors are exact "
    "integers; the final ratio is integer ppm with a NULLIF guard.",
    tags=("events", "window", "monitoring"),
)
def q215_seasonal_naive_mase(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour_start")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    spans = counts.groupBy("event_type").agg(
        F.min("hour_start").alias("lo"), F.max("hour_start").alias("hi")
    )
    grid = spans.select(
        "event_type",
        F.explode(F.expr("sequence(lo, hi, interval 1 hour)")).alias(
            "hour_start"
        ),
    )
    dense = grid.join(counts, ["event_type", "hour_start"], "left").select(
        "event_type",
        "hour_start",
        F.coalesce("n", F.lit(0)).cast("long").alias("n"),
    )
    w = Window.partitionBy("event_type").orderBy("hour_start")
    lagged = dense.select(
        "event_type",
        "n",
        F.lag("n", MASE_SEASON_H).over(w).alias("n_season"),
        F.lag("n", 1).over(w).alias("n_prev"),
        F.row_number().over(w).alias("pos"),
    )
    return (
        lagged.filter(F.col("pos") > MASE_SEASON_H)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_hours_scored"),
            F.sum(F.abs(F.col("n") - F.col("n_season")))
            .cast("long")
            .alias("sae_seasonal"),
            F.sum(F.abs(F.col("n") - F.col("n_prev")))
            .cast("long")
            .alias("sae_naive1"),
            F.expr(
                "CAST(SUM(abs(n - n_season)) * 1000000"
                " div NULLIF(SUM(abs(n - n_prev)), 0) AS BIGINT)"
            ).alias("mase_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Idempotency-key event dedup (q220): q100 collapses a USER's bursts
# (any event within 10 min of their previous one); this drops
# RE-DELIVERIES — the same logical event (user, type, props payload)
# seen again within the delivery horizon, which is what at-least-once
# transports (Kafka producer retries, mobile SDK replays, webhook
# retries) actually inject. Keying on the full idempotency key keeps
# genuine interleaved activity intact (a click between two purchases
# never suppresses either), which user-level debouncing cannot do.
# Same lag-form discipline as q100: gap to the previous RAW same-key
# event; the kept-relative form is the streaming dedup operator
# (streaming/dedup.py) — this is its batch/backfill twin shape.

REDELIVERY_HORIZON_S = 600


@register(
    "q220_event_redelivery_dedup",
    oracle=f"""
    WITH seq AS (
      SELECT event_id, user_id, event_type, ts,
             epoch_us(ts) - epoch_us(lag(ts) OVER (
               PARTITION BY user_id, event_type, props
               ORDER BY ts, event_id)) AS gap_us
      FROM events
    )
    SELECT event_id, user_id, event_type, ts,
           CAST(gap_us AS BIGINT) AS gap_us
    FROM seq
    WHERE gap_us IS NULL OR gap_us > {REDELIVERY_HORIZON_S} * 1000000
    """,
    doc="Idempotency-key re-delivery dedup: drop any event whose exact "
    "(user_id, event_type, props) key already occurred within the "
    f"preceding {REDELIVERY_HORIZON_S // 60} minutes — the batch form "
    "of the exactly-once guarantee every at-least-once transport "
    "(producer retries, SDK replays, webhook re-posts) makes the "
    "consumer enforce. Distinct from q100's user-level debounce: "
    "keying on the full payload keeps genuinely interleaved activity "
    "(a click between two purchases suppresses neither), while a "
    "duplicate POST retried 5 s later is dropped. Lag-form (gap to "
    "previous RAW same-key event, one window) per q100's documented "
    "convention; the kept-relative sibling is the stateful streaming "
    "dedup operator (streaming/dedup.py), whose state-expiry horizon "
    "this constant mirrors. Scale shape: ONE window over a "
    "(user, type, props) shuffle — key cardinality ~ the event stream "
    "itself, so partitions stay balanced (no hot key: the window "
    "partitions are tiny chains of re-deliveries); emitted gap_us "
    "makes the drop decision auditable row-by-row.",
    tags=("events", "dedup", "window"),
)
def q220_event_redelivery_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import epoch_us

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type", "props").orderBy(
        "ts", "event_id"
    )
    gap_us = epoch_us("ts") - F.lag(epoch_us("ts")).over(w)
    return (
        ev.withColumn("gap_us", gap_us)
        .filter(
            F.col("gap_us").isNull()
            | (F.col("gap_us") > REDELIVERY_HORIZON_S * 1_000_000)
        )
        .select(
            "event_id",
            "user_id",
            "event_type",
            "ts",
            F.col("gap_us").cast("long").alias("gap_us"),
        )
    )


# ---------------------------------------------------------------------------
# HLL merge identity (q221): the property that makes q213's sketch THE
# 100 TB distinct-counter — register-wise MAX over per-shard sketches
# equals the whole-stream sketch — PROVEN in-engine rather than
# asserted: build per-DAY sketches, merge them, and diff against the
# directly-built sketch register by register. A pipeline that trusts
# this identity computes daily sketches once and answers any date-range
# distinct query by merging K tiny register tables — never rescanning
# events. (max(max(a),max(b)) = max(a ∪ b): trivially true per
# register; the value is the executed, hash-checked demonstration that
# the PLUMBING — hashing, bucketing, grouping grain — preserves it.)


@register(
    "q221_hll_merge_identity",
    oracle=f"""
    WITH rho AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             h % {HLL_M} AS bucket, {_RHO_CASE} AS r
      FROM (
        SELECT event_type, ts,
               ({HLL_SALT_A} * (user_id % {_HLL_MOD}) + {HLL_SALT_B}) % {_HLL_MOD} AS h,
               (({HLL_SALT_A} * (user_id % {_HLL_MOD}) + {HLL_SALT_B}) % {_HLL_MOD})
                 // {HLL_M} AS w
        FROM events WHERE user_id IS NOT NULL
      )
    ),
    direct AS (
      SELECT event_type, bucket, CAST(MAX(r) AS BIGINT) AS m_direct
      FROM rho GROUP BY event_type, bucket
    ),
    daily AS (
      SELECT event_type, day, bucket, CAST(MAX(r) AS BIGINT) AS m_day
      FROM rho GROUP BY event_type, day, bucket
    ),
    merged AS (
      SELECT event_type, bucket, CAST(MAX(m_day) AS BIGINT) AS m_merged
      FROM daily GROUP BY event_type, bucket
    ),
    days AS (
      SELECT event_type, CAST(COUNT(DISTINCT day) AS BIGINT) AS n_days
      FROM rho GROUP BY event_type
    ),
    cmp AS (
      SELECT COALESCE(d.event_type, m.event_type) AS event_type,
             CASE WHEN d.m_direct IS NULL OR m.m_merged IS NULL
                       OR d.m_direct <> m.m_merged
                  THEN 1 ELSE 0 END AS mismatch,
             COALESCE(d.m_direct, 0) AS m_direct
      FROM direct d
      FULL OUTER JOIN merged m
        ON m.event_type = d.event_type AND m.bucket = d.bucket
    )
    SELECT c.event_type, y.n_days,
           CAST(COUNT(*) AS BIGINT) AS n_registers,
           CAST(SUM(c.mismatch) AS BIGINT) AS n_register_mismatch,
           CAST(SUM(c.mismatch) = 0 AS BIGINT) AS merge_identical,
           ({HLL_ALPHA_M2_MICRO} * {1 << 21})
             // (CAST(SUM(1 << (21 - c.m_direct)) AS BIGINT)
                 + ({HLL_M} - COUNT(*)) * {1 << 21})
             // 1000000 AS est_hll
    FROM cmp c JOIN days y ON y.event_type = c.event_type
    GROUP BY c.event_type, y.n_days
    """,
    doc="HyperLogLog merge-identity proof: per-day register sketches, "
    "MAX-merged across days, diffed register-by-register against the "
    "directly-built whole-stream sketch (q213's exact constants) — "
    "n_register_mismatch must be 0 and merge_identical 1 for every "
    "event type, turning the sketch's composability from an assertion "
    "into a hash-checked, engine-pair-verified record. This identity "
    "is the entire operational value of HLL at 100 TB: daily register "
    "tables (types x 1024 rows) are computed once at ingest, and any "
    "date-range distinct-user question is answered by MAX-merging K "
    "tiny tables — the raw events are never rescanned. Scale shape: "
    "the rho expansion is map-side; both register builds are two-stage "
    "hash aggs on bounded key spaces (types x m and types x days x m); "
    "the diff is a full outer join of two register tables — "
    "register-table-sized, corpus-size-independent. The only "
    "corpus-sized work is the one scan both sketches share.",
    tags=("events", "sketch", "incremental"),
)
def q221_hll_merge_identity(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
    )
    rho = ev.select(
        "event_type",
        F.col("ts").cast("date").alias("day"),
        (
            (F.lit(HLL_SALT_A) * (F.col("user_id") % F.lit(_HLL_MOD))
            + F.lit(HLL_SALT_B))
            % F.lit(_HLL_MOD)
        ).alias("h"),
    ).select(
        "event_type",
        "day",
        (F.col("h") % HLL_M).alias("bucket"),
        F.expr(f"h div {HLL_M}").alias("w"),
    ).select(
        "event_type", "day", "bucket", F.expr(_RHO_CASE).alias("r")
    )
    direct = rho.groupBy("event_type", "bucket").agg(
        F.max("r").cast("long").alias("m_direct")
    )
    daily = rho.groupBy("event_type", "day", "bucket").agg(
        F.max("r").cast("long").alias("m_day")
    )
    merged = daily.groupBy("event_type", "bucket").agg(
        F.max("m_day").cast("long").alias("m_merged")
    )
    days = rho.groupBy("event_type").agg(
        F.countDistinct("day").cast("long").alias("n_days")
    )
    d, m = direct.alias("d"), merged.alias("m")
    cmp = d.join(
        m,
        (F.col("m.event_type") == F.col("d.event_type"))
        & (F.col("m.bucket") == F.col("d.bucket")),
        "full_outer",
    ).select(
        F.coalesce(F.col("d.event_type"), F.col("m.event_type")).alias(
            "event_type"
        ),
        F.expr(
            "CASE WHEN d.m_direct IS NULL OR m.m_merged IS NULL"
            " OR d.m_direct <> m.m_merged THEN 1 ELSE 0 END"
        ).alias("mismatch"),
        F.coalesce(F.col("d.m_direct"), F.lit(0)).alias("m_direct"),
    )
    return cmp.join(days, "event_type").groupBy("event_type", "n_days").agg(
        F.count(F.lit(1)).cast("long").alias("n_registers"),
        F.sum("mismatch").cast("long").alias("n_register_mismatch"),
        F.expr("CAST(SUM(mismatch) = 0 AS BIGINT)").alias("merge_identical"),
        F.expr(
            f"({HLL_ALPHA_M2_MICRO}L * {1 << 21})"
            " div (CAST(SUM(CAST(shiftleft(1, 21 - m_direct) AS BIGINT))"
            f" AS BIGINT) + ({HLL_M} - COUNT(*)) * {1 << 21}L)"
            " div 1000000"
        ).alias("est_hll"),
    ).select(
        "event_type", "n_days", "n_registers", "n_register_mismatch",
        "merge_identical", "est_hll",
    )


# ---------------------------------------------------------------------------
# Exact ROC AUC via the rank-sum identity (q226): the model-eval
# primitive every quality-classifier / conversion-model deployment runs
# before trusting a score column. AUC = P(score_pos > score_neg) +
# 0.5*P(tie), computed WITHOUT a global row-level sort: scores are
# quantized to centi-units (the production form — an eval that depends
# on sub-cent score noise is measuring noise), bucketed by ONE
# aggregation, and the rank-sum runs over the bounded bucket frame.
# Tie handling is exact: each positive in a bucket beats every negative
# in strictly-lower buckets (2 half-units) and half-ties the negatives
# in its own bucket (1 half-unit), so num2 = sum_b p_b*(2*cumneg_<b
# + n_b) counts ordered pairs in half-units — the Mann-Whitney U
# statistic with the standard tie correction, exactly.

AUC_POS_TYPE = "purchase"


@register(
    "q226_roc_auc",
    oracle=f"""
    WITH b AS (
      SELECT CAST(FLOOR(value * 100.0) AS BIGINT) AS s,
             CAST(COUNT(CASE WHEN event_type = '{AUC_POS_TYPE}' THEN 1 END)
                  AS BIGINT) AS p,
             CAST(COUNT(CASE WHEN event_type <> '{AUC_POS_TYPE}' THEN 1 END)
                  AS BIGINT) AS ng
      FROM events
      GROUP BY 1
    ),
    c AS (
      SELECT p, ng,
             COALESCE(SUM(ng) OVER (
               ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS cumneg
      FROM b
    ),
    s AS (
      SELECT CAST(SUM(p) AS BIGINT) AS n_pos,
             CAST(SUM(ng) AS BIGINT) AS n_neg,
             CAST(SUM(CAST(p AS DECIMAL(19,0)) * (2 * cumneg + ng))
                  AS DECIMAL(38,0)) AS num2
      FROM c
    )
    SELECT n_pos, n_neg,
           CAST(num2 AS VARCHAR) AS num2,
           CAST(num2 AS DOUBLE)
             / (2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)) AS auc,
           2.0 * (CAST(num2 AS DOUBLE)
             / (2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE))) - 1.0
               AS gini
    FROM s
    """,
    doc="Exact ROC AUC of the event value as a purchase-vs-rest score, "
    "via the Mann-Whitney rank-sum identity with exact tie correction "
    "in integer HALF-UNITS (num2 = 2*U): no global row sort — scores "
    "quantize to centi-unit buckets in one aggregation, and the "
    "cumulative-negative window runs over the BOUNDED bucket frame "
    "(~50K rows for any corpus size, vs a 100 TB row sort). AUC and "
    "Gini are IEEE expressions of the three exact integers with "
    "identical expression trees in both dialects — bit-equal doubles. "
    "num2 <= 2*n_pos*n_neg would cross int64 past ~2e9 rows of each "
    "class, so it accumulates in DECIMAL(38,0) from the start (good to "
    "~10^19 rows per class; sums stay algebraic/mergeable).",
    tags=("events", "eval", "aggregate"),
)
def q226_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    b = ev.groupBy(
        F.expr("CAST(FLOOR(value * 100.0) AS BIGINT)").alias("s")
    ).agg(
        F.expr(
            f"CAST(COUNT(CASE WHEN event_type = '{AUC_POS_TYPE}' THEN 1 END)"
            " AS BIGINT)"
        ).alias("p"),
        F.expr(
            f"CAST(COUNT(CASE WHEN event_type <> '{AUC_POS_TYPE}' THEN 1 END)"
            " AS BIGINT)"
        ).alias("ng"),
    )
    w = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, -1)
    c = b.select(
        "p", "ng", F.coalesce(F.sum("ng").over(w), F.lit(0)).alias("cumneg")
    )
    s = c.agg(
        F.sum("p").cast("long").alias("n_pos"),
        F.sum("ng").cast("long").alias("n_neg"),
        # num2 <= 2*n_pos*n_neg crosses int64 past ~2e9 rows per class —
        # accumulate in DECIMAL(38,0) (identical tree in the oracle);
        # the window frame is bucket-bounded so the decimal cost is nil.
        F.sum(
            F.col("p").cast("decimal(19,0)")
            * (2 * F.col("cumneg") + F.col("ng"))
        ).cast("decimal(38,0)").alias("num2"),
    )
    auc = (
        "CAST(num2 AS DOUBLE)"
        " / (2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE))"
    )
    return s.select(
        "n_pos",
        "n_neg",
        # DECIMAL(38,0) renders as VARCHAR in both dialects (pandas
        # would read DuckDB's wide decimal as lossy float64)
        F.col("num2").cast("string").alias("num2"),
        F.expr(auc).alias("auc"),
        F.expr(f"2.0 * ({auc}) - 1.0").alias("gini"),
    )


# ---------------------------------------------------------------------------
# Two-sample Kolmogorov-Smirnov drift test (q236): completes the drift
# family (q173 PSI on binned proportions, q223 mixture KL) with the
# classical distribution-free test — D = sup |F_early - F_late| over
# the value distribution, early/late split at the same boundary q173
# uses so the two monitors read the same experiment. Like q226's AUC,
# the CDFs live on the BOUNDED centi-bucket frame (ppm-quantized
# cumulative proportions, exact integers), never on sorted rows — the
# D statistic a 100 TB monitor can actually compute. The asymptotic
# alpha=0.01 rejection threshold c(alpha)*sqrt((n+m)/(n*m)) with
# c(0.01)=1.62762 is evaluated as an IEEE expression of the exact
# counts — bit-equal in both engines.

KS_C001_MICRO = 1_627_620  # c(0.01) = sqrt(-ln(0.005)/2), in micro units


@register(
    "q236_ks_drift_test",
    oracle=f"""
    WITH b AS (
      SELECT CAST(FLOOR(value * 100.0) AS BIGINT) AS s,
             CAST(COUNT(CASE WHEN ts < TIMESTAMP '{PSI_SPLIT_TS}'
                             THEN 1 END) AS BIGINT) AS ce,
             CAST(COUNT(CASE WHEN ts >= TIMESTAMP '{PSI_SPLIT_TS}'
                             THEN 1 END) AS BIGINT) AS cl
      FROM events GROUP BY 1
    ),
    t AS (
      SELECT CAST(SUM(ce) AS BIGINT) AS n_early,
             CAST(SUM(cl) AS BIGINT) AS n_late
      FROM b
    ),
    cum AS (
      SELECT SUM(1000000 * b.ce // t.n_early) OVER (ORDER BY b.s)
                 AS cum_e_ppm,
             SUM(1000000 * b.cl // t.n_late) OVER (ORDER BY b.s)
                 AS cum_l_ppm
      FROM b CROSS JOIN t
    )
    SELECT t.n_early, t.n_late,
           CAST(MAX(ABS(cum_e_ppm - cum_l_ppm)) AS BIGINT) AS d_ppm,
           {KS_C001_MICRO}e-6
             * SQRT((CAST(t.n_early AS DOUBLE) + CAST(t.n_late AS DOUBLE))
                    / (CAST(t.n_early AS DOUBLE)
                       * CAST(t.n_late AS DOUBLE))) AS crit_001,
           CAST(CAST(MAX(ABS(cum_e_ppm - cum_l_ppm)) AS DOUBLE) / 1000000.0
                > {KS_C001_MICRO}e-6
                  * SQRT((CAST(t.n_early AS DOUBLE)
                          + CAST(t.n_late AS DOUBLE))
                         / (CAST(t.n_early AS DOUBLE)
                            * CAST(t.n_late AS DOUBLE)))
               AS BIGINT) AS reject_001
    FROM cum CROSS JOIN t
    GROUP BY t.n_early, t.n_late
    """,
    doc="Two-sample Kolmogorov-Smirnov drift test on the event value "
    "distribution, early vs late at q173's split boundary: D = max "
    "absolute difference of the two cumulative distributions evaluated "
    "on the bounded centi-bucket frame (ppm-quantized cumulatives, "
    "exact integers — the q226 pattern: no corpus-sized sort, the "
    "~50K-bucket frame is the only ordered object; bucket-granular D "
    "is the committed spec and a lower bound within 1 bucket mass of "
    "the row-exact statistic). The alpha=0.01 asymptotic threshold "
    "c(0.01)*sqrt((n+m)/nm) is an IEEE expression of the exact counts "
    "— bit-equal both engines. Completes the drift monitor family: "
    "PSI (q173, binned expectation ratios), mixture KL (q223, "
    "categorical), KS (distribution-free location/shape). Scale "
    "shape: one grouped count over buckets, one bounded-frame window, "
    "one scalar row out.",
    tags=("events", "anomaly", "eval"),
)
def q236_ks_drift_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    b = ev.groupBy(
        F.expr("CAST(FLOOR(value * 100.0) AS BIGINT)").alias("s")
    ).agg(
        # TIMESTAMP_NTZ literal (q173 convention): ts is TIMESTAMP_NTZ,
        # and a plain TIMESTAMP (session-TZ) literal would shift the
        # early/late split under any non-UTC session timezone.
        F.expr(
            f"CAST(COUNT(CASE WHEN ts < TIMESTAMP_NTZ '{PSI_SPLIT_TS}'"
            " THEN 1 END) AS BIGINT)"
        ).alias("ce"),
        F.expr(
            f"CAST(COUNT(CASE WHEN ts >= TIMESTAMP_NTZ '{PSI_SPLIT_TS}'"
            " THEN 1 END) AS BIGINT)"
        ).alias("cl"),
    )
    t = b.agg(
        F.sum("ce").cast("long").alias("n_early"),
        F.sum("cl").cast("long").alias("n_late"),
    )
    w = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, 0)
    cum = b.crossJoin(F.broadcast(t)).select(
        "n_early",
        "n_late",
        F.sum(F.expr("1000000 * ce div n_early")).over(w).alias("cum_e_ppm"),
        F.sum(F.expr("1000000 * cl div n_late")).over(w).alias("cum_l_ppm"),
    )
    crit = (
        f"{KS_C001_MICRO}e-6"
        " * SQRT((CAST(n_early AS DOUBLE) + CAST(n_late AS DOUBLE))"
        " / (CAST(n_early AS DOUBLE) * CAST(n_late AS DOUBLE)))"
    )
    return cum.groupBy("n_early", "n_late").agg(
        F.expr("CAST(MAX(ABS(cum_e_ppm - cum_l_ppm)) AS BIGINT)").alias(
            "d_ppm"
        ),
        F.expr(crit).alias("crit_001"),
        F.expr(
            "CAST(CAST(MAX(ABS(cum_e_ppm - cum_l_ppm)) AS DOUBLE)"
            f" / 1000000.0 > {crit} AS BIGINT)"
        ).alias("reject_001"),
    )


# ---------------------------------------------------------------------------
# Shard-mergeable histogram quantiles (q240): the fourth sketch-algebra
# proof (after q213 HLL, q219 KMV, q221 HLL-merge) — per-shard
# centi-bucket histograms merged by plain SUM reproduce the whole-stream
# histogram EXACTLY, and therefore identical bucketed quantiles. This is
# the quantile architecture that actually ships at 100 TB: each shard /
# day / partition keeps a bounded bucket->count map (mergeable, tiny),
# the global P50/P90/P99 read off the merged CDF — no global sort ever,
# and unlike rank-based exact quantiles the merge is associative so
# incremental daily rollups compose. Exactness is to bucket resolution
# (centi-units here), which is the documented contract — the identity
# below proves the MERGE is lossless, the only approximation is the
# binning itself, chosen once.

QTL_PPM = (500_000, 900_000, 990_000)  # P50 / P90 / P99


@register(
    "q240_histogram_quantile_merge",
    oracle=f"""
    WITH shard AS (
      SELECT event_type AS shard, CAST(FLOOR(value * 100.0) AS BIGINT) AS b,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2
    ),
    merged AS (
      SELECT b, CAST(SUM(cnt) AS BIGINT) AS cnt FROM shard GROUP BY b
    ),
    direct AS (
      SELECT CAST(FLOOR(value * 100.0) AS BIGINT) AS b,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1
    ),
    mcdf AS (
      SELECT b, SUM(cnt) OVER (ORDER BY b) AS cum,
             SUM(cnt) OVER () AS n FROM merged
    ),
    dcdf AS (
      SELECT b, SUM(cnt) OVER (ORDER BY b) AS cum,
             SUM(cnt) OVER () AS n FROM direct
    ),
    mq AS (
      SELECT q.ppm, MIN(b) AS qb
      FROM mcdf CROSS JOIN (VALUES {", ".join(f"({p})" for p in QTL_PPM)})
          AS q(ppm)
      WHERE 1000000 * cum >= q.ppm * n GROUP BY q.ppm
    ),
    dq AS (
      SELECT q.ppm, MIN(b) AS qb
      FROM dcdf CROSS JOIN (VALUES {", ".join(f"({p})" for p in QTL_PPM)})
          AS q(ppm)
      WHERE 1000000 * cum >= q.ppm * n GROUP BY q.ppm
    )
    SELECT CAST(mq.ppm AS BIGINT) AS ppm,
           CAST(mq.qb AS BIGINT) AS merged_bucket_centi,
           CAST(dq.qb AS BIGINT) AS direct_bucket_centi,
           CAST(mq.qb = dq.qb AS BIGINT) AS merge_identity_holds
    FROM mq JOIN dq ON dq.ppm = mq.ppm
    """,
    doc="Shard-mergeable histogram quantiles with an in-query merge-"
    "identity proof: per-event_type centi-bucket histograms (the shard "
    "sketches a 100 TB deployment keeps per partition/day) merged by "
    "SUM, the global P50/P90/P99 read off the merged cumulative "
    "histogram — and, in the same result, the direct whole-stream "
    "bucketed quantiles, with a per-quantile equality flag proving the "
    "merge is LOSSLESS (associative integer sums; the only "
    "approximation is the bucket width, chosen once). Quantile rule: "
    "smallest bucket whose cumulative count reaches ppm*n / 1e6, exact "
    "integer comparison (1e6*cum vs ppm*n: cum <= n so the left side "
    "crosses int64 only past 9.2e12 rows; n*ppm <= 1e6*n, same bound). "
    "Scale shape: two grouped counts (map-side combined), windows over "
    "the BOUNDED bucket frame (~56K rows at any corpus size — the "
    "histogram-CDF pattern), a 3-row join out. Unlike percentile_approx "
    "(q82, rows-only) this is hash-exact in both engines AND "
    "shard-composable: day N+1's histogram SUM-merges into the rollup "
    "without touching history.",
    tags=("events", "sketch", "window", "aggregate"),
)
def q240_histogram_quantile_merge(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    shard = ev.groupBy(
        F.col("event_type").alias("shard"),
        F.expr("CAST(FLOOR(value * 100.0) AS BIGINT)").alias("b"),
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    merged = shard.groupBy("b").agg(F.sum("cnt").cast("long").alias("cnt"))
    direct = ev.groupBy(
        F.expr("CAST(FLOOR(value * 100.0) AS BIGINT)").alias("b")
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    wcum = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    qs = spark.range(1).selectExpr(
        f"explode(array({', '.join(str(p) + 'L' for p in QTL_PPM)})) AS ppm"
    )

    def cdf_quantiles(b: DataFrame, out: str) -> DataFrame:
        cdf = b.select(
            "b",
            F.sum("cnt").over(wcum).alias("cum"),
            F.sum("cnt").over(wall).alias("n"),
        )
        return (
            cdf.crossJoin(F.broadcast(qs))
            .filter(F.expr("1000000 * cum >= ppm * n"))
            .groupBy("ppm")
            .agg(F.min("b").cast("long").alias(out))
        )

    mq = cdf_quantiles(merged, "merged_bucket_centi")
    dq = cdf_quantiles(direct, "direct_bucket_centi")
    return mq.join(dq, "ppm").select(
        F.col("ppm").cast("long").alias("ppm"),
        "merged_bucket_centi",
        "direct_bucket_centi",
        (F.col("merged_bucket_centi") == F.col("direct_bucket_centi"))
        .cast("long")
        .alias("merge_identity_holds"),
    )


# ---------------------------------------------------------------------------
# Deterministic KLL-style quantile sketch (q241): the value-domain-free
# sibling of q240's fixed-width histogram. q240's merge is lossless but
# needs a bucket width chosen once per metric; the KLL/MRL compactor
# family (operators/kll.py — deterministic variant of the DataSketches
# KLL) needs NOTHING about the value domain and certifies a worst-case
# rank error it carries as an exact integer budget. The query is its own
# proof harness: per-shard sketches built distributedly (Arrow grouped
# map), merged on the driver, and the merged estimates checked IN-QUERY
# against exact ranks from the full histogram — the certified flag is
# the committed merge proof.

KLL_K = 256  # compactor capacity: worst-case rank error ~ 2e6/K ppm
# Shard key = (event_type, event_id mod KLL_SHARD_BUCKETS): the grouped
# map materializes ONE SHARD per pandas group, so shard granularity —
# not stream size — bounds worker memory; a deployment sizes the bucket
# count to its partition volume (the merge is grouping-invariant in its
# guarantee, so finer sharding costs nothing but a few more tiny
# sketches to merge).
KLL_SHARD_BUCKETS = 16


def centi_shards(events: DataFrame) -> DataFrame:
    """The sketch input projection over events with a value: (shard, c)
    with shard = event_type x event_id mod KLL_SHARD_BUCKETS and c the
    value on the centi-unit grid."""
    return events.filter(F.col("value").isNotNull()).select(
        F.expr(
            f"concat(event_type, '#', CAST(event_id % {KLL_SHARD_BUCKETS}"
            " AS STRING))"
        ).alias("shard"),
        F.expr("CAST(FLOOR(value * 100.0) AS BIGINT)").alias("c"),
    )


@register(
    "q241_kll_quantile_sketch",
    oracle=None,  # compactor internals aren't SQL-expressible: declared
    # rows-only (the q38/q82 convention); the certification columns are
    # the in-query proof, and tests/test_kll.py value-checks the sketch
    # against a pure-Python reference plus exact ranks.
    doc=f"Deterministic KLL/MRL quantile sketch over floor(value*100) "
    f"centi-units, K={KLL_K}: one bounded sketch per event_type shard "
    "(applyInPandas — each shard's sorted buffer hierarchy compacts by "
    "keeping the second of each adjacent pair, weight doubling per "
    "level), merged on the driver by per-level concatenation + "
    "re-compaction. Every compaction adds its level weight 2^h to an "
    "exact integer error budget; the output certifies, per quantile, "
    "that |sketch_rank(estimate) - true_rank(estimate)| <= budget "
    "(certified=1) and that the merged sketch's total weight equals the "
    "stream count exactly (weight_preserved=1) — the self-certifying "
    "merge contract that makes the sketch safe to roll up shard-by-"
    "shard at 100 TB without ever re-reading history. true_rank / "
    "exact_centi come from the exact bounded centi-histogram (the q240 "
    "frame) and exist only as the proof harness; production reads the "
    "sketch alone. Scale shape: one grouped-map pass builds shard "
    "sketches of <= ~K*log2(n/K) retained items each; only sketches "
    "travel to the driver.",
    tags=("events", "sketch", "quantile"),
)
def q241_kll_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from ..operators.kll import (
        merge_sketches,
        rows_to_sketches,
        shard_sketch_rows,
        sketch_items,
        sketch_quantile,
        sketch_rank,
        total_weight,
    )

    events = load_table(spark, sf_dir, "events")
    sk_rows = shard_sketch_rows(centi_shards(events), KLL_K).collect()
    merged, budget = merge_sketches(rows_to_sketches(sk_rows), KLL_K)

    # exact side (proof harness only): the bounded centi-bucket histogram
    hist = (
        events.filter(F.col("value").isNotNull())
        .groupBy(
            F.expr("CAST(FLOOR(value * 100.0) AS BIGINT)").alias("b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .orderBy("b")
        .collect()
    )
    bs = np.asarray([r["b"] for r in hist], dtype=np.int64)
    cum = np.cumsum(np.asarray([r["cnt"] for r in hist], dtype=np.int64))
    n = int(cum[-1]) if len(cum) else 0

    schema = (
        "ppm long, est_centi long, exact_centi long, est_rank long, "
        "true_rank long, budget long, certified long, "
        "weight_preserved long, n_total long, retained_items long"
    )
    if n == 0:
        # empty stream (fresh partition / filtered-out day): no shard
        # groups exist, so there is no sketch and no quantiles — an
        # empty result with the declared schema, like every aggregate
        # over nothing.
        return rows_frame(spark, [], schema)

    out = []
    for ppm in QTL_PPM:
        est = sketch_quantile(merged, ppm)
        i_exact = int(np.searchsorted(1_000_000 * cum, ppm * n, "left"))
        exact = int(bs[min(i_exact, len(bs) - 1)])
        j = int(np.searchsorted(bs, est, "right"))
        true_rank = int(cum[j - 1]) if j else 0
        est_rank = sketch_rank(merged, est)
        out.append(
            (
                ppm,
                est,
                exact,
                est_rank,
                true_rank,
                budget,
                1 if abs(est_rank - true_rank) <= budget else 0,
                1 if total_weight(merged) == n else 0,
                n,
                sketch_items(merged),
            )
        )
    return rows_frame(spark, out, schema)
