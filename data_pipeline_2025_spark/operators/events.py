"""Event-stream analytics (batch view) — the time-series semantics
the reference's ingest encodes (SURVEY.md §2.9 T2/T5: event time vs
processing time, provenance, per-item fan-out) plus the windowed
history patterns (§2.5 W2).

The same aggregations run under Structured Streaming in
streaming/windowed.py; here they run as batch over the events table
so the driver can oracle-check them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..artifacts import call_scratch, materialize
from ..catalog import Catalog
from ..functions.money import dec, money_out, to_double
from ..registry import register
from ..streaming import txn

_ORACLE_Q21 = """
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
       event_type,
       COUNT(*)                 AS n,
       COUNT(DISTINCT user_id)  AS users,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS total_value_d
FROM events
GROUP BY day, event_type
ORDER BY day, event_type
"""


@register(
    "q21_events_daily",
    oracle=_ORACLE_Q21,
    doc="Daily per-type event rollup: counts, distinct users, exact "
    "money sum (F5 date funcs + A2 counts).",
    tags=("events", "agg", "time"),
)
def q21_events_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    return (
        cat.events.groupBy(
            F.date_trunc("day", F.col("ts")).alias("day"), F.col("event_type")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("user_id").alias("users"),
            money_out(F.sum(dec("value"))).alias("total_value_d"),
        )
        .orderBy("day", "event_type")
    )


_ORACLE_Q22 = """
SELECT event_id, user_id,
       CAST(row_number() OVER w AS INTEGER) AS rn,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS DOUBLE) AS running_value_d
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


@register(
    "q22_user_running_totals",
    oracle=_ORACLE_Q22,
    doc="Per-user ordered window: row_number + exact running sum "
    "(W2-shaped ordered history).",
    tags=("events", "window"),
)
def q22_user_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return cat.events.select(
        "event_id",
        "user_id",
        F.row_number().over(w).alias("rn"),
        to_double(F.sum(dec("value")).over(wsum)).alias("running_value_d"),
    )


_ORACLE_Q23 = """
SELECT user_id,
       COUNT(*) AS events,
       CAST(SUM(gap_us) AS DOUBLE) / COUNT(*) AS avg_gap_us_d
FROM (
    SELECT user_id,
           epoch_us(ts) - lag(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
           ) AS gap_us
    FROM events
)
WHERE gap_us IS NOT NULL
GROUP BY user_id
ORDER BY user_id
"""


@register(
    "q23_event_gaps",
    oracle=_ORACLE_Q23,
    doc="lag() inter-event gap per user in exact microseconds → "
    "average (sessionization building block).",
    tags=("events", "window", "lag"),
)
def q23_event_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    gaps = cat.events.select(
        "user_id", (us - F.lag(us).over(w)).alias("gap_us")
    ).where(F.col("gap_us").isNotNull())
    return (
        gaps.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("events"),
            (to_double(F.sum("gap_us")) / F.count(F.lit(1))).alias("avg_gap_us_d"),
        )
        .orderBy("user_id")
    )


_ORACLE_Q24 = """
SELECT user_id,
       COUNT(*) AS n,
       CAST(SUM(CASE WHEN event_type = 'signup'   THEN 1 ELSE 0 END) AS BIGINT) AS signups,
       CAST(SUM(CASE WHEN event_type = 'view'     THEN 1 ELSE 0 END) AS BIGINT) AS views,
       CAST(SUM(CASE WHEN event_type = 'click'    THEN 1 ELSE 0 END) AS BIGINT) AS clicks,
       CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchases,
       CAST(SUM(CASE WHEN event_type = 'error'    THEN 1 ELSE 0 END) AS BIGINT) AS errors,
       CAST(json_extract(props, '$.k') AS BIGINT) IS NOT NULL   AS has_k
FROM events
GROUP BY user_id, has_k
ORDER BY user_id, has_k
"""


@register(
    "q24_user_event_pivot",
    oracle=_ORACLE_Q24,
    doc="Conditional-count pivot per user + JSON props extraction "
    "(F8 json handling; raw_data JSONB analog).",
    tags=("events", "pivot", "json"),
)
def q24_user_event_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)

    def cnt(t: str):
        return F.sum(F.when(F.col("event_type") == t, 1).otherwise(0)).alias(t + "s")

    has_k = F.get_json_object(F.col("props"), "$.k").cast("bigint").isNotNull()
    return (
        cat.events.withColumn("has_k", has_k)
        .groupBy("user_id", "has_k")
        .agg(
            F.count(F.lit(1)).alias("n"),
            cnt("signup"),
            cnt("view"),
            cnt("click"),
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
                "purchases"
            ),
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias(
                "errors"
            ),
        )
        .select(
            "user_id", "n", "signups", "views", "clicks", "purchases", "errors", "has_k"
        )
        .orderBy("user_id", "has_k")
    )


# --------------------------------------- continuous aggregate (q75)
#
# The TimescaleDB continuous-aggregate / lambda pattern Spark-style:
# history is served from a MATERIALIZED hourly rollup (a txn table,
# partitioned by day — time-scoped reads prune at the file index),
# only the live tail is aggregated from raw events at query time.
# The split is on an hour boundary, so no output window straddles
# the two sides and the union needs no re-aggregation. At 100 TB the
# refresh is the streaming ingest appending each newly closed hour
# (same foreachBatch seam as the silver sink); the query cost is
# O(materialized hours read + tail events), not O(history).
# The oracle is the PLAIN hourly rollup over all events — proving
# materialized + tail composes to exactly the direct answer.

CAGG_SPLIT = "2024-01-24 00:00:00"


def _hourly(df: DataFrame) -> DataFrame:
    return (
        df.groupBy(
            F.date_trunc("hour", "ts").alias("window_start"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            money_out(F.sum(dec("value"))).alias("total_value_d"),
        )
    )


_ORACLE_Q75 = """
SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
       event_type,
       COUNT(*) AS n,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS total_value_d
FROM events
GROUP BY window_start, event_type
ORDER BY window_start, event_type
"""


@register(
    "q75_continuous_aggregate",
    oracle=_ORACLE_Q75,
    doc="Continuous-aggregate pattern: materialized hourly rollup "
    "(txn table partitioned by day) for history + query-time "
    "aggregation of the live tail only, hour-aligned split — the "
    "union equals the direct rollup exactly (oracle-proved).",
    tags=("events", "gold", "continuous-aggregate"),
)
def q75_continuous_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    split = F.lit(CAGG_SPLIT).cast("timestamp")
    path = materialize(
        sf_dir,
        "events_hourly_cagg",
        lambda: _hourly(cat.events.where(F.col("ts") < split)).withColumn(
            "day", F.to_date("window_start")
        ),
        partition_by=("day",),
    )
    materialized = txn.read_committed(spark, path).drop("day")
    tail = _hourly(cat.events.where(F.col("ts") >= split))
    return materialized.unionByName(tail).orderBy("window_start", "event_type")


# ------------------------------------------------- q84: ordered funnel
#
# Ordered funnel conversion: signup → first view AFTER the signup →
# first purchase AFTER that view, per user. Three conditional-min
# aggregations all keyed by user_id, so Catalyst reuses ONE hash
# shuffle end-to-end (same plan discipline as q80); the stage-k
# timestamp feeds stage k+1 as a rejoin-free chained aggregate.
_ORACLE_Q84 = """
WITH s AS (
    SELECT user_id, MIN(ts) AS s_ts FROM events
    WHERE event_type = 'signup' GROUP BY user_id
),
v AS (
    SELECT e.user_id, MIN(e.ts) AS v_ts
    FROM events e JOIN s ON s.user_id = e.user_id
    WHERE e.event_type = 'view' AND e.ts > s.s_ts
    GROUP BY e.user_id
),
p AS (
    SELECT e.user_id, MIN(e.ts) AS p_ts
    FROM events e JOIN v ON v.user_id = e.user_id
    WHERE e.event_type = 'purchase' AND e.ts > v.v_ts
    GROUP BY e.user_id
)
SELECT CAST((SELECT COUNT(*) FROM s) AS BIGINT) AS n_signed_up,
       CAST((SELECT COUNT(*) FROM v) AS BIGINT) AS n_viewed_after,
       CAST((SELECT COUNT(*) FROM p) AS BIGINT) AS n_purchased_after,
       round(CAST((SELECT COUNT(*) FROM p) AS DOUBLE)
             / (SELECT COUNT(*) FROM s), 6) AS conversion
"""


@register(
    "q84_event_funnel",
    oracle=_ORACLE_Q84,
    doc="Ordered funnel: signup → first view after it → first "
    "purchase after that, per user; stage counts + end-to-end "
    "conversion. Stage-chained conditional mins, all keyed by "
    "user_id — one logical shuffle key through the whole funnel.",
    tags=("events", "funnel", "agg"),
)
def q84_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    e = cat.events.select("user_id", "event_type", "ts")
    s = (
        e.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("s_ts"))
    )
    v = (
        e.where(F.col("event_type") == "view")
        .join(s, "user_id")
        .where(F.col("ts") > F.col("s_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("v_ts"))
    )
    p = (
        e.where(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .where(F.col("ts") > F.col("v_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("p_ts"))
    )
    counts = (
        s.agg(F.count(F.lit(1)).alias("n_signed_up"))
        .crossJoin(v.agg(F.count(F.lit(1)).alias("n_viewed_after")))
        .crossJoin(p.agg(F.count(F.lit(1)).alias("n_purchased_after")))
    )
    return counts.select(
        "n_signed_up",
        "n_viewed_after",
        "n_purchased_after",
        F.round(
            F.col("n_purchased_after").cast("double") / F.col("n_signed_up"), 6
        ).alias("conversion"),
    )


# ------------------------------------------------ q99: cohort retention
#
# Classic retention triangle: users cohorted by first-active day,
# retention at day offsets 0..7. Scale shape: ONE shuffle on user_id
# produces both the cohort assignment (min day) and the distinct
# active days; the per-(cohort, offset) rollup then shuffles the
# already user-deduplicated day grid — O(users x active days), never
# O(events) — and the output is bounded by days x 8. Both count
# aggregations are partial-aggregatable.
_ORACLE_Q99 = """
WITH days AS (
    SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day
    FROM events
),
cohort AS (
    SELECT user_id, MIN(day) AS cohort_day FROM days GROUP BY user_id
),
sizes AS (
    SELECT cohort_day, COUNT(*) AS cohort_size FROM cohort GROUP BY cohort_day
),
act AS (
    SELECT c.cohort_day,
           date_diff('day', c.cohort_day, d.day) AS offset_days,
           COUNT(DISTINCT d.user_id) AS active_users
    FROM days d JOIN cohort c USING (user_id)
    WHERE date_diff('day', c.cohort_day, d.day) <= 7
    GROUP BY 1, 2
)
SELECT a.cohort_day,
       CAST(a.offset_days AS BIGINT)  AS offset_days,
       CAST(a.active_users AS BIGINT) AS active_users,
       CAST(s.cohort_size AS BIGINT)  AS cohort_size,
       round(CAST(a.active_users AS DOUBLE) / s.cohort_size, 6) AS retention
FROM act a JOIN sizes s USING (cohort_day)
ORDER BY cohort_day, offset_days
"""


@register(
    "q99_cohort_retention",
    oracle=_ORACLE_Q99,
    doc="Retention triangle: users cohorted by first-active day, "
    "distinct-user retention at offsets 0..7 with cohort sizes and "
    "ratios. One user_id shuffle feeds cohorting and activity; the "
    "rollup works on the deduplicated user-day grid, not raw events.",
    tags=("events", "cohort", "agg"),
)
def q99_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    # One events scan, two data-sized exchanges. The cohort day is a
    # min-window over the deduplicated user-day grid (REUSES the
    # grid's user_id hash partitioning — no extra exchange, no
    # second scan to build a cohort dimension); the cohort size
    # needs no separate subtree either: every user is active at
    # offset 0, so size == active_users(offset 0), lifted with a
    # max-window over the O(days x 8) rollup. Each user contributes
    # at most one row per (cohort, offset), so a plain count
    # replaces count-distinct (no Expand).
    cat = Catalog(spark, sf_dir)
    days = cat.events.select(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).distinct()
    wuser = Window.partitionBy("user_id")
    act = (
        days.withColumn("cohort_day", F.min("day").over(wuser))
        .withColumn(
            "offset_days", F.datediff(F.col("day"), F.col("cohort_day")).cast("bigint")
        )
        .where(F.col("offset_days") <= 7)
        .groupBy("cohort_day", "offset_days")
        .agg(F.count(F.lit(1)).alias("active_users"))
    )
    wcohort = Window.partitionBy("cohort_day")
    size = F.max(
        F.when(F.col("offset_days") == 0, F.col("active_users"))
    ).over(wcohort)
    return (
        act.withColumn("cohort_size", size)
        .select(
            "cohort_day",
            "offset_days",
            "active_users",
            "cohort_size",
            F.round(
                F.col("active_users").cast("double") / F.col("cohort_size"), 6
            ).alias("retention"),
        )
        .orderBy("cohort_day", "offset_days")
    )


# --------------------------------------- q100: event transition matrix
#
# First-order Markov transition counts over each user's ordered event
# stream: lag() pairs (prev -> next), counted globally, with the
# conditional probability in exact integer ppm (n*1e6 DIV row-total —
# integral division, so both engines compute the identical integer;
# no float division in the hot path). Scale shape: the lag window
# shuffles once on user_id (same key every per-user op here uses);
# the pair count is map-side combinable into an O(|types|^2) output,
# and the per-prev totals are a window over that tiny grouped frame.
_ORACLE_Q100 = """
WITH pairs AS (
    SELECT lag(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
           ) AS prev_type,
           event_type AS next_type
    FROM events
),
counts AS (
    SELECT prev_type, next_type, COUNT(*) AS n
    FROM pairs WHERE prev_type IS NOT NULL
    GROUP BY prev_type, next_type
)
SELECT prev_type, next_type, CAST(n AS BIGINT) AS n,
       CAST((n * 1000000) // SUM(n) OVER (PARTITION BY prev_type) AS BIGINT)
           AS p_ppm
FROM counts
ORDER BY prev_type, next_type
"""


@register(
    "q100_event_transitions",
    oracle=_ORACLE_Q100,
    doc="First-order Markov transition matrix over per-user ordered "
    "event streams: lag() pairing, global pair counts, conditional "
    "probability in exact integer ppm. One user_id shuffle; "
    "O(|types|^2) output.",
    tags=("events", "window", "markov"),
)
def q100_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = cat.events.select(
        F.lag("event_type").over(w).alias("prev_type"),
        F.col("event_type").alias("next_type"),
    ).where(F.col("prev_type").isNotNull())
    counts = pairs.groupBy("prev_type", "next_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = F.sum("n").over(Window.partitionBy("prev_type"))
    return counts.select(
        "prev_type",
        "next_type",
        "n",
        F.expr("n * 1000000").alias("_n6"),
        tot.alias("_tot"),
    ).select(
        "prev_type",
        "next_type",
        "n",
        F.expr("CAST(_n6 DIV _tot AS BIGINT)").alias("p_ppm"),
    ).orderBy("prev_type", "next_type")


# -------------------------------------- q105: hopping (sliding) windows
#
# Overlapping time windows as a first-class batch operator: 1-hour
# windows hopping every 15 minutes (each event lands in exactly 4
# windows). The Spark side is the NATIVE F.window(ts, '1 hour',
# '15 minutes') — the same operator Structured Streaming uses for
# windowed aggregations (q50), here oracle-checked in batch. The
# oracle expands each event to its 4 covering slots with exact
# integer epoch-microsecond arithmetic — 900s divides 1h, so both
# engines' epoch-aligned slots coincide. Scale shape: constant 4x
# fan-out (a projection, not a join), then one map-side-combinable
# groupBy on the slot; state O(active windows).
_ORACLE_Q105 = """
WITH slots AS (
    SELECT make_timestamp(((epoch_us(ts) // 900000000) - k) * 900000000)
               AS window_start,
           user_id, value
    FROM events, range(4) t(k)
)
SELECT window_start,
       CAST(COUNT(*) AS BIGINT)                AS n,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS users,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE)
                                               AS total_value_d
FROM slots
GROUP BY window_start
ORDER BY window_start
"""


@register(
    "q105_hopping_windows",
    oracle=_ORACLE_Q105,
    doc="Hopping-window rollup: native F.window(1 hour, 15 min) — "
    "each event in exactly 4 epoch-aligned windows; counts, distinct "
    "users, exact money sum per window. Constant fan-out projection "
    "+ one combinable shuffle; the same operator the streaming path "
    "uses, oracle-checked in batch.",
    tags=("events", "window", "time"),
)
def q105_hopping_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    return (
        cat.events.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("user_id").alias("users"),
            money_out(F.sum(dec("value"))).alias("total_value_d"),
        )
        .select(F.col("w.start").alias("window_start"), "n", "users", "total_value_d")
        .orderBy("window_start")
    )


# ----------------------------- q110: time-decayed (EWMA-style) value
#
# Exponentially time-decayed per-user value with a 1-day half-life,
# in EXACT dyadic arithmetic: weight(age) = 2^(HORIZON-age) for
# age <= HORIZON days (older events weigh 0 — a documented cutoff),
# so every weighted cent is a bigint and the per-user sum is exact.
# The final scaling divides by 2^HORIZON — a pure exponent shift,
# IEEE-exact after one deterministic bigint→double rounding — so no
# float accumulates anywhere. Scale shape: the reference day is a
# one-row broadcast scalar; the weight is a row-local function; ONE
# map-side-combinable groupBy on user_id. This is the standard
# decayed-counter trick with a fixed rebase time (a serving system
# re-bases periodically instead of multiplying per read).

DECAY_HORIZON_DAYS = 20


_ORACLE_Q110 = f"""
WITH ref AS (SELECT MAX(CAST(ts AS DATE)) AS ref_day FROM events),
w AS (
    SELECT user_id,
           CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
           date_diff('day', CAST(ts AS DATE), ref.ref_day) AS age
    FROM events, ref
)
SELECT user_id,
       CAST(SUM(CASE WHEN age <= {DECAY_HORIZON_DAYS} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_recent,
       CAST(SUM(cents * (CASE WHEN age <= {DECAY_HORIZON_DAYS}
                              THEN CAST(1 AS BIGINT) << ({DECAY_HORIZON_DAYS} - age)
                              ELSE 0 END)) AS BIGINT) AS decayed_num,
       CAST(SUM(cents * (CASE WHEN age <= {DECAY_HORIZON_DAYS}
                              THEN CAST(1 AS BIGINT) << ({DECAY_HORIZON_DAYS} - age)
                              ELSE 0 END)) AS DOUBLE)
           / {1 << DECAY_HORIZON_DAYS} AS decayed_cents_d
FROM w
GROUP BY user_id
ORDER BY user_id
"""


@register(
    "q110_time_decayed_value",
    oracle=_ORACLE_Q110,
    doc="Per-user exponentially time-decayed value (1-day half-life, "
    "20-day horizon) in exact dyadic integer arithmetic — weighted "
    "cents are bigints, the final 2^-20 scale is an IEEE-exact "
    "exponent shift. One combinable user_id groupBy; broadcast "
    "scalar reference day.",
    tags=("events", "decay", "agg"),
)
def q110_time_decayed_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    ref = cat.events.agg(F.max(F.to_date("ts")).alias("ref_day"))
    h = DECAY_HORIZON_DAYS
    age = F.datediff(F.col("ref_day"), F.to_date("ts"))
    wgt = F.when(
        age <= h,
        F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST({h} - datediff(ref_day, to_date(ts)) AS INT))"),
    ).otherwise(F.lit(0).cast("bigint"))
    cents = (dec("value") * 100).cast("bigint")
    return (
        cat.events.crossJoin(F.broadcast(ref))
        .select(
            "user_id",
            (age <= h).cast("bigint").alias("recent"),
            (cents * wgt).alias("wcents"),
        )
        .groupBy("user_id")
        .agg(
            F.sum("recent").alias("n_recent"),
            F.sum("wcents").alias("decayed_num"),
        )
        .select(
            "user_id",
            "n_recent",
            "decayed_num",
            (F.col("decayed_num").cast("double") / F.lit(float(1 << h))).alias(
                "decayed_cents_d"
            ),
        )
        .orderBy("user_id")
    )


# ---------------------- q117: new vs returning daily activity split
#
# The daily-growth report: DAU split into first-ever-day users vs
# returning, plus the cumulative user count — q99's cohort machinery
# pointed at the other standard dashboard. Same scale shape as q99:
# ONE events scan, the user-day grid deduplicated on the user_id
# partitioning that the first-day min-window then reuses (no second
# exchange, no self-join against a "first seen" dimension); the day
# rollup is map-side combinable and the cumulative sum runs over the
# O(days) frame.
_ORACLE_Q117 = """
WITH ud AS (
    SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day
    FROM events
),
fs AS (
    SELECT user_id, day, MIN(day) OVER (PARTITION BY user_id) AS first_day
    FROM ud
),
byday AS (
    SELECT day,
           CAST(COUNT(*) AS BIGINT) AS dau,
           CAST(SUM(CASE WHEN day = first_day THEN 1 ELSE 0 END) AS BIGINT)
               AS new_users
    FROM fs GROUP BY day
)
SELECT day, dau, new_users,
       dau - new_users AS returning_users,
       CAST(SUM(new_users) OVER (
           ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS BIGINT) AS cumulative_users
FROM byday
ORDER BY day
"""


@register(
    "q117_new_vs_returning",
    oracle=_ORACLE_Q117,
    doc="Daily active users split new vs returning + cumulative "
    "reach: dedup grid and first-day min-window share one user_id "
    "partitioning; day rollup map-side combinable; cumsum over the "
    "O(days) frame.",
    tags=("events", "window", "growth"),
)
def q117_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    ud = cat.events.select(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).distinct()
    first_day = F.min("day").over(Window.partitionBy("user_id"))
    byday = (
        ud.withColumn("is_new", (F.col("day") == first_day).cast("bigint"))
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("dau"),
            F.sum("is_new").alias("new_users"),
        )
    )
    wd = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return byday.select(
        "day",
        "dau",
        "new_users",
        (F.col("dau") - F.col("new_users")).alias("returning_users"),
        F.sum("new_users").over(wd).alias("cumulative_users"),
    ).orderBy("day")


# ------------- q127: trailing 7-day RANGE-frame rolling aggregate
#
# The time-based window frame (RANGE BETWEEN 6 DAYS PRECEDING AND
# CURRENT ROW) — a different operator from row-count frames (q22)
# and from hop/session windows (q105/q106): each user-day's value
# depends on a VARIABLE number of preceding rows selected by
# time distance. Computed over the deduplicated user-day grid
# (events pre-aggregated per day first, so the frame scans O(7)
# grid rows, not O(events)); integer epoch-day ordering makes the
# range predicate exact in both engines. One user_id exchange
# shared by the grid dedup and the window.
_ORACLE_Q127 = """
WITH byday AS (
    SELECT user_id,
           date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events
    GROUP BY user_id, d
)
SELECT user_id,
       DATE '1970-01-01' + CAST(d AS INTEGER) AS day,
       n,
       CAST(SUM(n) OVER (
           PARTITION BY user_id ORDER BY d
           RANGE BETWEEN 6 PRECEDING AND CURRENT ROW
       ) AS BIGINT) AS trailing_7d
FROM byday
ORDER BY user_id, day
"""


@register(
    "q127_trailing_range_window",
    oracle=_ORACLE_Q127,
    doc="Trailing 7-day rolling count per user via a RANGE frame "
    "over integer epoch-days — computed on the pre-aggregated "
    "user-day grid (frame scans O(7) grid rows, never raw events); "
    "one user_id exchange end-to-end.",
    tags=("events", "window", "range-frame"),
)
def q127_trailing_range_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    byday = (
        cat.events.select(
            "user_id",
            F.datediff(F.to_date("ts"), F.lit("1970-01-01")).alias("d"),
        )
        .groupBy("user_id", "d")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("user_id").orderBy("d").rangeBetween(-6, 0)
    epoch = F.lit("1970-01-01").cast("date")
    return (
        byday.select(
            "user_id",
            F.date_add(epoch, F.col("d").cast("int")).alias("day"),
            "n",
            F.sum("n").over(w).alias("trailing_7d"),
        )
        .orderBy("user_id", "day")
    )


# ----------------------- q128: calendar gapfill + LOCF interpolation
#
# The time-series "gapfill" operator (TimescaleDB's
# time_bucket_gapfill + locf): a DENSE calendar spine per event
# type, missing days filled by carrying the last observation
# forward, plus the staleness age. Scale shape: the spine is
# types × days — generated from ONE broadcast min/max row, never a
# range join; the LOCF is last_value(ignorenulls) over the spine
# ordered by day (O(days) frame per type); the daily observations
# aggregate map-side first. The carried metric is the day's max
# event_id — an exact integer "level" both engines agree on.
_ORACLE_Q128 = """
WITH obs AS (
    SELECT event_type,
           date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
           CAST(MAX(event_id) AS BIGINT) AS level
    FROM events
    GROUP BY event_type, d
),
bounds AS (SELECT MIN(d) AS lo, MAX(d) AS hi FROM obs),
spine AS (
    SELECT t.event_type, g.d
    FROM (SELECT DISTINCT event_type FROM obs) t
    CROSS JOIN (SELECT UNNEST(range((SELECT lo FROM bounds),
                                    (SELECT hi FROM bounds) + 1)) AS d) g
),
filled AS (
    SELECT s.event_type, s.d, o.level,
           MAX(CASE WHEN o.level IS NOT NULL THEN s.d END) OVER (
               PARTITION BY s.event_type ORDER BY s.d
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS last_obs_d,
           last_value(o.level IGNORE NULLS) OVER (
               PARTITION BY s.event_type ORDER BY s.d
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS locf_level
    FROM spine s LEFT JOIN obs o ON o.event_type = s.event_type AND o.d = s.d
)
SELECT event_type,
       DATE '1970-01-01' + CAST(d AS INTEGER) AS day,
       CAST(level AS BIGINT) AS observed_level,
       CAST(locf_level AS BIGINT) AS locf_level,
       CAST(d - last_obs_d AS BIGINT) AS staleness_days
FROM filled
WHERE locf_level IS NOT NULL
ORDER BY event_type, day
"""


@register(
    "q128_gapfill_locf",
    oracle=_ORACLE_Q128,
    doc="Dense calendar gapfill + last-observation-carried-forward "
    "with staleness age (the time_bucket_gapfill/locf hypertable "
    "operator): spine from ONE broadcast bounds row (never a range "
    "join), LOCF via last_value(ignorenulls) over the O(days) "
    "spine; daily observations pre-aggregated map-side.",
    tags=("events", "timeseries", "gapfill"),
)
def q128_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    obs = (
        cat.events.select(
            "event_type",
            F.datediff(F.to_date("ts"), F.lit("1970-01-01")).alias("d"),
            "event_id",
        )
        .groupBy("event_type", "d")
        .agg(F.max("event_id").alias("level"))
    )
    bounds = obs.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
    types = obs.select("event_type").distinct()
    spine = types.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("d"),
    )
    filled = spine.join(obs, ["event_type", "d"], "left")
    wloc = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    last_obs_d = F.max(
        F.when(F.col("level").isNotNull(), F.col("d"))
    ).over(wloc)
    locf = F.last("level", ignorenulls=True).over(wloc)
    epoch = F.lit("1970-01-01").cast("date")
    return (
        filled.select(
            "event_type",
            F.date_add(epoch, F.col("d").cast("int")).alias("day"),
            F.col("level").alias("observed_level"),
            locf.alias("locf_level"),
            (F.col("d") - last_obs_d).cast("bigint").alias("staleness_days"),
        )
        .where(F.col("locf_level").isNotNull())
        .orderBy("event_type", "day")
    )


# ------------------ q141: schema-evolution read (mergeSchema)
#
# The lakehouse schema-evolution story: a sink written over time by
# producers on DIFFERENT schema versions (v1 lacks the `props`
# column, v2 has it) must still read as ONE table — Spark's
# mergeSchema unions the file schemas and null-fills the missing
# column for v1 files. The fixture is deterministic (even event_ids
# written without props, odd with), so the oracle reproduces the
# same semantics from the original table: props visible only for
# odd ids. The aggregation proves the null-filling is real, not
# just schema cosmetics. Scale note: mergeSchema's footer-union
# costs one extra listing pass; production pins the merged schema
# in a catalog after the first read (here: read once, supply
# explicitly).
_ORACLE_Q141 = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN event_id % 2 = 1 AND props IS NOT NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS with_props,
       CAST(SUM(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS v1_rows
FROM events
GROUP BY event_type
ORDER BY event_type
"""


@register(
    "q141_schema_evolution_read",
    oracle=_ORACLE_Q141,
    doc="Schema evolution: a sink written by two producer versions "
    "(v1 without `props`, v2 with) read as ONE table via "
    "mergeSchema — v1 rows null-filled, proven by aggregation "
    "against semantics reproduced from the original table.",
    tags=("source", "schema-evolution"),
)
def q141_schema_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    sink = call_scratch(spark, sf_dir, "q141")
    events = Catalog(spark, sf_dir).events
    # producer v1: no props column; producer v2: full schema
    events.where(F.col("event_id") % 2 == 0).drop("props").write.mode(
        "append"
    ).parquet(sink)
    events.where(F.col("event_id") % 2 == 1).write.mode("append").parquet(sink)
    merged = spark.read.option("mergeSchema", "true").parquet(sink)
    return (
        merged.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(
                    (F.col("event_id") % 2 == 1) & F.col("props").isNotNull(), 1
                ).otherwise(0)
            ).alias("with_props"),
            F.sum(F.when(F.col("event_id") % 2 == 0, 1).otherwise(0)).alias(
                "v1_rows"
            ),
        )
        .orderBy("event_type")
    )


# ----------- q142: TIME-CONSTRAINED funnel (convert within 7 days)
#
# q84's ordered funnel with the constraint real funnel reports
# carry: each stage must happen WITHIN 7 days of the previous one
# (the ClickHouse windowFunnel semantic). Same one-key scale shape
# — stage-chained conditional mins per user_id — with the bound as
# an exact integer epoch-µs comparison; per-cohort-week output so
# the result is a small table, not one row.
_FUNNEL_WINDOW_US = 7 * 24 * 3600 * 1_000_000

_ORACLE_Q142 = f"""
WITH s AS (
    SELECT user_id, MIN(ts) AS s_ts FROM events
    WHERE event_type = 'signup' GROUP BY user_id
),
v AS (
    SELECT e.user_id, MIN(e.ts) AS v_ts
    FROM events e JOIN s ON s.user_id = e.user_id
    WHERE e.event_type = 'view' AND e.ts > s.s_ts
      AND epoch_us(e.ts) - epoch_us(s.s_ts) <= {_FUNNEL_WINDOW_US}
    GROUP BY e.user_id
),
p AS (
    SELECT e.user_id, MIN(e.ts) AS p_ts
    FROM events e JOIN v ON v.user_id = e.user_id
    WHERE e.event_type = 'purchase' AND e.ts > v.v_ts
      AND epoch_us(e.ts) - epoch_us(v.v_ts) <= {_FUNNEL_WINDOW_US}
    GROUP BY e.user_id
)
SELECT CAST(date_trunc('week', s.s_ts) AS TIMESTAMP) AS cohort_week,
       CAST(COUNT(*) AS BIGINT) AS n_signed_up,
       CAST(COUNT(v.user_id) AS BIGINT) AS n_viewed_in_window,
       CAST(COUNT(p.user_id) AS BIGINT) AS n_purchased_in_window,
       CAST((COUNT(p.user_id) * 1000000) // COUNT(*) AS BIGINT)
           AS conversion_ppm
FROM s
LEFT JOIN v ON v.user_id = s.user_id
LEFT JOIN p ON p.user_id = s.user_id
GROUP BY cohort_week
ORDER BY cohort_week
"""


@register(
    "q142_windowed_funnel",
    oracle=_ORACLE_Q142,
    doc="Time-constrained funnel (the windowFunnel semantic): each "
    "stage within 7 days of the previous, per signup cohort week — "
    "stage-chained conditional mins on one user_id key, bounds as "
    "exact integer epoch-us comparisons, conversion in integral "
    "ppm.",
    tags=("events", "funnel", "window"),
)
def q142_windowed_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    e = cat.events.select("user_id", "event_type", "ts")
    s = (
        e.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("s_ts"))
    )
    us = lambda c: F.unix_micros(F.col(c).cast("timestamp"))  # noqa: E731
    v = (
        e.where(F.col("event_type") == "view")
        .join(s, "user_id")
        .where(
            (F.col("ts") > F.col("s_ts"))
            & (us("ts") - us("s_ts") <= _FUNNEL_WINDOW_US)
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("v_ts"))
    )
    p = (
        e.where(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .where(
            (F.col("ts") > F.col("v_ts"))
            & (us("ts") - us("v_ts") <= _FUNNEL_WINDOW_US)
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("p_ts"))
    )
    return (
        s.join(v.select("user_id", F.lit(1).alias("hit_v")), "user_id", "left")
        .join(p.select("user_id", F.lit(1).alias("hit_p")), "user_id", "left")
        .groupBy(F.date_trunc("week", "s_ts").alias("cohort_week"))
        .agg(
            F.count(F.lit(1)).alias("n_signed_up"),
            F.count("hit_v").alias("n_viewed_in_window"),
            F.count("hit_p").alias("n_purchased_in_window"),
            F.expr("(count(hit_p) * 1000000) div count(1)").alias(
                "conversion_ppm"
            ),
        )
        .orderBy("cohort_week")
    )


# ------------- q160: distribution-drift monitor (TVD over deciles)
#
# The production drift check between a reference window and the
# current one: bin the reference half's `value` distribution into
# its own deciles per event_type (exact order-statistic edges, q80's
# rank arithmetic), histogram BOTH halves on those edges, and report
# per-bin share shift plus the total-variation distance
# TVD = max_A |P(A)-Q(A)| = 1/2 * sum |p_i - q_i| per event_type.
# TVD is chosen over PSI/KL deliberately: it needs no logarithm, so
# every number stays exact integral ppm (PSI's ln(p/q) would need
# the q154 micro-quantization and an epsilon for empty bins). Scale
# shape: edge extraction is one rank window over the reference half
# (the only per-row shuffle), the 9-edge-per-type table broadcasts,
# binning is column algebra on the scan, and the result is a
# bounded types x 10 aggregate.

DRIFT_SPLIT = "2024-01-16 00:00:00"
DRIFT_BINS = 10

_ORACLE_Q160 = f"""
WITH ref AS (
    SELECT event_type, value FROM events
    WHERE ts < TIMESTAMP '{DRIFT_SPLIT}'
),
cur AS (
    SELECT event_type, value FROM events
    WHERE ts >= TIMESTAMP '{DRIFT_SPLIT}'
),
ranked AS (
    SELECT event_type, value,
           row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
           COUNT(*) OVER (PARTITION BY event_type) AS n
    FROM ref
),
edges AS (
    SELECT event_type, list(value ORDER BY value) AS es
    FROM ranked, UNNEST(range(1, {DRIFT_BINS})) AS i(i)
    WHERE rn = (i * n + {DRIFT_BINS} - 1) // {DRIFT_BINS}
    GROUP BY event_type
),
rh AS (
    SELECT r.event_type,
           len(list_filter(e.es, x -> x <= r.value)) AS bin,
           COUNT(*) AS rn
    FROM ref r JOIN edges e USING (event_type)
    GROUP BY 1, 2
),
ch AS (
    SELECT c.event_type,
           len(list_filter(e.es, x -> x <= c.value)) AS bin,
           COUNT(*) AS cn
    FROM cur c JOIN edges e USING (event_type)
    GROUP BY 1, 2
),
spine AS (
    SELECT event_type, i.i AS bin
    FROM edges, UNNEST(range(0, {DRIFT_BINS})) AS i(i)
),
hist AS (
    SELECT s.event_type, s.bin,
           COALESCE(rh.rn, 0) AS rn, COALESCE(ch.cn, 0) AS cn,
           SUM(COALESCE(rh.rn, 0)) OVER (PARTITION BY s.event_type) AS rtot,
           SUM(COALESCE(ch.cn, 0)) OVER (PARTITION BY s.event_type) AS ctot
    FROM spine s
    LEFT JOIN rh ON rh.event_type = s.event_type AND rh.bin = s.bin
    LEFT JOIN ch ON ch.event_type = s.event_type AND ch.bin = s.bin
),
shares AS (
    SELECT event_type, bin,
           CASE WHEN rtot > 0 THEN rn * 1000000 // rtot ELSE 0 END AS ref_ppm,
           CASE WHEN ctot > 0 THEN cn * 1000000 // ctot ELSE 0 END AS cur_ppm
    FROM hist
)
SELECT event_type,
       CAST(bin AS BIGINT) AS bin,
       CAST(ref_ppm AS BIGINT) AS ref_ppm,
       CAST(cur_ppm AS BIGINT) AS cur_ppm,
       CAST(ABS(ref_ppm - cur_ppm) AS BIGINT) AS adiff_ppm,
       CAST(SUM(ABS(ref_ppm - cur_ppm))
                OVER (PARTITION BY event_type) // 2 AS BIGINT) AS tvd_ppm
FROM shares
ORDER BY event_type, bin
"""


@register(
    "q160_distribution_drift",
    oracle=_ORACLE_Q160,
    doc="Reference-vs-current drift monitor: per-event-type decile "
    "histograms on exact reference-half order-statistic edges, "
    "per-bin share shift and total-variation distance in exact "
    "integral ppm — TVD over PSI/KL so no logarithm or "
    "empty-bin epsilon is needed; 9-edge tables broadcast, binning "
    "is scan-side column algebra.",
    tags=("events", "drift", "monitoring"),
)
def q160_distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    split = F.lit(DRIFT_SPLIT).cast("timestamp")
    ev = cat.events.select("event_type", "ts", "value")
    ref = ev.where(F.col("ts") < split).select("event_type", "value")
    cur = ev.where(F.col("ts") >= split).select("event_type", "value")
    wr = Window.partitionBy("event_type").orderBy("value")
    wn = Window.partitionBy("event_type")
    ranked = ref.select(
        "event_type",
        "value",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    edge_ranks = F.array(
        *[
            F.expr(f"({i} * n + {DRIFT_BINS - 1}) div {DRIFT_BINS}")
            for i in range(1, DRIFT_BINS)
        ]
    )
    edges = (
        ranked.where(F.array_contains(edge_ranks, F.col("rn")))
        .groupBy("event_type")
        .agg(F.array_sort(F.collect_list("value")).alias("es"))
        # r10 (guide §5): the edge table is 9 values per event type
        # but its subtree contains the full row_number sort of the
        # reference half — lazily that sort ran THREE times (both
        # histogram broadcasts + the bin spine). One materialization.
        .localCheckpoint()
    )
    bin_of = F.size(F.filter(F.col("es"), lambda x: x <= F.col("value")))
    rh = (
        ref.join(F.broadcast(edges), "event_type")
        .groupBy("event_type", bin_of.alias("bin"))
        .agg(F.count(F.lit(1)).alias("rn_"))
    )
    ch = (
        cur.join(F.broadcast(edges), "event_type")
        .groupBy("event_type", bin_of.alias("bin"))
        .agg(F.count(F.lit(1)).alias("cn_"))
    )
    spine = edges.select(
        "event_type", F.explode(F.array(*[F.lit(b) for b in range(DRIFT_BINS)])).alias("bin")
    )
    # histograms are <= |event types| x 10 rows at any scale —
    # broadcast explicitly (the checkpointed edge frame hides size
    # estimates, which otherwise demotes these to sort-merge joins)
    hist = (
        spine.join(F.broadcast(rh), ["event_type", "bin"], "left")
        .join(F.broadcast(ch), ["event_type", "bin"], "left")
        .select(
            "event_type",
            "bin",
            F.coalesce("rn_", F.lit(0)).alias("rcnt"),
            F.coalesce("cn_", F.lit(0)).alias("ccnt"),
        )
        .select(
            "event_type",
            "bin",
            "rcnt",
            "ccnt",
            F.sum("rcnt").over(wn).alias("rtot"),
            F.sum("ccnt").over(wn).alias("ctot"),
        )
    )
    shares = hist.select(
        "event_type",
        F.col("bin").cast("bigint").alias("bin"),
        F.when(F.col("rtot") > 0, F.expr("rcnt * 1000000 div rtot"))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("ref_ppm"),
        F.when(F.col("ctot") > 0, F.expr("ccnt * 1000000 div ctot"))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("cur_ppm"),
    )
    return shares.select(
        "event_type",
        "bin",
        "ref_ppm",
        "cur_ppm",
        F.abs(F.col("ref_ppm") - F.col("cur_ppm")).alias("adiff_ppm"),
        F.expr(
            "CAST(sum(abs(ref_ppm - cur_ppm)) OVER (PARTITION BY event_type) div 2 AS BIGINT)"
        ).alias("tvd_ppm"),
    ).orderBy("event_type", "bin")
