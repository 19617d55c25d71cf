"""Temporal operators: as-of join and validity intervals — the
operators a price-history store implies (the reference's "current
price" reads are as-of-now lookups, products.py:244-296) and that
Spark lacks as builtins (SURVEY's custom-operator rule (a):
compose from existing DataFrame ops).

The DuckDB oracle for the as-of join uses its NATIVE ASOF JOIN —
the strongest semantics check available: our windowed composition
must agree with a first-class implementation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import Catalog
from ..functions.money import to_double
from ..mapping import domain_sql, products
from ..registry import register

PROBE_TIMES = (
    "1996-06-01 00:00:00",
    "1998-01-01 00:00:00",
    "2000-06-01 00:00:00",
)
ASOF_BARCODES = tuple(str(b) for b in range(20))

_BARCODES_SQL = ", ".join(f"'{b}'" for b in ASOF_BARCODES)
_TIMES_SQL = ", ".join(f"TIMESTAMP '{t}'" for t in PROBE_TIMES)

# One observation per (store, barcode, ts): min effective price —
# makes the as-of target deterministic under same-timestamp ties.
_OBS_CTE = f"""
obs AS (
    SELECT supermarket_id, barcode, collected_at,
           MIN(COALESCE(promo_price, price)) AS eff
    FROM products
    WHERE barcode IN ({_BARCODES_SQL})
    GROUP BY supermarket_id, barcode, collected_at
),
probes AS (
    SELECT DISTINCT supermarket_id, barcode, t
    FROM obs, UNNEST([{_TIMES_SQL}]) AS pt(t)
)"""

_ORACLE_Q53 = domain_sql(f""",{_OBS_CTE}
SELECT p.supermarket_id, p.barcode, p.t AS probe_t,
       o.collected_at AS asof_ts,
       CAST(o.eff AS DOUBLE) AS asof_price_d
FROM probes p
ASOF JOIN obs o
  ON p.supermarket_id = o.supermarket_id
 AND p.barcode = o.barcode
 AND p.t >= o.collected_at
""")


@register(
    "q53_asof_price",
    oracle=_ORACLE_Q53,
    doc="As-of join: price in effect at each probe time per "
    "(store, barcode) — windowed composition checked against "
    "DuckDB's NATIVE ASOF JOIN.",
    tags=("temporal", "asof", "window"),
)
def q53_asof_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..domain import effective

    df = products(Catalog(spark, sf_dir)).where(
        F.col("barcode").isin(*ASOF_BARCODES)
    )
    obs = df.groupBy("supermarket_id", "barcode", "collected_at").agg(
        F.min(effective()).alias("eff")
    )
    times = F.explode(
        F.array(*[F.lit(t).cast("timestamp") for t in PROBE_TIMES])
    ).alias("t")
    probes = obs.select("supermarket_id", "barcode").distinct().select(
        "supermarket_id", "barcode", times
    )
    joined = probes.join(obs, ["supermarket_id", "barcode"]).where(
        F.col("collected_at") <= F.col("t")
    )
    w = Window.partitionBy("supermarket_id", "barcode", "t").orderBy(
        F.col("collected_at").desc()
    )
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "supermarket_id",
            "barcode",
            F.col("t").alias("probe_t"),
            F.col("collected_at").alias("asof_ts"),
            to_double(F.col("eff")).alias("asof_price_d"),
        )
    )


_ORACLE_Q54 = domain_sql(f""",{_OBS_CTE}
SELECT supermarket_id, barcode,
       collected_at AS valid_from,
       lead(collected_at) OVER w AS valid_to,
       CAST(eff AS DOUBLE) AS eff_d,
       lead(collected_at) OVER w IS NULL AS is_current
FROM obs
WINDOW w AS (PARTITION BY supermarket_id, barcode ORDER BY collected_at)
""")


@register(
    "q54_price_validity_intervals",
    oracle=_ORACLE_Q54,
    doc="SCD2-style validity intervals per (store, barcode): "
    "[collected_at, next observation) via lead(); open interval = "
    "current price.",
    tags=("temporal", "scd2", "window"),
)
def q54_price_validity_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..domain import effective

    df = products(Catalog(spark, sf_dir)).where(
        F.col("barcode").isin(*ASOF_BARCODES)
    )
    obs = df.groupBy("supermarket_id", "barcode", "collected_at").agg(
        F.min(effective()).alias("eff")
    )
    w = Window.partitionBy("supermarket_id", "barcode").orderBy("collected_at")
    nxt = F.lead("collected_at").over(w)
    return obs.select(
        "supermarket_id",
        "barcode",
        F.col("collected_at").alias("valid_from"),
        nxt.alias("valid_to"),
        to_double(F.col("eff")).alias("eff_d"),
        nxt.isNull().alias("is_current"),
    )


# ------------------------------------------- bucketized range join
#
# Point-in-interval (range) join, the non-equi join Spark has no
# fast builtin for: a naive `probe.d BETWEEN from AND to` join plans
# as a broadcast-nested-loop / cartesian refine. The scale pattern:
# explode each interval into the WEEK buckets it covers (bounded by
# the probe range), give each probe its own week key, equi-join on
# (store, barcode, week) — shuffle-hash territory — then refine the
# exact timestamp bounds. Bucket fan-out per interval is
# O(interval length / bucket width), probes map to exactly one
# bucket, and intervals per key are disjoint so each probe matches
# at most one interval. The oracle is the naive BETWEEN join.

SNAP_START = "1996-01-01"
SNAP_END = "1996-03-31"

_ORACLE_Q76 = domain_sql(f""",{_OBS_CTE.replace("probes AS", "probes_unused AS")},
iv AS (
    SELECT supermarket_id, barcode,
           collected_at AS valid_from,
           lead(collected_at) OVER w AS valid_to,
           eff
    FROM obs
    WINDOW w AS (PARTITION BY supermarket_id, barcode ORDER BY collected_at)
),
pairs AS (SELECT DISTINCT supermarket_id, barcode FROM iv),
grid AS (
    SELECT p.supermarket_id, p.barcode, CAST(g.d AS DATE) AS snapshot_date
    FROM pairs p, UNNEST(generate_series(DATE '{SNAP_START}',
                                         DATE '{SNAP_END}',
                                         INTERVAL 1 DAY)) AS g(d)
)
SELECT g.supermarket_id, g.barcode, g.snapshot_date,
       CAST(i.eff AS DOUBLE) AS eff_d
FROM grid g
JOIN iv i
  ON i.supermarket_id = g.supermarket_id
 AND i.barcode = g.barcode
 AND i.valid_from <= CAST(g.snapshot_date AS TIMESTAMP)
 AND (i.valid_to IS NULL OR CAST(g.snapshot_date AS TIMESTAMP) < i.valid_to)
ORDER BY g.supermarket_id, g.barcode, g.snapshot_date
""")


@register(
    "q76_interval_snapshot_join",
    oracle=_ORACLE_Q76,
    doc="Bucketized range join: daily price snapshots reconstructed "
    "from SCD2 validity intervals — intervals explode into covered "
    "week buckets, probes equi-join on (store, barcode, week), exact "
    "bounds refined after; oracle is the naive BETWEEN join.",
    tags=("temporal", "range-join", "scd2"),
)
def q76_interval_snapshot_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    iv = q54_price_validity_intervals(spark, sf_dir).select(
        "supermarket_id",
        "barcode",
        "valid_from",
        "valid_to",
        F.col("eff_d"),
    )
    start = F.lit(SNAP_START).cast("date")
    end = F.lit(SNAP_END).cast("date")

    def wk(c):  # week bucket key (days since epoch // 7)
        return F.floor(F.unix_date(c) / 7).cast("bigint")

    # interval -> covered week buckets, clamped to the probe range
    lo = F.greatest(F.to_date("valid_from"), start)
    hi = F.least(F.coalesce(F.to_date("valid_to"), end), end)
    weeks = F.when(lo <= hi, F.sequence(wk(lo), wk(hi))).otherwise(
        F.array().cast("array<bigint>")
    )
    iv_b = iv.select(
        "supermarket_id", "barcode", "valid_from", "valid_to", "eff_d",
        F.explode(weeks).alias("week"),
    )

    pairs = iv.select("supermarket_id", "barcode").distinct()
    grid = pairs.select(
        "supermarket_id",
        "barcode",
        F.explode(F.sequence(start, end)).alias("snapshot_date"),
    ).withColumn("week", wk(F.col("snapshot_date")))

    d_ts = F.col("snapshot_date").cast("timestamp")
    refined = (
        grid.join(iv_b, ["supermarket_id", "barcode", "week"])
        .where(
            (F.col("valid_from") <= d_ts)
            & (F.col("valid_to").isNull() | (d_ts < F.col("valid_to")))
        )
    )
    return refined.select(
        "supermarket_id", "barcode", "snapshot_date", "eff_d"
    ).orderBy("supermarket_id", "barcode", "snapshot_date")


# ----------------- q116: sweep-line interval concurrency (in-flight)
#
# "How many orders were in flight on each day" — the interval-
# concurrency count behind backlog dashboards and capacity reports.
# The naive plan is a calendar×orders range join (O(days·orders) —
# dead at scale); the scalable shape is the SWEEP-LINE: each interval
# emits +1 at its start day and -1 the day after it ends, deltas
# aggregate per day (map-side combinable), and the running sum over
# the O(days) frame reconstructs the concurrency curve. Two bounded
# shuffles total: the per-order interval rollup (orderkey — a
# fact⋈fact co-key join, the q94 bucketing candidate at 100 TB) and
# the O(days) day aggregation; the cumulative window runs over a
# few-thousand-row frame regardless of data scale.
_ORACLE_Q116 = """
WITH iv AS (
    SELECT o.o_orderkey,
           CAST(o.o_orderdate AS DATE) AS sd,
           CAST(MAX(l.l_shipdate) AS DATE) AS ed
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderkey, o.o_orderdate
),
deltas AS (
    SELECT sd AS day, CAST(1 AS BIGINT) AS d FROM iv
    UNION ALL
    SELECT ed + 1 AS day, CAST(-1 AS BIGINT) AS d FROM iv
),
byday AS (SELECT day, CAST(SUM(d) AS BIGINT) AS delta FROM deltas GROUP BY day)
SELECT day, delta,
       CAST(SUM(delta) OVER (
           ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS BIGINT) AS in_flight
FROM byday
ORDER BY day
"""


@register(
    "q116_orders_in_flight",
    oracle=_ORACLE_Q116,
    doc="Interval concurrency by sweep-line: per-order "
    "[orderdate, last shipdate] emits +1/-1 deltas, aggregated per "
    "day (map-side combinable) and prefix-summed over the O(days) "
    "frame — never a calendar-range join.",
    tags=("temporal", "sweep-line", "window"),
)
def q116_orders_in_flight(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    iv = (
        cat.lineitem.groupBy("l_orderkey")
        .agg(F.max(F.to_date("l_shipdate")).alias("ed"))
        .join(
            cat.orders.select("o_orderkey", F.to_date("o_orderdate").alias("sd")),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
    )
    deltas = iv.select(
        F.explode(
            F.array(
                F.struct(F.col("sd").alias("day"), F.lit(1).cast("bigint").alias("d")),
                F.struct(
                    F.date_add("ed", 1).alias("day"),
                    F.lit(-1).cast("bigint").alias("d"),
                ),
            )
        ).alias("x")
    ).select("x.day", "x.d")
    byday = deltas.groupBy("day").agg(F.sum("d").alias("delta"))
    # O(days) frame: the single-partition cumulative window is over a
    # few thousand rows at ANY corpus scale — not a data-sized sort.
    wd = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return byday.select(
        "day", "delta", F.sum("delta").over(wd).alias("in_flight")
    ).orderBy("day")


# ----------- q140: NEAREST-observation as-of join (both directions)
#
# q53 is the backward as-of ("price in effect at t"); this is the
# NEAREST variant — the sensor-alignment semantic (match each probe
# to the closest observation in EITHER direction, ties to the
# earlier one) that DuckDB's native ASOF JOIN cannot express (it is
# >= only), so the oracle is the explicit argmin-over-|Δt| window,
# byte-identical to the Spark composition. Distance in exact
# integer epoch-µs. Scale shape identical to q53: probes × bounded
# per-key observation lists, one (store, barcode) shuffle, rank
# window with WindowGroupLimit.
_ORACLE_Q140 = domain_sql(f""",{_OBS_CTE}
SELECT supermarket_id, barcode, probe_t, nearest_ts,
       CAST(d_us AS BIGINT) AS dist_us,
       CAST(eff AS DOUBLE) AS nearest_price_d
FROM (
    SELECT p.supermarket_id, p.barcode, p.t AS probe_t,
           o.collected_at AS nearest_ts, o.eff,
           abs(epoch_us(p.t) - epoch_us(o.collected_at)) AS d_us,
           row_number() OVER (
               PARTITION BY p.supermarket_id, p.barcode, p.t
               ORDER BY abs(epoch_us(p.t) - epoch_us(o.collected_at)),
                        o.collected_at
           ) AS rn
    FROM probes p
    JOIN obs o ON o.supermarket_id = p.supermarket_id
              AND o.barcode = p.barcode
)
WHERE rn = 1
""")


@register(
    "q140_nearest_asof",
    oracle=_ORACLE_Q140,
    doc="Nearest-observation as-of join (both directions, ties to "
    "the earlier observation) — the sensor-alignment semantic "
    "DuckDB's native ASOF (>= only) cannot express; exact integer "
    "epoch-us distances, rank window per probe.",
    tags=("temporal", "asof", "window"),
)
def q140_nearest_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..domain import effective

    df = products(Catalog(spark, sf_dir)).where(
        F.col("barcode").isin(*ASOF_BARCODES)
    )
    obs = df.groupBy("supermarket_id", "barcode", "collected_at").agg(
        F.min(effective()).alias("eff")
    )
    times = F.explode(
        F.array(*[F.lit(t).cast("timestamp") for t in PROBE_TIMES])
    ).alias("t")
    probes = obs.select("supermarket_id", "barcode").distinct().select(
        "supermarket_id", "barcode", times
    )
    joined = probes.join(obs, ["supermarket_id", "barcode"])
    # collected_at is TIMESTAMP_NTZ (session pinned UTC) — cast for
    # unix_micros; epoch-identical to DuckDB's naive epoch_us
    d_us = F.abs(
        F.unix_micros(F.col("t"))
        - F.unix_micros(F.col("collected_at").cast("timestamp"))
    )
    w = Window.partitionBy("supermarket_id", "barcode", "t").orderBy(
        d_us.asc(), F.col("collected_at").asc()
    )
    return (
        joined.withColumn("d_us", d_us)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "supermarket_id",
            "barcode",
            F.col("t").alias("probe_t"),
            F.col("collected_at").alias("nearest_ts"),
            F.col("d_us").cast("bigint").alias("dist_us"),
            to_double(F.col("eff")).alias("nearest_price_d"),
        )
    )


# ----------------- q234: regular-grid resample with forward fill
#
# The missing member of the time-series family (q53 as-of point
# lookups, q54 validity intervals, q140 nearest-neighbor as-of):
# RESAMPLING an irregular event stream onto a regular calendar grid
# with forward fill — the "daily close, carried forward over quiet
# days" shape every monitoring/feature pipeline needs. Per user:
#
# 1. daily close = the (ts, event_id)-last event per (user, day) —
#    a row_number window over the composite order (total, so both
#    engines pick the same row; window state is one row per group);
# 2. the user's grid = every day from their first to their last
#    event day (sequence + explode — bounded by the stream's span,
#    the operator's output size);
# 3. forward fill = last(close, ignorenulls) over (user, day) —
#    one window per user partition, state is a single value.
#
# Scale: everything partitions on user_id; the explode emits
# O(users · span_days) rows — the DEFINED output of resampling; no
# cross-user traffic anywhere. The DuckDB oracle uses
# generate_series + last_value IGNORE NULLS — the identical
# algebra. Reference analog: the price-history endpoints
# (salim/app/server/routes/products.py history queries) whose
# charts want exactly this regularized series.

_ORACLE_Q234 = """
WITH ranked AS (
    SELECT user_id, CAST(ts AS DATE) AS day, value,
           row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM events
), closes AS (
    SELECT user_id, day, value AS close_v FROM ranked WHERE rn = 1
), spans AS (
    SELECT user_id, MIN(day) AS d0, MAX(day) AS d1
    FROM closes GROUP BY user_id
), grid AS (
    SELECT user_id,
           CAST(UNNEST(generate_series(CAST(d0 AS TIMESTAMP),
                                       CAST(d1 AS TIMESTAMP),
                                       INTERVAL 1 DAY)) AS DATE) AS day
    FROM spans
)
SELECT g.user_id,
       CAST(g.day AS VARCHAR) AS day,
       CAST(CAST(last_value(c.close_v IGNORE NULLS) OVER (
                PARTITION BY g.user_id ORDER BY g.day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
            ) AS DECIMAL(12,2)) AS DOUBLE) AS close_d,
       (c.close_v IS NOT NULL) AS observed
FROM grid g LEFT JOIN closes c USING (user_id, day)
ORDER BY user_id, day
"""


@register(
    "q234_grid_resample_ffill",
    oracle=_ORACLE_Q234,
    doc="Irregular events resampled onto each user's daily grid "
    "with forward-filled daily closes (row_number over the total "
    "(ts, event_id) order so both engines pick the same row; "
    "last-ignorenulls window fill). Partitions on user_id "
    "end-to-end; output is O(users × span) by definition.",
    tags=("temporal", "resample", "window"),
)
def q234_grid_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = Catalog(spark, sf_dir).events
    wd = Window.partitionBy("user_id", F.to_date("ts")).orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    closes = (
        ev.select(
            "user_id",
            F.to_date("ts").alias("day"),
            F.col("value").alias("close_v"),
            F.row_number().over(wd).alias("rn"),
        )
        .where(F.col("rn") == 1)
        .drop("rn")
    )
    spans = closes.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    grid = spans.select(
        "user_id",
        F.explode(F.sequence("d0", "d1")).alias("day"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = (
        grid.join(closes, ["user_id", "day"], "left")
        .select(
            "user_id",
            "day",
            F.last("close_v", ignorenulls=True).over(w).alias("ffill"),
            F.col("close_v").isNotNull().alias("observed"),
        )
    )
    return filled.select(
        "user_id",
        F.col("day").cast("string").alias("day"),
        to_double(F.col("ffill").cast("decimal(12,2)")).alias("close_d"),
        "observed",
    ).orderBy("user_id", "day")
