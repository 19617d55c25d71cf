"""Structured Streaming over the events table — the reference's
polling relay re-expressed (SURVEY.md §2.9): the file source replaces
S3 list-and-diff (T1), exactly-once file tracking replaces the
in-memory processed set, dropDuplicates replaces ack/requeue +
UNIQUE-constraint dedup (T3/T6), and event-time windows replace the
"prices per hour" style rollups (T7).

The registry queries here run a REAL streaming query
(Trigger.AvailableNow, streaming/stream.py's ``drain``) and return
its output, so the DuckDB oracle checks streaming output
against batch SQL — the strongest effectively-once evidence
available.
Watermark + append-mode late-data handling is exercised separately
in tests/test_streaming.py (append mode withholds the tail window by
design, so it can't be oracle-diffed batch-style).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..artifacts import built_scratch, call_scratch
from ..catalog import load_table
from ..functions.money import dec, money_out
from ..registry import register
from .stream import drain, file_stream


_ORACLE_Q50 = """
SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
       event_type,
       COUNT(*) AS n,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS total_value_d
FROM events
GROUP BY window_start, event_type
ORDER BY window_start, event_type
"""


@register(
    "q50_stream_hourly_rollup",
    oracle=_ORACLE_Q50,
    doc="Structured Streaming tumbling-window rollup (AvailableNow → "
    "memory sink) checked against batch SQL (T4/T7).",
    tags=("streaming", "window"),
)
def q50_stream_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    agg = (
        file_stream(spark, sf_dir, glob="events.parquet")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            money_out(F.sum(dec("value"))).alias("total_value_d"),
        )
        .select(
            F.col("w.start").alias("window_start"), "event_type", "n", "total_value_d"
        )
    )
    return drain(agg, "complete").orderBy("window_start", "event_type")


_ORACLE_Q51 = """
SELECT event_type,
       COUNT(*) AS n,
       COUNT(DISTINCT user_id) AS users
FROM events
GROUP BY event_type
ORDER BY event_type
"""


@register(
    "q51_stream_dedup_replay",
    oracle=_ORACLE_Q51,
    doc="Effectively-once under duplicate delivery: the stream reads "
    "the source TWICE (simulated redelivery), dropDuplicates on "
    "event_id restores exactly-once counts (T3/T6).",
    tags=("streaming", "dedup"),
)
def q51_stream_dedup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    s1 = file_stream(spark, sf_dir, glob="events.parquet")
    s2 = file_stream(spark, sf_dir, glob="events.parquet")
    replayed = s1.unionByName(s2)  # every event delivered twice
    deduped = replayed.dropDuplicates(["event_id"])
    # COUNT(DISTINCT) isn't allowed in a streaming agg; the deduped
    # stream lands append-mode in memory and the exact rollup runs
    # as batch on the landed rows.
    return (
        drain(deduped, "append")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("user_id").alias("users"),
        )
        .orderBy("event_type")
    )


_ORACLE_Q74 = """
SELECT s.user_id,
       s.event_id AS signup_event,
       p.event_id AS purchase_event,
       CAST(epoch_us(p.ts) - epoch_us(s.ts) AS BIGINT) AS gap_us
FROM events s
JOIN events p
  ON p.user_id = s.user_id
 AND s.event_type = 'signup'
 AND p.event_type = 'purchase'
 AND p.ts >= s.ts
 AND p.ts <= s.ts + INTERVAL 1 HOUR
ORDER BY s.user_id, signup_event, purchase_event
"""


@register(
    "q74_stream_join_attribution",
    oracle=_ORACLE_Q74,
    doc="Stream-stream inner join (T7+): signups joined to purchases "
    "by the same user within 1 hour — watermarks on BOTH sides plus "
    "a time-interval join condition, so per-key state is bounded by "
    "the interval (the conversion-attribution pattern); streaming "
    "output checked against the batch SQL join.",
    tags=("streaming", "join"),
)
def q74_stream_join_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _attribution(spark, sf_dir, "inner")


def _attribution(spark: SparkSession, sf_dir: str, how: str) -> DataFrame:
    """Signups joined (``how``) to the same user's purchases within 1
    hour, both sides watermarked 2 hours: q74 inner, q149 left outer."""
    signups = (
        file_stream(spark, sf_dir, glob="events.parquet")
        .where(F.col("event_type") == "signup")
        .select(
            F.col("user_id").alias("su"),
            F.col("event_id").alias("signup_event"),
            F.col("ts").alias("signup_ts"),
        )
        .withWatermark("signup_ts", "2 hours")
    )
    purchases = (
        file_stream(spark, sf_dir, glob="events.parquet")
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("pu"),
            F.col("event_id").alias("purchase_event"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    joined = signups.join(
        purchases,
        (F.col("su") == F.col("pu"))
        & (F.col("purchase_ts") >= F.col("signup_ts"))
        & (F.col("purchase_ts") <= F.col("signup_ts") + F.expr("INTERVAL 1 HOUR")),
        how,
    )
    return (
        drain(joined, "append")
        .select(
            F.col("su").alias("user_id"),
            "signup_event",
            "purchase_event",
            (
                F.unix_micros("purchase_ts") - F.unix_micros("signup_ts")
            ).alias("gap_us"),
        )
        .orderBy("user_id", "signup_event", "purchase_event")
    )


_ORACLE_Q108 = """
WITH flagged AS (
    SELECT user_id, ts, value,
           CASE WHEN lag(ts) OVER w IS NULL
                     OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                        >= 30 * 60 * 1000000
                THEN 1 ELSE 0 END AS is_new
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
    SELECT user_id, ts, value,
           SUM(is_new) OVER (
               PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS sid
    FROM flagged
)
SELECT user_id,
       MIN(ts)                        AS session_start,
       MAX(ts) + INTERVAL 30 MINUTE   AS session_end,
       CAST(COUNT(*) AS BIGINT)       AS events,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE)
                                      AS total_value_d
FROM sess
GROUP BY user_id, sid
ORDER BY user_id, session_start
"""


@register(
    "q108_stream_session_windows",
    oracle=_ORACLE_Q108,
    doc="Sessionization as a STREAMING stateful aggregation: the "
    "native session_window operator under Structured Streaming "
    "(AvailableNow -> memory sink, complete mode so every merged "
    "session is emitted), hash-checked against the batch lag-based "
    "SQL — the same answer q106 computes in batch. Per-user session "
    "state merges incrementally and is expirable by watermark in a "
    "live deployment (T7 stateful windows).",
    tags=("streaming", "window", "session"),
)
def q108_stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    agg = (
        file_stream(spark, sf_dir, glob="events.parquet")
        .groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("events"),
            money_out(F.sum(dec("value"))).alias("total_value_d"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "events",
            "total_value_d",
        )
    )
    return drain(agg, "complete").orderBy("user_id", "session_start")


_ORACLE_Q134 = """
SELECT c.c_mktsegment,
       e.event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(ROUND(SUM(CAST(e.value AS DECIMAL(12,2))), 2) AS DOUBLE) AS total_value_d
FROM events e
JOIN customer c ON c.c_custkey = e.user_id
GROUP BY c.c_mktsegment, e.event_type
ORDER BY c.c_mktsegment, e.event_type
"""


@register(
    "q134_stream_static_enrich",
    oracle=_ORACLE_Q134,
    doc="NATIVE stream-static enrichment join (the commonest "
    "production streaming join): the events stream joins the static "
    "customer dimension INSIDE the streaming query — Spark "
    "broadcasts/rescans the static side per micro-batch, no "
    "foreachBatch plumbing — then rolls up per (segment, type). "
    "Hash-checked against the batch join. At 100 TB the static side "
    "is a slowly-changing dim snapshot; the stream side never "
    "accumulates join state (static side is not watermarked).",
    tags=("streaming", "join", "enrichment"),
)
def q134_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = file_stream(spark, sf_dir, glob="events.parquet")
    dim = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    agg = (
        stream.join(dim, stream["user_id"] == dim["c_custkey"])
        .groupBy("c_mktsegment", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            money_out(F.sum(dec("value"))).alias("total_value_d"),
        )
    )
    return drain(agg, "complete").orderBy("c_mktsegment", "event_type")


_ORACLE_Q135 = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(MIN(event_id) AS BIGINT) AS min_event,
       CAST(MAX(event_id) AS BIGINT) AS max_event
FROM events
GROUP BY event_type
ORDER BY event_type
"""


@register(
    "q135_stream_dedup_watermarked",
    oracle=_ORACLE_Q135,
    doc="Production-bounded effectively-once: dropDuplicates"
    "WithinWatermark on event_id — unlike q51's plain "
    "dropDuplicates (state grows with ALL keys forever), dedup "
    "state here is evicted once the event-time watermark passes a "
    "key (redeliveries arrive within the delay at any real source). "
    "Duplicate delivery simulated by a self-union; counts restored "
    "to exactly-once, hash-checked against batch.",
    tags=("streaming", "dedup", "watermark"),
)
def q135_stream_dedup_watermarked(spark: SparkSession, sf_dir: str) -> DataFrame:
    s1 = file_stream(spark, sf_dir, glob="events.parquet")
    s2 = file_stream(spark, sf_dir, glob="events.parquet")
    # Redelivered copies arrive in the SAME AvailableNow batch here,
    # so a short delay suffices; at a real source the delay bounds
    # how late a redelivery may arrive and thereby the state size.
    replayed = s1.unionByName(s2).withWatermark("ts", "10 minutes")
    deduped = replayed.dropDuplicatesWithinWatermark(["event_id"])
    return (
        drain(deduped, "append")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("event_id").alias("min_event"),
            F.max("event_id").alias("max_event"),
        )
        .orderBy("event_type")
    )


_ORACLE_Q136 = """
WITH wm AS (
    SELECT MAX(ts) - INTERVAL 10 MINUTE AS w FROM events
),
agg AS (
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events
    GROUP BY window_start, event_type
)
SELECT a.window_start, a.event_type, a.n
FROM agg a CROSS JOIN wm
WHERE a.window_start + INTERVAL 1 HOUR <= wm.w
ORDER BY a.window_start, a.event_type
"""


@register(
    "q136_stream_chained_stateful",
    oracle=_ORACLE_Q136,
    doc="TWO stateful operators chained in ONE append-mode streaming "
    "query (Spark 3.4+ capability): watermarked dedup of a "
    "duplicate-delivery union, THEN an hourly tumbling aggregation. "
    "Append mode only emits windows the watermark has closed — the "
    "oracle mirrors that emission rule EXACTLY (window_end <= "
    "max(ts) - delay), so the classic tail-withholding is a checked "
    "semantic, not a silent drop.",
    tags=("streaming", "watermark", "stateful"),
)
def q136_stream_chained_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    s1 = file_stream(spark, sf_dir, glob="events.parquet")
    s2 = file_stream(spark, sf_dir, glob="events.parquet")
    deduped = (
        s1.unionByName(s2)
        .withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    agg = (
        deduped.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )
    return drain(agg, "append").orderBy("window_start", "event_type")


# -------- q137: late-data DROP accounting (the watermark contract)
#
# q136 checks the EMISSION half of the watermark contract (windows
# held until closed); this checks the DROP half: rows arriving
# after the watermark passed their window are discarded from the
# aggregation — the deliberate, bounded data loss that buys bounded
# state. The fixture makes lateness deterministic: the events table
# is split at its midpoint timestamp; the UPPER half arrives first
# (advancing the watermark to max_ts - delay, far past the
# midpoint), the LOWER half arrives second — entirely late, every
# row dropped. The oracle encodes both halves of the contract
# exactly: counts over the on-time half only, windows emitted iff
# window_end <= max_ts - delay.
def _split_events_by_time(spark: SparkSession, sf_dir: str, out_dir: str) -> None:
    """Three ascending-mtime files: (0) the on-time upper half minus
    its max-ts rows, (1) the max-ts rows — a second on-time batch,
    needed because a window finalizes (emit + evict) only at the end
    of the batch AFTER the watermark passes it (measured, not
    assumed: a late row arriving in the finalization batch itself is
    still absorbed), (2) the lower half — now strictly later than
    every finalized window, hence dropped."""
    import time

    from ..fixtures import write_single_file

    events = load_table(spark, sf_dir, "events")
    row = events.agg(
        F.expr(
            "timestamp_micros((unix_micros(max(ts)) + unix_micros(min(ts))) div 2)"
        ).alias("m"),
        F.max("ts").alias("mx"),
    ).collect()[0]
    mid, mx = row["m"], row["mx"]
    os.makedirs(out_dir, exist_ok=True)
    now = time.time()
    ts = F.col("ts")
    frames = (
        events.where((ts >= F.lit(mid)) & (ts < F.lit(mx))),
        events.where(ts == F.lit(mx)),
        events.where(ts < F.lit(mid)),
    )
    for i, frame in enumerate(frames):
        write_single_file(frame, os.path.join(out_dir, f"part{i:03d}.parquet"), now + i)


_ORACLE_Q137 = """
WITH b AS (
    SELECT ts, event_type,
           make_timestamp((epoch_us(MAX(ts) OVER ()) + epoch_us(MIN(ts) OVER ())) // 2) AS mid,
           MAX(ts) OVER () - INTERVAL 10 MINUTE AS wm
    FROM events
)
SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n
FROM b
WHERE ts >= mid                                      -- on-time half only
GROUP BY window_start, event_type
HAVING window_start + INTERVAL 1 HOUR <= MAX(wm)     -- emission rule
ORDER BY window_start, event_type
"""


@register(
    "q137_late_data_drops",
    oracle=_ORACLE_Q137,
    doc="The DROP half of the watermark contract, made deterministic "
    "and hash-checked: the on-time upper half of events arrives "
    "first (watermark advances past the midpoint), the lower half "
    "arrives entirely late and is dropped; the oracle counts the "
    "on-time half only under the exact emission rule "
    "window_end <= max(ts) - delay.",
    tags=("streaming", "watermark", "late-data"),
)
def q137_late_data_drops(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = os.path.join(call_scratch(spark, sf_dir, "q137"), "in")
    _split_events_by_time(spark, sf_dir, src)
    agg = (
        file_stream(spark, src, max_files=1)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )
    return drain(agg, "append").orderBy("window_start", "event_type")


# ---------- q149: watermarked stream-stream LEFT OUTER join --------
#
# q74 proves the inner attribution join; the OUTER variant is its own
# semantics: signups with no purchase inside the 1-hour window must
# still emit — with NULL purchase columns — but only once the
# watermark proves no match can arrive (state eviction). Under
# AvailableNow the data batch is followed by no-data micro-batches
# (the q136 mechanism), so the final watermark is
# min(max signup_ts, max purchase_ts) - delay, and exactly the
# unmatched signups whose 1-hour match window closed below it emit
# null rows; younger unmatched signups are withheld in state. The
# oracle mirrors that emission rule EXACTLY, so the withholding is a
# checked semantic — the same contract discipline as q136/q137.
_ORACLE_Q149 = """
WITH wm AS (
    SELECT LEAST(
               MAX(ts) FILTER (WHERE event_type = 'signup'),
               MAX(ts) FILTER (WHERE event_type = 'purchase')
           ) - INTERVAL 2 HOUR AS w
    FROM events
),
s AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'signup'),
p AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'),
matched AS (
    SELECT s.user_id, s.event_id AS signup_event,
           p.event_id AS purchase_event,
           CAST(epoch_us(p.ts) - epoch_us(s.ts) AS BIGINT) AS gap_us
    FROM s JOIN p
      ON p.user_id = s.user_id
     AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 1 HOUR
),
expired_unmatched AS (
    SELECT s.user_id, s.event_id AS signup_event,
           CAST(NULL AS BIGINT) AS purchase_event,
           CAST(NULL AS BIGINT) AS gap_us
    FROM s CROSS JOIN wm
    WHERE s.ts + INTERVAL 1 HOUR < wm.w
      AND NOT EXISTS (
          SELECT 1 FROM p
          WHERE p.user_id = s.user_id
            AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 1 HOUR
      )
)
SELECT * FROM matched
UNION ALL
SELECT * FROM expired_unmatched
ORDER BY user_id, signup_event, purchase_event
"""


@register(
    "q149_stream_outer_join",
    oracle=_ORACLE_Q149,
    doc="Watermarked stream-stream LEFT OUTER join: signups left-"
    "joined to purchases within 1 hour; unmatched signups emit "
    "NULL-purchase rows only after the watermark closes their match "
    "window (state eviction via no-data micro-batches under "
    "AvailableNow). The oracle reproduces the emission cutoff "
    "min(max ts per side) - delay, so the withheld tail is a "
    "checked semantic. q74 is the inner twin.",
    tags=("streaming", "join", "outer", "watermark"),
)
def q149_stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _attribution(spark, sf_dir, "leftOuter")


# ----------- q157: streaming approximate distinct (HLL) per window
#
# Exact COUNT(DISTINCT) is unsupported inside a streaming
# aggregation (Spark would need unbounded per-window user sets);
# the production answer is HyperLogLog++ state per window —
# approx_count_distinct keeps a constant-size mergeable sketch that
# micro-batches fold into, which is how per-window uniques survive
# 100 TB/day streams. Cross-engine (and stream-vs-batch) contract,
# as in q153: sketch values are engine-specific, so the streamed
# estimate is checked against the BATCH exact count per window via
# an error envelope, joined on window_start. Unlike q153's large
# per-type groups, hourly windows get SPARSE (5-20 users at the
# small tiers), where HLL++'s linear-counting regime makes the rsd
# bound relative-meaningless (an absolute miss of 1 on exact=5 is
# 20%) — so the envelope is max(15% relative, 4 absolute); measured
# worst cases: abs 3 at sf0.01, rel 10.8% at sf0.1.

Q157_RSD = 0.05
Q157_ENVELOPE_PPM = 150_000
Q157_ENVELOPE_ABS = 4

_ORACLE_Q157 = """
SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
       CAST(1 AS BIGINT) AS within_envelope
FROM events
GROUP BY window_start
ORDER BY window_start
"""


@register(
    "q157_stream_approx_distinct",
    oracle=_ORACLE_Q157,
    doc="Streaming per-hour unique users via HyperLogLog++ state "
    "(approx_count_distinct, rsd 0.05) — the constant-memory "
    "mergeable replacement for COUNT(DISTINCT), which streaming "
    "aggregation cannot express exactly; streamed estimates "
    "checked against the batch exact count per window via the rsd "
    "envelope flag.",
    tags=("streaming", "sketches", "hll", "approx"),
)
def q157_stream_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    agg = (
        file_stream(spark, sf_dir, glob="events.parquet")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.approx_count_distinct("user_id", Q157_RSD).alias("hll"))
        .select(F.col("w.start").alias("window_start"), "hll")
    )
    exact = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("hour", "ts").alias("window_start"))
        .agg(F.countDistinct("user_id").alias("exact_users"))
    )
    err = F.abs(F.col("hll") - F.col("exact_users"))
    within = (err * 1_000_000 <= Q157_ENVELOPE_PPM * F.col("exact_users")) | (
        err <= Q157_ENVELOPE_ABS
    )
    return (
        drain(agg, "complete")
        .join(exact, "window_start")
        .select(
            "window_start",
            "exact_users",
            within.cast("bigint").alias("within_envelope"),
        )
        .orderBy("window_start")
    )


# -------- q161: state-store introspection (State Data Source)
#
# Spark 4's State Data Source Reader: the streaming engine's
# internal RocksDB/HDFS state becomes a queryable DataFrame
# (format "statestore" over the checkpoint), which is how
# production debugs a misbehaving stateful query — inspect live
# per-key aggregation buffers WITHOUT stopping the stream or
# instrumenting the job. Here the per-event-type counting state of
# a checkpointed AvailableNow run is read back and checked against
# the batch groupBy — proving the buffers the engine carries are
# exactly the answer (the strongest state-correctness probe there
# is: not the sink, the STATE). Only the exact BIGINT count buffer
# is emitted; a double sum buffer would expose engine summation
# order. Scale shape: state files are partitioned by shuffle
# partition, so the read parallelizes like any file scan.

_ORACLE_Q161 = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n
FROM events
GROUP BY event_type
ORDER BY event_type
"""


@register(
    "q161_state_store_reader",
    oracle=_ORACLE_Q161,
    doc="State Data Source introspection: run a checkpointed "
    "streaming count per event_type, then read the engine's OWN "
    "aggregation state back as a DataFrame (format 'statestore') "
    "and check it against batch SQL — per-key state buffers as a "
    "first-class queryable table.",
    tags=("streaming", "state", "introspection"),
)
def q161_state_store_reader(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build(ck: str) -> None:
        agg = (
            file_stream(spark, sf_dir, glob="events.parquet")
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        drain(agg, "complete", checkpoint=ck)

    ck = built_scratch(spark, sf_dir, "q161", build)
    state = spark.read.format("statestore").load(ck)
    return state.select(
        F.col("key.event_type").alias("event_type"),
        F.col("value.count").cast("bigint").alias("n"),
    ).orderBy("event_type")


# ---------------------------------------------------- q220 (round 6)
#
# The streaming half of the DV merge (q208): a Structured Streaming
# ingest whose sink is a TRANSACTIONAL UPSERT — every micro-batch
# lands through txn.merge_upsert_dv (matched keys deleted via
# deletion vectors + rewrites appended, ONE atomic commit per
# batch). This is the Delta streaming-upsert idiom
# (foreachBatch + MERGE), and it is what makes at-least-once
# delivery EFFECTIVELY-ONCE at the table: the stream here delivers
# every event TWICE (two unioned readers — q51's redelivery
# simulation), in-batch duplicates collapse via dropDuplicates
# (upsert batches must be key-unique), and cross-delivery
# duplicates hit their own key and rewrite the same row. The
# clincher: the WHOLE stream is replayed from a fresh checkpoint
# (the crash-recovery worst case — every batch redelivered) and
# the table content is proven row-identical (full-outer compare,
# mismatch count pinned 0 in the emitted flag). Rebuilt per
# invocation: the replay proof IS the query. Scale shape: each
# micro-batch costs one key-locate scan + O(batch) writes — the
# metadata-only upsert a 100 TB streaming sink needs (q179's
# partition-rewrite alternative costs a partition per touched key).

_ORACLE_Q220 = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE)
           AS value_sum_d,
       CAST(1 AS BIGINT) AS replay_idempotent
FROM events
GROUP BY event_type
ORDER BY event_type
"""


@register(
    "q220_stream_dv_upsert",
    oracle=_ORACLE_Q220,
    doc="Streaming transactional upsert sink: foreachBatch + "
    "DV-backed MERGE per micro-batch (one atomic commit each), "
    "duplicate delivery collapsed by key, and a full from-scratch "
    "stream replay proven row-identical at the table — "
    "at-least-once transport made effectively-once at the sink, "
    "the Delta streaming-upsert idiom on the txn log.",
    tags=("streaming", "txn", "upsert", "dv"),
)
def q220_stream_dv_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from . import txn

    root = call_scratch(spark, sf_dir, "q220")
    sink = os.path.join(root, "sink")

    def _run_stream(ckpt: str) -> None:
        # duplicate delivery: every event arrives twice
        doubled = file_stream(spark, sf_dir, glob="events.parquet").unionByName(
            file_stream(spark, sf_dir, glob="events.parquet")
        )
        sel = doubled.select(
            "event_id",
            "event_type",
            "value",
            F.to_date("ts").alias("day"),
        )

        def _apply(batch: DataFrame, _bid: int) -> None:
            # upsert batches must be key-unique; in-batch duplicates
            # (the doubled delivery) collapse here, cross-batch and
            # cross-replay duplicates collapse via the merge itself
            txn.merge_upsert_dv(
                spark,
                sink,
                batch.dropDuplicates(["event_id"]),
                "event_id",
                ("day",),
            )

        q = (
            sel.writeStream.foreachBatch(_apply)
            .option("checkpointLocation", os.path.join(root, ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    _run_stream("ckpt1")
    first = txn.read_committed(spark, sink)  # snapshot-isolated plan
    # crash-recovery worst case: replay the WHOLE stream from a
    # fresh checkpoint — every batch redelivered, table unchanged
    _run_stream("ckpt2")
    second = txn.read_committed(spark, sink)
    a = first.select(
        "event_id",
        F.col("event_type").alias("t1"),
        F.col("value").alias("v1"),
    )
    b = second.select(
        "event_id",
        F.col("event_type").alias("t2"),
        F.col("value").alias("v2"),
    )
    mismatches = (
        a.join(b, "event_id", "full_outer")
        .where(
            F.col("t1").isNull()
            | F.col("t2").isNull()
            | (F.col("t1") != F.col("t2"))
            | (F.col("v1") != F.col("v2"))
        )
        .count()
    )
    return (
        second.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            money_out(F.sum(dec("value"))).alias("value_sum_d"),
        )
        .withColumn(
            "replay_idempotent",
            F.lit(1 if mismatches == 0 else 0).cast("bigint"),
        )
        .orderBy("event_type")
    )
