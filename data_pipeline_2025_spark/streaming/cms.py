"""Streaming-maintained count-min sketch (q97) — the mergeable-
sketch story (operators/sketches.py q79) run END-TO-END by a real
stream, the way a 100 TB deployment would actually keep frequency
state fresh.

Per micro-batch (foreachBatch, cagg.start_events_rollup — the
continuous aggregate's own maintenance loop):

1. idempotent silver append of the batch's events, partitioned by
   event day (partition-bounded anti-join — replayed batches are
   absorbed);
2. recompute the PER-DAY partial sketches for the touched days from
   silver and dynamic-partition-overwrite exactly those day
   partitions of the sketch table.

The sketch table is therefore a set of per-day CMS grids. Serving
merges them by cell-wise SUM — which is the whole point of a
count-min sketch: partial grids over disjoint data merge into the
grid of the union, so maintenance is O(touched days × d·w) state
per batch and the serve-time merge is a d·w-row aggregation no
matter how much history accumulated. Crash-replay is idempotent
because partials are recomputed from silver, never incremented.

The registered query runs the actual stream into fresh scratch
dirs, serves estimates from the materialized sketch ONLY, and the
oracle computes the same grid in one batch pass over raw events —
value-hash equality proves day-partial merge == global sketch.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import txn
from .cagg import DAY_COL, start_events_rollup

from ..operators.sketches import CMS_DEPTH, _cms_bucket, _cms_bucket_sql

TOP_USERS = 20


def _day_partial_sketch(events: DataFrame) -> DataFrame:
    """(day, r, b, cnt): one CMS grid per event day over user_id."""
    cells = events.select(
        F.col(DAY_COL),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("r"),
                        _cms_bucket(F.col("user_id").cast("string"), r).alias("b"),
                    )
                    for r in range(CMS_DEPTH)
                ]
            )
        ).alias("rb"),
    )
    return cells.groupBy(DAY_COL, "rb.r", "rb.b").agg(
        F.count(F.lit(1)).alias("cnt")
    )


def merged_sketch(spark: SparkSession, sketch_dir: str) -> DataFrame:
    """Cell-wise merge of the per-day partials — the CMS merge
    operation itself (d·w rows out, however many days in)."""
    return (
        txn.read_committed(spark, sketch_dir)
        .groupBy("r", "b")
        .agg(F.sum("cnt").cast("bigint").alias("cnt"))
    )


_ORACLE_Q97 = f"""
WITH sketch AS (
    SELECT r, b, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM (
        SELECT unnest([{", ".join(str(r) for r in range(CMS_DEPTH))}]) AS r,
               unnest([{", ".join(_cms_bucket_sql("CAST(user_id AS VARCHAR)", r) for r in range(CMS_DEPTH))}]) AS b
        FROM events
    )
    GROUP BY r, b
),
exact AS (
    SELECT CAST(user_id AS BIGINT) AS user_id, CAST(COUNT(*) AS BIGINT) AS exact_n
    FROM events GROUP BY user_id
    ORDER BY exact_n DESC, user_id
    LIMIT {TOP_USERS}
),
est AS (
    SELECT e.user_id, e.exact_n, MIN(s.cnt) AS cms_est
    FROM (
        SELECT user_id, exact_n,
               unnest([{", ".join(str(r) for r in range(CMS_DEPTH))}]) AS r,
               unnest([{", ".join(_cms_bucket_sql("CAST(user_id AS VARCHAR)", r) for r in range(CMS_DEPTH))}]) AS b
        FROM exact
    ) e
    JOIN sketch s ON s.r = e.r AND s.b = e.b
    GROUP BY e.user_id, e.exact_n
)
SELECT user_id, exact_n, cms_est FROM est
ORDER BY exact_n DESC, user_id
"""


def q97_stream_cms_serving(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..artifacts import call_scratch
    from ..catalog import Catalog

    root = call_scratch(spark, sf_dir, "q97")
    silver, sketch, ckpt = (
        os.path.join(root, d) for d in ("silver", "sketch", "ckpt")
    )
    start_events_rollup(
        spark, sf_dir, silver, sketch, ckpt, _day_partial_sketch, glob="events.parquet"
    ).awaitTermination()
    grid = merged_sketch(spark, sketch)
    # probe: top-N exact heavy users (raw table, as in q79 — the
    # sketch is the serving state being proven, the probe list is
    # the evaluation harness around it)
    exact = (
        Catalog(spark, sf_dir)
        .events.groupBy(F.col("user_id").cast("bigint").alias("user_id"))
        .agg(F.count(F.lit(1)).alias("exact_n"))
        .orderBy(F.col("exact_n").desc(), "user_id")
        .limit(TOP_USERS)
    )
    probes = exact.select(
        "user_id",
        "exact_n",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("pr"),
                        _cms_bucket(F.col("user_id").cast("string"), r).alias("pb"),
                    )
                    for r in range(CMS_DEPTH)
                ]
            )
        ).alias("rb"),
    ).select("user_id", "exact_n", F.col("rb.pr").alias("pr"), F.col("rb.pb").alias("pb"))
    est = (
        probes.join(
            F.broadcast(grid),
            (F.col("pr") == F.col("r")) & (F.col("pb") == F.col("b")),
        )
        .groupBy("user_id", "exact_n")
        .agg(F.min("cnt").alias("cms_est"))
    )
    return est.orderBy(F.col("exact_n").desc(), "user_id")


def _register() -> None:
    from ..registry import register

    register(
        "q97_stream_cms_serving",
        oracle=_ORACLE_Q97,
        doc="Count-min sketch maintained END-TO-END by the real "
        "streaming ingest (foreachBatch: idempotent silver append + "
        "touched-day partial-sketch recompute), served by cell-wise "
        "merging the day partials — hash-equality with the one-pass "
        "batch grid proves partial-merge == global sketch.",
        tags=("streaming", "sketch", "cms"),
    )(q97_stream_cms_serving)


_register()
