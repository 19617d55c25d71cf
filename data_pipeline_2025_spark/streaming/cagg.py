"""Streaming continuous aggregate over the events stream — the end-
to-end version of q75's pattern (operators/events.py): a
materialized hourly rollup that updates INCREMENTALLY as micro-
batches land, touching only the day partitions the batch contains.
``start_events_rollup`` keeps any per-day rollup this way: the
hourly rollup here (q83) and the count-min sketch partials in
streaming/cms.py (q97).

The reference's analog is the "prices per hour"-style rollup served
from Postgres tables kept fresh by the consumer container (SURVEY.md
§2.9 T7, §3.2); TimescaleDB calls the shape a continuous aggregate.

Shape per micro-batch (foreachBatch):

1. idempotent append of the batch's events into a silver table
   partitioned by event day — the same partition-bounded anti-join
   upsert as the price ingest (streaming/ingest.py), so duplicate
   file delivery / checkpoint replay never duplicates rows;
2. recompute the rollup FOR THE TOUCHED DAYS ONLY from silver, and
   replace exactly those day partitions of the rollup table.

Recompute-from-silver (rather than merging batch partials into the
rollup) is what makes a crash-replayed batch idempotent: step 1
absorbs the replay, step 2 then rewrites the touched partitions to
the same content. Both steps read/write O(touched days), never
O(history) — at 100 TB the rollup maintenance cost tracks the
arrival window, not the table size.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from . import txn
from .stream import file_stream

from ..functions.money import dec, money_out

DAY_COL = "day"


def _hourly_partial(events: DataFrame) -> DataFrame:
    """Exact-decimal hourly rollup (stored form; money_out at serve)."""
    return (
        events.groupBy(
            F.date_trunc("hour", "ts").alias("window_start"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec("value")).alias("total_dec"),
        )
        .withColumn(DAY_COL, F.to_date("window_start"))
    )


def start_events_rollup(
    spark: SparkSession,
    source_dir: str,
    silver_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    partial: Callable[[DataFrame], DataFrame],
    glob: str | None = None,
) -> StreamingQuery:
    """Maintain silver events + the rollup ``partial(silver rows of
    the touched days)``, partitioned by day, from a parquet file
    stream (AvailableNow: drain-and-stop for tests/backfills; swap
    the trigger for a cadence to mirror the reference's poller).
    ``glob`` narrows a mixed directory to one table's files."""
    stream = file_stream(spark, source_dir, glob=glob)

    def upsert(batch: DataFrame, batch_id: int) -> None:
        spark_ = batch.sparkSession
        batch = batch.withColumn(DAY_COL, F.to_date("ts"))
        touched = [
            r[DAY_COL] for r in batch.select(DAY_COL).distinct().collect()
        ]
        if not touched:
            return
        # 1. idempotent silver append, scoped to touched partitions.
        # Reads + writes go through the txn manifest (streaming/
        # txn.py): the anti-join sees only COMMITTED rows, so crash
        # orphans can never absorb a replayed batch, and the append
        # publishes atomically (old-or-new, never partial).
        committed = txn.read_committed(spark_, silver_dir)
        if committed is not None:
            existing = (
                committed
                .where(F.col(DAY_COL).isin(touched))
                .select("event_id")
            )
            batch = batch.join(existing, "event_id", "left_anti")
        txn.commit_append(
            silver_dir, txn.stage_append(batch, silver_dir, (DAY_COL,))
        )
        # 2. recompute rollup for touched days from committed silver;
        # commit_replace swaps exactly those day partitions in ONE
        # transaction (Spark's native partitionOverwriteMode=dynamic
        # deletes files per-partition during job commit — a crash
        # mid-commit could leave a mixed old/new rollup visible).
        fresh = partial(
            txn.read_committed(spark_, silver_dir)
            .where(F.col(DAY_COL).isin(touched))
        )
        txn.commit_replace(
            out_dir, txn.stage_append(fresh, out_dir, (DAY_COL,))
        )

    return (
        stream.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def serve_hourly(spark: SparkSession, rollup_dir: str) -> DataFrame:
    """The serving view over the maintained rollup (same output
    schema as q75 / q50): reads ONLY the materialized table — no
    touch of the raw events."""
    return (
        txn.read_committed(spark, rollup_dir)
        .select(
            "window_start",
            "event_type",
            "n",
            money_out(F.col("total_dec")).alias("total_value_d"),
        )
        .orderBy("window_start", "event_type")
    )


# Registered query: the whole maintenance loop end-to-end, oracle-
# checked. Runs the actual stream (AvailableNow) into fresh scratch
# dirs, then serves from the materialized rollup ONLY — so the
# value-hash compares "rollup maintained incrementally by streaming
# ingest" against "batch SQL over the raw events". Strongest
# possible evidence the serving table equals the source of truth.
_ORACLE_Q83 = """
SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
       event_type,
       COUNT(*) AS n,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS total_value_d
FROM events
GROUP BY window_start, event_type
ORDER BY window_start, event_type
"""


def q83_stream_cagg_serving(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..artifacts import call_scratch

    root = call_scratch(spark, sf_dir, "q83")
    silver, rollup, ckpt = (
        os.path.join(root, d) for d in ("silver", "rollup", "ckpt")
    )
    start_events_rollup(
        spark, sf_dir, silver, rollup, ckpt, _hourly_partial, glob="events.parquet"
    ).awaitTermination()
    return serve_hourly(spark, rollup)


def _register() -> None:
    from ..registry import register

    register(
        "q83_stream_cagg_serving",
        oracle=_ORACLE_Q83,
        doc="Continuous aggregate maintained END-TO-END by the real "
        "streaming ingest (foreachBatch: idempotent silver append + "
        "touched-day rollup recompute), then served from the "
        "materialized table only — hash-checked against batch SQL "
        "over the raw events (T7 + the reference's consumer-keeps-"
        "serving-tables-fresh pattern).",
        tags=("streaming", "continuous-aggregate", "gold"),
    )(q83_stream_cagg_serving)


_register()
