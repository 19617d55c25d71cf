"""Streaming ingest: the reference's three containers (S3 poller →
RabbitMQ → Postgres consumer, SURVEY.md §3.2) collapsed into ONE
checkpointed Structured Streaming job:

    file source (exactly-once file tracking replaces the in-memory
    processed_files set, T1)
      → per-item explode + envelope (T2)
      → silver casts (S9)
      → foreachBatch idempotent append (checkpoint + content-key
        anti-join = effectively-once, replacing ack/requeue +
        UNIQUE-constraint, T3/T6)

Sink is parquet here (this container has no Delta); with Delta the
foreachBatch body becomes a single MERGE. The replay test in
tests/test_ingest.py proves duplicate file delivery does not
duplicate rows.

The sink append is stream.append_absent, the one replay-safe append
of every streaming txn sink (streaming/stream.py): each micro-batch
is staged invisibly and published by one atomic log-entry create, so
a crash mid-batch leaves readers on the previous snapshot —
old-or-new, never partial (the reference's Postgres transaction
boundary, rabbitmq-to-postgres/app.py:158-176). Its anti-join reads
the COMMITTED snapshot: orphaned files from a crashed batch are
invisible to it, so the replayed batch re-appends those rows instead
of being wrongly absorbed
(tests/test_ingest.py::test_silver_publish_crash_never_partial).

The sink is PARTITIONED BY event date (ingest_date =
date(price_update_date)) and the anti-join reads ONLY the partitions
present in the micro-batch: replays arrive within a bounded
event-time window (T6), so the dedup read is O(replay window), never
O(history).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..sources.bronze import explode_items, normalize_price_payload
from ..sources.silver import DEDUP_KEY, dedupe_price_items, normalize_items
from . import txn
from .stream import append_absent, start_batches

PARTITION_COL = "ingest_date"


# The serving read of the silver sink: its committed snapshot (crash
# orphans invisible), None before the first commit.
read_silver = txn.read_committed


def start_price_ingest(
    spark: SparkSession,
    source_dir: str,
    sink_dir: str,
    checkpoint_dir: str,
    index_dir: str | None = None,
) -> StreamingQuery:
    """Start the end-to-end ingest stream (AvailableNow so tests and
    backfills drain the source then stop; swap the trigger for
    processingTime='30 seconds' to mirror the reference's poll
    cadence, T4).

    With ``index_dir`` set, each micro-batch also maintains the
    trigram search index (the pg_trgm GIN analog, a txn table): a
    batch that finds no committed index builds it from every name in
    the committed silver, and each later batch commits one file of
    postings for its item names the index does not hold yet —
    replayed names are no-ops — so the serving index stays fresh with
    the data, exactly like the reference's index updating on
    INSERT."""
    raw = (
        spark.readStream.format("text")
        .option("wholetext", "true")
        .schema("value STRING")
        .load(source_dir)
        .select(
            F.input_file_name().alias("source_file"),
            F.col("value").alias("raw_payload"),
        )
    )
    silver = normalize_items(explode_items(normalize_price_payload(raw)))

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        batch = dedupe_price_items(batch).withColumn(
            PARTITION_COL, F.to_date("price_update_date")
        )
        spark_ = batch.sparkSession
        # One collect of the batch's distinct (event date, item name)
        # pairs — bounded by one micro-batch, a driver-side list like
        # the touched dates alone. Index names come from it, i.e. from
        # the PRE-anti-join batch: if a crash lands between the sink
        # commit and the index update, the replayed batch is fully
        # absorbed by the anti-join below, so a post-anti-join names
        # frame would be empty and those names would NEVER be
        # indexed. Re-posting already-indexed names is a no-op
        # (update_trigram_index skips names the index holds).
        pairs = batch.select(PARTITION_COL, "item_name").distinct().collect()
        names = sorted({r["item_name"] for r in pairs} - {None})
        touched = {r[PARTITION_COL] for r in pairs}
        append_absent(batch, sink_dir, DEDUP_KEY, PARTITION_COL, touched)
        if index_dir is not None and names:
            from ..operators import search

            if txn.versions(index_dir):
                search.update_trigram_index(spark_, index_dir, names)
            else:
                # a fresh (or lost) index covers every committed name,
                # not just this batch's (a batch with names leaves the
                # silver with a commit)
                silver_names = txn.read_committed(spark_, sink_dir).select(
                    F.col("item_name").alias("name")
                )
                search.build_trigram_index_at(
                    spark_, silver_names.dropna().distinct(), index_dir
                )

    return start_batches(silver, write_batch, checkpoint_dir)
