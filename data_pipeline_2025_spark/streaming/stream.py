"""One way to run a stream: ``file_stream`` reads a parquet dir as a
file-source stream; ``drain`` runs a stream to completion under
Trigger.AvailableNow and hands back its output as a batch frame;
``start_batches`` starts a checkpointed foreachBatch stream under
AvailableNow; and ``append_absent`` is the replay-safe append every
streaming txn sink commits through. Ingest (streaming/ingest.py) and
the txn change feed (streaming/cdfsource.py) keep their own text and
``txn_changes`` sources.

``append_absent`` is the reference consumer's ``BEGIN … INSERT … ON
CONFLICT DO NOTHING … COMMIT`` (rabbitmq-to-postgres/app.py:158-176)
on the txn log: the rows whose keys the COMMITTED snapshot does not
hold are staged invisibly and published by one atomic commit. Crash
orphans are invisible to the key read, so a replayed batch re-appends
them instead of being absorbed; a replay of a committed batch appends
nothing. For a partitioned sink the key read covers only the batch's
touched partitions, so it is O(replay window), never O(history) —
Delta's MERGE predicate ``target.part IN (...)``.
"""

from __future__ import annotations

import os
import uuid
from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from . import txn
from ..catalog import normalize_ts


def file_stream(
    spark: SparkSession,
    source_dir: str,
    glob: str | None = None,
    max_files: int | None = None,
) -> DataFrame:
    """File-source stream over the parquet files in ``source_dir``,
    ``ts`` (when present) normalized as in catalog.load_table.

    ``glob`` narrows a mixed dir to one table's files (the file source
    wants a directory, not a file path); ``max_files`` caps the files
    per micro-batch, so ascending-mtime drops arrive as separate
    batches."""
    # Same defensive confs as catalog.load_table, so the stream reads
    # in a bare session (one without session.DEFAULT_CONF): nanosAsLong for
    # TIMESTAMP(NANOS) generators, UTC so the NTZ→LTZ cast is
    # epoch-exact vs DuckDB's naive reads.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    schema_src = source_dir if glob is None else os.path.join(source_dir, glob)
    reader = spark.readStream.schema(spark.read.parquet(schema_src).schema)
    if glob is not None:
        reader = reader.option("pathGlobFilter", glob)
    if max_files is not None:
        reader = reader.option("maxFilesPerTrigger", max_files)
    return normalize_ts(reader.parquet(source_dir))


def drain(df: DataFrame, mode: str, checkpoint: str | None = None) -> DataFrame:
    """Run the streaming ``df`` to completion (AvailableNow, output
    mode ``mode``) into a memory sink and return the sink's rows as a
    batch frame.

    The sink's temp view is dropped before this returns, so repeated
    calls leave nothing in the session catalog. The returned frame
    holds the sink itself, not the view name, so it stays valid (and
    its rows stay in memory) for as long as it is referenced.
    ``checkpoint`` keeps the run's state where a State Data Source
    read can find it."""
    spark = df.sparkSession
    name = f"drain_{uuid.uuid4().hex}"
    writer = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
    )
    if checkpoint is not None:
        writer = writer.option("checkpointLocation", checkpoint)
    try:
        writer.start().awaitTermination()
        return spark.table(name)
    finally:
        spark.catalog.dropTempView(name)


def start_batches(
    df: DataFrame, body: Callable[[DataFrame, int], None], checkpoint: str
) -> StreamingQuery:
    """Start the streaming ``df`` with ``body(batch, batch_id)`` run on
    each micro-batch, checkpointed at ``checkpoint``, under
    AvailableNow (drain what has landed, then stop; swap the trigger
    for a processingTime cadence to mirror the reference's poller)."""
    return (
        df.writeStream.foreachBatch(body)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def existing_keys(
    committed: DataFrame,
    keys: list[str],
    part_col: str | None,
    touched: Iterable,
) -> DataFrame:
    """The ``keys`` columns of ``committed``; with ``part_col``, only
    those of the partitions in ``touched``. The IN-list predicate on
    the partition column prunes at the file index, so untouched
    partitions are never opened. ``touched`` may hold None (the null
    partition)."""
    if part_col is None:
        return committed.select(*keys)
    touched = list(touched)
    vals = [v for v in touched if v is not None]
    pred = F.col(part_col).isin(vals) if vals else F.lit(False)
    if any(v is None for v in touched):
        pred = pred | F.col(part_col).isNull()
    return committed.where(pred).select(*keys)


def append_absent(
    batch: DataFrame,
    sink: str,
    keys: list[str],
    part_col: str | None,
    touched: Iterable,
) -> None:
    """Stage and commit, in one commit, the rows of ``batch`` whose
    ``keys`` the committed snapshot of ``sink`` does not hold. The key
    match is null-safe, so a NULL key column still matches its
    replayed twin. ``part_col`` partitions the sink (None: not
    partitioned); ``touched`` are the batch's values of it, already
    collected by the caller."""
    committed = txn.read_committed(batch.sparkSession, sink)
    if committed is not None:
        existing = existing_keys(committed, keys, part_col, touched)
        cond = None
        for k in keys:
            c = batch[k].eqNullSafe(existing[k])
            cond = c if cond is None else cond & c
        batch = batch.join(existing, cond, "left_anti")
    parts = () if part_col is None else (part_col,)
    txn.commit_append(sink, txn.stage_append(batch, sink, parts))
