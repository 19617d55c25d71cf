"""One way to run a registry stream: ``file_stream`` reads a parquet
dir as a file-source stream, and ``drain`` runs a stream to
completion under Trigger.AvailableNow and hands back its output as a
batch frame. Ingest (streaming/ingest.py) and the txn change feed
(streaming/cdfsource.py) keep their own text and ``txn_changes``
sources.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession

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
