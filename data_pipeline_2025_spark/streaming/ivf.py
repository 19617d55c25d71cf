"""Streaming IVF index maintenance (q126) — the ANN story's ingest
half, completing the symmetry with the other stream-maintained
state (silver/rollup: cagg.py, sketch grids: cms.py, dedup
signatures: dedupgate.py): vectors are INDEXED AS THEY ARRIVE
against a fixed codebook, instead of by a periodic full-corpus
assignment job.

Production shape this mirrors: IVF centroids are trained OFFLINE
(here: the deterministic first-K seed vectors, same as batch q41 /
the q82 Lloyd step that would refine them) and frozen before ingest
starts; the arriving stream only ASSIGNS — a broadcast of K
centroids against each micro-batch, zero shuffles, O(batch · K)
work, then an idempotent append to the assignment table. Nothing
ever rescans the indexed corpus; serving reads the materialized
assignment table (the inverted lists), which is exactly what
q41-style probes search.

The registered query runs the real stream over an ascending 3-way
split of the embeddings table into fresh scratch dirs, serves from
the materialized assignment table ONLY, and hash-matches q41's
one-pass batch oracle — streaming maintenance == batch index,
proven.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from . import txn
from .stream import append_absent, file_stream, start_batches

from ..catalog import table_path
from ..fixtures import split_ascending
from ..operators.similarity import _IVF_CTE, N_CENTROIDS


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norms_of(embs: DataFrame) -> DataFrame:
    """(vec_id, v: array<double>, n2) of any embeddings frame —
    the same expressions as the batch path's _vec_norms."""
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    e = embs.select("vec_id", v.alias("v"))
    return e.withColumn("n2", _dot(F.col("v"), F.col("v")))


def _assign(batch_norms: DataFrame, cent: DataFrame) -> DataFrame:
    """(vec_id, centroid_id, d2_r): nearest-of-K assignment, the
    identical distance/tie-break algebra as batch q41."""
    d2 = F.round(
        F.col("n2") + F.col("cn2") - 2 * _dot(F.col("v"), F.col("cv")), 6
    )
    w = Window.partitionBy("vec_id").orderBy("d2_r", "centroid_id")
    return (
        batch_norms.crossJoin(F.broadcast(cent))
        .withColumn("d2_r", d2)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("vec_id", "centroid_id", "d2_r")
    )


def load_centroids(spark: SparkSession, source_path: str) -> DataFrame:
    """The frozen codebook: deterministic seed vectors (vec_id < K),
    read once before the stream starts — the 'train offline, freeze,
    then ingest' step of a production IVF deployment."""
    embs = spark.read.parquet(source_path).where(F.col("vec_id") < N_CENTROIDS)
    return _norms_of(embs).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("v").alias("cv"),
        F.col("n2").alias("cn2"),
    )


def start_ivf_indexer(
    spark: SparkSession,
    source_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    centroids: DataFrame,
) -> StreamingQuery:
    """Assign an embeddings file stream (one file per micro-batch) to
    the frozen centroids and append (idempotently) to the
    inverted-list table."""
    stream = file_stream(spark, source_dir, max_files=1)
    cent = centroids.persist()

    def index(batch: DataFrame, batch_id: int) -> None:
        rows = _assign(_norms_of(batch), cent)
        append_absent(rows, index_dir, ["vec_id"], None, ())

    return start_batches(stream, index, checkpoint_dir)


_ORACLE_Q126 = f"""
WITH {_IVF_CTE}
SELECT vec_id, centroid_id, d2_r FROM assign
"""


def q126_stream_ivf_indexing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..artifacts import call_scratch

    root = call_scratch(spark, sf_dir, "q126")
    src, index, ckpt = (os.path.join(root, d) for d in ("in", "index", "ckpt"))
    split_ascending(spark, table_path(sf_dir, "embeddings"), "vec_id", src)
    cent = load_centroids(spark, src)
    start_ivf_indexer(spark, src, index, ckpt, cent).awaitTermination()
    cent.unpersist()
    return txn.read_committed(spark, index).orderBy("vec_id")


def _register() -> None:
    from ..registry import register

    register(
        "q126_stream_ivf_indexing",
        oracle=_ORACLE_Q126,
        doc="IVF index maintained by the real ingest stream: frozen "
        "offline codebook broadcast against each arriving "
        "micro-batch (zero shuffles, O(batch x K)), idempotent "
        "append to the inverted-list table; the served table "
        "hash-matches q41's one-pass batch assignment.",
        tags=("streaming", "similarity", "ivf"),
    )(q126_stream_ivf_indexing)


_register()
