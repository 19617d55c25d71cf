"""Multimodal-column plumbing — BASELINE.json's image/audio/video
requirement. Media lives as opaque `binary` columns with typed
metadata; decode / feature-extract / resize / frame-sample run as
Arrow-batched pandas functions over `mapInPandas`.

The actual codec libraries are NOT in this container, so the decode
step is STUBBED (clearly marked below) with a deterministic fake
keyed off the bytes — but the Spark-side plumbing is real and
oracle-checked: explicit output schema, binary column synthesis,
Arrow batch transfer, per-batch pandas processing. Swap
`_fake_decode` for a PIL/ffmpeg call and nothing else changes.

Scale: mapInPandas streams Arrow batches — constant memory per task,
no shuffle; at 100 TB you partition by (media_type, size bucket) so
batch shapes stay uniform.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..catalog import Catalog
from ..registry import register

METADATA_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("media_type", StringType()),
        StructField("byte_len", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("frames", IntegerType()),
        StructField("duration_ms", LongType()),
    ]
)

_MEDIA_TYPES = ("image", "audio", "video")


def _fake_decode(blob: bytes, media_type: str) -> tuple[int, int, int, int]:
    """Deterministic stand-in for decode: metadata derived purely
    from the payload bytes (so the DuckDB oracle can recompute it)."""
    first = blob[0] if blob else 0
    n = len(blob)
    width = 16 * (1 + first % 64)
    height = 16 * (1 + n % 64)
    frames = 1 + n % 240 if media_type == "video" else 1
    duration_ms = 10 * n if media_type != "image" else 0
    return width, height, frames, duration_ms


def _decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        metas = [
            _fake_decode(blob, mt)
            for blob, mt in zip(pdf["payload"], pdf["media_type"])
        ]
        out = pd.DataFrame(
            metas, columns=["width", "height", "frames", "duration_ms"]
        )
        out.insert(0, "doc_id", pdf["doc_id"].values)
        out.insert(1, "media_type", pdf["media_type"].values)
        out.insert(2, "byte_len", [len(b) for b in pdf["payload"]])
        yield out


_ORACLE_Q45 = """
SELECT doc_id,
       CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
       length(text) AS byte_len,
       CAST(16 * (1 + ascii(substr(text, 1, 1)) % 64) AS INTEGER) AS width,
       CAST(16 * (1 + length(text) % 64) AS INTEGER)              AS height,
       CAST(CASE WHEN doc_id % 3 = 2 THEN 1 + length(text) % 240 ELSE 1 END AS INTEGER) AS frames,
       CASE WHEN doc_id % 3 = 0 THEN 0 ELSE 10 * length(text) END AS duration_ms
FROM documents
"""


FRAME_SAMPLES = 4

FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_pos", IntegerType()),
        StructField("frame_hash", StringType()),
    ]
)


def _sample_frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    import hashlib

    for pdf in batches:
        out = []
        for doc_id, blob in zip(pdf["doc_id"], pdf["payload"]):
            n = len(blob)
            frames_total = 1 + n % 240
            k = min(frames_total, FRAME_SAMPLES)
            for i in range(k):
                pos = i * frames_total // k
                out.append(
                    (
                        doc_id,
                        pos,
                        hashlib.md5(f"{doc_id}:{pos}".encode()).hexdigest(),
                    )
                )
        yield pd.DataFrame(out, columns=["doc_id", "frame_pos", "frame_hash"])


_ORACLE_Q60 = f"""
WITH vids AS (
    SELECT doc_id,
           1 + length(text) % 240 AS frames_total,
           least(1 + length(text) % 240, {FRAME_SAMPLES}) AS k
    FROM documents
    WHERE doc_id % 3 = 2
)
SELECT doc_id,
       CAST(i * frames_total // k AS INTEGER) AS frame_pos,
       md5(doc_id || ':' || CAST(i * frames_total // k AS VARCHAR)) AS frame_hash
FROM vids, UNNEST(range(0, k)) AS t(i)
"""


@register(
    "q60_multimodal_frame_sample",
    oracle=_ORACLE_Q60,
    doc="Frame sampling for video payloads via mapInPandas (stubbed "
    "decoder): uniform-stride positions, one output row per sampled "
    "frame — the explode-shaped pandas pattern.",
    tags=("multimodal", "pandas-udf"),
)
def q60_multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    vids = cat.documents.where(F.col("doc_id") % 3 == 2).select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload")
    )
    return vids.mapInPandas(_sample_frames, FRAME_SCHEMA)


@register(
    "q45_multimodal_metadata",
    oracle=_ORACLE_Q45,
    doc="Binary media column → Arrow-batched mapInPandas decode "
    "(stubbed codec, real plumbing) → typed metadata.",
    tags=("multimodal", "pandas-udf"),
)
def q45_multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    media = cat.documents.select(
        "doc_id",
        F.element_at(
            F.array(*[F.lit(t) for t in _MEDIA_TYPES]),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("media_type"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
    )
    return media.mapInPandas(_decode_batches, METADATA_SCHEMA)


# -------- q166: audio segmentation into overlapping windows
#
# The ASR-preprocessing shape (Whisper-style): every audio payload
# is cut into fixed-length windows with overlap (stride < length,
# so segment boundaries never lose speech), one output row per
# window with its time span and a content hash of the windowed
# bytes. Same honest seam as q45/q60: the codec is stubbed (the
# fake decode maps bytes -> 10 ms each), but the mapInPandas
# plumbing — binary slicing per Arrow batch, explode-shaped output,
# explicit schema — is the real pipeline; swap the byte slice for a
# resampled PCM window and nothing else changes. Scale: stride/
# length are constants, so output rows are O(total bytes / stride)
# and each task only touches its own batch — no shuffle anywhere.

AUDIO_MS_PER_BYTE = 10  # the _fake_decode duration model
AUDIO_WIN_MS = 5_000
AUDIO_STRIDE_MS = 4_000

AUDIO_CHUNK_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("chunk_idx", IntegerType()),
        StructField("start_ms", LongType()),
        StructField("end_ms", LongType()),
        StructField("chunk_hash", StringType()),
    ]
)


def _segment_audio(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    import hashlib

    win = AUDIO_WIN_MS // AUDIO_MS_PER_BYTE
    stride = AUDIO_STRIDE_MS // AUDIO_MS_PER_BYTE
    for pdf in batches:
        out = []
        for doc_id, blob in zip(pdf["doc_id"], pdf["payload"]):
            n = len(blob)
            start, idx = 0, 0
            while start < n:
                piece = blob[start : start + win]
                out.append(
                    (
                        doc_id,
                        idx,
                        start * AUDIO_MS_PER_BYTE,
                        (start + len(piece)) * AUDIO_MS_PER_BYTE,
                        hashlib.md5(piece).hexdigest(),
                    )
                )
                idx += 1
                start += stride
        yield pd.DataFrame(
            out, columns=["doc_id", "chunk_idx", "start_ms", "end_ms", "chunk_hash"]
        )


_ORACLE_Q166 = f"""
WITH aud AS (
    SELECT doc_id, text, length(text) AS n,
           1 + (length(text) - 1) // {AUDIO_STRIDE_MS // AUDIO_MS_PER_BYTE} AS k
    FROM documents
    WHERE doc_id % 3 = 1
)
SELECT doc_id,
       CAST(i AS INTEGER) AS chunk_idx,
       CAST(i * {AUDIO_STRIDE_MS} AS BIGINT) AS start_ms,
       CAST((i * {AUDIO_STRIDE_MS // AUDIO_MS_PER_BYTE}
             + least({AUDIO_WIN_MS // AUDIO_MS_PER_BYTE},
                     n - i * {AUDIO_STRIDE_MS // AUDIO_MS_PER_BYTE}))
            * {AUDIO_MS_PER_BYTE} AS BIGINT) AS end_ms,
       md5(substr(text, i * {AUDIO_STRIDE_MS // AUDIO_MS_PER_BYTE} + 1,
                  {AUDIO_WIN_MS // AUDIO_MS_PER_BYTE})) AS chunk_hash
FROM aud, UNNEST(range(0, k)) AS t(i)
"""


@register(
    "q166_audio_segmentation",
    oracle=_ORACLE_Q166,
    doc="Overlapping-window audio segmentation (ASR preprocessing "
    "shape): 5 s windows at 4 s stride over the binary payload via "
    "mapInPandas — per-window time spans + content hash, "
    "explode-shaped Arrow batches, stubbed codec with real "
    "plumbing like q45/q60.",
    tags=("multimodal", "pandas-udf", "audio"),
)
def q166_audio_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    audio = cat.documents.where(F.col("doc_id") % 3 == 1).select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload")
    )
    return audio.mapInPandas(_segment_audio, AUDIO_CHUNK_SCHEMA)


# -------- q241: thumbnail resize (the last of the four media ops)
#
# decode (q45), frame-sample (q60), audio-segment (q166) — this
# closes the brief's list with RESIZE: every image payload scaled
# to fit a 64-px bounding box with aspect ratio preserved. Same
# honest seam as the rest of the family: the pixel resample is
# stubbed (the codec libs aren't in this container) but everything
# an engine actually schedules is real — Arrow batch in, integer
# geometry computed per row, deterministic thumb content hash out,
# explicit schema. The geometry is pure integer algebra on the
# fake-decode dimensions, so the DuckDB oracle recomputes the
# whole thing including the hash; swap `_resize_stub` internals
# for PIL's `Image.thumbnail` and only the hash column stops being
# oracle-checkable. No shuffle; output O(images).

THUMB_MAX = 64  # bounding box, px


def _resize_stub(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    import hashlib

    for pdf in batches:
        rows = []
        for doc_id, blob in zip(pdf["doc_id"], pdf["payload"]):
            first = blob[0] if len(blob) else 0
            n = len(blob)
            w = 16 * (1 + first % 64)   # the q45 fake-decode geometry
            h = 16 * (1 + n % 64)
            m = max(w, h)
            ow = max(1, w * THUMB_MAX // m)
            oh = max(1, h * THUMB_MAX // m)
            rows.append(
                (
                    doc_id, w, h, ow, oh,
                    hashlib.md5(f"{doc_id}:{ow}x{oh}".encode()).hexdigest(),
                )
            )
        yield pd.DataFrame(
            rows,
            columns=["doc_id", "in_w", "in_h", "out_w", "out_h", "thumb_hash"],
        )


THUMB_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("in_w", IntegerType()),
        StructField("in_h", IntegerType()),
        StructField("out_w", IntegerType()),
        StructField("out_h", IntegerType()),
        StructField("thumb_hash", StringType()),
    ]
)

_ORACLE_Q241 = f"""
WITH imgs AS (
    SELECT doc_id,
           16 * (1 + ascii(substr(text, 1, 1)) % 64) AS w,
           16 * (1 + length(text) % 64) AS h
    FROM documents WHERE doc_id % 3 = 0
)
SELECT doc_id,
       CAST(w AS INTEGER) AS in_w, CAST(h AS INTEGER) AS in_h,
       CAST(greatest(1, w * {THUMB_MAX} // greatest(w, h)) AS INTEGER)
           AS out_w,
       CAST(greatest(1, h * {THUMB_MAX} // greatest(w, h)) AS INTEGER)
           AS out_h,
       md5(doc_id || ':'
           || CAST(greatest(1, w * {THUMB_MAX} // greatest(w, h)) AS VARCHAR)
           || 'x'
           || CAST(greatest(1, h * {THUMB_MAX} // greatest(w, h)) AS VARCHAR))
           AS thumb_hash
FROM imgs
ORDER BY doc_id
"""


@register(
    "q241_image_resize_thumbs",
    oracle=_ORACLE_Q241,
    doc="Aspect-preserving thumbnail resize for image payloads "
    "(stubbed resampler, real Arrow mapInPandas plumbing): integer "
    "bounding-box geometry + deterministic thumb hash, fully "
    "oracle-recomputable. Closes the decode / feature-extract / "
    "resize / frame-sample media quartet.",
    tags=("multimodal", "pandas-udf", "resize"),
)
def q241_image_resize_thumbs(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    imgs = cat.documents.where(F.col("doc_id") % 3 == 0).select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload")
    )
    return imgs.mapInPandas(_resize_stub, THUMB_SCHEMA).orderBy("doc_id")
