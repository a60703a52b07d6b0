"""Multimodal column plumbing: image/audio/video as opaque BINARY columns
with typed metadata, processed by Arrow-batched ``mapInPandas`` stages.

The Spark-side contract (schemas, partitioning, batch shapes, UDF
signatures) is real and tested.  IMAGE decode is REAL: ops/png.py is a
pure-stdlib PNG codec (zlib+struct, all five filter types) plugged into
the ``decode_fn`` seam and oracle-checked on pixel content (registry
``mm_png_feature``).  AUDIO decode is REAL: ops/wav.py is a pure-stdlib
RIFF/PCM16 codec, oracle-checked on sample content (``mm_wav_energy``).
VIDEO decode is REAL for uncompressed AVI: ops/avi.py walks the RIFF
container and decodes DIB frames, with sampled iteration that never
reads skipped frames (``mm_avi_frames``).  Compressed codecs
(JPEG/H.264/...) remain the production-ffmpeg seam with the same
``bytes -> list[float]`` signature (SURVEY north-star: multimodal
columns).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    LongType,
    StringType,
    StructField,
    StructType,
)

FEATURE_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("kind", StringType()),
    StructField("n_bytes", LongType()),
    StructField("feature", ArrayType(FloatType())),
])


def deterministic_fake_decode(payload: bytes, dim: int = 8) -> list[float]:
    """STUB decoder: a deterministic feature from the payload bytes.
    Stands in for image-decode→embed; replace with a real model fn.
    """
    if payload is None:
        return [0.0] * dim
    acc = [0] * dim
    for i, b in enumerate(payload):
        acc[i % dim] = (acc[i % dim] * 31 + b) % 104729
    return [a / 104729.0 for a in acc]


def extract_features(media: DataFrame,
                     decode_fn: Callable[[bytes], list[float]] | None = None,
                     batch_hint: int = 1024) -> DataFrame:
    """Decode/feature-extract media payloads via mapInPandas — Arrow
    batches in, Arrow batches out; scales by input partitioning (media
    tables should be written bucketed by media_id so downstream joins
    against features are co-partitioned)."""
    fn = decode_fn or deterministic_fake_decode

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            out = pd.DataFrame({
                "media_id": pdf["media_id"],
                "kind": pdf["kind"],
                "n_bytes": pdf["payload"].map(
                    lambda p: 0 if p is None else len(p)).astype("int64"),
                "feature": pdf["payload"].map(fn),
            })
            yield out

    return media.mapInPandas(run, schema=FEATURE_SCHEMA)


def frame_sample_stub(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame sampling contract: one output row per sampled frame.
    Real implementation decodes with ffmpeg inside mapInPandas; the stub
    emits deterministic frame offsets from duration metadata so the
    explode/partition shape is real."""
    n_frames = F.greatest(
        F.lit(1), (F.coalesce(F.col("duration_ms"), F.lit(0)) / every_ms)
        .cast("int"))
    return (
        media.filter(F.col("kind") == "video")
        .withColumn("frame_idx",
                    F.explode(F.sequence(F.lit(0), n_frames - 1)))
        .select("media_id", "frame_idx",
                (F.col("frame_idx") * every_ms).alias("offset_ms"))
    )


def synth_media_from_documents(docs: DataFrame) -> DataFrame:
    """Deterministic media table derived from documents (the container
    ships no binary testdata): payload = utf-8 bytes of the text, kind
    cycles image/audio/video, metadata derived from doc fields."""
    kind = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.col("doc_id") % 3 + 1).cast("int"))
    return docs.select(
        F.col("doc_id").alias("media_id"),
        kind.alias("kind"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.lit("application/octet-stream").alias("mime"),
        F.when(kind == "image", F.col("n_chars")).alias("width"),
        F.when(kind == "image", F.col("n_chars") % 1080).alias("height"),
        F.when(kind == "video", F.col("n_chars") * 10)
         .when(kind == "audio", F.col("n_chars") * 5).alias("duration_ms"),
    )
