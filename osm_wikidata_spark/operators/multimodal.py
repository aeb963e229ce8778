"""Multimodal column plumbing (driver mandate).

Image/audio/video payloads are opaque ``binary`` columns with typed
metadata; decode / feature-extract run as Arrow-batch kernels
(``functions.arrow.map_batches``).  The decode kernels themselves are
STUBBED (no codec libraries in this container): ``decode_stub=True``
computes deterministic fake features (hash-derived), while the Spark-side
contract — schema, batching, partitioning — is real and tested.  Swapping in PIL/torchaudio later only
replaces ``_fake_feature``.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..functions.arrow import map_batches

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),        # image | audio | video
        StructField("payload", BinaryType()),
        StructField("mime", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("duration_ms", IntegerType()),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),
        StructField("feature", ArrayType(FloatType())),
        StructField("n_bytes", IntegerType()),
    ]
)

FEATURE_DIM = 8


def synth_media(spark, n: int = 64) -> DataFrame:
    """Deterministic fake media table: payload = repeated hash bytes."""
    return spark.range(n).select(
        F.col("id").alias("media_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("id") % 3 + 1).cast("int"),
        ).alias("kind"),
        F.encode(F.md5(F.col("id").cast("string")), "utf-8").alias("payload"),
        F.lit("application/octet-stream").alias("mime"),
        F.lit(64).alias("width"),
        F.lit(64).alias("height"),
        F.lit(1000).alias("duration_ms"),
    )


def _fake_feature(payload: bytes, kind: str) -> list[float]:
    """Deterministic stand-in for a real decode+embed kernel.

    A real implementation would decode the payload (PIL / ffmpeg /
    torchaudio — unavailable here) and embed it; raising NotImplementedError
    for unknown kinds keeps the stub honest.
    """
    if kind not in ("image", "audio", "video"):
        raise NotImplementedError(f"no decoder for media kind {kind!r}")
    seed = np.frombuffer(payload[:16].ljust(16, b"\0"), dtype=np.uint8).astype(np.float32)
    folded = seed.reshape(2, 8).sum(axis=0)
    return (folded / 255.0).tolist()


FRAME_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("ts_ms", IntegerType()),
        StructField("payload", BinaryType()),
    ]
)


def resize_images(media: DataFrame, width: int, height: int) -> DataFrame:
    """Resize every image-kind payload (a batch kernel; non-images pass
    through untouched).

    The pixel kernel is the deterministic fake ``md5(payload ++
    ':WxH')`` — a real build swaps in PIL's ``Image.resize`` per batch;
    the Spark contract (schema preserved, metadata width/height updated,
    Arrow batching) is the tested part.
    """
    import hashlib

    suffix = f":{width}x{height}".encode()

    def _resize(pdf):
        is_img = pdf["kind"] == "image"
        pdf.loc[is_img, "payload"] = [
            hashlib.md5(bytes(p) + suffix).hexdigest().encode()
            for p in pdf.loc[is_img, "payload"]
        ]
        pdf.loc[is_img, "width"] = width
        pdf.loc[is_img, "height"] = height
        return pdf

    return map_batches(media, _resize, MEDIA_SCHEMA)


def sample_frames(media: DataFrame, every_ms: int = 250) -> DataFrame:
    """Sample frames from video-kind payloads every ``every_ms`` — a
    one-to-many batch kernel (the UDTF shape: one video row → one row per
    sampled frame).

    Frame decode is the deterministic fake ``md5(payload ++ ':frame:i')``;
    a real build swaps in an ffmpeg/pyav seek per batch.
    """
    import hashlib

    def _frames(pdf):
        out = {"media_id": [], "frame_idx": [], "ts_ms": [], "payload": []}
        for _, row in pdf[pdf["kind"] == "video"].iterrows():
            n_frames = max(int(row["duration_ms"]) // every_ms, 1)
            for i in range(n_frames):
                out["media_id"].append(row["media_id"])
                out["frame_idx"].append(i)
                out["ts_ms"].append(i * every_ms)
                out["payload"].append(
                    hashlib.md5(
                        bytes(row["payload"]) + f":frame:{i}".encode()
                    ).hexdigest().encode()
                )
        return out

    return map_batches(media, _frames, FRAME_SCHEMA)


def extract_features(media: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over the opaque payload column.

    A batch kernel sees whole record batches in Python — the right shape
    for codec work (decoder init amortised per batch).
    """

    def _features(pdf):
        return {
            "media_id": pdf["media_id"],
            "kind": pdf["kind"],
            "feature": [
                _fake_feature(p, k) for p, k in zip(pdf["payload"], pdf["kind"])
            ],
            "n_bytes": pdf["payload"].map(len),
        }

    return map_batches(media, _features, FEATURE_SCHEMA)
