"""Multimodal column plumbing (EXT surface).

Images/audio/video are opaque ``binary`` columns plus typed metadata. The
Spark-side plumbing — schema, batching, partition sizing, UDF signatures —
is real and tested; the actual media decode is STUBBED (the container has no
image/audio libraries) behind ``DecodeNotAvailable`` with a deterministic
fake implementation used by tests.

Pattern at scale: ``mapInPandas`` over Arrow record batches so each Python
worker sees a bounded batch of blobs; heavy blobs ride alongside metadata
columns without driver round-trips. Pair with
``spark.sql.execution.arrow.maxRecordsPerBatch`` to cap batch memory.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)


class DecodeNotAvailable(NotImplementedError):
    """Raised by the real decode path: media codecs are not installed in
    this environment. The deterministic fake below keeps the distributed
    plumbing testable."""


FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("media_type", StringType(), True),
        StructField("byte_len", LongType(), True),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("n_frames", IntegerType(), True),
        StructField("feature_crc", LongType(), True),
    ]
)


def documents_as_media(documents: DataFrame) -> DataFrame:
    """Adapter for tests/bench: treat document text bytes as opaque payloads
    so the binary-column plumbing runs on real distributed data."""
    payload = F.encode(F.col("text"), "UTF-8")
    return documents.select(
        F.col("doc_id").alias("media_id"),
        (F.element_at(F.array(F.lit("image"), F.lit("audio"), F.lit("video")), (F.col("doc_id") % 3 + 1).cast("int"))).alias("media_type"),
        payload.alias("payload"),
        F.octet_length(payload).cast("long").alias("byte_len"),
        F.sha2(payload, 256).alias("sha256"),
    )


def _fake_decode(media_type: str, payload: bytes) -> tuple[int, int, int, int]:
    """Deterministic stand-in for a real codec: derives (width, height,
    n_frames, crc) purely from the payload bytes. Replace with PIL/ffmpeg
    calls in a full environment."""
    if payload is None:
        return (0, 0, 0, 0)
    h = 0
    for byt in payload[:4096]:
        h = (h * 131 + byt) % (1 << 31)
    width = 16 + h % 1024
    height = 16 + (h >> 10) % 1024
    n_frames = 1 if media_type == "image" else 1 + h % 300
    return (width, height, n_frames, h)


def extract_features(media: DataFrame, real_decode: bool = False) -> DataFrame:
    """Distributed feature extraction over binary payloads via
    ``mapInPandas`` (Arrow-batched; one Python process per task, bounded
    batches)."""

    def gen(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import pandas as pd

        for pdf in batches:
            if real_decode:
                raise DecodeNotAvailable("media codecs not installed in this environment")
            feats = [
                _fake_decode(mt, pl) for mt, pl in zip(pdf["media_type"], pdf["payload"])
            ]
            out = pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "media_type": pdf["media_type"],
                    "byte_len": pdf["byte_len"],
                    "width": [f[0] for f in feats],
                    "height": [f[1] for f in feats],
                    "n_frames": [f[2] for f in feats],
                    "feature_crc": [f[3] for f in feats],
                }
            )
            yield out

    return media.mapInPandas(gen, FEATURE_SCHEMA)


FRAME_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("media_type", StringType(), True),
        StructField("n_frames", IntegerType(), True),
        StructField("frame_idx", IntegerType(), True),
        StructField("frame_crc", LongType(), True),
    ]
)


def frame_sample(media: DataFrame, stride: int = 10, real_decode: bool = False) -> DataFrame:
    """Stride-sample frames from video/audio payloads: one output row per
    sampled frame (images contribute their single frame). Same
    ``mapInPandas`` shape as ``extract_features`` — the expansion happens
    inside the Arrow batch, so a 300-frame video never materializes as 300
    JVM rows with a duplicated multi-MB payload; only the (small) per-frame
    feature rows cross back. At scale, follow with ``repartition`` if
    frame-level downstream work needs rebalancing."""
    if stride < 1:
        raise ValueError("stride must be >= 1")

    def gen(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import pandas as pd

        for pdf in batches:
            if real_decode:
                raise DecodeNotAvailable("media codecs not installed in this environment")
            rows = []
            for mid, mt, pl in zip(pdf["media_id"], pdf["media_type"], pdf["payload"]):
                _w, _h, n_frames, crc = _fake_decode(mt, pl)
                for idx in range(0, n_frames, stride):
                    rows.append((mid, mt, n_frames, idx, (crc + idx * 2654435761) % (1 << 31)))
            yield pd.DataFrame(
                rows, columns=["media_id", "media_type", "n_frames", "frame_idx", "frame_crc"]
            )

    return media.mapInPandas(gen, FRAME_SCHEMA)


RESIZE_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("media_type", StringType(), True),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("target_w", IntegerType(), True),
        StructField("target_h", IntegerType(), True),
        StructField("payload", BinaryType(), True),
        StructField("byte_len", LongType(), True),
    ]
)


def resize_media(
    media: DataFrame, target_w: int = 224, target_h: int = 224, real_decode: bool = False
) -> DataFrame:
    """Resize image payloads to a fixed target (the standard
    pre-training-vision shape). Decode is stubbed: the fake 'resized'
    payload is a deterministic byte slice scaled to the target's pixel
    fraction of the decoded dimensions, so the batch plumbing (binary in,
    binary out, metadata columns preserved) is exercised end-to-end.
    Replace the body of ``_resize_one`` with PIL/cv2 in a full environment.

    Scale shape: binary columns never leave the executor; each Arrow batch
    holds a bounded number of blobs (cap with
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` for multi-MB media)."""

    def _resize_one(mt: str, payload: bytes) -> tuple[int, int, bytes]:
        if payload is None:
            # early-return BEFORE decode so the None contract survives
            # swapping in a real decoder that rejects null payloads
            return (0, 0, b"")
        width, height, _f, _crc = _fake_decode(mt, payload)
        frac = min(1.0, (target_w * target_h) / max(width * height, 1))
        out_len = max(1, int(len(payload) * frac))
        return (width, height, payload[:out_len])

    def gen(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import pandas as pd

        for pdf in batches:
            if real_decode:
                raise DecodeNotAvailable("media codecs not installed in this environment")
            resized = [_resize_one(mt, pl) for mt, pl in zip(pdf["media_type"], pdf["payload"])]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "media_type": pdf["media_type"],
                    "width": [r[0] for r in resized],
                    "height": [r[1] for r in resized],
                    "target_w": target_w,
                    "target_h": target_h,
                    "payload": [r[2] for r in resized],
                    "byte_len": [len(r[2]) for r in resized],
                }
            )

    return media.mapInPandas(gen, RESIZE_SCHEMA)
