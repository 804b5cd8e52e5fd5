"""Multimodal column plumbing (SURVEY §7 M8): image/audio/video as opaque
``binary`` columns + typed metadata structs.

The Spark-side architecture is real and tested — schema, partition-aware
batching via mapInPandas (Arrow), UDF signatures, frame-sampling shapes.
The codec step itself is stubbed (no PIL/ffmpeg in this container) behind
`decode_stub`, a deterministic fake keyed on the byte content, clearly
marked; swap in a real decoder by replacing one function.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
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

from ..functions.local import local_frame

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("kind", StringType(), False),  # image | audio | video
        StructField("content", BinaryType(), True),
        StructField("mime", StringType(), True),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("duration_ms", IntegerType(), True),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("kind", StringType(), False),
        StructField("n_bytes", IntegerType(), True),
        StructField("content_hash", StringType(), True),
        StructField("feature", ArrayType(FloatType()), True),
    ]
)


def decode_stub(content: bytes, dim: int = 8) -> list[float]:
    """STUB decoder: deterministic pseudo-feature from the md5 of the
    bytes. Replace with a real image/audio decode (PIL / torchaudio) in a
    container that has the libs; the Spark plumbing is unchanged."""
    if content is None:
        return [0.0] * dim
    h = hashlib.md5(content).digest()
    return [h[i] / 255.0 for i in range(dim)]


def extract_features(df: DataFrame, dim: int = 8) -> DataFrame:
    """Batch feature extraction over binary media via mapInPandas — Arrow
    batches in, Arrow batches out; never a row at a time. Partitioning of
    the input is preserved (map-only, no shuffle)."""

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            contents = pdf["content"].tolist()
            n = len(contents)
            # ONE md5 per row (the digest feeds both content_hash and the
            # stub feature); everything else is vectorized numpy. Null
            # content maps to a zero digest → zero feature, null hash —
            # identical to decode_stub's null contract.
            digests = [
                hashlib.md5(b).digest() if b is not None else b"\x00" * 16
                for b in contents
            ]
            n_bytes = np.fromiter(
                (len(b) if b is not None else 0 for b in contents),
                dtype=np.int64,
                count=n,
            )
            if n:
                raw = np.frombuffer(b"".join(digests), dtype=np.uint8).reshape(n, 16)
                feats = (raw[:, :dim] / 255.0).tolist()
            else:
                feats = []
            out = pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": n_bytes,
                    "content_hash": [
                        d.hex() if b is not None else None
                        for d, b in zip(digests, contents)
                    ],
                    "feature": feats,
                }
            )
            yield out

    return df.mapInPandas(_extract, schema=FEATURE_SCHEMA)


def _be_int(col, pos: int, nbytes: int):
    """Big-endian unsigned int from `nbytes` bytes at 1-based `pos` of a
    binary column — hex the slice, parse base-16. All JVM built-ins."""
    return F.conv(F.hex(F.substring(col, pos, nbytes)), 16, 10).cast("long")


def _le_int(col, pos: int, nbytes: int):
    """Little-endian unsigned int: reverse the hex byte pairs then parse."""
    h = F.hex(F.substring(col, pos, nbytes))
    pairs = [F.substring(h, 2 * i + 1, 2) for i in range(nbytes)]
    return F.conv(F.concat(*reversed(pairs)), 16, 10).cast("long")


def sniff_metadata(df: DataFrame, content_col: str = "content") -> DataFrame:
    """Codec-FREE media metadata from raw bytes — the part of multimodal
    ingestion that needs no PIL/ffmpeg and therefore runs real here:
    container sniffing (magic numbers) + header field extraction for
    PNG (IHDR width/height, big-endian), GIF (logical screen size,
    little-endian) and WAV (channels + sample rate, little-endian).

    Pure `substring`/`hex`/`conv` expressions → whole-stage codegen, scan
    speed over 100 TB of blobs; the typical first pass of a media
    pipeline (drop corrupt/unsupported files, bucket by resolution)
    before any expensive decode."""
    c = F.col(content_col)
    hdr = F.hex(F.substring(c, 1, 8))
    fmt = (
        F.when(hdr.startswith("89504E47"), "png")
        .when(hdr.startswith("474946383"), "gif")
        .when(
            hdr.startswith("52494646")
            & (F.hex(F.substring(c, 9, 4)) == F.lit("57415645")),
            "wav",
        )
        .otherwise("unknown")
    )
    out = df.withColumn("format", fmt)
    return out.select(
        "*",
        F.when(F.col("format") == "png", _be_int(c, 17, 4))
        .when(F.col("format") == "gif", _le_int(c, 7, 2))
        .alias("sniff_width"),
        F.when(F.col("format") == "png", _be_int(c, 21, 4))
        .when(F.col("format") == "gif", _le_int(c, 9, 2))
        .alias("sniff_height"),
        F.when(F.col("format") == "wav", _le_int(c, 23, 2)).alias("sniff_channels"),
        F.when(F.col("format") == "wav", _le_int(c, 25, 4)).alias("sniff_sample_rate"),
    )


def frame_sample_plan(df: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling plumbing: expand each video row into frame
    timestamps (sequence + explode — JVM-side), ready for a decoder UDF.
    The per-frame decode is the stub above."""
    frames = F.sequence(F.lit(0), F.coalesce(F.col("duration_ms"), F.lit(0)), F.lit(every_ms))
    return (
        df.filter(F.col("kind") == "video")
        .select("media_id", F.explode(frames).alias("frame_ms"))
    )


def synthetic_media(spark, n: int = 64) -> DataFrame:
    """Deterministic fake media table for tests (bytes derived from id)."""
    rows = []
    kinds = ["image", "audio", "video"]
    for i in range(n):
        kind = kinds[i % 3]
        content = hashlib.sha256(str(i).encode()).digest() * (1 + i % 4)
        rows.append(
            (i, kind, bytearray(content), f"application/x-{kind}", 64, 48, 3000 if kind == "video" else None)
        )
    return local_frame(spark, rows, MEDIA_SCHEMA)
