"""Multimodal column handling: image/audio/video as opaque ``binary``
columns + typed metadata, processed through Arrow-batched mapInPandas.

The decode step is STUBBED (image/audio codecs are not in this
container): `decode_image_features` computes a deterministic fake feature
vector from the bytes; `decode_image_real` raises NotImplementedError and
documents where a real libjpeg/PIL decode plugs in. Everything Spark-side
— schema, partition sizing, UDF signature, Arrow batch shape — is real
and tested, so swapping the fake for a real decoder is a one-function
change.

Pattern notes for 100 TB of media:
  * binary payloads ride in their own column so column pruning keeps them
    out of every stage that doesn't decode;
  * length-bucket repartitioning before the UDF evens out Arrow batch
    memory (the same mega-blob concern as extraction chunking);
  * features come back as fixed-width array<float> — joinable with the
    similarity operators (similarity.py) for near-dup detection on media.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),     # image|audio|video
        T.StructField("mime", T.StringType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("payload", T.BinaryType(), False),  # opaque bytes
    ]
)

FEATURE_DIM = 16

FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("n_bytes", T.LongType(), False),
        T.StructField("features", T.ArrayType(T.FloatType()), False),
        # exact-comparable provenance for the cross-engine oracle:
        # payload digest (hex, engine-portable) — features themselves are
        # float32; the oracle compares a rounded head of the vector
        T.StructField("payload_sha256", T.StringType(), False),
    ]
)


def synthetic_media_df(spark, n: int = 64, seed: int = 42) -> DataFrame:
    """Deterministic fake media table (payload = seeded bytes)."""
    rows = []
    kinds = ["image", "audio", "video"]
    mimes = {"image": "image/jpeg", "audio": "audio/wav", "video": "video/mp4"}
    for i in range(n):
        kind = kinds[i % 3]
        payload = hashlib.sha256(f"{seed}:{i}".encode()).digest() * (4 + i % 13)
        rows.append(
            (i, kind, mimes[kind],
             64 + i % 512 if kind != "audio" else None,
             64 + (i * 7) % 512 if kind != "audio" else None,
             bytearray(payload))
        )
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def decode_image_real(payload: bytes) -> "np.ndarray":
    """Where the real decoder goes (PIL/libjpeg/ffmpeg are not available
    in this container)."""
    raise NotImplementedError(
        "real media decode requires PIL/ffmpeg; use decode_image_features "
        "(deterministic fake) for plumbing tests"
    )


def _fake_features(payload: bytes, dim: int = FEATURE_DIM) -> np.ndarray:
    """Deterministic stand-in: hash the payload (via its hex form — ASCII,
    so the derivation is reproducible in engines whose sha256 only takes
    strings, e.g. the DuckDB oracle) into a fixed-width vector. Same
    bytes -> same vector, so dedup/similarity tests are meaningful."""
    h = hashlib.sha256(payload.hex().encode()).digest()
    raw = np.frombuffer((h * ((dim * 4) // len(h) + 1))[: dim * 4], dtype=np.uint32)
    return (raw.astype(np.float64) / np.iinfo(np.uint32).max).astype(np.float32)


def extract_media_features(media: DataFrame) -> DataFrame:
    """mapInPandas feature extraction over length-bucketed partitions.

    Arrow moves `payload` as bytes; the UDF is invoked per micro-batch.
    """
    narrow = media.select(
        "media_id", "kind", "payload", F.length("payload").alias("n_bytes")
    ).repartitionByRange("n_bytes", "media_id")  # length bucketing

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [
                _fake_features(bytes(p)).tolist() for p in pdf["payload"]
            ]
            digests = [
                hashlib.sha256(bytes(p).hex().encode()).hexdigest()
                for p in pdf["payload"]
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": pdf["n_bytes"].astype("int64"),
                    "features": feats,
                    "payload_sha256": digests,
                }
            )

    return narrow.mapInPandas(run, FEATURES_SCHEMA)
