"""Multimodal column plumbing: image/audio/video as opaque binary.

The Spark-side machinery (schemas, metadata typing, frame-sampling
fan-out) is real and tested. No codec is bundled: ``extract_features``
derives a deterministic feature vector from the payload hash, with the
shapes/dtypes a real decoder would emit, so downstream operators
(dedup, ANN over the features) are fully exercisable.

Media schema convention:

    media(media_id: long, kind: string ('image'|'audio'|'video'),
          payload: binary, meta: struct<width:int, height:int,
          sample_rate:int, n_frames:int, mime:string>)
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

META_TYPE = T.StructType(
    [
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("mime", T.StringType()),
    ]
)

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("meta", META_TYPE, True),
    ]
)


def synthetic_media(spark: SparkSession, n: int, seed: int = 42) -> DataFrame:
    """Deterministic opaque-binary media table (no external data):
    payload bytes derive from sha2 of the id — stable across runs.

    ``kind`` is ``id % 3`` (not a seeded hash) so an ANSI-SQL oracle
    can reproduce the table exactly (``CASE media_id % 3 ...``)."""
    kinds = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.pmod(F.col("id"), F.lit(3)) + 1).cast("int"),
    )
    df = spark.range(n).select(
        F.col("id").alias("media_id"),
        kinds.alias("kind"),
        F.to_binary(F.sha2(F.concat(F.lit("payload"), F.col("id").cast("string")), 256), F.lit("hex")).alias(
            "payload"
        ),
        F.struct(
            (F.pmod(F.xxhash64("id", F.lit(seed + 1)), F.lit(1920)) + 1).cast("int").alias("width"),
            (F.pmod(F.xxhash64("id", F.lit(seed + 2)), F.lit(1080)) + 1).cast("int").alias("height"),
            F.lit(16_000).alias("sample_rate"),
            (F.pmod(F.xxhash64("id", F.lit(seed + 3)), F.lit(300)) + 1).cast("int").alias("n_frames"),
            F.lit("application/octet-stream").alias("mime"),
        ).alias("meta"),
    )
    return df


_FEATURE_DIM = 16

def extract_features(df: DataFrame) -> DataFrame:
    """Feature-extract: a deterministic 16-dim feature vector derived
    from the payload hash as PURE Column expressions — fully codegen'd
    JVM, no Python workers, no fresh-Arrow allocation (a hash chain
    never needed Python in the first place).
    """
    # Hash the lowercase-hex rendering of the payload (not raw
    # bytes): the chain stays inside valid UTF-8 so an
    # ANSI-SQL oracle (sha256(lower(hex(payload)))) reproduces it
    # exactly. Feature i is the i-th LITTLE-ENDIAN uint16 of the digest
    # scaled to [0,1] — byte pair (2i, 2i+1) = hex chars (4i..4i+2,
    # 4i+2..4i+4), low byte first. Double-divide-then-cast-to-float is
    # bit-identical to numpy float32(v)/float32(65535) for all 65536
    # lattice values (verified exhaustively), and round(f*65535)
    # recovers v exactly — features_fingerprint stays sha256(digest).
    sha = F.sha2(F.lower(F.hex(F.coalesce(F.col("payload"), F.lit(b"")))), 256)
    dig = F.col("payload_sha")
    feats = F.array(
        *[
            (
                (
                    F.conv(F.substring(dig, 4 * i + 1, 2), 16, 10).cast("double")
                    + F.conv(F.substring(dig, 4 * i + 3, 2), 16, 10).cast("double")
                    * 256.0
                )
                / 65535.0
            ).cast("float")
            for i in range(_FEATURE_DIM)
        ]
    )
    return (
        df.select("media_id", "kind", sha.alias("payload_sha"))
        .withColumn("features", feats)
    )


@F.pandas_udf(T.StringType())
def features_fingerprint(features: pd.Series) -> pd.Series:
    """Stable scalar digest of a float feature vector (Arrow-batched).

    Reconstructs the quantised uint16 lattice extract_features emits
    (round(f * 65535)), renders it as lowercase hex, and sha256-hashes
    that string — so the digest is exact (no float-formatting drift)
    and an ANSI-SQL oracle can reproduce it. Lets array-valued feature
    columns flow through scalar-only comparison harnesses."""

    def _fp(vec) -> str:
        arr = np.asarray(vec, dtype=np.float64)
        quantised = np.round(arr * 65535.0).astype("<u2").tobytes()
        return hashlib.sha256(quantised.hex().encode()).hexdigest()

    return features.map(_fp)


def frame_sample_plan(df: DataFrame, every_n: int = 30) -> DataFrame:
    """Video frame-sampling plan: one row per sampled frame index —
    pure Column math on metadata (no frame is decoded). Demonstrates
    explode-based fan-out partitioning."""
    return (
        df.filter(F.col("kind") == "video")
        .select(
            "media_id",
            F.explode(
                F.sequence(
                    F.lit(0), F.greatest(F.col("meta.n_frames") - 1, F.lit(0)), F.lit(every_n)
                )
            ).alias("frame_idx"),
        )
    )
