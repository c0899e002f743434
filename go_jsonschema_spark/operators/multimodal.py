"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata, processed via Arrow-batched ``mapInPandas``.

The decode step is STUBBED: a deterministic fake decoder produces
byte-derived features — the Spark-side plumbing (schema, batch iteration,
partition sizing) is real and tested; swapping the stub for Pillow/ffmpeg
changes one function body.

Schema convention:

    media(media_id string, kind string, payload binary,
          meta struct<width:int, height:int, sample_rate:int, duration_ms:int>)
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

__all__ = ["MEDIA_SCHEMA", "FEATURE_SCHEMA", "extract_features", "synth_media"]

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),  # image|audio|video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("sample_rate", T.IntegerType(), True),
                    T.StructField("duration_ms", T.IntegerType(), True),
                ]
            ),
            True,
        ),
    ]
)

FEATURE_SCHEMA = (
    "media_id string, kind string, n_bytes int, checksum bigint, "
    "feature array<float>"
)


def _decode_fake(payload: bytes, n_feat: int = 8) -> list[float]:
    """Deterministic fake decode: byte-histogram features.  Stands in for
    a real decoder (Pillow / torchaudio / ffmpeg)."""
    if payload is None:
        return [0.0] * n_feat
    buckets = [0] * n_feat
    for b in payload:
        buckets[b % n_feat] += 1
    total = max(len(payload), 1)
    return [round(c / total, 6) for c in buckets]


def extract_features(media: DataFrame) -> DataFrame:
    """Feature extraction over binary payloads with ``mapInPandas``.

    Arrow ships each partition to Python in batches; the UDF is a batch
    iterator, so decoder state (model weights, in the real version) loads
    once per task, not per row.  Output schema is fixed → downstream plans
    stay fully typed."""

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import zlib

        for pdf in batches:
            out = pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": pdf["payload"].map(
                        lambda p: 0 if p is None else len(p)
                    ),
                    # crc32: deterministic across workers/runs, unlike
                    # Python's per-process-salted hash() — and the same
                    # polynomial as Spark's native F.crc32
                    "checksum": pdf["payload"].map(
                        lambda p: 0 if p is None else zlib.crc32(bytes(p))
                    ),
                    "feature": pdf["payload"].map(
                        lambda p: _decode_fake(None if p is None else bytes(p))
                    ),
                }
            )
            yield out

    return media.mapInPandas(_extract, FEATURE_SCHEMA)


def synth_media(spark, n: int = 64) -> DataFrame:
    """Deterministic synthetic media table (payload = seeded bytes).
    Partition count is sized to the row count — spinning up one Python
    worker per core for a 128-row table costs more than the work."""
    n_part = max(1, min(spark.sparkContext.defaultParallelism, n // 64))
    return spark.range(0, n, numPartitions=n_part).select(
        F.format_string("m%06d", F.col("id")).alias("media_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.pmod(F.col("id"), F.lit(3)) + 1).cast("int"),
        ).alias("kind"),
        F.sha2(F.col("id").cast("string"), 256).cast("binary").alias("payload"),
        F.struct(
            F.lit(64).alias("width"),
            F.lit(64).alias("height"),
            F.lit(16000).alias("sample_rate"),
            F.lit(1000).alias("duration_ms"),
        ).alias("meta"),
    )
