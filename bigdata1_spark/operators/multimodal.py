"""Multimodal binary-column plumbing (north-star: image/audio/video as
opaque binary + typed metadata).

The container has no image/audio codecs, so the decode step is STUBBED
(deterministic fake "decode" clearly marked below); everything Spark-side
is real and tested: schema, Arrow batch shape, ``mapInPandas`` iteration,
partition behavior. Swapping ``_fake_decode`` for PIL/ffmpeg is a
one-function change.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from bigdata1_spark.functions.hashing import md5_int

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),       # image|audio|video
        StructField("payload", BinaryType()),    # opaque encoded bytes
        StructField("meta_w", LongType()),       # typed metadata columns
        StructField("meta_h", LongType()),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),
        StructField("n_bytes", LongType()),
        StructField("feat_mean", LongType()),    # stub feature: mean byte
        StructField("thumb_w", LongType()),
        StructField("thumb_h", LongType()),
    ]
)


MEDIA_SEED = 42
THUMB_PX = 64  # thumbnail clamp


def synth_media(spark: SparkSession, n: int = 256) -> DataFrame:
    """Deterministic fake media rows: payload = seeded pseudo-random
    bytes (stands in for real encoded frames).

    Every column is a pure md5/sha256 function of (``MEDIA_SEED``,
    media_id) — the ``gen_billings``/``python_datasource`` recipe — so a
    SQL oracle regenerates the table row-for-row and even the binary-payload
    pipeline downstream is full value-hash checked (round 7; previously
    xxhash64-seeded and rows-only). The payload is the 64 ASCII-hex
    bytes of sha256(id:seed): opaque to the pipeline, reproducible as
    ``encode(sha256(...))`` everywhere."""
    h = lambda salt: md5_int(  # noqa: E731
        F.concat_ws("|", F.lit(str(MEDIA_SEED)), F.lit(salt),
                    F.col("id").cast("string")),
        15,
    )
    kinds = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (h("kind") % 3 + 1).cast("int"),
    )
    payload = F.sha2(
        F.concat_ws(":", F.col("id"), F.lit(MEDIA_SEED)), 256
    ).cast("binary")
    # numPartitions sized to the demo row count: mapInPandas forks a
    # Python worker per partition, so 32 near-empty partitions would pay
    # 32 interpreter startups for 256 rows. At scale, partition count
    # follows data volume, not core count.
    return spark.range(0, n, 1, numPartitions=max(2, n // 128)).select(
        F.col("id").alias("media_id"),
        kinds.alias("kind"),
        payload.alias("payload"),
        (h("w") % 1920 + 1).alias("meta_w"),
        (h("h") % 1080 + 1).alias("meta_h"),
    )


def _fake_decode(payload: bytes) -> bytes:
    """STUB decode. A real deployment decodes image/audio bytes here
    (PIL / torchaudio / ffmpeg — not installed in this container).
    The fake is deterministic: the payload bytes themselves."""
    return payload


def decode_and_featurize(media: DataFrame) -> DataFrame:
    """mapInPandas feature extraction over binary payloads.

    Real plumbing: Arrow batches stream through Python once, output is a
    fresh typed schema, rows stay partition-local (no shuffle). The
    per-row work (decode → resize → feature) is the stubbed part.
    """

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            decoded = pdf["payload"].map(_fake_decode)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": decoded.map(len).astype("int64"),
                    "feat_mean": decoded.map(
                        lambda b: int(sum(b) // max(len(b), 1))
                    ).astype("int64"),
                    # thumbnail dims: clamp aspect-preserving to THUMB_PX
                    "thumb_w": pdf[["meta_w", "meta_h"]]
                    .apply(lambda r: min(int(r.meta_w), THUMB_PX), axis=1)
                    .astype("int64"),
                    "thumb_h": pdf[["meta_w", "meta_h"]]
                    .apply(lambda r: min(int(r.meta_h), THUMB_PX), axis=1)
                    .astype("int64"),
                }
            )

    return media.mapInPandas(extract, schema=FEATURE_SCHEMA)


def multimodal_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: synth media → mapInPandas featurize → per-kind
    aggregate (exercises binary columns end-to-end). FULL value-hash
    oracle since round 7: the media table is md5/sha256-derived, so
    DuckDB regenerates payloads and features in SQL and pins every
    aggregate — the Arrow batch path, the byte-level feature math, and
    the thumbnail clamp are all inside the hash."""
    feats = decode_and_featurize(synth_media(spark))
    return feats.groupBy("kind").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_bytes").alias("total_bytes"),
        F.min("feat_mean").alias("min_feat"),
        F.max("feat_mean").alias("max_feat"),
        F.sum("feat_mean").alias("sum_feat"),
        F.sum("thumb_w").alias("sum_thumb_w"),
        F.sum("thumb_h").alias("sum_thumb_h"),
    )
