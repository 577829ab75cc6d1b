"""Multimodal (image/audio/video) column handling for training-data
pipelines.

Media lives in the lake as opaque ``binary`` payload columns with typed
metadata — the layout every large multimodal corpus uses (payload +
sidecar metadata struct, partitioned by media_type/date so a modality
scan prunes). Heavy per-item work (decode, feature-extract, resize,
frame-sample) runs as Arrow-batched ``mapInPandas`` stages: executors
stream record batches, Python touches each payload once, and no bytes
ever pass through the driver.

The actual codec work needs image/audio libraries this container does
not ship, so the decode kernels are STUBS — clearly marked
``NotImplementedError`` with a deterministic fake behind the same
signature — while everything Spark-side (schema, batch iteration,
partitioning, output shape) is real and tested. Swap ``_fake_*`` for
PIL/ffmpeg calls in production; nothing else changes.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
import pyspark.sql.functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_TYPES = ("image", "audio", "video")

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("media_type", StringType()),
        StructField("payload", BinaryType()),
        StructField(
            "meta",
            StructType(
                [
                    StructField("byte_len", LongType()),
                    StructField("width", IntegerType()),
                    StructField("height", IntegerType()),
                    StructField("duration_ms", LongType()),
                ]
            ),
        ),
    ]
)

FEATURE_DIM = 8

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("media_type", StringType()),
        StructField("byte_len", LongType()),
        StructField("content_md5", StringType()),
        StructField("features", ArrayType(DoubleType())),
    ]
)


def media_from_documents(docs: DataFrame) -> DataFrame:
    """Deterministic media table derived from the documents fixture:
    payload = UTF-8 bytes of the text, media_type round-robins, metadata
    derived from payload size. Stands in for a real ingest that stages
    image/audio bytes next to their source rows."""
    mt = F.element_at(
        F.array(*[F.lit(t) for t in MEDIA_TYPES]), (F.col("doc_id") % 3 + 1).cast("int")
    )
    payload = F.encode("text", "UTF-8")
    byte_len = F.octet_length("text").cast("long")
    return docs.select(
        F.col("doc_id").alias("media_id"),
        mt.alias("media_type"),
        payload.alias("payload"),
        F.struct(
            byte_len.alias("byte_len"),
            # fake decode dims: deterministic from size so tests + oracle agree
            (byte_len % 640 + 1).cast("int").alias("width"),
            (byte_len % 480 + 1).cast("int").alias("height"),
            (byte_len * 10).alias("duration_ms"),
        ).alias("meta"),
    )


def _fake_features(payload: bytes) -> list[float]:
    """Deterministic stand-in for an embedding/feature extractor: 8 dims
    from the md5 digest, each in [0, 1). Replace with a real model call
    (batched) in production."""
    digest = hashlib.md5(payload).digest()
    return [int.from_bytes(digest[2 * j : 2 * j + 2], "big") / 65536.0 for j in range(FEATURE_DIM)]


def extract_features(media: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over payload bytes.

    ``mapInPandas`` streams record batches per partition — the batch
    shape (pandas DataFrame of payload bytes) is exactly what a
    GPU-batched encoder wants; at scale, repartition by media_type first
    so each executor batch is modality-homogeneous.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            payloads = batch["payload"]
            yield pd.DataFrame(
                {
                    "media_id": batch["media_id"],
                    "media_type": batch["media_type"],
                    "byte_len": payloads.map(len),
                    "content_md5": payloads.map(lambda b: hashlib.md5(b).hexdigest()),
                    "features": payloads.map(_fake_features),
                }
            )

    cols = media.select("media_id", "media_type", "payload")
    return cols.repartition("media_type").mapInPandas(run, schema=FEATURE_SCHEMA)


def extract_features_arrow(media: DataFrame) -> DataFrame:
    """The ``mapInArrow`` twin of ``extract_features``: the same
    feature extraction consuming raw ``pyarrow.RecordBatch``es — no
    pandas materialization between Arrow and the kernel, the
    lowest-overhead Python batch path Spark 4 offers. The right shape
    when the per-batch kernel itself speaks Arrow/NumPy (a Triton/ONNX
    encoder taking contiguous buffers): pandas conversion would only
    add a copy per batch. Output values are identical to the pandas
    twin (same digest math), so both run against the SAME oracle."""
    import pyarrow as pa

    def run(batches):
        for batch in batches:
            ids = batch.column("media_id")
            payloads = batch.column("payload").to_pylist()
            yield pa.RecordBatch.from_arrays(
                [
                    ids,
                    batch.column("media_type"),
                    pa.array([len(b) for b in payloads], pa.int64()),
                    pa.array([hashlib.md5(b).hexdigest() for b in payloads]),
                    pa.array([_fake_features(b) for b in payloads],
                             pa.list_(pa.float64())),
                ],
                names=["media_id", "media_type", "byte_len", "content_md5", "features"],
            )

    cols = media.select("media_id", "media_type", "payload")
    return cols.repartition("media_type").mapInArrow(run, schema=FEATURE_SCHEMA)
