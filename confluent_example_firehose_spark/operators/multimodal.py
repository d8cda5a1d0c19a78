"""Multimodal column handling: opaque binary payloads + typed metadata.

Design (SURVEY-mandated north star): image/audio/video travel as
`binary` columns with a typed metadata struct alongside; decode /
feature-extract / resize / frame-sample run as Arrow-batched
`mapInPandas` stages. The codec libraries (PIL/ffmpeg/etc.) are not
dependencies, so the feature kernel is a deterministic fake
(extract_features' byte-level moments) while the Spark-side plumbing (schema, batch iteration, partition mapping, UDF
signatures) is real and tested.

Scale notes: mapInPandas streams Arrow record batches — memory is
bounded by `spark.sql.execution.arrow.maxRecordsPerBatch`, not
partition size; decode stages should repartition to many small
partitions (binary rows are fat) and never groupBy before decode.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Typed metadata carried next to every binary payload.
MEDIA_META_SCHEMA = T.StructType(
    [
        T.StructField("media_type", T.StringType()),  # image|audio|video
        T.StructField("codec", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("byte_mean", T.DoubleType()),
        T.StructField("feature", T.ArrayType(T.DoubleType())),
    ]
)


def attach_fake_media(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Deterministic fake payloads: the binary column is the utf-8 text
    (stands in for encoded image bytes), metadata derived from it.
    Real ingestion would read the bytes from object storage with
    `spark.read.format('binaryFile')`. Rows with a NULL source are
    dropped here — the ingest contract: a media row without a payload
    does not exist (a None reaching the Arrow kernels is a crash, not
    a value; caught by tools/drift_probe.py's NULL-text doc)."""
    df = df.filter(F.col(text_col).isNotNull())
    payload = F.encode(F.col(text_col), "utf-8")
    meta = F.struct(
        F.lit("image").alias("media_type"),
        F.lit("fake/raw").alias("codec"),
        (F.length(F.col(text_col)) % 640).cast("int").alias("width"),
        (F.length(F.col(text_col)) % 480).cast("int").alias("height"),
        F.lit(None).cast("long").alias("duration_ms"),
    )
    return df.select(
        F.col(id_col).alias("doc_id"),
        payload.alias("payload"),
        meta.alias("media"),
    )


def extract_features(df: DataFrame, n_dims: int = 8) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads.

    The feature kernel is a deterministic fake (byte histogram moments)
    standing in for a real vision model; the batch shape, schema, and
    partition mapping are exactly what the real kernel would use. The
    fake is batch-VECTORIZED the way a real model kernel would be
    (one flat buffer + numpy segment ops per Arrow batch, no per-row
    Python loop): per-row sums via cumulative-sum differences (exact
    int64, and safe for zero-length rows where np.add.reduceat is
    not), per-row feature gathers via one broadcasted index matrix.
    Values are bit-identical to the scalar definition
    mean = sum(b)/len(b), feat[i] = float(b[i % len(b)])."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            bufs = [bytes(p) for p in pdf["payload"]]
            lens = np.fromiter(
                (len(b) for b in bufs), dtype=np.int64, count=len(bufs)
            )
            flat = np.frombuffer(b"".join(bufs), dtype=np.uint8)
            offsets = np.cumsum(lens) - lens
            csum = np.concatenate(
                ([0], np.cumsum(flat, dtype=np.int64))
            )
            sums = csum[offsets + lens] - csum[offsets]
            safe_lens = np.maximum(lens, 1)
            means = np.where(lens > 0, sums / safe_lens, 0.0)
            # Gather matrix: row r, dim i -> flat[offset_r + (i % n_r)];
            # clip keeps empty rows (masked to 0.0 below) in bounds.
            pos = offsets[:, None] + (
                np.arange(n_dims)[None, :] % safe_lens[:, None]
            )
            pos = np.minimum(pos, max(flat.size - 1, 0))
            gathered = (
                flat[pos] if flat.size else np.zeros_like(pos)
            ).astype(np.float64)
            feats = np.where(lens[:, None] > 0, gathered, 0.0)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].to_numpy(),
                    "n_bytes": lens,
                    "byte_mean": means,
                    "feature": feats.tolist(),
                },
                columns=[f.name for f in FEATURE_SCHEMA],
            )

    return df.select("doc_id", "payload").mapInPandas(kernel, FEATURE_SCHEMA)


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
    ]
)


def resize_images(
    df: DataFrame, width: int = 64, height: int = 64
) -> DataFrame:
    """Arrow-batched resize stage. The pixel kernel is a deterministic
    fake (truncate/pad the payload to width*height bytes — stands in
    for PIL's resample, which needs libjpeg); batch shape, schema and
    the narrow-map plan are exactly the real pipeline's. At scale this
    stage dominates CPU, so it must stay a shuffle-free mapInPandas
    over many small partitions (binary rows are fat)."""
    target = width * height

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(payload)[:target]
                b = b + b"\x00" * (target - len(b))
                out.append(
                    {
                        "doc_id": doc_id,
                        "payload": b,
                        "width": width,
                        "height": height,
                    }
                )
            yield pd.DataFrame(
                out, columns=[f.name for f in RESIZED_SCHEMA]
            )

    return df.select("doc_id", "payload").mapInPandas(kernel, RESIZED_SCHEMA)


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame", T.BinaryType()),
    ]
)


def sample_frames(
    df: DataFrame, n_frames: int = 4, frame_bytes: int = 16
) -> DataFrame:
    """Frame sampling: 1 input row -> n output rows (uniform temporal
    stride over the payload, standing in for ffmpeg keyframe
    extraction). A generator-shaped mapInPandas — the row explosion
    happens inside the Arrow batch, never via a shuffle."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(payload)
                if not b:
                    continue
                stride = max(1, len(b) // n_frames)
                for i in range(n_frames):
                    start = min(i * stride, max(0, len(b) - 1))
                    out.append(
                        {
                            "doc_id": doc_id,
                            "frame_idx": i,
                            "frame": b[start : start + frame_bytes],
                        }
                    )
            yield pd.DataFrame(out, columns=[f.name for f in FRAME_SCHEMA])

    return df.select("doc_id", "payload").mapInPandas(kernel, FRAME_SCHEMA)
