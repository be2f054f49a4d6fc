"""Multimodal columns: opaque binary payloads + typed metadata, with
Arrow-batched decode/feature-extract plumbing (repo charter).

Design: media travels as a ``binary`` column next to a metadata struct
(modality, mime, width/height/duration, source uri).  Decode and
feature extraction run as ``mapInPandas`` stages — Arrow batches in,
Arrow batches out, so the Python boundary is vectorized and the
pipeline shape (schema, partitioning, batch size) is identical to what
a real image/audio decoder would use at 100 TB.

The actual codec step is STUBBED: the container ships no image/audio
libraries, so ``decode_media`` computes deterministic fake features
(byte stats); a real decoder is a ``mapInPandas`` stage with the
same signature as ``extract_features`` and ``FEATURE_SCHEMA`` output.
Everything around the stub is real and tested.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_pipeline_for_e_commerce_shop_spark.schemas import load_table

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("modality", T.StringType(), True),
                    T.StructField("mime", T.StringType(), True),
                    T.StructField("n_bytes", T.LongType(), True),
                    T.StructField("source", T.StringType(), True),
                ]
            ),
            True,
        ),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("modality", T.StringType(), True),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("byte_mean", T.DoubleType(), True),
        T.StructField("distinct_bytes", T.IntegerType(), True),
        T.StructField("head_hex", T.StringType(), True),
    ]
)


def media_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize a media table from `documents`: utf-8 payload bytes +
    metadata struct.  In production this is a parquet/Iceberg table
    whose binary column was written by the ingestion tier."""
    docs = load_table(spark, sf_dir, "documents")
    payload = F.encode("text", "utf-8")
    return docs.select(
        F.col("doc_id").alias("media_id"),
        payload.alias("payload"),
        F.struct(
            F.when(F.col("doc_id") % 3 == 0, "image")
            .when(F.col("doc_id") % 3 == 1, "audio")
            .otherwise("video")
            .alias("modality"),
            F.lit("application/octet-stream").alias("mime"),
            F.octet_length(payload).cast("long").alias("n_bytes"),
            F.col("source").alias("source"),
        ).alias("meta"),
    )


def extract_features(media: DataFrame, batch_size_hint: int = 256) -> DataFrame:
    """Arrow-batched feature extraction over the binary column.

    ``mapInPandas`` streams column batches; each batch computes
    per-payload byte statistics (the stand-in for resize / frame-sample
    / spectrogram).  Partitioning is preserved — no shuffle; at scale
    this runs at scan parallelism with Python amortized per batch.
    """

    def features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"]
            out = pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "modality": pdf["meta"].map(
                        lambda m: m["modality"] if m is not None else None
                    ),
                    "n_bytes": payloads.map(
                        lambda b: len(b) if b is not None else 0
                    ).astype("int64"),
                    "byte_mean": payloads.map(
                        lambda b: (sum(b) / len(b)) if b else 0.0
                    ),
                    "distinct_bytes": payloads.map(
                        lambda b: len(set(b)) if b else 0
                    ).astype("int32"),
                    "head_hex": payloads.map(
                        lambda b: bytes(b[:4]).hex() if b else ""
                    ),
                }
            )
            yield out

    return media.mapInPandas(features, FEATURE_SCHEMA)


def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: synthesize media -> Arrow-batched features."""
    return extract_features(media_table(spark, sf_dir))


# Frame-sampling geometry: fixed 64-byte "frames", keep every 2nd one.
FRAME_BYTES = 64
FRAME_STRIDE = 2

FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("frame_no", T.LongType(), False),
        T.StructField("frame_len", T.LongType(), True),
        T.StructField("byte_sum", T.LongType(), True),
        T.StructField("head_hex", T.StringType(), True),
    ]
)


def sample_frames(media: DataFrame) -> DataFrame:
    """Video-style frame sampling as the CARDINALITY-CHANGING
    mapInPandas shape: each payload is cut into fixed FRAME_BYTES
    frames, every FRAME_STRIDE-th frame is kept, and one output row is
    emitted per sampled frame (extract_features is 1:1; this is 1:N —
    the batch contract a real pyav frame sampler would use).

    No shuffle: frames inherit the scan partitioning, Python cost is
    amortized per Arrow batch, and downstream per-frame stages (CLIP
    embedding, OCR, ...) consume the exploded rows directly.  The
    per-frame stats stand in for the decoded tensor (the codec step is
    stubbed — see the module docstring).
    """

    def frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, nos, lens, sums, heads = [], [], [], [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None:
                    continue
                b = bytes(payload)
                n_frames = (len(b) + FRAME_BYTES - 1) // FRAME_BYTES
                for k in range(0, n_frames, FRAME_STRIDE):
                    fr = b[k * FRAME_BYTES : (k + 1) * FRAME_BYTES]
                    ids.append(mid)
                    nos.append(k)
                    lens.append(len(fr))
                    sums.append(sum(fr))
                    heads.append(fr[:4].hex())
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="int64"),
                    "frame_no": pd.Series(nos, dtype="int64"),
                    "frame_len": pd.Series(lens, dtype="int64"),
                    "byte_sum": pd.Series(sums, dtype="int64"),
                    "head_hex": pd.Series(heads, dtype="object"),
                }
            )

    return media.mapInPandas(frames, FRAME_SCHEMA)


def multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: synthesize media -> sampled per-frame rows."""
    return sample_frames(media_table(spark, sf_dir))


def arrow_byte_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document char/byte stats via mapInArrow — the FIFTH Arrow
    shape (raw RecordBatch in, RecordBatch out; no pandas conversion).

    mapInArrow is the zero-copy end of the Python spectrum: batches
    stay columnar Arrow end-to-end and all work is vectorized
    pyarrow.compute kernels (C++), so the Python layer only routes
    batches.  The right shape for byte-level media/codec work where
    pandas object-dtype round-trips would dominate (a real decode
    stage would sit exactly here).

    Zero shuffle, scan-speed; oracle = plain length()/strlen().
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def stats(batches):
        for b in batches:
            text = b.column("text")
            yield pa.RecordBatch.from_arrays(
                [
                    b.column("doc_id"),
                    pc.cast(pc.utf8_length(text), pa.int64()),
                    pc.cast(pc.binary_length(text), pa.int64()),
                ],
                names=["doc_id", "n_chars", "n_bytes"],
            )

    return docs.mapInArrow(
        stats, "doc_id long, n_chars long, n_bytes long"
    )


MAGIC_PNG = "89504E470D0A1A0A"
MAGIC_JPEG = "FFD8FFE000104A46"
MAGIC_RIFF = "524946460000000057415645"


def media_type_sniff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-sniff binary payloads by magic bytes — the zero-decode
    triage step a multimodal ingest runs BEFORE routing to codecs
    (declared extensions lie; headers don't).

    Payloads are synthesized deterministically (doc_id % 4 selects a
    PNG / JPEG / RIFF-WAVE signature or none, prepended to the utf-8
    text bytes) because the testdata ships no real media; the
    detection path — binary concat, hex, prefix CASE — is the real
    production shape and is byte-replayed by the oracle.  Pure
    projection + a 4-row aggregate; no Python, no shuffle beyond the
    final rollup.
    """
    docs = load_table(spark, sf_dir, "documents")
    magic = F.expr(
        f"CASE CAST(doc_id % 4 AS INT)"
        f" WHEN 0 THEN unhex('{MAGIC_PNG}')"
        f" WHEN 1 THEN unhex('{MAGIC_JPEG}')"
        f" WHEN 2 THEN unhex('{MAGIC_RIFF}')"
        f" ELSE unhex('') END"
    )
    payload = F.concat(magic, F.encode("text", "utf-8"))
    hx = F.hex(payload)
    sniffed = docs.select(
        "doc_id",
        F.when(F.substring(hx, 1, 8) == "89504E47", "png")
        .when(F.substring(hx, 1, 6) == "FFD8FF", "jpeg")
        .when(F.substring(hx, 1, 8) == "52494646", "riff")
        .otherwise("unknown")
        .alias("media_type"),
        F.octet_length(payload).cast("long").alias("n_bytes"),
    )
    return sniffed.groupBy("media_type").agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum("n_bytes").alias("total_bytes"),
    )
