"""T3/T4: debounce batching as a session window.

Reference semantics (lambda/s3_validation.py:64-112, readme.md:110-114):
file-arrival events for a ``group_key`` share a ``batch_start``; the
window closes BATCH_WINDOW_SECONDS (default 90 s) after the FIRST
event; an event arriving after expiry opens a NEW window; when a window
closes, its files become one batch_chunk row {batch_id, group_key,
file_paths[], status='pending'}.

Spark-first: ``session_window(event_ts, '90 seconds')`` over the
arrival stream + watermark.  A session window closes when no event
lands within the gap — the reference's "late event starts a new batch"
rule — and the aggregation emits one batch row per closed window with
the collected file list.  The same function works in batch mode (unit
tests) and streaming mode (``readStream`` + append output after the
watermark passes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.events import DEBOUNCE_GAP_SECONDS


def debounce_batches(
    file_events: DataFrame, watermark: str | None = "10 minutes"
) -> DataFrame:
    """Collapse a stream of file-arrival events into batch rows.

    Input: (event_ts timestamp, group_key string, file_path string).
    Output: one row per closed debounce window —
    (group_key, batch_start, batch_end, file_paths array, n_files,
    batch_id) with batch_id = md5 of (group_key, batch_start) for an
    idempotent, engine-portable key.

    Works on both bounded DataFrames and streams; for a stream, the
    watermark bounds state and makes window-close deterministic.
    """
    df = file_events
    if df.isStreaming and watermark:
        df = df.withWatermark("event_ts", watermark)
    sess = df.groupBy(
        F.session_window("event_ts", f"{DEBOUNCE_GAP_SECONDS} seconds").alias("w"),
        "group_key",
    ).agg(
        F.array_sort(F.collect_list("file_path")).alias("file_paths"),
        F.count(F.lit(1)).alias("n_files"),
    )
    return sess.select(
        "group_key",
        F.col("w.start").alias("batch_start"),
        F.col("w.end").alias("batch_end"),
        "file_paths",
        "n_files",
        F.md5(
            F.concat_ws("|", "group_key", F.col("w.start").cast("string"))
        ).alias("batch_id"),
    ).withColumn("status", F.lit("pending"))
