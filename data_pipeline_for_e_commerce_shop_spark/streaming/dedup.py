"""Streaming ingest deduplication via ``dropDuplicatesWithinWatermark``
— the exactly-once gate a training-data ingest pipeline puts in front
of its corpus (re-delivered files, at-least-once queues).  The
reference deduplicates deliveries only by DynamoDB conditional writes
(scripts/helperfunction.py:149-154, provenance arrays); this is the
same guarantee expressed as bounded streaming state.

The test harness stages the events table PLUS a deterministic
duplicated subset (every 20th event_id) as two files in one stream
directory; the streaming query must emit each logical event exactly
once, so the drained result equals the ORIGINAL table's aggregate —
which is exactly what the DuckDB oracle computes.  A dedup that drops
nothing inflates the counts; one that drops too much deflates them;
both diverge from the oracle.

Scale: state is one (event_id, expiry) entry per key within the
watermark horizon — bounded by arrival rate x delay, evicted by the
watermark clock, spread across the stateful shuffle's partitions.
This is the streaming rung of the dedup ladder (exact content dedup
is operators/dedup.exact_duplicates; this is delivery dedup).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import read_parquet
from .windowed import cached_stream_dir, drained, events_stream

DUP_EVERY = 20  # every DUP_EVERY-th event_id is delivered twice


def _dup_stream_dir(spark: SparkSession, src: str) -> str:
    """Stage ``src`` plus a duplicated subset (event_id % DUP_EVERY
    == 0) as a streamable directory.  Cached per source file and
    cleaned at exit (:func:`windowed.cached_stream_dir`)."""

    def stage_into(d: str) -> None:
        os.symlink(src, os.path.join(d, "batch0-original.parquet"))
        stage = os.path.join(d, "_stage")
        (
            read_parquet(spark, src)
            .where(F.col("event_id") % DUP_EVERY == 0)
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(stage)
        )
        parts = [p for p in os.listdir(stage) if p.endswith(".parquet")]
        assert len(parts) == 1, parts
        shutil.move(
            os.path.join(stage, parts[0]),
            os.path.join(d, "batch1-redelivered.parquet"),
        )
        shutil.rmtree(stage, ignore_errors=True)

    return cached_stream_dir(f"{src}::dup", "stream_dup_", stage_into)


def stream_dedup_kpis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type KPIs computed over a stream containing
    re-delivered events, deduplicated in-flight by
    ``dropDuplicatesWithinWatermark`` on event_id.

    Returns (event_type, n_events, n_users, total_value) equal to the
    duplicate-free table's aggregate (the oracle).  The dedup runs in
    the stream (append mode, keyed state); the small per-type rollup
    happens batch-side on the drained output.
    """
    src = f"{sf_dir}/events.parquet"
    stream = events_stream(spark, src, stream_dir=_dup_stream_dir(spark, src))
    deduped = stream.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    # Stateful-shuffle partition count becomes the state-store count;
    # the stream runs on drain_session(spark)'s scoped SQLConf (8
    # partitions), invisible to the caller's session.
    with drained(spark, deduped, "append") as d:
        return (
            d.groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.countDistinct("user_id").alias("n_users"),
                (F.sum(F.floor(F.col("value") * 100)) / 100.0).alias(
                    "total_value"
                ),
            )
            .localCheckpoint(eager=True)
        )
