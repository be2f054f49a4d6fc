"""Exactly-once streaming sink into the open Delta protocol.

Structured Streaming's foreachBatch gives at-least-once delivery: a
crashed-and-restarted query re-runs its last micro-batch, so a naive
sink duplicates it.  Delta's SetTransaction action (PROTOCOL.md) is
the standard fix — every committed batch records (appId, batchId) in
the log.  The handler here is one call: it hands each micro-batch to
``delta_writer.write_delta_commit(txn=(app_id, batch_id))``, which
skips a batch whose watermark the log already holds (checked before it
stages anything and again on every attempt of its CAS loop) and
otherwise commits the txn action, the data files and the add actions
in ONE atomic commit (the os.link CAS), so the dedup decision and the
data are never separable.  Checkpoints carry the txn watermarks, so a
vacuum of the early JSON cannot reset them.

At 100 TB this is the idempotence scheme Delta's own streaming sink
uses; the micro-batch write itself is the ordinary distributed
parquet job.

The two registry ops here (``stream_events_to_delta`` and
``events_delta_maintenance``) each build their Delta table, and the
stream checkpoints, in one ``TemporaryDirectory`` and return an
eagerly checkpointed aggregate of it, so nothing they write outlives
the call.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_pipeline_for_e_commerce_shop_spark.functions.scalars import (
    floordiv_sql,
)
from data_pipeline_for_e_commerce_shop_spark.schemas import load_table
from data_pipeline_for_e_commerce_shop_spark.sources.delta_reader import (
    read_delta_table,
)
from data_pipeline_for_e_commerce_shop_spark.sources.delta_writer import (
    optimize_delta_table,
    vacuum_delta_table,
    write_delta_commit,
)
from data_pipeline_for_e_commerce_shop_spark.streaming.windowed import (
    events_stream,
)


def delta_exactly_once_sink(table_path: str, app_id: str):
    """foreachBatch handler factory: returns f(batch_df, batch_id)
    that commits each micro-batch at most once under ``app_id``.

    Wire as ``stream.writeStream.foreachBatch(
    delta_exactly_once_sink(path, "my-query")).start()``; the handler
    is also directly callable for deterministic tests and backfills.
    Returns (from the handler) the committed Delta version, or None
    when the batch was recognized as a replay and skipped."""

    def handle(batch_df: DataFrame, batch_id: int):
        return write_delta_commit(
            batch_df, table_path, txn=(app_id, int(batch_id))
        )

    return handle


def _daily_totals(events: DataFrame) -> DataFrame:
    """Daily event counts and exact cents per event type, as both
    Delta ops' oracles compute them."""
    return (
        events.groupBy("event_type", "day_epoch")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("cents").cast("long").alias("value_cents"),
        )
        .orderBy("event_type", "day_epoch")
    )


def stream_events_to_delta(spark, sf_dir: str) -> DataFrame:
    """Driver-facing proof of the exactly-once sink: drain the events
    table through foreachBatch -> delta_exactly_once_sink TWICE (the
    second drain uses a fresh stream checkpoint, so Structured
    Streaming replays the same batch ids — the crash/restart case),
    then read the Delta table back and aggregate daily counts + exact
    cents.  If the SetTransaction guard failed, every count would
    double and the oracle hash would catch it — idempotence is part
    of the checked semantics, not just a unit test."""
    with tempfile.TemporaryDirectory(prefix="delta_eo_") as work:
        table = os.path.join(work, "events_delta")
        sink = delta_exactly_once_sink(table, "events-ingest")
        for attempt in range(2):  # second pass = replay; txn guard skips it
            proj = events_stream(spark, f"{sf_dir}/events.parquet").select(
                "event_type",
                F.expr(floordiv_sql("unix_timestamp(ts)", "86400")).alias(
                    "day_epoch"
                ),
                F.expr("CAST(floor(value * 100) AS BIGINT)").alias("cents"),
            )
            q = (
                proj.writeStream.foreachBatch(sink)
                .option("checkpointLocation", os.path.join(work, f"ckpt{attempt}"))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        return _daily_totals(read_delta_table(spark, table)).localCheckpoint(
            eager=True
        )


def events_delta_maintenance(spark, sf_dir: str) -> DataFrame:
    """Driver-facing proof of the protocol OPTIMIZE/VACUUM path (round
    6): ingest the events table into a Delta table as SIX append
    commits (split on event_id % 6, two of them carrying SetTransaction
    watermarks), bin-pack them with optimize_delta_table (one
    dataChange=false rewrite commit + checkpoint), physically VACUUM
    the compacted-away files and the pre-checkpoint JSON, then read the
    table back and aggregate daily counts + exact cents.  The oracle is
    the plain batch aggregate over the source table, so ANY row lost or
    duplicated by the compaction/vacuum machinery — and any txn/state
    damage that breaks the post-vacuum read — flips the hash.  A
    maintenance pass that can't survive this round trip would corrupt a
    real lakehouse zone the same way."""
    proj = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.expr(floordiv_sql("unix_timestamp(ts)", "86400")).alias(
            "day_epoch"
        ),
        F.expr("CAST(floor(value * 100) AS BIGINT)").alias("cents"),
    )
    with tempfile.TemporaryDirectory(prefix="delta_maint_") as work:
        table = os.path.join(work, "events_delta")
        for i in range(6):
            write_delta_commit(
                proj.where(F.col("event_id") % 6 == i),
                table,
                checkpoint_interval=7,
                txn=("maint-ingest", i) if i % 3 == 0 else None,
            )
        # v6 = the OPTIMIZE commit; (6+1) % 7 == 0 emits the checkpoint
        # the vacuum then relies on
        optimize_delta_table(spark, table, checkpoint_interval=7)
        vacuum_delta_table(table, retention_ms=0)
        return _daily_totals(read_delta_table(spark, table)).localCheckpoint(
            eager=True
        )
