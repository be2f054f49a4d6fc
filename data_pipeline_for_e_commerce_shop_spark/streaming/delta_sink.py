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
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from data_pipeline_for_e_commerce_shop_spark.functions.scalars import (
    floordiv_sql,
)

from data_pipeline_for_e_commerce_shop_spark.sources.delta_writer import (
    write_delta_commit,
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


_TMP_DIRS: list[str] = []


def _tmpdir(prefix: str) -> str:
    import atexit
    import shutil
    import tempfile

    d = tempfile.mkdtemp(prefix=prefix)
    if not _TMP_DIRS:
        atexit.register(
            lambda: [shutil.rmtree(x, ignore_errors=True) for x in _TMP_DIRS]
        )
    _TMP_DIRS.append(d)
    return d


def stream_events_to_delta(spark, sf_dir: str) -> DataFrame:
    """Driver-facing proof of the exactly-once sink: drain the events
    table through foreachBatch -> delta_exactly_once_sink TWICE (the
    second drain uses a fresh stream checkpoint, so Structured
    Streaming replays the same batch ids — the crash/restart case),
    then read the Delta table back and aggregate daily counts + exact
    cents.  If the SetTransaction guard failed, every count would
    double and the oracle hash would catch it — idempotence is part
    of the checked semantics, not just a unit test."""
    import os

    from pyspark.sql import functions as F

    from data_pipeline_for_e_commerce_shop_spark.schemas import parquet_schema
    from data_pipeline_for_e_commerce_shop_spark.sources.delta_reader import (
        read_delta_table,
    )
    from data_pipeline_for_e_commerce_shop_spark.streaming.windowed import (
        _as_stream_dir,
        _canon_ts,
    )

    src = f"{sf_dir}/events.parquet"
    schema = parquet_schema(spark, src)
    table = os.path.join(_tmpdir("delta_eo_"), "events_delta")
    sink = delta_exactly_once_sink(table, "events-ingest")
    for _ in range(2):  # second pass = replay; txn guard skips it
        stream = _canon_ts(
            spark.readStream.schema(schema).parquet(_as_stream_dir(src)),
            schema,
        )
        proj = stream.select(
            "event_type",
            F.expr(floordiv_sql("unix_timestamp(ts)", "86400")).alias(
            "day_epoch"
        ),
            F.expr("CAST(floor(value * 100) AS BIGINT)").alias("cents"),
        )
        q = (
            proj.writeStream.foreachBatch(sink)
            .option("checkpointLocation", _tmpdir("delta_eo_ckpt_"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return (
        read_delta_table(spark, table)
        .groupBy("event_type", "day_epoch")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("cents").cast("long").alias("value_cents"),
        )
        .orderBy("event_type", "day_epoch")
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
    import os

    from pyspark.sql import functions as F

    from data_pipeline_for_e_commerce_shop_spark.schemas import load_table
    from data_pipeline_for_e_commerce_shop_spark.sources.delta_reader import (
        read_delta_table,
    )
    from data_pipeline_for_e_commerce_shop_spark.sources.delta_writer import (
        optimize_delta_table,
        vacuum_delta_table,
        write_delta_commit,
    )

    table = os.path.join(_tmpdir("delta_maint_"), "events_delta")
    proj = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.expr(floordiv_sql("unix_timestamp(ts)", "86400")).alias(
            "day_epoch"
        ),
        F.expr("CAST(floor(value * 100) AS BIGINT)").alias("cents"),
    )
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
    return (
        read_delta_table(spark, table)
        .groupBy("event_type", "day_epoch")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("cents").cast("long").alias("value_cents"),
        )
        .orderBy("event_type", "day_epoch")
    )
