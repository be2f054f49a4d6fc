"""T1/T2: file-arrival event stream + per-batch schema gate.

Reference: S3 ObjectCreated -> Lambda per file, header peek, required-
column subset check, quarantine on failure
(lambda/s3_validation.py:33-99).  Spark-first equivalent: a Structured
Streaming file source discovers arriving files; a ``foreachBatch``
pre-flight routes admitted rows onward and corrupt/invalid rows to the
rejected table.  ``Trigger.AvailableNow`` keeps tests hermetic and is
exactly the semantics of "process everything that has arrived, then
stop" — the reference's debounced batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_pipeline_for_e_commerce_shop_spark.quality.gates import SCHEMA_ERROR
from data_pipeline_for_e_commerce_shop_spark.sources.readers import CORRUPT_COL
from data_pipeline_for_e_commerce_shop_spark.sources.sinks import write_quarantine


def file_event_stream(
    spark: SparkSession, input_dir: str, schema: T.StructType
) -> DataFrame:
    """readStream CSV source over an arrival directory, with corrupt
    capture and per-file provenance (P8/P9: the filename routing that
    the reference does in Python, lambda/s3_validation.py:115-125,
    becomes an expression)."""
    read_schema = T.StructType(
        list(schema.fields) + [T.StructField(CORRUPT_COL, T.StringType(), True)]
    )
    return (
        spark.readStream.schema(read_schema)
        .option("header", True)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .option("maxFilesPerTrigger", 64)
        .csv(input_dir)
        .withColumn("_source_file", F.input_file_name())
        .withColumn(
            "_entity",
            F.regexp_extract(F.input_file_name(), r"([a-z_]+?)(?:_part\d+)?\.csv$", 1),
        )
        .withColumn("_arrival_ts", F.current_timestamp())
    )


def run_gated_ingest(
    spark: SparkSession,
    input_dir: str,
    schema: T.StructType,
    admitted_path: str,
    rejected_path: str,
    checkpoint: str,
) -> None:
    """Gate + route every arrived file's rows, exactly-once per file via
    the streaming checkpoint (replaces the reference's DynamoDB
    ingestion bookkeeping, lambda/s3_validation.py:82-94).

    Runs with AvailableNow and blocks until the backlog drains.
    """
    stream = file_event_stream(spark, input_dir, schema)

    def gate(batch: DataFrame, batch_id: int) -> None:
        ok = batch.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
        bad = batch.filter(F.col(CORRUPT_COL).isNotNull())
        ok.write.mode("append").parquet(admitted_path)
        if bad.limit(1).count() > 0:
            write_quarantine(bad, rejected_path, "corrupt csv record", SCHEMA_ERROR)

    (
        stream.writeStream.foreachBatch(gate)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def run_streaming_dedup(
    spark: SparkSession,
    input_dir: str,
    schema: T.StructType,
    out_table: str,
    key_cols: list[str],
    watermark_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Exactly-once-per-key ingest: ``dropDuplicatesWithinWatermark``
    over an arriving file stream — the streaming form of the batch
    exact-dedup operator (operators/dedup.exact_duplicates) and the
    idempotency layer a replaying upstream (the reference's at-least-
    once S3-event Lambda, lambda/s3_validation.py:33-40) requires.

    WithinWatermark (not plain dropDuplicates) is the part that
    scales: per-key state is EVICTED once the watermark passes it, so
    state is bounded by (keys arriving per watermark window), not by
    all keys ever seen.  Returns the deduped materialized batch.
    """
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 64)
        .parquet(input_dir)
        .withWatermark(watermark_col, watermark)
        .dropDuplicatesWithinWatermark(key_cols)
    )
    # Executor-side drain (round 5): the memory sink serializes every
    # row to the driver — see windowed._drain_to_memory for the sf10
    # maxResultSize failure that retired it.
    from data_pipeline_for_e_commerce_shop_spark.streaming.windowed import (
        _drain_to_memory,
    )

    _drain_to_memory(spark, stream, out_table, output_mode="append")
    out = spark.table(out_table).localCheckpoint(eager=True)
    spark.catalog.dropTempView(out_table)
    return out
