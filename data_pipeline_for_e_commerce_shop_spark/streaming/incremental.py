"""T5/T11 at scale: incremental KPI maintenance from a file stream.

The reference recomputes KPIs per batch and point-upserts them
(scripts/transformation.py:187-205 → helperfunction.py:53-208).  At
100 TB you never recompute the whole history: each arriving micro-batch
contributes a PARTIAL aggregate (counts + integer-cent sums — the
decomposable terms), which an additive merge folds into the serving
table.  Averages/ratios are derived from the accumulated terms at read
time, so they are always consistent with the totals.

The serving table is a Delta table (``sources/delta_writer``): each
fold reads the latest version and commits the merged table as an
overwrite pinned to it, so a competing writer's commit is re-read and
re-folded, never lost, and every version stays readable by number.

Exactly-once: the stream checkpoint tracks processed files, so a
restarted ``availableNow`` run skips everything already folded in.  A
micro-batch that committed to the table but not to the checkpoint
(crash between the two) is re-run by Structured Streaming; each commit
carries ``txn=(<app id>, batch_id)`` with the app id derived from the
checkpoint location, so the re-run is recognized and skipped
(tests/test_incremental.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from data_pipeline_for_e_commerce_shop_spark.operators.merge import additive_merge
from data_pipeline_for_e_commerce_shop_spark.sources.delta_reader import (
    read_delta_table,
)
from data_pipeline_for_e_commerce_shop_spark.sources.delta_writer import (
    rewrite_delta_table,
)

KEY_COLS = ["category", "order_date"]
SUM_COLS = ["n_items", "revenue_cents", "n_returned"]
SKETCH_COLS = ["users_hll"]


def partial_category_kpis(batch: DataFrame) -> DataFrame:
    """Per-micro-batch decomposable terms for the category KPIs.

    Distinct users travel as an HLL sketch (binary column): exact
    per-batch countDistinct cannot accumulate across batches, but
    sketches union associatively — the estimate at read time covers
    every batch ever folded in.
    """
    return batch.groupBy("category", "order_date").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(F.floor(F.col("sale_price") * 100))
        .cast("long")
        .alias("revenue_cents"),
        F.count(F.when(F.col("status") == "returned", 1)).alias("n_returned"),
        F.hll_sketch_agg("user_id").alias("users_hll"),
    )


def accumulate_into(
    spark: SparkSession,
    table_path: str,
    partial: DataFrame,
    txn: tuple[str, int] | None = None,
) -> int | None:
    """Fold one batch's partials into the Delta serving table; returns
    the committed version, or None when ``txn`` marks a batch already
    folded in."""

    def fold(target: DataFrame | None) -> DataFrame:
        if target is None:
            return partial
        return additive_merge(
            target, partial, KEY_COLS, SUM_COLS, sketch_cols=SKETCH_COLS
        )

    return rewrite_delta_table(spark, table_path, fold, txn=txn)


def serving_view(spark: SparkSession, table_path: str) -> DataFrame:
    """Derived KPIs from the accumulated terms — identical shape to the
    batch category_kpis output."""
    t = read_delta_table(spark, table_path)
    return t.select(
        "category",
        "order_date",
        (F.col("revenue_cents") / 100.0).alias("daily_revenue"),
        (F.col("revenue_cents") / 100.0 / F.col("n_items")).alias(
            "avg_order_value"
        ),
        (F.col("n_returned") / F.col("n_items")).alias("avg_return_rate"),
        F.hll_sketch_estimate("users_hll").alias("n_users_approx"),
    )


def run_incremental_kpis(
    spark: SparkSession,
    source_dir: str,
    schema: StructType,
    table_path: str,
    checkpoint_dir: str,
) -> None:
    """Drain all currently-available files into the serving table
    (Trigger.AvailableNow), then stop.  Call again after new files
    arrive — the checkpoint and the per-batch SetTransaction guarantee
    each file folds in exactly once, also across a crash between the
    table commit and the checkpoint commit.
    """
    app_id = f"incremental-kpis:{os.path.abspath(checkpoint_dir)}"

    def fold(batch: DataFrame, batch_id: int) -> None:
        accumulate_into(
            spark,
            table_path,
            partial_category_kpis(batch),
            txn=(app_id, batch_id),
        )

    stream = spark.readStream.schema(schema).parquet(source_dir)
    q = (
        stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
