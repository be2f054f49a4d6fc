"""Incremental KPI maintenance: streamed partials must converge to the
batch recompute, and re-running the stream must not double-count."""

from __future__ import annotations

import os

from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    StringType,
    StructField,
    StructType,
)

from data_pipeline_for_e_commerce_shop_spark.streaming.incremental import (
    partial_category_kpis,
    run_incremental_kpis,
    serving_view,
)

SCHEMA = StructType(
    [
        StructField("category", StringType()),
        StructField("order_date", StringType()),
        StructField("status", StringType()),
        StructField("sale_price", DoubleType()),
        StructField("user_id", StringType()),
    ]
)

WAVE1 = [
    ("toys", "2024-03-01", "delivered", 10.00, "u1"),
    ("toys", "2024-03-01", "returned", 5.50, "u2"),
    ("books", "2024-03-01", "delivered", 3.25, "u1"),
]
WAVE2 = [
    # accumulates into the existing key; u1 already seen in wave 1
    ("toys", "2024-03-01", "delivered", 2.00, "u1"),
    ("toys", "2024-03-01", "delivered", 1.00, "u3"),
    # new key inserts
    ("books", "2024-03-02", "delivered", 8.00, "u4"),
]


def _collect_kpis(spark, table_path):
    return {
        (r["category"], r["order_date"]): (
            r["daily_revenue"],
            round(r["avg_order_value"], 6),
            round(r["avg_return_rate"], 6),
            r["n_users_approx"],
        )
        for r in serving_view(spark, table_path).collect()
    }


def test_incremental_converges_to_batch_recompute(spark, tmp_path):
    src = tmp_path / "src"
    table = str(tmp_path / "serving")
    ckpt = str(tmp_path / "ckpt")
    src.mkdir()

    spark.createDataFrame(WAVE1, SCHEMA).coalesce(1).write.mode("append").parquet(
        str(src)
    )
    run_incremental_kpis(spark, str(src), SCHEMA, table, ckpt)
    assert _collect_kpis(spark, table)[("toys", "2024-03-01")][0] == 15.50

    spark.createDataFrame(WAVE2, SCHEMA).coalesce(1).write.mode("append").parquet(
        str(src)
    )
    run_incremental_kpis(spark, str(src), SCHEMA, table, ckpt)

    got = _collect_kpis(spark, table)
    full = spark.createDataFrame(WAVE1 + WAVE2, SCHEMA)
    expected = {
        (r["category"], r["order_date"]): (
            r["daily_revenue"],
            round(r["avg_order_value"], 6),
            round(r["avg_return_rate"], 6),
            # HLL is exact at these cardinalities; crucially u1 appears
            # in BOTH waves but counts once — per-batch exact distincts
            # could never merge to this.
            r["n_users"],
        )
        for r in full.groupBy("category", "order_date")
        .agg(
            (F.sum(F.floor(F.col("sale_price") * 100)) / 100.0).alias(
                "daily_revenue"
            ),
            (
                F.sum(F.floor(F.col("sale_price") * 100))
                / 100.0
                / F.count(F.lit(1))
            ).alias("avg_order_value"),
            (
                F.count(F.when(F.col("status") == "returned", 1))
                / F.count(F.lit(1))
            ).alias("avg_return_rate"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .collect()
    }
    assert got == expected


def test_rerun_does_not_double_count(spark, tmp_path):
    src = tmp_path / "src"
    table = str(tmp_path / "serving")
    ckpt = str(tmp_path / "ckpt")
    src.mkdir()
    spark.createDataFrame(WAVE1, SCHEMA).coalesce(1).write.mode("append").parquet(
        str(src)
    )
    run_incremental_kpis(spark, str(src), SCHEMA, table, ckpt)
    before = _collect_kpis(spark, table)
    # no new files: the checkpoint must make this a no-op
    run_incremental_kpis(spark, str(src), SCHEMA, table, ckpt)
    assert _collect_kpis(spark, table) == before


def test_stream_replay_after_crash_counts_batch_once(spark, tmp_path):
    """Kill-and-resume: batch 0 commits to the serving table, then the
    driver dies before the stream checkpoint records commits/0.  The
    restarted stream re-runs batch 0 with the same offsets; its
    SetTransaction marks it as already folded in, so its revenue counts
    once, and batch 1 still folds in."""
    src = tmp_path / "src"
    table = str(tmp_path / "serving")
    ckpt = str(tmp_path / "ckpt")
    src.mkdir()
    spark.createDataFrame(WAVE1, SCHEMA).coalesce(1).write.mode("append").parquet(
        str(src)
    )
    run_incremental_kpis(spark, str(src), SCHEMA, table, ckpt)
    os.unlink(os.path.join(ckpt, "commits", "0"))
    crc = os.path.join(ckpt, "commits", ".0.crc")
    if os.path.exists(crc):  # the local-fs checksum twin goes too
        os.unlink(crc)
    spark.createDataFrame(WAVE2, SCHEMA).coalesce(1).write.mode("append").parquet(
        str(src)
    )
    run_incremental_kpis(spark, str(src), SCHEMA, table, ckpt)

    revenue = {k: v[0] for k, v in _collect_kpis(spark, table).items()}
    assert revenue == {
        ("toys", "2024-03-01"): 18.50,  # 15.50 + 3.00, not 34.00
        ("books", "2024-03-01"): 3.25,
        ("books", "2024-03-02"): 8.00,
    }


def test_partial_terms_are_decomposable(spark):
    """Sum of per-wave partials == partial of the union (the algebraic
    property the additive merge relies on)."""
    p1 = partial_category_kpis(spark.createDataFrame(WAVE1, SCHEMA))
    p2 = partial_category_kpis(spark.createDataFrame(WAVE2, SCHEMA))
    both = partial_category_kpis(spark.createDataFrame(WAVE1 + WAVE2, SCHEMA))
    merged = (
        p1.unionByName(p2)
        .groupBy("category", "order_date")
        .agg(
            F.sum("n_items").alias("n_items"),
            F.sum("revenue_cents").alias("revenue_cents"),
            F.sum("n_returned").alias("n_returned"),
            F.hll_union_agg("users_hll").alias("users_hll"),
        )
    )
    # Sketch BYTES are not canonical across groupings — compare the
    # estimates (exact at these cardinalities), and the sums directly.
    def norm(df):
        return {
            tuple(r)
            for r in df.withColumn(
                "users_hll", F.hll_sketch_estimate("users_hll")
            ).collect()
        }

    assert norm(merged) == norm(both)
