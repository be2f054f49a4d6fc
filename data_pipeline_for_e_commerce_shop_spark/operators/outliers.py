"""Group-statistics anomaly detection — z-score outliers per customer
segment (extension surface: the reference's quarantine gate,
lambda/s3_validation.py:87-101, drops rows on STATIC predicates; this
is the data-driven version a monitoring pipeline runs).

Determinism at engine boundaries: the per-segment moments are exact —
integer cents summed as DECIMAL (order-independent, no double
accumulation drift) — and only the final mean/std/z math runs in
IEEE double, so Spark and DuckDB agree bitwise without any tolerance.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_pipeline_for_e_commerce_shop_spark.schemas import load_table


Z_THRESHOLD = 1.7  # |z| at which a price is an outlier


def price_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders whose total price sits >= Z_THRESHOLD standard deviations
    from their market segment's mean.  (1.7: the synthetic
    prices are near-uniform, whose |z| maxes at sqrt(3) ~ 1.73 — a 2.0
    threshold would be vacuously empty; real long-tailed money data
    would use 3+.)

    Two-pass by design: pass 1 reduces the fact to |segments| moment
    rows (map-side partial aggs), pass 2 re-scans the fact and scores
    each row against its segment's BROADCAST stats.  The alternative —
    a window over partitionBy(segment) — funnels the whole fact through
    |segments| tasks (5 here): a guaranteed straggler at 100 TB.  Two
    cheap scans beat one skewed shuffle.
    """
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    fact = orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)

    stats = fact.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("cents").cast("decimal(38,0)")).alias("s"),
        F.sum((F.col("cents") * F.col("cents")).cast("decimal(38,0)")).alias(
            "ss"
        ),
    )
    mean = F.col("s").cast("double") / F.col("n")
    var = (
        F.col("ss").cast("double") - F.col("s").cast("double") * mean
    ) / (F.col("n") - 1)
    seg = stats.select(
        "c_mktsegment",
        mean.alias("mean_cents"),
        F.sqrt(var).alias("std_cents"),
    )

    scored = fact.join(F.broadcast(seg), "c_mktsegment")
    z = (F.col("cents") - F.col("mean_cents")) / F.col("std_cents")
    return (
        scored.select(
            "o_orderkey",
            F.col("c_mktsegment").alias("segment"),
            (F.col("cents") / 100.0).alias("price"),
            F.round(z, 6).alias("z"),
        )
        .where(F.abs(F.col("z")) >= Z_THRESHOLD)
    )
