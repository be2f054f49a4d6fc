"""Cohort/retention analytics — the lifecycle views an e-commerce
analytics engine is actually asked for (extension surface; the
reference's per-day KPI rows, scripts/helperfunction.py:117, are the
degenerate single-cohort form).

Time math sticks to integer year*12+month arithmetic — no
months_between floats — so DuckDB computes the identical offsets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_pipeline_for_e_commerce_shop_spark.schemas import load_table


def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic retention triangle: customers grouped by first-order
    month (the cohort), counted in each subsequent month they ordered.

    Two shuffles total: one groupBy(o_custkey) for the cohort
    assignment, one groupBy(cohort, offset) for the matrix — the
    cohort table is customer-keyed (far smaller than orders) and joins
    back hash-partitioned on the same key.  countDistinct is per
    (cohort, offset) cell: decomposable two-phase under AQE.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", F.to_date("o_orderdate").alias("d")
    )
    month = F.trunc("d", "MM")
    cohorts = orders.groupBy("o_custkey").agg(
        F.min(month).alias("cohort_month")
    )
    offset = (
        (F.year(month) - F.year("cohort_month")) * 12
        + (F.month(month) - F.month("cohort_month"))
    )
    return (
        orders.join(cohorts, "o_custkey")
        .groupBy(
            F.col("cohort_month"),
            offset.cast("long").alias("month_offset"),
        )
        .agg(F.countDistinct("o_custkey").alias("n_customers"))
    )


def cumulative_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event day: users seen for the FIRST time that day, plus the
    running total of distinct users ever seen — the growth curve.

    A naive per-day COUNT(DISTINCT ... WHERE ts <= day) rescans the
    fact per day; this is the decomposed form: one groupBy(user_id)
    for first-seen dates (shuffle spread over users), one tiny
    groupBy(day), then a running sum over the day-keyed aggregate —
    the window sorts ~hundreds of rows, never the fact table.
    """
    events = load_table(spark, sf_dir, "events")
    first_seen = events.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("day")
    )
    daily = first_seen.groupBy("day").agg(
        F.count(F.lit(1)).alias("n_new_users")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        "day",
        "n_new_users",
        F.sum("n_new_users").over(w).alias("cum_users"),
    )


ACTIVE_WINDOW_DAYS = 7


def rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event day: distinct users active in the trailing 7-day
    window — EXACT, decomposed so it scales.

    A windowed COUNT(DISTINCT) over the raw fact either rescans per
    day or funnels everything through one partition.  Decomposition:
    dedup to (day, user) once, then each pair contributes to the ≤7
    window-end days it covers (a 7-row `sequence` explode — bounded
    fan-out, unlike a range self-join), semi-join back to real event
    days, and count distinct users per window end.  Both shuffles key
    on (day, user): spread over users, no single-partition sort, no
    per-day rescan.
    """
    events = load_table(spark, sf_dir, "events")
    du = events.select(F.to_date("ts").alias("day"), "user_id").distinct()
    days = du.select("day").distinct()
    contrib = du.select(
        "user_id",
        F.explode(
            F.sequence("day", F.date_add("day", ACTIVE_WINDOW_DAYS - 1))
        ).alias("day"),
    )
    return (
        contrib.join(days, "day", "left_semi")
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("active_7d"))
    )


def new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per order month: active customers split into NEW (first-ever
    order that month) vs RETURNING — the growth-vs-loyalty lifecycle
    view on top of the cohort machinery.

    Same decomposition as the cohort triangle: one groupBy(custkey)
    derives each customer's first month (shuffle spread over
    customers), then both monthly counts come from month-keyed
    aggregates — the join that combines them touches |months| rows,
    not the fact.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", F.trunc(F.to_date("o_orderdate"), "MM").alias("month")
    )
    active = orders.distinct().groupBy("month").agg(
        F.count(F.lit(1)).alias("n_active")
    )
    firsts = orders.groupBy("o_custkey").agg(F.min("month").alias("month"))
    new = firsts.groupBy("month").agg(F.count(F.lit(1)).alias("n_new"))
    return (
        active.join(new, "month", "left")
        .select(
            "month",
            "n_active",
            F.coalesce("n_new", F.lit(0)).alias("n_new"),
            (F.col("n_active") - F.coalesce("n_new", F.lit(0))).alias(
                "n_returning"
            ),
        )
    )
