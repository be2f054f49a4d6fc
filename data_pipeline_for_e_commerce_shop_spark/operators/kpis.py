"""KPI queries — the reference transformation job re-expressed Spark-first.

Reference semantics (scripts/transformation.py:177-248):

- 3-way star join: order_items ⋈ orders ON order_id,
  ⋈ products ON product_id = id  (transformation.py:180-184)
- category KPIs: groupBy(category) -> sum(sale_price) AS daily_revenue,
  avg(sale_price) AS avg_order_value,
  count(when(status='returned'))/count(id) AS avg_return_rate
  (transformation.py:187-191)
- order KPIs: global agg -> countDistinct(order_id), sum(sale_price),
  count(id), return ratio, countDistinct(user_id)
  (transformation.py:197-203)

Entity mapping onto the driver testdata (FIXTURES.md §7):
order_items -> lineitem (sale_price ≈ l_extendedprice,
status='returned' ≈ l_returnflag='R'), orders -> orders, products -> part
(category ≈ p_type), users -> customer (o_custkey).

Scale design:
- The fact table (lineitem) shuffles once on the join key; both dims are
  broadcast (part is tiny; orders is dim-sized relative to the fact and
  AQE will demote to sort-merge if it outgrows the threshold — we hint
  broadcast only on `part`, the side that is *always* small).
- Aggregation is partial+final hash agg (map-side combine) — no extra
  shuffle beyond the groupBy keys.
- The reference derives ONE processing date per batch from the driver
  (first().created_at[:10], scripts/validation.py:191 — anti-pattern,
  SURVEY §4.3); we group per-row by order_date instead.
- countDistinct at 100 TB: exact distinct is an Expand + 2-phase agg;
  `order_kpis_approx` provides the HLL (approx_count_distinct) twin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_pipeline_for_e_commerce_shop_spark.functions.scalars import money_sum, ratio
from data_pipeline_for_e_commerce_shop_spark.schemas import load_table


def star_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """order_items ⋈ orders ⋈ products (reference transformation.py:180-184).

    lineitem ⋈ orders on l_orderkey=o_orderkey, ⋈ part on
    l_partkey=p_partkey.  `part` is broadcast (dim-sized); orders join is
    left to Catalyst/AQE (sort-merge at scale, broadcast when small).
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    part = load_table(spark, sf_dir, "part")
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey, "inner")
        .join(F.broadcast(part), lineitem.l_partkey == part.p_partkey, "inner")
    )


def category_kpis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: per-(category, order_date) revenue KPIs
    (reference transformation.py:187-191, groupBy('p.category')).

    category ≈ p_type, order_date ≈ date(o_orderdate),
    daily_revenue ≈ sum(l_extendedprice), returned ≈ l_returnflag='R'.
    Money goes through exact integer cents (functions/scalars.py) so the
    result is order-independent — reproducible at any parallelism.
    """
    joined = star_join(spark, sf_dir)
    n_items = F.count("l_linenumber")
    return (
        joined.groupBy(
            F.col("p_type").alias("category"),
            F.to_date("o_orderdate").alias("order_date"),
        )
        .agg(
            money_sum("l_extendedprice").alias("daily_revenue"),
            (money_sum("l_extendedprice") / n_items).alias("avg_order_value"),
            ratio(
                F.count(F.when(F.col("l_returnflag") == "R", True)), n_items
            ).alias("avg_return_rate"),
        )
    )


def order_kpis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-date global KPIs (reference transformation.py:197-203).

    The reference emits ONE row per batch keyed by the driver-derived
    processing date; we emit one row per order_date (same semantics when
    a batch holds a single day, correct when it spans several).
    """
    joined = star_join(spark, sf_dir)
    n_items = F.count("l_linenumber")
    return (
        joined.groupBy(F.to_date("o_orderdate").alias("order_date"))
        .agg(
            F.countDistinct("o_orderkey").alias("total_orders"),
            money_sum("l_extendedprice").alias("total_revenue"),
            n_items.alias("total_items_sold"),
            ratio(
                F.count(F.when(F.col("l_returnflag") == "R", True)), n_items
            ).alias("return_rate"),
            F.countDistinct("o_custkey").alias("unique_customers"),
        )
    )


def order_kpis_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """100 TB twin of order_kpis: HLL distinct counts (SURVEY §4.4).

    Exact countDistinct is an Expand + double shuffle; at cluster scale
    approx_count_distinct (HLL++, rsd=0.02) is one pass, mergeable.
    Not oracle-checked (sketch internals differ across engines) —
    rows-only check.
    """
    joined = star_join(spark, sf_dir)
    return (
        joined.groupBy(F.to_date("o_orderdate").alias("order_date"))
        .agg(
            F.approx_count_distinct("o_orderkey", 0.02).alias("total_orders_approx"),
            F.approx_count_distinct("o_custkey", 0.02).alias("unique_customers_approx"),
        )
    )


def monthly_status_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month × order-status revenue matrix via `pivot` with an EXPLICIT
    value list — the wide-format dual of the grouped KPI rows
    (reference per-status buckets, scripts/helperfunction.py:117).

    Passing the status values up front matters at scale: without them
    Spark runs an extra distinct-values job over the whole fact before
    it can even plan the agg.  With them, the pivot is one hash
    aggregation — same cost as the long-format groupBy.  Money cells
    use exact integer cents; a month with no orders in a status stays
    NULL (not 0) to distinguish "absent" from "zero revenue".
    """
    orders = load_table(spark, sf_dir, "orders")
    piv = (
        orders.groupBy(
            F.trunc(F.to_date("o_orderdate"), "MM").alias("month")
        )
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(money_sum("o_totalprice"))
    )
    return piv.select(
        "month",
        F.col("F").alias("revenue_f"),
        F.col("O").alias("revenue_o"),
        F.col("P").alias("revenue_p"),
    )


RECON_TOPK = 20  # largest gaps reported


def order_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table audit: booked order totals vs the amount recomputed
    from line items (extendedprice * (1-discount) * (1+tax)), top-k by
    absolute drift — the reconciliation report a finance pipeline runs
    nightly.  (The synthetic generator does NOT maintain the TPC-H
    invariant, so drift is nonzero for every order; the report shape is
    the point.)

    Exactness: each line's amount is floored to integer cents BEFORE
    summing (deterministic in any engine and any order), and the same
    formula text runs on both sides.  The fact-fact join is keyed on
    o_orderkey — the line aggregation shuffles once on the same key, so
    AQE plans a co-partitioned join; top-k is TakeOrderedAndProject.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.floor(
            F.col("l_extendedprice")
            * (1 - F.col("l_discount"))
            * (1 + F.col("l_tax"))
            * 100
        ).alias("line_cents"),
    )
    recomputed = li.groupBy("l_orderkey").agg(
        F.sum("line_cents").alias("recomputed_cents")
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("booked_cents"),
    )
    joined = orders.join(
        recomputed, orders.o_orderkey == recomputed.l_orderkey
    )
    diff = F.col("booked_cents") - F.col("recomputed_cents")
    scored = joined.select(
        "o_orderkey",
        F.col("o_orderstatus").alias("status"),
        (F.col("booked_cents") / 100.0).alias("booked"),
        (F.col("recomputed_cents") / 100.0).alias("recomputed"),
        (diff / 100.0).alias("drift"),
        F.abs(diff).alias("abs_cents"),
    )
    order = [F.col("abs_cents").desc(), F.col("o_orderkey").asc()]
    top = scored.orderBy(*order).limit(RECON_TOPK)
    from pyspark.sql import Window

    w = Window.orderBy(*order)
    return (
        top.withColumn("rank", F.row_number().over(w))
        .select("o_orderkey", "status", "booked", "recomputed", "drift", "rank")
    )


def category_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly revenue per part category plus its SHARE of that month's
    total — contribution analysis (which categories carry the quarter).

    The share window runs over the (month, category) AGGREGATE — a few
    thousand rows — never the fact; partitioned by month, so no
    single-partition funnel either.  Exact integer cents make the
    share's numerator/denominator engine-identical.
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.trunc(F.to_date("o_orderdate"), "MM").alias("month")
    )
    monthly = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("month", F.col("p_type").alias("category"))
        .agg(
            F.sum(F.floor(F.col("l_extendedprice") * 100))
            .cast("long")
            .alias("cents")
        )
    )
    from pyspark.sql import Window

    total = F.sum("cents").over(Window.partitionBy("month"))
    return monthly.select(
        "month",
        "category",
        (F.col("cents") / 100.0).alias("revenue"),
        (F.col("cents") / total).alias("share"),
    )


KPI_REFRESH_SPLIT = "1996-01-01"  # base/delta boundary


def incremental_kpi_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-view maintenance for a decomposable KPI aggregate.

    The base partition (orders before `KPI_REFRESH_SPLIT`) and the delta partition
    (orders at/after it) are each reduced to PARTIAL aggregates
    (count, integer-cent sum — both algebraic), then combined by a
    second vocabulary-sized groupBy; avg is finalized from the merged
    partials.  This is the refresh algebra that lets a 100 TB KPI
    table absorb a day's delta without rescanning history: the base
    partials are what the serving table already stores.

    Oracle = the full recompute over all orders — the maintenance
    identity sum(partials) == full aggregate is exactly what the
    driver verifies.  Reference parity: the KPI upsert loop
    (scripts/transformation.py:63-77) recomputes from scratch; this is
    its incremental replacement.
    """
    orders = load_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100).cast("long")
    cut = F.lit(KPI_REFRESH_SPLIT).cast("timestamp")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(cents).alias("cents"),
        )

    # null-COMPLETE split: a NULL o_orderdate satisfies neither
    # comparison, so the delta side must claim it explicitly or the
    # maintenance identity (base + delta == full) silently drops rows
    base = partial(orders.where(F.col("o_orderdate") < cut))
    delta = partial(
        orders.where(
            F.col("o_orderdate").isNull() | (F.col("o_orderdate") >= cut)
        )
    )
    merged = (
        base.unionByName(delta)
        .groupBy("o_orderstatus")
        .agg(F.sum("n").alias("n"), F.sum("cents").alias("cents"))
    )
    return merged.select(
        "o_orderstatus",
        F.col("n").alias("n_orders"),
        (F.col("cents") / 100.0).alias("total_revenue"),
        (F.col("cents") / (F.col("n") * 100.0)).alias("avg_order_value"),
    )


PRICE_BUCKETS = 10


def price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width retail-price histogram per category, integer-exact.

    Bucket edges come from the GLOBAL min/max (a one-row aggregate
    that rides the plan as a broadcast crossJoin — no driver
    round-trip), and bucketing is pure integer arithmetic on cents:
    bucket = (cents - lo) * n div (hi - lo + 1), so both engines place
    every value identically (no double-precision edge jitter).

    Scales as scan -> map-side bucket id -> |categories x buckets|
    aggregate; the same shape serves numeric-feature binning for
    training-data pipelines.
    """
    part = load_table(spark, sf_dir, "part")
    cents = F.floor(F.col("p_retailprice") * 100).cast("long")
    pre = part.select("p_type", cents.alias("cents"))
    bounds = pre.agg(
        F.min("cents").alias("lo"), F.max("cents").alias("hi")
    )
    bucketed = pre.crossJoin(F.broadcast(bounds)).select(
        "p_type",
        "cents",
        "lo",
        "hi",
        F.expr(
            f"(cents - lo) * {PRICE_BUCKETS} div (hi - lo + 1)"
        ).alias("bucket"),
    )
    return bucketed.groupBy("p_type", "bucket").agg(
        F.count(F.lit(1)).alias("n_parts"),
        (F.min("cents") / 100.0).alias("bucket_min_price"),
        (F.max("cents") / 100.0).alias("bucket_max_price"),
    )


def cogroup_date_reconciliation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Order-vs-lineitem daily revenue reconciliation via COGROUP —
    the fourth Arrow shape (beside mapInPandas, applyInPandas, and the
    GROUPED_AGG UDAF): two tables co-partitioned by key, each key's
    row groups handed to pandas TOGETHER.

    The arithmetic is integer cents summed in int64 numpy (exact), the
    final /100.0 the only float op — so the pandas path hashes
    identically to the SQL full-outer-join oracle.

    Scale shape: one shuffle per side on the cogroup key (same as the
    equivalent join-agg), Arrow-batched transfer; per-key state is two
    small date-partitions, never the whole table.  Use the built-in
    join-agg when the logic FITS SQL — cogroup is the escape hatch for
    per-key reconciliation logic that doesn't (the custom-diff hook
    here stands in for checksum/merkle comparisons).
    """
    import pandas as pd

    # Pre-aggregate per day JVM-side (map-side combinable) so the
    # Arrow transfer ships |dates| partial rows, not the fact tables;
    # cogroup by MONTH so each Python invocation reconciles a month of
    # days vectorised in pandas (two orders of magnitude fewer calls
    # than per-day grouping — per-key Python dispatch is the cost).
    def daily(df: DataFrame, date_col: str, price_col: str) -> DataFrame:
        d = F.to_date(date_col)
        return df.groupBy(
            F.trunc(d, "month").alias("m"), d.alias("d")
        ).agg(
            F.sum(
                F.floor(F.col(price_col) * 100).cast("long")
            ).alias("cents"),
            F.count(F.lit(1)).alias("n"),
        )

    orders = daily(
        load_table(spark, sf_dir, "orders"), "o_orderdate", "o_totalprice"
    )
    items = daily(
        load_table(spark, sf_dir, "lineitem"), "l_shipdate", "l_extendedprice"
    )

    def reconcile(key, left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        lo = left[["d", "cents", "n"]].rename(
            columns={"cents": "oc", "n": "n_orders"}
        )
        ri = right[["d", "cents", "n"]].rename(
            columns={"cents": "ic", "n": "n_items"}
        )
        m = lo.merge(ri, on="d", how="outer")
        for c in ("oc", "ic", "n_orders", "n_items"):
            m[c] = m[c].fillna(0).astype("int64")
        return pd.DataFrame(
            {
                "d": m["d"],
                "orders_total": m["oc"] / 100.0,
                "items_total": m["ic"] / 100.0,
                "gap": (m["oc"] - m["ic"]) / 100.0,
                "n_orders": m["n_orders"],
                "n_items": m["n_items"],
            }
        )

    return (
        orders.groupBy("m")
        .cogroup(items.groupBy("m"))
        .applyInPandas(
            reconcile,
            "d date, orders_total double, items_total double, "
            "gap double, n_orders long, n_items long",
        )
    )
