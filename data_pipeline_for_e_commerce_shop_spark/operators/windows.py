"""Window analytics — SURVEY §2.5/§2.6 extension surface.

The reference has no window functions; its per-day KPI rows keyed by
order_date (scripts/helperfunction.py:117) form an implicit daily series.
These operators make that series first-class: moving averages, lag deltas,
top-k per group, rollup/cube KPI hierarchies — all stock pyspark Window /
grouping sets, fully Catalyst-optimized (single shuffle per partitioning).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_pipeline_for_e_commerce_shop_spark.functions.scalars import money_sum
from data_pipeline_for_e_commerce_shop_spark.operators.kpis import category_kpis
from data_pipeline_for_e_commerce_shop_spark.schemas import load_table


def revenue_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day moving average + previous-day revenue per category.

    One shuffle on `category`; lag and the rows-window share the same
    sort within partitions.
    """
    kpis = category_kpis(spark, sf_dir)
    w = Window.partitionBy("category").orderBy("order_date")
    w7 = w.rowsBetween(-6, 0)
    return kpis.select(
        "category",
        "order_date",
        "daily_revenue",
        F.lag("daily_revenue", 1).over(w).alias("prev_revenue"),
        F.avg("daily_revenue").over(w7).alias("revenue_ma7"),
    )


GROUP_TOPK = 3


def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k parts by revenue within each part type (row_number).

    Deterministic tie-break on p_partkey.  At scale row_number over a
    partitioned window is a single shuffle; AQE handles skewed types.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    revenue = (
        lineitem.join(F.broadcast(part), lineitem.l_partkey == part.p_partkey)
        .groupBy("p_type", "p_partkey")
        .agg(money_sum("l_extendedprice").alias("revenue"))
    )
    w = Window.partitionBy("p_type").orderBy(
        F.col("revenue").desc(), F.col("p_partkey").asc()
    )
    return (
        revenue.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= GROUP_TOPK)
        .select("p_type", "p_partkey", "revenue", "rank")
    )


def kpi_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP(category, order_date) revenue hierarchy (SURVEY §2.4
    extension) — per-category-per-day, per-category, grand total in one
    pass (Expand + single hash agg)."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    part = load_table(spark, sf_dir, "part")
    joined = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(part), lineitem.l_partkey == part.p_partkey)
        .select(
            F.col("p_type").alias("category"),
            F.to_date("o_orderdate").alias("order_date"),
            "l_extendedprice",
        )
    )
    return (
        joined.rollup("category", "order_date")
        .agg(
            money_sum("l_extendedprice").alias("revenue"),
            F.grouping_id("category", "order_date").alias("level"),
        )
    )


def customer_spend_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-family windows (SURVEY §2.5 extension): customers bucketed
    into spend quartiles with their exact percentile rank.

    ntile/percent_rank need a total order over the whole frame; the
    customer count is unbounded at 100x, so the rank comes from the
    bucket-walk (:func:`bucketed_rank_running_sum` on the integer cents
    lead — monotone in the double total_spend) and both functions are
    recomputed from it: ntile via :func:`ntile_from_rank`, and
    percent_rank = (rn-1)/(n-1) (the ordering is total — custkey
    tie-break — so rank == row_number and the formula is exact).
    """
    orders = load_table(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        money_sum("o_totalprice").alias("total_spend"),
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).alias(
            "_cents"
        ),
    )
    ranked = bucketed_rank_running_sum(
        spend,
        [],
        "-_cents",
        [F.desc("_cents"), F.col("o_custkey").asc()],
        rank_col="_rn",
        n_col="_n",
    )
    return ranked.select(
        "o_custkey",
        "total_spend",
        "n_orders",
        ntile_from_rank("_rn", "_n", 4).alias("quartile"),
        F.round(
            F.expr(
                "CASE WHEN _n = 1 THEN CAST(0.0 AS DOUBLE)"
                " ELSE CAST(_rn - 1 AS DOUBLE) / (_n - 1) END"
            ),
            9,
        ).alias("pct_rank"),
    )


def grouping_sets_kpis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS ((brand), (type), ()) — the sparse cousin of
    rollup/cube (SURVEY §2.4 extension): per-brand and per-type KPI
    marginals plus the grand total in ONE Expand + hash agg, skipping
    the (brand, type) cross level a CUBE would also compute."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    joined = lineitem.join(
        F.broadcast(part), lineitem.l_partkey == part.p_partkey
    ).select("p_brand", "p_type", "l_extendedprice")
    return joined.groupingSets(
        [["p_brand"], ["p_type"], []], "p_brand", "p_type"
    ).agg(
        money_sum("l_extendedprice").alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
        F.grouping_id("p_brand", "p_type").alias("level"),
    )


HEAD_N = 10


def ordered_head(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1: FIFO head — oldest-HEAD_N pending-like rows, deterministic
    tie-break (reference controller GSI query ScanIndexForward Limit=1,
    lambda/controller.py:64-69).  TakeOrderedAndProject physically: no
    global sort, each partition keeps n, driver merges n*p rows."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.filter(F.col("o_orderstatus") == "O")
        .orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
        .limit(HEAD_N)
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    )


def trailing_30d_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per order day: that day's exact revenue plus the trailing-30-day
    revenue via a RANGE frame (value-based window — the frame type the
    rows-based moving average can't express when days are missing).

    Decomposed so the window never sees the fact table: one groupBy
    collapses orders to ~|days| rows of exact cents, then the range
    window (ordered by integer day) runs over that small aggregate in
    a single partition — thousands of rows, not billions.  Summing
    integer cents keeps the trailing total order-independent.
    """
    orders = load_table(spark, sf_dir, "orders")
    daily = (
        orders.groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100))
            .cast("long")
            .alias("cents")
        )
        .withColumn("day_i", F.datediff("day", F.lit("1970-01-01")))
    )
    w = Window.orderBy("day_i").rangeBetween(-29, 0)
    return daily.select(
        "day",
        (F.col("cents") / 100.0).alias("revenue"),
        (F.sum("cents").over(w) / 100.0).alias("revenue_30d"),
    )


def segment_balance_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-function compendium over the customer dimension: the
    three lowest-balance customers per segment annotated with their
    cumulative-distribution position, the segment's second-lowest
    balance (nth_value over the full frame), and the segment range.

    Ordering is (c_acctbal, c_custkey) — the key tiebreak makes every
    rank/cume_dist deterministic.  One shuffle on segment; the full
    partition frame for nth_value/max is |segment| rows, dim-sized.
    """
    cust = load_table(spark, sf_dir, "customer")
    order = [F.col("c_acctbal"), F.col("c_custkey")]
    w = Window.partitionBy("c_mktsegment").orderBy(*order)
    wfull = w.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    annotated = cust.select(
        "c_mktsegment",
        "c_custkey",
        "c_acctbal",
        F.row_number().over(w).alias("rk"),
        F.cume_dist().over(w).alias("cd"),
        F.nth_value("c_acctbal", 2).over(wfull).alias("second_lowest"),
        (F.max("c_acctbal").over(wfull) - F.min("c_acctbal").over(wfull)).alias(
            "bal_range"
        ),
    )
    return annotated.where(F.col("rk") <= 3)


RANK_BUCKETS = 4096  # range buckets of the two-phase rank


def ntile_from_rank(rank_col: str, n_col: str, k: int):
    """NTILE(k) recomputed from an exact global rank: the first
    ``n % k`` tiles get ``n div k + 1`` rows, the rest ``n div k`` —
    SQL-standard NTILE's exact assignment (the binning commit 94e7d6c
    pinned).  Pure expression over (rank, n); pairs with
    :func:`bucketed_rank_running_sum` to replace a global-sort ntile.
    Returns an int column matching ``F.ntile(k)``'s type."""
    q = f"({n_col} div {k})"
    m = f"({n_col} % {k})"
    return F.expr(
        f"CAST(CASE WHEN {rank_col} <= {m} * ({q} + 1)"
        f" THEN 1 + ({rank_col} - 1) div ({q} + 1)"
        f" ELSE 1 + {m} + ({rank_col} - {m} * ({q} + 1) - 1) div {q}"
        f" END AS INT)"
    )


_INTEGRAL_DTYPES = {"tinyint", "smallint", "int", "bigint"}


def positional_boundary_structs(
    df: DataFrame,
    specs: list,
    ranks_expr: str,
) -> DataFrame:
    """The distributed replacement for a GLOBAL ntile/row_number sort:
    the exact (value, *tiebreaks) tuples sitting at the given global
    ranks, found WITHOUT a single-partition sort.

    Same bucket-walk as revenue_trend_robust's positional median:
    coarse-bucket the value, cumulative-count the (vocabulary-sized)
    bucket table to locate each target rank's bucket and in-bucket
    offset, then rank ONLY inside hit buckets with a partitioned
    window.  Cost: one map-side-combined groupBy over the data plus
    per-bucket local sorts — no stage ever sorts the full input on one
    partition, so the plan survives a 100x scale-up where
    ``Window.orderBy(...)`` (WindowExec, "No Partition Defined")
    does not.

    Each ``spec = (out_col, value_col, tiebreak_cols, bucket_scale)``
    is one walk, and K walks share ONE stacked pass (r7 opt — two
    operations keyed the same way share one pass): the
    data is read once (rows exploded K ways into narrow integer key
    structs), the bucket bookkeeping/cumulative window runs once
    partitioned by dimension, the within-bucket ranking window runs
    once partitioned by (dimension, bucket), and the caller broadcasts
    ONE 1-row result instead of K.

    ``ranks_expr`` is a SQL expression over ``n`` (the total row
    count) producing an ARRAY of target ranks, e.g. quintile
    boundaries ``array(...)``.  Every value/tiebreak column must be
    integral (the keys travel as BIGINT and are cast back to their
    original Spark types in the output structs — lossless, and struct
    comparison is positional so ordering and binning are unchanged).
    Returns one row with one column per spec, named ``out_col``:
    array<struct<value, *tiebreaks>> sorted by rank, ready to
    broadcast-crossJoin onto the data for binning via struct
    comparison.
    """
    dtypes = dict(df.dtypes)
    arities = []
    for _, vcol, tcols, _ in specs:
        for c in [vcol, *tcols]:
            if dtypes[c] not in _INTEGRAL_DTYPES:
                raise ValueError(
                    f"positional_boundary_structs: non-integral"
                    f" column {c} ({dtypes[c]})"
                )
        arities.append(1 + len(tcols))
    maxa = max(arities)

    stacked_structs = []
    for j, (_, vcol, tcols, scale) in enumerate(specs):
        cols = [vcol, *tcols]
        # zero-pad the key to the widest arity: the real columns
        # already form a strict total order per the caller's contract,
        # so a constant tail never changes any comparison
        keys = ", ".join(
            f"'k{i}', CAST({cols[i] if i < len(cols) else 0} AS BIGINT)"
            for i in range(maxa)
        )
        stacked_structs.append(
            f"named_struct('d', {j},"
            f" '_bk', CAST(({vcol}) div {scale} AS BIGINT),"
            f" 'key', named_struct({keys}))"
        )
    stacked = (
        df.select(
            F.explode(
                F.expr("array(" + ", ".join(stacked_structs) + ")")
            ).alias("t")
        )
        .select("t.d", "t._bk", "t.key")
    )
    bcounts = stacked.groupBy("d", "_bk").agg(
        F.count(F.lit(1)).alias("_cnt")
    )
    # bucket table is <= K * n_buckets rows — the bounded-window class
    w_cum = (
        Window.partitionBy("d")
        .orderBy("_bk")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy("d").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = bcounts.select(
        "d",
        "_bk",
        "_cnt",
        F.sum("_cnt").over(w_cum).alias("_cum"),
        F.sum("_cnt").over(w_all).alias("n"),
    )
    # one row per (target rank x its bucket): rank r lands in the
    # bucket where cum >= r and cum - cnt < r, at in-bucket offset
    # r - (cum - cnt).  Each target rank r is paired with its NEIGHBOR
    # rank r+1 (tag 1): binning via strict struct comparison matches
    # ntile ONLY when the tuple at r differs from the tuple at r+1 —
    # a duplicate run straddling a boundary would silently bin the
    # whole run below — so the neighbor's tuple is fetched in the same
    # pass and equality raises loudly instead of diverging.
    targets = (
        cum.select(
            "d",
            "_bk",
            "_cnt",
            "_cum",
            F.explode(
                F.expr(
                    f"flatten(transform({ranks_expr}, r -> array("
                    "named_struct('rr', r, 'tg', 0),"
                    "named_struct('rr', r + 1, 'tg', 1))))"
                )
            ).alias("_rt"),
        )
        .select(
            "d",
            "_bk",
            "_cnt",
            "_cum",
            F.col("_rt.rr").alias("_r"),
            F.col("_rt.tg").alias("_tg"),
        )
        .where(
            (F.col("_cum") >= F.col("_r"))
            & (F.col("_cum") - F.col("_cnt") < F.col("_r"))
        )
        .select(
            "d",
            "_bk",
            "_r",
            "_tg",
            (F.col("_r") - (F.col("_cum") - F.col("_cnt"))).alias("_off"),
        )
    )
    # one join row per hit bucket (targets collected into an array),
    # so the within-bucket ranking window is computed ONCE per bucket
    # however many target ranks (and their tie-check neighbors) land
    # in it — per-target join duplication would multiply the sort.
    tgrp = targets.groupBy("d", "_bk").agg(
        F.expr(
            "collect_list(named_struct('r', _r, 'tg', _tg, 'off', _off))"
        ).alias("_tgs")
    )
    picked = (
        stacked.join(F.broadcast(tgrp), ["d", "_bk"])
        .select(
            "d",
            "_tgs",
            "key",
            F.row_number()
            .over(Window.partitionBy("d", "_bk").orderBy("key"))
            .alias("_rn"),
        )
        .select(
            "d",
            F.explode(F.expr("filter(_tgs, t -> t.off = _rn)")).alias(
                "_t"
            ),
            "key",
        )
        .select(
            "d",
            F.col("_t.r").alias("_r"),
            F.col("_t.tg").alias("_tg"),
            "key",
        )
    )
    # neighbor entries re-keyed to their base rank (r-1) so the tie
    # check is a per-rank struct comparison; a missing neighbor
    # (boundary at rank n) simply doesn't appear and can't match.
    mains, nexts, outs = [], [], []
    for j, (out, vcol, tcols, _) in enumerate(specs):
        mains.append(
            F.expr(
                f"array_sort(collect_list(CASE WHEN d = {j} AND _tg = 0"
                f" THEN named_struct('r', _r, 's', key) END))"
            ).alias(f"_bmain{j}")
        )
        nexts.append(
            F.expr(
                f"array_sort(collect_list(CASE WHEN d = {j} AND _tg = 1"
                f" THEN named_struct('r', _r - 1, 's', key) END))"
            ).alias(f"_bnext{j}")
        )
        cols = [vcol, *tcols]
        rebuild = ", ".join(
            f"'{c}', CAST(x.s.k{i} AS {dtypes[c]})"
            for i, c in enumerate(cols)
        )
        outs.append(
            F.expr(
                f"CASE WHEN exists(_bnext{j}, nb -> exists(_bmain{j},"
                " mb -> mb.r = nb.r AND mb.s = nb.s))"
                " THEN raise_error('positional_boundary_structs:"
                " duplicate (value, tiebreak) tuple straddles a"
                " boundary rank; extend tiebreak_cols to a strict"
                " total order')"
                f" ELSE transform(_bmain{j},"
                f" x -> named_struct({rebuild})) END"
            ).alias(out)
        )
    return picked.agg(*mains, *nexts).select(*outs)


def bucketed_rank_running_sum(
    df: DataFrame,
    sum_cols: list,
    lead_expr: str,
    order_cols: list,
    rank_col: str = "rn",
    cum_cols: list = (),
    n_col: str | None = None,
) -> DataFrame:
    """Exact global ``row_number() OVER (ORDER BY order_cols)`` and
    exact inclusive running ``SUM(c) OVER (ORDER BY order_cols ROWS
    UNBOUNDED PRECEDING)`` for each ``c`` in ``sum_cols`` (none for a
    rank alone), without a single-partition sort (the WindowExec "No
    Partition Defined" plan that dies at 100x).

    ``lead_expr`` is a SQL expression for the LEADING integer sort key
    (negate it for a descending lead, e.g. ``"-cents"``); the rest of
    ``order_cols`` break ties so the ordering is total.  Strategy:
    range-bucket the lead key adaptively into <= ``RANK_BUCKETS`` buckets
    (min/max come from a 1-row broadcast agg, so bucket count is bound
    regardless of data scale), compute each bucket's exclusive prefix
    count and prefix sums with a window over the BOUNDED bucket table
    (<= RANK_BUCKETS rows — the whitelisted bounded-window class), then
    rank and sum inside each bucket with ONE partitioned window and add
    the offsets.  The result is bit-identical to the global window
    because integer division by a positive scale is monotone in the
    lead key.  Integer sums only (the repo's exact-cents discipline),
    so the split into prefix + local sum is associative and bit-exact.

    Returns ``df`` plus ``rank_col`` (long, 1-based global rank), one
    running sum per ``sum_cols`` entry named by ``cum_cols``, and, when
    ``n_col`` is given, the total row count as a column.  A caller that
    reads only the sums leaves the rank unread, and Catalyst prunes it.
    """
    cum_cols = list(cum_cols)
    assert len(cum_cols) == len(sum_cols)
    src = df.localCheckpoint(eager=False)
    bounds = src.agg(
        F.expr(f"min({lead_expr})").alias("_bwlo"),
        F.expr(f"max({lead_expr})").alias("_bwhi"),
        F.count(F.lit(1)).alias("_bwn"),
    )
    bucketed = src.crossJoin(F.broadcast(bounds)).withColumn(
        "_bk",
        F.expr(
            f"(({lead_expr}) - _bwlo)"
            f" div (((_bwhi - _bwlo) div {RANK_BUCKETS}) + 1L)"
        ),
    )
    bstats = bucketed.groupBy("_bk").agg(
        F.count(F.lit(1)).alias("_cnt"),
        *[F.sum(c).alias(f"_bsum{i}") for i, c in enumerate(sum_cols)],
    )
    # exclusive prefix over the <= RANK_BUCKETS-row bucket table: bounded
    # input, so the single-partition window here is safe by design
    w_prev = Window.orderBy("_bk").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = bstats.select(
        "_bk",
        F.coalesce(F.sum("_cnt").over(w_prev), F.lit(0)).alias("_boff"),
        *[
            F.coalesce(F.sum(f"_bsum{i}").over(w_prev), F.lit(0)).alias(
                f"_soff{i}"
            )
            for i in range(len(sum_cols))
        ],
    )
    w_in = Window.partitionBy("_bk").orderBy(*order_cols)
    w_in_sum = w_in.rowsBetween(Window.unboundedPreceding, 0)
    out = bucketed.join(F.broadcast(offsets), "_bk").withColumn(
        rank_col,
        (F.col("_boff") + F.row_number().over(w_in)).cast("long"),
    )
    for i, (c, cc) in enumerate(zip(sum_cols, cum_cols)):
        out = out.withColumn(
            cc, F.col(f"_soff{i}") + F.sum(c).over(w_in_sum)
        )
    keep = df.columns + [rank_col, *cum_cols] + ([n_col] if n_col else [])
    if n_col:
        out = out.withColumn(n_col, F.col("_bwn"))
    return out.select(*keep)
