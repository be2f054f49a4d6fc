"""Slowly-changing-dimension (SCD type 2) interval builder.

The reference pipeline rebuilds its serving tables wholesale per batch
(`scripts/transformation.py:121-260` overwrites the gold zone); a
warehouse at 100 TB instead keeps dimension HISTORY — for each key, the
intervals over which an attribute value held.  This operator derives
those validity intervals from an ordered change log with the classic
gaps-and-islands formulation:

  1. window lag() per key (one shuffle on the key) flags rows where the
     tracked attribute changed,
  2. a running sum of the flags numbers the islands,
  3. groupBy (key, island) collapses each island to one interval row,
  4. lead() stitches valid_to = next island's valid_from (NULL = current).

Scale: two window passes and one aggregation, all partitioned by the
dimension key — a single hash-shuffle of the change log, no skew
amplification (each customer's history is tiny), no collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_pipeline_for_e_commerce_shop_spark.schemas import load_table


def scd2_history(
    df: DataFrame,
    key: str,
    attr: str,
    order_by: list[str],
) -> DataFrame:
    """Collapse an ordered change log into SCD2 validity intervals."""
    w = Window.partitionBy(key).orderBy(*order_by)
    prev = F.lag(attr).over(w)
    changed = F.when(prev.isNull() | (prev != F.col(attr)), 1).otherwise(0)
    islands = (
        df.withColumn("_chg", changed)
        .withColumn("_island", F.sum("_chg").over(w))
    )
    hist = islands.groupBy(key, "_island", attr).agg(
        F.min(order_by[0]).alias("valid_from"),
        F.max(order_by[0]).alias("last_seen"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    w2 = Window.partitionBy(key).orderBy("_island")
    return (
        hist.withColumn("valid_to", F.lead("valid_from").over(w2))
        .withColumn("version", F.col("_island").cast("long"))
        .drop("_island")
    )


def priority_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 history of each customer's order priority: one row per
    (customer, consecutive-priority run), with the dates the run was
    in force.  Same-date ties break on o_orderkey so the island
    numbering is deterministic."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.col("o_orderdate").cast("date").alias("odate"),
        "o_orderkey",
        "o_orderpriority",
    )
    hist = scd2_history(
        orders, key="o_custkey", attr="o_orderpriority",
        order_by=["odate", "o_orderkey"],
    )
    return hist.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderpriority").alias("priority"),
        "valid_from",
        "valid_to",
        "last_seen",
        F.col("n_rows").alias("n_orders"),
        "version",
    )


def point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIT join — the consuming half of SCD2: each shipped line item
    looks up the priority regime IN FORCE for its customer on its ship
    date (not the current one, not the order-date one).

    Join shape: equi on the dimension key with the interval predicate
    as residual (same scale contract as the event interval join —
    hash-partitionable, never a cross product).  Intervals are
    disjoint per key by construction (valid_to = next valid_from,
    half-open), so the join is at most 1:1; items shipped before the
    customer's first interval keep a NULL regime via the left join.
    """
    hist = priority_history(spark, sf_dir).select(
        "custkey",
        F.col("priority").alias("regime_priority"),
        "valid_from",
        "valid_to",
        "version",
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", F.to_date("l_shipdate").alias("ship_date")
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    facts = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        "l_orderkey", "l_linenumber", "o_custkey", "ship_date"
    )
    joined = facts.join(
        hist,
        (facts.o_custkey == hist.custkey)
        & (facts.ship_date >= hist.valid_from)
        & (hist.valid_to.isNull() | (facts.ship_date < hist.valid_to)),
        "left",
    )
    return joined.select(
        "l_orderkey",
        "l_linenumber",
        F.col("o_custkey").alias("custkey"),
        "ship_date",
        "regime_priority",
        # -1 sentinel for "no interval in force": version is BIGINT and
        # a NULL-bearing int column coerces to float64 under pandas,
        # type-diverging from the other engine (the NULL regime itself
        # stays NULL — strings don't coerce).  Oracle mirrors this.
        F.coalesce("version", F.lit(-1).cast("long")).alias("version"),
    )


def timeline_alignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal-table ALIGN: two SCD2 histories of the same key (order
    priority and order status, both derived from the orders change
    log) refined into the sub-intervals on which BOTH attributes are
    constant — the normalization step behind bi-temporal joins and
    "as of any time" serving tables.

    Algorithm: union the two histories' valid_from boundary sets per
    key (distinct), sort them into half-open segments with lead(),
    then PIT-join each segment start into both histories.  Every stage
    is partitioned by the dimension key — boundary sets are per-key
    tiny, and the PIT joins are the equi+residual shape of
    point_in_time_join.  Segments before a history's first interval
    carry NULL for that attribute (half-aligned timelines are data,
    not errors).
    """
    orders = load_table(spark, sf_dir, "orders")
    log = orders.select(
        "o_custkey",
        F.to_date("o_orderdate").alias("odate"),
        "o_orderkey",
        "o_orderpriority",
        "o_orderstatus",
    )
    # r7: BOTH attributes' island numbering from ONE key-shuffle +
    # window pass (the lag/cumsum laws are per-attribute projections of
    # the same (odate, o_orderkey)-ordered sequence, so the numbers are
    # bit-identical to two scd2_history runs).  Previously h_prio and
    # h_stat were each derived twice (bounds union + aligned join) —
    # four fact scans, four shuffles and eight window passes for the
    # same result.
    # r8 (VERDICT r7 item 2): the r7 form EAGER-localCheckpointed the
    # flagged log and LAZY-localCheckpointed each history, which
    # serialized the query into job barriers and regressed it ~1.7x
    # locally.  A/B at sf0.1 (median of 5): eager ckpt + lazy hists
    # 2.13 s; lazy ckpt 1.85; persist 1.83; persist + NO hist
    # checkpoints 0.95; no materialization at all 1.22.  Winner: one
    # columnar persist of the flagged log, histories as plain rollups
    # of it — the four consumers recompute a small aggregation over
    # the cached table inside ONE job (overlapping), and the fact is
    # still scanned/shuffled exactly once at any scale.
    w = Window.partitionBy("o_custkey").orderBy("odate", "o_orderkey")

    def _chg(attr: str):
        prev = F.lag(attr).over(w)
        return F.when(prev.isNull() | (prev != F.col(attr)), 1).otherwise(0)

    flagged = (
        log.withColumn("_chg_p", _chg("o_orderpriority"))
        .withColumn("_chg_s", _chg("o_orderstatus"))
        .withColumn("_ip", F.sum("_chg_p").over(w))
        .withColumn("_is", F.sum("_chg_s").over(w))
        .select(
            "o_custkey", "odate", "o_orderpriority", "o_orderstatus",
            "_ip", "_is",
        )
        .persist()
    )

    def _hist(island: str, attr: str, out: str, frm: str, to: str):
        h = (
            flagged.groupBy(
                F.col("o_custkey").alias("custkey"),
                F.col(island).alias("_island"),
                F.col(attr).alias(out),
            )
            .agg(F.min("odate").alias(frm))
        )
        w2 = Window.partitionBy("custkey").orderBy("_island")
        return (
            h.withColumn(to, F.lead(frm).over(w2))
            .drop("_island")
        )

    h_prio = _hist("_ip", "o_orderpriority", "priority", "p_from", "p_to")
    h_stat = _hist("_is", "o_orderstatus", "status", "s_from", "s_to")
    bounds = (
        h_prio.select("custkey", F.col("p_from").alias("b"))
        .unionByName(h_stat.select("custkey", F.col("s_from").alias("b")))
        .distinct()
    )
    w = Window.partitionBy("custkey").orderBy("b")
    segs = bounds.select(
        "custkey",
        F.col("b").alias("seg_from"),
        F.lead("b").over(w).alias("seg_to"),
    )
    # distinct key names per side keep the chained left joins
    # unambiguous (the drop()-by-reference form goes stale after the
    # first join rewrites the plan)
    hp = h_prio.withColumnRenamed("custkey", "p_key")
    hs = h_stat.withColumnRenamed("custkey", "s_key")
    aligned = (
        segs.join(
            hp,
            (F.col("custkey") == F.col("p_key"))
            & (F.col("seg_from") >= F.col("p_from"))
            & (F.col("p_to").isNull() | (F.col("seg_from") < F.col("p_to"))),
            "left",
        )
        .join(
            hs,
            (F.col("custkey") == F.col("s_key"))
            & (F.col("seg_from") >= F.col("s_from"))
            & (F.col("s_to").isNull() | (F.col("seg_from") < F.col("s_to"))),
            "left",
        )
    )
    return aligned.select(
        "custkey",
        "seg_from",
        "seg_to",
        "priority",
        "status",
    )


SCD2_DELTA_CUTOFF = "1999-01-01"  # delta batch = orders on/after this


def incremental_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fold a NEW change batch into an existing SCD2 history without
    rebuilding untouched keys — the production delta path (the full
    rebuild is the oracle: the two must be bit-identical).

    Only a key's OPEN interval can change, so the recompute touches
    exactly: (a) the open intervals of keys present in the delta,
    re-expressed as weighted SEED rows (weight = n_orders, carrying
    valid_from/last_seen/version), and (b) the delta rows themselves
    (weight 1).  Gaps-and-islands over seed+delta per affected key —
    a seed whose attribute matches the first delta rows EXTENDS in
    place (weights sum), otherwise it closes and new islands open;
    island numbers rebase onto the seed's version so version
    continuity survives.  Closed intervals and untouched keys pass
    through without recompute.

    Scale: the delta shuffle is delta-sized + one open-interval row
    per affected key; the history table is scanned once for the
    anti-join/passthrough split.  This is the SCD2 twin of
    kpi_incremental_refresh (base+delta merge == full recompute).
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.col("o_orderdate").cast("date").alias("odate"),
        "o_orderkey",
        "o_orderpriority",
    )
    cut = F.lit(SCD2_DELTA_CUTOFF).cast("date")
    old = orders.where(F.col("odate") < cut)
    delta = orders.where(F.col("odate") >= cut).localCheckpoint(eager=False)
    old_hist = scd2_history(
        old, key="o_custkey", attr="o_orderpriority",
        order_by=["odate", "o_orderkey"],
    ).localCheckpoint(eager=False)  # feeds passthrough AND seed split
    aff = delta.select("o_custkey").distinct()
    untouched = old_hist.join(F.broadcast(aff), "o_custkey", "left_anti")
    affected_hist = old_hist.join(F.broadcast(aff), "o_custkey")
    closed = affected_hist.where(F.col("valid_to").isNotNull())
    open_ = affected_hist.where(F.col("valid_to").isNull())
    seed = open_.select(
        "o_custkey",
        "o_orderpriority",
        F.col("valid_from").alias("ord_date"),
        F.lit(-1).cast("long").alias("ord_key"),
        F.col("n_rows").alias("weight"),
        "valid_from",
        F.col("last_seen").alias("lseen"),
        F.col("version").alias("base_version"),
    )
    dx = delta.select(
        "o_custkey",
        "o_orderpriority",
        F.col("odate").alias("ord_date"),
        F.col("o_orderkey").alias("ord_key"),
        F.lit(1).cast("long").alias("weight"),
        F.col("odate").alias("valid_from"),
        F.col("odate").alias("lseen"),
        F.lit(None).cast("long").alias("base_version"),
    )
    log = seed.unionByName(dx)
    w = Window.partitionBy("o_custkey").orderBy("ord_date", "ord_key")
    prev = F.lag("o_orderpriority").over(w)
    flagged = log.withColumn(
        "_chg",
        F.when(prev.isNull() | (prev != F.col("o_orderpriority")), 1)
        .otherwise(0),
    ).withColumn(
        "_island",
        F.sum("_chg").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    ).withColumn(
        # per-key rebase: the seed's version (or 1 for brand-new keys)
        "_base",
        F.coalesce(
            F.max("base_version").over(Window.partitionBy("o_custkey")),
            F.lit(1),
        ),
    )
    recomputed = (
        flagged.groupBy("o_custkey", "_island", "_base", "o_orderpriority")
        .agg(
            F.min("valid_from").alias("valid_from"),
            F.max("lseen").alias("last_seen"),
            F.sum("weight").alias("n_rows"),
        )
    )
    w2 = Window.partitionBy("o_custkey").orderBy("_island")
    recomputed = (
        recomputed.withColumn("valid_to", F.lead("valid_from").over(w2))
        .withColumn(
            "version", (F.col("_island") + F.col("_base") - 1).cast("long")
        )
        .drop("_island", "_base")
    )
    merged = untouched.unionByName(closed).unionByName(recomputed)
    return merged.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderpriority").alias("priority"),
        "valid_from",
        "valid_to",
        "last_seen",
        F.col("n_rows").alias("n_orders"),
        "version",
    )


# ----------------------------------------------------------- bitemporal

# Bitemporal AS-OF: valid time (when the priority held in the world)
# x transaction time (when the warehouse learned it).  The change log
# gains a deterministic recorded_at = valid date + hash-lag days; the
# operator rebuilds the SCD2 history twice — once from everything
# (full knowledge) and once from only the changes recorded by the
# AS-OF transaction date — and reports how many facts would have been
# attributed to a DIFFERENT regime by the as-of snapshot.  This is the
# restatement-risk audit a bitemporal warehouse runs before trusting
# a backfilled report.  Constants are interpolated into the oracle.
BITEMPORAL_TX_ASOF = "1997-06-01"
BITEMPORAL_MAX_LAG_DAYS = 7


def _priority_change_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_pipeline_for_e_commerce_shop_spark.functions.scalars import (
        portable_hash32,
    )

    return load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.col("o_orderdate").cast("date").alias("odate"),
        "o_orderkey",
        "o_orderpriority",
        F.date_add(
            F.col("o_orderdate").cast("date"),
            (
                portable_hash32(
                    F.concat(
                        F.lit("rec-"), F.col("o_orderkey").cast("string")
                    )
                )
                % BITEMPORAL_MAX_LAG_DAYS
            ).cast("int"),
        ).alias("recorded_at"),
    )


def bitemporal_asof_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regime-attribution drift between the full-knowledge SCD2 history
    and the history AS OF transaction time BITEMPORAL_TX_ASOF: each
    shipped line item PIT-joins both histories on its ship date, and
    the (full_regime x asof_regime) census counts the disagreements
    (NULL regimes surface as 'NONE' so the grid stays string-typed).

    Plan: the change log is derived once; each history is the standard
    two-window islands build partitioned by customer; both PIT joins
    are equi on custkey with the interval predicate residual — two
    key-shuffles over the fact, no cross product, no collect."""
    log = _priority_change_log(spark, sf_dir)
    # r7: both histories from ONE key-shuffle + window pass.  The as-of
    # history is the islands build over the asof-visible SUBSET; its
    # lag is "last asof-visible priority strictly before me" and its
    # island number the running sum of a flag that is zero on invisible
    # rows — both computable in the same window as the full history's,
    # so one flagged checkpoint feeds two cheap interval rollups
    # (previously: two fact scans, two shuffles, four window passes).
    w = Window.partitionBy("o_custkey").orderBy("odate", "o_orderkey")
    in_asof = F.col("recorded_at") <= F.lit(BITEMPORAL_TX_ASOF)
    prev_full = F.lag("o_orderpriority").over(w)
    chg_full = F.when(
        prev_full.isNull() | (prev_full != F.col("o_orderpriority")), 1
    ).otherwise(0)
    prev_asof = F.last(
        F.when(in_asof, F.col("o_orderpriority")), ignorenulls=True
    ).over(w.rowsBetween(Window.unboundedPreceding, -1))
    chg_asof = F.when(
        in_asof
        & (prev_asof.isNull() | (prev_asof != F.col("o_orderpriority"))),
        1,
    ).otherwise(0)
    flagged = (
        log.withColumn("_in_asof", in_asof)
        .withColumn("_chg_f", chg_full)
        .withColumn("_chg_a", chg_asof)
        .withColumn("_if", F.sum("_chg_f").over(w))
        .withColumn("_ia", F.sum("_chg_a").over(w))
        .select(
            "o_custkey", "odate", "o_orderpriority",
            "_in_asof", "_if", "_ia",
        )
        .persist()  # r8: columnar persist beats the eager checkpoint
        # barrier here exactly as in timeline_alignment (A/B: eager
        # ckpt 1.92 s, persist 1.73 s at sf0.1, median of 5)
    )

    def _hist(src: DataFrame, island: str) -> DataFrame:
        h = src.groupBy(
            F.col("o_custkey").alias("custkey"),
            F.col(island).alias("_island"),
            F.col("o_orderpriority").alias("regime"),
        ).agg(F.min("odate").alias("valid_from"))
        w2 = Window.partitionBy("custkey").orderBy("_island")
        return h.withColumn(
            "valid_to", F.lead("valid_from").over(w2)
        ).drop("_island")

    hist_full = _hist(flagged, "_if")
    hist_asof = _hist(flagged.where(F.col("_in_asof")), "_ia")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.to_date("l_shipdate").alias("ship_date"),
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    facts = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        "o_custkey", "ship_date"
    )

    def pit(facts_df: DataFrame, hist: DataFrame, out: str) -> DataFrame:
        j = facts_df.join(
            hist,
            (facts_df.o_custkey == hist.custkey)
            & (facts_df.ship_date >= hist.valid_from)
            & (hist.valid_to.isNull() | (facts_df.ship_date < hist.valid_to)),
            "left",
        )
        return j.select(
            facts_df.o_custkey,
            facts_df.ship_date,
            F.coalesce(F.col("regime"), F.lit("NONE")).alias(out),
        )

    full = pit(facts, hist_full, "full_regime")
    # the two PIT joins run over identical fact rows; joining their
    # outputs back on (custkey, ship_date) would mis-pair duplicate
    # facts, so the second PIT consumes the first's output directly
    asof = (
        full.join(
            hist_asof,
            (full.o_custkey == hist_asof.custkey)
            & (full.ship_date >= hist_asof.valid_from)
            & (
                hist_asof.valid_to.isNull()
                | (full.ship_date < hist_asof.valid_to)
            ),
            "left",
        )
        .select(
            "full_regime",
            F.coalesce(F.col("regime"), F.lit("NONE")).alias("asof_regime"),
        )
    )
    return (
        asof.groupBy("full_regime", "asof_regime")
        .agg(F.count(F.lit(1)).alias("n_facts"))
        .orderBy("full_regime", "asof_regime")
    )
