"""Count-min sketch: fixed-memory frequency estimation.

The heavy-hitters problem at 100 TB: exact per-key counts need a
key-cardinality-sized shuffle, but a count-min sketch reduces the
fact table to a FIXED d x w counter grid (here 4 x 1024 = 4096 cells)
that is map-side combinable and mergeable across any partitioning —
the same reason HLL replaces exact countDistinct at scale.

Like operators/bloom.py, the sketch is deterministic (md5-derived row
hashes, bit-identical in Spark and DuckDB) and SELF-AUDITING: the
estimate is compared against the exact count for the true top-k keys,
so the overestimate (CMS never underestimates) is visible in the
output rather than silently trusted.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_pipeline_for_e_commerce_shop_spark.functions.scalars import (
    portable_hash32,
)
from data_pipeline_for_e_commerce_shop_spark.schemas import load_table

CMS_DEPTH = 4  # independent hash rows
CMS_WIDTH = 1024  # counters per row


def _cms_hash(row: Column, key: Column) -> Column:
    """Raw 32-bit counter hash for (row, key), before the width mod."""
    s = F.concat(
        F.lit("cms"), row.cast("string"), F.lit("-"), key.cast("string")
    )
    return portable_hash32(s)


def _cms_pos(row: Column, key: Column, width: int = CMS_WIDTH) -> Column:
    """Counter index for (row, key): first 32 md5 bits mod width."""
    return _cms_hash(row, key) % width


# Default top-k; interpolated into the registered oracle SQL
# (queries.py) so operator and oracle cannot drift.
CMS_TOPK = 20


def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimate the top-k part frequencies in lineitem via a 4x1024
    count-min sketch, audited against the exact counts.

    Build: each fact row fans out to d counter increments (map-side
    explode), then ONE groupBy over at most d*w = 4096 keys — the
    partial aggregation does all the reduction, so the shuffle is
    sketch-sized no matter how large the fact table is.  Estimate:
    the true top-k keys (the audit set) probe the sketch with a
    broadcast join on (row, pos) and take min over rows.

    Output: exact count, CMS estimate, and the collision overestimate
    (estimate - exact, always >= 0) per top key.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey")
    # materialised once: both the counter build and the audit top-k
    # read it, and two plan mentions would re-run the fact aggregate
    exact = (
        li.groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("exact_n"))
        .localCheckpoint(eager=False)
    )
    # Counter cells are additive, so the sketch can be built from the
    # per-key partial counts instead of re-scanning raw fact rows —
    # identical cells (sum over keys hashing to the cell), one fact
    # scan total.  On a true stream the increments would apply to the
    # raw rows; the merged result is the same by additivity.
    rows = exact.select(
        "l_partkey",
        "exact_n",
        F.explode(
            F.sequence(F.lit(0), F.lit(CMS_DEPTH - 1))
        ).alias("r"),
    )
    counters = rows.groupBy(
        "r", _cms_pos(F.col("r"), F.col("l_partkey")).alias("p")
    ).agg(F.sum("exact_n").alias("cnt"))
    w = Window.orderBy(F.desc("exact_n"), F.asc("l_partkey"))
    topk = exact.withColumn("rk", F.row_number().over(w)).where(
        F.col("rk") <= CMS_TOPK
    )

    probes = topk.select(
        "l_partkey",
        "exact_n",
        "rk",
        F.explode(
            F.sequence(F.lit(0), F.lit(CMS_DEPTH - 1))
        ).alias("r"),
    ).withColumn("p", _cms_pos(F.col("r"), F.col("l_partkey")))
    est = (
        probes.join(F.broadcast(counters), ["r", "p"])
        .groupBy("l_partkey", "exact_n", "rk")
        .agg(F.min("cnt").alias("cms_n"))
    )
    return est.select(
        F.col("l_partkey").alias("part_id"),
        "rk",
        "exact_n",
        "cms_n",
        (F.col("cms_n") - F.col("exact_n")).alias("overestimate"),
    )


# Width sweep for the accuracy/size tradeoff curve; interpolated into
# the registered oracle (drift-proof constant pattern).
CMS_SWEEP_WIDTHS = (256, 1024, 4096)


def cms_width_error_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min accuracy vs width: build one 4-row sketch per width in
    CMS_SWEEP_WIDTHS, probe each with the exact top-{CMS_TOPK} part
    keys, and report the collision overestimate per width (total, max,
    and ppm of the probed exact mass) — the curve that justifies a
    width choice before shipping the sketch at scale.

    Shape mirrors cms_heavy_hitters: counters build from the per-key
    partial counts (cells are additive), so the fact table is scanned
    ONCE for all widths and the groupBy reduces to at most
    |widths| * d * max_width cells; probes ride a broadcast join.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey")
    exact = (
        li.groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("exact_n"))
        .localCheckpoint(eager=False)
    )
    widths = F.array(*[F.lit(w) for w in CMS_SWEEP_WIDTHS])
    fan = exact.select(
        "l_partkey",
        "exact_n",
        F.explode(widths).alias("w"),
    ).select(
        "l_partkey",
        "exact_n",
        "w",
        F.explode(F.sequence(F.lit(0), F.lit(CMS_DEPTH - 1))).alias("r"),
    )
    counters = fan.groupBy(
        "w",
        "r",
        (_cms_hash(F.col("r"), F.col("l_partkey")) % F.col("w"))
        .alias("p"),
    ).agg(F.sum("exact_n").alias("cnt"))
    wk = Window.orderBy(F.desc("exact_n"), F.asc("l_partkey"))
    topk = exact.withColumn("rk", F.row_number().over(wk)).where(
        F.col("rk") <= CMS_TOPK
    )
    probes = (
        topk.select(
            "l_partkey",
            "exact_n",
            F.explode(widths).alias("w"),
        )
        .select(
            "l_partkey",
            "exact_n",
            "w",
            F.explode(
                F.sequence(F.lit(0), F.lit(CMS_DEPTH - 1))
            ).alias("r"),
        )
        .withColumn(
            "p", _cms_hash(F.col("r"), F.col("l_partkey")) % F.col("w")
        )
    )
    est = (
        probes.join(F.broadcast(counters), ["w", "r", "p"])
        .groupBy("w", "l_partkey", "exact_n")
        .agg(F.min("cnt").alias("cms_n"))
    )
    return (
        est.groupBy(F.col("w").cast("long").alias("width"))
        .agg(
            F.count(F.lit(1)).alias("n_probed"),
            F.sum(F.col("cms_n") - F.col("exact_n")).alias(
                "total_overestimate"
            ),
            F.max(F.col("cms_n") - F.col("exact_n")).alias(
                "max_overestimate"
            ),
            F.sum("exact_n").alias("_ex"),
        )
        .select(
            "width",
            "n_probed",
            "total_overestimate",
            "max_overestimate",
            F.expr(
                "CAST(total_overestimate * 1000000 div _ex AS BIGINT)"
            ).alias("over_ppm"),
        )
        .orderBy("width")
    )


HLL_P = 10  # 2^10 = 1024 registers
HLL_ROLLING_DAYS = 7  # trailing window of the rolling-users sketch
# (interpolated into the registered oracle SQL — keep in sync by import)


def _user_hashes(ev: DataFrame, keys: list[str]) -> DataFrame:
    """(keys..., h): the distinct (keys, user) pairs of an event slice,
    each user hashed to its 32-bit md5 prefix."""
    return (
        ev.select(*keys, "user_id")
        .distinct()
        .select(*keys, portable_hash32("user_id").alias("h"))
    )


def _hll_registers(
    hashed: DataFrame, keys: list[str], p: int, *aggs: Column
) -> DataFrame:
    """(keys..., bucket, m_reg, *aggs) registers at precision ``p``
    over a frame holding a 32-bit hash ``h`` — the mergeable partial
    state, and the SINGLE definition of the bucket/rho law (every HLL
    operator, the streaming one and HyperBall consume it, so the law
    cannot drift): the top ``p`` hash bits pick the bucket, and rho is
    the leading-zero count of the ``32 - p``-bit remainder + 1, via
    length(bin(rem)) — identical in both engines.  ``aggs`` ride the
    same groupBy (the estimator's per-bucket counts)."""
    rem_bits = 32 - p
    rho_max = rem_bits + 1
    rho = F.when(F.col("rem") == 0, F.lit(rho_max)).otherwise(
        rho_max - F.length(F.bin("rem"))
    )
    return (
        hashed.select(
            *keys,
            F.expr(f"h div {1 << rem_bits}").alias("bucket"),
            F.expr(f"h % {1 << rem_bits}").alias("rem"),
        )
        .groupBy(*keys, "bucket")
        .agg(F.max(rho).alias("m_reg"), *aggs)
    )


def _hll_fold(
    regs: DataFrame, keys: list[str], p: int, *aggs: Column
) -> DataFrame:
    """Registers at precision ``p`` -> one row per ``keys`` group with
    ``present_scaled`` (the scaled harmonic sum of the present
    registers), ``sum_scaled`` (plus 2^rho_max for each of the
    ``2^p - n_buckets`` missing ones), the raw ``hll_estimate`` and
    ``aggs`` — the ONE fold from registers to an estimate.

    The harmonic sum is kept SCALED, sum(2^(rho_max - M)) as int64
    (every term integral because M <= rho_max), so the only float op
    is the one final division of the closed-form estimate (every
    literal explicitly DOUBLE; bare decimal literals parse as DECIMAL
    in both engines with engine-specific rounding)."""
    m = 1 << p
    rho_max = 32 - p + 1  # rho of an all-zero remainder
    sums = regs.groupBy(*keys).agg(
        F.sum(
            F.expr(f"shiftleft(CAST(1 AS BIGINT), {rho_max} - m_reg)")
        ).alias("present_scaled"),
        F.count(F.lit(1)).alias("n_buckets"),
        *aggs,
    )
    return sums.withColumn(
        "sum_scaled",
        F.col("present_scaled") + (m - F.col("n_buckets")) * (1 << rho_max),
    ).withColumn(
        "hll_estimate",
        F.expr(
            f"CAST(0.7213 AS DOUBLE) / (CAST(1.0 AS DOUBLE)"
            f" + CAST(1.079 AS DOUBLE) / CAST({m} AS DOUBLE))"
            f" * CAST({m} AS DOUBLE) * CAST({m} AS DOUBLE)"
            f" * CAST({1 << rho_max} AS DOUBLE)"
            f" / CAST(sum_scaled AS DOUBLE)"
        ),
    )


def hll_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic HyperLogLog distinct-user counts per event type —
    a sketch the ORACLE CAN CHECK, unlike approx_count_distinct whose
    register internals are engine-private.

    Construction stays integer-exact end to end: h = first 32 md5
    bits; bucket = top p bits; rho = leading-zero count of the 22-bit
    remainder + 1 (``_hll_registers``); registers = max(rho) per
    bucket; and the harmonic sum is kept SCALED, sum(2^(23-M)) as
    int64, so the only float op is the one final division of the
    closed-form estimate (``_hll_fold``).  Missing buckets contribute
    2^23 each.

    The exact distinct count rides along from the same deduped
    (type, user) set, so the error is visible per row.  The raw
    estimator is reported WITHOUT the small-range linear-counting
    correction: that correction needs ln(), whose last-ulp behaviour
    is libm-specific — the one op that would break cross-engine
    bit-equality.  sum_scaled (from which zero-register counts are
    recoverable) is exposed so a consumer can apply it.  Scale story:
    registers are mergeable partials (groupBy max) — the same
    1024-cell state per group at any data size, the entire point of
    HLL at 100 TB.
    """
    ev = load_table(spark, sf_dir, "events")
    # the audit count rides the SAME lineage: register rows come from
    # the distinct (type, user) pairs, so per-bucket counts sum to the
    # exact distinct — no second branch, no join, three exchanges
    keys = ["event_type"]
    regs = _hll_registers(
        _user_hashes(ev, keys),
        keys,
        HLL_P,
        F.count(F.lit(1)).alias("n_in_bucket"),
    )
    return _hll_fold(
        regs, keys, HLL_P, F.sum("n_in_bucket").alias("n_exact")
    ).select("event_type", "n_exact", "sum_scaled", "hll_estimate")


def hll_merge_identity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mergeability law that makes sketches distributed-safe,
    verified bit-exactly: registers built on two disjoint event slices
    (first half-month vs rest) and merged with groupBy-max equal the
    registers built on the whole stream.  max is the merge operator,
    and max is associative/commutative/idempotent — so ANY partitioning
    of a 100 TB stream (executors, days, retries) folds to the same
    state.  Output compares the merged and direct harmonic sums per
    event type; `identical` must be true for every row.
    """
    ev = load_table(spark, sf_dir, "events")
    cut = F.dayofmonth("ts") <= 15
    keys = ["event_type"]

    def registers(slice_: DataFrame) -> DataFrame:
        return _hll_registers(_user_hashes(slice_, keys), keys, HLL_P)

    merged = (
        registers(ev.where(cut))
        .unionByName(registers(ev.where(~cut)))
        .groupBy("event_type", "bucket")
        .agg(F.max("m_reg").alias("m_reg"))
    )

    def summarise(regs: DataFrame, out: str) -> DataFrame:
        return _hll_fold(regs, keys, HLL_P).select(
            "event_type", F.col("present_scaled").alias(out)
        )

    direct = summarise(registers(ev), "sum_scaled_direct")
    both = summarise(merged, "sum_scaled_merged").join(
        F.broadcast(direct), "event_type"
    )
    return both.select(
        "event_type",
        "sum_scaled_merged",
        "sum_scaled_direct",
        (
            F.col("sum_scaled_merged") == F.col("sum_scaled_direct")
        ).alias("identical"),
    )


OVERLAP_TYPE_A = "click"
OVERLAP_TYPE_B = "purchase"


def hll_overlap_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch SET ALGEBRA: estimate the user overlap of two event
    types by inclusion-exclusion over three deterministic HLLs —
    |A∩B| ≈ E(A) + E(B) - E(A∪B).  Unions are free for HLL (register
    max), intersections are not; this derived estimate is the standard
    workaround, and its error grows as the overlap shrinks — which is
    WHY the exact semi-join count rides along as the audit.

    One register build serves all three sets (the slices are labeled
    and unioned before hashing); everything is sketch-sized after the
    distinct.
    """
    ev = load_table(spark, sf_dir, "events")
    a = ev.where(F.col("event_type") == OVERLAP_TYPE_A).select(
        F.lit("a").alias("event_type"), "user_id"
    )
    b = ev.where(F.col("event_type") == OVERLAP_TYPE_B).select(
        F.lit("b").alias("event_type"), "user_id"
    )
    u = ev.where(
        F.col("event_type").isin(OVERLAP_TYPE_A, OVERLAP_TYPE_B)
    ).select(F.lit("u").alias("event_type"), "user_id")
    keys = ["event_type"]
    regs = _hll_registers(
        _user_hashes(a.unionByName(b).unionByName(u), keys), keys, HLL_P
    )
    wide = (
        _hll_fold(regs, keys, HLL_P)
        .groupBy()
        .pivot("event_type", ["a", "b", "u"])
        .agg(F.max("hll_estimate"))
    )
    a_users = ev.where(F.col("event_type") == OVERLAP_TYPE_A).select(
        "user_id"
    ).distinct()
    b_users = ev.where(F.col("event_type") == OVERLAP_TYPE_B).select(
        "user_id"
    ).distinct()
    exact = a_users.join(b_users, "user_id").agg(
        F.count(F.lit(1)).alias("exact_overlap")
    )
    return wide.crossJoin(F.broadcast(exact)).select(
        F.col("a").alias("est_a"),
        F.col("b").alias("est_b"),
        F.col("u").alias("est_union"),
        (F.col("a") + F.col("b") - F.col("u")).alias("est_overlap"),
        "exact_overlap",
    )


def cms_join_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality estimation from two count-min sketches — the
    optimizer-statistics use of CMS: |A ⋈ B on k| = Σ_k f_A(k)·f_B(k),
    estimated per hash row by the inner product of the two counter
    rows, then min over rows (collisions only ADD mass, so every row
    overestimates and the min is tightest).

    Sides: orders keyed by o_custkey vs events keyed by user_id (the
    customer-activity join).  The grid is widened to 4 x 65536 for
    this estimator: inner-product error is ADDITIVE (~ |A||B|/w), so
    join-size sketches need w >> keyspace where point queries get by
    with w ~ heavy-hitter count — sizing the sketch to the question
    is the operator's real lesson.  Both sketches build from per-key partial
    counts (one scan each, 4096-cell state); the exact join size —
    the product-sum over the per-key count join — rides along as the
    audit.  This is the estimate a cost-based planner would consult
    BEFORE committing to a join strategy on 100 TB inputs.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("k")
    )
    events = load_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("k")
    )

    def key_counts(df: DataFrame) -> DataFrame:
        return df.groupBy("k").agg(F.count(F.lit(1)).alias("n"))

    def counters(keyed: DataFrame, out: str) -> DataFrame:
        rows = keyed.select(
            "k",
            "n",
            F.explode(
                F.sequence(F.lit(0), F.lit(CMS_DEPTH - 1))
            ).alias("r"),
        )
        return rows.groupBy(
            "r", _cms_pos(F.col("r"), F.col("k"), 65536).alias("p")
        ).agg(F.sum("n").alias(out))

    ka = key_counts(orders).localCheckpoint(eager=False)
    kb = key_counts(events).localCheckpoint(eager=False)
    ca = counters(ka, "na")
    cb = counters(kb, "nb")
    per_row = (
        ca.join(cb, ["r", "p"])
        .groupBy("r")
        .agg(F.sum(F.col("na") * F.col("nb")).alias("ip"))
    )
    est = per_row.agg(F.min("ip").alias("est_join_size"))
    exact = (
        ka.alias("a")
        .join(kb.alias("b"), "k")
        .agg(
            F.sum(F.col("a.n") * F.col("b.n")).alias("exact_join_size")
        )
    )
    return est.crossJoin(F.broadcast(exact)).select(
        "est_join_size",
        "exact_join_size",
        (F.col("est_join_size") - F.col("exact_join_size")).alias(
            "overestimate"
        ),
    )


def hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical sketch rollup: distinct-user HLLs at (type, day)
    leaf granularity, with the (type) and global levels derived by
    register MAX-MERGE — never re-reading the raw data.  This is the
    pre-aggregated sketch table pattern: store leaf registers once,
    answer every coarser distinct-count query by folding them.

    One pass builds the leaf registers (distinct triples -> bucket
    max); each coarser level is a register-sized groupBy.  The leaf
    level carries the exact distinct audit (bucket counts sum to it);
    merged levels are estimate-only — exactly what a serving layer
    would have, and still bit-reproducible for the oracle.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr("unix_timestamp(ts) div 86400").alias("day_epoch"),
        "user_id",
    )
    leaf_keys = ["event_type", "day_epoch"]
    leaf_regs = _hll_registers(
        _user_hashes(ev, leaf_keys),
        leaf_keys,
        HLL_P,
        F.count(F.lit(1)).alias("n_in_bucket"),
    ).localCheckpoint(eager=False)

    def summarise(keys: list[str]) -> DataFrame:
        # a coarser level max-merges the leaf registers and is
        # estimate-only
        merged = leaf_regs.groupBy(*keys, "bucket").agg(
            F.max("m_reg").alias("m_reg")
        )
        return _hll_fold(merged, keys, HLL_P).withColumn(
            "n_exact", F.lit(None).cast("long")
        )

    leaf = _hll_fold(
        leaf_regs, leaf_keys, HLL_P, F.sum("n_in_bucket").alias("n_exact")
    )
    by_type = summarise(["event_type"]).withColumn(
        "day_epoch", F.lit(None).cast("long")
    )
    top = summarise([]).withColumn(
        "day_epoch", F.lit(None).cast("long")
    ).withColumn("event_type", F.lit(None).cast("string"))

    def finish(df: DataFrame, level: str) -> DataFrame:
        # -1 sentinels at rolled-up levels: NULL-bearing BIGINT columns
        # coerce to float64 under pandas and type-diverge from the
        # other engine's ints (the level column already disambiguates);
        # the oracle emits the same -1 literals.
        return df.select(
            F.lit(level).alias("level"),
            "event_type",
            F.coalesce("day_epoch", F.lit(-1).cast("long")).alias(
                "day_epoch"
            ),
            "hll_estimate",
            F.coalesce("n_exact", F.lit(-1).cast("long")).alias("n_exact"),
        )

    return (
        finish(leaf, "type_day")
        .unionByName(finish(by_type, "type"))
        .unionByName(finish(top, "global"))
    )


def hll_rolling_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct users from DAILY HLL registers — the
    sliding-sketch pattern: per-day registers are built once; each
    day's trailing window is answered by max-merging seven
    register-sized rows, never by re-scanning seven days of raw
    events.  At 100 TB the daily register table is the only state the
    serving job reads.

    The register fan-out (each day contributes to the next
    HLL_ROLLING_DAYS target days) is sketch-sized, not fact-sized; target
    days are restricted to observed days.  The exact trailing
    distinct count (user fan-out + countDistinct) rides along as the
    audit.
    """
    ev = load_table(spark, sf_dir, "events")
    day = F.expr("unix_timestamp(ts) div 86400")
    du = ev.select(
        day.alias("d"), "user_id"
    ).distinct().localCheckpoint(eager=False)

    daily_regs = _hll_registers(
        du.select("d", portable_hash32("user_id").alias("h")), ["d"], HLL_P
    )
    days = du.select("d").distinct()

    fan = daily_regs.select(
        F.explode(
            F.sequence(F.col("d"), F.col("d") + (HLL_ROLLING_DAYS - 1))
        ).alias("td"),
        "bucket",
        "m_reg",
    ).join(days.withColumnRenamed("d", "td"), "td")
    merged = fan.groupBy("td", "bucket").agg(
        F.max("m_reg").alias("m_reg")
    )
    sums = _hll_fold(merged, ["td"], HLL_P)
    exact = (
        du.select(
            F.explode(
                F.sequence(F.col("d"), F.col("d") + (HLL_ROLLING_DAYS - 1))
            ).alias("td"),
            "user_id",
        )
        .join(days.withColumnRenamed("d", "td"), "td")
        .groupBy("td")
        .agg(F.countDistinct("user_id").alias("n_exact"))
    )
    return sums.join(exact, "td").select(
        F.col("td").alias("day_epoch"), "hll_estimate", "n_exact"
    )


HLL_SWEEP_PS = (4, 7, 10)


def hll_precision_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Accuracy-vs-memory tuning curve for the HLL register count:
    the raw estimate at p ∈ HLL_SWEEP_PS (16 / 128 / 1024 registers)
    against the exact distinct, per event type — the sketch-family
    counterpart of the LSH/IVF tuning curves.  One hash pass is
    shared; each p re-splits the SAME 32-bit hash into (bucket,
    remainder), so the sweep costs |ps| small rollups, not |ps|
    scans.  The asymptotic alpha is used at every p on BOTH engines
    (documented simplification — parity over small-m bias tweaks).
    """
    ev = load_table(spark, sf_dir, "events")
    keys = ["event_type"]
    hashed = _user_hashes(ev, keys).localCheckpoint(eager=False)
    exact = hashed.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_exact")
    )
    outs = [
        _hll_fold(_hll_registers(hashed, keys, p), keys, p).select(
            F.lit(p).cast("long").alias("p"),
            "event_type",
            F.expr("CAST(floor(hll_estimate) AS BIGINT)").alias(
                "hll_estimate"
            ),
        )
        for p in HLL_SWEEP_PS
    ]
    cur = outs[0]
    for o in outs[1:]:
        cur = cur.unionByName(o)
    return (
        cur.join(F.broadcast(exact), "event_type")
        .select(
            "p",
            "event_type",
            "n_exact",
            "hll_estimate",
            F.expr(
                "CAST((hll_estimate - n_exact) * 1000000 div n_exact"
                " AS BIGINT)"
            ).alias("err_ppm"),
        )
        .orderBy("p", "event_type")
    )
