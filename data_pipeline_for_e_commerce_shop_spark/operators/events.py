"""Event-stream analytics over the `events` table — the batch duals of
the streaming operators (SURVEY §2.9); the Structured Streaming forms
live in streaming/.

The reference's control plane is a hand-rolled processing-time stream
processor (debounce batching, lambda/s3_validation.py:64-112).  These
queries give the event-time equivalents as plain DataFrame programs:
tumbling-window aggregation and gap-based sessionization (the debounce
window T3 is exactly a 90-second-gap session).

Time arithmetic sticks to integer epoch seconds (unix_timestamp ==
floor(epoch)) so results are engine-exact; money-style value sums use
integer cents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_pipeline_for_e_commerce_shop_spark.schemas import load_table

DEBOUNCE_GAP_SECONDS = 90  # reference BATCH_WINDOW_SECONDS default
                           # (lambda/s3_validation.py:23)


def hourly_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window per event_type: counts + exact value sum.

    Batch dual of ``groupBy(window(ts, '1 hour'), event_type)``; the
    bucket is epoch//3600 so the oracle computes the identical key.
    """
    events = load_table(spark, sf_dir, "events")
    bucket = (F.floor(F.unix_timestamp("ts") / 3600) * 3600).cast("long")
    return (
        events.groupBy(
            bucket.alias("hour_epoch"), F.col("event_type")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(F.floor(F.col("value") * 100)) / 100.0).alias("total_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


def sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization per user (the reference's debounce
    window T3: an event more than 90 s after the previous one opens a
    NEW session — lambda/s3_validation.py:64-71).

    Two windows over one shuffle on user_id: lag to mark session
    starts, running sum to number sessions; then a grouped rollup per
    session.  In Structured Streaming this is session_window /
    applyInPandasWithState (streaming/debounce.py).
    """
    events = load_table(spark, sf_dir, "events")
    sec = F.unix_timestamp("ts")
    # both windows MUST share one ordering (epoch_sec, event_id): the lag
    # diff is computed on integer seconds, so ordering by raw ts would
    # let a same-second tie (sub-second order opposite to event_id) mark
    # the flag on one row and cumulative-sum it in another order
    w = Window.partitionBy("user_id").orderBy(sec, "event_id")
    marked = events.select(
        "user_id",
        "event_id",
        "value",
        sec.alias("epoch_sec"),
        F.when(
            (sec - F.lag(sec, 1).over(w)) > DEBOUNCE_GAP_SECONDS, F.lit(1)
        )
        .otherwise(F.lit(0))
        .alias("new_session"),
    )
    numbered = marked.withColumn(
        "session_no",
        F.sum("new_session").over(
            Window.partitionBy("user_id")
            .orderBy("epoch_sec", "event_id")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return (
        numbered.groupBy("user_id", "session_no")
        .agg(
            F.min("epoch_sec").alias("session_start"),
            F.max("epoch_sec").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(F.floor(F.col("value") * 100)) / 100.0).alias("total_value"),
        )
    )


LOOKBACK_SECONDS = 3600  # interval-join lookback


def purchase_click_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval (range) join: for each purchase, the count and value of
    the same user's clicks in the preceding hour — conversion-context
    attribution.

    The join is equi on user_id with the time range as a residual
    predicate, so Spark plans a hash/sort-merge join partitioned by
    user, never a nested-loop: at 100 TB the shuffle is keyed and the
    range filter is evaluated stream-side per matched pair.  (A pure
    range join with NO equi key would need bucketized time — see
    asof.py for the ordered alternative.)  Left join keeps zero-click
    purchases with n_clicks = 0.
    """
    events = load_table(spark, sf_dir, "events")
    sec = F.unix_timestamp("ts")
    purchases = events.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", sec.alias("p_sec"), "value"
    )
    clicks = events.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        sec.alias("c_sec"),
        F.floor(F.col("value") * 100).alias("c_cents"),
    )
    joined = purchases.join(
        clicks,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_sec") >= F.col("p_sec") - LOOKBACK_SECONDS)
        & (F.col("c_sec") < F.col("p_sec")),
        "left",
    )
    return joined.groupBy("event_id", "user_id", "p_sec").agg(
        F.count("c_sec").alias("n_clicks"),
        (F.coalesce(F.sum("c_cents"), F.lit(0)) / 100.0).alias("click_value"),
    )


def time_to_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Click→purchase conversion-lag histogram: users bucketed by whole
    hours between their FIRST click and FIRST purchase.

    One conditional-min aggregation keyed on user_id (both firsts in a
    single pass — no click⋈purchase join, no window), then a histogram
    groupBy whose input is one row per converting user.  The event_type
    filter is pushed to the parquet scan.  Integer epoch-second
    arithmetic keeps the bucket boundaries engine-exact.
    """
    events = load_table(spark, sf_dir, "events")
    sec = F.unix_timestamp("ts")
    per_user = (
        events.where(F.col("event_type").isin("click", "purchase"))
        .groupBy("user_id")
        .agg(
            F.min(F.when(F.col("event_type") == "click", sec)).alias("c"),
            F.min(F.when(F.col("event_type") == "purchase", sec)).alias("p"),
        )
    )
    converted = per_user.where(
        F.col("c").isNotNull() & (F.col("p") >= F.col("c"))
    )
    bucket = F.floor((F.col("p") - F.col("c")) / 3600).cast("long")
    return (
        converted.groupBy(bucket.alias("hours_to_convert"))
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


def event_type_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-type pivot (counts per type) — the KV-serving
    shape of the reference's per-key KPI rows, as one wide row per
    user.  Pivot with an explicit type list stays a single hash agg."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy("user_id")
        .pivot("event_type", ["click", "view", "purchase", "signup", "error"])
        .agg(F.count(F.lit(1)))
        .na.fill(0)
    )


# Strict-order funnel fold over a user's (sec, stage-rank) structs,
# sorted ascending: carries first-view/first-click/first-purchase state.
# Shared with the property test (tests/test_extensions.py) that fuzzes
# its equivalence to the independent min-chain formulation.
FUNNEL_FOLD_EXPR = """
    aggregate(
      array_sort(collect_list(e)),
      named_struct('fv', CAST(NULL AS BIGINT),
                   'fc', CAST(NULL AS BIGINT),
                   'fp', CAST(NULL AS BIGINT)),
      (acc, x) -> named_struct(
        'fv', CASE WHEN acc.fv IS NULL AND x.r = 0
                   THEN x.s ELSE acc.fv END,
        'fc', CASE WHEN acc.fc IS NULL AND acc.fv IS NOT NULL
                        AND x.r = 1 THEN x.s ELSE acc.fc END,
        'fp', CASE WHEN acc.fp IS NULL AND acc.fc IS NOT NULL
                        AND x.r = 2 THEN x.s ELSE acc.fp END)
    )
"""


def ordered_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict-order funnel view -> click -> purchase: how many users
    reached each stage IN ORDER (a purchase before any view does not
    count).

    Spark side: ONE shuffle — per user, collect the (sec, stage) pairs,
    sort in-array, and walk them with a JVM-side `aggregate` fold that
    carries first-view/first-click/first-purchase state.  The oracle
    proves the same result with a 3-level min-chain (fv, then min click
    >= fv, then min purchase >= fc) — two independent algorithms, one
    answer.  Equal-second ties sort by stage rank, which makes the fold
    equivalent to the chain's >= comparisons.

    Skew note: the per-user array is event-count sized; a bot user with
    millions of events would need a `slice` cap or pre-aggregation to
    (user, stage, min-sec-per-hour) first.  Typical user histories are
    bounded, so the fold state is O(1) and the array small.
    """
    stage_rank = (
        F.when(F.col("event_type") == "view", 0)
        .when(F.col("event_type") == "click", 1)
        .otherwise(2)
    )
    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type").isin("view", "click", "purchase"))
        .select(
            "user_id",
            F.struct(
                F.unix_timestamp("ts").alias("s"), stage_rank.alias("r")
            ).alias("e"),
        )
    )
    walked = ev.groupBy("user_id").agg(F.expr(FUNNEL_FOLD_EXPR).alias("st"))
    return walked.agg(
        F.count("st.fv").alias("n_view"),
        F.count("st.fc").alias("n_view_click"),
        F.count("st.fp").alias("n_full_funnel"),
    )


RATE_TRAIL = 24  # trailing hours in the baseline
RATE_MIN_TRAIL = 12  # fewest trailing hours that give a z-score
RATE_Z_CUT = 3.0  # |z| at which an hour is flagged


def rate_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-rate anomaly detection: per event_type, each hour's count
    is z-scored against the TRAILING `RATE_TRAIL`-hour window (current hour
    excluded) and flagged when |z| >= RATE_Z_CUT — the traffic-spike /
    outage monitor an ops dashboard runs over the event stream.

    Determinism contract: the trailing variance is computed from
    integer sums — var = (cnt·Σn² − (Σn)²) / cnt², one exact-integer
    numerator and ONE double division — then std = sqrt, z =
    (cnt·n − Σn) / (cnt·std); identical IEEE ops in Spark and DuckDB,
    with the final z rounded to 9 decimals (the tfidf device).  Hours
    with fewer than `RATE_MIN_TRAIL` trailing rows or zero variance emit a
    NULL z and no flag (warm-up / constant-rate guard).

    Scale: one fact scan → hourly aggregate (tiny: |hours|·|types|
    rows), then a ROWS-frame window per event_type over that aggregate
    — the window input is already reduced, so the sort is per-type over
    hours, not over raw events.
    """
    hourly = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            (F.floor(F.unix_timestamp("ts") / 3600) * 3600)
            .cast("long")
            .alias("hour_epoch"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour_epoch")
        .rowsBetween(-RATE_TRAIL, -1)
    )
    n = F.col("n_events")
    s1 = F.sum("n_events").over(w)
    s2 = F.sum(n * n).over(w)
    cnt = F.count(F.lit(1)).over(w)
    stats = hourly.select(
        "event_type",
        "hour_epoch",
        "n_events",
        cnt.alias("trail_cnt"),
        s1.alias("trail_sum"),
        s2.alias("trail_sumsq"),
    )
    var_num = (
        F.col("trail_cnt") * F.col("trail_sumsq")
        - F.col("trail_sum") * F.col("trail_sum")
    )
    std = F.sqrt(var_num / (F.col("trail_cnt") * F.col("trail_cnt")))
    z = F.round(
        (F.col("trail_cnt") * n - F.col("trail_sum"))
        / (F.col("trail_cnt") * std),
        9,
    )
    ok = (F.col("trail_cnt") >= RATE_MIN_TRAIL) & (var_num > 0)
    return stats.select(
        "event_type",
        "hour_epoch",
        "n_events",
        "trail_cnt",
        F.when(ok, z).alias("z_score"),
        F.coalesce(
            F.when(ok, F.abs(z) >= RATE_Z_CUT), F.lit(False)
        ).alias("is_anomaly"),
    )


def activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user consecutive-day activity streaks (gaps-and-islands).

    The classic island trick, fully distributed: distinct active days
    per user, then ``day_index - row_number`` is constant within a run
    of consecutive days, so a groupBy on that constant yields streak
    lengths.  Two shuffles, both keyed on user_id (the distinct and the
    window reuse one hash partitioning under AQE); output is
    |users|-sized.

    At 100 TB: the distinct is the cardinality reducer (events ->
    user-days), after which windows/aggregates run on at most
    |users| * |days| rows.  No driver state, no collect.
    """
    ev = load_table(spark, sf_dir, "events")
    days = ev.select(
        "user_id", F.to_date("ts").alias("d")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    grp = (
        F.datediff(F.col("d"), F.lit("1970-01-01").cast("date"))
        - F.row_number().over(w)
    )
    streaks = (
        days.withColumn("grp", grp)
        .groupBy("user_id", "grp")
        .agg(F.count(F.lit(1)).alias("len"))
    )
    return streaks.groupBy("user_id").agg(
        F.max("len").alias("longest_streak"),
        F.count(F.lit(1)).alias("n_streaks"),
        F.sum("len").alias("n_active_days"),
    )


# Default high-value threshold; interpolated into the registered
# oracle SQL (queries.py) so operator and oracle cannot drift.
GAP_FILL_MIN_VALUE = 4.0


def gap_fill_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly time-series resample with forward-fill imputation.

    High-value events (value >= GAP_FILL_MIN_VALUE) are sparse, so their hourly
    counts have holes.  A dense hour spine is generated from the FULL
    table's min/max hour (one-row aggregate, sequence + explode — no
    driver round-trip), cross-joined with the distinct event types
    (vocabulary-sized broadcast), left-joined with the observed counts,
    and gaps are imputed with the last observed count via
    ``last(ignorenulls)`` over an unbounded-preceding frame.

    At 100 TB the spine is |hours| x |types| rows — tiny relative to
    the fact table; the only fact-sized shuffle is the hourly groupBy.
    Leading hours before a type's first observation stay un-fillable
    and surface as n_filled = 0 with is_gap = true.
    """
    ev = load_table(spark, sf_dir, "events")
    he = F.floor(F.unix_timestamp("ts") / 3600).cast("long")
    observed = (
        ev.where(F.col("value") >= GAP_FILL_MIN_VALUE)
        .groupBy(F.col("event_type"), he.alias("hour_epoch"))
        .agg(F.count(F.lit(1)).alias("n_observed"))
    )
    bounds = ev.agg(
        F.min(he).alias("lo"), F.max(he).alias("hi")
    )
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi")).alias("hour_epoch")
    )
    types = ev.select("event_type").distinct()
    grid = spine.crossJoin(F.broadcast(types))
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour_epoch")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = grid.join(observed, ["event_type", "hour_epoch"], "left")
    return filled.select(
        "event_type",
        "hour_epoch",
        F.coalesce(
            F.last("n_observed", ignorenulls=True).over(w), F.lit(0)
        ).alias("n_filled"),
        F.col("n_observed").isNull().alias("is_gap"),
    )


def out_of_order_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time out-of-orderness per event type — the measurement
    that SIZES A WATERMARK (streaming/windowed.py picks '2 hours';
    this query is where such a number should come from).

    Arrival order is the event_id sequence; for each event the
    lateness is running-max(event time) - event time within its
    user's arrival stream (a per-user frontier keeps the window
    partitioned — a global frontier would serialise onto one task).
    Per type: event count, late count, worst and total lateness in
    whole seconds — all integers.  (The driver's generator emits
    events already time-ordered, so the report is correctly all-zero
    on testdata — the oracle still validates the frontier mechanics.)
    """
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ts = F.unix_timestamp("ts")
    late_by = F.max(ts).over(w) - ts
    scored = ev.select(
        "event_type", late_by.alias("late_s")
    )
    return scored.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum((F.col("late_s") > 0).cast("long")).alias("n_late"),
        F.max("late_s").alias("max_late_s"),
        F.sum("late_s").alias("total_late_s"),
    )


def session_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marketing attribution over gap sessions: every purchase's value
    is credited to (a) the session's FIRST event type (first-touch)
    and (b) the event type immediately PRECEDING the purchase
    (last-touch; 'direct' when the purchase opens its session) — the
    two classic models, reported side by side per channel.

    One shuffle on user_id; the session numbering windows are the
    sessionizer's (same ordering contract: integer seconds + event_id
    tiebreak), first/last touch are two more frames over that same
    shuffle, and the model x channel rollup unpivots with stack() —
    no second pass over events, no join.
    """
    events = load_table(spark, sf_dir, "events")
    sec = F.unix_timestamp("ts")
    w = Window.partitionBy("user_id").orderBy(sec, "event_id")
    marked = events.select(
        "user_id",
        "event_id",
        "event_type",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
        sec.alias("epoch_sec"),
        F.when(
            (sec - F.lag(sec, 1).over(w)) > DEBOUNCE_GAP_SECONDS, F.lit(1)
        )
        .otherwise(F.lit(0))
        .alias("new_session"),
    )
    ws = Window.partitionBy("user_id").orderBy("epoch_sec", "event_id")
    numbered = marked.withColumn(
        "session_no",
        F.sum("new_session").over(
            ws.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    wsess = Window.partitionBy("user_id", "session_no").orderBy(
        "epoch_sec", "event_id"
    )
    touched = numbered.select(
        "event_type",
        "cents",
        F.first("event_type").over(
            wsess.rowsBetween(Window.unboundedPreceding, 0)
        ).alias("first_touch"),
        F.coalesce(
            F.lag("event_type", 1).over(wsess), F.lit("direct")
        ).alias("last_touch"),
    ).where(F.col("event_type") == "purchase")
    return (
        touched.select(
            F.expr(
                "stack(2, 'first_touch', first_touch,"
                " 'last_touch', last_touch) AS (model, channel)"
            ),
            "cents",
        )
        .groupBy("model", "channel")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            (F.sum("cents") / 100.0).alias("attributed_value"),
        )
        .orderBy("model", "channel")
    )


LATE_ARRIVAL_MOD = 50  # event_id % MOD == 0 models the late batch


def backfill_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Surgical backfill: late-arriving events touch only SOME hourly
    partitions — detect the affected hours from the late batch alone,
    recompute exactly those hours from (base + late), and pass every
    other hour through untouched.  Held to the full-recompute oracle:
    the merged table must be bit-identical to aggregating everything
    (the backfill law; same base+delta == rebuild discipline as
    kpi_incremental_refresh and scd2_incremental_apply).

    Scale: the base aggregate is the already-materialized serving
    table (scanned once for the passthrough anti-join); the recompute
    scans only the affected hours' events (partition pruning on a
    date/hour-partitioned layout makes that the physical reality);
    the affected-hours list is tiny and broadcasts.
    """
    events = load_table(spark, sf_dir, "events")
    hour = (F.unix_timestamp("ts").cast("long") / 3600).cast(
        "long"
    ) * 3600
    prepared = events.select(
        hour.alias("hour_epoch"),
        "event_type",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
        (F.col("event_id") % LATE_ARRIVAL_MOD == 0).alias("is_late"),
    )
    base_events = prepared.where(~F.col("is_late"))
    late = prepared.where(F.col("is_late")).localCheckpoint(eager=False)

    def _agg(df: DataFrame) -> DataFrame:
        return df.groupBy("hour_epoch", "event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum("cents") / 100.0).alias("total_value"),
        )

    base = _agg(base_events).localCheckpoint(eager=False)  # "materialized"
    affected = late.select("hour_epoch").distinct()
    passthrough = base.join(F.broadcast(affected), "hour_epoch", "left_anti")
    recomputed = _agg(
        prepared.join(F.broadcast(affected), "hour_epoch")
    )
    return passthrough.unionByName(recomputed)
