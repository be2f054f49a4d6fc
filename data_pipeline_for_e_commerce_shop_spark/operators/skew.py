"""Skew-mitigation operators (SURVEY §4.4: "salting only if skew
observed").

A hot group key makes one reducer the straggler: every row for that key
lands in a single shuffle partition regardless of cluster size.  Spark's
hash aggregation already does partial (map-side) combine, which handles
*sum-like* skew for free — but when the per-group state is wide (many
distinct-ish aggregates) or the operator is `collect_set`-shaped, an
explicit two-phase salted aggregation bounds any single task's state:

    phase 1: groupBy(key, salt)  — fan the hot key over S sub-groups
    phase 2: groupBy(key)        — merge the S partials

Correctness requires the aggregate to be decomposable (sum/count/min/
max/HLL merge...).  The salt is a deterministic hash of a high-
cardinality column — NOT rand() — so a re-run (or a task retry at
100 TB) produces identical partials; results are bit-equal to the
unsalted plan, which is exactly what the DuckDB oracle checks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_pipeline_for_e_commerce_shop_spark.functions.scalars import (
    floordiv_sql,
)
from data_pipeline_for_e_commerce_shop_spark.schemas import load_table

N_SALTS = 16


def salted_agg(
    df: DataFrame,
    key: str,
    salt_source: str,
) -> DataFrame:
    """Two-phase count/sum/distinct-merge aggregation over a skewed key.

    Emits per-key: row count, exact value sum in cents, and the number
    of distinct users (the pattern that matters, since countDistinct
    state is what actually blows up on a hot key).

    The distinct-count merge is DECOMPOSABLE: the salt is a hash of the
    distinct-counted column itself (``salt_source`` = ``user_id``), so
    every distinct user lands in exactly one salt bucket and the per-salt
    ``countDistinct`` partials are disjoint — their plain SUM is the
    exact global distinct count.  No task ever holds more than ~1/S of
    any key's user set, and nothing ships materialized user arrays
    (the earlier collect_set -> flatten -> array_distinct merge
    re-assembled the full per-key user set in one reducer — the exact
    OOM salting exists to prevent).
    """
    salt = (F.abs(F.hash(F.col(salt_source))) % N_SALTS).alias("_salt")
    partial = (
        df.groupBy(F.col(key), salt)
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum(F.floor(F.col("value") * 100)).alias("_cents"),
            F.countDistinct(F.col(salt_source)).alias("_du"),
        )
    )
    return (
        partial.groupBy(key)
        .agg(
            F.sum("_n").alias("n_events"),
            (F.sum("_cents") / 100.0).alias("total_value"),
            F.sum("_du").cast("int").alias("n_users"),
        )
    )


def event_type_salted_kpis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KPIs per event_type — a 5-value key over the whole events table,
    i.e. maximal skew: without salting, 5 reducer tasks do all the work
    no matter how many executors exist."""
    events = load_table(spark, sf_dir, "events")
    return salted_agg(events, key="event_type", salt_source="user_id")


def salted_join(
    fact: DataFrame,
    build: DataFrame,
    key: str,
    salt_source: str,
) -> DataFrame:
    """Two-phase salted EQUI-JOIN for a skewed key (SURVEY §4.4's join
    story at 100 TB): the probe/fact side gets a deterministic salt
    from a high-cardinality column, the build side is replicated
    ``N_SALTS``× (one copy per salt value), and the join runs on
    (key, salt) — so a hot key's rows fan over ``N_SALTS`` shuffle
    partitions instead of one straggler task.  Row-identical to the
    plain ``fact JOIN build ON key`` (every fact row finds exactly the
    one replica of its match carrying its salt), which is what the
    DuckDB oracle checks.

    Salt is ``pmod(hash(salt_source), N_SALTS)`` — NOT abs(hash)%n
    (abs(Int.MinValue) stays negative and would miss every build-side
    replica, silently dropping rows) and NOT rand() (a task retry at
    100 TB must re-derive the same salt or the retry loses rows).
    NULL ``salt_source`` values are safe: Spark's Murmur3 ``hash``
    skips null inputs and returns the SEED (42), never NULL — so a
    null-salt row lands deterministically in salt bucket
    ``pmod(42, N_SALTS)`` and still finds its build replica
    (round-7 regression test pins this; an earlier review guessed
    ``hash(NULL)`` was NULL, which would have dropped rows).

    The build side is hinted ``shuffle_hash``: replicating a build
    table N_SALTS× only makes sense when it was too big (or the key
    too hot) for plain broadcast, and the demo should exercise the
    shuffle path it claims to fix.  AQE's skew-join split
    (``spark.sql.adaptive.skewJoin``) solves the same problem
    transparently for sort-merge joins; this operator is the explicit
    form for engines/paths AQE doesn't cover (stateful streaming
    joins, deterministic replays) and for pre-partitioned writes."""
    salt = F.pmod(F.hash(F.col(salt_source)), F.lit(N_SALTS)).cast("int")
    probe = fact.withColumn("_salt", salt)
    replicas = build.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(N_SALTS - 1)))
    ).withColumn("_salt", F.col("_salt").cast("int"))
    return probe.join(replicas.hint("shuffle_hash"), [key, "_salt"]).drop(
        "_salt"
    )


def event_type_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted-join demo on the engine's most skewed key: every event
    row joins a per-event_type rollup (5 keys over the whole table —
    an unsalted shuffle join puts ~1/5 of the fact table in ONE task's
    hash bucket).  The joined dim value flows into the output as each
    day's ppm share of its type's total cents, so a wrong or dropped
    join row changes the hash — the oracle runs the PLAIN join."""
    events = load_table(spark, sf_dir, "events")
    fact = events.select(
        "event_type",
        "event_id",
        F.expr(floordiv_sql("unix_timestamp(ts)", "86400")).alias(
            "day_epoch"
        ),
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    dim = fact.groupBy("event_type").agg(
        F.sum("cents").alias("type_cents")
    )
    joined = salted_join(fact, dim, key="event_type", salt_source="event_id")
    return (
        joined.groupBy("event_type", "day_epoch")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("cents").alias("day_cents"),
            F.max("type_cents").alias("type_cents"),
        )
        .select(
            "event_type",
            "day_epoch",
            "n_events",
            "day_cents",
            F.expr(
                floordiv_sql("day_cents * 1000000", "type_cents")
            ).alias(
                "day_share_ppm"
            ),
        )
        .orderBy("event_type", "day_epoch")
    )


SKEW_TOP = 5  # hottest keys reported


def key_skew_report(df: DataFrame, key: str) -> DataFrame:
    """Shuffle-key skew diagnostic — the measurement that decides
    whether a join/agg on `key` needs salting, AQE skew splitting, or
    nothing (SURVEY §4.4: "salting only if skew observed").

    One pass builds the per-key frequency table (the same map-side
    partial combine the real aggregation would use); a second
    vocabulary-sized pass reduces it to ONE summary row per key rank:
    the `SKEW_TOP` hottest keys with their share of all rows in ppm
    (integer arithmetic — exact), against the key count and a
    perfectly-uniform share for contrast.  A key whose ppm is orders
    of magnitude above uniform_ppm is the straggler-maker.

    Scale: the frequency table is |keys|-sized, the result is
    `SKEW_TOP` rows; nothing here shuffles more than the aggregation under
    diagnosis would.
    """
    freq = df.groupBy(key).agg(F.count(F.lit(1)).alias("n"))
    totals = freq.agg(
        F.sum("n").alias("total_rows"),
        F.count(F.lit(1)).alias("n_keys"),
    )
    w = Window.orderBy(F.col("n").desc(), F.col(key).asc())
    return (
        freq.orderBy(F.col("n").desc(), F.col(key).asc())
        .limit(SKEW_TOP)
        .withColumn("rank", F.row_number().over(w))
        .crossJoin(F.broadcast(totals))
        .select(
            F.col("rank"),
            F.col(key).cast("string").alias("key_value"),
            F.col("n").alias("n_rows"),
            F.expr("n * 1000000 div total_rows").alias("share_ppm"),
            F.col("n_keys"),
            F.expr("1000000 div n_keys").alias("uniform_ppm"),
        )
    )
