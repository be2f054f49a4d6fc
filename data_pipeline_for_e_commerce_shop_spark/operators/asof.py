"""As-of (point-in-time) join — an operator Spark's DataFrame API lacks
natively, built as a composition of existing ops (SURVEY charter:
custom operators tier (a)).

For each left row, attach the payload of the LATEST right row with
``right.ts <= left.ts`` within the same key.  The naive formulation
(theta-join on ts + per-left argmax) explodes to O(|L| x |R|) pairs;
this implementation is the scalable union trick:

1. union both sides, tagged, right rows sorting BEFORE left rows on
   timestamp ties (inclusive >= semantics);
2. one window per key ordered by (ts, tag): ``last(payload,
   ignorenulls=True)`` carries the most recent right payload forward;
3. keep the left rows.

ONE shuffle on the key, linear work, no pair explosion — the same plan
shape Flink's temporal join and kdb's aj use.  DuckDB's native
``ASOF LEFT JOIN`` is the oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_pipeline_for_e_commerce_shop_spark.schemas import load_table


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    ts: str,
    right_payload: list[str],
) -> DataFrame:
    """Generic as-of join (left.ts >= right.ts, same key).

    Returns all left columns + ``asof_<payload>`` columns (null when no
    prior right row exists).  If multiple right rows share an exact
    (key, ts), the one sorting last by payload order wins — pass a
    unique ts (or pre-aggregate the right side) for full determinism.
    """
    lcols = left.columns
    tagged_right = right.select(
        F.col(key),
        F.col(ts),
        F.lit(0).alias("_side"),
        *[F.col(c).alias(f"_rp_{c}") for c in right_payload],
        *[
            F.lit(None).cast(left.schema[c].dataType).alias(f"_lc_{c}")
            for c in lcols
        ],
    )
    tagged_left = left.select(
        F.col(key),
        F.col(ts),
        F.lit(1).alias("_side"),
        *[
            F.lit(None).cast(right.schema[c].dataType).alias(f"_rp_{c}")
            for c in right_payload
        ],
        *[F.col(c).alias(f"_lc_{c}") for c in lcols],
    )
    order = [F.col(ts).asc(), F.col("_side").asc()] + [
        F.col(f"_rp_{c}").asc_nulls_first() for c in right_payload
    ]
    w = (
        Window.partitionBy(key)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = tagged_left.unionByName(tagged_right).select(
        "*",
        *[
            F.last(f"_rp_{c}", ignorenulls=True).over(w).alias(f"_asof_{c}")
            for c in right_payload
        ],
    )
    return filled.filter(F.col("_side") == 1).select(
        *[F.col(f"_lc_{c}").alias(c) for c in lcols],
        *[F.col(f"_asof_{c}").alias(f"asof_{c}") for c in right_payload],
    )


def purchases_last_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every purchase event: the user's most recent prior (or
    simultaneous) click — time-to-convert analytics.  Oracle: DuckDB
    ASOF LEFT JOIN."""
    events = load_table(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_event_id")
    )
    joined = asof_join(
        purchases,
        clicks,
        key="user_id",
        ts="ts",
        right_payload=["click_event_id"],
    )
    return joined.select(
        "event_id",
        "user_id",
        F.unix_timestamp("ts").alias("purchase_epoch"),
        (F.floor(F.col("value") * 100) / 100.0).alias("value"),
        # -1 sentinel for "no prior click": a NULL-bearing BIGINT column
        # coerces to float64 on any pandas materialization path, which
        # type-diverges from the other engine's ints (CORRECTNESS type
        # lesson); the oracle applies the same COALESCE.
        F.coalesce("asof_click_event_id", F.lit(-1).cast("long")).alias(
            "click_event_id"
        ),
    )


ASOF_TOLERANCE_SECONDS = 600  # match only clicks within 10 minutes


def purchases_last_click_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join WITH TOLERANCE (pandas merge_asof's `tolerance`, kdb
    wj's window): a purchase matches its most recent prior click only
    if the click happened within `ASOF_TOLERANCE_SECONDS` seconds — stale context
    is worse than no context for attribution and feature generation.

    Same single-shuffle union+carry-forward plan as asof_join; the
    matched click's epoch rides along as a second payload column and
    the tolerance check is a post-projection (never a join condition,
    which would break the carry-forward trick).  Out-of-window
    matches degrade to the same -1 sentinel as no-match.
    """
    events = load_table(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.col("event_id").alias("click_event_id"),
        F.unix_timestamp("ts").cast("long").alias("click_epoch"),
    )
    joined = asof_join(
        purchases,
        clicks,
        key="user_id",
        ts="ts",
        right_payload=["click_epoch", "click_event_id"],
    )
    p_epoch = F.unix_timestamp("ts").cast("long")
    in_window = (
        F.col("asof_click_epoch").isNotNull()
        & (p_epoch - F.col("asof_click_epoch") <= ASOF_TOLERANCE_SECONDS)
    )
    return joined.select(
        "event_id",
        "user_id",
        p_epoch.alias("purchase_epoch"),
        (F.floor(F.col("value") * 100) / 100.0).alias("value"),
        F.when(in_window, F.col("asof_click_event_id"))
        .otherwise(F.lit(-1))
        .cast("long")
        .alias("click_event_id"),
        F.when(in_window, p_epoch - F.col("asof_click_epoch"))
        .otherwise(F.lit(-1))
        .cast("long")
        .alias("lag_seconds"),
    )
