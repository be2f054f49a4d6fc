"""Round-7 invariants, part 1: the ADVICE r6 findings.

- salted_join on a NULLABLE salt column must keep every row the plain
  join keeps (the review guessed ``hash(NULL)`` -> NULL -> dropped
  rows; Spark's Murmur3 hash actually returns the SEED 42 for null
  input, so the row lands in a deterministic bucket — this test pins
  that contract so an engine-semantics change would fail loudly).
- drain_session must not pin base sessions forever (WeakKeyDictionary)
  and must RE-SYNC the session timezone on every call, not only at
  creation.
- floordiv_sql must agree with DuckDB's ``//`` on negative operands
  (the salted-join / delta-maintenance oracle pairing used truncating
  ``div``, which diverges on pre-1970 timestamps or negative cents).

Delta-protocol round-7 work (distributed DV decode, DV-aware
OPTIMIZE, DV checkpoints, partitioned checkpoints, DV-bin vacuum) is
covered in test_round7_delta.py.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_pipeline_for_e_commerce_shop_spark.functions.scalars import (
    floordiv_sql,
)
from data_pipeline_for_e_commerce_shop_spark.operators.skew import (
    salted_join,
)


def test_salted_join_keeps_null_salt_rows(spark):
    """A NULL salt_source row must survive the salted join exactly as
    it survives the plain join (ADVICE r6 medium claimed it is
    silently dropped — it is not, because hash(NULL) = seed = 42)."""
    fact = spark.createDataFrame(
        [("a", "u1", 10), ("a", None, 20), ("b", None, 30), ("b", "u2", 40)],
        "k STRING, src STRING, v INT",
    )
    build = spark.createDataFrame(
        [("a", 100), ("b", 200)], "k STRING, dim INT"
    )
    plain = fact.join(build, "k").select("k", "src", "v", "dim")
    salted = salted_join(fact, build, key="k", salt_source="src").select(
        "k", "src", "v", "dim"
    )
    assert salted.exceptAll(plain).count() == 0
    assert plain.exceptAll(salted).count() == 0
    assert salted.count() == 4  # both NULL-salt rows present


def test_salted_join_null_salt_bucket_is_deterministic(spark):
    """hash(NULL) must be the Murmur3 seed (42) — the engine fact the
    null-safety contract rests on; if a Spark upgrade changes it the
    failure should name the root cause, not surface as dropped rows."""
    row = spark.sql(
        "SELECT hash(CAST(NULL AS STRING)) AS h,"
        " pmod(hash(CAST(NULL AS STRING)), 16) AS salt"
    ).first()
    assert row.h == 42
    assert row.salt == 42 % 16


def test_drain_session_cache_is_weak_and_resyncs_tz(spark):
    from data_pipeline_for_e_commerce_shop_spark.streaming import windowed

    assert isinstance(
        windowed._DRAIN_SESSIONS, __import__("weakref").WeakKeyDictionary
    )
    tz0 = spark.conf.get("spark.sql.session.timeZone")
    ds1 = windowed.drain_session(spark)
    assert ds1 is windowed.drain_session(spark)  # cached, same object
    try:
        spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
        ds2 = windowed.drain_session(spark)
        # re-synced on EVERY call, not only at creation
        assert ds2.conf.get("spark.sql.session.timeZone") == "Asia/Tokyo"
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz0)
    # a throwaway scoped session must not be pinned forever once its
    # base session is collected
    import gc

    base = spark.newSession()
    windowed.drain_session(base)
    n_before = len(windowed._DRAIN_SESSIONS)
    del base
    gc.collect()
    assert len(windowed._DRAIN_SESSIONS) < n_before


@pytest.mark.parametrize(
    "a,b",
    [(-100, 86400), (-86401, 86400), (-1, 7), (13, 7), (-13, 7), (0, 5)],
)
def test_floordiv_pairing_is_version_stable_floor(spark, a, b):
    """Both sides of the floor-division oracle pairing must equal
    mathematical floor on negative operands.  Investigating the ADVICE
    r6 finding showed the deeper trap: DuckDB 1.0's integer ``//``
    TRUNCATES toward zero (−100 // 86400 = 0) while later releases
    floor — bare ``//`` in an oracle is version-dependent, the exact
    r5-verdict divergence class.  The oracle side subtracts the pmod
    remainder first, so the final division is over an exact multiple
    where floor == truncation and EVERY DuckDB version agrees; the
    oracles of event_type_salted_join and
    events_stream_delta_exactly_once carry this form inline, and
    scalars.floordiv_sql is its Spark twin."""
    import duckdb

    from data_pipeline_for_e_commerce_shop_spark.queries import ORACLES

    def oracle_floordiv(x: str, y: str) -> str:
        return f"((({x}) - ((({x}) % ({y})) + ({y})) % ({y})) // ({y}))"

    day = oracle_floordiv("CAST(floor(epoch(ts)) AS BIGINT)", "86400")
    assert day in ORACLES["event_type_salted_join"]
    assert day in ORACLES["events_stream_delta_exactly_once"]

    got = spark.sql(
        f"SELECT {floordiv_sql(str(a), str(b))} AS q"
    ).first().q
    want = duckdb.sql(
        f"SELECT {oracle_floordiv(str(a), str(b))} AS q"
    ).fetchone()[0]
    assert got == want == a // b  # python // is true floor
