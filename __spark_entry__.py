"""Driver contract for the spark-graft engine (PySpark target).

``entry(spark)`` smoke-runs the flagship query; ``queries()`` maps every
implemented operator (SURVEY.md §2) to a (spark, sf_dir) -> DataFrame
callable; ``oracle_sql()`` holds the DuckDB-equivalent ANSI SQL.  Both
dicts follow the registry's registration order.

Determinism contract: money aggregates go through exact integer cents
(see functions/scalars.py) so Spark and DuckDB agree bit-for-bit; every
computed column is aliased identically on both sides; ratios divide
exact integers (same doubles on both engines).

Every registered oracle is checked at sf0.001 by
tests/test_oracle_parity.py and at sf0.01 by
``python -m tests.driver_sim``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from data_pipeline_for_e_commerce_shop_spark.queries import (
    QUERIES,
    ORACLES,
)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (category daily-revenue KPIs) on sf0.001."""
    return QUERIES["category_kpis"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    return {n: ORACLES[n] for n in QUERIES if n in ORACLES}
