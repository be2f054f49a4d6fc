"""Physical-plan introspection for the plan-shape tests.

The physical plan is the performance model, so the tests treat plan
shape as a contract (dims broadcast, filters reach the scan, no
nested-loop joins) and assert it with these helpers.

``df._jdf.queryExecution().explainString`` is not reachable from
PySpark 4; ``df.explain(...)`` prints to stdout, so the helpers
capture that output.
"""

from __future__ import annotations

import contextlib
import io
import re

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame, mode: str = "formatted") -> str:
    """The physical plan as a string (``explain`` output captured)."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def exchange_count(df: DataFrame) -> int:
    """Number of shuffle exchanges (excludes broadcast exchanges and
    AQE re-used ones) — the dominant cost term at scale."""
    plan = physical_plan(df)
    return len(re.findall(r"\(\d+\) Exchange\b", plan))


def broadcast_join_count(df: DataFrame) -> int:
    plan = physical_plan(df)
    return len(re.findall(r"\(\d+\) BroadcastHashJoin", plan))


def has_nested_loop_join(df: DataFrame) -> bool:
    """True if ANY nested-loop join appears — an O(n*m) pair scan that
    must never survive review for unbounded inputs."""
    return "NestedLoopJoin" in physical_plan(df)


def scan_read_schemas(df: DataFrame) -> list[str]:
    """ReadSchema of every file scan: verifies column pruning (a scan
    listing columns the query never uses reads them off disk too)."""
    plan = physical_plan(df)
    return [m.group(1) for m in re.finditer(r"ReadSchema: (.+)", plan)]


def scan_pushed_filters(df: DataFrame) -> list[str]:
    """PushedFilters of every file scan (empty string when none)."""
    plan = physical_plan(df)
    return [
        m.group(1).strip()
        for m in re.finditer(r"PushedFilters: \[(.*)\]", plan)
    ]


def compiled_classes(spark) -> int:
    """Classes Janino has compiled in this JVM so far: the count of
    Spark's codegen compile-time histogram.  A cache hit compiles
    nothing, so the difference across a block is its cache misses."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()
