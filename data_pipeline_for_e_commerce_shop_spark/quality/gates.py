"""Validation gates — the reference validation job, distributed-correct.

Reference semantics and the rewrites (SURVEY §4.3):

- Null gate: reference loops ``filter(isnull|isnan).count()`` per column
  (scripts/validation.py:83-91) — k full scans for k columns.  Here: ONE
  conditional-sum aggregation pass over all gated columns.
- Referential integrity: reference does ``distinct().collect()`` then
  ``~isin(list)`` (scripts/validation.py:100-116) — materializes every
  key on the driver.  Here: ``left_anti`` join, fully distributed, and
  the violating rows come back as a DataFrame (not a .show()).
- Error taxonomy preserved: NULL_VALIDATION_ERROR / REFERENTIAL_ERROR /
  UNKNOWN (reference scripts/validation.py:45-48).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

NULL_VALIDATION_ERROR = "NULL_VALIDATION_ERROR"
REFERENTIAL_ERROR = "REFERENTIAL_ERROR"
SCHEMA_ERROR = "SCHEMA_ERROR"
UNKNOWN = "UNKNOWN"


class DataValidationError(Exception):
    """Typed validation failure (reference scripts/validation.py:45-48)."""

    def __init__(self, error_type: str, message: str):
        super().__init__(message)
        self.error_type = error_type
        self.message = message


def null_violation_counts(df: DataFrame, columns: list[str]) -> dict[str, int]:
    """Null counts for all gated columns in ONE scan.

    Replaces the reference's per-column filter+count loop
    (scripts/validation.py:83-91): a single partial+final agg with a
    conditional sum per column — one job, one pass, map-side combined.
    """
    if not columns:
        return {}
    row = df.agg(
        *[
            F.sum(F.col(c).isNull().cast("long")).alias(c)
            for c in columns
        ]
    ).collect()[0]
    return {c: int(row[c] or 0) for c in columns}


def ri_violations(
    child: DataFrame, child_key: str, parent: DataFrame, parent_key: str
) -> DataFrame:
    """Child rows whose key has no parent — distributed anti-join.

    Replaces reference scripts/validation.py:100-116 (distinct → collect
    → isin).  At scale the anti-join is a shuffle or broadcast join that
    never touches the driver; returns the violating rows for quarantine.
    """
    parent_keys = parent.select(F.col(parent_key).alias(child_key)).distinct()
    return child.join(parent_keys, on=child_key, how="left_anti")


# ------------------------- declarative expectation suite (dbt-test-like)

# Rules as DATA: (table, rule_name, violation_predicate_sql).  Each
# table is scanned ONCE — every rule becomes one conditional sum in a
# single map-side-combined aggregation — then the wide row is unpivoted
# to one row per rule.  Adding a rule costs one expression, never a
# scan: the 100 TB cost of the whole suite is |tables| passes, same as
# the reference's single null gate (scripts/validation.py:83-91), while
# covering nulls, domains, ranges, and uniqueness together.
EXPECTATIONS: list[tuple[str, str, str]] = [
    ("orders", "orderkey_not_null", "o_orderkey IS NULL"),
    ("orders", "custkey_not_null", "o_custkey IS NULL"),
    ("orders", "totalprice_positive", "o_totalprice <= 0"),
    ("orders", "status_in_domain", "o_orderstatus NOT IN ('O','F','P')"),
    ("orders", "orderdate_in_range",
     "o_orderdate < TIMESTAMP '1995-01-01' OR o_orderdate >= TIMESTAMP '2001-01-01'"),
    ("lineitem", "orderkey_not_null", "l_orderkey IS NULL"),
    ("lineitem", "quantity_in_range", "l_quantity <= 0 OR l_quantity > 45"),
    ("lineitem", "price_non_negative", "l_extendedprice < 0"),
    ("lineitem", "returnflag_in_domain", "l_returnflag NOT IN ('A','N','R')"),
    ("customer", "custkey_not_null", "c_custkey IS NULL"),
    ("customer", "acctbal_in_range",
     "c_acctbal < 0.0"),
]

# Uniqueness is not row-local; expressed as count(*) - count(distinct key).
UNIQUE_KEYS: list[tuple[str, str, str]] = [
    ("orders", "orderkey_unique", "o_orderkey"),
    ("customer", "custkey_unique", "c_custkey"),
]


def expectation_summary(spark, sf_dir: str) -> DataFrame:
    """Evaluate the whole expectation suite; one row per rule with
    n_rows / n_violations / violation_rate / passed."""
    from data_pipeline_for_e_commerce_shop_spark.schemas import load_table

    per_table = []
    for table in sorted({t for t, _, _ in EXPECTATIONS}):
        df = load_table(spark, sf_dir, table)
        rules = [(r, p) for t, r, p in EXPECTATIONS if t == table]
        aggs = [
            F.sum(F.expr(pred).cast("long")).alias(rule)
            for rule, pred in rules
        ] + [F.count(F.lit(1)).alias("_n")]
        for t, rule, key in UNIQUE_KEYS:
            if t == table:
                aggs.append(
                    (F.count(key) - F.countDistinct(key)).alias(rule)
                )
                rules.append((rule, None))
        wide = df.agg(*aggs)
        stack = ", ".join(f"'{rule}', {rule}" for rule, _ in rules)
        long = wide.select(
            F.lit(table).alias("table_name"),
            F.expr(
                f"stack({len(rules)}, {stack}) AS (rule, n_violations)"
            ),
            F.col("_n").alias("n_rows"),
        )
        per_table.append(
            long.select(
                "table_name",
                "rule",
                F.col("n_rows").cast("long").alias("n_rows"),
                F.col("n_violations").cast("long").alias("n_violations"),
                (F.col("n_violations") / F.col("n_rows")).alias(
                    "violation_rate"
                ),
                F.when(F.col("n_violations") == 0, 1)
                .otherwise(0)
                .cast("long")
                .alias("passed"),
            )
        )
    out = per_table[0]
    for p in per_table[1:]:
        out = out.unionByName(p)
    return out
