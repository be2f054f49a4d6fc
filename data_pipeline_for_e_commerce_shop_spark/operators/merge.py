"""Coalescing KPI merge — the reference's most intricate operator
(SURVEY §2.10), as ONE set-based relational statement.

Reference: ``upsert_order_kpi_batch`` / ``upsert_category_kpi_batch``
(scripts/helperfunction.py:53-208) do, per key, a DynamoDB ``get_item``
(N+1 point lookups), field-wise coalesce of new-over-old, provenance
array dedup-append, then batched puts.  The three partial-source branches
(complete / orders_only / order_items_only,
scripts/transformation.py:177-248) differ only in WHICH source columns
are null — so a single coalesce-merge covers the whole branch matrix.

Spark mapping: with a MERGE-capable table format this is one
``MERGE INTO ... WHEN MATCHED UPDATE SET c = coalesce(s.c, t.c)``.
No delta-spark runtime ships here, so the identical algebra is a
full-outer join + coalesce projection, which is also exactly what the
oracle SQL checks.  Properties (tested in tests/test_merge.py):

- idempotent: merging the same batch twice converges;
- partial-then-complete == complete (coalesce column-wise);
- provenance = array_distinct(array_union(old, new)), order-normalized.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def coalescing_merge(
    target: DataFrame,
    source: DataFrame,
    keys: list[str],
    value_cols: list[str],
    provenance_col: str | None = "data_sources",
) -> DataFrame:
    """New-over-old coalescing upsert, set-based.

    Returns the merged table: matched keys take source values where
    non-null (preserving target values where the source is a partial
    batch), unmatched source keys insert, unmatched target keys persist.
    """
    t = target.alias("t")
    s = source.alias("s")
    cond = reduce(
        lambda a, b: a & b,
        [F.col(f"t.{k}").eqNullSafe(F.col(f"s.{k}")) for k in keys],
    )
    joined = t.join(s, cond, "full_outer")
    out_cols = [
        F.coalesce(F.col(f"s.{k}"), F.col(f"t.{k}")).alias(k) for k in keys
    ] + [
        F.coalesce(F.col(f"s.{c}"), F.col(f"t.{c}")).alias(c) for c in value_cols
    ]
    if provenance_col:
        out_cols.append(
            F.array_sort(
                F.array_distinct(
                    F.concat(
                        F.coalesce(F.col(f"t.{provenance_col}"), F.array()),
                        F.coalesce(F.col(f"s.{provenance_col}"), F.array()),
                    )
                )
            ).alias(provenance_col)
        )
    return joined.select(*out_cols)


def _sorted_provenance(source: DataFrame, provenance_col: str | None) -> DataFrame:
    """A first write's provenance arrays, normalized as the merge's are."""
    if not provenance_col:
        return source
    return source.withColumn(
        provenance_col, F.array_sort(F.array_distinct(F.col(provenance_col)))
    )


def upsert_parquet_table(
    spark,
    table_path: str,
    source: DataFrame,
    keys: list[str],
    value_cols: list[str],
    provenance_col: str | None = "data_sources",
) -> None:
    """S7/S11: merge into a parquet-backed serving table, creating it if
    absent (reference table autovivification,
    scripts/transformation.py:57-77).  Production: Delta MERGE INTO
    (reference scripts/helperfunction.py:110-208).  The medallion KPI
    serving tables stay plain parquet, so the merge is emulated here.
    The target is read with the source's schema, so a merge infers no
    schema (a swap writes new files every time, so no footer memo could
    serve it).  Returns nothing: callers read the table when they need it.

    ATOMICITY BOUNDARY (what the emulation does and does not give):

    - Crash safety: the merged result is promoted with
      ``sinks.swap_parquet`` (stage to a sibling, rename the original
      aside, promote, drop the backup).  A crash at any step leaves a
      complete copy at the primary path or at the ``__upsert_bak_*``
      sibling, and the next upsert puts a lone backup back in place
      before it reads the table.
    - Single concurrent writer PER TABLE: swaps of sibling tables may
      run at once (each clears only debris named after its own table;
      the medallion KPI merges do), but there is no commit log, so two
      simultaneous upserts of one table race read-modify-write and the
      slower one silently drops the faster one's rows (lost update),
      exactly the anomaly Delta's optimistic concurrency rejects with a
      conflict.
      Callers must serialize writers per table (the streaming runner's
      single-flight FIFO claim, streaming/runner.py, is that lock) —
      or keep the table on the Delta log and fold with
      :func:`coalescing_merge` through
      ``delta_writer.rewrite_delta_table``, whose compare-and-swap and
      loser-retries loop close this hole.
    - Readers during the swap window can catch the path between the
      two renames and see a missing directory; Delta readers never do.

    These limits are asserted by tests/test_merge.py
    (test_upsert_crash_window_keeps_a_copy,
    test_upsert_concurrent_writer_boundary,
    test_concurrent_sibling_swaps_keep_every_key).
    """
    import os

    from data_pipeline_for_e_commerce_shop_spark.sources.sinks import (
        swap_parquet,
    )

    def build():
        if os.path.isdir(table_path) and any(
            f.endswith(".parquet") for f in os.listdir(table_path)
        ):
            # the table was written from a frame of the source's schema,
            # and parquet resolves columns by name: no inference job
            target = spark.read.schema(source.schema).parquet(table_path)
            return coalescing_merge(
                target, source, keys, value_cols, provenance_col
            ).write
        return _sorted_provenance(source, provenance_col).write

    swap_parquet(table_path, build, "upsert")

