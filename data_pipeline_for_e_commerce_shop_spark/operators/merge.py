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


def additive_merge(
    target: DataFrame,
    source: DataFrame,
    keys: list[str],
    sum_cols: list[str],
    sketch_cols: list[str] | None = None,
) -> DataFrame:
    """Accumulating upsert: matched keys ADD the source partials to the
    target's running totals (null-safe), unmatched keys insert/persist.

    This is the merge flavor incremental (streaming) aggregation needs —
    coalescing_merge's new-over-old overwrite is correct for the
    reference's per-batch full recompute, but a micro-batch carries only
    a DELTA, so totals must accumulate.  Only decomposable aggregates
    (count/sum/min/max/HLL) can ride this path; averages and ratios are
    derived from the accumulated terms at read time.

    ``sketch_cols`` are binary HLL sketch columns (``hll_sketch_agg``
    partials) merged with ``hll_union`` — the scale answer to exact
    countDistinct, whose per-key state cannot accumulate (SURVEY §4.4):
    a sketch column makes distinct-count maintenance as cheap as a sum.
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
        (
            F.coalesce(F.col(f"t.{c}"), F.lit(0))
            + F.coalesce(F.col(f"s.{c}"), F.lit(0))
        ).alias(c)
        for c in sum_cols
    ]
    for c in sketch_cols or []:
        tc, sc = F.col(f"t.{c}"), F.col(f"s.{c}")
        out_cols.append(
            F.when(tc.isNull(), sc)
            .when(sc.isNull(), tc)
            .otherwise(F.hll_union(tc, sc))
            .alias(c)
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
      or use :func:`upsert_versioned_table`, which closes this hole
      with the Delta log's compare-and-swap and a loser-retries loop.
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


def upsert_versioned_table(
    spark,
    table_path: str,
    source: DataFrame,
    keys: list[str],
    value_cols: list[str],
    provenance_col: str | None = "data_sources",
) -> int:
    """MULTI-WRITER-SAFE merge: the Delta MERGE INTO shape (reference
    scripts/helperfunction.py:110-208) on the Delta log
    (sources/delta_writer.py) instead of ``upsert_parquet_table``'s
    single-writer parquet swap.

    Optimistic concurrency, Delta-style: read the latest version,
    merge, then commit an overwrite pinned to the version read
    (``delta_writer.rewrite_delta_table``).  If another writer
    committed in between, the commit raises ``ConcurrentWriteError``
    WITHOUT publishing (exactly one writer wins each version — the
    atomic ``os.link`` of the log entry is the arbiter), and this
    writer re-reads the NEW latest version and re-merges, so no
    committed row is ever lost — the lost-update anomaly the
    plain-parquet emulation documents is closed here.  Returns the
    committed version number (0 for the first commit)."""
    from data_pipeline_for_e_commerce_shop_spark.sources.delta_writer import (
        rewrite_delta_table,
    )

    def fold(target: DataFrame | None) -> DataFrame:
        if target is None:
            return _sorted_provenance(source, provenance_col)
        return coalescing_merge(target, source, keys, value_cols, provenance_col)

    return rewrite_delta_table(spark, table_path, fold)
