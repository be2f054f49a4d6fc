"""Medallion pipeline runner — the reference's two Spark jobs
(validation + transformation) as one coherent, distributed-correct flow.

Reference lifecycle (SURVEY §3): raw CSVs -> validation job (null gate,
RI gate, write Delta partitioned by dt) -> transformation job (star
join, category/order KPIs, DynamoDB coalescing upsert).

This runner re-expresses it:
raw CSVs --schema+null gates, then RI gate--> quarantine or validated
parquet (partitioned by per-row dt, dynamic overwrite); the gated
batch --star join + aggs--> KPI DataFrames --coalescing merge-->
serving tables.  Each gate tags a rejected row with its reason instead
of branching on counts: one quarantine write per entity and stage,
whose ``DataFrame.observe`` metrics are the gate counts.

No write of a batch reads another's output, and at this size a
write's cost is its fixed planning and commit time, so ``run_batch``
runs them in three concurrent waves, each ending
before the next starts: the gates of every entity, then (after the RI
gate) the validated writes, then the two KPI merges.  A wave is safe
because every write in it goes to its own path, each KPI table keeps
a single writer (``sinks.swap_parquet`` only clears debris named after
its own table), and a wave raises only after every sibling has ended,
so nothing is unpersisted or retried under a running write.

Differences from the reference, by design (SURVEY §4.3):
- per-row ``dt = to_date(created_at)`` instead of one batch date from
  ``first()`` (reference scripts/validation.py:191);
- RI violations quarantined as rows, not printed;
- partition-scoped dynamic overwrite instead of whole-table overwrite;
- set-based MERGE instead of per-row get_item/put_item.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from functools import partial

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from data_pipeline_for_e_commerce_shop_spark.functions.scalars import event_date, ratio
from data_pipeline_for_e_commerce_shop_spark.operators.merge import upsert_parquet_table
from data_pipeline_for_e_commerce_shop_spark.quality.gates import (
    NULL_VALIDATION_ERROR,
    REFERENTIAL_ERROR,
    SCHEMA_ERROR,
    DataValidationError,
    null_violation_counts,
    ri_violations,  # noqa: F401  (perfbench traces it here)
)
from data_pipeline_for_e_commerce_shop_spark.schemas import (
    ENTITY_SCHEMAS,
    FOREIGN_KEYS,
    NON_NULL_COLUMNS,
    REQUIRED_COLUMNS,
)
from data_pipeline_for_e_commerce_shop_spark.sources.readers import (
    CORRUPT_COL,
    read_csv_entity,
    schema_probe,
)
from data_pipeline_for_e_commerce_shop_spark.sources.sinks import (
    write_partitioned,
    write_quarantine,
)


@dataclass
class ValidationResult:
    null_counts: dict = field(default_factory=dict)
    ri_violation_counts: dict = field(default_factory=dict)


class MedallionPipeline:
    """raw -> validated -> KPI zones rooted at ``base_dir``."""

    def __init__(self, spark: SparkSession, base_dir: str):
        self.spark = spark
        self.base = base_dir
        self._cached: list[DataFrame] = []

    # ---------------------------------------------------- validation

    def validate_and_load(
        self, entity: str, paths: list[str], strict: bool = False
    ) -> tuple[DataFrame, ValidationResult]:
        """Schema + null gates for one entity (reference
        scripts/validation.py:145-199).

        A corrupt CSV record is tagged ``SCHEMA_ERROR``, else a row with
        nulls in gated columns ``NULL_VALIDATION_ERROR`` (the columns in
        ``reason``); rejects are quarantined, the rest returned.  Strict
        mode reproduces the reference's fail-the-batch behavior with a
        typed DataValidationError, raised before anything is written.
        The scan stays cached until :meth:`run_batch` returns.
        """
        schema = ENTITY_SCHEMAS[entity]
        # Header gate against the ACTUAL file header (S8 schema probe —
        # reading with an imposed schema would mask missing columns;
        # the reference peeks the first line, lambda/s3_validation.py:53-56).
        for p in [paths] if isinstance(paths, str) else paths:
            actual = set(schema_probe(p))
            missing = REQUIRED_COLUMNS[entity] - actual
            if missing:
                raise DataValidationError(
                    SCHEMA_ERROR,
                    f"{entity}: {p} missing columns {sorted(missing)}",
                )
        # Cache the parsed scan: Spark requires it to query
        # _corrupt_record, and the quarantine write and the RI gate
        # both read the batch.
        scan = self._cache(read_csv_entity(self.spark, paths, schema))

        gated = NON_NULL_COLUMNS[entity]
        if strict:
            clean = scan.where(F.col(CORRUPT_COL).isNull())
            nulls = {c: n for c, n in null_violation_counts(clean, gated).items() if n}
            if nulls:
                raise DataValidationError(
                    NULL_VALIDATION_ERROR, f"{entity}: nulls in {nulls}"
                )
        corrupt = F.col(CORRUPT_COL).isNotNull()
        null_cols = F.concat_ws(", ", *[F.when(F.col(c).isNull(), c) for c in gated])
        has_null = null_cols != ""
        tagged = scan.select(
            "*",
            F.when(corrupt, "corrupt csv record")
            .when(has_null, F.format_string("nulls in required columns [%s]", null_cols))
            .alias("reason"),
            F.when(corrupt, SCHEMA_ERROR)
            .when(has_null, NULL_VALIDATION_ERROR)
            .alias("error_type"),
        )
        null_reject = F.col("error_type") == NULL_VALIDATION_ERROR
        df, observed = self._gate(
            entity,
            tagged,
            [F.count(F.when(null_reject & F.col(c).isNull(), True)).alias(c) for c in gated],
        )
        nulls = {c: n for c, n in observed.items() if n}
        return df, ValidationResult(null_counts=nulls)

    def enforce_referential_integrity(
        self, dfs: dict[str, DataFrame]
    ) -> tuple[dict[str, DataFrame], dict[str, int]]:
        """FK gates as left joins on each parent's distinct keys
        (reference scripts/validation.py:94-118 via collect+isin —
        SURVEY §4.3).  A child row is tagged with its first missing
        parent in ``FOREIGN_KEYS`` order and quarantined.  Returns the
        surviving rows (FK closure) + violation counts."""
        counts: dict[str, int] = {}
        out = dict(dfs)
        for child in dict.fromkeys(c for c, *_ in FOREIGN_KEYS if c in dfs):
            fks = [(k, p, pk) for c, k, p, pk in FOREIGN_KEYS if c == child and p in dfs]
            if not fks:
                continue
            tagged, orphan = out[child], []
            for i, (ckey, parent, pkey) in enumerate(fks):
                found = f"_parent_{i}"
                keys = out[parent].select(F.col(pkey).alias(found)).distinct()
                tagged = tagged.join(keys, F.col(ckey) == F.col(found), "left")
                orphan.append(F.when(F.col(found).isNull(), f"orphaned {ckey}"))
            reason = F.coalesce(*orphan)
            out[child], observed = self._gate(
                child,
                tagged.select(
                    "*",
                    F.lit(None).cast("string").alias(CORRUPT_COL),
                    reason.alias("reason"),
                    F.when(reason.isNotNull(), REFERENTIAL_ERROR).alias("error_type"),
                ),
                [
                    F.count(F.when(F.col("reason") == f"orphaned {ckey}", True))
                    .alias(f"{child}.{ckey}")
                    for ckey, _, _ in fks
                ],
            )
            counts.update(observed)
        return out, counts

    def _gate(
        self, entity: str, tagged: DataFrame, metrics: list
    ) -> tuple[DataFrame, dict[str, int]]:
        """One write of the rows of ``tagged`` that carry an
        ``error_type`` to ``rejected/<entity>``, always with the same
        columns (the entity's, ``_corrupt_record``, ``reason``,
        ``error_type``); returns the other rows and ``metrics``,
        observed on that write."""
        cols = ENTITY_SCHEMAS[entity].fieldNames()
        obs = Observation()
        rejects = (
            tagged.where(F.col("error_type").isNotNull())
            .select(*cols, CORRUPT_COL, "reason", "error_type")
            .observe(obs, *metrics)
        )
        path = f"{self.base}/rejected/{entity}"
        write_quarantine(rejects, path)
        passed = tagged.where(F.col("error_type").isNull()).select(*cols)
        return passed, {k: int(v) for k, v in obs.get.items()}

    def write_validated(self, entity: str, df: DataFrame) -> str:
        """Validated zone write: per-row dt partition, dynamic overwrite
        (fixes reference whole-table overwrite, scripts/validation.py:129)."""
        ts_col = "created_at" if "created_at" in df.columns else None
        out = df.withColumn(
            "dt",
            event_date(ts_col) if ts_col else F.current_date(),
        )
        path = f"{self.base}/validated/{entity}"
        write_partitioned(out, path)
        return path

    # ------------------------------------------------ transformation

    def compute_category_kpis(
        self, items: DataFrame, products: DataFrame
    ) -> DataFrame:
        """Category KPIs (reference transformation.py:187-191): works
        with or without orders present (J3 partial-data branch)."""
        n = F.count(F.lit(1))
        return (
            items.alias("oi")
            .join(
                F.broadcast(products.alias("p")),
                F.col("oi.product_id") == F.col("p.id"),
            )
            .where(F.col("p.category").isNotNull())
            .groupBy(
                F.col("p.category").alias("category"),
                event_date(F.col("oi.created_at")).alias("order_date"),
            )
            .agg(
                F.sum("oi.sale_price").alias("daily_revenue"),
                F.avg("oi.sale_price").alias("avg_order_value"),
                ratio(
                    F.count(F.when(F.col("oi.status") == "returned", True)), n
                ).alias("avg_return_rate"),
            )
            .withColumn("data_sources", F.array(F.lit("order_items")))
        )

    def compute_order_kpis(
        self, orders: DataFrame | None, items: DataFrame | None
    ) -> DataFrame:
        """Order KPIs with the reference's partial-source branch matrix
        (transformation.py:177-248) folded into nullable columns: each
        side fills what it knows; the merge coalesces."""
        if items is not None and orders is not None:
            joined = orders.alias("o").join(
                items.alias("oi"), F.col("o.order_id") == F.col("oi.order_id")
            )
            n = F.count(F.lit(1))
            return (
                joined.groupBy(
                    event_date(F.col("o.created_at")).alias("order_date")
                )
                .agg(
                    F.countDistinct("o.order_id").alias("total_orders"),
                    F.sum("oi.sale_price").alias("total_revenue"),
                    F.count("oi.id").alias("total_items_sold"),
                    ratio(
                        F.count(F.when(F.col("oi.status") == "returned", True)),
                        F.count("oi.id"),
                    ).alias("return_rate"),
                    F.countDistinct("o.user_id").alias("unique_customers"),
                )
                .withColumn(
                    "data_sources", F.array(F.lit("orders"), F.lit("order_items"))
                )
            )
        if items is not None:  # order_items_only (transformation.py:211-233)
            return (
                items.groupBy(event_date("created_at").alias("order_date"))
                .agg(
                    F.sum("sale_price").alias("total_revenue"),
                    F.count("id").alias("total_items_sold"),
                    ratio(
                        F.count(F.when(F.col("status") == "returned", True)),
                        F.count("id"),
                    ).alias("return_rate"),
                )
                .withColumn("total_orders", F.lit(None).cast("long"))
                .withColumn("unique_customers", F.lit(None).cast("long"))
                .withColumn("data_sources", F.array(F.lit("order_items")))
            )
        if orders is not None:  # orders_only (transformation.py:238-246)
            return (
                orders.groupBy(event_date("created_at").alias("order_date"))
                .agg(
                    F.countDistinct("order_id").alias("total_orders"),
                    F.countDistinct("user_id").alias("unique_customers"),
                )
                .withColumn("total_revenue", F.lit(None).cast("decimal(22,2)"))
                .withColumn("total_items_sold", F.lit(None).cast("long"))
                .withColumn("return_rate", F.lit(None).cast("double"))
                .withColumn("data_sources", F.array(F.lit("orders")))
            )
        raise DataValidationError("UNKNOWN", "no sources available")

    def upsert_kpis(self, category_kpis, order_kpis) -> None:
        """Serving-zone coalescing merge (reference
        helperfunction.py:53-208 -> operators/merge.py); the category
        and order tables merge at once."""
        merges = []
        if category_kpis is not None:
            merges.append(partial(
                upsert_parquet_table,
                self.spark,
                f"{self.base}/kpis/category",
                category_kpis,
                keys=["category", "order_date"],
                value_cols=["daily_revenue", "avg_order_value", "avg_return_rate"],
            ))
        if order_kpis is not None:
            merges.append(partial(
                upsert_parquet_table,
                self.spark,
                f"{self.base}/kpis/order",
                order_kpis,
                keys=["order_date"],
                value_cols=[
                    "total_orders",
                    "total_revenue",
                    "total_items_sold",
                    "return_rate",
                    "unique_customers",
                ],
            ))
        _together(self.spark, merges)

    # ------------------------------------------------------ end-to-end

    def run_batch(self, paths: dict[str, list[str]]) -> ValidationResult:
        """Full batch: validate every provided entity, enforce RI,
        write validated zone, compute+merge KPIs from the gated batch
        (the reference's transformation input: its validated table
        holds exactly the batch).  Entities absent from ``paths``
        exercise the reference's partial-source branches.

        The writes run in three waves (module docstring): the gates of
        every entity at once; the RI gate on this thread, then every
        validated write at once; the two KPI merges at once.  Each
        wave's writes go to distinct paths, and a wave ends only when
        all of them have, raising the first error after that.  The
        batch's cached frames are released on the way out, raised or
        not, and never under a running write."""
        result = ValidationResult()
        try:
            gates = [partial(self.validate_and_load, e, p) for e, p in paths.items()]
            dfs: dict[str, DataFrame] = {}
            for entity, (df, res) in zip(paths, _together(self.spark, gates)):
                dfs[entity] = df
                result.null_counts.update(
                    {f"{entity}.{c}": n for c, n in res.null_counts.items()}
                )
            dfs, result.ri_violation_counts = self.enforce_referential_integrity(dfs)
            # the validated writes fill the cache, the KPIs read it
            dfs = {entity: self._cache(df) for entity, df in dfs.items()}
            _together(
                self.spark, [partial(self.write_validated, e, df) for e, df in dfs.items()]
            )

            orders, items, products = map(dfs.get, ("orders", "order_items", "products"))
            cat = (
                self.compute_category_kpis(items, products)
                if items is not None and products is not None
                else None
            )
            okpi = (
                self.compute_order_kpis(orders, items)
                if orders is not None or items is not None
                else None
            )
            self.upsert_kpis(cat, okpi)
        finally:
            for df in self._cached:
                df.unpersist()
            self._cached.clear()
        return result

    def _cache(self, df: DataFrame) -> DataFrame:
        """``df.cache()``, released when :meth:`run_batch` returns."""
        self._cached.append(df.cache())
        return df


def _together(spark: SparkSession, thunks: list) -> list:
    """Run ``thunks`` at once, each on a worker thread that carries the
    caller's Spark local properties (its job group too, so jobs by
    group stay complete), and return their results in order.  Returns
    only when every thunk has ended, then raises the first error in
    ``thunks`` order: a raise never leaves a sibling running."""
    if not thunks:
        return []
    with ThreadPoolExecutor(max_workers=min(len(thunks), 3)) as pool:
        # one wrapper per thunk, so each thread gets its own copy of the
        # properties: each write sets its SQL execution id in them
        futures = [pool.submit(inheritable_thread_target(spark)(t)) for t in thunks]
    return [f.result() for f in futures]
