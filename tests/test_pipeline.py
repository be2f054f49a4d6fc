"""End-to-end medallion pipeline: raw CSVs -> gates -> validated zone ->
KPI merge, including the violation twins from FIXTURES.md §5."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from data_pipeline_for_e_commerce_shop_spark.pipeline import MedallionPipeline
from data_pipeline_for_e_commerce_shop_spark.quality.gates import (
    DataValidationError,
)

ORDERS_CSV = """order_id,user_id,status,created_at,returned_at,shipped_at,delivered_at,num_of_item
1,10,delivered,2024-03-01 10:00:00,,2024-03-01 12:00:00,2024-03-02 10:00:00,2
2,11,returned,2024-03-01 11:00:00,2024-03-05 10:00:00,,,1
3,12,shipped,2024-03-02 09:00:00,,2024-03-02 10:00:00,,1
"""

ITEMS_CSV = """id,order_id,user_id,product_id,status,created_at,shipped_at,delivered_at,returned_at,sale_price
100,1,10,500,complete,2024-03-01 10:00:00,,,,19.99
101,1,10,501,complete,2024-03-01 10:00:00,,,,5.50
102,2,11,500,returned,2024-03-01 11:00:00,,,2024-03-05 10:00:00,19.99
103,3,12,502,shipped,2024-03-02 09:00:00,,,,7.25
"""

PRODUCTS_CSV = """id,sku,cost,category,name,brand,retail_price,department
500,SKU500,10.00,widgets,Widget,BrandA,19.99,home
501,SKU501,2.00,gadgets,Gadget,BrandB,5.50,home
502,SKU502,3.00,widgets,Widget2,BrandA,7.25,garden
"""


def _write(tmp, name, content):
    p = os.path.join(tmp, name)
    with open(p, "w") as f:
        f.write(content)
    return p


@pytest.fixture()
def raw_dir(tmp_path):
    d = str(tmp_path / "raw")
    os.makedirs(d)
    return d


def test_end_to_end_batch(spark, tmp_path, raw_dir):
    paths = {
        "orders": [_write(raw_dir, "orders_part1.csv", ORDERS_CSV)],
        "order_items": [_write(raw_dir, "order_items_part1.csv", ITEMS_CSV)],
        "products": [_write(raw_dir, "products.csv", PRODUCTS_CSV)],
    }
    pipe = MedallionPipeline(spark, str(tmp_path / "zones"))
    result = pipe.run_batch(paths)
    assert all(v == 0 for v in result.ri_violation_counts.values())

    validated = spark.read.parquet(str(tmp_path / "zones/validated/order_items"))
    assert validated.count() == 4
    # per-row dt partitioning: two distinct days (reference would have
    # collapsed everything onto first() date)
    assert validated.select("dt").distinct().count() == 2

    cat = spark.read.parquet(str(tmp_path / "zones/kpis/category"))
    rows = {
        (r["category"], str(r["order_date"])): r for r in cat.collect()
    }
    assert float(rows[("widgets", "2024-03-01")]["daily_revenue"]) == pytest.approx(39.98)
    assert rows[("widgets", "2024-03-01")]["avg_return_rate"] == pytest.approx(0.5)

    okpi = spark.read.parquet(str(tmp_path / "zones/kpis/order"))
    d1 = [r for r in okpi.collect() if str(r["order_date"]) == "2024-03-01"][0]
    assert d1["total_orders"] == 2
    assert float(d1["total_revenue"]) == pytest.approx(45.48)
    assert d1["unique_customers"] == 2
    assert sorted(d1["data_sources"]) == ["order_items", "orders"]


def test_null_gate_quarantines(spark, tmp_path, raw_dir):
    bad_orders = ORDERS_CSV + "4,,delivered,2024-03-02 10:00:00,,,,1\n"
    paths = {"orders": [_write(raw_dir, "orders_part1.csv", bad_orders)]}
    pipe = MedallionPipeline(spark, str(tmp_path / "zones"))
    df, res = pipe.validate_and_load("orders", paths["orders"])
    assert df.count() == 3  # bad row removed
    rejected = spark.read.parquet(str(tmp_path / "zones/rejected/orders"))
    assert rejected.count() == 1
    assert rejected.collect()[0]["error_type"] == "NULL_VALIDATION_ERROR"


def test_null_gate_strict_raises(spark, tmp_path, raw_dir):
    bad_orders = ORDERS_CSV + "4,,delivered,2024-03-02 10:00:00,,,,1\n"
    pipe = MedallionPipeline(spark, str(tmp_path / "zones"))
    with pytest.raises(DataValidationError) as exc:
        pipe.validate_and_load(
            "orders", [_write(raw_dir, "orders.csv", bad_orders)], strict=True
        )
    assert exc.value.error_type == "NULL_VALIDATION_ERROR"


def test_ri_gate_quarantines_orphans(spark, tmp_path, raw_dir):
    orphan_items = ITEMS_CSV + "104,999,13,500,complete,2024-03-02 10:00:00,,,,1.00\n"
    paths = {
        "orders": [_write(raw_dir, "orders_part1.csv", ORDERS_CSV)],
        "order_items": [_write(raw_dir, "order_items_part1.csv", orphan_items)],
        "products": [_write(raw_dir, "products.csv", PRODUCTS_CSV)],
    }
    pipe = MedallionPipeline(spark, str(tmp_path / "zones"))
    result = pipe.run_batch(paths)
    assert result.ri_violation_counts["order_items.order_id"] == 1
    validated = spark.read.parquet(str(tmp_path / "zones/validated/order_items"))
    assert validated.count() == 4  # orphan excluded
    rejected = spark.read.parquet(str(tmp_path / "zones/rejected/order_items"))
    assert rejected.filter(F.col("error_type") == "REFERENTIAL_ERROR").count() == 1


def test_missing_header_raises(spark, tmp_path, raw_dir):
    no_header_col = ORDERS_CSV.replace("num_of_item", "wrong_name")
    pipe = MedallionPipeline(spark, str(tmp_path / "zones"))
    with pytest.raises(DataValidationError) as exc:
        pipe.validate_and_load(
            "orders", [_write(raw_dir, "orders.csv", no_header_col)]
        )
    assert exc.value.error_type == "SCHEMA_ERROR"


def test_partial_sources_converge_to_complete(spark, tmp_path, raw_dir):
    """FIXTURES §5.5: orders-only batch then items-only batch must
    coalesce to the same KPI row a complete batch produces."""
    zones_partial = str(tmp_path / "partial")
    pipe = MedallionPipeline(spark, zones_partial)
    pipe.run_batch({"orders": [_write(raw_dir, "orders_part1.csv", ORDERS_CSV)]})
    pipe.run_batch(
        {
            "order_items": [_write(raw_dir, "order_items_part1.csv", ITEMS_CSV)],
            "products": [_write(raw_dir, "products.csv", PRODUCTS_CSV)],
        }
    )
    partial = spark.read.parquet(f"{zones_partial}/kpis/order")

    zones_full = str(tmp_path / "full")
    pipe2 = MedallionPipeline(spark, zones_full)
    pipe2.run_batch(
        {
            "orders": [_write(raw_dir, "o2.csv", ORDERS_CSV)],
            "order_items": [_write(raw_dir, "i2.csv", ITEMS_CSV)],
            "products": [_write(raw_dir, "p2.csv", PRODUCTS_CSV)],
        }
    )
    full = spark.read.parquet(f"{zones_full}/kpis/order")

    key = lambda r: str(r["order_date"])  # noqa: E731
    p = {key(r): r for r in partial.collect()}
    f_ = {key(r): r for r in full.collect()}
    assert set(p) == set(f_)
    for k in f_:
        # orders-only fields came from batch 1, revenue fields from batch 2
        assert p[k]["total_orders"] == f_[k]["total_orders"]
        assert float(p[k]["total_revenue"]) == pytest.approx(
            float(f_[k]["total_revenue"])
        )
        assert p[k]["unique_customers"] == f_[k]["unique_customers"]
        assert sorted(p[k]["data_sources"]) == ["order_items", "orders"]


def test_expectation_summary_counts_and_single_scan(spark, sf_dir):
    """Every rule row is consistent (rate = violations/rows, passed ==
    (violations == 0)), and the whole suite costs ONE scan per table —
    adding a rule must never add a pass over the data."""
    import contextlib
    import io

    from data_pipeline_for_e_commerce_shop_spark.quality.gates import (
        EXPECTATIONS,
        UNIQUE_KEYS,
        expectation_summary,
    )

    df = expectation_summary(spark, sf_dir)
    rows = df.collect()
    assert len(rows) == len(EXPECTATIONS) + len(UNIQUE_KEYS)
    for r in rows:
        assert 0 <= r["n_violations"] <= r["n_rows"]
        assert abs(r["violation_rate"] - r["n_violations"] / r["n_rows"]) < 1e-12
        assert r["passed"] == (1 if r["n_violations"] == 0 else 0)
    # plan probe: one parquet scan per distinct table in the rule set
    # (simple mode prints the tree once; formatted would repeat each
    # scan in the operator-detail and AQE initial-plan sections)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain()
    # after execution AQE prints final + initial plan; count the final only
    plan = buf.getvalue().split("== Initial Plan ==")[0]
    n_tables = len({t for t, _, _ in EXPECTATIONS})
    assert plan.count("Scan parquet") == n_tables


def test_cli_list_run_sql(capsys):
    """The CLI front door: list filters, run executes a registered
    query, sql answers ad-hoc statements over the table views."""
    from data_pipeline_for_e_commerce_shop_spark.__main__ import main

    assert main(["list", "dedup_*"]) == 0
    out = capsys.readouterr().out
    assert "dedup_exact\toracle" in out

    assert main(
        ["run", "null_gate", "--sf-dir", "/root/testdata/sf0.001",
         "--limit", "5", "--json"]
    ) == 0
    out = capsys.readouterr().out
    assert '"n_null_user"' in out or "{" in out

    assert main(
        ["sql", "SELECT COUNT(*) AS n FROM region",
         "--sf-dir", "/root/testdata/sf0.001", "--json"]
    ) == 0
    out = capsys.readouterr().out
    assert '"n":5' in out.replace(" ", "")

    assert main(["run", "no_such_query"]) == 2


# One batch with a row for every gate: a corrupt record and a null in a
# gated column (orders and items), an order_id orphan, a product_id
# orphan and a row orphaned on both foreign keys.
DEFECT_ORDERS_CSV = ORDERS_CSV + (
    "notanint,13,shipped,2024-03-02 09:00:00,,,,1\n"
    "4,,shipped,2024-03-02 09:00:00,,,,1\n"
)
DEFECT_ITEMS_CSV = ITEMS_CSV + (
    "104,999,13,500,complete,2024-03-02 10:00:00,,,,1.00\n"
    "105,3,12,888,complete,2024-03-02 10:00:00,,,,2.00\n"
    "106,998,13,887,complete,2024-03-02 10:00:00,,,,3.00\n"
    "107,1,10,500,complete,2024-03-01 10:00:00,,,,notaprice\n"
    "108,1,10,,complete,2024-03-01 10:00:00,,,,4.00\n"
)


def _defect_batch(raw_dir):
    return {
        "orders": [_write(raw_dir, "orders_part1.csv", DEFECT_ORDERS_CSV)],
        "order_items": [_write(raw_dir, "order_items_part1.csv", DEFECT_ITEMS_CSV)],
        "products": [_write(raw_dir, "products.csv", PRODUCTS_CSV)],
    }


def test_gates_land_every_row_exactly_once(spark, tmp_path, raw_dir, monkeypatch):
    """Each input row ends up once in validated ∪ rejected, tagged with
    the first gate it failed (FK order decides between orphan
    reasons); the counts come from the quarantine writes themselves."""
    from collections import Counter

    from data_pipeline_for_e_commerce_shop_spark import pipeline as pl

    def no_count_job(*args, **kwargs):
        raise AssertionError("the non-strict gates must not run a count job")

    monkeypatch.setattr(pl, "null_violation_counts", no_count_job)
    zones = str(tmp_path / "zones")
    result = MedallionPipeline(spark, zones).run_batch(_defect_batch(raw_dir))
    assert result.null_counts == {"orders.user_id": 1, "order_items.product_id": 1}
    assert result.ri_violation_counts == {
        "order_items.order_id": 2,
        "order_items.product_id": 1,
    }

    keys = {"orders": "order_id", "order_items": "id", "products": "id"}
    expected = {
        "orders": [(1, None), (2, None), (3, None), (None, "SCHEMA_ERROR"),
                   (4, "NULL_VALIDATION_ERROR")],
        "order_items": [(100, None), (101, None), (102, None), (103, None),
                        (104, "REFERENTIAL_ERROR"), (105, "REFERENTIAL_ERROR"),
                        (106, "REFERENTIAL_ERROR"), (107, "SCHEMA_ERROR"),
                        (108, "NULL_VALIDATION_ERROR")],
        "products": [(500, None), (501, None), (502, None)],
    }
    for entity, key in keys.items():
        landed = [
            (r[key], None)
            for r in spark.read.parquet(f"{zones}/validated/{entity}").collect()
        ]
        rejected_dir = f"{zones}/rejected/{entity}"
        rejected = []
        if any(f.endswith(".parquet") for f in os.listdir(rejected_dir)):
            rejected = spark.read.parquet(rejected_dir).collect()
        landed += [(r[key], r["error_type"]) for r in rejected]
        assert Counter(landed) == Counter(expected[entity]), entity

    items = {
        r["id"]: r["reason"]
        for r in spark.read.parquet(f"{zones}/rejected/order_items").collect()
    }
    assert items[104] == items[106] == "orphaned order_id"
    assert items[105] == "orphaned product_id"
    assert items[108] == "nulls in required columns [product_id]"
    orders = spark.read.parquet(f"{zones}/rejected/orders").collect()
    corrupt = [r for r in orders if r["error_type"] == "SCHEMA_ERROR"]
    assert corrupt[0]["_corrupt_record"].startswith("notanint,13,")


def test_quarantine_files_share_one_schema_per_entity(spark, tmp_path, raw_dir):
    """Every write to rejected/<entity> carries the same columns, so a
    plain parquet read of the directory never drops one (a footer
    without _corrupt_record that sorts first would hide it)."""
    import glob

    import pyarrow.parquet as pq

    zones = str(tmp_path / "zones")
    MedallionPipeline(spark, zones).run_batch(_defect_batch(raw_dir))
    for entity in ("orders", "order_items"):
        files = glob.glob(f"{zones}/rejected/{entity}/*.parquet")
        schemas = {str(pq.read_schema(f).remove_metadata()) for f in files}
        assert len(schemas) == 1, (entity, schemas)
        cols = pq.read_schema(files[0]).names
        assert cols[-4:] == ["_corrupt_record", "reason", "error_type", "rejected_at"]


def test_batch_releases_its_cached_scans(spark, tmp_path, raw_dir, monkeypatch):
    """run_batch unpersists the scans it cached, also when it raises."""
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    pipe = MedallionPipeline(spark, str(tmp_path / "zones"))
    pipe.run_batch(_defect_batch(raw_dir))
    assert cache.isEmpty()

    def boom(self, category_kpis, order_kpis):
        raise RuntimeError("merge failed")

    monkeypatch.setattr(MedallionPipeline, "upsert_kpis", boom)
    with pytest.raises(RuntimeError, match="merge failed"):
        pipe.run_batch(_defect_batch(raw_dir))
    assert cache.isEmpty()


def test_kpis_read_only_the_batch_products(spark, tmp_path, raw_dir):
    """Products land under the wall date; a batch on a later date must
    not join an earlier product snapshot into its category KPIs."""
    zones = str(tmp_path / "zones")
    pipe = MedallionPipeline(spark, zones)
    pipe.run_batch(
        {
            "order_items": [_write(raw_dir, "order_items_part1.csv", ITEMS_CSV)],
            "products": [_write(raw_dir, "products.csv", PRODUCTS_CSV)],
        }
    )
    products = f"{zones}/validated/products"
    (snapshot,) = [d for d in os.listdir(products) if d.startswith("dt=")]
    os.rename(f"{products}/{snapshot}", f"{products}/dt=2000-01-01")
    pipe.run_batch(
        {
            "order_items": [_write(raw_dir, "i2.csv", ITEMS_CSV)],
            "products": [_write(raw_dir, "p2.csv", PRODUCTS_CSV)],
        }
    )
    cat = spark.read.parquet(f"{zones}/kpis/category")
    rows = {(r["category"], str(r["order_date"])): r for r in cat.collect()}
    assert float(rows[("widgets", "2024-03-01")]["daily_revenue"]) == pytest.approx(39.98)
    assert float(rows[("gadgets", "2024-03-01")]["daily_revenue"]) == pytest.approx(5.50)


def _next_job_id(spark) -> int:
    """The id the scheduler gives the next job: ids are sequential, so
    the jobs started between two reads are the range between them."""
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def test_batch_jobs_are_pinned_and_in_the_callers_group(spark, tmp_path, raw_dir):
    """A warm batch into existing KPI tables runs a fixed number of
    Spark jobs, and every one of them lands in the caller's job group:
    the wave threads carry the caller's local properties."""
    import uuid

    sc = spark.sparkContext
    pipe = MedallionPipeline(spark, str(tmp_path / "zones"))
    pipe.run_batch(_defect_batch(raw_dir))  # creates the KPI tables
    group = f"batch-{uuid.uuid4().hex}"
    before = _next_job_id(spark)
    sc.setJobGroup(group, group)
    try:
        pipe.run_batch(_defect_batch(raw_dir))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    new = set(range(before, _next_job_id(spark)))
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert new == set(sc.statusTracker().getJobIdsForGroup(group))
    # 27 with the validated writes one at a time: run together, the
    # order_items write joins the orders cache while it is being filled,
    # and AQE materialises that cache in a job of its own
    assert len(new) == 28


def test_warm_batch_compiles_only_its_quarantine_writes(spark, tmp_path, raw_dir):
    """Warm batches into existing KPI tables find their generated
    classes in the session's codegen cache, except the 8 of the
    quarantine writes: ``rejected_at``'s ``current_timestamp()`` is
    folded into a long literal in each write's generated source, so
    every batch has new source there.  The first warm batches may also
    compile a plan variant not seen before (the waves run concurrently,
    and plans have varied between batches); once seen, it is cached
    too.  With Spark's 100 entries each of these batches compiled
    97-103 classes."""
    from tests.plan_utils import compiled_classes

    pipe = MedallionPipeline(spark, str(tmp_path / "zones"))
    pipe.run_batch(_defect_batch(raw_dir))  # creates the KPI tables
    counts = []
    for _ in range(5):
        before = compiled_classes(spark)
        pipe.run_batch(_defect_batch(raw_dir))
        counts.append(compiled_classes(spark) - before)
    assert min(counts) == 8, counts


def test_failed_merge_waits_for_its_sibling(spark, tmp_path, raw_dir, monkeypatch):
    """A merge that raises inside the KPI wave: run_batch raises it only
    after the other merge has ended, releases the cache, leaves no
    staging debris, and a retry of the batch converges to one clean run."""
    from data_pipeline_for_e_commerce_shop_spark import pipeline as pl

    real_upsert = pl.upsert_parquet_table

    def failing_upsert(spark_, table_path, *args, **kwargs):
        if table_path.endswith("/kpis/category"):
            raise RuntimeError("category merge failed")
        return real_upsert(spark_, table_path, *args, **kwargs)

    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    zones = str(tmp_path / "zones")
    pipe = MedallionPipeline(spark, zones)
    monkeypatch.setattr(pl, "upsert_parquet_table", failing_upsert)
    with pytest.raises(RuntimeError, match="category merge failed"):
        pipe.run_batch(_defect_batch(raw_dir))
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert sc.statusTracker().getActiveJobsIds() == []
    assert cache.isEmpty()
    assert os.listdir(f"{zones}/kpis") == ["order"]

    monkeypatch.undo()
    pipe.run_batch(_defect_batch(raw_dir))
    clean = str(tmp_path / "clean")
    MedallionPipeline(spark, clean).run_batch(_defect_batch(raw_dir))
    for table in ("category", "order"):
        retried = spark.read.parquet(f"{zones}/kpis/{table}").collect()
        once = spark.read.parquet(f"{clean}/kpis/{table}").collect()
        assert sorted(retried) == sorted(once), table
