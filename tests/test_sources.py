"""Source/sink operators: polymorphic dispatch, multipart scan,
dynamic partition overwrite, quarantine provenance."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from data_pipeline_for_e_commerce_shop_spark.schemas import ORDERS_SCHEMA
from data_pipeline_for_e_commerce_shop_spark.sources.readers import (
    read_csv_entity,
    read_multipart,
    read_polymorphic,
    schema_probe,
    union_by_name,
)
from data_pipeline_for_e_commerce_shop_spark.sources.sinks import (
    write_partitioned,
    write_quarantine,
)

CSV = """order_id,user_id,status,created_at,returned_at,shipped_at,delivered_at,num_of_item
1,10,delivered,2024-03-01 10:00:00,,,,2
2,11,shipped,2024-03-02 11:00:00,,,,1
"""
CSV2 = """order_id,user_id,status,created_at,returned_at,shipped_at,delivered_at,num_of_item
3,12,delivered,2024-03-03 10:00:00,,,,1
"""


def test_multipart_single_relation(spark, tmp_path):
    """S4: N part files -> ONE scan node (no N-way union plan)."""
    p1, p2 = str(tmp_path / "a.csv"), str(tmp_path / "b.csv")
    open(p1, "w").write(CSV)
    open(p2, "w").write(CSV2)
    df = read_multipart(spark, [p1, p2], ORDERS_SCHEMA)
    assert df.count() == 3
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "Union" not in plan  # single multi-path relation


def test_union_by_name_schema_drift(spark, tmp_path):
    a = spark.createDataFrame([(1, "x")], "id long, s string")
    b = spark.createDataFrame([("y", 2)], "s string, id long")  # reordered
    out = union_by_name([a, b])
    assert {(r["id"], r["s"]) for r in out.collect()} == {(1, "x"), (2, "y")}


def test_polymorphic_reader_dispatch(spark, tmp_path):
    """S3: explicit format probe, not exception-driven fallback
    (reference scripts/validation.py:51-64)."""
    csv_path = str(tmp_path / "raw.csv")
    open(csv_path, "w").write(CSV)
    pq_path = str(tmp_path / "table_pq")
    read_csv_entity(spark, csv_path, ORDERS_SCHEMA, capture_corrupt=False).write.parquet(
        pq_path
    )
    from_csv = read_polymorphic(spark, csv_path, ORDERS_SCHEMA)
    from_pq = read_polymorphic(spark, pq_path, ORDERS_SCHEMA)
    assert from_csv.count() == 2
    assert from_pq.count() == 2
    assert "order_id" in from_pq.columns


def test_schema_probe_reads_actual_header(tmp_path):
    p = str(tmp_path / "probe.csv")
    open(p, "w").write("colA,colB\n1,2\n")
    assert schema_probe(p) == ["colA", "colB"]


def test_schema_probe_quoted_field_and_bom(tmp_path):
    """A quoted header field keeps its comma; a UTF-8 BOM is not part
    of the first column's name."""
    p = str(tmp_path / "probe.csv")
    open(p, "w", encoding="utf-8-sig").write('order_id,"user, id",status\n1,2,x\n')
    assert schema_probe(p) == ["order_id", "user, id", "status"]


def test_schema_probe_empty_file_fails_the_header_gate(spark, tmp_path):
    from data_pipeline_for_e_commerce_shop_spark.pipeline import MedallionPipeline
    from data_pipeline_for_e_commerce_shop_spark.quality.gates import (
        DataValidationError,
    )

    p = tmp_path / "orders.csv"
    p.write_text("")
    assert schema_probe(str(p)) == []
    pipe = MedallionPipeline(spark, str(tmp_path / "zones"))
    with pytest.raises(DataValidationError, match="missing columns"):
        pipe.validate_and_load("orders", [str(p)])


def test_dynamic_partition_overwrite(spark, tmp_path):
    """S5: rewriting one partition must NOT clobber the others
    (the reference's whole-table overwrite bug, SURVEY §4.3)."""
    path = str(tmp_path / "table")
    d1 = spark.createDataFrame([(1, "2024-03-01"), (2, "2024-03-02")], "id long, dt string")
    write_partitioned(d1, path)
    # second batch touches only dt=2024-03-02 with a new row
    d2 = spark.createDataFrame([(99, "2024-03-02")], "id long, dt string")
    write_partitioned(d2, path)
    out = spark.read.parquet(path)
    # partition-column type inference may surface dt as date — normalize
    got = {(r["id"], str(r["dt"])) for r in out.collect()}
    assert got == {(1, "2024-03-01"), (99, "2024-03-02")}  # 03-01 preserved


def test_quarantine_provenance_columns(spark, tmp_path):
    path = str(tmp_path / "rejected")
    bad = spark.createDataFrame([(1, "junk")], "id long, raw string")
    write_quarantine(bad, path, reason="bad row", error_type="SCHEMA_ERROR")
    out = spark.read.parquet(path).collect()[0]
    assert out["reason"] == "bad row"
    assert out["error_type"] == "SCHEMA_ERROR"
    assert out["rejected_at"] is not None


def test_alert_file_name_is_stable_across_processes(tmp_path):
    """The same alert written from two processes with different str
    hash salts lands in ONE file: a retried alert is not duplicated."""
    import os
    import subprocess
    import sys

    code = (
        "import sys\n"
        "from data_pipeline_for_e_commerce_shop_spark.sources.sinks"
        " import write_alert\n"
        "write_alert(sys.argv[1], {'batch_id': 'b1', 'reason': 'null_key',"
        " 'n_rows': 3})\n"
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    for seed in ("1", "2"):
        subprocess.run(
            [sys.executable, "-c", code, str(tmp_path)],
            check=True,
            cwd=repo,
            env={**os.environ, "PYTHONHASHSEED": seed},
        )
    assert len(os.listdir(tmp_path)) == 1


def test_normalize_path():
    """P10/F10: scheme rewrite + URL-decode, pre-plan (reference
    scripts/transformation.py:18-27, lambda/s3_validation.py:44)."""
    from data_pipeline_for_e_commerce_shop_spark.sources.readers import (
        normalize_path,
    )

    assert normalize_path("s3://b/raw/orders_part1.csv") == "s3a://b/raw/orders_part1.csv"
    assert normalize_path("s3://b/raw/my%20file+x.csv") == "s3a://b/raw/my file x.csv"
    assert normalize_path("/local/path.csv") == "/local/path.csv"
    # Local paths with literal '+'/'%XX' must pass through untouched —
    # only S3 event-notification keys are form-encoded.
    assert normalize_path("/local/a+b.csv") == "/local/a+b.csv"
    assert normalize_path("/local/100%20.csv") == "/local/100%20.csv"


def test_compaction_reduces_files_preserves_rows(spark, tmp_path, sf_dir):
    import glob

    from data_pipeline_for_e_commerce_shop_spark.sources.sinks import (
        compact_table,
    )

    tbl = str(tmp_path / "frag")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    # fragment: many tiny files, as a per-batch writer would leave
    orders.repartition(40).write.mode("overwrite").parquet(tbl)
    before = len(glob.glob(f"{tbl}/*.parquet"))
    assert before >= 40
    n_rows = orders.count()

    after = compact_table(spark, tbl, target_rows_per_file=n_rows)
    assert after < before and after <= 2
    assert spark.read.parquet(tbl).count() == n_rows


def test_schema_evolution_merge(spark, tmp_path):
    from pyspark.sql import functions as F

    from data_pipeline_for_e_commerce_shop_spark.sources.readers import (
        read_with_schema_evolution,
    )

    tbl = str(tmp_path / "evolving")
    v1 = spark.range(5).select(F.col("id"), F.lit("a").alias("name"))
    v1.write.mode("overwrite").parquet(tbl)
    v2 = spark.range(5, 10).select(
        F.col("id"), F.lit("b").alias("name"), F.lit(1.5).alias("score")
    )
    v2.write.mode("append").parquet(tbl)

    df = read_with_schema_evolution(spark, tbl)
    assert set(df.columns) == {"id", "name", "score"}
    assert df.count() == 10
    # v1 rows surface NULL for the later-added column
    assert df.where(F.col("score").isNull()).count() == 5


def test_polymorphic_reader_orc_and_json(spark, tmp_path):
    """The format probe must dispatch ORC and JSON-lines tables to the
    right reader and return identical rows to the parquet original."""
    from data_pipeline_for_e_commerce_shop_spark.schemas import load_table
    from data_pipeline_for_e_commerce_shop_spark.sources.readers import (
        read_polymorphic,
    )

    base = load_table(spark, "/root/testdata/sf0.001", "orders")
    d = str(tmp_path)
    base.write.mode("overwrite").orc(f"{d}/orders_orc")
    base.write.mode("overwrite").json(f"{d}/orders_json")
    want = sorted(map(tuple, base.collect()))
    got_orc = read_polymorphic(spark, f"{d}/orders_orc", base.schema)
    got_json = read_polymorphic(spark, f"{d}/orders_json", base.schema)
    assert sorted(map(tuple, got_orc.collect())) == want
    # JSON round-trips timestamps through strings; compare on the
    # schema-projected columns.
    assert got_json.count() == base.count()
    assert sorted(r["o_orderkey"] for r in got_json.collect()) == sorted(
        r["o_orderkey"] for r in base.collect()
    )


def test_synthetic_generator_source_contract(spark):
    """The custom Python DataSource must honor the partitions option
    (one input partition per requested slice), generate exactly n
    deterministic rows, and produce identical results on re-read."""
    from data_pipeline_for_e_commerce_shop_spark.sources.generator import (
        register_generator,
    )

    register_generator(spark)
    df = (
        spark.read.format("syntheticgen")
        .option("n", 1000)
        .option("partitions", 4)
        .load()
    )
    assert df.rdd.getNumPartitions() == 4
    rows = sorted(map(tuple, df.collect()))
    assert len(rows) == 1000
    assert [r[0] for r in rows] == list(range(1000))
    again = sorted(map(tuple, (
        spark.read.format("syntheticgen")
        .option("n", 1000).option("partitions", 7).load().collect()
    )))
    assert again == rows  # partitioning never changes values


def test_synthetic_generator_filter_pushdown(spark):
    """row_id range predicates must narrow the GENERATION range (the
    reader never produces the pruned ids), and unsupported filters
    must be left for Spark — results stay correct either way."""
    from pyspark.sql.datasource import GreaterThanOrEqual, LessThan, EqualTo
    from data_pipeline_for_e_commerce_shop_spark.sources.generator import (
        SyntheticGenReader,
        register_generator,
    )

    r = SyntheticGenReader({"n": "1000", "partitions": "4"})
    leftover = list(
        r.pushFilters(
            [GreaterThanOrEqual(("row_id",), 100), LessThan(("row_id",), 200),
             EqualTo(("category",), "cat1")]
        )
    )
    assert [type(f).__name__ for f in leftover] == ["EqualTo"]
    parts = r.partitions()
    assert parts[0].lo == 100 and parts[-1].hi == 200
    assert sum(p.hi - p.lo for p in parts) == 100

    # End-to-end through Spark: filtered scan returns the right rows.
    register_generator(spark)
    df = (
        spark.read.format("syntheticgen")
        .option("n", 1000).option("partitions", 4).load()
        .where("row_id >= 100 and row_id < 200 and value_cents >= 0")
    )
    got = sorted(r["row_id"] for r in df.collect())
    assert got == list(range(100, 200))


def test_manifest_sink_two_phase_commit(spark, tmp_path):
    """The Python DataSourceWriter must publish exactly the committed
    part files in its manifest (counts reconcile), and a manifest
    reader must ignore orphan files planted to simulate a failed task
    attempt."""
    from data_pipeline_for_e_commerce_shop_spark.sources.generator import (
        read_manifest_table,
        register_manifest_sink,
    )

    register_manifest_sink(spark)
    d = str(tmp_path / "sink")
    df = spark.range(100).selectExpr(
        "id AS row_id", "CAST(id % 7 AS STRING) AS bucket"
    ).repartition(4)
    df.write.format("manifestsink").option("path", d).mode("append").save()

    # Simulate a zombie/failed attempt leaving an uncommitted file.
    with open(f"{d}/part-orphan.jsonl", "w") as f:
        f.write('{"row_id": 999999, "bucket": "x"}\n')

    got, manifest = read_manifest_table(spark, d)
    assert manifest["n_rows"] == 100
    assert sum(manifest["rows_per_file"].values()) == 100
    assert len(manifest["files"]) == 4
    rows = sorted(r["row_id"] for r in got.collect())
    assert rows == list(range(100))  # orphan invisible


def test_manifest_sink_failed_job_publishes_nothing(spark, tmp_path):
    """A failing write job must leave NO manifest — consumers see the
    table as absent, not half-written."""
    import pytest

    from data_pipeline_for_e_commerce_shop_spark.sources.generator import (
        register_manifest_sink,
    )

    register_manifest_sink(spark)
    d = str(tmp_path / "sink")
    from pyspark.sql import functions as F

    @F.udf("long")
    def boom(x):
        if x == 50:
            raise RuntimeError("task failure")
        return x

    bad = spark.range(100).select(boom("id").alias("row_id")).repartition(4)
    with pytest.raises(Exception):
        bad.write.format("manifestsink").option("path", d).mode(
            "append"
        ).save()
    import os

    assert not os.path.exists(f"{d}/manifest.json")


def test_tick_stream_resumes_from_checkpoint(spark, tmp_path):
    """Each availableNow drain through the SAME checkpoint must resume
    at the persisted offset: two drains yield batches [0, 2*batch)
    with no duplicates — the custom-source exactly-once contract."""
    from data_pipeline_for_e_commerce_shop_spark.sources.generator import (
        STREAM_BATCH,
        register_tick_stream,
    )

    register_tick_stream(spark)
    out = str(tmp_path / "out")
    for _ in range(2):
        q = (
            spark.readStream.format("tickstream")
            .option("batch", STREAM_BATCH)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    ids = sorted(r["row_id"] for r in spark.read.parquet(out).collect())
    assert ids == list(range(2 * STREAM_BATCH))


def test_manifest_sink_overwrite_garbage_collects(spark, tmp_path):
    """mode('overwrite') must leave only the new commit's part files
    on disk; append keeps accumulating but the manifest always names
    the latest commit."""
    import os

    from data_pipeline_for_e_commerce_shop_spark.sources.generator import (
        read_manifest_table,
        register_manifest_sink,
    )

    register_manifest_sink(spark)
    d = str(tmp_path / "sink")
    df1 = spark.range(50).selectExpr("id AS row_id").repartition(2)
    df1.write.format("manifestsink").option("path", d).mode("append").save()
    df2 = spark.range(100, 130).selectExpr("id AS row_id").repartition(2)
    df2.write.format("manifestsink").option("path", d).mode(
        "overwrite"
    ).save()
    parts = [p for p in os.listdir(d) if p.startswith("part-")]
    got, manifest = read_manifest_table(spark, d)
    assert sorted(parts) == manifest["files"]  # old parts GC'd
    assert sorted(r["row_id"] for r in got.collect()) == list(
        range(100, 130)
    )


def test_arrow_ipc_round_trip(spark, tmp_path):
    """Distributed Arrow IPC sink -> source round trip: same rows, one
    file per non-empty partition, manifest counts match."""
    from data_pipeline_for_e_commerce_shop_spark.schemas import load_table
    from data_pipeline_for_e_commerce_shop_spark.sources.arrow_ipc import (
        read_arrow_ipc,
        write_arrow_ipc,
    )
    from pyspark.sql import functions as F

    src = load_table(spark, "/root/testdata/sf0.001", "orders").repartition(4)
    out = str(tmp_path / "orders_arrow")
    manifest = write_arrow_ipc(src, out)
    files = manifest.collect()
    assert 1 <= len(files) <= 4
    assert sum(r["n_rows"] for r in files) == src.count()
    back = read_arrow_ipc(spark, out)
    assert back.schema == src.schema
    a = {tuple(r) for r in src.collect()}
    b = {tuple(r) for r in back.collect()}
    assert a == b


def test_arrow_ipc_reader_rejects_empty_dir(spark, tmp_path):
    import pytest as _pytest

    from data_pipeline_for_e_commerce_shop_spark.sources.arrow_ipc import (
        read_arrow_ipc,
    )

    d = tmp_path / "empty"
    d.mkdir()
    with _pytest.raises(FileNotFoundError):
        read_arrow_ipc(spark, str(d))


def test_versioned_write_time_travel_and_expiry(spark, tmp_path, sf_dir):
    """Three Delta overwrite commits: the latest version advances, any
    historical version is readable by number, VACUUM drops the old
    versions but never the current one, and unknown or vacuumed
    versions fail loudly."""
    import glob

    import pytest as _pytest

    from data_pipeline_for_e_commerce_shop_spark.schemas import load_table
    from data_pipeline_for_e_commerce_shop_spark.sources.delta_reader import (
        read_delta_table,
    )
    from data_pipeline_for_e_commerce_shop_spark.sources.delta_writer import (
        vacuum_delta_table,
        write_delta_commit,
    )
    from pyspark.sql import functions as F

    base = load_table(spark, sf_dir, "region")
    t = str(tmp_path / "region_versions")
    # interval 3: the third commit (v2) writes the checkpoint VACUUM needs
    vs = [
        write_delta_commit(df, t, mode="overwrite", checkpoint_interval=3)
        for df in (base, base.where(F.col("r_regionkey") > 0), base.limit(1))
    ]
    assert vs == [0, 1, 2]
    n0 = read_delta_table(spark, t, 0).count()
    n1 = read_delta_table(spark, t, 1).count()
    assert n0 == base.count()
    assert n1 == n0 - 1
    assert read_delta_table(spark, t).count() == 1  # latest == v2
    with _pytest.raises(ValueError):
        read_delta_table(spark, t, 7)
    n_files = len(glob.glob(f"{t}/*.parquet"))
    out = vacuum_delta_table(t, retention_ms=0)
    assert out["log_commits_deleted"] == 3
    assert 0 < out["data_files_deleted"] < n_files
    with _pytest.raises(NotImplementedError):
        read_delta_table(spark, t, 0)
    # the current version survives, from the checkpoint alone
    assert read_delta_table(spark, t).count() == 1
    assert read_delta_table(spark, t, 2).count() == 1
