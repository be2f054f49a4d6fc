"""Source/sink operators: multipart scan, header probe, dynamic
partition overwrite, quarantine provenance, alerts, the generator
sources and Delta time travel."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from data_pipeline_for_e_commerce_shop_spark.schemas import ORDERS_SCHEMA
from data_pipeline_for_e_commerce_shop_spark.sources.readers import (
    read_csv_entity,
    schema_probe,
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
    df = read_csv_entity(spark, [p1, p2], ORDERS_SCHEMA)
    assert df.count() == 3
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "Union" not in plan  # single multi-path relation


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
    bad = spark.createDataFrame(
        [(1, "junk", "bad row", "SCHEMA_ERROR")],
        "id long, raw string, reason string, error_type string",
    )
    write_quarantine(bad, path)
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
