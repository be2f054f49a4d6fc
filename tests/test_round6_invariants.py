"""Round-6 invariants: the Delta maintenance path (OPTIMIZE / VACUUM
through the protocol), vacuum-proof checkpoint/version bookkeeping,
the concurrent-writer exactly-once guard, kill-and-resume streaming
restart, and the scoped drain session.

These close the round-5 ADVICE findings with evidence:
- a SECOND checkpoint written after early JSON was vacuumed must seed
  metaData/protocol/SetTransaction rows from the FIRST checkpoint, not
  silently drop them (the checkpoint writer folds the log from the
  checkpoints below the one it writes: ``_snapshot(seed_below=)``);
- version allocation must consult checkpoints, not JSON alone, or a
  fully-vacuumed log gets version 0 re-claimed;
- two writers sharing an appId (zombie + restarted successor) must not
  both commit one batch (the in-CAS-loop txn re-check);
and the round-5 verdict items: OPTIMIZE/VACUUM wired to the writer,
restart-survival of the exactly-once sink, and the
shuffle-partition override scoped to a drain session.
"""

from __future__ import annotations

import json
import os
import shutil

import pytest

from data_pipeline_for_e_commerce_shop_spark.sources.delta_reader import (
    delta_log_versions,
    last_txn_versions,
    read_delta_table,
)
from data_pipeline_for_e_commerce_shop_spark.sources.delta_writer import (
    ConcurrentWriteError,
    optimize_delta_table,
    vacuum_delta_table,
    write_delta_commit,
)


def _mk(spark, lo, hi):
    return spark.range(lo, hi).selectExpr("id AS x")


def _log(t):
    return os.path.join(t, "_delta_log")


def test_second_checkpoint_seeds_from_first_after_vacuum(spark, tmp_path):
    """ADVICE r5 (medium): write past checkpoint 1 with txn state,
    vacuum the early JSON, write past checkpoint 2 — the second
    checkpoint must still carry metaData/protocol and the per-app txn
    watermarks that now exist ONLY in checkpoint 1."""
    import pyarrow.parquet as pq

    t = str(tmp_path / "cp2")
    # commits 0..3 (interval 4 -> checkpoint at v3); txn watermark at v1
    write_delta_commit(_mk(spark, 0, 2), t, checkpoint_interval=4)
    write_delta_commit(
        _mk(spark, 10, 12), t, checkpoint_interval=4, txn=("appA", 7)
    )
    write_delta_commit(_mk(spark, 20, 22), t, checkpoint_interval=4)
    write_delta_commit(_mk(spark, 30, 32), t, checkpoint_interval=4)
    assert os.path.exists(f"{_log(t)}/{3:020d}.checkpoint.parquet")
    # vacuum the JSON the checkpoint replaces (incl. the txn commit and
    # the protocol/metaData commit 0)
    for v in range(4):
        os.unlink(f"{_log(t)}/{v:020d}.json")
    # commits 4..7 -> second checkpoint at v7, built with NO JSON
    # memory of metaData/protocol/appA
    for i in range(4, 8):
        write_delta_commit(_mk(spark, 10 * i, 10 * i + 2), t, checkpoint_interval=4)
    cp2 = f"{_log(t)}/{7:020d}.checkpoint.parquet"
    assert os.path.exists(cp2)
    rows = pq.read_table(cp2).to_pylist()
    metas = [r["metaData"] for r in rows if r.get("metaData") and r["metaData"].get("id")]
    protos = [r["protocol"] for r in rows if r.get("protocol") and r["protocol"].get("minReaderVersion")]
    txns = {
        r["txn"]["appId"]: r["txn"]["version"]
        for r in rows
        if r.get("txn") and r["txn"].get("appId")
    }
    assert len(metas) == 1 and "x" in metas[0]["schemaString"]
    assert len(protos) == 1
    assert txns == {"appA": 7}
    # vacuum everything below checkpoint 2: watermark and reads survive
    for v in range(4, 8):
        os.unlink(f"{_log(t)}/{v:020d}.json")
    assert last_txn_versions(t) == {"appA": 7}
    got = {r["x"] for r in read_delta_table(spark, t).collect()}
    assert {0, 1, 10, 11, 70, 71} <= got


def test_version_allocation_survives_full_json_vacuum(spark, tmp_path):
    """ADVICE r5 (low): with ALL JSON at/below the checkpoint vacuumed,
    the next commit must claim checkpoint_version + 1 (not re-claim 0
    and re-emit protocol/metaData)."""
    t = str(tmp_path / "valloc")
    for i in range(4):
        write_delta_commit(_mk(spark, 10 * i, 10 * i + 1), t, checkpoint_interval=4)
    for v in range(4):
        os.unlink(f"{_log(t)}/{v:020d}.json")
    assert delta_log_versions(t) == []  # JSON fully vacuumed
    v = write_delta_commit(_mk(spark, 99, 100), t, checkpoint_interval=4)
    assert v == 4
    with open(f"{_log(t)}/{4:020d}.json") as f:
        kinds = [next(iter(json.loads(l))) for l in f if l.strip()]
    assert "protocol" not in kinds and "metaData" not in kinds
    got = {r["x"] for r in read_delta_table(spark, t).collect()}
    assert got == {0, 10, 20, 30, 99}


def test_txn_guard_rechecks_inside_cas_loop(spark, tmp_path, monkeypatch):
    """ADVICE r5 (low): a CAS loser whose batch was committed by a
    same-appId winner mid-flight must SKIP, not duplicate.  The race is
    simulated by planting the winner's commit after the loser's
    pre-stage check (monkeypatched staging side effect)."""
    from data_pipeline_for_e_commerce_shop_spark.sources import delta_writer

    t = str(tmp_path / "race")
    write_delta_commit(_mk(spark, 0, 2), t)  # v0

    real_stage = delta_writer._stage_data_files
    planted = {}

    def stage_and_plant(df, table_path, data_change=True):
        adds = real_stage(df, table_path, data_change)
        if not planted.get("armed"):  # plant once; the inner write
            planted["armed"] = True  # re-enters this patched function
            # zombie's staging done -> successor commits the SAME batch
            planted["v"] = real_write(
                _mk(spark, 50, 52), t, txn=("appZ", 3)
            )
        return adds

    real_write = write_delta_commit
    monkeypatch.setattr(delta_writer, "_stage_data_files", stage_and_plant)
    res = delta_writer.write_delta_commit(_mk(spark, 50, 52), t, txn=("appZ", 3))
    monkeypatch.undo()
    assert planted["v"] == 1 and res is None  # loser skipped itself
    assert last_txn_versions(t) == {"appZ": 3}
    got = sorted(r["x"] for r in read_delta_table(spark, t).collect())
    assert got == [0, 1, 50, 51]  # batch applied exactly once
    # the loser's staged-then-abandoned files were deleted
    live = {os.path.basename(p) for p in _live_files(t)}
    on_disk = {n for n in os.listdir(t) if n.endswith(".parquet")}
    assert on_disk == live


def _live_files(t):
    from data_pipeline_for_e_commerce_shop_spark.sources.delta_reader import (
        _snapshot,
    )

    return [os.path.join(t, p) for p in sorted(_snapshot(t).adds)]


def test_optimize_compacts_preserves_rows_and_history(spark, tmp_path):
    """OPTIMIZE bin-packs small live files into one commit of
    dataChange=false add+remove actions; rows identical, file count
    drops, time travel to the pre-OPTIMIZE version still works."""
    t = str(tmp_path / "opt")
    for i in range(5):
        write_delta_commit(_mk(spark, 10 * i, 10 * i + 3), t)
    before = {r["x"] for r in read_delta_table(spark, t).collect()}
    n_before = len(_live_files(t))
    v = optimize_delta_table(spark, t)
    assert v == 5
    assert {r["x"] for r in read_delta_table(spark, t).collect()} == before
    assert len(_live_files(t)) < n_before
    # the commit is layout-only: every add/remove has dataChange false
    with open(f"{_log(t)}/{5:020d}.json") as f:
        actions = [json.loads(l) for l in f if l.strip()]
    assert any("commitInfo" in a and a["commitInfo"]["operation"] == "OPTIMIZE" for a in actions)
    for a in actions:
        if "add" in a:
            assert a["add"]["dataChange"] is False
        if "remove" in a:
            assert a["remove"]["dataChange"] is False
    # pre-OPTIMIZE snapshot unchanged
    assert {r["x"] for r in read_delta_table(spark, t, 4).collect()} == before
    # idempotent: nothing left to compact -> no-op, no commit appended
    assert optimize_delta_table(spark, t) is None
    assert delta_log_versions(t)[-1] == 5


def test_optimize_vacuum_roundtrip(spark, tmp_path):
    """VERDICT r5 item 4 end-to-end: N commits -> OPTIMIZE -> checkpoint
    -> VACUUM(0): identical rows back, compacted-away files physically
    deleted, early JSON dropped, time travel below retention refuses
    cleanly, and the exactly-once watermark survives the whole pass."""
    from data_pipeline_for_e_commerce_shop_spark.streaming.delta_sink import (
        delta_exactly_once_sink,
    )

    t = str(tmp_path / "ovr")
    sink = delta_exactly_once_sink(t, "ingest")
    for b in range(6):
        assert sink(_mk(spark, 10 * b, 10 * b + 2), b) == b
    before = sorted(r["x"] for r in read_delta_table(spark, t).collect())
    old_files = set(_live_files(t))
    assert optimize_delta_table(spark, t) == 6
    # checkpoint interval 10: commits 0..6 exist, force the checkpoint
    # by a last small append (v7)... not at interval; write directly
    from data_pipeline_for_e_commerce_shop_spark.sources.delta_writer import (
        _write_checkpoint,
    )

    _write_checkpoint(t, 6)
    stats = vacuum_delta_table(t, retention_ms=0)
    assert stats["data_files_deleted"] == len(old_files)
    assert stats["log_commits_deleted"] == 7
    for fp in old_files:
        assert not os.path.exists(fp)
    assert sorted(r["x"] for r in read_delta_table(spark, t).collect()) == before
    # replay guard intact after optimize+vacuum
    assert sink(_mk(spark, 50, 52), 5) is None
    assert last_txn_versions(t)["ingest"] == 5
    # time travel below the vacuumed horizon refuses instead of lying
    with pytest.raises(NotImplementedError):
        read_delta_table(spark, t, 2)


def test_vacuum_refuses_when_checkpoint_drops_txn_state(spark, tmp_path):
    """The retention guard: a checkpoint that does NOT preserve the
    JSON's SetTransaction watermarks (pre-seeding vintage) must make
    log vacuum refuse rather than reset the exactly-once guard."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = str(tmp_path / "guard")
    write_delta_commit(_mk(spark, 0, 2), t, txn=("appQ", 11))
    write_delta_commit(_mk(spark, 10, 12), t)
    from data_pipeline_for_e_commerce_shop_spark.sources.delta_writer import (
        _write_checkpoint,
    )

    _write_checkpoint(t, 1)
    cp = f"{_log(t)}/{1:020d}.checkpoint.parquet"
    # strip the txn column (simulate a checkpoint written before txn
    # seeding existed)
    tbl = pq.read_table(cp)
    idx = tbl.schema.get_field_index("txn")
    stripped = tbl.set_column(
        idx, "txn", pa.nulls(len(tbl), type=tbl.schema.field("txn").type)
    )
    pq.write_table(stripped, cp)
    with pytest.raises(ConcurrentWriteError, match="refusing log VACUUM"):
        vacuum_delta_table(t, retention_ms=0)
    # the JSON commits survive, so the watermark is still RECOVERABLE
    # (rewrite the checkpoint, then vacuum) — had vacuum proceeded, the
    # appQ state would be gone forever
    assert delta_log_versions(t) == [0, 1]
    from data_pipeline_for_e_commerce_shop_spark.sources.delta_reader import (
        _snapshot,
    )

    # the state folded from the JSON alone (no checkpoint below 0)
    assert _snapshot(t, 1, seed_below=0).txns == {"appQ": 11}
    _write_checkpoint(t, 1)  # recovery: re-seed the checkpoint
    assert vacuum_delta_table(t, retention_ms=0)["log_commits_deleted"] == 2
    assert last_txn_versions(t) == {"appQ": 11}


def test_exactly_once_across_stream_restart(spark, tmp_path):
    """VERDICT r5 item 5: kill-and-resume.  Drain file A under
    checkpoint C (batch 0 committed to Delta), then simulate a crash
    BETWEEN the Delta commit and the stream-checkpoint commit by
    deleting C's commits/0 marker; add file B and restart from C.
    Structured Streaming re-runs batch 0 (same offsets) — the
    SetTransaction guard must skip it — then batch 1 commits B.  No
    double counts; the txn watermark advanced."""
    from pyspark.sql import functions as F

    from data_pipeline_for_e_commerce_shop_spark.streaming.delta_sink import (
        delta_exactly_once_sink,
    )

    src = tmp_path / "src"
    src.mkdir()
    table = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")
    sink = delta_exactly_once_sink(table, "restart-app")
    _mk(spark, 0, 100).coalesce(1).write.parquet(str(tmp_path / "a"))
    shutil.copy(
        next((tmp_path / "a").glob("part-*.parquet")), src / "a.parquet"
    )
    schema = spark.read.parquet(str(src)).schema

    def drain():
        q = (
            spark.readStream.schema(schema)
            .parquet(str(src))
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    assert last_txn_versions(table)["restart-app"] == 0
    n1 = read_delta_table(spark, table).count()
    assert n1 == 100
    # crash window: Delta committed batch 0 but the stream checkpoint
    # didn't record it — on restart the engine replays batch 0
    os.unlink(os.path.join(ckpt, "commits", "0"))
    crc = os.path.join(ckpt, "commits", ".0.crc")
    if os.path.exists(crc):  # local-fs checksum twin must go too, or
        os.unlink(crc)  # the re-commit rename trips a concurrency error
    _mk(spark, 1000, 1050).coalesce(1).write.parquet(str(tmp_path / "b"))
    shutil.copy(
        next((tmp_path / "b").glob("part-*.parquet")), src / "b.parquet"
    )
    drain()
    out = read_delta_table(spark, table)
    assert out.count() == 150  # 100 + 50, batch 0 NOT duplicated
    assert out.agg(F.countDistinct("x")).collect()[0][0] == 150
    assert last_txn_versions(table)["restart-app"] == 1


def test_drain_session_scopes_shuffle_partitions(spark, sf_dir):
    """The round-5 footgun: a stateful drain must not mutate the
    caller session's spark.sql.shuffle.partitions, even transiently.
    The drain runs on a scoped newSession whose conf is pinned to one
    partition (one state store) per core; the caller's conf must be
    bit-identical before/after/during."""
    from data_pipeline_for_e_commerce_shop_spark.streaming.windowed import (
        drain_session,
        stream_hourly_kpis,
    )

    before = spark.conf.get("spark.sql.shuffle.partitions")
    ds = drain_session(spark)
    assert ds is not spark
    assert ds.conf.get("spark.sql.shuffle.partitions") == str(
        spark.sparkContext.defaultParallelism
    )
    assert drain_session(spark) is ds  # cached per base session
    spark.conf.set("spark.sql.shuffle.partitions", "17")
    try:
        res = stream_hourly_kpis(spark, sf_dir)
        assert res.count() > 0
        # caller conf untouched by the drain
        assert spark.conf.get("spark.sql.shuffle.partitions") == "17"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)


def _write_mapped_table(spark, t: str):
    """Hand-craft a column-mapped Delta table: parquet stores PHYSICAL
    names (col-<uuid> style), the logical names live in schemaString
    field metadata — the layout every modern Databricks-written table
    ships with."""
    os.makedirs(f"{t}/_delta_log", exist_ok=True)
    spark.range(0, 5).selectExpr(
        "id AS `col-aaa111`", "CAST(id * 10 AS STRING) AS `col-bbb222`"
    ).coalesce(1).write.mode("overwrite").parquet(f"{t}/_stage")
    import glob as g

    part = g.glob(f"{t}/_stage/part-*.parquet")[0]
    shutil.move(part, f"{t}/part-0.snappy.parquet")
    shutil.rmtree(f"{t}/_stage")
    x_meta = {"delta.columnMapping.id": 1,
              "delta.columnMapping.physicalName": "col-aaa111"}
    schema = {
        "type": "struct",
        "fields": [
            {"name": "x", "type": "long", "nullable": True,
             "metadata": x_meta},
            {"name": "y", "type": "string", "nullable": True,
             "metadata": {"delta.columnMapping.id": 2,
                          "delta.columnMapping.physicalName": "col-bbb222"}},
        ],
    }
    proto = {"minReaderVersion": 2, "minWriterVersion": 5}
    actions = [
        {"protocol": proto},
        {"metaData": {
            "id": "m-1", "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps(schema),
            "partitionColumns": [],
            "configuration": {"delta.columnMapping.mode": "name",
                              "delta.columnMapping.maxColumnId": "2"},
            "createdTime": 0,
        }},
        {"add": {"path": "part-0.snappy.parquet", "partitionValues": {},
                 "size": os.path.getsize(f"{t}/part-0.snappy.parquet"),
                 "modificationTime": 0, "dataChange": True}},
    ]
    with open(f"{t}/_delta_log/{0:020d}.json", "w") as f:
        for a in actions:
            f.write(json.dumps(a) + "\n")


def test_append_to_column_mapped_table_is_refused(spark, tmp_path):
    """The writer does not write physical column names, so an append
    to a table whose log declares column mapping must refuse before it
    stages a file or claims a version."""
    t = str(tmp_path / "mapped")
    _write_mapped_table(spark, t)
    before = sorted(os.listdir(t))
    df = spark.range(5, 7).selectExpr("id AS x", "CAST(id AS STRING) AS y")
    with pytest.raises(NotImplementedError, match="column mapping"):
        write_delta_commit(df, t)
    assert sorted(os.listdir(t)) == before
    assert delta_log_versions(t) == [0]


def test_partitioned_optimize_compacts_within_partitions(spark, tmp_path):
    """Partition-aware OPTIMIZE: files bin-pack WITHIN their hive
    partition directory, the rewrite adds carry the partition's
    partitionValues, and the basePath read keeps reconstructing the
    partition column — rows identical before/after, per-partition."""
    import glob as g

    t = str(tmp_path / "popt")
    os.makedirs(f"{t}/_delta_log", exist_ok=True)
    adds = []
    for cat in ("a", "b"):
        os.makedirs(f"{t}/cat={cat}", exist_ok=True)
        for i in range(3):
            lo = (100 if cat == "b" else 0) + 10 * i
            spark.range(lo, lo + 4).selectExpr("id AS x").coalesce(
                1
            ).write.mode("overwrite").parquet(f"{t}/_s")
            part = g.glob(f"{t}/_s/part-*.parquet")[0]
            rel = f"cat={cat}/part-{cat}{i}.snappy.parquet"
            shutil.move(part, f"{t}/{rel}")
            adds.append((rel, {"cat": cat}))
    shutil.rmtree(f"{t}/_s")
    schema = {"type": "struct", "fields": [
        {"name": "x", "type": "long", "nullable": True, "metadata": {}},
        {"name": "cat", "type": "string", "nullable": True, "metadata": {}}]}
    actions = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": {"id": "m-p",
                      "format": {"provider": "parquet", "options": {}},
                      "schemaString": json.dumps(schema),
                      "partitionColumns": ["cat"], "configuration": {},
                      "createdTime": 0}},
    ] + [
        {"add": {"path": rel, "partitionValues": pv,
                 "size": os.path.getsize(f"{t}/{rel}"),
                 "modificationTime": 0, "dataChange": True}}
        for rel, pv in adds
    ]
    with open(f"{t}/_delta_log/{0:020d}.json", "w") as f:
        for a in actions:
            f.write(json.dumps(a) + "\n")

    before = sorted(
        (r["x"], r["cat"]) for r in read_delta_table(spark, t).collect()
    )
    assert len(before) == 24 and {c for _, c in before} == {"a", "b"}
    v = optimize_delta_table(spark, t)
    assert v == 1
    after = sorted(
        (r["x"], r["cat"]) for r in read_delta_table(spark, t).collect()
    )
    assert after == before
    # one compacted file per partition, in its own directory, with the
    # right partitionValues on the add action
    with open(f"{t}/_delta_log/{1:020d}.json") as f:
        acts = [json.loads(l) for l in f if l.strip()]
    new_adds = [a["add"] for a in acts if "add" in a]
    assert len(new_adds) == 2
    assert {a["path"].split("/")[0] for a in new_adds} == {"cat=a", "cat=b"}
    for a in new_adds:
        assert a["partitionValues"] == {
            "cat": a["path"].split("/")[0].split("=")[1]
        }
        assert a["dataChange"] is False
    assert len(_live_files(t)) == 2
    # vacuum drops the six originals; the table still reads identically
    stats = vacuum_delta_table(t, retention_ms=0)
    assert stats["data_files_deleted"] == 6
    assert sorted(
        (r["x"], r["cat"]) for r in read_delta_table(spark, t).collect()
    ) == before


def _stage_one_file(spark, t: str, rel: str, lo: int, hi: int):
    import glob as g

    spark.range(lo, hi).selectExpr("id AS x").coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{t}/_s")
    os.makedirs(os.path.dirname(os.path.join(t, rel)) or t, exist_ok=True)
    shutil.move(g.glob(f"{t}/_s/part-*.parquet")[0], os.path.join(t, rel))
    shutil.rmtree(f"{t}/_s")
