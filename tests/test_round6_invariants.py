"""Round-6 invariants: the Delta maintenance path (OPTIMIZE / VACUUM
through the protocol), vacuum-proof checkpoint/version bookkeeping,
the concurrent-writer exactly-once guard, kill-and-resume streaming
restart, and the scoped drain session.

These close the round-5 ADVICE findings with evidence:
- a SECOND checkpoint written after early JSON was vacuumed must seed
  metaData/protocol/SetTransaction rows from the FIRST checkpoint, not
  silently drop them (delta_writer._log_state);
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
        _resolve_files,
    )

    return _resolve_files(t, None)[0]


def test_optimize_compacts_preserves_rows_and_history(spark, tmp_path):
    """OPTIMIZE bin-packs small live files into one commit of
    dataChange=false add+remove actions; rows identical, file count
    drops, time travel to the pre-OPTIMIZE version still works."""
    t = str(tmp_path / "opt")
    for i in range(5):
        write_delta_commit(_mk(spark, 10 * i, 10 * i + 3), t)
    before = {r["x"] for r in read_delta_table(spark, t).collect()}
    n_before = len(_live_files(t))
    v = optimize_delta_table(spark, t, target_bytes=1 << 30)
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
    assert optimize_delta_table(spark, t, target_bytes=1 << 30) is None
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
    assert optimize_delta_table(spark, t, target_bytes=1 << 30) == 6
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
    from data_pipeline_for_e_commerce_shop_spark.sources.delta_writer import (
        _full_json_state,
        _write_checkpoint,
    )

    assert _full_json_state(t, 1)[2] == {"appQ": 11}
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
    The drain runs on a scoped newSession whose conf is pinned to 8;
    the caller's conf must be bit-identical before/after/during."""
    from data_pipeline_for_e_commerce_shop_spark.streaming.windowed import (
        drain_session,
        stream_hourly_kpis,
    )

    before = spark.conf.get("spark.sql.shuffle.partitions")
    ds = drain_session(spark)
    assert ds is not spark
    assert ds.conf.get("spark.sql.shuffle.partitions") == "8"
    assert drain_session(spark) is ds  # cached per base session
    spark.conf.set("spark.sql.shuffle.partitions", "17")
    try:
        res = stream_hourly_kpis(spark, sf_dir)
        assert res.count() > 0
        # caller conf untouched by the drain
        assert spark.conf.get("spark.sql.shuffle.partitions") == "17"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)


def _write_mapped_table(spark, t: str, mode: str = "name",
                        nested: bool = False, mrv: int = 2,
                        features: list | None = None):
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
    y_type = "string"
    if nested:
        y_type = {
            "type": "struct",
            "fields": [{
                "name": "inner", "type": "string", "nullable": True,
                "metadata": {
                    "delta.columnMapping.physicalName": "col-ccc333"
                },
            }],
        }
    schema = {
        "type": "struct",
        "fields": [
            {"name": "x", "type": "long", "nullable": True,
             "metadata": x_meta},
            {"name": "y", "type": y_type, "nullable": True,
             "metadata": {"delta.columnMapping.id": 2,
                          "delta.columnMapping.physicalName": "col-bbb222"}},
        ],
    }
    proto = {"minReaderVersion": mrv, "minWriterVersion": 5}
    if features is not None:
        proto["readerFeatures"] = features
        proto["writerFeatures"] = features
    actions = [
        {"protocol": proto},
        {"metaData": {
            "id": "m-1", "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps(schema),
            "partitionColumns": [],
            "configuration": {"delta.columnMapping.mode": mode,
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


def test_column_mapped_table_reads_logical_names(spark, tmp_path):
    """Reader protocol v2 (column mapping, 'name' mode): physical
    parquet names must come back as the LOGICAL schema, values
    intact — the round-5 verdict's 'user bringing modern
    Databricks-written tables hits the refusal' gap."""
    t = str(tmp_path / "mapped")
    _write_mapped_table(spark, t, mode="name")
    df = read_delta_table(spark, t)
    assert df.columns == ["x", "y"]
    rows = {(r["x"], r["y"]) for r in df.collect()}
    assert rows == {(i, str(i * 10)) for i in range(5)}


def test_column_mapped_v3_feature_list(spark, tmp_path):
    """v3 tables are readable iff every readerFeature is supported;
    features this reader does not implement (type widening changes
    how stored values must be reinterpreted) stay refused loudly."""
    t = str(tmp_path / "v3ok")
    _write_mapped_table(spark, t, mrv=3, features=["columnMapping"])
    assert read_delta_table(spark, t).columns == ["x", "y"]
    t2 = str(tmp_path / "v3tw")
    _write_mapped_table(
        spark, t2, mrv=3, features=["columnMapping", "typeWidening"]
    )
    with pytest.raises(NotImplementedError, match="typeWidening"):
        read_delta_table(spark, t2)


def test_column_mapped_nested_refuses(spark, tmp_path):
    """Nested mapped fields would need a recursive rebuild — must
    refuse loudly instead of returning misnamed nested data."""
    t = str(tmp_path / "nested")
    _write_mapped_table(spark, t, nested=True)
    with pytest.raises(NotImplementedError, match="nested column mapping"):
        read_delta_table(spark, t)


def test_append_to_column_mapped_table_is_refused(spark, tmp_path):
    """The writer does not write physical column names, so an append
    to a table whose log declares column mapping must refuse before it
    stages a file or claims a version.  A checkpoint of that table
    keeps the mapping mode, so reads after VACUUM stay logical."""
    from data_pipeline_for_e_commerce_shop_spark.sources.delta_writer import (
        _write_checkpoint,
    )

    t = str(tmp_path / "mapped")
    _write_mapped_table(spark, t, mode="name")
    before = sorted(os.listdir(t))
    df = spark.range(5, 7).selectExpr("id AS x", "CAST(id AS STRING) AS y")
    with pytest.raises(NotImplementedError, match="column mapping"):
        write_delta_commit(df, t)
    assert sorted(os.listdir(t)) == before
    assert delta_log_versions(t) == [0]

    _write_checkpoint(t, 0)
    vacuum_delta_table(t, retention_ms=0)
    got = read_delta_table(spark, t)
    assert got.columns == ["x", "y"]
    assert sorted(r["x"] for r in got.collect()) == list(range(5))


def _z85_encode(b: bytes) -> str:
    """Test-side Z85 encoder (independent of the reader's decoder
    direction; alphabet from the public ZeroMQ spec)."""
    alpha = ("0123456789abcdefghijklmnopqrstuvwxyz"
             "ABCDEFGHIJKLMNOPQRSTUVWXYZ.-:+=^!/*?&<>()[]{}@%$#")
    assert len(b) % 4 == 0
    out = []
    for i in range(0, len(b), 4):
        acc = int.from_bytes(b[i:i + 4], "big")
        chunk = []
        for _ in range(5):
            acc, r = divmod(acc, 85)
            chunk.append(alpha[r])
        out.extend(reversed(chunk))
    return "".join(out)


def _spec_roaring_array(positions) -> bytes:
    """Serialize positions as a RoaringBitmapArray with SPEC-LITERAL
    bytes (portable 64-bit format; 32-bit bitmaps in the no-run
    standard format with offset headers) — hand-built from the public
    RoaringFormatSpec, NOT by calling the reader's code, so the test
    checks the parser against the spec rather than against itself."""
    import struct
    from collections import defaultdict

    by_hi = defaultdict(lambda: defaultdict(list))
    for p in positions:
        hi32, lo32 = p >> 32, p & 0xFFFFFFFF
        by_hi[hi32][lo32 >> 16].append(lo32 & 0xFFFF)
    n_bitmaps = max(by_hi) + 1 if by_hi else 0
    blob = struct.pack("<iq", 1681511377, n_bitmaps)
    for i in range(n_bitmaps):
        containers = sorted(by_hi.get(i, {}).items())
        blob += struct.pack("<ii", 12346, len(containers))
        for key, vals in containers:
            blob += struct.pack("<HH", key, len(vals) - 1)
        # offset header: running start of each container's data
        off = 8 + 4 * len(containers) + 4 * len(containers)
        for _, vals in containers:
            blob += struct.pack("<i", off)
            off += 2 * len(vals)
        for _, vals in containers:
            blob += struct.pack(f"<{len(vals)}H", *sorted(vals))
    return blob


def test_roaring_parser_against_spec_bytes():
    """The DV bitmap parser must decode SPEC-LITERAL bytes — array,
    bitmap (>4096 cardinality), and multi-bitmap (>2^32 positions)
    shapes — independently of any encoder in the reader."""
    from data_pipeline_for_e_commerce_shop_spark.sources.delta_reader import (
        _roaring_array_positions,
    )

    pos = [1, 3, 70000, (1 << 32) + 5]
    assert _roaring_array_positions(_spec_roaring_array(pos)) == sorted(pos)
    dense = list(range(5000))  # forces a bitmap container
    import struct

    blob = struct.pack("<iq", 1681511377, 1)
    blob += struct.pack("<ii", 12346, 1)
    blob += struct.pack("<HH", 0, len(dense) - 1)
    blob += struct.pack("<i", 16)
    words = [0] * 1024
    for v in dense:
        words[v >> 6] |= 1 << (v & 63)
    blob += struct.pack("<1024Q", *words)
    assert _roaring_array_positions(blob) == dense


def _dv_table(spark, t: str, inline: bool):
    """100-row single-file Delta table whose add action carries a DV
    deleting rows {1, 3, 97} — inline (Z85) or .bin-file storage."""
    import struct
    import uuid as _uuid
    import zlib

    os.makedirs(f"{t}/_delta_log", exist_ok=True)
    spark.range(0, 100).selectExpr("id AS x").coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{t}/_stage")
    import glob as g

    shutil.move(
        g.glob(f"{t}/_stage/part-*.parquet")[0], f"{t}/part-0.snappy.parquet"
    )
    shutil.rmtree(f"{t}/_stage")
    bitmap = _spec_roaring_array([1, 3, 97])
    if inline:
        pad = (-len(bitmap)) % 4
        dv = {"storageType": "i",
              "pathOrInlineDv": _z85_encode(bitmap + b"\x00" * pad),
              "sizeInBytes": len(bitmap), "cardinality": 3}
    else:
        u = _uuid.uuid4()
        body = (b"\x01" + struct.pack(">i", len(bitmap)) + bitmap
                + struct.pack(">I", zlib.crc32(bitmap) & 0xFFFFFFFF))
        with open(f"{t}/deletion_vector_{u}.bin", "wb") as f:
            f.write(body)
        dv = {"storageType": "u", "pathOrInlineDv": _z85_encode(u.bytes),
              "offset": 1, "sizeInBytes": len(bitmap), "cardinality": 3}
    schema = {"type": "struct", "fields": [
        {"name": "x", "type": "long", "nullable": True, "metadata": {}}]}
    actions = [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["deletionVectors"],
                      "writerFeatures": ["deletionVectors"]}},
        {"metaData": {"id": "m-dv",
                      "format": {"provider": "parquet", "options": {}},
                      "schemaString": json.dumps(schema),
                      "partitionColumns": [], "configuration": {},
                      "createdTime": 0}},
        {"add": {"path": "part-0.snappy.parquet", "partitionValues": {},
                 "size": os.path.getsize(f"{t}/part-0.snappy.parquet"),
                 "modificationTime": 0, "dataChange": True,
                 "deletionVector": dv}},
    ]
    with open(f"{t}/_delta_log/{0:020d}.json", "w") as f:
        for a in actions:
            f.write(json.dumps(a) + "\n")


def test_deletion_vectors_mask_rows(spark, tmp_path):
    """A DV'd table must read back WITHOUT the deleted positions —
    both inline and file-stored descriptors; a wrong cardinality must
    refuse rather than mis-read."""
    for inline in (True, False):
        t = str(tmp_path / f"dv_{inline}")
        _dv_table(spark, t, inline=inline)
        got = sorted(r["x"] for r in read_delta_table(spark, t).collect())
        assert got == [v for v in range(100) if v not in (1, 3, 97)]
    # tamper: descriptor claims 2 deletions but the bitmap holds 3
    t2 = str(tmp_path / "dv_bad")
    _dv_table(spark, t2, inline=True)
    log = f"{t2}/_delta_log/{0:020d}.json"
    lines = [json.loads(l) for l in open(log)]
    lines[-1]["add"]["deletionVector"]["cardinality"] = 2
    with open(log, "w") as f:
        for a in lines:
            f.write(json.dumps(a) + "\n")
    # round 7: the audit runs INSIDE the decode task (distributed DV
    # decode), so it surfaces as Spark's executor-exception wrapper —
    # still loud, still names the root cause
    with pytest.raises(Exception, match="cardinality"):
        read_delta_table(spark, t2).collect()


def test_dv_table_writer_paths(spark, tmp_path):
    """Maintenance on DV'd tables must not resurrect deleted rows.
    Round 7 UPGRADED both writer paths (VERDICT r6 items 5/6): the
    checkpoint carries live deletionVector structs through (no more
    refusal — see test_round7_delta for the vacuum round trip), and
    OPTIMIZE MATERIALIZES DV'd files instead of skipping them (covered
    there too).  What must still hold here: appends to a DV'd table
    keep the DV masking, and a checkpoint seeded read returns the
    masked rows."""
    from data_pipeline_for_e_commerce_shop_spark.sources.delta_writer import (
        _write_checkpoint,
    )

    t = str(tmp_path / "dvw")
    _dv_table(spark, t, inline=True)
    v = write_delta_commit(_mk(spark, 1000, 1002), t, checkpoint_interval=0)
    assert v == 1
    got = sorted(r["x"] for r in read_delta_table(spark, t).collect())
    assert got == [x for x in range(100) if x not in (1, 3, 97)] + [1000, 1001]
    # checkpoint now supported on the DV'd table: seed-only read agrees
    _write_checkpoint(t, 1)
    got2 = sorted(r["x"] for r in read_delta_table(spark, t).collect())
    assert got2 == got


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
    v = optimize_delta_table(spark, t, target_bytes=1 << 30)
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


def _v2_checkpoint_table(spark, t: str, form: str):
    """Table whose only snapshot source at v1 is a V2 CHECKPOINT —
    'parquet' form: UUID-named parquet with checkpointMetadata +
    sidecarFile rows, adds in a _sidecars/ parquet; 'json' form:
    UUID-named json with inline adds.  JSON commits 0..1 are then
    vacuumed, so a reader that can't resolve the v2 form has nothing
    else to fall back on."""
    import uuid as _uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(f"{t}/_delta_log", exist_ok=True)
    _stage_one_file(spark, t, "f0.parquet", 0, 4)
    _stage_one_file(spark, t, "f1.parquet", 10, 13)
    schema = {"type": "struct", "fields": [
        {"name": "x", "type": "long", "nullable": True, "metadata": {}}]}
    proto = {"minReaderVersion": 3, "minWriterVersion": 7,
             "readerFeatures": ["v2Checkpoint"],
             "writerFeatures": ["v2Checkpoint"]}
    meta = {"id": "m-v2", "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps(schema), "partitionColumns": [],
            "configuration": {}, "createdTime": 0}
    adds = [
        {"path": f"f{i}.parquet", "partitionValues": {},
         "size": os.path.getsize(f"{t}/f{i}.parquet"),
         "modificationTime": 0, "dataChange": True}
        for i in range(2)
    ]
    # commits exist only transiently; they get vacuumed below
    for v, acts in enumerate((
        [{"protocol": proto}, {"metaData": meta}, {"add": adds[0]}],
        [{"add": adds[1]}],
    )):
        with open(f"{t}/_delta_log/{v:020d}.json", "w") as f:
            for a in acts:
                f.write(json.dumps(a) + "\n")
    u = str(_uuid.uuid4())
    cp_meta = {"version": 1, "tags": {}}
    if form == "json":
        cp = f"{t}/_delta_log/{1:020d}.checkpoint.{u}.json"
        with open(cp, "w") as f:
            f.write(json.dumps({"checkpointMetadata": cp_meta}) + "\n")
            f.write(json.dumps({"protocol": proto}) + "\n")
            f.write(json.dumps({"metaData": meta}) + "\n")
            for a in adds:
                f.write(json.dumps({"add": a}) + "\n")
            f.write(json.dumps({"txn": {"appId": "v2app", "version": 9}}) + "\n")
    else:
        side_dir = f"{t}/_delta_log/_sidecars"
        os.makedirs(side_dir, exist_ok=True)
        side = f"{side_dir}/{_uuid.uuid4()}.parquet"
        add_t = pa.struct([
            ("path", pa.string()),
            ("partitionValues", pa.map_(pa.string(), pa.string())),
            ("size", pa.int64()),
            ("modificationTime", pa.int64()),
            ("dataChange", pa.bool_()),
        ])
        rows = [dict(a, partitionValues=[]) for a in adds]
        pq.write_table(
            pa.table({"add": pa.array(rows, type=add_t)}), side
        )
        cp = f"{t}/_delta_log/{1:020d}.checkpoint.{u}.parquet"
        meta_t = pa.struct([
            ("id", pa.string()),
            ("format", pa.struct([("provider", pa.string())])),
            ("schemaString", pa.string()),
            ("partitionColumns", pa.list_(pa.string())),
            ("createdTime", pa.int64()),
        ])
        proto_t = pa.struct([
            ("minReaderVersion", pa.int32()),
            ("minWriterVersion", pa.int32()),
            ("readerFeatures", pa.list_(pa.string())),
            ("writerFeatures", pa.list_(pa.string())),
        ])
        cpm_t = pa.struct([("version", pa.int64())])
        sf_t = pa.struct([
            ("path", pa.string()), ("sizeInBytes", pa.int64()),
            ("modificationTime", pa.int64()),
        ])
        txn_t = pa.struct([("appId", pa.string()), ("version", pa.int64())])
        pq.write_table(pa.table({
            "checkpointMetadata": pa.array([{"version": 1}, None, None, None, None], type=cpm_t),
            "protocol": pa.array([None, proto, None, None, None], type=proto_t),
            "metaData": pa.array([None, None, {
                "id": "m-v2", "format": {"provider": "parquet"},
                "schemaString": json.dumps(schema),
                "partitionColumns": [], "createdTime": 0}, None, None], type=meta_t),
            "sidecarFile": pa.array([None, None, None, {
                "path": os.path.basename(side),
                "sizeInBytes": os.path.getsize(side),
                "modificationTime": 0}, None], type=sf_t),
            "txn": pa.array([None, None, None, None,
                             {"appId": "v2app", "version": 9}], type=txn_t),
        }), cp)
    # vacuum the JSON: the v2 checkpoint is now the ONLY snapshot source
    for v in range(2):
        os.unlink(f"{t}/_delta_log/{v:020d}.json")


@pytest.mark.parametrize("form", ["parquet", "json"])
def test_v2_checkpoint_read(spark, tmp_path, form):
    """V2 checkpoints (UUID-named, sidecar'd parquet or inline json)
    must resolve the live set, carry the txn watermarks, and keep
    serving appends — with every JSON commit at/below them vacuumed."""
    t = str(tmp_path / f"v2_{form}")
    _v2_checkpoint_table(spark, t, form)
    got = sorted(r["x"] for r in read_delta_table(spark, t).collect())
    assert got == [0, 1, 2, 3, 10, 11, 12]
    assert last_txn_versions(t) == {"v2app": 9}
    # the writer's version allocator and state fold see the v2 form too
    v = write_delta_commit(_mk(spark, 100, 102), t, checkpoint_interval=0)
    assert v == 2
    got2 = sorted(r["x"] for r in read_delta_table(spark, t).collect())
    assert got2 == [0, 1, 2, 3, 10, 11, 12, 100, 101]


def test_deletion_vectors_run_containers_at_scale(spark, tmp_path):
    """A DV with RUN-encoded ranges (the container type real writers
    emit for contiguous deletes) over a 200k-row file: 10k-row blocks
    deleted at three offsets — decoded counts, masked scan, and the
    broadcast anti-join all line up."""
    import struct
    import zlib

    from data_pipeline_for_e_commerce_shop_spark.sources.delta_reader import (
        _roaring_array_positions,
    )

    # spec-literal RUN container bytes: cookie 12347 (high 16 bits =
    # containers-1), run bitset 0x1, key/card headers, numRuns + pairs
    runs = [(1000, 9999), (50000, 9999)]  # two 10k runs in key 0
    n_del_key0 = sum(l + 1 for _, l in runs)
    blob = struct.pack("<iq", 1681511377, 1)
    cookie = 12347 | ((2 - 1) << 16)  # 2 containers, run-capable
    blob += struct.pack("<i", cookie)
    blob += bytes([0b01])  # container 0 is runs, container 1 is array
    blob += struct.pack("<HH", 0, n_del_key0 - 1)  # key 0
    blob += struct.pack("<HH", 2, 9)  # key 2: 10 values, array form
    blob += struct.pack("<H", len(runs))
    for start, length in runs:
        blob += struct.pack("<HH", start, length)
    key2_vals = list(range(100, 110))  # positions 131172..131181
    blob += struct.pack(f"<{len(key2_vals)}H", *key2_vals)

    expect = sorted(
        [v for s, l in runs for v in range(s, s + l + 1)]
        + [(2 << 16) | v for v in key2_vals]
    )
    assert _roaring_array_positions(blob) == expect

    t = str(tmp_path / "dvbig")
    os.makedirs(f"{t}/_delta_log", exist_ok=True)
    _stage_one_file(spark, t, "big.parquet", 0, 200000)
    body = (b"\x01" + struct.pack(">i", len(blob)) + blob
            + struct.pack(">I", zlib.crc32(blob) & 0xFFFFFFFF))
    import uuid as _uuid

    u = _uuid.uuid4()
    with open(f"{t}/deletion_vector_{u}.bin", "wb") as f:
        f.write(body)
    schema = {"type": "struct", "fields": [
        {"name": "x", "type": "long", "nullable": True, "metadata": {}}]}
    actions = [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["deletionVectors"],
                      "writerFeatures": ["deletionVectors"]}},
        {"metaData": {"id": "m", "format": {"provider": "parquet",
                                            "options": {}},
                      "schemaString": json.dumps(schema),
                      "partitionColumns": [], "configuration": {},
                      "createdTime": 0}},
        {"add": {"path": "big.parquet", "partitionValues": {},
                 "size": os.path.getsize(f"{t}/big.parquet"),
                 "modificationTime": 0, "dataChange": True,
                 "deletionVector": {
                     "storageType": "u",
                     "pathOrInlineDv": _z85_encode(u.bytes),
                     "offset": 1, "sizeInBytes": len(blob),
                     "cardinality": len(expect)}}},
    ]
    with open(f"{t}/_delta_log/{0:020d}.json", "w") as f:
        for a in actions:
            f.write(json.dumps(a) + "\n")
    df = read_delta_table(spark, t)
    assert df.count() == 200000 - len(expect)
    # spot boundaries: run edges excluded/included exactly
    got = {r["x"] for r in df.where("x IN (999,1000,10999,11000,49999,50000,59999,60000)").collect()}
    assert got == {999, 11000, 49999, 60000}


def test_roaring_parser_property_random_sets():
    """Property: for random position sets (spanning array containers,
    32-bit key boundaries, and the >2^32 bitmap split), spec-literal
    encoding decodes back to exactly the sorted input.  Uses
    hypothesis if available, else a seeded random sweep."""
    from data_pipeline_for_e_commerce_shop_spark.sources.delta_reader import (
        _roaring_array_positions,
    )

    try:
        from hypothesis import given, settings
        from hypothesis import strategies as st

        @settings(max_examples=60, deadline=None)
        @given(
            st.sets(
                st.integers(min_value=0, max_value=(1 << 33) + 99999),
                min_size=1,
                max_size=400,
            )
        )
        def prop(pos):
            blob = _spec_roaring_array(sorted(pos))
            assert _roaring_array_positions(blob) == sorted(pos)

        prop()
    except ImportError:  # pragma: no cover — hypothesis is baked in
        import random

        rng = random.Random(6)
        for _ in range(40):
            pos = sorted(
                {
                    rng.randrange(0, (1 << 33))
                    for _ in range(rng.randrange(1, 400))
                }
            )
            blob = _spec_roaring_array(pos)
            assert _roaring_array_positions(blob) == pos
