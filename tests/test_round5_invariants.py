"""Round-5 invariants: Delta checkpoint read/write round-trip, the
data-derived near-dup block geometry, and the ema/holt fold guards.

The Delta tests exercise the PUBLIC _delta_log protocol end-to-end
with no delta package: our writer's commits + checkpoints must be
consumed by our reader (and be plain parquet/JSON any stock reader
parses), across append, overwrite, time travel, and a vacuumed-early-
JSON log where only the checkpoint can seed the state.
"""

from __future__ import annotations

import json
import os

import pytest

from data_pipeline_for_e_commerce_shop_spark.sources.delta_reader import (
    delta_log_versions,
    read_delta_table,
)
from data_pipeline_for_e_commerce_shop_spark.sources.delta_writer import (
    write_delta_commit,
)


def _mk(spark, lo, hi):
    return spark.range(lo, hi).selectExpr("id AS x")


def test_delta_writer_reader_roundtrip(spark, tmp_path):
    """Append + overwrite + time travel through our own commits."""
    t = str(tmp_path / "w1")
    v0 = write_delta_commit(_mk(spark, 0, 3), t)
    v1 = write_delta_commit(_mk(spark, 10, 12), t)
    assert (v0, v1) == (0, 1)
    assert {r["x"] for r in read_delta_table(spark, t).collect()} == {
        0, 1, 2, 10, 11,
    }
    v2 = write_delta_commit(_mk(spark, 100, 101), t, mode="overwrite")
    assert v2 == 2
    assert {r["x"] for r in read_delta_table(spark, t).collect()} == {100}
    # time travel to the pre-overwrite state
    assert {r["x"] for r in read_delta_table(spark, t, 1).collect()} == {
        0, 1, 2, 10, 11,
    }
    # commit 0 carries protocol + metaData with the real schemaString
    with open(f"{t}/_delta_log/{0:020d}.json") as f:
        actions = [json.loads(l) for l in f if l.strip()]
    kinds = [next(iter(a)) for a in actions]
    assert kinds[0] == "protocol" and kinds[1] == "metaData"
    assert "x" in actions[1]["metaData"]["schemaString"]


def test_delta_checkpoint_written_and_read_after_vacuum(spark, tmp_path):
    """>= checkpoint_interval commits emit <v>.checkpoint.parquet +
    _last_checkpoint; after the early JSON is vacuumed the reader must
    seed from the checkpoint and still resolve the exact live set —
    the r4 gap (older reference-produced tables were unreadable)."""
    t = str(tmp_path / "w2")
    for i in range(12):  # checkpoint lands at v9 (interval 10)
        write_delta_commit(_mk(spark, 10 * i, 10 * i + 2), t)
    log = f"{t}/_delta_log"
    cp = f"{log}/{9:020d}.checkpoint.parquet"
    assert os.path.exists(cp)
    last = json.load(open(f"{log}/_last_checkpoint"))
    assert last["version"] == 9
    expect = {x for i in range(12) for x in (10 * i, 10 * i + 1)}
    assert {r["x"] for r in read_delta_table(spark, t).collect()} == expect

    # vacuum the pre-checkpoint JSON: state must come from the parquet
    for v in range(9):
        os.unlink(f"{log}/{v:020d}.json")
    assert delta_log_versions(t) == [9, 10, 11]
    assert {r["x"] for r in read_delta_table(spark, t).collect()} == expect
    # time travel ACROSS the boundary: at v10, commit 11's files absent
    at10 = {r["x"] for r in read_delta_table(spark, t, 10).collect()}
    assert at10 == {x for i in range(11) for x in (10 * i, 10 * i + 1)}
    # ... but BEFORE the checkpoint, with JSON vacuumed, refuse loudly
    with pytest.raises(NotImplementedError, match="vacuumed|missing"):
        read_delta_table(spark, t, 5)
    # stock-reader interop surface: the checkpoint is plain parquet
    # with the canonical five structs
    import pyarrow.parquet as pq

    names = pq.read_schema(cp).names
    assert set(names) >= {"txn", "add", "remove", "metaData", "protocol"}


def test_delta_checkpoint_overwrite_state(spark, tmp_path):
    """A checkpoint taken after an overwrite must carry ONLY the
    post-overwrite live set (removes are not resurrected)."""
    t = str(tmp_path / "w3")
    for i in range(9):
        write_delta_commit(_mk(spark, i, i + 1), t)
    write_delta_commit(_mk(spark, 777, 779), t, mode="overwrite")  # v9 + cp
    log = f"{t}/_delta_log"
    assert os.path.exists(f"{log}/{9:020d}.checkpoint.parquet")
    for v in range(9):
        os.unlink(f"{log}/{v:020d}.json")
    assert {r["x"] for r in read_delta_table(spark, t).collect()} == {
        777, 778,
    }


def test_delta_commit_cas_no_silent_clobber(spark, tmp_path):
    """Two writers racing for the same version: the loser's os.link
    fails and it retries on a fresh log read — simulated by
    pre-claiming the version the writer is about to take."""
    t = str(tmp_path / "w4")
    write_delta_commit(_mk(spark, 0, 2), t)
    log = f"{t}/_delta_log"
    # competing writer claims v1 out from under the next commit
    with open(f"{log}/{1:020d}.json", "w") as f:
        f.write(json.dumps({"add": {"path": "nope.parquet",
                                    "dataChange": True}}) + "\n")
    v = write_delta_commit(_mk(spark, 5, 6), t)
    assert v == 2  # retried past the claimed version, nothing clobbered
    with open(f"{log}/{1:020d}.json") as f:
        assert "nope.parquet" in f.read()


def test_simhash_block_width_rule_scales():
    """The 1-row geometry rule: w grows with corpus size and clamps at
    the chunk width; bucket occupancy n / 2^w stays ~bounded."""
    from data_pipeline_for_e_commerce_shop_spark.operators import dedup

    def w_of(n):
        d = max(n // dedup.SIMHASH_BLOCK_TARGET, 1)
        return max(4, min(dedup.SIMHASH64_CHUNK_BITS, d.bit_length()))

    assert w_of(500) == 4
    assert w_of(50_000) == 11
    assert w_of(500_000) == 14
    assert w_of(20_000_000_000) == 28  # clamp (only past ~8.6e9 docs)
    for n in (500, 5_000, 50_000, 500_000, 2_000_000, 1_000_000_000):
        if w_of(n) < dedup.SIMHASH64_CHUNK_BITS:
            assert n / (1 << w_of(n)) <= 2 * dedup.SIMHASH_BLOCK_TARGET


def test_ema_holt_offset_division_is_floor(spark):
    """The offset trick must equal mathematical floor division for
    negative operands on the Spark side (DuckDB's newer `//` floors;
    1.0 truncates — the suspected r4 driver-red class)."""
    rows = spark.sql(
        "SELECT x, ((x + 1000000000000) div 10 - 100000000000) AS fd"
        " FROM VALUES (-27), (-20), (-7), (-1), (0), (7), (23) v(x)"
    ).collect()
    import math

    for r in rows:
        assert r["fd"] == math.floor(r["x"] / 10), r


def test_copurchase_support_density_rule(spark, tmp_path):
    """The data-derived co-purchase support threshold
    (graph.support_from_baskets) must equal
    max(floor, (pair_occ div n_parts) div 30) — engaging only when
    order density grows against the catalog — and prune edges with
    the raised threshold.  Pure-Python replay of the 1-row rule."""
    import os

    from data_pipeline_for_e_commerce_shop_spark.operators import graph

    d = str(tmp_path / "dense")
    os.makedirs(d, exist_ok=True)
    # 60 copies of the same 3-part basket + 1 singleton pair basket:
    # dense co-occurrence on a 4-part catalog.
    rows = []
    for o in range(60):
        for pk in (1, 2, 3):
            rows.append((o, pk))
    rows.append((60, 1))
    rows.append((60, 4))
    spark.createDataFrame(
        rows, "l_orderkey long, l_partkey long"
    ).write.mode("overwrite").parquet(f"{d}/lineitem.parquet")
    spark.createDataFrame(
        [(i,) for i in range(1, 5)], "p_partkey long"
    ).write.mode("overwrite").parquet(f"{d}/part.parquet")

    # pair_occ = 60 * C(3,2) + C(2,2 pairs)=1 = 181; n_parts = 4
    # thr = max(2, (181 div 4) div 30) = max(2, 1) = 2 at divisor 30
    baskets = graph.basket_sets(spark, d)
    thr = graph.support_from_baskets(spark, d, baskets).collect()[0]["s"]
    baskets.unpersist()
    occ = 60 * 3 + 1
    exp = max(
        graph.MIN_SUPPORT, (occ // 4) // graph.SUPPORT_DENSITY_DIVISOR
    )
    assert thr == exp
    edges = graph.copurchase_edges(spark, d)
    ws = {(r["src"], r["dst"]): r["w"] for r in edges.collect()}
    # the 60-strong triangle survives, the singleton (1,4) pair dies
    assert all(w >= thr for w in ws.values())
    assert (1, 4) not in ws and (4, 1) not in ws
    assert ws[(1, 2)] == 60


def test_delta_multipart_checkpoint_read(spark, tmp_path):
    """Multi-part checkpoints (<v>.checkpoint.<i>.<n>.parquet) must be
    read as the union of their parts; an INCOMPLETE part set (an
    in-flight checkpoint) must be ignored rather than half-read."""
    import pyarrow.parquet as pq

    t = str(tmp_path / "mp")
    for i in range(3):
        write_delta_commit(_mk(spark, 10 * i, 10 * i + 2), t)
    log = f"{t}/_delta_log"
    # build the classic checkpoint at v2, then split its rows into
    # two protocol-named parts and remove the single-file form
    from data_pipeline_for_e_commerce_shop_spark.sources.delta_writer import (
        _write_checkpoint,
    )

    _write_checkpoint(t, 2)
    single = f"{log}/{2:020d}.checkpoint.parquet"
    tbl = pq.read_table(single)
    n = tbl.num_rows
    pq.write_table(
        tbl.slice(0, n // 2),
        f"{log}/{2:020d}.checkpoint.{1:010d}.{2:010d}.parquet",
    )
    pq.write_table(
        tbl.slice(n // 2),
        f"{log}/{2:020d}.checkpoint.{2:010d}.{2:010d}.parquet",
    )
    os.unlink(single)
    for v in range(2):
        os.unlink(f"{log}/{v:020d}.json")
    expect = {x for i in range(3) for x in (10 * i, 10 * i + 1)}
    assert {r["x"] for r in read_delta_table(spark, t).collect()} == expect

    # an incomplete part set must NOT be used: drop part 2 of 2 —
    # with the JSON also gone the reader must refuse, not half-read
    os.unlink(f"{log}/{2:020d}.checkpoint.{2:010d}.{2:010d}.parquet")
    with pytest.raises(NotImplementedError, match="vacuumed|missing"):
        read_delta_table(spark, t)


def test_delta_log_random_histories_match_model(spark, tmp_path):
    """Hypothesis replay: arbitrary append/overwrite histories (with
    checkpoints landing every 10 commits and the pre-checkpoint JSON
    vacuumed) must read back exactly the pure-Python log model at
    EVERY still-reconstructible version — the protocol invariant the
    point tests sample, checked over random histories."""
    import shutil

    from hypothesis import HealthCheck, given, settings, strategies as st

    op = st.tuples(
        st.booleans(),                      # overwrite?
        st.integers(min_value=1, max_value=3),  # rows in this commit
    )
    counter = [0]

    @settings(
        max_examples=4,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(st.lists(op, min_size=1, max_size=13))
    def check(ops):
        counter[0] += 1
        t = str(tmp_path / f"h{counter[0]}")
        shutil.rmtree(t, ignore_errors=True)
        model: list[set[int]] = []   # live value-set per version
        nxt = 0
        for v, (ow, k) in enumerate(ops):
            vals = set(range(nxt, nxt + k))
            nxt += k
            write_delta_commit(
                _mk(spark, min(vals), max(vals) + 1),
                t,
                mode="overwrite" if ow else "append",
            )
            prev = model[-1] if model and not ow else set()
            model.append(prev | vals)
        # vacuum everything a checkpoint makes redundant
        log = f"{t}/_delta_log"
        cps = [v for v in range(len(ops)) if (v + 1) % 10 == 0]
        if cps:
            for v in range(max(cps)):
                os.unlink(f"{log}/{v:020d}.json")
        floor = max(cps) if cps else 0
        for v in range(len(ops)):
            if v < floor:
                with pytest.raises(NotImplementedError):
                    read_delta_table(spark, t, v)
            else:
                got = {
                    r["x"]
                    for r in read_delta_table(spark, t, v).collect()
                }
                assert got == model[v], (v, ops)

    check()


def test_delta_exactly_once_streaming_sink(spark, tmp_path):
    """The SetTransaction handshake: a replayed micro-batch (same
    batch_id) must be skipped, the txn watermark must survive a
    checkpoint + vacuum, and two apps' watermarks are independent."""
    from data_pipeline_for_e_commerce_shop_spark.sources.delta_reader import (
        last_txn_versions,
    )
    from data_pipeline_for_e_commerce_shop_spark.streaming.delta_sink import (
        delta_exactly_once_sink,
    )

    t = str(tmp_path / "eo")
    sink = delta_exactly_once_sink(t, "kpi-stream")
    assert sink(_mk(spark, 0, 2), 0) == 0
    assert sink(_mk(spark, 10, 12), 1) == 1
    # crash/restart replays batch 1: must be a no-op
    assert sink(_mk(spark, 10, 12), 1) is None
    got = {r["x"] for r in read_delta_table(spark, t).collect()}
    assert got == {0, 1, 10, 11}
    assert last_txn_versions(t) == {"kpi-stream": 1}

    # a second app under the same table keeps its own watermark
    sink2 = delta_exactly_once_sink(t, "audit-stream")
    assert sink2(_mk(spark, 100, 101), 0) is not None
    assert last_txn_versions(t)["audit-stream"] == 0
    assert last_txn_versions(t)["kpi-stream"] == 1

    # drive past the checkpoint interval, vacuum the early JSON: the
    # watermark must come back from the checkpoint's txn rows
    for b in range(2, 9):
        sink(_mk(spark, 10 * b, 10 * b + 1), b)
    log = f"{t}/_delta_log"
    assert os.path.exists(f"{log}/{9:020d}.checkpoint.parquet")
    for v in range(9):
        os.unlink(f"{log}/{v:020d}.json")
    wm = last_txn_versions(t)
    assert wm["kpi-stream"] == 8 and wm["audit-stream"] == 0
    # and the replay guard still holds after vacuum
    assert sink(_mk(spark, 999, 1000), 8) is None
    assert sink(_mk(spark, 999, 1000), 9) is not None


def test_bottomk_sketch_merge_law(spark):
    """The quantile sketch's mergeability claim: bottom-k of a union
    equals bottom-k of the union of the parts' bottom-k's — checked
    on random splits with a small k in pure Python against the same
    md5 draw the query uses."""
    import hashlib

    from hypothesis import given, settings, strategies as st

    from data_pipeline_for_e_commerce_shop_spark.queries import QSKETCH_K

    assert QSKETCH_K == 256  # oracle interpolates this constant

    def h(x: int) -> int:
        return int(hashlib.md5(f"qs-{x}".encode()).hexdigest()[:8], 16)

    k = 5

    @settings(max_examples=50, deadline=None)
    @given(
        st.lists(
            st.integers(min_value=0, max_value=10_000),
            min_size=1,
            max_size=60,
            unique=True,
        ),
        st.integers(min_value=0, max_value=59),
    )
    def check(ids, cut):
        cut = min(cut, len(ids))
        a, b = ids[:cut], ids[cut:]

        def bottomk(xs):
            return sorted(xs, key=lambda x: (h(x), x))[:k]

        assert bottomk(ids) == bottomk(bottomk(a) + bottomk(b))

    check()
