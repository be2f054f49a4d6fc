"""Coalescing-merge properties (reference helperfunction.py:110-208
branch matrix): idempotency, partial-then-complete convergence,
provenance accumulation — including hypothesis property tests."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T

from data_pipeline_for_e_commerce_shop_spark.operators.merge import coalescing_merge

SCHEMA = T.StructType(
    [
        T.StructField("k", T.StringType(), False),
        T.StructField("a", T.LongType(), True),
        T.StructField("b", T.DoubleType(), True),
        T.StructField("data_sources", T.ArrayType(T.StringType()), True),
    ]
)


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _as_map(df):
    return {
        r["k"]: (r["a"], r["b"], tuple(r["data_sources"] or ()))
        for r in df.collect()
    }


def test_new_over_old_coalesce(spark):
    target = _df(spark, [("d1", 5, None, ["orders"])])
    source = _df(spark, [("d1", None, 9.5, ["order_items"])])
    merged = coalescing_merge(target, source, ["k"], ["a", "b"])
    assert _as_map(merged) == {"d1": (5, 9.5, ("order_items", "orders"))}


def test_insert_and_preserve(spark):
    target = _df(spark, [("d1", 1, 1.0, ["orders"])])
    source = _df(spark, [("d2", 2, 2.0, ["orders"])])
    merged = coalescing_merge(target, source, ["k"], ["a", "b"])
    assert _as_map(merged) == {
        "d1": (1, 1.0, ("orders",)),
        "d2": (2, 2.0, ("orders",)),
    }


def test_source_wins_on_conflict(spark):
    """complete-batch branch (helperfunction.py:186-201): non-null
    source values overwrite."""
    target = _df(spark, [("d1", 1, 1.0, ["orders"])])
    source = _df(spark, [("d1", 7, 7.0, ["orders"])])
    merged = coalescing_merge(target, source, ["k"], ["a", "b"])
    assert _as_map(merged) == {"d1": (7, 7.0, ("orders",))}


def test_merge_idempotent(spark):
    target = _df(spark, [("d1", 1, None, ["orders"])])
    source = _df(spark, [("d1", None, 2.0, ["order_items"]), ("d2", 3, 3.0, ["orders"])])
    once = coalescing_merge(target, source, ["k"], ["a", "b"])
    twice = coalescing_merge(once, source, ["k"], ["a", "b"])
    assert _as_map(once) == _as_map(twice)


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    tgt=st.dictionaries(
        st.sampled_from(["d1", "d2", "d3"]),
        st.tuples(
            st.one_of(st.none(), st.integers(0, 100)),
            st.one_of(st.none(), st.floats(0, 100, allow_nan=False)),
        ),
        max_size=3,
    ),
    src=st.dictionaries(
        st.sampled_from(["d1", "d2", "d3", "d4"]),
        st.tuples(
            st.one_of(st.none(), st.integers(0, 100)),
            st.one_of(st.none(), st.floats(0, 100, allow_nan=False)),
        ),
        max_size=4,
    ),
)
def test_merge_matches_model(spark, tgt, src):
    """Property: the DataFrame merge equals the obvious per-key Python
    model (field-wise coalesce new-over-old, provenance union)."""
    target = _df(spark, [(k, a, b, ["t"]) for k, (a, b) in tgt.items()])
    source = _df(spark, [(k, a, b, ["s"]) for k, (a, b) in src.items()])
    merged = _as_map(coalescing_merge(target, source, ["k"], ["a", "b"]))

    expected = {}
    for k in set(tgt) | set(src):
        ta, tb = tgt.get(k, (None, None))
        sa, sb = src.get(k, (None, None))
        prov = tuple(
            sorted((["t"] if k in tgt else []) + (["s"] if k in src else []))
        )
        expected[k] = (
            sa if sa is not None else ta,
            sb if sb is not None else tb,
            prov,
        )
    assert merged == expected


def test_upsert_crash_window_keeps_a_copy(spark, tmp_path, monkeypatch):
    """The parquet-merge emulation's crash contract: if the process
    dies anywhere in the swap, a COMPLETE copy of the table exists at
    the primary path or at the __upsert_bak_* sibling — never zero
    copies (the pre-fix overwrite-in-place had exactly that window).
    Simulated by failing the backup cleanup (the last swap step)."""
    import shutil as _shutil

    from data_pipeline_for_e_commerce_shop_spark.operators import merge as m

    path = str(tmp_path / "kpi")
    base = _df(spark, [("k1", 1, 1.0, ["a"])])
    m.upsert_parquet_table(spark, path, base, ["k"], ["a", "b"])

    real_rmtree = _shutil.rmtree

    def boom(p, *a, **kw):
        if "__upsert_bak_" in str(p):
            raise OSError("simulated crash before backup cleanup")
        return real_rmtree(p, *a, **kw)

    monkeypatch.setattr("shutil.rmtree", boom)
    src = _df(spark, [("k1", 2, None, ["b"])])
    with pytest.raises(OSError, match="simulated crash"):
        m.upsert_parquet_table(spark, path, src, ["k"], ["a", "b"])
    # Primary path holds the COMPLETE merged result (swap finished
    # before the simulated crash), and the backup sibling still holds
    # the full pre-merge copy for manual recovery.
    after = _as_map(spark.read.parquet(path))
    assert after["k1"][0] == 2 and after["k1"][1] == 1.0
    baks = [d for d in tmp_path.iterdir() if "__upsert_bak_" in d.name]
    assert len(baks) == 1
    assert _as_map(spark.read.parquet(str(baks[0])))["k1"][0] == 1


def test_upsert_recovers_from_crash_between_swap_renames(
    spark, tmp_path, monkeypatch
):
    """A crash between the swap's two renames leaves the table only at
    the __upsert_bak_* sibling.  The next upsert must put that backup
    back before it reads the table: otherwise it finds no table, writes
    only its own batch and silently drops the KPI history."""
    import os as _os

    from data_pipeline_for_e_commerce_shop_spark.operators import merge as m

    path = str(tmp_path / "kpi")
    base = _df(spark, [("k1", 1, 1.0, ["a"]), ("k2", 2, 2.0, ["a"])])
    m.upsert_parquet_table(spark, path, base, ["k"], ["a", "b"])

    real_rename = _os.rename
    calls = {"n": 0}

    def crash_on_promote(src, dst):
        calls["n"] += 1
        if calls["n"] == 2:  # original already aside, copy not promoted
            raise OSError("simulated crash between the swap's renames")
        return real_rename(src, dst)

    monkeypatch.setattr("os.rename", crash_on_promote)
    with pytest.raises(OSError, match="simulated crash"):
        m.upsert_parquet_table(
            spark, path, _df(spark, [("k3", 3, None, ["b"])]), ["k"], ["a", "b"]
        )
    assert not _os.path.exists(path)  # the crash window

    m.upsert_parquet_table(
        spark, path, _df(spark, [("k4", 4, 4.0, ["c"])]), ["k"], ["a", "b"]
    )
    after = _as_map(spark.read.parquet(path))
    # the crashed batch never committed; the history and the next
    # batch are both there
    assert sorted(after) == ["k1", "k2", "k4"]
    assert after["k1"] == (1, 1.0, ("a",))
    assert [d.name for d in tmp_path.iterdir()] == ["kpi"]


def test_upsert_concurrent_writer_boundary(spark, tmp_path):
    """Documents the PLAIN-PARQUET emulation's declared limit (no
    commit log): two interleaved read-modify-write upserts exhibit
    LOST UPDATE — the second writer, having read before the first
    wrote, silently drops the first writer's rows.  Delta's optimistic
    concurrency would instead fail the second commit.  That behavior
    exists on the Delta log: merge.upsert_versioned_table pins the
    version it read, rejects the stale commit and retries on the new
    latest version (tests/test_round4_invariants.test_versioned_cas_
    two_writers_exactly_one_wins); this test keeps asserting the plain
    path's boundary so the difference stays documented."""
    from data_pipeline_for_e_commerce_shop_spark.operators.merge import (
        coalescing_merge,
        upsert_parquet_table,
    )

    path = str(tmp_path / "kpi")
    upsert_parquet_table(
        spark, path, _df(spark, [("k0", 1, 1.0, ["base"])]), ["k"], ["a", "b"]
    )
    # Writer A and writer B both read the CURRENT table (interleaved
    # read phase), then write sequentially — B's write wins.
    snapshot = spark.read.parquet(path).localCheckpoint(eager=True)
    a_merged = coalescing_merge(
        snapshot, _df(spark, [("kA", 2, None, ["wa"])]), ["k"], ["a", "b"]
    ).localCheckpoint(eager=True)
    b_merged = coalescing_merge(
        snapshot, _df(spark, [("kB", 3, None, ["wb"])]), ["k"], ["a", "b"]
    ).localCheckpoint(eager=True)
    a_merged.write.mode("overwrite").parquet(path)
    b_merged.write.mode("overwrite").parquet(path)
    final = _as_map(spark.read.parquet(path))
    assert "kB" in final and "k0" in final
    assert "kA" not in final  # the documented lost update


def test_concurrent_sibling_swaps_keep_every_key(spark, tmp_path):
    """Upserts into sibling tables may run at once: each swap clears
    only the staging and backup debris named after its own table, so
    neither deletes the other's staged copy mid-swap."""
    import os
    import threading

    from data_pipeline_for_e_commerce_shop_spark.operators.merge import (
        upsert_parquet_table,
    )

    names, errors = ("category", "order"), []

    def writer(name):
        try:
            for i in range(10):
                src = _df(spark, [(f"{name}{i}", i, float(i), [name])])
                upsert_parquet_table(spark, str(tmp_path / name), src, ["k"], ["a", "b"])
        except Exception as e:  # surfaced on the test's thread
            errors.append(e)

    threads = [threading.Thread(target=writer, args=(n,)) for n in names]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    for name in names:
        got = _as_map(spark.read.parquet(str(tmp_path / name)))
        assert sorted(got) == sorted(f"{name}{i}" for i in range(10))
    assert sorted(os.listdir(tmp_path)) == list(names)
