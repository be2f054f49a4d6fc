"""Property tests for the sketch / exact-similarity / graph operators
added in round 2: invariants that hold by construction, checked
independently of the DuckDB oracles."""

from __future__ import annotations

from collections import defaultdict

from pyspark.sql import functions as F

from data_pipeline_for_e_commerce_shop_spark.operators import (
    bloom,
    dedup,
    graph,
    sketch,
)
from data_pipeline_for_e_commerce_shop_spark.schemas import load_table


def test_bloom_never_false_negative(spark, sf_dir):
    """Bloom filters overestimate membership, never underestimate:
    every true member must pass, so pass >= member and the audit
    column is exactly the difference."""
    out = bloom.bloom_prune_orders(spark, sf_dir).collect()
    assert out, "no order statuses"
    for r in out:
        assert r["n_bloom_pass"] >= r["n_member"]
        assert r["n_false_positive"] == r["n_bloom_pass"] - r["n_member"]
        assert r["n_orders"] >= r["n_bloom_pass"]


def test_cms_never_underestimates(spark, sf_dir):
    """Count-min estimates are exact counts plus non-negative
    collision mass."""
    out = sketch.cms_heavy_hitters(spark, sf_dir).collect()
    assert len(out) == 20
    for r in out:
        assert r["cms_n"] >= r["exact_n"]
        assert r["overestimate"] == r["cms_n"] - r["exact_n"]


def test_prefix_filter_matches_brute_force(spark, sf_dir):
    """Recall AND precision 1.0: the prefix-filtered join must return
    exactly the brute-force exact-Jaccard pairs (tau = 0.8)."""
    docs = load_table(spark, sf_dir, "documents")
    sets = {
        r["doc_id"]: set(r["hs"])
        for r in dedup._shingles(docs)
        .select(
            "doc_id",
            F.conv(F.substring(F.md5("shingle"), 1, 8), 16, 10)
            .cast("long")
            .alias("h"),
        )
        .groupBy("doc_id")
        .agg(F.collect_set("h").alias("hs"))
        .collect()
    }
    ids = sorted(sets)
    expected = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(sets[a] & sets[b])
            union = len(sets[a] | sets[b])
            if union and inter * 100 >= 80 * union:
                expected.add((a, b))
    got = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.prefix_filter_pairs(spark, sf_dir).collect()
    }
    assert got == expected


def test_triangle_count_consistency(spark, sf_dir):
    """Each triangle contributes exactly 3 node participations, and
    every participating node must be a vertex of the pruned graph."""
    out = graph.triangle_count(spark, sf_dir).collect()
    total = sum(r["n_triangles"] for r in out)
    assert total % 3 == 0
    if out:
        edges = graph.copurchase_edges(spark, sf_dir).collect()
        vertices = {r["src"] for r in edges}
        assert all(r["part_id"] in vertices for r in out)


def test_activity_streaks_invariants(spark, sf_dir):
    """longest <= total active days; streak partition sums to the
    distinct-day count."""
    from data_pipeline_for_e_commerce_shop_spark.operators import events

    out = events.activity_streaks(spark, sf_dir).collect()
    assert out
    ev = load_table(spark, sf_dir, "events")
    truth = {
        r["user_id"]: r["n"]
        for r in ev.select("user_id", F.to_date("ts").alias("d"))
        .distinct()
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    for r in out:
        assert r["longest_streak"] <= r["n_active_days"]
        assert r["n_streaks"] >= 1
        assert r["n_active_days"] == truth[r["user_id"]]


def test_hll_registers_match_python_model(spark):
    """The register pipeline (md5 hash -> bucket -> rho -> max) must
    equal a pure-Python replay for arbitrary user-id sets — a third
    implementation vote beside the DataFrame and DuckDB forms."""
    import hashlib

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from data_pipeline_for_e_commerce_shop_spark.operators.sketch import (
        HLL_P,
        _hll_registers,
        _user_hashes,
    )

    rem_bits = 32 - HLL_P
    rho_max = rem_bits + 1

    @settings(max_examples=10, deadline=None)
    @given(
        st.lists(
            st.integers(min_value=0, max_value=10**9),
            min_size=1,
            max_size=60,
            unique=True,
        )
    )
    def check(ids):
        df = spark.createDataFrame(
            [("t", i) for i in ids], "event_type string, user_id long"
        )
        got = {
            (r["bucket"], r["m_reg"])
            for r in _hll_registers(
                _user_hashes(df, ["event_type"]), ["event_type"], HLL_P
            ).collect()
        }
        model: dict[int, int] = {}
        for i in ids:
            h = int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16)
            bucket, rem = divmod(h, 1 << rem_bits)
            rho = (
                rho_max if rem == 0 else rho_max - rem.bit_length()
            )
            model[bucket] = max(model.get(bucket, 0), rho)
        assert got == set(model.items())

    check()
