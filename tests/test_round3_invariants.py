"""Mathematical invariants of the round-3 session-4 operators.

Oracle parity proves Spark and DuckDB agree; these tests prove both
agree with the MATH — identities that hold for the underlying
definitions regardless of data (efficiency axiom, budget
conservation, argmax consistency, simulation bounds), so an error
that slipped into BOTH sides identically would still be caught.
"""

from __future__ import annotations

import duckdb

from data_pipeline_for_e_commerce_shop_spark.queries import QUERIES


def test_shapley_efficiency_axiom(spark, sf_dir):
    """Σ_i φ_i = v(grand coalition) − v(∅), x24-scaled — the Shapley
    efficiency axiom over the exact lattice the query builds."""
    rows = QUERIES["events_shapley_attribution"](spark, sf_dir).collect()
    total_x24 = sum(r["shapley_x24_ppm"] for r in rows)

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT *"
        f" FROM '{sf_dir}/events.parquet'"
    )
    # replay the per-user mask + conversion rollup independently
    v = con.execute(
        """
        WITH fp AS (
          SELECT user_id, MIN(ts) AS t FROM events
          WHERE event_type = 'purchase' GROUP BY 1
        ),
        pre AS (
          SELECT e.user_id,
                 MAX(CASE WHEN e.event_type = 'view' THEN 1 ELSE 0 END)
                   + 2 * MAX(CASE WHEN e.event_type = 'click'
                             THEN 1 ELSE 0 END)
                   + 4 * MAX(CASE WHEN e.event_type = 'signup'
                             THEN 1 ELSE 0 END)
                   + 8 * MAX(CASE WHEN e.event_type = 'error'
                             THEN 1 ELSE 0 END) AS mask
          FROM events e LEFT JOIN fp ON e.user_id = fp.user_id
          WHERE e.event_type <> 'purchase'
            AND (fp.t IS NULL OR e.ts < fp.t)
          GROUP BY e.user_id
        ),
        users AS (
          SELECT u.user_id, COALESCE(p.mask, 0) AS mask,
                 CASE WHEN f.user_id IS NULL THEN 0 ELSE 1 END AS conv
          FROM (SELECT DISTINCT user_id FROM events) u
          LEFT JOIN pre p USING (user_id)
          LEFT JOIN fp f ON u.user_id = f.user_id
        )
        SELECT mask, COUNT(*) AS n, SUM(conv) AS c
        FROM users GROUP BY mask
        """
    ).fetchall()
    rates = {m: (c * 1_000_000) // n for m, n, c in v}
    expected = 24 * (rates.get(15, 0) - rates.get(0, 0))
    assert total_x24 == expected


def test_neyman_allocation_sums_to_budget(spark, sf_dir):
    from data_pipeline_for_e_commerce_shop_spark.queries import (
        NEYMAN_BUDGET,
    )

    rows = QUERIES["neyman_allocation"](spark, sf_dir).collect()
    assert sum(r["alloc_n"] for r in rows) == NEYMAN_BUDGET
    assert all(r["alloc_n"] >= 0 for r in rows)


def test_max_drawdown_consistency(spark, sf_dir):
    [r] = QUERIES["revenue_max_drawdown"](spark, sf_dir).collect()
    assert r["peak_day_epoch"] <= r["trough_day_epoch"]
    assert r["drawdown"] == r["peak_rev"] - r["trough_rev"]
    assert r["drawdown"] >= 0
    assert 0 <= r["drawdown_ppm"] <= 1_000_000


def test_trend_robust_median_within_extremes(spark, sf_dir):
    [r] = QUERIES["revenue_trend_robust"](spark, sf_dir).collect()
    # the lower median of n_pairs slopes exists and |S| <= n_pairs
    assert abs(r["mk_s"]) <= r["n_pairs"]
    assert r["n_pairs"] == r["n_days"] * (r["n_days"] - 1) // 2


def test_inventory_replay_bounds(spark, sf_dir):
    rows = QUERIES["part_inventory_replay"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r["n_orders"] <= r["n_days"]
        assert 0 <= r["stockout_days"] <= r["n_days"]
        assert r["lost_units"] >= 0
        assert 0 <= r["end_inventory"] <= 3 * r["mean_q"]


def test_packing_efficiency_monotone(spark, sf_dir):
    rows = QUERIES["corpus_packing_efficiency"](spark, sf_dir).collect()
    by_ctx = sorted(rows, key=lambda r: r["ctx"])
    # kept tokens grow with context; truncated-doc count shrinks
    kept = [r["kept_tokens"] for r in by_ctx]
    trunc = [r["n_truncated"] for r in by_ctx]
    assert kept == sorted(kept)
    assert trunc == sorted(trunc, reverse=True)
    for r in by_ctx:
        assert r["kept_tokens"] <= r["total_tokens"]
        assert 0 <= r["packed_waste_ppm"] <= r["pad_waste_ppm"]


def test_waterfall_reconciles(spark, sf_dir):
    for r in QUERIES["category_price_waterfall"](spark, sf_dir).collect():
        assert (
            r["net_cents"]
            == r["gross_cents"] - r["discount_cents"] + r["tax_cents"]
        )
        assert 0 <= r["discount_leakage_ppm"] <= 1_000_000


def test_quantile_bands_ordered(spark, sf_dir):
    for r in QUERIES["category_quantile_bands"](spark, sf_dir).collect():
        assert r["q25_qcents"] <= r["q50_qcents"] <= r["q75_qcents"]


def test_shrinkage_pulls_toward_prior(spark, sf_dir):
    rows = QUERIES["part_return_shrinkage"](spark, sf_dir).collect()
    assert rows
    # global rate from the same table
    con = duckdb.connect()
    tot_r, tot_n = con.execute(
        f"SELECT SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END),"
        f" COUNT(*) FROM '{sf_dir}/lineitem.parquet'"
    ).fetchone()
    g_ppm = tot_r * 1_000_000 // tot_n
    for r in rows:
        lo, hi = sorted((r["raw_ppm"], g_ppm))
        # shrunk rate lies between raw and global (±1 for floor)
        assert lo - 1 <= r["shrunk_ppm"] <= hi + 1


def test_positional_boundary_structs_match_ntile(spark, sf_dir):
    """The bucket-walk boundary picks must reproduce F.ntile's exact
    positional assignment (same key-tiebroken total order) — the
    contract price_qty_dependence_grid's binning relies on."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from data_pipeline_for_e_commerce_shop_spark.operators.windows import (
        positional_boundary_structs,
    )
    from data_pipeline_for_e_commerce_shop_spark.schemas import load_table

    pts = load_table(spark, sf_dir, "lineitem").select(
        F.expr(
            "CAST(floor(l_extendedprice * 100 / l_quantity) AS BIGINT)"
        ).alias("v"),
        "l_orderkey",
        "l_linenumber",
    )
    ranks = (
        "transform(sequence(1, 4),"
        " i -> i * (n div 5) + least(CAST(i AS BIGINT), n % 5))"
    )
    b = positional_boundary_structs(
        pts, [("bounds", "v", ["l_orderkey", "l_linenumber"], 10000)], ranks
    )
    got = pts.crossJoin(F.broadcast(b)).select(
        "v",
        "l_orderkey",
        "l_linenumber",
        F.expr(
            "1 + size(filter(bounds, b ->"
            " b < struct(v, l_orderkey, l_linenumber)))"
        ).alias("q_walk"),
        F.ntile(5)
        .over(Window.orderBy("v", "l_orderkey", "l_linenumber"))
        .alias("q_ntile"),
    )
    assert got.where(F.col("q_walk") != F.col("q_ntile")).count() == 0
