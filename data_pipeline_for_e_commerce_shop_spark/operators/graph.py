"""Graph scoring over the co-purchase graph — authority ranking, the
second iterative graph algorithm after connected components
(operators/dedup.py).  Corpus-curation pipelines run the same shape as
document/domain authority scoring (PageRank-style centrality over the
link graph) to prioritize crawl seeds; here the graph is part
co-occurrence in orders (see operators/basket.py).

Arithmetic contract: every quantity is BIGINT.  Scores start at SCALE
micro-units; each transfer floors ``pr·w DIV outw`` and the damping
mix floors ``85·x DIV 100`` — integer-exact, so the unrolled DuckDB
oracle replays the identical trajectory (same device as the Lloyd
k-means and CC oracles).

Scale (100 TB): one fact scan builds the edge list (in-bucket pair
expansion — no fact self-join); each iteration is edges⋈scores on src
(both sides hash-partitioned by src; at scale persist the edge list
partitioned by src ONCE and every round reuses the layout) followed by
a groupBy(dst) whose map-side partials shrink the shuffle to one row
per (partition, dst).  n_iter is fixed, so the WHOLE ranking is one
lazy plan — no per-round driver action at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_pipeline_for_e_commerce_shop_spark.operators.layout import fan_out
from data_pipeline_for_e_commerce_shop_spark.schemas import load_table

PR_SCALE = 1_000_000  # initial score in micro-units
PR_D_NUM = 85  # damping 0.85 as an integer ratio
PR_D_DEN = 100
PR_ITER = 2
# Default co-purchase support FLOOR; interpolated into the registered
# oracle SQL (queries.py) so operator and oracle cannot drift.
MIN_SUPPORT = 2
# Density divisor for the data-derived support threshold (r4 VERDICT
# item 7): the effective threshold is
#   max(MIN_SUPPORT, (pair_occurrences div n_parts) div 30)
# where pair_occurrences = sum over orders of C(#parts-in-order, 2) —
# the expected co-occurrence load per catalog part, from one cheap
# linear aggregate.  At every test SF the ratio is < 60 so the
# threshold stays at the floor (recorded oracle hashes unchanged);
# when order density grows against a fixed catalog — the real-scale
# regime replication cannot simulate — the threshold rises
# proportionally and the edge list stays ~linear in the catalog
# instead of saturating toward all-pairs.  Both engines replay the
# same 1-row rule, so hashes remain valid at any density.
SUPPORT_DENSITY_DIVISOR = 30


def basket_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-order sorted distinct part set ``(l_orderkey, ps)`` —
    persisted because every caller reads it at least twice (the pair
    expansion AND the support/degree branch); the table is
    order-count-sized with bounded arrays, so the cache is cheap at
    any scale while the saved re-aggregation is a full fact shuffle
    per extra consumer (r7 opt: the support scalar's separate
    countDistinct pipeline measured as expensive as the whole pair
    aggregation).  r8: columnar persist() replaced the lazy
    localCheckpoint — the checkpoint's java-row materialization
    barrier serialized the consumers (family A/B at sf0.1:
    part_degree_profile 4.03 -> 2.28, basket_triples 3.47 -> 2.82,
    part_hyperball_reach 5.12 -> 4.27, itemcf 1.58 -> 1.32)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    # spread the collect_set map side of a single-split scan
    li = fan_out(li, "l_orderkey")
    return (
        li.groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("ps"))
        .persist()
    )


def support_from_baskets(
    spark: SparkSession,
    sf_dir: str,
    baskets: DataFrame,
    floor: int = MIN_SUPPORT,
) -> DataFrame:
    """1-row (s BIGINT) density-derived support threshold — see
    SUPPORT_DENSITY_DIVISOR; the SQL twin is queries._support_scalar.
    occ is derived from the already-aggregated basket sets:
    ``size(ps) == countDistinct(l_partkey)`` per order, so
    ``SUM(size(ps)·(size(ps)−1) div 2)`` is the pair-occurrence count
    read off the persisted baskets instead of a re-shuffle of the
    fact.  Broadcast-crossJoined by every consumer."""
    occ = baskets.agg(
        F.expr(
            "CAST(SUM(CAST(size(ps) AS BIGINT) * (size(ps) - 1) div 2)"
            " AS BIGINT)"
        ).alias("occ")
    )
    np_ = load_table(spark, sf_dir, "part").agg(
        F.count(F.lit(1)).alias("n_parts")
    )
    return occ.crossJoin(F.broadcast(np_)).select(
        F.expr(
            f"GREATEST(CAST({floor} AS BIGINT),"
            f" (occ div n_parts) div {SUPPORT_DENSITY_DIVISOR})"
        ).alias("s")
    )


def basket_pairs(baskets: DataFrame, with_order: bool = False) -> DataFrame:
    """In-bucket (part_a < part_b) pair expansion of basket sets —
    the no-fact-self-join shape basket.part_pair_topk documents.
    ``with_order=True`` keeps l_orderkey (one row per order-pair)."""
    expanded = F.explode(
        F.expr(
            "flatten(transform(ps, (x, i) ->"
            " transform(slice(ps, i + 2, size(ps)), y ->"
            " struct(x AS part_a, y AS part_b))))"
        )
    ).alias("pair")
    if with_order:
        return baskets.select("l_orderkey", expanded).select(
            "l_orderkey", "pair.part_a", "pair.part_b"
        )
    return baskets.select(expanded).select("pair.part_a", "pair.part_b")


def supported_pairs(
    spark: SparkSession, sf_dir: str, min_support: int = MIN_SUPPORT
) -> DataFrame:
    """Support-pruned undirected co-purchase pairs
    ``(part_a < part_b, w)`` — the shared prefix of the whole graph
    family.  ONE lineitem pass: both the pair expansion and the
    density-derived support threshold read the same checkpointed
    basket sets."""
    baskets = basket_sets(spark, sf_dir)
    return (
        basket_pairs(baskets)
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("w"))
        .crossJoin(
            F.broadcast(
                support_from_baskets(spark, sf_dir, baskets, min_support)
            )
        )
        .where(F.col("w") >= F.col("s"))
        .drop("s")
    )


def copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed edge list (src, dst, w) — both directions of the
    undirected co-purchase pair, w = number of orders containing both
    parts, pruned to pairs seen in at least `MIN_SUPPORT` orders.  Same
    in-bucket expansion as basket.part_pair_topk: one scan, no fact
    self-join.

    The support threshold is the standard association-mining noise
    gate: singleton co-occurrences are coincidence, not signal, and on
    a sparse catalog they are ~all pairs (sf0.1: 1.196M pairs, of
    which only 3.6k repeat).  Pruning BEFORE the union/direction step
    keeps the iterated edge table signal-sized; the full pair
    aggregate still runs once — it is the same shape the basket_pairs
    query pays.  r7 opt: pairs AND support both derive from one
    checkpointed basket-set table (guide §2.4 — share the pass), which
    removed the separate fact-shuffling countDistinct support pipeline
    (measured 1.8x at sf0.1, identical rows); the pruned pair set is
    eager-checkpointed BEFORE the direction union so the aggregation
    runs once however many consumer jobs (incl. concurrent broadcast
    jobs) scan the edge list."""
    und = supported_pairs(spark, sf_dir).localCheckpoint(eager=True)
    fwd = und.select(
        F.col("part_a").alias("src"), F.col("part_b").alias("dst"), "w"
    )
    rev = und.select(
        F.col("part_b").alias("src"), F.col("part_a").alias("dst"), "w"
    )
    return fwd.unionByName(rev)


def part_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank over the co-purchase graph, `PR_ITER` damped
    rounds from a uniform SCALE start.  Every node has out-edges (both
    directions are materialized), so there is no dangling mass.

    Returns (part_id, pr) — the final micro-unit score per part.
    """
    # Materialize the NARROW (src, dst, w) edge list ONCE: without the
    # checkpoint every later mention re-expands the scan→basket→pair
    # subtree and the unrolled plan grows combinatorially (observed:
    # 28 scans / 82 exchanges for 2 rounds; 1 after).  Same device as
    # the connected-components lineage truncation — at 100 TB this is
    # the persisted, src-partitioned edge list every iteration reuses.
    edges = copurchase_edges(spark, sf_dir).localCheckpoint(eager=False)
    # out-weight and score tables are NODE-sized (≪ edges): checkpoint
    # outw once, then each round joins them onto the edge list as
    # BROADCASTS — the edge table itself never shuffles; the only
    # per-round exchange is the groupBy(dst), shrunk map-side to one
    # row per (partition, dst).  At a node count past broadcast reach,
    # drop the hints and both joins fall back to hash joins on src —
    # the same plan Pregel-style engines run.
    outw = (
        edges.groupBy("src")
        .agg(F.sum("w").alias("outw"))
        .localCheckpoint(eager=False)
    )
    nodes = outw.select(F.col("src").alias("part_id"))

    base = (PR_D_DEN - PR_D_NUM) * PR_SCALE // PR_D_DEN
    pr = nodes.select("part_id", F.lit(PR_SCALE).cast("long").alias("pr"))
    for _ in range(PR_ITER):
        contrib = (
            edges.join(
                F.broadcast(pr.select(F.col("part_id").alias("src"), "pr")),
                "src",
            )
            .join(F.broadcast(outw), "src")
            .select("dst", F.expr("pr * w div outw").alias("share"))
            .groupBy("dst")
            .agg(F.sum("share").alias("inflow"))
        )
        pr = (
            nodes.join(
                F.broadcast(
                    contrib.select(F.col("dst").alias("part_id"), "inflow")
                ),
                "part_id",
                "left",
            )
            .select(
                "part_id",
                (
                    F.lit(base)
                    + F.expr(
                        f"{PR_D_NUM} * coalesce(inflow, 0) div {PR_D_DEN}"
                    )
                )
                .cast("long")
                .alias("pr"),
            )
        )
    return pr


def triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle participation over the co-purchase graph.

    Classic ordered-edge triangle enumeration: with every edge stored
    once as (a < b), the wedge join e1.b = e2.a only builds paths
    a < b < c, and the closing equi-join on (a, c) confirms each
    triangle EXACTLY once — no post-hoc dedup, no direction blowup.

    Scale shape: both joins are equi-joins on vertex keys, so the
    whole pipeline hash-partitions; the wedge count is bounded by
    sum(deg^2) of the SUPPORT-PRUNED graph (the MIN_SUPPORT gate is
    what keeps hub degrees sane — same rationale as pagerank's edge
    gate at graph.py:45-50).  The edge list is materialised once
    (localCheckpoint) because three plan mentions would otherwise
    re-expand the basket aggregation three times (the pagerank plan
    lesson, BASELINE.md round-2 notes).
    """
    e = (
        copurchase_edges(spark, sf_dir)
        .where(F.col("src") < F.col("dst"))
        .select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .localCheckpoint(eager=False)
    )
    wedge = (
        e.alias("e1")
        .join(e.alias("e2"), F.col("e1.b") == F.col("e2.a"))
        .select(
            F.col("e1.a").alias("wa"),
            F.col("e1.b").alias("wb"),
            F.col("e2.b").alias("wc"),
        )
    )
    tri = wedge.join(
        e.alias("e3"),
        (F.col("wa") == F.col("e3.a")) & (F.col("wc") == F.col("e3.b")),
    ).select("wa", "wb", "wc")
    nodes = tri.select(
        F.explode(F.array("wa", "wb", "wc")).alias("part_id")
    )
    return nodes.groupBy("part_id").agg(
        F.count(F.lit(1)).alias("n_triangles")
    )


def clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per node of the support-pruned
    co-purchase graph: cc = 2·T(v) / (deg(v)·(deg(v)−1)) as an exact
    ppm integer — how much of each part's neighborhood buys TOGETHER
    (a dense ego-net means a coherent accessory cluster; a star means
    an unrelated hub).  Complements triangle_count, which omits the
    deg normalisation and drops triangle-free nodes entirely.

    Scale shape: ONE edge materialisation (localCheckpoint — degree,
    wedge, and closing join all reuse it without re-expanding the
    basket aggregation); ordered-edge triangle enumeration exactly as
    triangle_count (each triangle once, wedge volume bounded by
    sum(deg²) of the PRUNED graph); degrees are a map-side-combined
    explode-groupBy.  Nodes with deg ≥ 2 and zero triangles stay in
    the result via the left join (cc = 0), because a 0 coefficient is
    signal, not absence.
    """
    e = (
        copurchase_edges(spark, sf_dir)
        .where(F.col("src") < F.col("dst"))
        .select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .localCheckpoint(eager=False)
    )
    deg = (
        e.select(F.explode(F.array("a", "b")).alias("part_id"))
        .groupBy("part_id")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
    )
    wedge = (
        e.alias("e1")
        .join(e.alias("e2"), F.col("e1.b") == F.col("e2.a"))
        .select(
            F.col("e1.a").alias("wa"),
            F.col("e1.b").alias("wb"),
            F.col("e2.b").alias("wc"),
        )
    )
    tri = (
        wedge.join(
            e.alias("e3"),
            (F.col("wa") == F.col("e3.a"))
            & (F.col("wc") == F.col("e3.b")),
        )
        .select(F.explode(F.array("wa", "wb", "wc")).alias("part_id"))
        .groupBy("part_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )
    return (
        deg.where(F.col("deg") >= 2)
        .join(tri, "part_id", "left")
        .select(
            "part_id",
            "deg",
            F.coalesce(F.col("n_triangles"), F.lit(0).cast("long")).alias(
                "n_triangles"
            ),
        )
        .select(
            "part_id",
            "deg",
            "n_triangles",
            F.expr(
                "CAST(2 * n_triangles * 1000000"
                " div (deg * (deg - 1)) AS BIGINT)"
            ).alias("cc_ppm"),
        )
        .orderBy("part_id")
    )


HYPERBALL_HOPS = 3  # interpolated into the registered oracle SQL


def hyperball_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperBall (Boldi-Vigna) neighborhood function on the
    co-purchase graph: per part, an HLL estimate of how many parts sit
    within ``HYPERBALL_HOPS`` hops, computed by iterating MERGEABLE register
    state over edges — never materializing any ball.

    Registers are ROWS (node, bucket, m_reg), the same deterministic
    md5 hash / bucket / rho law as operators/sketch (so the DuckDB
    oracle replays the trajectory bit-exactly), and the HLL union is
    literally ``groupBy(node, bucket).max(m_reg)``.  Each hop is one
    edges⋈registers equi-join plus that groupBy — at 100 TB both sides
    hash-partition on the node key and the map-side max collapses the
    shuffle to one row per (partition, node, bucket); state is bounded
    by 1024 registers/node however large the balls grow.  The EXACT
    ball count rides along for the audit column (distinct (node,
    member) expansion) — that branch is the O(sum-of-ball-sizes) cost
    HyperBall exists to avoid, kept here because the whole suite
    reports sketch error explicitly; at scale you drop it.
    """
    from data_pipeline_for_e_commerce_shop_spark.functions.scalars import (
        portable_hash32,
    )
    from data_pipeline_for_e_commerce_shop_spark.operators.sketch import (
        HLL_P,
        _hll_fold,
        _hll_registers,
    )

    e = (
        copurchase_edges(spark, sf_dir)
        .select("src", "dst")
        .localCheckpoint(eager=False)  # reused every hop, both branches
    )
    nodes = e.select(F.col("src").alias("node")).distinct()
    # one register per node: the groupBy runs on the distinct's node
    # partitioning, so it adds no exchange
    regs = _hll_registers(
        nodes.select(
            "node", portable_hash32("node", prefix="hb-").alias("h")
        ),
        ["node"],
        HLL_P,
    )
    ball = nodes.select("node", F.col("node").alias("member"))
    for _ in range(HYPERBALL_HOPS):
        contrib = e.join(
            regs, e.dst == regs.node
        ).select(F.col("src").alias("node"), "bucket", "m_reg")
        regs = (
            regs.unionByName(contrib)
            .groupBy("node", "bucket")
            .agg(F.max("m_reg").alias("m_reg"))
            .localCheckpoint(eager=False)
        )
        grow = e.join(ball, e.dst == ball.node).select(
            F.col("src").alias("node"), "member"
        )
        ball = (
            ball.unionByName(grow).distinct().localCheckpoint(eager=False)
        )
    exact = ball.groupBy("node").agg(
        F.count(F.lit(1)).alias("exact_reach")
    )
    return (
        _hll_fold(regs, ["node"], HLL_P)
        .join(exact, "node")
        .select(
            F.col("node").alias("part_id"),
            "exact_reach",
            "sum_scaled",
            "hll_estimate",
        )
        .orderBy("part_id")
    )
