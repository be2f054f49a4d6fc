"""ANN quality: the approximate paths (LSH multi-probe, IVF) must
recover a meaningful fraction of the exact brute-force top-k, and every
pair they return must carry the same exact re-scored cosine the
brute-force path computes for it."""

from __future__ import annotations

import pytest

from data_pipeline_for_e_commerce_shop_spark.operators import similarity


@pytest.fixture(scope="module")
def brute(spark, sf_dir):
    return {
        (r.query_id, r.corpus_id): r.cosine
        for r in similarity.brute_force_topk(spark, sf_dir).collect()
    }


def _recall_and_score_check(approx_rows, brute):
    hits = [r for r in approx_rows if (r.query_id, r.corpus_id) in brute]
    # Exact re-scoring: any recovered pair has the identical cosine.
    for r in hits:
        assert r.cosine == brute[(r.query_id, r.corpus_id)]
    return len(hits) / len(brute)


def test_lsh_multiprobe_recall(spark, sf_dir, brute):
    rows = similarity.lsh_topk(spark, sf_dir).collect()
    assert _recall_and_score_check(rows, brute) >= 0.25


def test_lsh_multiprobe_beats_single_bucket(spark, sf_dir, brute):
    single = similarity.lsh_topk(spark, sf_dir, multi_probe=False).collect()
    multi = similarity.lsh_topk(spark, sf_dir).collect()
    assert _recall_and_score_check(multi, brute) >= _recall_and_score_check(
        single, brute
    )


def test_ivf_recall(spark, sf_dir, brute):
    rows = similarity.ivf_topk(spark, sf_dir).collect()
    assert _recall_and_score_check(rows, brute) >= 0.25


def test_topk_shape(spark, sf_dir):
    """Each path returns <= ANN_K rows per query with rank 1..ANN_K
    and monotonically non-increasing cosine."""
    for fn in (
        similarity.brute_force_topk,
        similarity.lsh_topk,
        similarity.ivf_topk,
    ):
        rows = fn(spark, sf_dir).collect()
        by_q: dict[int, list] = {}
        for r in rows:
            by_q.setdefault(r.query_id, []).append(r)
        for q, rs in by_q.items():
            assert len(rs) <= similarity.ANN_K
            rs.sort(key=lambda r: r.rank)
            assert [r.rank for r in rs] == list(range(1, len(rs) + 1))
            cosines = [r.cosine for r in rs]
            assert cosines == sorted(cosines, reverse=True)


def test_kmeans_lloyd_matches_python_replay(spark):
    """Full plain-python replay of the integer Lloyd trajectory —
    seeds, assignments, floor-mean updates — must equal the operator."""
    from data_pipeline_for_e_commerce_shop_spark.operators.similarity import (
        KMEANS_ITER,
        KMEANS_K,
        MICRO,
        kmeans_lloyd,
    )

    sf = "/root/testdata/sf0.001"
    import math

    vecs = {
        r["vec_id"]: [math.floor(float(x) * MICRO) for x in r["embedding"]]
        for r in spark.read.parquet(f"{sf}/embeddings.parquet").collect()
    }
    seeds = sorted(vecs, key=lambda i: ((i * 2654435761) % 4294967296, i))[
        :KMEANS_K
    ]
    centroids = {i: list(vecs[i]) for i in seeds}

    def sqd(a, b):
        return sum((x - y) * (x - y) for x, y in zip(a, b))

    def assign():
        return {
            vid: min(
                centroids, key=lambda c: (sqd(v, centroids[c]), c)
            )
            for vid, v in vecs.items()
        }

    for _ in range(KMEANS_ITER):
        asg = assign()
        members: dict[int, list[int]] = {}
        for vid, c in asg.items():
            members.setdefault(c, []).append(vid)
        for c, vids in members.items():
            n = len(vids)
            centroids[c] = [
                math.floor(sum(vecs[vid][i] for vid in vids) / n)
                for i in range(64)
            ]
    final = assign()

    got = {r["vec_id"]: r for r in kmeans_lloyd(spark, sf).collect()}
    assert set(got) == set(vecs)
    for vid, r in got.items():
        assert r["cluster_id"] == final[vid], vid
        assert r["sq_dist"] == sqd(vecs[vid], centroids[final[vid]])


def test_kmeans_distributed_path_matches_driver_path(spark):
    """Force the distributed Lloyd loop (driver_max=0) and require the
    bit-identical trajectory as the size-gated driver path."""
    from data_pipeline_for_e_commerce_shop_spark.operators.similarity import (
        kmeans_lloyd,
    )

    sf = "/root/testdata/sf0.001"
    via_driver = {
        r["vec_id"]: (r["cluster_id"], r["sq_dist"])
        for r in kmeans_lloyd(spark, sf).collect()
    }
    via_cluster = {
        r["vec_id"]: (r["cluster_id"], r["sq_dist"])
        for r in kmeans_lloyd(spark, sf, driver_max=0).collect()
    }
    assert via_driver == via_cluster


def test_pq_topk_ranks_and_recall(spark):
    """PQ output shape invariants plus a recall floor against the
    exact brute-force top-k (compressed distances are approximate, but
    4x16 codes on 64 dims must beat random chance by a wide margin)."""
    from data_pipeline_for_e_commerce_shop_spark.operators.similarity import (
        brute_force_topk,
        pq_topk,
    )

    sf = "/root/testdata/sf0.001"
    rows = pq_topk(spark, sf).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    assert len(by_q) == 5
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == [1, 2, 3, 4, 5]
        ds = [r["approx_sq_dist"] for r in rs]
        assert ds == sorted(ds) and all(d >= 0 for d in ds)
        assert all(r["corpus_id"] != q for r in rs)

    brute = {}
    for r in brute_force_topk(spark, sf).collect():
        brute.setdefault(r["query_id"], set()).add(r["corpus_id"])
    hits = sum(
        len(brute[q] & {r["corpus_id"] for r in rs})
        for q, rs in by_q.items()
    )
    # 25 slots; random chance on a 500-doc corpus would be ~0.25 hits
    assert hits >= 5, f"PQ recall collapsed: {hits}/25"


def test_ivf_incremental_add_conserves_and_balances(spark):
    """The maintenance report must conserve counts: sum(n_before) =
    old-corpus size, sum(n_added) = batch size, every cluster row
    present (even empty ones), and balance_ppm averages 1e6 across
    lists up to integer floor."""
    from pyspark.sql import functions as F

    from data_pipeline_for_e_commerce_shop_spark.operators.similarity import (
        IVF_ADD_MOD,
        IVF_CENTROIDS,
        ivf_incremental_add,
    )
    from data_pipeline_for_e_commerce_shop_spark.schemas import load_table

    sf = "/root/testdata/sf0.001"
    rows = ivf_incremental_add(spark, sf).collect()
    emb = load_table(spark, sf, "embeddings")
    n_old = emb.where(F.col("vec_id") % IVF_ADD_MOD != 0).count()
    n_new = emb.where(F.col("vec_id") % IVF_ADD_MOD == 0).count()
    assert len(rows) == IVF_CENTROIDS
    assert sum(r["n_before"] for r in rows) == n_old
    assert sum(r["n_added"] for r in rows) == n_new
    assert all(r["n_after"] == r["n_before"] + r["n_added"] for r in rows)
    total = sum(r["n_after"] for r in rows)
    assert all(
        r["balance_ppm"] == r["n_after"] * IVF_CENTROIDS * 1_000_000 // total
        for r in rows
    )


def test_ivf_index_persists_as_tables(spark, tmp_path):
    """The IVF index IS two tables (centroids, assigned lists): write
    them to parquet, reload in a fresh lineage, and the maintenance
    report computed from the RELOADED index must equal the one from
    the live build — index persistence with zero custom formats."""
    from pyspark.sql import functions as F

    from data_pipeline_for_e_commerce_shop_spark.operators.similarity import (
        _NEAREST_CID,
        IVF_ADD_MOD,
        _centroid_model,
        as_double,
        ivf_incremental_add,
        norm,
    )
    from data_pipeline_for_e_commerce_shop_spark.schemas import load_table

    sf = "/root/testdata/sf0.001"
    emb = (
        load_table(spark, sf, "embeddings")
        .select("vec_id", as_double("embedding").alias("emb"))
        .withColumn("nrm", norm("emb"))
    )
    old = emb.where(F.col("vec_id") % IVF_ADD_MOD != 0)
    model = _centroid_model(spark, old)
    centroids = model.select(F.inline("cents"))  # one row per centroid
    lists = old.crossJoin(F.broadcast(model)).select(
        F.col("vec_id").alias("corpus_id"),
        F.expr(_NEAREST_CID).alias("cluster_id"),
    )
    d = str(tmp_path)
    centroids.write.mode("overwrite").parquet(f"{d}/ivf_centroids")
    lists.write.mode("overwrite").parquet(f"{d}/ivf_lists")

    reloaded_sizes = {
        r["cluster_id"]: r["n"]
        for r in spark.read.parquet(f"{d}/ivf_lists")
        .groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    live = {
        r["cluster_id"]: r["n_before"]
        for r in ivf_incremental_add(spark, sf).collect()
    }
    assert {k: v for k, v in live.items() if v > 0} == reloaded_sizes
    assert spark.read.parquet(f"{d}/ivf_centroids").count() == 8
