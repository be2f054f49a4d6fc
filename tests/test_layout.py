"""Z-order layout: code correctness properties + the actual payoff —
per-file min/max spans after a z-ordered write must be narrow on BOTH
dimensions (that is what makes parquet stats prune)."""

from __future__ import annotations

import glob

import pyarrow.parquet as pq

from pyspark.sql import functions as F

from data_pipeline_for_e_commerce_shop_spark.operators import layout
from data_pipeline_for_e_commerce_shop_spark.schemas import load_table

SF = "/root/testdata/sf0.001"


def test_morton_interleave_known_values(spark):
    rows = spark.range(1).select(
        layout.morton_code(F.lit(0), F.lit(0)).alias("z00"),
        layout.morton_code(F.lit(1), F.lit(0)).alias("z10"),
        layout.morton_code(F.lit(0), F.lit(1)).alias("z01"),
        layout.morton_code(F.lit(3), F.lit(5)).alias("z35"),
        layout.morton_code(F.lit(0xFFFFFFFF), F.lit(0xFFFFFFFF)).alias("zmax"),
    ).first()
    assert rows.z00 == 0
    assert rows.z10 == 1          # bit 0 of a -> position 0
    assert rows.z01 == 2          # bit 0 of b -> position 1
    # a=0b011 spreads to 0b000101; b=0b101 spreads to 0b010001 << 1
    assert rows.z35 == 0b100111
    assert rows.zmax == -1        # all 64 bits set

def test_morton_locality_monotone_within_quadrant(spark):
    """Doubling both coordinates doubles-ish the code: codes respect
    quadrant ordering (the defining Z-curve property)."""
    df = spark.createDataFrame(
        [(a, b) for a in range(8) for b in range(8)], "a long, b long"
    ).select("a", "b", layout.morton_code(F.col("a"), F.col("b")).alias("z"))
    rows = df.collect()
    codes = {(r.a, r.b): r.z for r in rows}
    assert len(set(codes.values())) == 64  # bijective on the grid
    # every point in the lower-left quadrant sorts before any point in
    # the upper-right quadrant
    low = max(z for (a, b), z in codes.items() if a < 4 and b < 4)
    high = min(z for (a, b), z in codes.items() if a >= 4 and b >= 4)
    assert low < high


def test_zordered_write_narrows_file_spans(spark, tmp_path):
    """After write_zordered on (l_orderkey, l_partkey), the AVERAGE
    per-file value span of EACH dimension must be far below the global
    span — the property min/max pruning needs.  A single-column sort
    would narrow one dimension and leave the other full-width."""
    li = load_table(spark, SF, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    path = str(tmp_path / "zorder")
    layout.write_zordered(li, path, "l_orderkey", "l_partkey", n_files=16)

    spans = {"l_orderkey": [], "l_partkey": []}
    glob_minmax = {}
    for f in glob.glob(f"{path}/*.parquet"):
        md = pq.ParquetFile(f).metadata
        for col in spans:
            idx = md.schema.names.index(col)
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                mins.append(st.min)
                maxs.append(st.max)
            spans[col].append(max(maxs) - min(mins))
            g = glob_minmax.setdefault(col, [min(mins), max(maxs)])
            g[0] = min(g[0], min(mins))
            g[1] = max(g[1], max(maxs))
    assert len(spans["l_orderkey"]) >= 8  # really multiple files
    fracs = {}
    for col, ss in spans.items():
        global_span = glob_minmax[col][1] - glob_minmax[col][0]
        fracs[col] = (sum(ss) / len(ss)) / global_span
        # BOTH dims narrow (a single-column sort leaves one full-width;
        # measured at 16 files: ~0.41 / ~0.30)
        assert fracs[col] < 0.55, (col, fracs)
    # compact rectangles: the average covered AREA fraction is small
    assert fracs["l_orderkey"] * fracs["l_partkey"] < 0.2, fracs


def test_bucketed_join_has_no_exchange(spark, sf_dir, tmp_path):
    """Two tables co-bucketed on the join key must join with ZERO
    shuffle exchanges — the storage-level join contract."""
    import re

    from data_pipeline_for_e_commerce_shop_spark.operators.layout import (
        bucketed_join,
        write_bucketed,
    )
    from data_pipeline_for_e_commerce_shop_spark.plans.inspect import (
        physical_plan,
    )
    from data_pipeline_for_e_commerce_shop_spark.schemas import load_table

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity"
    )
    write_bucketed(orders, "t_orders_b", "o_orderkey", 4, str(tmp_path / "o"))
    write_bucketed(li, "t_lineitem_b", "l_orderkey", 4, str(tmp_path / "l"))
    # force the join strategy decision away from broadcast so the
    # bucket metadata is what saves the shuffle
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = bucketed_join(
            spark, "t_orders_b", "t_lineitem_b", "o_orderkey", "l_orderkey"
        )
        plan = physical_plan(j)
        assert "SortMergeJoin" in plan, plan
        n_exchange = len(re.findall(r"\(\d+\) Exchange\b", plan))
        assert n_exchange == 0, plan
        # and it computes the right thing
        expected = orders.join(
            li, orders.o_orderkey == li.l_orderkey
        ).count()
        assert j.count() == expected
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_lineitem_b")


def test_compaction_plan_conserves_and_packs(spark):
    """Every partition lands in exactly one group, byte totals are
    conserved, groups are contiguous key ranges, and no group except
    possibly the last is more than one partition past the target."""
    from data_pipeline_for_e_commerce_shop_spark.operators.layout import (
        COMPACT_TARGET_BYTES,
        compaction_plan,
    )
    from data_pipeline_for_e_commerce_shop_spark.schemas import load_table
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    plan = compaction_plan(spark, sf).collect()
    docs = load_table(spark, sf, "documents")
    parts = docs.groupBy("source", "lang").agg(
        F.sum("n_chars").alias("b")
    )
    assert sum(r["n_partitions"] for r in plan) == parts.count()
    assert sum(r["total_bytes"] for r in plan) == (
        parts.agg(F.sum("b")).collect()[0][0]
    )
    # Contiguity: group key spans must not interleave.
    ordered = sorted(plan, key=lambda r: r["group_id"])
    for a, b in zip(ordered, ordered[1:]):
        assert a["last_part"] <= b["first_part"]
    # Packing bound: a group can exceed the target only by its one
    # boundary partition (undershoot is possible when the previous
    # group's boundary partition ate into this bucket's range).
    max_part = parts.agg(F.max("b")).collect()[0][0]
    for r in ordered:
        assert r["total_bytes"] <= COMPACT_TARGET_BYTES + max_part


def test_dynamic_partition_pruning_on_partitioned_fact(spark, tmp_path):
    """Joining a month-partitioned fact against a FILTERED small dim
    must plan dynamic partition pruning: the fact scan's partition
    filters carry a dynamicpruning subquery, so only the dim's
    surviving months are ever read — the 100-TB contract for
    star-schema date filters."""
    import contextlib
    import io

    from data_pipeline_for_e_commerce_shop_spark.schemas import load_table
    from pyspark.sql import functions as F

    orders = load_table(spark, "/root/testdata/sf0.001", "orders")
    fact_dir = str(tmp_path / "orders_by_month")
    (
        orders.withColumn(
            "month", F.date_format(F.col("o_orderdate").cast("date"), "yyyy-MM")
        )
        .write.mode("overwrite")
        .partitionBy("month")
        .parquet(fact_dir)
    )
    fact = spark.read.parquet(fact_dir)
    months = [r["month"] for r in fact.select("month").distinct().collect()]
    dim = spark.createDataFrame(
        [(m, i) for i, m in enumerate(sorted(months))], "month string, idx int"
    )
    joined = fact.join(
        F.broadcast(dim.where(F.col("idx") < 2)), "month"
    ).agg(F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")))
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        joined.explain("formatted")
    plan = buf.getvalue().lower()
    assert "dynamicpruning" in plan, plan[:2000]
    # and the result agrees with a static filter of the same months
    keep = sorted(months)[:2]
    expected = (
        fact.where(F.col("month").isin(keep))
        .agg(F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")))
        .collect()[0][0]
    )
    assert joined.collect()[0][0] == expected


def test_fan_out_spreads_a_single_split_frame(spark):
    """A 1-partition frame comes back hash-partitioned on the key into
    ``defaultParallelism`` partitions."""
    import re

    from data_pipeline_for_e_commerce_shop_spark.plans.inspect import (
        physical_plan,
    )

    par = spark.sparkContext.defaultParallelism
    one = spark.range(0, 100, numPartitions=1).withColumnRenamed("id", "k")
    assert one.rdd.getNumPartitions() == 1 < par
    plan = physical_plan(layout.fan_out(one, "k"))
    shuffles = re.findall(r"hashpartitioning\(k#\d+L?, (\d+)\), REPARTITION", plan)
    assert shuffles == [str(par)], plan


def test_fan_out_leaves_a_wide_frame_alone(spark):
    """A frame with at least ``defaultParallelism`` partitions comes
    back unchanged: no new Exchange."""
    from data_pipeline_for_e_commerce_shop_spark.plans.inspect import (
        exchange_count,
    )

    par = spark.sparkContext.defaultParallelism
    wide = spark.range(0, 100, numPartitions=par).withColumnRenamed("id", "k")
    out = layout.fan_out(wide, "k")
    assert out is wide
    assert exchange_count(out) == 0
