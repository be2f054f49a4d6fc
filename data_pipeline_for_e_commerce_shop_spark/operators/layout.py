"""Data-layout operators: multi-dimensional clustering (Z-order /
Morton codes) for parquet data skipping.

At 100 TB the scan you avoid beats any scan you optimize: min/max
row-group statistics prune files ONLY if rows with similar key values
are physically adjacent.  Range-partitioning by a single column
clusters that column alone; interleaving the bits of TWO columns
(Morton order) keeps BOTH selective — the standard lakehouse OPTIMIZE
ZORDER BY mechanic, reproduced here engine-portably (pure integer bit
arithmetic, so the code column itself is oracle-checkable).

Reference relevance: the reference partitions its processed zone by a
single derived date column (scripts/transformation.py:128-139,
`partitionBy("dt")`); Z-ordering is what that write needs once queries
filter by more than the partition column.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..schemas import load_table

# Bit-spreading magic masks: x with bits abcd -> a0b0c0d0 (32 -> 64).
_SPREAD_STEPS = [
    (16, 0x0000FFFF0000FFFF),
    (8, 0x00FF00FF00FF00FF),
    (4, 0x0F0F0F0F0F0F0F0F),
    (2, 0x3333333333333333),
    (1, 0x5555555555555555),
]


def fan_out(df: DataFrame, *keys: str) -> DataFrame:
    """Hash-repartition ``df`` on ``keys`` into ``defaultParallelism``
    partitions when its scan yields fewer splits than the cluster has
    slots; otherwise return ``df`` unchanged.

    A small table arrives as ONE file split (maxPartitionBytes), which
    pins every per-row stage above it to a single core.  At real scale
    the file count already provides parallelism and this is a no-op,
    so no shuffle is added where it would hurt.  Call it on a scan:
    on a frame with an exchange, ``rdd`` would run that exchange."""
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par, *keys)
    return df


def _spread_bits(col: Column) -> Column:
    """Spread the low 32 bits of ``col`` to the even bit positions of a
    64-bit value — five shift/or/mask steps, all JVM-side long
    arithmetic (identical semantics in DuckDB's BIGINT ops)."""
    x = col.bitwiseAND(F.lit(0xFFFFFFFF))
    for shift, mask in _SPREAD_STEPS:
        x = (x.bitwiseOR(F.shiftleft(x, shift))).bitwiseAND(F.lit(mask))
    return x


def morton_code(a: Column, b: Column) -> Column:
    """64-bit Morton interleave of two 32-bit keys: bit i of ``a`` at
    position 2i, bit i of ``b`` at 2i+1.  Nearby (a, b) pairs get
    nearby codes, so sorting by the code co-locates BOTH dimensions."""
    return _spread_bits(a).bitwiseOR(F.shiftleft(_spread_bits(b), 1))


def morton_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Z-order clustering key for lineitem on (l_orderkey,
    l_partkey) — emitted on a deterministic 1%-slice so the full bit
    arithmetic is value-checked without hauling the whole fact table
    through the comparator."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.where((F.col("l_orderkey") % 100) == 0)
        .select(
            "l_orderkey",
            "l_partkey",
            "l_linenumber",
            morton_code(F.col("l_orderkey"), F.col("l_partkey")).alias(
                "morton"
            ),
        )
    )


COMPACT_TARGET_BYTES = 50_000  # per-group byte target (demo-scaled)


def compaction_plan(
    spark: SparkSession,
    sf_dir: str,
    target_bytes: int = COMPACT_TARGET_BYTES,
) -> DataFrame:
    """Deterministic small-partition compaction planner — the
    maintenance pass every parquet/Delta lake runs (OPTIMIZE /
    bin-packing): group undersized partitions into write groups of
    ~target_bytes so scans stop paying per-file overhead.

    Partition stats here are the per-(source, lang) byte totals of the
    documents table (at scale: the table's file manifest or partition
    statistics — same shape, (key, bytes) rows).  Grouping is LINEAR
    partitioning, not first-fit: partitions sort by key, and a
    partition belongs to group floor(cum_before / target) where
    cum_before is the running byte total BEFORE it — one window pass,
    deterministic under any parallelism, groups only ever overshoot by
    the one partition that crosses the boundary (the same guarantee
    greedy first-fit gives on sorted input).

    Output per group: partition span (first/last key), counts, bytes,
    and fill vs target in ppm — the writer's work list.

    The running sum is a GLOBAL-ordered window, which executes on one
    partition — correct here because it runs over the partition-STATS
    table (manifest-sized metadata, thousands of rows at 100 TB),
    never over data rows.
    """
    docs = load_table(spark, sf_dir, "documents")
    # The window orders by the SAME "source/lang" string the boundary
    # columns report, so min/max of that string are guaranteed to be
    # the group's true boundary members (tuple ordering and string
    # ordering can disagree when keys contain characters below '/').
    parts = docs.groupBy("source", "lang").agg(
        F.sum("n_chars").alias("bytes")
    ).select(
        F.concat_ws("/", "source", "lang").alias("part_key"), "bytes"
    )
    grouped = parts.select(
        "part_key",
        "bytes",
        # exact integer division (the repo's div discipline) — a
        # double quotient can round across the boundary at large
        # cumulative byte counts
        F.expr(
            f"coalesce(sum(bytes) over (order by part_key"
            f" rows between unbounded preceding and 1 preceding), 0)"
            f" div {target_bytes}"
        ).alias("group_id"),
    )
    return (
        grouped.groupBy("group_id")
        .agg(
            F.count(F.lit(1)).alias("n_partitions"),
            F.min("part_key").alias("first_part"),
            F.max("part_key").alias("last_part"),
            F.sum("bytes").alias("total_bytes"),
        )
        .select(
            "group_id",
            "n_partitions",
            "first_part",
            "last_part",
            "total_bytes",
            F.expr(
                f"total_bytes * 1000000 div {target_bytes}"
            ).alias("fill_ppm"),
        )
        .orderBy("group_id")
    )
