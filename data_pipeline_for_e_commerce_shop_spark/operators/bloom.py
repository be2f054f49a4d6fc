"""Bloom-filter semi-join pruning — the runtime-filter pattern.

At 100 TB the cheapest join is the one that never shuffles: when the
probe side is huge and the build side's KEY SET is small, a Bloom
filter of the build keys can be broadcast and applied AT THE SCAN of
the probe side, discarding non-matching rows before any exchange.
Spark's own runtime row-group filters do this opaquely; this operator
builds the filter explicitly as a (word_idx -> word) TABLE so the
whole pipeline stays engine-portable and oracle-checkable.

Design: m = 65536 bits stored as 2048 x 32-bit words in BIGINTs (bit
31 max — no sign games in either engine), k = 4 probes by double
hashing pos_i = (h1 + i*(2*h2+1)) mod m with h1/h2 drawn from md5 —
bit-identical in Spark and DuckDB.  The filter build is one
vocabulary-sized groupBy(bit_or); the probe is a broadcast equi-join
on word_idx.  False positives are expected and COUNTED (the exact
semi-join verifies), which makes the operator self-auditing.

Reference parity: the reference prunes child rows against parent keys
with a driver-side collected set (scripts/validation.py:100-107); this
is the distributed, bounded-memory form of the same membership test.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from data_pipeline_for_e_commerce_shop_spark.operators.layout import fan_out
from data_pipeline_for_e_commerce_shop_spark.schemas import load_table

M_BITS = 65536  # filter width (power of two)
N_PROBES = 4  # k hash functions via double hashing
WORD_BITS = 32  # bits per stored word (BIGINT-safe, sign-free)


def _probe_positions(key: Column) -> Column:
    """Array of the k bit positions for a key (double hashing; the
    odd step 2*h2+1 walks the power-of-two table without cycling).

    Both hash seeds come from ONE md5 call (first/second 32 bits) —
    md5 is the probe's dominant cost and whole-stage codegen CSEs the
    shared call (same trick as simhash's two-conv split)."""
    hx = F.md5(F.concat(F.lit("bl-"), key.cast("string")))
    h1 = F.conv(F.substring(hx, 1, 8), 16, 10).cast("long")
    step = F.conv(F.substring(hx, 9, 8), 16, 10).cast("long") * 2 + 1
    i = F.sequence(F.lit(0), F.lit(N_PROBES - 1))
    return F.transform(i, lambda j: (h1 + j * step) % M_BITS)


def build_filter(keys: DataFrame, key_col: str) -> DataFrame:
    """Bloom filter of a key column as a (word_idx, word) table.

    One explode (k rows per key) + one groupBy(bit_or) — output is at
    most m/32 rows regardless of input size, so the result is always
    broadcastable."""
    pos = F.explode(_probe_positions(F.col(key_col))).alias("pos")
    return (
        keys.select(pos)
        .select(
            F.expr(f"pos div {WORD_BITS}").alias("word_idx"),
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), CAST(pos % {WORD_BITS} AS INT))"
            ).alias("mask"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("mask").alias("word"))
    )


def bloom_prune_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prune orders to high-balance customers via a Bloom filter, then
    audit the filter: per order status, how many orders pass the bloom
    probe, how many are true members, and how many were false
    positives.

    Probe plan: k broadcast hash joins of the (<= 2048 row) filter
    table — the filter rides every task as a broadcast map, the probe
    side never explodes or shuffles, and membership is decided in the
    scan stage.  The exact semi-join that verifies membership here is
    precisely the work the bloom pass avoids upstream (it runs on the
    PRUNED set only).
    """
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    hv = cust.where(F.col("c_acctbal") > 7500).select(
        F.col("c_custkey").alias("k")
    )
    # The word table is bounded at m/32 = 2048 rows no matter how many
    # build keys, so it rides every probe task as a broadcast hash
    # map: k tiny broadcast joins, no probe-side explode, no per-key
    # re-aggregation, and the only fact-sized work is a projection.
    # (Embedding the words as a 2048-element array literal was tried
    # and rejected: lit(list) expands to a per-row CreateArray of 2048
    # expressions — codegen blowup, slower than the joins.)
    # materialised once — k broadcast mentions would re-run the build
    words = build_filter(hv, "k").localCheckpoint(eager=False)
    # The per-row md5 probe positions are this query's dominant CPU.
    orders = fan_out(orders, "o_orderkey")
    probe = orders.select(
        "o_orderstatus",
        "o_custkey",
        _probe_positions(F.col("o_custkey")).alias("ps"),
    )
    checks = []
    for i in range(N_PROBES):
        wi = words.select(
            F.col("word_idx").alias(f"wi{i}"),
            F.col("word").alias(f"w{i}"),
        )
        probe = probe.withColumn(
            f"p{i}", F.element_at("ps", i + 1)
        ).join(
            F.broadcast(wi),
            F.expr(f"p{i} div {WORD_BITS}") == F.col(f"wi{i}"),
            "left",
        )
        checks.append(
            F.col(f"w{i}").isNotNull()
            & (
                F.col(f"w{i}").bitwiseAND(
                    F.expr(
                        f"shiftleft(CAST(1 AS BIGINT),"
                        f" CAST(p{i} % {WORD_BITS} AS INT))"
                    )
                )
                != 0
            )
        )
    bloom_pass = checks[0]
    for c in checks[1:]:
        bloom_pass = bloom_pass & c

    member = probe.withColumn("bloom_pass", bloom_pass).join(
        F.broadcast(hv),
        F.col("o_custkey") == F.col("k"),
        "left",
    ).select(
        "o_orderstatus",
        "bloom_pass",
        F.col("k").isNotNull().alias("is_member"),
    )
    return member.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("bloom_pass").cast("long")).alias("n_bloom_pass"),
        F.sum(F.col("is_member").cast("long")).alias("n_member"),
        F.sum(
            (F.col("bloom_pass") & ~F.col("is_member")).cast("long")
        ).alias("n_false_positive"),
    )


def contamination_bloom_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination screen run THROUGH the Bloom filter: the
    held-out benchmark slice's distinct 3-gram shingles build the
    (<= 2048-word) filter, every candidate doc's shingles probe it in
    the scan stage, and a doc is flagged when ANY shingle passes.  The
    exact shingle semi-join then grades the filter per source: true
    contaminated docs vs Bloom false positives — the cheap-first,
    exact-second layering a 100 TB decontamination pass uses (the
    exact join runs only where the filter fired; here it runs
    everywhere to measure the false-positive rate honestly).

    Same benchmark law as dedup.benchmark_contamination
    (doc_id % 20 == 0) and the same shingling; same word-table probe
    plan as bloom_prune_orders (k broadcast joins, no probe shuffle).

    r7 opt (guide §2.1/§2.4): ONE pass over the candidate shingles —
    the exact-truth membership rides the probe rows as a boolean from
    a single left join against the (bounded, checkpointed) benchmark
    shingle set, and bloom flag + truth collapse in ONE groupBy(doc_id)
    — where the old form shingled the documents twice (bench branch +
    candidate checkpoint), materialized the FACT-scale candidate
    shingle table, shuffled it by doc_id twice (bloom aggregate, truth
    distinct) and joined the doc base twice.  The only materializations
    left are benchmark-sized; the word table is eager so the k
    broadcast-subquery jobs never race to rebuild it.
    """
    from data_pipeline_for_e_commerce_shop_spark.operators.dedup import (
        _shingles,
    )

    docs = load_table(spark, sf_dir, "documents")
    sh = _shingles(docs)
    is_bench = (F.col("doc_id") % 20) == 0
    bench = (
        sh.where(is_bench)
        .select(F.col("shingle").alias("k"))
        .distinct()
        .localCheckpoint(eager=True)  # benchmark-slice vocabulary:
        # bounded; feeds the filter build AND the exact-truth join
    )
    words = build_filter(bench, "k").localCheckpoint(eager=True)
    probe = (
        sh.where(~is_bench)
        .join(
            bench.select(
                F.col("k").alias("shingle"), F.lit(True).alias("tm")
            ),
            "shingle",
            "left",
        )
        .select(
            "doc_id",
            _probe_positions(F.col("shingle")).alias("ps"),
            F.coalesce("tm", F.lit(False)).alias("tm"),
        )
    )
    checks = []
    for i in range(N_PROBES):
        wi = words.select(
            F.col("word_idx").alias(f"wi{i}"),
            F.col("word").alias(f"w{i}"),
        )
        probe = probe.withColumn(
            f"p{i}", F.element_at("ps", i + 1)
        ).join(
            F.broadcast(wi),
            F.expr(f"p{i} div {WORD_BITS}") == F.col(f"wi{i}"),
            "left",
        )
        checks.append(
            F.col(f"w{i}").isNotNull()
            & (
                F.col(f"w{i}").bitwiseAND(
                    F.expr(
                        f"shiftleft(CAST(1 AS BIGINT),"
                        f" CAST(p{i} % {WORD_BITS} AS INT))"
                    )
                )
                != 0
            )
        )
    shingle_hit = checks[0]
    for c in checks[1:]:
        shingle_hit = shingle_hit & c
    per_doc = (
        probe.withColumn("hit", shingle_hit)
        .groupBy("doc_id")
        .agg(
            F.max("hit").alias("bloom_flag"),
            F.max("tm").alias("true_hit"),
        )
    )
    base = docs.where(~is_bench).select("doc_id", "source")
    rep = base.join(per_doc, "doc_id", "left").select(
        "source",
        F.coalesce("bloom_flag", F.lit(False)).alias("bf"),
        F.coalesce("true_hit", F.lit(False)).alias("th"),
    )
    return (
        rep.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("bf").cast("long")).alias("n_flagged"),
            F.sum(F.col("th").cast("long")).alias("n_contaminated"),
            F.sum((F.col("bf") & ~F.col("th")).cast("long")).alias(
                "n_false_pos"
            ),
        )
        .select(
            "source",
            "n_docs",
            "n_flagged",
            "n_contaminated",
            "n_false_pos",
            F.expr(
                "CAST(n_false_pos * 1000000 div n_docs AS BIGINT)"
            ).alias("fp_ppm"),
        )
        .orderBy("source")
    )
