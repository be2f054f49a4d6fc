"""PII detection and redaction — the privacy pass every
training-data pipeline runs before a corpus leaves the building.

The operator is generic: :func:`pii_scan` takes any DataFrame and text
column and appends per-type match counts plus a fully-redacted copy of
the text.  All patterns are pure JVM-side ``regexp_extract_all`` /
``regexp_replace`` projections — no UDFs, no shuffle, scan-speed at
100 TB — and are written in the regex subset Java and RE2 share, so a
DuckDB oracle can replay every count and every redacted byte.

The synthetic testdata carries no organic PII (documents are plain
word-soup, events.props is ``{"k": N}``), so the registered query
derives a deterministic PII-bearing column from event/user ids first
(both engines compute the identical string) and then applies this
generic operator — the operator itself never special-cases the
testdata.

No analogue in the reference (it ships raw order rows to DynamoDB,
scripts/transformation.py); this is charter surface.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Ordered: emails first (their local/domain parts may embed digit runs
# that the looser patterns would otherwise clip), then dotted quads,
# then phone-shaped runs.  Patterns use only syntax Java regex and RE2
# (DuckDB) interpret identically: classes, bounded repeats, \b anchors.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}", "[EMAIL]"),
    ("ipv4", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "[IP]"),
    ("phone", r"\b555-[0-9]{4}\b", "[PHONE]"),
]


def redacted(text_col: str | Column) -> Column:
    """The text with every PII match replaced by its type token,
    applied in PII_PATTERNS order (one chained projection)."""
    col = F.col(text_col) if isinstance(text_col, str) else text_col
    for _, pat, token in PII_PATTERNS:
        col = F.regexp_replace(col, pat, token)
    return col


def pii_scan(df: DataFrame, text_col: str) -> DataFrame:
    """Append ``n_<type>`` match-count columns and ``redacted_text``.

    Counts and redaction share one pass over the column; everything is
    a map-side projection, so the operator composes into any plan
    without adding a shuffle or breaking whole-stage codegen.
    """
    counts = [
        F.size(F.regexp_extract_all(F.col(text_col), F.lit(pat), F.lit(0)))
        .cast("long")
        .alias(f"n_{name}")
        for name, pat, _ in PII_PATTERNS
    ]
    return df.select("*", *counts, redacted(text_col).alias("redacted_text"))


def k_anonymity(
    df: DataFrame, quasi_ids: list[str], k: int = 5
) -> DataFrame:
    """k-anonymity audit over a quasi-identifier combination: the size
    of every equivalence class, flagged when it re-identifies to fewer
    than `k` rows.  The release gate a privacy review runs before a
    table with demographic columns ships.

    One groupBy on the quasi-ids (map-side partials; equivalence
    classes are the natural key distribution, so the shuffle is the
    aggregate's own) — no windows, no self-joins.
    """
    return (
        df.groupBy(*quasi_ids)
        .agg(F.count(F.lit(1)).alias("class_size"))
        .select(
            *quasi_ids,
            "class_size",
            (F.col("class_size") < k).alias("below_k"),
        )
    )


def l_diversity(
    df: DataFrame,
    quasi_ids: list[str],
    sensitive: str,
    l_min: int = 3,
) -> DataFrame:
    """l-diversity audit: k-anonymity's necessary complement — a class
    can be large (k-safe) yet have every member share ONE sensitive
    value, so membership alone discloses it.  Reports, per equivalence
    class, distinct-l (count of distinct sensitive values) and entropy
    l-diversity (floor-micro of ln N − (Σ nᵢ·ln nᵢ)/N, which must be
    ≥ ln l for entropy-l safety), flagged below `l_min`.

    Two stacked groupBys (class×value, then class) — map-side
    combined, no windows; the entropy fold is key-ordered over the
    per-class value list (a bare double SUM is placement-dependent at
    floor boundaries).
    """
    vals = df.groupBy(*quasi_ids, sensitive).agg(
        F.count(F.lit(1)).cast("long").alias("n_i")
    )
    per_class = vals.groupBy(*quasi_ids).agg(
        F.sum("n_i").cast("long").alias("class_size"),
        F.count(F.lit(1)).cast("long").alias("l_distinct"),
        F.expr(
            f"aggregate(array_sort(collect_list(named_struct("
            f" 'key', {sensitive}, 'v',"
            f" CAST(n_i AS DOUBLE) * ln(CAST(n_i AS DOUBLE))))),"
            " CAST(0.0 AS DOUBLE), (a, x) -> a + x.v)"
        ).alias("sum_nlnn"),
    )
    return per_class.select(
        *quasi_ids,
        "class_size",
        "l_distinct",
        F.expr(
            "CAST(floor((ln(CAST(class_size AS DOUBLE))"
            " - sum_nlnn / CAST(class_size AS DOUBLE)) * 1000000)"
            " AS BIGINT)"
        ).alias("entropy_me6"),
        (F.col("l_distinct") < l_min).alias("below_l"),
    )


def t_closeness(
    df: DataFrame,
    quasi_ids: list[str],
    sensitive: str,
    t_max_ppm: int = 250_000,
) -> DataFrame:
    """t-closeness audit — the third rung of the release ladder above
    :func:`k_anonymity` and :func:`l_diversity`: a class can be large
    AND diverse yet still leak, if its sensitive-value DISTRIBUTION
    sits far from the table-wide one (e.g. a class holding only the
    two highest balance bands).  For an ORDERED sensitive attribute
    the distance is the Earth Mover's Distance with unit ground
    distance between adjacent values, which collapses to the mean
    absolute CUMULATIVE difference:  t = (1/(m-1)) * Σᵢ |Σ_{j≤i}
    (p_j − q_j)|.  Everything stays exact int64: p−q is scaled by
    class_size·N (n_ij·N − N_j·class_size), and the final ppm uses the
    staged ×1000×1000 multiplier (see budget_allocation) so the bound
    is 1000·(m−1)·class_size·N ≤ 2^63 — safe to ~3e15 row-pairs,
    i.e. TPC-H sf ≳ 100 on the customer table.

    Shape: one (class × value) groupBy, two vocabulary-sized rollups,
    a broadcast dense grid (classes × global value vocabulary — the
    EMD needs absent values as explicit zeros), one window partitioned
    by class over the |m|-row groups.  The windowed rows number
    |classes|·m, so the post-aggregation cost is independent of table
    size.
    """
    from pyspark.sql import Window

    # vals feeds the class rollup, the global-band rollup AND the grid
    # left-join — checkpoint so the (class x value) aggregation and its
    # table scan execute once, not three times
    vals = (
        df.groupBy(*quasi_ids, sensitive)
        .agg(F.count(F.lit(1)).cast("long").alias("n_i"))
        .localCheckpoint(eager=False)
    )
    cls = vals.groupBy(*quasi_ids).agg(
        F.sum("n_i").cast("long").alias("class_size")
    )
    glob = vals.groupBy(sensitive).agg(
        F.sum("n_i").cast("long").alias("n_band")
    )
    tot = glob.agg(
        F.sum("n_band").cast("long").alias("n_total"),
        F.count(F.lit(1)).cast("long").alias("m"),
    )
    grid = (
        cls.crossJoin(F.broadcast(glob))
        .join(vals, [*quasi_ids, sensitive], "left")
        .crossJoin(F.broadcast(tot))
        .select(
            *quasi_ids,
            sensitive,
            "class_size",
            "n_total",
            "m",
            (
                F.coalesce(F.col("n_i"), F.lit(0)) * F.col("n_total")
                - F.col("n_band") * F.col("class_size")
            ).alias("diff_scaled"),
        )
    )
    w = (
        Window.partitionBy(*quasi_ids)
        .orderBy(sensitive)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    per_class = (
        grid.select(
            *quasi_ids,
            "class_size",
            "n_total",
            "m",
            F.sum("diff_scaled").over(w).alias("cd"),
        )
        .groupBy(*quasi_ids, "class_size", "n_total", "m")
        .agg(F.sum(F.abs(F.col("cd"))).cast("long").alias("s"))
    )
    d = "((m - 1) * class_size * n_total)"
    return per_class.select(
        *quasi_ids,
        "class_size",
        F.expr(
            f"1000 * ((1000 * s) div {d})"
            f" + (1000 * ((1000 * s) % {d})) div {d}"
        ).alias("t_ppm"),
        F.expr(
            f"(1000 * ((1000 * s) div {d})"
            f" + (1000 * ((1000 * s) % {d})) div {d}) > {t_max_ppm}"
        ).alias("above_t"),
    )


PSEUDO_SECRET = "pseudo-v1"  # key label; rotate to re-key the corpus


def pseudonymize_audit(spark, sf_dir: str) -> DataFrame:
    """Keyed pseudonymization with a referential-integrity audit: both
    customer and orders replace the customer key with
    md5(secret || key) — the SAME mapping on both tables, applied
    independently (no shared lookup table to leak), so every join
    still works on the pseudonyms.  The audit PROVES it: per
    mktsegment, order counts joined via pseudonyms must equal counts
    joined via the raw keys, and the pseudonym space must be
    collision-free (distinct pseudonyms == distinct keys).

    This is the share-safe-extract shape (analytics on pseudonymized
    copies, re-identification only with the key).  Keyed-hash mapping
    is a pure row-local projection: zero extra shuffles over the plain
    join.
    """
    from data_pipeline_for_e_commerce_shop_spark.schemas import load_table

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    orders = load_table(spark, sf_dir, "orders").select("o_custkey")
    pseud = lambda c: F.md5(  # noqa: E731
        F.concat(F.lit(PSEUDO_SECRET), F.col(c).cast("string"))
    )
    pc = cust.select(
        pseud("c_custkey").alias("p_key"), "c_mktsegment"
    )
    po = orders.select(pseud("o_custkey").alias("p_key"))
    via_pseudo = (
        po.join(F.broadcast(pc), "p_key")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_orders_pseudo"))
    )
    via_raw = (
        orders.join(
            F.broadcast(cust),
            orders.o_custkey == cust.c_custkey,
        )
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_orders_raw"))
    )
    keyspace = cust.agg(
        F.countDistinct("c_custkey").alias("n_keys"),
        F.countDistinct(pseud("c_custkey")).alias("n_pseudonyms"),
    )
    return (
        via_raw.join(via_pseudo, "c_mktsegment")
        .crossJoin(F.broadcast(keyspace))
        .select(
            "c_mktsegment",
            "n_orders_raw",
            "n_orders_pseudo",
            (F.col("n_orders_raw") == F.col("n_orders_pseudo")).alias(
                "ri_preserved"
            ),
            (F.col("n_keys") == F.col("n_pseudonyms")).alias(
                "collision_free"
            ),
        )
        .orderBy("c_mktsegment")
    )
