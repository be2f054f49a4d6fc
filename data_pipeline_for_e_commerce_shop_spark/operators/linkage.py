"""Record linkage: blocked fuzzy matching over entity names.

The reference validates referential integrity with exact keys only
(scripts/validation.py:69-88); real catalogs also need approximate
entity resolution (the same product under slightly different names).
This module gives the scale-safe shape: **dedup to the name vocabulary
first** (the cardinality reducer — a catalog of billions of rows
usually has orders of magnitude fewer distinct names), then run the
quadratic edit-distance comparison only within small blocks of that
vocabulary.

Everything is built-in expressions (``levenshtein`` is identical
classic edit distance in Spark and DuckDB), no UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_pipeline_for_e_commerce_shop_spark.schemas import load_table


# Default edit-distance cap; interpolated into the registered oracle
# SQL (queries.py) so operator and oracle cannot drift.
FUZZY_MAX_DIST = 4


def fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-identical product-name pairs by blocked edit distance.

    Pipeline: distinct p_name with part counts (fact-sized shuffle,
    vocabulary-sized output) -> self-join blocked on the first name
    token (broadcast — the vocabulary side is small by construction)
    -> keep ordered pairs with 0 < levenshtein <= FUZZY_MAX_DIST.

    At 100 TB: the only fact-sized operation is the name groupBy; the
    quadratic stage runs on |vocabulary|^2 / |blocks| pairs.  If the
    vocabulary itself were huge, the block key grows (first token +
    length bucket) — the shape stays an equi-join, never a full
    cartesian.
    """
    part = load_table(spark, sf_dir, "part")
    names = (
        part.groupBy("p_name")
        .agg(F.count(F.lit(1)).alias("n_parts"))
        .withColumn("blk", F.split("p_name", " ").getItem(0))
    )
    a = names.select(
        F.col("p_name").alias("name_a"),
        F.col("n_parts").alias("n_a"),
        "blk",
    )
    b = names.select(
        F.col("p_name").alias("name_b"),
        F.col("n_parts").alias("n_b"),
        "blk",
    )
    dist = F.levenshtein("name_a", "name_b")
    return (
        a.join(F.broadcast(b), "blk")
        .where(F.col("name_a") < F.col("name_b"))
        .where(dist <= FUZZY_MAX_DIST)
        .select(
            "name_a",
            "name_b",
            dist.alias("dist"),
            "n_a",
            "n_b",
        )
    )
