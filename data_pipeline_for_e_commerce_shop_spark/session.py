"""SparkSession factory tuned for both local testing and cluster scale.

The reference runs stock ``local[*]`` with zero tuning
(reference stepfunction/stepfunction.json:62-64, ecs task defs).  We set
the knobs that matter at 100 TB and are harmless locally:

- AQE (runtime coalesce / skew-join split / broadcast demotion-promotion)
- shuffle partition count sized to the env, overridable per deployment
- Arrow for any pandas interchange (vectorized UDF path)
- UTC session timezone (deterministic date semantics)
- a generated-class cache (``spark.sql.codegen.cache.maxEntries``) that
  holds a warm pass's working set: 103 classes for a perfbench
  ``query_mix`` pass and 140 for a medallion batch (seed 7); at Spark's
  100 entries a warm pass compiled 53 of them again, a warm batch 134
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "data_pipeline_for_e_commerce_shop_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-appropriate defaults.

    On a real cluster ``master`` comes from the deployment; locally we
    default to ``local[N]`` with N from ``SPARK_GRAFT_CPUS``.

    The codegen cache is JVM-wide and a static conf, read when the
    first session starts.  Guava splits it into four LRU segments, so
    at Spark's 100 entries a segment holds 25, and a pass that cycles
    through more classes than a segment holds misses on every one.  At
    200 a warm ``query_mix`` pass compiles nothing, and a warm batch
    compiles only its quarantine writes, whose ``rejected_at`` stamp is
    a per-query literal in the generated source.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(DEFAULT_SHUFFLE_PARTITIONS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.codegen.cache.maxEntries", "200")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 128 MiB input splits: sane parallelism for parquet scans at scale.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # Testdata events.parquet stores TIMESTAMP(NANOS); Spark has no
        # nanos timestamp — read as long, converted in schemas.load_table.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
