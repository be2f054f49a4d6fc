"""PySpark-native analytics engine with the query/data-processing
capabilities of the reference e-commerce pipeline
(kgyauAmtch/Data_Pipeline_for_E-Commerce_shop), re-expressed Spark-first.

Layout
------
- ``session``    — tuned SparkSession factory (AQE, shuffle sizing, Arrow)
- ``schemas``    — explicit StructTypes (the reference is stringly-typed;
                   see reference scripts/validation.py:64)
- ``sources``    — scans/sinks (CSV/parquet readers, partitioned sinks,
                   quarantine, manifests)
- ``quality``    — validation gates (schema / null / referential integrity)
- ``operators``  — KPI queries, coalescing merge, window analytics,
                   dedup, similarity search, text analysis, multimodal
- ``functions``  — scalar helpers (portable hashing, date/json utils)
- ``streaming``  — Structured Streaming control plane (ingest, debounce,
                   single-flight batch runner over a CAS-committed JSON
                   state log)
- ``pipeline``   — medallion runner wiring raw -> validated -> KPIs
"""

__version__ = "0.1.0"

from data_pipeline_for_e_commerce_shop_spark.session import get_spark  # noqa: F401
