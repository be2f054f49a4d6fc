"""PySpark-native analytics engine with the query/data-processing
capabilities of the reference e-commerce pipeline
(kgyauAmtch/Data_Pipeline_for_E-Commerce_shop), re-expressed Spark-first.

Layout
------
- ``session``    — tuned SparkSession factory (AQE, shuffle sizing, Arrow)
- ``schemas``    — explicit StructTypes (the reference is stringly-typed;
                   see reference scripts/validation.py:64)
- ``sources``    — scans/sinks (schema-first CSV reader, partitioned
                   sinks, quarantine, the parquet swap, the Delta log
                   reader/writer, the synthetic generator source)
- ``quality``    — validation gates (schema / null / referential integrity)
- ``operators``  — KPI queries, coalescing merge, window analytics,
                   dedup, similarity search, text analysis, multimodal
- ``functions``  — scalar helpers (integer-cents money, ratios, dates)
- ``streaming``  — Structured Streaming control plane (debounce,
                   single-flight batch runner over a CAS-committed JSON
                   state log) and the streaming query operators
- ``pipeline``   — medallion runner wiring raw -> validated -> KPIs
"""

__version__ = "0.1.0"

from data_pipeline_for_e_commerce_shop_spark.session import get_spark  # noqa: F401
