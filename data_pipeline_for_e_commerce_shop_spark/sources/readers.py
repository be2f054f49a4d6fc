"""Source operators S1, S4 and S8 (SURVEY §2.1).

Reference behaviors re-expressed:

- S1 CSV scan: reference reads header=True with NO schema
  (scripts/validation.py:64) — stringly typed.  Here: explicit
  StructType, PERMISSIVE mode with a ``_corrupt_record`` capture column
  so bad rows are quarantined instead of silently coerced.
- S4 multi-part union: reference reads N files in a Python loop and
  reduces with unionByName (scripts/validation.py:67-80).  Here:
  ``read_csv_entity`` takes the whole list of part files as ONE
  multi-path scan — Spark parallelizes file listing and splits, and the
  whole set is a single relation (one stage, no N plans).
- S8 header probe: ``schema_probe`` reads the first CSV row without
  Spark.
"""

from __future__ import annotations

import csv

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

CORRUPT_COL = "_corrupt_record"


def read_csv_entity(
    spark: SparkSession,
    paths: list[str] | str,
    schema: T.StructType,
    capture_corrupt: bool = True,
) -> DataFrame:
    """S1: schema-first CSV scan with corrupt-record capture."""
    read_schema = schema
    if capture_corrupt and CORRUPT_COL not in [f.name for f in schema.fields]:
        read_schema = T.StructType(
            list(schema.fields) + [T.StructField(CORRUPT_COL, T.StringType(), True)]
        )
    return (
        spark.read.schema(read_schema)
        .option("header", True)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .csv(paths)
    )


def schema_probe(path: str) -> list[str]:
    """S8: header peek — the first CSV row, read in plain Python as the
    reference reads it (lambda/s3_validation.py:53-56; a BOM is
    stripped), so the header gate runs no Spark job.  An empty file has
    no header and returns ``[]``."""
    with open(path, newline="", encoding="utf-8-sig") as f:
        return next(csv.reader(f), [])

