"""Source operators S1-S4, S8 (SURVEY §2.1).

Reference behaviors re-expressed:

- S1 CSV scan: reference reads header=True with NO schema
  (scripts/validation.py:64) — stringly typed.  Here: explicit
  StructType, PERMISSIVE mode with a ``_corrupt_record`` capture column
  so bad rows are quarantined instead of silently coerced.
- S3 polymorphic reader: reference try/except Delta-then-CSV
  (scripts/validation.py:51-64) — exception-driven dispatch masks real
  read errors.  Here: explicit format probe.
- S4 multi-part union: reference reads N files in a Python loop and
  reduces with unionByName (scripts/validation.py:67-80).  Here: ONE
  multi-path scan — Spark parallelizes file listing and splits, and the
  whole set is a single relation (one stage, no N plans).
"""

from __future__ import annotations

import csv
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
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


def read_multipart(
    spark: SparkSession, paths: list[str], schema: T.StructType
) -> DataFrame:
    """S4: N part-files as one relation (single multi-path scan).

    The reference's per-file loop + reduce(unionByName)
    (scripts/validation.py:67-80) builds an N-way Union plan; a
    multi-path scan is one relation with N splits — same rows, one scan
    node, parallel file listing.
    """
    return read_csv_entity(spark, paths, schema)


def union_by_name(dfs: list[DataFrame], allow_missing: bool = False) -> DataFrame:
    """U1: explicit unionByName for schema-drifting sources
    (reference scripts/validation.py:78)."""
    out = dfs[0]
    for df in dfs[1:]:
        out = out.unionByName(df, allowMissingColumns=allow_missing)
    return out


def read_polymorphic(
    spark: SparkSession, path: str, schema: T.StructType
) -> DataFrame:
    """S3: dispatch format by explicit probe, not exceptions.

    The reference falls back Delta->CSV via try/except
    (scripts/validation.py:51-64) — exception dispatch masks real read
    errors.  We probe the physical layout: a dir with ``_delta_log``
    is a DELTA table and goes through the log-replaying reader
    (sources/delta_reader.py — a raw parquet scan of such a dir would
    also read removed/uncommitted files); plain ``*.parquet`` dirs
    scan directly; ``*.orc`` files dispatch to the ORC reader;
    ``*.json``/``*.jsonl`` to the JSON-lines reader (explicit schema —
    inference would scan twice and type-drift); anything else is CSV.
    """
    if os.path.isdir(path) and os.path.isdir(
        os.path.join(path, "_delta_log")
    ):
        from data_pipeline_for_e_commerce_shop_spark.sources.delta_reader import (
            read_delta_table,
        )

        return read_delta_table(spark, path)
    ext = _table_extension(path)
    if ext == "parquet":
        return spark.read.parquet(path)
    if ext == "orc":
        return spark.read.orc(path)
    if ext in ("json", "jsonl"):
        return spark.read.schema(schema).json(path)
    return read_csv_entity(spark, path, schema)


def _table_extension(path: str) -> str:
    """Data-file extension of a file or table directory ('parquet'
    also covers Delta-style dirs via _delta_log).

    Scans ALL entries and dispatches by fixed priority (parquet >
    orc > json) — never by os.listdir order, which is arbitrary: a
    parquet table with a stray .json sidecar must always read as
    parquet, on every run."""
    if not os.path.isdir(path):
        return path.rsplit(".", 1)[-1].lower()
    seen: set[str] = set()
    for entry in os.listdir(path):
        if entry == "_delta_log":
            return "parquet"
        if "." in entry and not entry.startswith("_"):
            ext = entry.rsplit(".", 1)[-1].lower()
            if ext == "jsonl":
                ext = "json"
            seen.add(ext)
    for ext in ("parquet", "orc", "json"):
        if ext in seen:
            return ext
    return "csv"


def _is_parquet_table(path: str) -> bool:
    return _table_extension(path) == "parquet"


def schema_probe(path: str) -> list[str]:
    """S8: header peek — the first CSV row, read in plain Python as the
    reference reads it (lambda/s3_validation.py:53-56; a BOM is
    stripped), so the header gate runs no Spark job.  An empty file has
    no header and returns ``[]``."""
    with open(path, newline="", encoding="utf-8-sig") as f:
        return next(csv.reader(f), [])


def with_source_file(df: DataFrame) -> DataFrame:
    """P8/P9 support: attach the originating file path as a column so
    filename routing/parsing (reference lambda/s3_validation.py:115-125)
    is an expression, not driver code."""
    return df.withColumn("_source_file", F.input_file_name())


def normalize_path(path: str) -> str:
    """P10: path normalization before planning (the reference rewrites
    s3:// -> s3a:// for Hadoop's S3 connector, scripts/transformation.py:18-27,
    and form-decodes S3 EVENT-NOTIFICATION keys, lambda/s3_validation.py:44).

    Decoding applies ONLY to the S3 branch: object keys arriving via
    event notifications are form-encoded, but a local (or already-
    decoded) path containing a literal '+' or '%XX' — e.g. 'a+b.csv' —
    must pass through untouched.
    """
    from urllib.parse import unquote_plus

    if path.startswith("s3://"):
        return "s3a://" + unquote_plus(path[len("s3://"):])
    return path


def read_with_schema_evolution(spark: SparkSession, path: str) -> DataFrame:
    """Read a parquet table whose files were written under DIFFERENT
    schema versions (columns added over time — the reference's S3 zones
    have no schema enforcement, so this is the reality of its data
    lake).  ``mergeSchema`` unions all file footers' schemas; files
    missing a column yield NULLs — the read-side twin of
    ``union_by_name(allow_missing=True)``.

    Scale note: schema merging lists every footer — on a huge table
    pin the schema explicitly (`.schema(...)`) and keep mergeSchema for
    the evolution-discovery job, not the hot path.
    """
    return spark.read.option("mergeSchema", True).parquet(path)
