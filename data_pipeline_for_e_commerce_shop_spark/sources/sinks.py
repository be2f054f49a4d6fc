"""Sink operators S5-S7, S9-S11 (SURVEY §2.1).

The medallion zones and KPI serving tables are plain parquet
directories (Hive-style ``dt=`` partitions for the zones), written two
ways: :func:`write_partitioned` replaces the partitions a batch
carries (dynamic partition overwrite), and :func:`swap_parquet`
replaces a whole table through a rename-aside swap (the KPI merge,
compaction, erasure).  Versioned tables with concurrent writers use
the Delta log instead (``sources/delta_writer``).  On a production
cluster these map 1:1 onto Delta/Iceberg tables (noted per function);
the operator semantics — partition-scoped overwrite,
quarantine-with-reason, idempotent manifest — are identical.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
import uuid
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, DataFrameWriter
from pyspark.sql import functions as F


def write_partitioned(df: DataFrame, path: str, partition_col: str = "dt") -> None:
    """S5: partitioned table write with DYNAMIC partition overwrite.

    The reference's ``mode('overwrite')`` on the whole table
    (scripts/validation.py:121-129) deletes every previous day each
    batch — SURVEY §4.3.  Dynamic overwrite replaces only the partitions
    present in this batch (Delta equivalent: ``replaceWhere``).
    """
    (
        df.write.option("partitionOverwriteMode", "dynamic")
        .mode("overwrite")
        .partitionBy(partition_col)
        .parquet(path)
    )


def write_quarantine(
    bad_rows: DataFrame, path: str, reason: str | Column, error_type: str | Column
) -> None:
    """S9: quarantine failing rows with reason/provenance columns —
    replaces the copy-to-rejected/-plus-JSON flow
    (reference lambda/s3_validation.py:138-157).  ``reason`` and
    ``error_type`` are a value or a per-row column.  Nothing is counted
    first: an empty ``bad_rows`` may leave one zero-row file."""
    (
        bad_rows.withColumn("reason", F.lit(reason))
        .withColumn("error_type", F.lit(error_type))
        .withColumn("rejected_at", F.current_timestamp())
        .write.mode("append")
        .parquet(path)
    )


def write_manifest(path: str, payload: dict) -> None:
    """S6: one-row JSON result manifest
    (reference scripts/validation.py:132-142) — driver-side by design;
    it is control metadata, not data."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(payload, f, sort_keys=True)


def write_alert(alerts_path: str, payload: dict) -> None:
    """S10: alert append (reference SNS publish,
    lambda/s3_validation.py:160-177) represented as an alerts table row."""
    os.makedirs(alerts_path, exist_ok=True)
    # a content digest, not hash(): str hashing is salted per process,
    # so a retried alert would land under a second name
    text = json.dumps(payload, sort_keys=True)
    fname = f"alert_{hashlib.sha256(text.encode()).hexdigest()[:16]}.json"
    with open(os.path.join(alerts_path, fname), "w") as f:
        f.write(text)


def swap_parquet(
    path: str, build: Callable[[], DataFrameWriter], tag: str
) -> None:
    """Replace the parquet table at ``path`` with what ``build()``'s
    writer produces: stage to a sibling, rename the original aside,
    promote the staged copy, drop the backup.  Writing a table over
    its own input would delete files its lazy plan still reads, and a
    crash mid-overwrite would lose the only copy; here a crash at any
    step leaves a complete table at ``path`` or at the
    ``<name>__<tag>_bak_<hex>`` sibling.

    Every swap first repairs what an earlier one left, before
    ``build`` reads the table: a backup with no primary is the last
    committed table and is renamed back into place; a backup next to a
    primary is stale and dropped; staging siblings
    (``<name>__<tag>_<hex>``) never committed and are dropped.

    Single writer per table: two concurrent swaps race their
    read-modify-write (tables with concurrent writers belong on the
    Delta log).  Local filesystem only: object stores have no atomic
    directory rename."""
    path = path.rstrip("/")
    parent = os.path.dirname(path) or "."
    debris = re.compile(
        re.escape(os.path.basename(path)) + r"__[a-z]+(_bak)?_[0-9a-f]{8}\Z"
    )
    siblings = os.listdir(parent) if os.path.isdir(parent) else []
    baks = []
    for name in siblings:
        m = debris.match(name)
        if m and m.group(1):
            baks.append(os.path.join(parent, name))
        elif m:
            shutil.rmtree(os.path.join(parent, name), ignore_errors=True)
    if baks and not os.path.exists(path):
        os.rename(baks.pop(), path)
    for d in baks:
        shutil.rmtree(d)

    suffix = uuid.uuid4().hex[:8]
    staged = f"{path}__{tag}_{suffix}"
    bak = f"{path}__{tag}_bak_{suffix}"
    build().parquet(staged)
    if os.path.exists(path):
        os.rename(path, bak)
        os.rename(staged, path)
        shutil.rmtree(bak)
    else:
        os.rename(staged, path)


def compact_table(
    spark,
    path: str,
    target_rows_per_file: int = 1_000_000,
    partition_col: str | None = None,
) -> int:
    """Small-file compaction — the maintenance job every streaming or
    per-batch writer eventually needs (each micro-batch/day writes its
    own files; a year later the table is a million 2 MB files and scan
    planning dominates query time).

    Rewrites the table with a row-count-targeted file size:
    `maxRecordsPerFile` bounds file size without a global repartition;
    the `coalesce` merges existing small partitions WITHOUT a shuffle
    (coalesce only unions read splits).  With `partition_col` the
    partition directory layout is re-created so readers' partition
    pruning keeps working; note the row target then applies per task x
    partition, so tune `target_rows_per_file` to the largest partition,
    and the WHOLE table is rewritten — compact one partition at a time
    by passing that partition's path instead.  Returns the number of
    files after compaction.

    The rewrite is promoted with :func:`swap_parquet` (local filesystem
    only; at 100 TB use a transactional table format's OPTIMIZE, as
    ``delta_writer.optimize_delta_table`` does for Delta tables).
    """
    import glob

    def build():
        df = spark.read.parquet(path)
        n_files = max(1, -(-df.count() // target_rows_per_file))
        w = df.coalesce(n_files).write.option(
            "maxRecordsPerFile", target_rows_per_file
        )
        return w.partitionBy(partition_col) if partition_col else w

    swap_parquet(path, build, "compact")
    return len(
        glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    )


def expire_partitions(
    spark, path: str, partition_col: str, keep_latest: int
) -> dict:
    """Retention expiry for a partitioned table: drop all but the
    latest N partitions, return an audit of what was removed.

    On plain parquet this is a directory-level delete (partition
    pruning makes it metadata-only — no data files are read); the
    Delta form is ``DELETE WHERE dt < cutoff`` + VACUUM.  Partition
    deletion, not row filtering, is what keeps retention O(partitions)
    at 100 TB.
    """

    def _order_key(dirname: str):
        # "latest" must follow the partition VALUE, not the directory
        # string: numeric values sort lexicographically wrong
        # (day=9 > day=10 as strings)
        v = dirname.split("=", 1)[1]
        try:
            return (0, int(v), "")
        except ValueError:
            return (1, 0, v)

    parts = sorted(
        (d for d in os.listdir(path)
         if d.startswith(f"{partition_col}=")),
        key=_order_key,
    )
    kept = parts[-keep_latest:] if keep_latest > 0 else []
    drop = parts[: len(parts) - len(kept)]
    for d in drop:
        shutil.rmtree(os.path.join(path, d))
    return {
        "path": path,
        "dropped": [d.split("=", 1)[1] for d in drop],
        "kept": [d.split("=", 1)[1] for d in kept],
    }
