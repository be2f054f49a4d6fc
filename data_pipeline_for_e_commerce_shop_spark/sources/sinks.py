"""Sink operators S5, S7, S9 and S10 (SURVEY §2.1).

The medallion zones and KPI serving tables are plain parquet
directories (Hive-style ``dt=`` partitions for the zones), written two
ways: :func:`write_partitioned` replaces the partitions a batch
carries (dynamic partition overwrite), and :func:`swap_parquet`
replaces a whole table through a rename-aside swap; its one caller is
the KPI merge (``operators/merge.upsert_parquet_table``).  Versioned
tables with concurrent writers use the Delta log instead
(``sources/delta_writer``).  On a production cluster these map 1:1
onto Delta/Iceberg tables (noted per function); the operator
semantics — partition-scoped overwrite, quarantine-with-reason — are
identical.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, DataFrameWriter
from pyspark.sql import functions as F


def write_partitioned(df: DataFrame, path: str) -> None:
    """S5: partitioned table write with DYNAMIC partition overwrite.

    The reference's ``mode('overwrite')`` on the whole table
    (scripts/validation.py:121-129) deletes every previous day each
    batch — SURVEY §4.3.  Dynamic overwrite replaces only the ``dt``
    partitions present in this batch (Delta equivalent:
    ``replaceWhere``).
    """
    (
        df.write.option("partitionOverwriteMode", "dynamic")
        .mode("overwrite")
        .partitionBy("dt")
        .parquet(path)
    )


def write_quarantine(bad_rows: DataFrame, path: str) -> None:
    """S9: quarantine failing rows, which carry their ``reason`` and
    ``error_type`` columns, stamped with ``rejected_at`` — replaces the
    copy-to-rejected/-plus-JSON flow (reference
    lambda/s3_validation.py:138-157).  Nothing is counted first: an
    empty ``bad_rows`` may leave one zero-row file."""
    (
        bad_rows.withColumn("rejected_at", F.current_timestamp())
        .write.mode("append")
        .parquet(path)
    )


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

