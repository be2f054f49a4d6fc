"""Versioned parquet tables with time travel and MULTI-WRITER
compare-and-swap commits — the Delta/Iceberg snapshot pattern on plain
parquet (the reference pins Delta 2.3.0, scripts/validation.py:121-129
+ docker/dockerfile.validation:4,35; the delta package is absent in
this environment, so the commit protocol is implemented directly).

Design (Delta's, re-expressed on a POSIX dir):

- Data for each commit lands in a uniquely-named staging directory
  (``data_<uuid>``) that is NEVER renamed — no rename races, and a
  crashed writer leaves only an unreferenced orphan dir (vacuumed by
  ``expire_versions``), never a half-visible version.
- The commit point is the atomic creation of ``_log/v=N.json`` by
  :func:`publish_once`, an ``os.link`` from a fully-written temp file
  (the Delta writer and the batch runner commit through it too):
  hard-link creation fails with EEXIST if the name is taken, so
  exactly ONE writer wins each version number and the file always
  appears with complete content (readers can never observe a partial
  manifest).
- Versions are DENSE (each commit claims current+1), which makes the
  log a total order: a writer that read version ``v`` can request
  ``expected_current=v`` and the commit fails with
  :class:`ConcurrentWriteError` if anyone committed in between —
  optimistic concurrency for read-modify-write (see
  ``operators/merge.upsert_versioned_table`` for the retry loop).
  Blind writers (``expected_current=None``) auto-retry at v+1.

At 100 TB each version is just a directory of parquet; old versions
are pruned with ``expire_versions`` (the retention twin of
sinks.expire_partitions), which also vacuums orphaned staging dirs.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession

_LOG_DIR = "_log"
_ENTRY_RE = re.compile(r"v=(\d+)\.json\Z")
_MAX_COMMIT_ATTEMPTS = 64


class ConcurrentWriteError(RuntimeError):
    """Another writer committed between this writer's read and its
    commit attempt (the table's current version moved past
    ``expected_current``).  Re-read the new current and retry."""


def publish_once(path: str, text: str) -> bool:
    """The package's one compare-and-swap commit: create ``path`` holding
    ``text`` iff no file has that name yet.  The text is written to a
    temp file beside ``path`` and hard-linked into place; ``os.link``
    fails with EEXIST when the name is taken, so exactly one racing
    writer wins and readers never see a partial file.  Returns False
    when another writer got there first."""
    tmp = os.path.join(os.path.dirname(path), f".tmp_{uuid.uuid4().hex}")
    with open(tmp, "w") as f:
        f.write(text)
    try:
        os.link(tmp, path)
        return True
    except FileExistsError:
        return False
    finally:
        os.unlink(tmp)


def _log_dir(table_path: str) -> str:
    return os.path.join(table_path, _LOG_DIR)


def _committed_entries(table_path: str) -> list[dict]:
    """All committed versions, oldest first, from the commit log."""
    d = _log_dir(table_path)
    if not os.path.isdir(d):
        return []
    entries = []
    for name in os.listdir(d):
        if _ENTRY_RE.match(name):
            with open(os.path.join(d, name)) as f:
                entries.append(json.load(f))
    return sorted(entries, key=lambda e: e["v"])


def current_version(table_path: str) -> int:
    """The newest committed version number (0 = empty table)."""
    entries = _committed_entries(table_path)
    return entries[-1]["v"] if entries else 0


def versions(table_path: str) -> list[dict]:
    """Version history, oldest first: [{"v": N, "n_rows": X}, ...]."""
    return [
        {"v": e["v"], "n_rows": e["n_rows"]}
        for e in _committed_entries(table_path)
    ]


def write_versioned(
    df: DataFrame,
    table_path: str,
    expected_current: int | None = None,
) -> int:
    """Commit ``df`` as the next version; returns the version number.

    Stage (uuid dir) -> CAS-commit (atomic ``os.link`` of the complete
    manifest entry into ``_log/v=N.json``).  A crash at any point
    leaves the previous version current; the only debris is an
    unreferenced staging dir.

    ``expected_current``: optimistic-concurrency guard for
    read-modify-write callers — raise :class:`ConcurrentWriteError`
    (without committing) if the table's current version is no longer
    this value.  ``None`` means blind append/overwrite semantics: on a
    lost race the writer transparently re-claims the next number (its
    data does not depend on what it read)."""
    os.makedirs(_log_dir(table_path), exist_ok=True)
    data_dir = f"data_{uuid.uuid4().hex}"
    staged = os.path.join(table_path, data_dir)
    df.write.mode("overwrite").parquet(staged)
    n_rows = df.sparkSession.read.parquet(staged).count()

    for _ in range(_MAX_COMMIT_ATTEMPTS):
        cur = current_version(table_path)
        if expected_current is not None and cur != expected_current:
            shutil.rmtree(staged, ignore_errors=True)
            raise ConcurrentWriteError(
                f"{table_path}: expected current version"
                f" {expected_current}, found {cur}"
            )
        v = cur + 1
        entry = {"v": v, "n_rows": n_rows, "dir": data_dir}
        final = os.path.join(_log_dir(table_path), f"v={v}.json")
        if publish_once(final, json.dumps(entry)):
            return v
        # lost the race for v; re-read and retry
    shutil.rmtree(staged, ignore_errors=True)
    raise RuntimeError(
        f"{table_path}: gave up after {_MAX_COMMIT_ATTEMPTS} commit"
        " attempts (pathological writer contention)"
    )


def read_versioned(
    spark: SparkSession, table_path: str, version: int | None = None
) -> DataFrame:
    """Read the current version, or pin `version` for time travel."""
    entries = _committed_entries(table_path)
    if not entries:
        raise FileNotFoundError(f"no committed versions at {table_path}")
    by_v = {e["v"]: e for e in entries}
    v = entries[-1]["v"] if version is None else version
    if v not in by_v:
        raise ValueError(
            f"version {v} not in table history {sorted(by_v)}"
        )
    return spark.read.parquet(os.path.join(table_path, by_v[v]["dir"]))


def expire_versions(table_path: str, keep_last: int = 2) -> list[int]:
    """Drop all but the newest `keep_last` versions (directory-level,
    metadata-only — O(versions) regardless of data size), then vacuum
    any staging dirs no surviving version references (crashed-writer
    debris).  The current version is always kept.  Returns the dropped
    version numbers."""
    entries = _committed_entries(table_path)
    if not entries:
        return []
    cur = entries[-1]["v"]
    to_drop = entries[:-keep_last] if keep_last > 0 else entries[:-1]
    dropped = []
    for e in to_drop:
        if e["v"] == cur:
            continue
        shutil.rmtree(os.path.join(table_path, e["dir"]), ignore_errors=True)
        log_file = os.path.join(_log_dir(table_path), f"v={e['v']}.json")
        if os.path.exists(log_file):
            os.unlink(log_file)
        dropped.append(e["v"])
    # vacuum unreferenced staging dirs
    referenced = {e["dir"] for e in _committed_entries(table_path)}
    for name in os.listdir(table_path):
        if name.startswith("data_") and name not in referenced:
            shutil.rmtree(
                os.path.join(table_path, name), ignore_errors=True
            )
    return dropped
