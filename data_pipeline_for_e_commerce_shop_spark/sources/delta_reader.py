"""Delta Lake TABLE READER over the open _delta_log protocol — no
delta-spark needed.

The reference's validated zone IS a Delta table (Delta 2.3.0 pinned in
docker/dockerfile.validation:4,35; written by scripts/validation.py:
121-129).  With default table properties that version writes reader
protocol 1, and so does :mod:`delta_writer`.  The transaction log is a
PUBLIC protocol
(https://github.com/delta-io/delta/blob/master/PROTOCOL.md): ordered
JSON commits ``_delta_log/<20-digit version>.json`` whose ``add`` /
``remove`` actions define each version's live file set, with a parquet
CHECKPOINT every ~10 commits compacting the state so older JSON can be
vacuumed.

:func:`_snapshot` is the module's one fold of that log, and the only
code in the package that opens a commit or checkpoint file.  It seeds
from the newest classic checkpoint at/below the bound —
``<v>.checkpoint.parquet`` or the complete multi-part
``<v>.checkpoint.<i>.<n>.parquet`` set; ``_last_checkpoint`` is only
the hint the protocol says it is — replays the JSON commits after it,
and returns the version, the live adds with their ``partitionValues``,
the metaData, the protocol and the per-app SetTransaction watermarks.
The reader, the writer, the checkpoint writer, OPTIMIZE and VACUUM all
read the log through it.

Scope, enforced loudly: reader protocol 1 only.  A table that declares
any other ``minReaderVersion`` (column mapping, deletion vectors, V2
checkpoints, ...), an add action carrying a ``deletionVector``, or a
UUID-named V2 checkpoint file raises ``NotImplementedError`` before any
data file is read or staged: reading such a table as plain parquet
would return wrong rows.  Time travel below the earliest checkpoint
needs the JSON commits from version 0; if they were vacuumed the read
raises instead of resolving a wrong file set.

Scale: the log is metadata (KBs per commit, checkpoint rows ~ live file
count), so the fold is driver-side, like Delta's own snapshot
construction; the data scan is the ordinary distributed parquet read of
the resolved files.
"""

from __future__ import annotations

import json
import os
import re
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession

_COMMIT_RE = re.compile(r"(\d{20})\.json\Z")
_CP_SINGLE_RE = re.compile(r"(\d{20})\.checkpoint\.parquet\Z")
_CP_PART_RE = re.compile(
    r"(\d{20})\.checkpoint\.(\d{10})\.(\d{10})\.parquet\Z"
)
# V2 checkpoints (reader feature v2Checkpoint): recognised only to refuse
_CP_V2_RE = re.compile(
    r"\d{20}\.checkpoint\.[0-9a-fA-F-]{36}\.(parquet|json)\Z"
)

# The field that marks a checkpoint row's struct as present: a classic
# checkpoint has one column per action kind, null in the other rows.
_ACTION_KEYS = {
    "txn": "appId",
    "add": "path",
    "remove": "path",
    "metaData": "id",
    "protocol": "minReaderVersion",
}


class Snapshot(NamedTuple):
    version: int  # -1: the table has no commit yet
    adds: dict[str, dict]  # live path (table-relative) -> partitionValues
    meta: dict | None
    protocol: dict | None
    txns: dict[str, int]  # appId -> highest committed txn version
    checkpoint: int | None  # the checkpoint version the fold seeded from


def delta_log_versions(table_path: str) -> list[int]:
    """Commit versions present in the table's _delta_log."""
    log = os.path.join(table_path, "_delta_log")
    if not os.path.isdir(log):
        raise FileNotFoundError(
            f"not a Delta table (no _delta_log): {table_path}"
        )
    return sorted(
        int(m.group(1))
        for name in os.listdir(log)
        if (m := _COMMIT_RE.match(name))
    )


def _checkpoints(table_path: str) -> dict[int, list[str]]:
    """Classic checkpoint versions -> ordered part files, from the
    directory listing.  An incomplete multi-part set is an in-flight
    checkpoint and is ignored; a V2 checkpoint refuses."""
    log = os.path.join(table_path, "_delta_log")
    out: dict[int, list[str]] = {}
    parts: dict[int, dict[int, tuple[int, str]]] = {}
    for name in os.listdir(log):
        if _CP_V2_RE.match(name):
            raise NotImplementedError(
                f"{table_path}: V2 checkpoint {name}; this reader reads"
                " reader-protocol-1 tables only, refusing a lossy read"
            )
        if m := _CP_SINGLE_RE.match(name):
            out[int(m.group(1))] = [os.path.join(log, name)]
        elif m := _CP_PART_RE.match(name):
            v, i, n = int(m.group(1)), int(m.group(2)), int(m.group(3))
            parts.setdefault(v, {})[i] = (n, os.path.join(log, name))
    for v, got in parts.items():
        n = next(iter(got.values()))[0]
        if set(got) == set(range(1, n + 1)) and all(
            x[0] == n for x in got.values()
        ):
            out[v] = [got[i][1] for i in range(1, n + 1)]
    return out


def _protocol_gate(table_path: str, proto: dict) -> None:
    """Refuse every reader protocol but 1: column mapping (v2), and the
    v3 features (deletion vectors, V2 checkpoints, ...) change what the
    parquet files mean, so a plain scan of them is silent corruption."""
    mrv = proto.get("minReaderVersion", 1)
    if mrv != 1:
        raise NotImplementedError(
            f"{table_path}: minReaderVersion={mrv}, readerFeatures="
            f"{sorted(proto.get('readerFeatures') or [])}; this reader reads"
            " protocol 1 only (no column mapping, deletion vectors or V2"
            " checkpoints), refusing a lossy read"
        )


def _snapshot(
    table_path: str, version: int | None = None, seed_below: int | None = None
) -> Snapshot:
    """The table's state at ``version`` (latest if None): seeded from
    the newest complete classic checkpoint at/below it — strictly below
    ``seed_below`` when given, so the checkpoint writer rebuilds a
    checkpoint without trusting it, and VACUUM checks one against the
    log it replaces — then folded through the JSON commits after it.
    A table with no log yet is version -1 with nothing live."""
    try:
        commits = delta_log_versions(table_path)
    except FileNotFoundError:
        return Snapshot(-1, {}, None, None, {}, None)
    cps = _checkpoints(table_path)
    latest = max(commits[-1] if commits else -1, max(cps, default=-1))
    if version is None:
        version = latest
    if version > latest:
        raise ValueError(
            f"version {version} beyond latest Delta version {latest}"
        )
    bound = version if seed_below is None else min(version, seed_below - 1)
    cp_v = max((v for v in cps if v <= bound), default=None)
    start = 0 if cp_v is None else cp_v + 1
    replay = [v for v in commits if start <= v <= version]
    if replay != list(range(start, version + 1)):
        raise NotImplementedError(
            f"{table_path}: cannot reconstruct version {version} — need JSON"
            f" commits {start}..{version}"
            + (f" after checkpoint {cp_v}" if cp_v is not None else "")
            + f", found {replay} (vacuumed commits / missing checkpoint)"
        )

    adds: dict[str, dict] = {}
    state: dict = {"metaData": None, "protocol": None}
    txns: dict[str, int] = {}

    def apply(kind: str, action) -> None:
        if kind not in _ACTION_KEYS or not isinstance(action, dict):
            return  # commitInfo, or a null struct in a checkpoint row
        if action.get(_ACTION_KEYS[kind]) is None:
            return
        if kind == "add":
            dv = action.get("deletionVector")
            if dv and dv.get("storageType"):
                raise NotImplementedError(
                    f"{table_path}: {action['path']} carries a deletion"
                    " vector; refusing a lossy read"
                )
            # checkpoint MAP columns arrive from pyarrow as (key, value) pairs
            adds[action["path"]] = dict(action.get("partitionValues") or {})
        elif kind == "remove":
            adds.pop(action["path"], None)
        elif kind == "txn":
            txns[action["appId"]] = max(
                txns.get(action["appId"], -1), int(action["version"])
            )
        else:
            if kind == "protocol":
                _protocol_gate(table_path, action)
            state[kind] = action

    if cp_v is not None:
        import pyarrow.parquet as pq

        for fp in cps[cp_v]:
            for row in pq.read_table(fp).to_pylist():
                for kind, action in row.items():
                    apply(kind, action)
    log = os.path.join(table_path, "_delta_log")
    for v in replay:
        with open(os.path.join(log, f"{v:020d}.json")) as f:
            for line in f:
                if line.strip():
                    for kind, action in json.loads(line).items():
                        apply(kind, action)
    return Snapshot(
        version, adds, state["metaData"], state["protocol"], txns, cp_v
    )


def _scan(spark: SparkSession, table_path: str, snap: Snapshot) -> DataFrame:
    """The snapshot's live files as one parquet scan.  Partition columns
    live in the directory paths, not the files, so a partitioned table
    is scanned with ``basePath`` at the table root; a plain multi-path
    read would silently drop them."""
    if not snap.adds:
        raise FileNotFoundError(
            f"{table_path}: version has an empty live file set"
        )
    reader = spark.read
    if any(snap.adds.values()):
        reader = reader.option("basePath", table_path)
    return reader.parquet(
        *(os.path.join(table_path, p) for p in sorted(snap.adds))
    )


def read_delta_table(
    spark: SparkSession, table_path: str, version: int | None = None
) -> DataFrame:
    """Read a Delta table at its latest (or a pinned) version: exactly
    the live file set of :func:`_snapshot` — removed files and
    uncommitted stragglers in the directory are invisible, which a raw
    ``spark.read.parquet`` over the same directory gets wrong."""
    return _scan(spark, table_path, _snapshot(table_path, version))


def last_txn_versions(table_path: str) -> dict[str, int]:
    """Per-application SetTransaction watermarks at the latest version
    (PROTOCOL.md): the exactly-once handshake's state, which
    ``write_delta_commit(txn=...)`` consults before it commits."""
    return _snapshot(table_path).txns
