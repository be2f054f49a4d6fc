"""Delta Lake TABLE WRITER over the open _delta_log protocol — the
reverse of :mod:`delta_reader`, so the medallion zones this engine
writes are readable by STOCK Delta readers (delta-spark, delta-rs,
DuckDB's delta extension), and a reader-protocol-1 Delta table (what
the reference's Delta 2.3.0 writes with default table properties,
scripts/validation.py:121-129) can keep taking appends in-protocol.
Tables are written at reader v1 / writer v2 without column mapping; a
table whose log asks for more is refused by the reader's protocol gate
before any file is staged.

What a commit is (PROTOCOL.md): stage parquet data files into the
table directory under unique names, then atomically publish
``_delta_log/<20-digit version>.json`` holding the protocol / metaData
actions (first commit only), one ``add`` action per staged file, and
``remove`` actions for an overwrite or an OPTIMIZE.  :func:`_commit` is
the one compare-and-swap loop every writer here goes through: each
attempt takes one :func:`delta_reader._snapshot`, skips a batch whose
SetTransaction watermark is already in the log, checks the caller's
conflict rule, builds the actions from that snapshot and publishes them
with :func:`publish_once`, the package's one ``os.link`` CAS.  A lost
race re-reads the log and retries, so an overwrite's removes always
name the files live at the version it claims.  A read-modify-write
caller pins the version it read (``expected_version``) and re-folds on
:class:`ConcurrentWriteError`; :func:`rewrite_delta_table` is that loop
(no caller in the package yet: it is the commit path planned for the
validated zone and the KPI tables).

Checkpoints: every ``checkpoint_interval`` commits the loop writes a
classic single-file checkpoint ``<v>.checkpoint.parquet`` — one row
per live add plus the protocol, metaData and txn rows, in the canonical
five top-level structs (txn, add, remove, metaData, protocol) — and
updates ``_last_checkpoint``.  That is the artifact the reader's fold
seeds from, and it lets stock readers drop the early JSON.

Scale: the log fold and checkpoint write are driver-side metadata work
(KBs per commit; checkpoint rows = live-file count), identical in
shape to Delta's own snapshot/checkpoint writer.  Data files are
written by the ordinary distributed parquet writer.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame

from data_pipeline_for_e_commerce_shop_spark.sources.delta_reader import (
    Snapshot,
    _scan,
    _snapshot,
    delta_log_versions,
)

_MAX_COMMIT_ATTEMPTS = 20
DEFAULT_CHECKPOINT_INTERVAL = 10
# OPTIMIZE bin-packs live files below this size into files of about it
_OPTIMIZE_TARGET_BYTES = 128 * 1024 * 1024


class ConcurrentWriteError(RuntimeError):
    """Another writer committed between this writer's read and its
    commit (the table moved past ``expected_version``), or the commit
    could not be made consistent with the log.  Re-read and retry."""


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


def _stage_data_files(
    df: DataFrame,
    table_path: str,
    data_change: bool = True,
    subdir: str = "",
    partition_values: dict | None = None,
) -> list[dict]:
    """Write df's partitions as parquet files directly under the table
    root (or ``subdir`` — a partition directory for partitioned
    rewrites) with Delta-style unique names; returns add-action dicts
    (path, size, modificationTime, dataChange).  ``data_change=False``
    marks layout-only rewrites (OPTIMIZE) so change-feed consumers
    skip them, per PROTOCOL.md."""
    tmp = os.path.join(table_path, f"_staging_{uuid.uuid4().hex}")
    df.write.mode("overwrite").parquet(tmp)
    dest_dir = os.path.join(table_path, subdir) if subdir else table_path
    os.makedirs(dest_dir, exist_ok=True)
    adds = []
    for part in sorted(glob.glob(os.path.join(tmp, "part-*.parquet"))):
        name = f"part-{uuid.uuid4().hex}.snappy.parquet"
        dest = os.path.join(dest_dir, name)
        shutil.move(part, dest)
        adds.append(
            {
                "path": os.path.join(subdir, name) if subdir else name,
                "partitionValues": dict(partition_values or {}),
                "size": os.path.getsize(dest),
                "modificationTime": int(time.time() * 1000),
                "dataChange": bool(data_change),
            }
        )
    shutil.rmtree(tmp, ignore_errors=True)
    return adds


def _drop_staged(table_path: str, adds: list[dict]) -> None:
    """Delete data files staged for a commit that will not happen."""
    for a in adds:
        try:
            os.unlink(os.path.join(table_path, a["path"]))
        except FileNotFoundError:
            pass


def _metadata_action(df: DataFrame) -> dict:
    """metaData action for a new table: the frame's schema under its
    own column names (no column mapping)."""
    fields = json.loads(df.schema.json())["fields"]
    return {
        "metaData": {
            "id": str(uuid.uuid4()),
            "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps({"type": "struct", "fields": fields}),
            "partitionColumns": [],
            "configuration": {},
            "createdTime": int(time.time() * 1000),
        }
    }


def _removes(paths, data_change: bool) -> list[dict]:
    ts = int(time.time() * 1000)
    return [
        {
            "remove": {
                "path": p,
                "deletionTimestamp": ts,
                "dataChange": data_change,
            }
        }
        for p in paths
    ]


def _replayed(
    table_path: str,
    snap: Snapshot,
    txn: tuple[str, int] | None,
    expected_version: int | None,
) -> bool:
    """True when ``txn``'s batch is already in ``snap``; raises
    :class:`ConcurrentWriteError` when the table has moved past
    ``expected_version``."""
    if txn is not None and snap.txns.get(txn[0], -1) >= txn[1]:
        return True
    if expected_version not in (None, snap.version):
        raise ConcurrentWriteError(
            f"{table_path}: expected version {expected_version},"
            f" found {snap.version}"
        )
    return False


def _commit(
    table_path: str,
    adds: list[dict],
    actions_for: Callable[[Snapshot], list[dict]],
    checkpoint_interval: int,
    txn: tuple[str, int] | None = None,
    expected_version: int | None = None,
) -> int | None:
    """Publish the staged ``adds`` as the next version: the one CAS
    loop.  Each attempt folds the log once; returns None (the batch is
    a replay) when ``txn``'s watermark is already there, raises
    :class:`ConcurrentWriteError` when the table moved past
    ``expected_version`` or ``actions_for`` finds the commit no longer
    consistent with the log, and otherwise publishes ``actions_for``'s
    actions at the snapshot's version + 1, retrying on a lost race.
    The staged files are deleted whenever nothing is published.  Every
    ``checkpoint_interval`` versions the commit is checkpointed."""
    log = os.path.join(table_path, "_delta_log")
    try:
        for _ in range(_MAX_COMMIT_ATTEMPTS):
            snap = _snapshot(table_path)
            if _replayed(table_path, snap, txn, expected_version):
                _drop_staged(table_path, adds)
                return None
            v = snap.version + 1
            actions = []
            if txn is not None:
                actions.append({"txn": {"appId": txn[0], "version": txn[1]}})
            actions += actions_for(snap)
            text = "".join(json.dumps(a) + "\n" for a in actions)
            if publish_once(os.path.join(log, f"{v:020d}.json"), text):
                break
        else:
            raise ConcurrentWriteError(
                f"{table_path}: gave up after {_MAX_COMMIT_ATTEMPTS} Delta"
                " commit attempts (pathological writer contention)"
            )
    except BaseException:
        _drop_staged(table_path, adds)
        raise
    if checkpoint_interval and (v + 1) % checkpoint_interval == 0:
        _write_checkpoint(table_path, v)
    return v


def write_delta_commit(
    df: DataFrame,
    table_path: str,
    mode: str = "append",
    checkpoint_interval: int = DEFAULT_CHECKPOINT_INTERVAL,
    txn: tuple[str, int] | None = None,
    expected_version: int | None = None,
) -> int | None:
    """Commit ``df`` to a Delta table (creating it if absent); returns
    the committed version.  ``mode``: 'append' adds files; 'overwrite'
    also removes every file live at the version the commit claims.

    ``txn=(app_id, version)`` emits a SetTransaction action
    (PROTOCOL.md) recording that this application has committed up to
    ``version`` — the exactly-once handshake streaming sinks use.  The
    watermark is checked before anything is staged and again on every
    attempt of the CAS loop, so two writers sharing an appId (a zombie
    driver racing its restarted successor) cannot both commit one
    batch: the one that finds its batch in the log returns ``None``.

    ``expected_version`` is the optimistic-concurrency guard for
    read-modify-write callers: the commit raises
    :class:`ConcurrentWriteError`, publishing nothing and deleting its
    staged files, unless the table's latest version is still this one
    (-1: the table must not exist yet).  ``None`` commits blindly at
    whatever version is next.

    A table the reader's protocol gate refuses raises
    ``NotImplementedError`` before any file is staged."""
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append|overwrite, got {mode!r}")
    if txn is not None:
        txn = (txn[0], int(txn[1]))
    if _replayed(table_path, _snapshot(table_path), txn, expected_version):
        return None  # already in the log; stage nothing
    os.makedirs(os.path.join(table_path, "_delta_log"), exist_ok=True)
    adds = _stage_data_files(df, table_path)

    def actions_for(now: Snapshot) -> list[dict]:
        actions: list[dict] = []
        if now.version < 0:
            actions.append(
                {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}
            )
            actions.append(_metadata_action(df))
        if mode == "overwrite":
            actions += _removes(sorted(now.adds), data_change=True)
        actions += [{"add": a} for a in adds]
        actions.append(
            {
                "commitInfo": {
                    "timestamp": int(time.time() * 1000),
                    "operation": "WRITE",
                    "operationParameters": {"mode": mode.upper()},
                }
            }
        )
        return actions

    return _commit(
        table_path,
        adds,
        actions_for,
        checkpoint_interval,
        txn,
        expected_version,
    )


def rewrite_delta_table(
    spark,
    table_path: str,
    fold: Callable[[DataFrame | None], DataFrame],
    txn: tuple[str, int] | None = None,
) -> int | None:
    """Optimistic read-modify-write of a whole Delta table: read the
    latest version (``None`` while the table does not exist), commit
    ``fold(current)`` as an overwrite pinned to that version, and on
    :class:`ConcurrentWriteError` re-read and re-fold, so a writer that
    committed in between loses no row.  ``txn`` as in
    :func:`write_delta_commit`: a batch already in the log is skipped
    and None returned.  Returns the committed version."""
    last: Exception | None = None
    for _ in range(_MAX_COMMIT_ATTEMPTS):
        snap = _snapshot(table_path)
        current = _scan(spark, table_path, snap) if snap.version >= 0 else None
        try:
            return write_delta_commit(
                fold(current),
                table_path,
                mode="overwrite",
                txn=txn,
                expected_version=snap.version,
            )
        except ConcurrentWriteError as e:
            last = e
    raise ConcurrentWriteError(
        f"{table_path}: lost the commit race {_MAX_COMMIT_ATTEMPTS}"
        f" times; last: {last}"
    )


def _write_checkpoint(table_path: str, version: int) -> None:
    """Classic single-file checkpoint at ``version``: the protocol and
    metaData rows, one txn row per application and one row per live add
    (with its real ``partitionValues``), in the canonical five-struct
    schema; then point _last_checkpoint at it.  The state is rebuilt
    from the checkpoints strictly below ``version`` and the JSON after
    them, so rewriting a damaged checkpoint never trusts the artifact
    it replaces, and txn rows carry over from checkpoint to checkpoint
    (a vacuum of the early JSON must not reset the exactly-once
    watermarks)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    snap = _snapshot(table_path, version, seed_below=version)
    if snap.meta is None or snap.protocol is None:
        # a checkpoint missing these rows is protocol-invalid and would
        # brick stock readers once the JSON is vacuumed
        raise ConcurrentWriteError(
            f"{table_path}: cannot checkpoint at {version} — the log holds"
            " no metaData/protocol state (damaged or over-vacuumed log)"
        )
    schema = {
        "txn": pa.struct([("appId", pa.string()), ("version", pa.int64())]),
        "add": pa.struct(
            [
                ("path", pa.string()),
                ("partitionValues", pa.map_(pa.string(), pa.string())),
                ("size", pa.int64()),
                ("modificationTime", pa.int64()),
                ("dataChange", pa.bool_()),
            ]
        ),
        "remove": pa.struct(
            [
                ("path", pa.string()),
                ("deletionTimestamp", pa.int64()),
                ("dataChange", pa.bool_()),
            ]
        ),
        "metaData": pa.struct(
            [
                ("id", pa.string()),
                ("format", pa.struct([("provider", pa.string())])),
                ("schemaString", pa.string()),
                ("partitionColumns", pa.list_(pa.string())),
                ("configuration", pa.map_(pa.string(), pa.string())),
                ("createdTime", pa.int64()),
            ]
        ),
        "protocol": pa.struct(
            [
                ("minReaderVersion", pa.int32()),
                ("minWriterVersion", pa.int32()),
            ]
        ),
    }
    meta = snap.meta
    rows: list[dict] = [
        {
            "protocol": {
                "minReaderVersion": snap.protocol.get("minReaderVersion", 1),
                "minWriterVersion": snap.protocol.get("minWriterVersion", 2),
            }
        },
        {
            "metaData": {
                "id": meta.get("id"),
                "format": {"provider": "parquet"},
                "schemaString": meta.get("schemaString"),
                "partitionColumns": meta.get("partitionColumns", []),
                # a checkpoint-seeded map arrives as (key, value) pairs
                "configuration": dict(meta.get("configuration") or {}),
                "createdTime": meta.get("createdTime"),
            }
        },
    ]
    rows += [
        {"txn": {"appId": app, "version": tv}}
        for app, tv in sorted(snap.txns.items())
    ]
    for rel, pv in sorted(snap.adds.items()):
        fp = os.path.join(table_path, rel)
        rows.append(
            {
                "add": {
                    "path": rel,
                    "partitionValues": pv,
                    "size": os.path.getsize(fp),
                    "modificationTime": int(os.path.getmtime(fp) * 1000),
                    "dataChange": False,
                }
            }
        )
    table = pa.table(
        {
            k: pa.array([r.get(k) for r in rows], type=t)
            for k, t in schema.items()
        }
    )
    log = os.path.join(table_path, "_delta_log")
    cp_path = os.path.join(log, f"{version:020d}.checkpoint.parquet")
    tmp = cp_path + f".tmp{uuid.uuid4().hex}"
    pq.write_table(table, tmp)
    os.rename(tmp, cp_path)
    with open(os.path.join(log, "_last_checkpoint"), "w") as f:
        json.dump({"version": version, "size": len(rows)}, f)


def optimize_delta_table(
    spark,
    table_path: str,
    checkpoint_interval: int = DEFAULT_CHECKPOINT_INTERVAL,
) -> int | None:
    """OPTIMIZE-style bin-packing compaction THROUGH the protocol,
    published as ONE atomic commit whose add+remove actions all carry
    ``dataChange=false`` (layout-only rewrite: table state unchanged,
    change-feed consumers skip it — PROTOCOL.md's OPTIMIZE shape).

    Live files below the 128 MiB target, sorted by path, are grouped
    by their running byte total (the deterministic linear partitioning
    of operators/layout.compaction_plan); each group of two or more is
    read back and rewritten as one file.  Returns the committed
    version, or None when nothing qualifies (no commit is appended).

    Files group within one partition directory and one set of
    ``partitionValues``, never across: the compacted file lands back in
    that directory and its add action carries the same values, so the
    basePath read keeps reconstructing the partition columns.

    The plan runs over the live-file manifest; the rewrites are ordinary
    distributed parquet jobs per group.  If a concurrent writer removed
    any file this plan compacts, the staged files are deleted and
    ConcurrentWriteError raised: OPTIMIZE is a maintenance pass, so the
    caller re-plans rather than the loop retrying."""
    snap = _snapshot(table_path)
    by_part: dict[tuple, list[tuple[str, int]]] = {}
    for rel, pv in sorted(snap.adds.items()):
        key = (os.path.dirname(rel), tuple(sorted(pv.items())))
        by_part.setdefault(key, []).append(
            (rel, os.path.getsize(os.path.join(table_path, rel)))
        )
    groups: list[tuple[tuple, list[str]]] = []
    for key, files in by_part.items():
        cur: list[str] = []
        cur_bytes = 0
        for rel, sz in files:
            if sz >= _OPTIMIZE_TARGET_BYTES:
                continue  # already at target; leave in place
            if cur and cur_bytes + sz > _OPTIMIZE_TARGET_BYTES:
                groups.append((key, cur))
                cur, cur_bytes = [], 0
            cur.append(rel)
            cur_bytes += sz
        if cur:
            groups.append((key, cur))
    groups = [(key, g) for key, g in groups if len(g) >= 2]
    if not groups:
        return None

    adds: list[dict] = []
    removes: list[str] = []
    for (part_dir, pv), g in groups:
        compacted = spark.read.parquet(
            *(os.path.join(table_path, r) for r in g)
        )
        adds += _stage_data_files(
            compacted.coalesce(1),
            table_path,
            data_change=False,
            subdir=part_dir,
            partition_values=dict(pv),
        )
        removes += g

    def actions_for(now: Snapshot) -> list[dict]:
        if not set(removes) <= set(now.adds):
            raise ConcurrentWriteError(
                f"{table_path}: OPTIMIZE lost a conflict — a concurrent"
                " writer removed a file this plan compacts; re-plan"
            )
        commit_info = {
            "timestamp": int(time.time() * 1000),
            "operation": "OPTIMIZE",
            "operationParameters": {
                "targetBytes": _OPTIMIZE_TARGET_BYTES,
                "numRemovedFiles": len(removes),
                "numAddedFiles": len(adds),
            },
        }
        return (
            _removes(removes, data_change=False)
            + [{"add": a} for a in adds]
            + [{"commitInfo": commit_info}]
        )

    return _commit(table_path, adds, actions_for, checkpoint_interval)


def vacuum_delta_table(
    table_path: str,
    retention_ms: int = 7 * 24 * 3600 * 1000,
) -> dict:
    """Protocol VACUUM: physically delete (a) data files no longer
    live at the LATEST version whose age exceeds ``retention_ms``, and
    (b) JSON commits at/below the newest checkpoint (stock Delta's log
    cleanup).  Returns counts
    ``{"data_files_deleted": n, "log_commits_deleted": m}``.

    Guards (each refuses rather than corrupts):

    - Live-set safety: only files ABSENT from the latest live set are
      candidates; a reader pinned at an older version loses time travel
      below the checkpoint (the reader raises on such reads), never
      sees a half-deleted snapshot.
    - State preservation: JSON cleanup is REFUSED unless the newest
      checkpoint carries the metaData, the protocol and every per-app
      txn watermark that the log rebuilt without it holds — a
      checkpoint that dropped txn rows would otherwise silently reset
      the streaming exactly-once guard.
    - Age: data files must be older than ``retention_ms`` (mtime),
      matching Delta's default 7-day guard against deleting files an
      in-flight query may still read."""
    snap = _snapshot(table_path)
    if snap.version < 0:
        raise FileNotFoundError(
            f"not a Delta table (no commits): {table_path}"
        )
    now = time.time()
    data_deleted = 0
    for dirpath, dirnames, filenames in os.walk(table_path):
        # never descend into the log or in-flight staging dirs
        dirnames[:] = [
            d
            for d in dirnames
            if d != "_delta_log" and not d.startswith("_staging_")
        ]
        for name in filenames:
            fp = os.path.join(dirpath, name)
            if (
                not name.endswith(".parquet")
                or os.path.relpath(fp, table_path) in snap.adds
                or (now - os.path.getmtime(fp)) * 1000 <= retention_ms
            ):
                continue
            os.unlink(fp)
            data_deleted += 1

    cp_v = snap.checkpoint
    doomed = []
    if cp_v is not None:
        doomed = [v for v in delta_log_versions(table_path) if v <= cp_v]
    if doomed:
        ref = _snapshot(table_path, seed_below=cp_v)
        if (
            snap.meta is None
            or snap.protocol is None
            or any(snap.txns.get(app, -1) < v for app, v in ref.txns.items())
        ):
            raise ConcurrentWriteError(
                f"{table_path}: refusing log VACUUM — the newest checkpoint"
                f" ({cp_v}) does not preserve the metaData/protocol/"
                "SetTransaction state of the JSON commits it would replace;"
                " rewrite the checkpoint first"
            )
        log = os.path.join(table_path, "_delta_log")
        for v in doomed:
            os.unlink(os.path.join(log, f"{v:020d}.json"))
    return {
        "data_files_deleted": data_deleted,
        "log_commits_deleted": len(doomed),
    }
