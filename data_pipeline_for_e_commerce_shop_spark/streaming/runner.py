"""T5-T10: batch state machine + single-flight FIFO runner.

Reference: a DynamoDB ``batch_chunks`` table driven by two racing
Lambdas — a stream trigger (lambda/lab6-ttl.py:36-119) and a scheduled
controller (lambda/controller.py:38-133) — with an UNguarded
pending->processing transition (they can both launch the same chunk;
SURVEY §4.3).  Status flow: pending -> processing -> done|failed with
retry/backoff handled by Step Functions
(stepfunction/stepfunction.json:71-79,196-204).

Here the job-state table is a log of JSON snapshots, ``v=N.json``
holding every batch record at version N.  A transition reads the
newest snapshot, changes it in Python and commits N+1 through
``sources/delta_writer.publish_once``, the repo's one ``os.link``
compare-and-swap (CAS); a lost CAS re-reads and retries, so only one
claimant can move a batch pending->processing.  Superseded snapshots
are pruned after a commit.  A claim older than :data:`LEASE` is a dead
driver's: the next claim marks it failed, the retry budget decides
whether it runs again, and the queue behind it moves on.  No
transition runs a Spark job; ``enqueue`` collects the debounce frame
once.  The runner loop is the controller's FIFO probe: oldest pending
batch, one in flight, N attempts with recorded history.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import json
import os
import re
import time
import traceback
from collections.abc import Callable

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import types as T

from data_pipeline_for_e_commerce_shop_spark.sources.delta_writer import publish_once

BATCH_STATE_SCHEMA = T.StructType(
    [
        T.StructField("batch_id", T.StringType(), False),
        T.StructField("group_key", T.StringType(), True),
        T.StructField("file_paths", T.ArrayType(T.StringType()), True),
        T.StructField("status", T.StringType(), False),
        T.StructField("created_at", T.TimestampType(), False),
        T.StructField("processing_started_at", T.TimestampType(), True),
        T.StructField("completed_at", T.TimestampType(), True),
        T.StructField("attempts", T.IntegerType(), False),
        T.StructField("last_error", T.StringType(), True),
    ]
)
_TIMESTAMPS = ("created_at", "processing_started_at", "completed_at")

# A claim older than this belongs to a dead driver.  Illustrative: one
# batch takes 8-17 s, so any value far above that works.
LEASE = dt.timedelta(minutes=30)
# Attempts a batch gets before it stays failed (reference Step
# Functions Retry 3x).
MAX_ATTEMPTS = 3
# A superseded snapshot is deleted only once this old, so a writer that
# read it cannot link its successor into a name already freed.
_PRUNE_AFTER_S = 60.0
_SNAPSHOT_RE = re.compile(r"v=(\d+)\.json\Z")


def _iso(ts: dt.datetime) -> str:
    # fixed width, so the strings sort like the instants
    return ts.isoformat(timespec="microseconds")


def _row(rec: dict) -> Row:
    ts = {k: dt.datetime.fromisoformat(rec[k]) for k in _TIMESTAMPS if rec[k]}
    return Row(**{**rec, **ts})


class BatchStateTable:
    """Job-state table (reference DynamoDB batch_chunks,
    readme.md:113-114) as a CAS-committed log of JSON snapshots."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def _load(self) -> tuple[int, list[dict]]:
        """The newest snapshot as (version, records); (0, []) before
        the first commit."""
        names = os.listdir(self.path) if os.path.isdir(self.path) else []
        versions = [int(m.group(1)) for m in map(_SNAPSHOT_RE.match, names) if m]
        if not versions:
            return 0, []
        v = max(versions)
        with open(os.path.join(self.path, f"v={v}.json")) as f:
            return v, json.load(f)

    def _commit(self, change: Callable[[list[dict]], object]) -> object:
        """Read -> ``change`` the records in place -> commit the next
        version; returns what ``change`` returns.  A lost CAS means
        another writer committed, so re-read and retry.  A change that
        edits nothing commits nothing."""
        os.makedirs(self.path, exist_ok=True)
        while True:
            v, records = self._load()
            before = json.dumps(records)
            result = change(records)
            after = json.dumps(records)
            if after == before:
                return result
            if publish_once(os.path.join(self.path, f"v={v + 1}.json"), after):
                self._prune(v + 1)
                return result

    def _prune(self, current: int) -> None:
        cutoff = time.time() - _PRUNE_AFTER_S
        for name in os.listdir(self.path):
            m, p = _SNAPSHOT_RE.match(name), os.path.join(self.path, name)
            with contextlib.suppress(FileNotFoundError):  # pruned by another
                if m and int(m.group(1)) < current and os.path.getmtime(p) < cutoff:
                    os.unlink(p)

    def read(self) -> DataFrame:
        """The current records as a DataFrame, for inspection; the
        control loop never calls it."""
        rows = [_row(r) for r in self._load()[1]]
        return self.spark.createDataFrame(rows, BATCH_STATE_SCHEMA)

    def enqueue(self, batches: DataFrame) -> None:
        """T4: append newly closed debounce windows as pending records,
        idempotent on batch_id (re-running the debounce can't double-
        enqueue)."""
        cols = ("batch_id", "group_key", "file_paths", "batch_start")
        rows = batches.select(*cols).collect()
        now = _iso(dt.datetime.now())

        def add(records):
            known = {r["batch_id"] for r in records}
            for b in rows:
                if b["batch_id"] in known:
                    continue
                known.add(b["batch_id"])
                start = b["batch_start"]
                records.append(dict(  # BATCH_STATE_SCHEMA order
                    batch_id=b["batch_id"], group_key=b["group_key"],
                    file_paths=b["file_paths"], status="pending",
                    created_at=_iso(start) if start else now,
                    processing_started_at=None, completed_at=None,
                    attempts=0, last_error=None,
                ))

        self._commit(add)

    def claim_next(self) -> Row | None:
        """T6: single-flight FIFO claim with a CONDITIONAL transition.

        If any batch is 'processing' within its lease, claim nothing
        (reference controller probe, lambda/controller.py:52-61).
        Otherwise move the OLDEST pending record to processing.  The
        CAS commit guards the move, so a concurrent duplicate trigger
        (the reference's T5/T6 race) cannot double-claim.  A claim whose
        lease expired is first marked failed.
        """

        def claim(records):
            now = dt.datetime.now()
            expired = _iso(now - LEASE)
            for r in records:
                if r["status"] == "processing" and r["processing_started_at"] < expired:
                    r.update(status="failed", completed_at=_iso(now),
                             last_error="lease expired")
            pending = [r for r in records if r["status"] == "pending"]
            if not pending or any(r["status"] == "processing" for r in records):
                return None
            oldest = min(pending, key=lambda r: (r["created_at"], r["batch_id"]))
            oldest.update(status="processing", processing_started_at=_iso(now),
                          attempts=oldest["attempts"] + 1)
            return _row(oldest)

        return self._commit(claim)

    def finish(self, batch_id: str, status: str, error: str | None = None) -> None:
        """T7: processing -> done|failed stamp (reference
        lambda/confirm_status.py:31-46)."""

        def stamp(records):
            for r in records:
                if r["batch_id"] == batch_id:
                    r.update(status=status, completed_at=_iso(dt.datetime.now()),
                             last_error=error)

        self._commit(stamp)

    def requeue_failed(self) -> int:
        """T9: failed batches under the attempt budget
        (:data:`MAX_ATTEMPTS`) go back to pending (reference Step
        Functions Retry 3x, stepfunction.json:71-79)."""

        def requeue(records):
            retry = [r for r in records
                     if r["status"] == "failed" and r["attempts"] < MAX_ATTEMPTS]
            for r in retry:
                r["status"] = "pending"
            return len(retry)

        return self._commit(requeue)


DRAIN_MAX_ITERATIONS = 1000  # claims per drain, a bound on a retry loop


def run_until_drained(
    table: BatchStateTable, process: Callable[[Row], None]
) -> dict[str, int]:
    """The controller loop (reference lambda/controller.py:38-133 +
    Step Functions retry): claim oldest pending, run, stamp
    done/failed, requeue retryable failures, until nothing is pending.

    Returns {'done': n, 'failed': n} terminal counts.
    """
    for _ in range(DRAIN_MAX_ITERATIONS):
        row = table.claim_next()
        if row is None:
            if table.requeue_failed() == 0:
                break
            continue
        try:
            process(row)
            table.finish(row["batch_id"], "done")
        except Exception:
            table.finish(row["batch_id"], "failed", traceback.format_exc()[-2000:])
    statuses = [r["status"] for r in table._load()[1]]
    return {"done": statuses.count("done"), "failed": statuses.count("failed")}
