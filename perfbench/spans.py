"""Tracing for the per-layer run (``--trace 1``).

Spans are recorded from the benchmark's side only: :class:`Tracer`
replaces public functions of the program's layers with timed wrappers
(and puts the originals back on :meth:`Tracer.close`).  Each span is
``{name, start, end, parent, op_id}``; the layer is the part of the name
before the first dot.  Around each span the tracer can also diff Spark's
own counters: job and stage ids from the public status tracker, and the
driver executor's task totals from the status store.  Streaming progress
comes from a ``StreamingQueryListener``.
"""

from __future__ import annotations

import functools
import json
import time
from collections import defaultdict
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener


class SparkCounters:
    """Cumulative Spark counters of the local driver executor."""

    FIELDS = ("jobs", "stages", "tasks", "failed_tasks", "task_busy_s",
              "gc_s", "input_mb", "shuffle_read_mb", "shuffle_write_mb")

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.seen_jobs: set[int] = set()
        self.stages = 0

    def snapshot(self) -> dict[str, float]:
        # the status store is fed by the asynchronous listener bus: let
        # it catch up, or events of one block land in the next
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        for job in tracker.getJobIdsForGroup():
            if job not in self.seen_jobs:
                self.seen_jobs.add(job)
                info = tracker.getJobInfo(job)
                self.stages += len(info.stageIds) if info else 0
        e = self.sc._jsc.sc().statusStore().executorSummary("driver")
        mb = 1024.0 * 1024.0
        return {
            "jobs": float(len(self.seen_jobs)),
            "stages": float(self.stages),
            "tasks": float(e.totalTasks()),
            "failed_tasks": float(e.failedTasks()),
            "task_busy_s": e.totalDuration() / 1000.0,
            "gc_s": e.totalGCTime() / 1000.0,
            "input_mb": e.totalInputBytes() / mb,
            "shuffle_read_mb": e.totalShuffleRead() / mb,
            "shuffle_write_mb": e.totalShuffleWrite() / mb,
        }


class ProgressListener(StreamingQueryListener):
    """Accumulates micro-batch progress of every streaming query."""

    def __init__(self):
        self.progress = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        self.progress.append(event.progress)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def drain(self) -> dict[str, float]:
        """Totals of the progress seen since the last drain."""
        progress, self.progress = self.progress, []
        out = defaultdict(float)
        last_state: dict[str, tuple[float, float]] = {}
        for p in progress:
            d = p.durationMs or {}
            out["micro_batches"] += 1
            out["input_rows"] += p.numInputRows
            out["trigger_s"] += d.get("triggerExecution", 0) / 1000.0
            out["add_batch_s"] += d.get("addBatch", 0) / 1000.0
            out["wal_commit_s"] += d.get("walCommit", 0) / 1000.0
            out["planning_s"] += d.get("queryPlanning", 0) / 1000.0
            ops = p.stateOperators or []
            last_state[str(p.id)] = (
                sum(o.numRowsTotal for o in ops),
                sum(o.memoryUsedBytes for o in ops) / (1024.0 * 1024.0),
            )
        out["state_rows"] = sum(r for r, _ in last_state.values())
        out["state_mb"] = sum(m for _, m in last_state.values())
        return out


class Tracer:
    """In-memory span recorder with optional function patching."""

    def __init__(self, spark=None):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: int | None = None
        self.enabled = False
        self._patches: list[tuple[object, str, object]] = []
        self.counters = SparkCounters(spark) if spark is not None else None
        self.counts: dict[str, float] = defaultdict(float)
        self._deferred: list = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "op_id": self.op_id,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    @contextmanager
    def counted(self, prefix: str):
        """Diff the Spark counters around a block into ``counts``."""
        if not self.enabled or self.counters is None:
            yield
            return
        before = self.counters.snapshot()
        try:
            yield
        finally:
            after = self.counters.snapshot()
            for k in SparkCounters.FIELDS:
                self.counts[f"{prefix}.{k}"] += after[k] - before[k]

    def patch(self, owner, attr: str, name: str, after=None) -> None:
        """Wrap ``owner.attr`` in a span named ``name``; ``after(result,
        args, kwargs)`` runs inside the span's parent, after the call."""
        original = getattr(owner, attr)
        tracer = self

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                result = original(*args, **kwargs)
            if after is not None and tracer.enabled:
                after(result, args, kwargs)
            return result

        self._patches.append((owner, attr, original))
        setattr(owner, attr, wrapper)

    def defer(self, fn) -> None:
        """Run ``fn`` at :meth:`flush_deferred`, outside the timed pass."""
        self._deferred.append(fn)

    def flush_deferred(self) -> None:
        fns, self._deferred = self._deferred, []
        for fn in fns:
            fn()

    def close(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()

    def mark(self) -> int:
        return len(self.spans)

    def totals(self, since: int) -> tuple[dict[str, float], dict[str, float]]:
        """Per span name total seconds, and per layer self seconds, of
        the spans recorded since ``mark()`` returned ``since``."""
        spans = self.spans[since:]
        by_name: dict[str, float] = defaultdict(float)
        child: dict[int, float] = defaultdict(float)
        for s in spans:
            dur = s["end"] - s["start"]
            by_name[s["name"]] += dur
            if s["parent"] is not None:
                child[s["parent"]] += dur
        self_time: dict[str, float] = defaultdict(float)
        for i, s in enumerate(spans, start=since):
            layer = s["name"].split(".", 1)[0]
            self_time[layer] += max(0.0, s["end"] - s["start"] - child[i])
        return by_name, self_time

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f)
