"""Custom stateful streaming operator via ``applyInPandasWithState``:
gap-based sessionization with explicit per-user state — the
"operator Spark lacks, built on the state-store API" tier of the
charter (the built-in dual is ``session_window``, streaming/windowed.
stream_sessionize; the batch dual is the lag/running-sum form,
operators/events.sessionize — all three are held to the SAME DuckDB
oracle).

Reference parity: the 90 s debounce gap of lambda/s3_validation.py:64-71,
expressed as a hand-rolled state machine instead of the built-in
session window — the pattern to copy when the per-group logic stops
fitting ``session_window`` (e.g. carts with value-dependent timeouts).

Determinism contract: timestamps are reduced to integer epoch seconds
and money to integer cents JVM-SIDE before entering Python, so the
Arrow-batched pandas fold only ever adds integers — bit-identical to
the SQL oracle regardless of engine or batch slicing.
"""

from __future__ import annotations

from typing import Any, Iterable, Iterator, Tuple

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators.events import DEBOUNCE_GAP_SECONDS
from .windowed import drain, events_stream

_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_no", T.LongType()),
        T.StructField("session_start", T.LongType()),
        T.StructField("session_end", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("cents", T.LongType()),
    ]
)

# Open-session carry-over between micro-batches:
# (next_session_no, open_start, open_last, open_n, open_cents)
_STATE_SCHEMA = T.StructType(
    [
        T.StructField("session_no", T.LongType()),
        T.StructField("start", T.LongType()),
        T.StructField("last", T.LongType()),
        T.StructField("n", T.LongType()),
        T.StructField("cents", T.LongType()),
    ]
)


def _sessionize_group(
    key: Tuple[Any],
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Fold one user's batch of events into gap sessions, carrying the
    open session in the state store.

    Emits EVERY session the batch touched (closed and still-open) —
    update-mode semantics: a later batch that extends an open session
    re-emits it with more events, and the finalizer keeps the widest
    emission per (user, session).  A finite availableNow drain never
    advances the watermark past the last event, so waiting for a
    timeout to flush the final open session would lose it; eager
    re-emission makes the drain lossless without timeouts.

    Ordering caveat (inherent to hand-rolled state): gap logic assumes
    batches arrive in event-time order per user.  The file source
    replays a static table in one batch (sorted here), which satisfies
    it; a live source would need watermark-driven late-event dropping
    in front of this operator.
    """
    import numpy as np

    (user_id,) = key
    rows = pd.concat(list(pdfs), ignore_index=True)
    rows = rows.sort_values(["epoch_sec", "event_id"], kind="mergesort")

    if state.exists:
        session_no0, c_start, c_last, c_n, c_cents = state.get
    else:
        session_no0, c_start, c_last, c_n, c_cents = 0, None, None, 0, 0

    cols = [
        "user_id",
        "session_no",
        "session_start",
        "session_end",
        "n_events",
        "cents",
    ]
    es = rows["epoch_sec"].to_numpy(np.int64)
    cs = rows["cents"].to_numpy(np.int64)
    if len(es) == 0:
        yield pd.DataFrame([], columns=cols)
        return

    # Vectorized gap fold (no per-event Python loop): mark session
    # breaks, cumsum to segment ids, reduce per segment.  Cent sums go
    # through bincount's float64 — exact (per-session cents << 2^53).
    breaks = np.ones(len(es), dtype=bool)
    breaks[1:] = (es[1:] - es[:-1]) > DEBOUNCE_GAP_SECONDS
    extend_first = (
        c_start is not None and (es[0] - c_last) <= DEBOUNCE_GAP_SECONDS
    )
    seg = np.cumsum(breaks) - 1
    first_idx = np.nonzero(breaks)[0]
    last_idx = np.append(first_idx[1:] - 1, len(es) - 1)
    starts = es[first_idx]
    ends = es[last_idx]
    counts = np.bincount(seg).astype(np.int64)
    cents = np.rint(np.bincount(seg, weights=cs)).astype(np.int64)

    if c_start is None:
        base = session_no0  # first batch for this user
    elif extend_first:
        base = session_no0  # segment 0 continues the carried session
        starts[0] = c_start
        counts[0] += c_n
        cents[0] += c_cents
    else:
        base = session_no0 + 1  # carried session closed by the gap

    session_nos = base + np.arange(len(starts), dtype=np.int64)
    state.update(
        (
            int(session_nos[-1]),
            int(starts[-1]),
            int(ends[-1]),
            int(counts[-1]),
            int(cents[-1]),
        )
    )
    yield pd.DataFrame(
        {
            "user_id": np.full(len(starts), user_id, dtype=np.int64),
            "session_no": session_nos,
            "session_start": starts,
            "session_end": ends,
            "n_events": counts,
            "cents": cents,
        },
        columns=cols,
    )


def stateful_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap sessionization as a CUSTOM stateful streaming operator:
    ``readStream → applyInPandasWithState(per-user state machine) →
    availableNow drain → widest-emission finalize``.

    Scale: state is one fixed-width row per active user (the open
    session), evicted naturally as users go quiet under a timeout in
    live deployments; the shuffle is the groupBy(user_id) state
    partitioning.  The pandas fold is O(batch) per user with integer
    arithmetic only.
    """
    stream = events_stream(spark, f"{sf_dir}/events.parquet")
    prepared = stream.select(
        "user_id",
        "event_id",
        F.unix_timestamp("ts").alias("epoch_sec"),
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    sessions = prepared.groupBy("user_id").applyInPandasWithState(
        _sessionize_group,
        _OUT_SCHEMA,
        _STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )
    # Finalize: per (user, session) keep the WIDEST emission — n_events
    # grows monotonically as batches extend a session, so max_by the
    # event count (session_end tiebreak is redundant but explicit).
    emitted = drain(spark, sessions, "update")
    return (
        emitted.groupBy("user_id", "session_no")
        .agg(
            F.max_by(
                F.struct("session_start", "session_end", "n_events", "cents"),
                F.struct("n_events", "session_end"),
            ).alias("s")
        )
        .select(
            "user_id",
            "session_no",
            F.col("s.session_start").alias("session_start"),
            F.col("s.session_end").alias("session_end"),
            F.col("s.n_events").alias("n_events"),
            (F.col("s.cents") / 100.0).alias("total_value"),
        )
    )


# ---------------------------------------------------------------------
# transformWithState (Spark 4's successor stateful API): typed state
# handles (value/list/map state, timers) instead of one opaque state
# tuple.  Running per-user totals with a ValueState — the 4th stateful
# execution strategy in the suite held to a batch-aggregate oracle
# (after session_window, applyInPandasWithState, and the batch dual).

from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle  # noqa: E402

_TOTALS_STATE_SCHEMA = "n LONG, cents LONG"
_TOTALS_OUT_SCHEMA = "user_id LONG, n_events LONG, total_cents LONG"


class _UserTotalsProcessor(StatefulProcessor):
    """ValueState(n, cents) updated per micro-batch; emits the running
    totals for the key after folding each batch (update semantics —
    the last emission per key is the final answer).  Integer-only
    arithmetic inside Python, same determinism contract as
    _sessionize_group."""

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._totals = handle.getValueState("totals", _TOTALS_STATE_SCHEMA)

    def handleInputRows(self, key, rows, timerValues):
        import pandas as pd

        n, cents = (
            tuple(self._totals.get()) if self._totals.exists() else (0, 0)
        )
        for pdf in rows:
            n += len(pdf)
            cents += int(pdf["cents"].sum())
        self._totals.update((n, cents))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_cents": [cents],
            }
        )

    def close(self) -> None:
        pass


def stateful_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event totals via ``transformWithStateInPandas`` —
    typed ValueState, update-mode emissions, availableNow drain,
    max-emission finalize (totals grow monotonically).

    Scale: one fixed-width state row per user in the state store,
    partitioned by the groupBy(user_id) shuffle; at 100 TB the same
    program runs micro-batched with RocksDB state and TTL.  Held to
    the plain batch GROUP BY oracle — the stream/batch duality gate
    for the modern stateful API.
    """
    stream = events_stream(spark, f"{sf_dir}/events.parquet")
    prepared = stream.select(
        "user_id",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    totals = prepared.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=_UserTotalsProcessor(),
        outputStructType=_TOTALS_OUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )
    emitted = drain(spark, totals, "update")
    return (
        emitted.groupBy("user_id")
        .agg(
            F.max(F.struct("n_events", "total_cents")).alias("s")
        )
        .select(
            "user_id",
            F.col("s.n_events").alias("n_events"),
            (F.col("s.total_cents") / 100.0).alias("total_value"),
        )
    )
