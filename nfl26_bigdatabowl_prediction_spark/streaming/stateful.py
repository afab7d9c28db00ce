"""Per-user stateful streaming operators (``applyInPandasWithState``):
EWM, running stats and three funnel machines, each one state call
through ``_per_user``.

The reference's EWM (main_mps.py:233-240, ``ewm(alpha,
adjust=False)``) is a per-trajectory recurrence y_t = α·x_t +
(1−α)·y_{t−1} — exactly the shape that needs *managed state* when
the trajectory arrives as a stream: the carry is one double per key.

Batch twin: plans/events_windows.py::q_ewm (fold over the collected
trajectory).  Both run the identical IEEE double recurrence with
identical literals, so a stream processed in event order produces
bitwise-equal EWMs to the batch fold and the DuckDB recursive CTE.

Scale: state is one (double, long) pair per user_id — the state
store holds |keys| entries regardless of stream length.  Rows are
sorted within each micro-batch; cross-batch order is the file
source's responsibility (event-time-ordered ingest), mirroring the
reference's assumption that frames arrive in frame_id order.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from .pipelines import WATERMARK

EWM_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("ewm03", T.DoubleType()),
    ]
)

EWM_STATE_SCHEMA = T.StructType(
    [
        T.StructField("last_ewm", T.DoubleType()),
        T.StructField("n_seen", T.LongType()),
    ]
)


EWM_ALPHA = 0.3  # the oracle's 0.3 / 0.7 literals
_EWM_ONE_MINUS = 1.0 - EWM_ALPHA


def _per_user(
    events: DataFrame,
    cols: tuple[str, ...],
    fn,
    output: T.StructType,
    state: T.StructType,
    mode: str = "append",
    timeout: str = GroupStateTimeout.NoTimeout,
) -> DataFrame:
    """The one per-user state call every operator here makes:
    project ``cols``, group by user_id, run ``fn`` with managed state."""
    return events.select(*cols).groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=output,
        stateStructType=state,
        outputMode=mode,
        timeoutConf=timeout,
    )


def _ewm_fn(
    key: Any, pdf_iter: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    last: float | None
    n: int
    if state.exists:
        last, n = state.get
    else:
        last, n = None, 0
    # Drain the WHOLE group before sorting: a group whose rows span
    # an Arrow record-batch boundary arrives as multiple chunks in
    # shuffle (arbitrary) order, so per-chunk sorting silently
    # processes out of event-time order.  Found by the round-8
    # 8x-scale differential — at sf0.01 no group ever split, at 8x
    # ~1-in-150 groups did.  Memory stays bounded by one KEY's
    # micro-batch rows, the same bound the recurrence itself needs.
    chunks = [p for p in pdf_iter if len(p)]
    for pdf in ([pd.concat(chunks, ignore_index=True)] if chunks else []):
        pdf = pdf.sort_values(["ts", "event_id"])
        out = []
        for v in pdf["value"]:
            v = float(v)
            last = v if last is None else EWM_ALPHA * v + _EWM_ONE_MINUS * last
            out.append(last)
            n += 1
        pdf = pdf.assign(ewm03=out)
        yield pdf[["user_id", "event_id", "value", "ewm03"]]
    if last is not None:
        state.update((last, n))


def streaming_ewm(events: DataFrame) -> DataFrame:
    """Per-user streaming EWM (alpha EWM_ALPHA).  applyInPandasWithState
    requires a stream; batch callers use the batch q_ewm instead."""
    return _per_user(
        events,
        ("user_id", "event_id", "ts", "value"),
        _ewm_fn,
        EWM_OUTPUT_SCHEMA,
        EWM_STATE_SCHEMA,
    )


# --------------------------------------------------------------------------
# Per-user running stats (count, max, exact int64 cents sum) emitted as
# an update row per key per micro-batch; the final row per key equals
# the batch groupBy — that equivalence is the oracle.  State is one
# (long, double, long) per key: store size is |keys|, independent of
# stream length.
# --------------------------------------------------------------------------
RUNNING_STATS_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("value_max", T.DoubleType()),
        T.StructField("value_sum", T.DoubleType()),
    ]
)

_RUNNING_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("vmax", T.DoubleType()),
        T.StructField("cents", T.LongType()),
    ]
)


def _running_stats_fn(
    key: Any, pdf_iter: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    n, vmax, cents = state.get if state.exists else (0, None, 0)
    for pdf in pdf_iter:
        n += len(pdf)
        if len(pdf):
            bmax = float(pdf["value"].max())
            vmax = bmax if vmax is None else max(vmax, bmax)
        # round half away from zero, as Spark's round and the oracle's
        # do (pandas' round is half-to-even)
        c = pdf["value"].to_numpy() * 100
        cents += int(np.copysign(np.floor(np.abs(c) + 0.5), c).astype("int64").sum())
    state.update((n, vmax, cents))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n],
            "value_max": [vmax],
            "value_sum": [cents / 100.0],
        }
    )


def streaming_running_stats(events: DataFrame) -> DataFrame:
    """Per-user running (count, max, exact-cents sum) through
    ``applyInPandasWithState``."""
    return _per_user(
        events,
        ("user_id", "value"),
        _running_stats_fn,
        RUNNING_STATS_OUTPUT_SCHEMA,
        _RUNNING_STATE_SCHEMA,
        mode="update",
    )


FUNNEL_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("stage", T.LongType()),
        T.StructField("ts_us", T.LongType()),
    ]
)

FUNNEL_STATE_SCHEMA = T.StructType(
    [
        T.StructField("t1", T.LongType()),
        T.StructField("t2", T.LongType()),
        T.StructField("t3", T.LongType()),
    ]
)

_FUNNEL_GAP_US = 3600 * 10**6


def _funnel_advance(
    pdf_iter: Iterator[pd.DataFrame],
    t1: int | None, t2: int | None, t3: int | None,
) -> tuple[list[pd.DataFrame], tuple[int | None, int | None, int | None]]:
    """The view → click → purchase advance loop both funnel machines
    share: each hop must land in (previous stage, previous stage +
    1 h].  Returns the group's advance rows (no frame for an empty
    group) and the new (t1, t2, t3)."""
    # Whole-group drain before sorting: Arrow batch-boundary splits
    # deliver a group as multiple arbitrary-order chunks (see _ewm_fn;
    # found by the round-8 8x differential).
    chunks = [p for p in pdf_iter if len(p)]
    if not chunks:
        return [], (t1, t2, t3)
    pdf = pd.concat(chunks, ignore_index=True).sort_values(["ts", "event_id"])
    out = {"user_id": [], "event_id": [], "stage": [], "ts_us": []}
    for uid, eid, ts, et in zip(
        pdf["user_id"], pdf["event_id"], pdf["ts"], pdf["event_type"]
    ):
        ts = int(ts)
        stage = None
        if et == "view" and t1 is None:
            t1, stage = ts, 1
        elif (
            et == "click"
            and t1 is not None
            and t2 is None
            and t1 < ts <= t1 + _FUNNEL_GAP_US
        ):
            t2, stage = ts, 2
        elif (
            et == "purchase"
            and t2 is not None
            and t3 is None
            and t2 < ts <= t2 + _FUNNEL_GAP_US
        ):
            t3, stage = ts, 3
        if stage is not None:
            out["user_id"].append(int(uid))
            out["event_id"].append(int(eid))
            out["stage"].append(stage)
            out["ts_us"].append(ts)
    return [pd.DataFrame(out)], (t1, t2, t3)


def _funnel_fn(
    key: Any, pdf_iter: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-user earliest-completion funnel state machine
    (view → click → purchase, 1 h per-hop bound — q_window_funnel's
    batch semantics).  Emits one row per STAGE ADVANCE, so the
    accumulated append output is identical however the micro-batches
    split (each advance fires exactly once); like streaming_ewm, the
    state machine assumes event-time-ordered arrival across batches
    (exact under the drained single-source run the oracle checks).
    Stage timestamps are stored as nullable LongType directly — no -1
    sentinel, so a legitimate ts of exactly 0 us (epoch) round-trips
    unchanged across micro-batches."""
    frames, t = _funnel_advance(
        pdf_iter, *(state.get if state.exists else (None, None, None))
    )
    yield from frames
    state.update(t)


_FUNNEL_COLS = ("user_id", "event_id", "ts", "event_type")


def streaming_funnel(events: DataFrame) -> DataFrame:
    """Per-user stateful funnel over the event stream."""
    return _per_user(
        events, _FUNNEL_COLS, _funnel_fn, FUNNEL_OUTPUT_SCHEMA, FUNNEL_STATE_SCHEMA
    )


def _watermarked_funnel(events: DataFrame, fn, timeout: str) -> DataFrame:
    """A funnel machine behind the 1 h event-time watermark.
    ``event_time`` must survive the projection or the watermark filter
    is lost."""
    return _per_user(
        events.withWatermark("event_time", WATERMARK),
        (*_FUNNEL_COLS, "event_time"),
        fn,
        FUNNEL_OUTPUT_SCHEMA,
        FUNNEL_STATE_SCHEMA,
        timeout=timeout,
    )


def streaming_funnel_late(events: DataFrame) -> DataFrame:
    """Funnel with a 1 h event-time watermark: rows behind the
    checkpointed watermark are dropped BEFORE the state machine sees
    them (measured boundary on Spark 4.1: a row survives iff
    ts_us > watermark_ms * 1000, strictly).  State itself is never
    evicted (NoTimeout) — this is the late-DATA axis; see
    streaming_funnel_ttl for state eviction."""
    return _watermarked_funnel(events, _funnel_fn, GroupStateTimeout.NoTimeout)


def _funnel_ttl_fn(
    key: Any, pdf_iter: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """_funnel_fn plus event-time state EVICTION: an incomplete funnel
    whose last stage advance is more than the 1 h gap behind the
    watermark times out — one expiry row (stage 0, event_id NULL,
    ts = last advance) is emitted and the state removed.  A COMPLETED
    funnel removes its state immediately (nothing left to time out).
    Measured Spark 4.1 boundary: a timeout fires iff its timestamp is
    STRICTLY below the watermark (ms); timestamps are registered with
    a wm+1 clamp because Spark rejects timeouts at-or-below the
    current watermark.  The clamp only DELAYS firing, never changes
    the emitted row (ts = the stored last advance), so it is safe in
    multi-batch drains too: a natural expiry already behind the
    watermark re-registers at wm+1 and fires in the next batch whose
    watermark exceeds it — at the latest the trailing AvailableNow
    batch (regression:
    test_funnel_ttl_multibatch_drain_fires_each_expiry_once)."""
    def _row(uid: int, eid: int | None, stage: int, ts: int) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "user_id": pd.Series([uid], dtype="int64"),
                "event_id": pd.Series([eid], dtype="Int64"),
                "stage": pd.Series([stage], dtype="int64"),
                "ts_us": pd.Series([ts], dtype="int64"),
            }
        )

    if state.hasTimedOut:
        t1, t2, _t3 = state.get
        last = t2 if t2 is not None else t1
        state.remove()
        yield _row(int(key[0]), None, 0, int(last))
        return
    frames, (t1, t2, t3) = _funnel_advance(
        pdf_iter, *(state.get if state.exists else (None, None, None))
    )
    yield from frames
    if t3 is not None:
        if state.exists:
            state.remove()
    elif t1 is not None:
        state.update((t1, t2, t3))
        last = t2 if t2 is not None else t1
        timeout_ms = (last + _FUNNEL_GAP_US) // 1000
        wm_ms = state.getCurrentWatermarkMs()
        state.setTimeoutTimestamp(max(timeout_ms, wm_ms + 1))
    # no view yet: no state, nothing to expire


def streaming_funnel_ttl(events: DataFrame) -> DataFrame:
    """Funnel with event-time TTL eviction (1 h watermark)."""
    return _watermarked_funnel(
        events, _funnel_ttl_fn, GroupStateTimeout.EventTimeTimeout
    )
