"""Custom stateful streaming operator: per-conversation progress state.

The reference's only streaming state is the flushed cursor map
(``/root/reference/types/state.go:64-70``). A transcripts pipeline also
wants LIVE per-entity rollups — how many events each conversation has
produced, its highest turn, the last LSN seen — maintained incrementally
across micro-batches without re-scanning the table.

Spark-native: ``applyInPandasWithState`` (Arrow-batched per-group state,
never row-at-a-time Python). State per conv_id is a single tuple; groups
idle past ``timeout_min`` minutes of EVENT time are finalized and evicted
(watermark-driven GroupStateTimeout), bounding state size on unbounded
keyspaces — the 10^10-event requirement.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from gear5_spark.session import require_utc

OUTPUT_SCHEMA = (
    "conv_id string, n_events long, max_turn int, last_lsn long, "
    "finalized boolean"
)
STATE_SCHEMA = "n_events long, max_turn int, last_lsn long"


def _make_track(timeout_min: int):
    """Build the per-group state function with ``timeout_min`` captured
    BY VALUE: the callable is cloudpickled to executors, so a
    driver-side module global would silently revert to its default
    there — a closure ships the configured value."""

    def _track(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        return _track_impl(key, pdfs, state, timeout_min)

    return _track


def _track_impl(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
    timeout_min: int = 30,
) -> Iterator[pd.DataFrame]:
    (conv_id,) = key
    if state.hasTimedOut:
        n, mt, lsn = state.get
        state.remove()
        yield pd.DataFrame(
            [
                {
                    "conv_id": conv_id,
                    "n_events": n,
                    "max_turn": mt,
                    "last_lsn": lsn,
                    "finalized": True,
                }
            ]
        )
        return
    n, mt, lsn = state.get if state.exists else (0, -1, -1)
    ev_ms = 0
    for pdf in pdfs:
        # null key parts are a feed bug (the batch applier quarantines
        # them); int(NaN) would kill the query — drop them here too
        pdf = pdf[pdf["turn_idx"].notna() & pdf["lsn"].notna()]
        if len(pdf) == 0:
            continue
        n += len(pdf)
        mt = max(mt, int(pdf["turn_idx"].max()))
        lsn = max(lsn, int(pdf["lsn"].max()))
        ev_ms = max(ev_ms, int(pdf["event_time"].max().value // 1_000_000))
    state.update((n, mt, lsn))
    # Evict once event time passes idle-timeout beyond the latest data.
    # Anchor to the DATA's event time, not the watermark alone: on the
    # first micro-batch the watermark is still 0, and epoch+30min would
    # finalize every conversation on the next batch (resetting its
    # counters forever). max() with the watermark keeps the timestamp
    # valid for EventTimeTimeout (must be past the watermark).
    state.setTimeoutTimestamp(
        max(state.getCurrentWatermarkMs(), ev_ms)
        + timeout_min * 60 * 1000
    )
    yield pd.DataFrame(
        [
            {
                "conv_id": conv_id,
                "n_events": n,
                "max_turn": mt,
                "last_lsn": lsn,
                "finalized": False,
            }
        ]
    )


def _require_utc_session(df: DataFrame) -> None:
    """Fail fast on a non-UTC session timezone: applyInPandasWithState's
    Arrow path hands the state function SESSION-LOCAL naive timestamps,
    while ``setTimeoutTimestamp`` compares against the epoch-UTC
    watermark — any non-UTC offset shifts every idle timeout by that
    offset (premature finalization west of UTC, hours-late eviction
    east of it)."""
    require_utc(df.sparkSession, "stateful streaming timeout math")


def conversation_progress(
    changes: DataFrame,
    watermark: str = "10 minutes",
    timeout_min: int = 30,
) -> DataFrame:
    """Streaming per-conversation rollup with evicted-on-idle state.

    Input: the streaming change feed (lsn, ts_ms, conv_id, turn_idx, ...).
    Output (update mode): one row per conv per micro-batch it appeared
    in, plus a ``finalized=True`` row when its state times out after
    ``timeout_min`` minutes of event-time silence.
    """
    _require_utc_session(changes)
    ev = changes.withColumn(
        "event_time", F.timestamp_millis(F.col("ts_ms"))
    ).withWatermark("event_time", watermark)
    return (
        ev.groupBy("conv_id")
        .applyInPandasWithState(
            _make_track(timeout_min),
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


SESSION_OUTPUT = (
    "conv_id string, session_seq int, session_start timestamp, "
    "session_end timestamp, n_events long, closed boolean"
)
SESSION_STATE = "session_seq int, start_us long, last_us long, n_events long"


def streaming_sessionize(
    changes: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming gap-sessionization: the live counterpart of
    ``operators.conversations.gap_sessionize``.

    Per conversation, consecutive events closer than ``gap`` share a
    session; a longer silence closes it. Sessions close two ways:
    in-stream (the closing event arrives) or by EVENT-TIME TIMEOUT (the
    watermark passes ``last event + gap`` — the conversation went
    quiet), so every session is eventually emitted with
    ``closed=True`` exactly once. Update-mode output also re-emits the
    open session's running row each micro-batch.

    SESSION IDENTITY is ``(conv_id, session_start)`` — start times are
    strictly increasing per conversation and, unlike ``session_seq``,
    survive state eviction (after an idle timeout removes the state, a
    revived conversation's seq restarts at 0; its start time cannot
    collide). ``session_seq`` is informational: the index within one
    state lifetime.

    State per key is one 4-tuple regardless of event volume, and idle
    keys are evicted on close — bounded state on unbounded keyspaces.
    Ordering: within a micro-batch events are sorted by event time;
    across batches arrival order is commit order. A cross-batch late
    event (event time before the session's last) folds into the current
    session rather than retroactively splitting — the standard
    bounded-disorder tradeoff, with the watermark bounding how late
    data may be. Null event times are dropped (they can satisfy no gap
    relation).
    """
    import re

    _require_utc_session(changes)
    m = re.fullmatch(r"(\d+)\s*(second|minute|hour)s?", gap.strip())
    if not m:
        raise ValueError(f"gap must be like '30 minutes', got {gap!r}")
    gap_us = int(m.group(1)) * {
        "second": 1_000_000,
        "minute": 60_000_000,
        "hour": 3_600_000_000,
    }[m.group(2)]

    def fold(key, pdfs, state: GroupState):
        import numpy as np

        (conv_id,) = key

        def row(seq, start, last, n, closed):
            return {
                "conv_id": conv_id,
                "session_seq": seq,
                "session_start": pd.Timestamp(start, unit="us"),
                "session_end": pd.Timestamp(last, unit="us"),
                "n_events": n,
                "closed": closed,
            }

        if state.hasTimedOut:
            seq, start, last, n = state.get
            state.remove()
            yield pd.DataFrame([row(seq, start, last, n, True)])
            return
        seq, start, last, n = (
            state.get if state.exists else (0, None, None, 0)
        )
        parts = []
        for pdf in pdfs:
            # normalize to epoch MICROS regardless of the pandas
            # datetime64 resolution (ns vs us varies by Arrow path);
            # drop NaT BEFORE the int cast (NaT casts to INT64_MIN)
            vals = pdf["event_time"].values
            vals = vals[~pd.isna(vals)]
            parts.append(vals.astype("datetime64[us]").astype("int64"))
        ts = np.sort(np.concatenate(parts)) if parts else np.array([], "int64")
        out = []
        if ts.size:
            # vectorized gap split: O(sessions) Python work, not O(events)
            if last is not None and ts[0] - last > gap_us:
                out.append(row(seq, start, last, n, True))
                seq, start, n, last = seq + 1, None, 0, None
            breaks = np.flatnonzero(np.diff(ts) > gap_us)
            slices = np.split(ts, breaks + 1)
            for i, chunk in enumerate(slices):
                if start is None:
                    start = int(chunk[0])
                last = int(chunk[-1]) if last is None else max(
                    last, int(chunk[-1])
                )
                n += len(chunk)
                if i < len(slices) - 1:  # a later chunk closes this one
                    out.append(row(seq, start, last, n, True))
                    seq, start, n, last = seq + 1, None, 0, None
        if last is None:  # batch carried no usable events
            if state.exists:
                wm_ms = state.getCurrentWatermarkMs()
                _s, _st, _l, _n = state.get
                state.setTimeoutTimestamp(
                    max(_l // 1000 + gap_us // 1000, wm_ms + 1)
                )
            yield pd.DataFrame(out)
            return
        state.update((seq, start, last, n))
        # close by event-time timeout once the watermark passes the gap
        wm_ms = state.getCurrentWatermarkMs()
        state.setTimeoutTimestamp(
            max(last // 1000 + gap_us // 1000, wm_ms + 1)
        )
        out.append(row(seq, start, last, n, False))
        yield pd.DataFrame(out)

    ev = changes.withColumn(
        "event_time", F.timestamp_millis(F.col("ts_ms"))
    ).withWatermark("event_time", watermark)
    return ev.groupBy("conv_id").applyInPandasWithState(
        fold,
        outputStructType=SESSION_OUTPUT,
        stateStructType=SESSION_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
