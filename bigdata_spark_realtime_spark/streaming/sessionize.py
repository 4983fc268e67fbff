"""Custom stateful streaming operator: gap-based sessionization with
per-user session ordinals, via ``applyInPandasWithState``.

This is the engine's sanctioned *custom stateful* extension point
(SURVEY.md §2.10): the reference hard-codes all of its state machines in
``mapPartitions`` + Redis (dedup set `app/dwd_DauApp.scala:84-111`, join
caches `app/dwd_OrderApp.scala:166-224`); here arbitrary per-key state
lives in Spark's state store, checkpointed and recovered automatically.

Why not the built-in ``session_window``? It produces (window, aggs) but
cannot number a user's sessions (1st, 2nd, …) — the ordinal needs
monotonic per-key state across windows. That cross-window dependency is
exactly what ``applyInPandasWithState`` adds over built-in operators.

Semantics (mirrors the batch ``sessionize_events`` plan):
- events for a user belong to one session while consecutive gaps are
  <= ``SESSION_GAP_MIN`` minutes; a larger gap closes the session and starts the
  next (ordinal + 1).
- a closed session is emitted as (user_id, session_id, n_events,
  duration_ms) the moment the closing event arrives (append mode).
- the still-open session is held in state with an event-time timeout of
  last_event + gap; when the watermark passes it, the session is emitted
  and state dropped — so state is bounded by (active users × 1 row).

Scale: state is hash-partitioned by user_id across executors; each
micro-batch shuffles only that batch's events (one exchange), and the
Arrow batch transfer moves (user_id, event_ms) pairs only. No driver
involvement, no external KV.
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

#: inactivity gap closing a session (same constant as plans/sessionize.py)
SESSION_GAP_MIN = 30

_OUT_SCHEMA = "user_id bigint, session_id bigint, n_events bigint, duration_ms bigint"
#: open session carried between micro-batches: ordinal, first/last event
#: epoch-ms, event count
_STATE_SCHEMA = "session_id bigint, start_ms bigint, last_ms bigint, n bigint"


def _make_sessionizer(gap_ms: int):
    def sessionize_fn(
        key: Tuple[Any, ...],
        pdf_iter: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        cols = ["user_id", "session_id", "n_events", "duration_ms"]

        if state.hasTimedOut:
            # watermark passed last_event + gap: the open session can
            # never be extended — flush it and drop the state row
            sid, start, last, n = state.get
            state.remove()
            yield pd.DataFrame([(user_id, sid, n, last - start)], columns=cols)
            return

        ts = sorted(
            int(t) for pdf in pdf_iter for t in pdf["event_ms"].tolist()
        )
        if state.exists:
            sid, start, last, n = state.get
        else:
            sid, start, last, n = 1, None, None, 0

        closed = []
        for t in ts:
            if start is None:
                start = last = t
                n = 1
            elif t - last > gap_ms:
                closed.append((user_id, sid, n, last - start))
                sid += 1
                start = last = t
                n = 1
            else:
                # in-gap event; tolerate out-of-order arrivals inside
                # the watermark (t may be < last or even < start)
                last = max(last, t)
                start = min(start, t)
                n += 1

        # if the watermark has already passed last + gap (straggler key
        # whose data arrived in a batch that also advanced the watermark
        # far ahead), the open session is expired on arrival: flush it
        # now — setTimeoutTimestamp would reject a timestamp behind the
        # watermark
        wm = state.getCurrentWatermarkMs()
        if last + gap_ms <= wm:
            closed.append((user_id, sid, n, last - start))
            if state.exists:
                state.remove()
        else:
            state.update((sid, start, last, n))
            state.setTimeoutTimestamp(last + gap_ms)
        if closed:
            yield pd.DataFrame(closed, columns=cols)

    return sessionize_fn


def sessionize_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """events (streaming, with an ``event_time`` timestamp column) →
    closed sessions (user_id, session_id, n_events, duration_ms).

    ``watermark`` bounds both late-event tolerance and how long an idle
    open session lingers before its timeout flush.
    """
    keyed = (
        events.withWatermark("event_time", watermark)
        .withColumn("event_ms", F.unix_millis(F.col("event_time")))
        .select("user_id", "event_ms", "event_time")
    )
    return keyed.groupBy("user_id").applyInPandasWithState(
        _make_sessionizer(SESSION_GAP_MIN * 60 * 1000),
        _OUT_SCHEMA,
        _STATE_SCHEMA,
        "append",
        GroupStateTimeout.EventTimeTimeout,
    )
