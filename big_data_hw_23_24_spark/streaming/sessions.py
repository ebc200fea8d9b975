"""Custom stateful streaming operator: gap-based sessionization via
``applyInPandasWithState`` — the UDAF/UDTF extension point of the
*streaming* side, complementing the batch ``applyInPandas`` kernel
(operators/grouped.py) and the lag-window batch sessionizer
(queries_relational.py::user_sessions).

The reference's only stateful streaming is driver-held dicts merged in
``foreachRDD`` (``G016HW3.java:67-72``); Structured Streaming's native
answer is state-store-backed per-key state, which scales with the
number of executors instead of pinning everything on the driver. Each
micro-batch delivers a key's new rows to an Arrow-batched pandas
kernel together with that key's state (open session); the kernel
emits every session it can prove *closed* (a later event arrived more
than ``gap`` after the session's end) and keeps exactly one open
session per user in the state store.

Correctness contract: input micro-batches must be time-ordered per
key (the deterministic replay harness guarantees a globally
ts-ordered stream; a production deployment gets the same from
watermark-ordered sources). Sessions: maximal runs of a user's events
where consecutive gaps are ≤ ``gap``; a session closes only when a
strictly-later event breaks the gap, so the final open session per
user is never emitted — callers that need it flush with a sentinel
event past every real timestamp (see ``queries_algorithms``'s
``streaming_sessions``) or run with a processing-time timeout.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

TIMEOUT_SEC = 120.0  # seconds the replayed sessionizer may run
SESSION_GAP_SEC = 3600  # inactivity that closes a session

SESSION_SCHEMA = ("user_id bigint, session_start timestamp, "
                  "session_end timestamp, n_events bigint")
STATE_SCHEMA = ("session_start timestamp, session_end timestamp, "
                "n_events bigint")


def make_sessionizer(gap: pd.Timedelta):
    """Build the per-key kernel closing sessions older than ``gap``."""

    def sessionize(key, pdf_iter, state: GroupState):
        (uid,) = key
        parts = [p[["ts"]] for p in pdf_iter]
        if not parts:
            return
        ts = (pd.concat(parts)["ts"].sort_values()
              .reset_index(drop=True))
        if state.exists:
            c_start, c_end, c_n = state.get
            c_start, c_end = pd.Timestamp(c_start), pd.Timestamp(c_end)
        else:
            c_start = c_end = None
            c_n = 0

        # vectorized break detection: a session boundary sits before
        # element i iff the gap from the previous effective end (prior
        # event, or the carried open session's end for i=0) exceeds gap
        prev_end = ts.shift(1)
        if c_end is not None:
            prev_end.iloc[0] = c_end
        brk = (ts - prev_end) > gap
        if c_end is None:
            brk.iloc[0] = True
        sid = brk.cumsum()

        agg = ts.groupby(sid).agg(["min", "max", "count"])
        rows = [(r[0], r[1], int(r[2]))
                for r in agg.itertuples(index=False)]
        closed: list[tuple] = []
        if c_end is not None:
            if bool(brk.iloc[0]):
                closed.append((uid, c_start, c_end, int(c_n)))
            else:  # batch's first run continues the carried session
                mn, mx, n = rows[0]
                rows[0] = (c_start, max(c_end, mx), n + int(c_n))
        closed.extend((uid, r[0], r[1], r[2]) for r in rows[:-1])
        last = rows[-1]
        state.update((pd.Timestamp(last[0]).to_pydatetime(),
                      pd.Timestamp(last[1]).to_pydatetime(),
                      int(last[2])))
        if closed:
            yield pd.DataFrame(
                closed, columns=["user_id", "session_start",
                                 "session_end", "n_events"])

    return sessionize


def sessionize_stream(events: DataFrame) -> DataFrame:
    """Streaming DF of (user_id, ts, ...) → append-mode DF of closed
    sessions. State lives in the executor-side state store — one open
    session per user, O(#users) state total, no driver involvement."""
    src = events.select("user_id", "ts")
    return src.groupBy("user_id").applyInPandasWithState(
        make_sessionizer(pd.Timedelta(seconds=SESSION_GAP_SEC)),
        SESSION_SCHEMA, STATE_SCHEMA,
        "append", GroupStateTimeout.NoTimeout)


def run_sessionize(spark, stream: DataFrame) -> DataFrame:
    """Drive ``sessionize_stream`` over a bounded (replayed) stream to
    completion and return the closed sessions as a batch DataFrame."""
    import uuid

    name = f"sessions_{uuid.uuid4().hex[:12]}"
    query = (sessionize_stream(stream)
             .writeStream.format("memory").queryName(name)
             .outputMode("append")
             .trigger(availableNow=True)
             .start())
    finished = query.awaitTermination(TIMEOUT_SEC)
    if not finished:
        query.stop()
        raise TimeoutError(
            f"sessionize stream did not finish within {TIMEOUT_SEC}s; "
            f"refusing to return a partial result")
    return spark.table(name)
