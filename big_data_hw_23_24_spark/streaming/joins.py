"""Watermarked stream-stream interval join.

The streaming face of ``operators/joins.py::time_bucket_range_join``
(batch query ``order_events_3d``): match rows of two live streams on a
key and a time-range condition. The reference has no join surface in
its streaming program at all (``G016HW3.java`` only aggregates), so
this is declared new surface.

Spark-first design: a plain ``left.join(right, cond)`` of two
watermarked streaming DataFrames. Structured Streaming buffers both
sides in the state store and — because the join condition bounds the
two event times against each other in BOTH directions
(``r.ts ∈ [l.ts, l.ts + w)`` ⇒ ``l.ts ∈ (r.ts − w, r.ts]``) — derives
a state watermark for each side: a buffered row is evicted as soon as
the combined watermark proves no future match can exist. State is
O(rows within the window + watermark delay), not O(stream), which is
what makes the join runnable forever at 100 TB/day.

Correctness contract: rows later than ``WATERMARK_DELAY`` may be
dropped (standard watermark semantics); on an in-order replay the
result equals the batch inequality join exactly — that equivalence is
the registered query's oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

TIMEOUT_SEC = 180.0  # seconds the replayed join may run
WATERMARK_DELAY = "1 hour"  # lateness either side of the join tolerates


def interval_join_streams(left: DataFrame, right: DataFrame,
                          left_key: str, right_key: str,
                          left_ts: str, right_ts: str,
                          window_sec: int) -> DataFrame:
    """Inner-join two streaming DFs: key equality + right timestamp in
    ``[left_ts, left_ts + window_sec)``. Both sides watermarked so the
    state store self-cleans. Column names must be disjoint."""
    l = left.withWatermark(left_ts, WATERMARK_DELAY)
    r = right.withWatermark(right_ts, WATERMARK_DELAY)
    cond = (
        (F.col(left_key) == F.col(right_key))
        & (F.col(right_ts) >= F.col(left_ts))
        & (F.col(right_ts)
           < F.col(left_ts) + F.expr(f"INTERVAL {window_sec} SECONDS"))
    )
    return l.join(r, cond, "inner")


def run_interval_join(spark, left: DataFrame, right: DataFrame, left_key: str,
                      right_key: str, left_ts: str, right_ts: str,
                      window_sec: int) -> DataFrame:
    """Drive the join over bounded (replayed) streams to completion and
    return the matched pairs as a batch DataFrame."""
    import uuid

    name = f"ssjoin_{uuid.uuid4().hex[:12]}"
    joined = interval_join_streams(left, right, left_key, right_key,
                                   left_ts, right_ts, window_sec)
    query = (joined.writeStream.format("memory").queryName(name)
             .outputMode("append")
             .trigger(availableNow=True)
             .start())
    finished = query.awaitTermination(TIMEOUT_SEC)
    if not finished:
        query.stop()
        raise TimeoutError(
            f"stream-stream interval join did not finish within "
            f"{TIMEOUT_SEC}s; refusing to return a partial result")
    return spark.table(name)
