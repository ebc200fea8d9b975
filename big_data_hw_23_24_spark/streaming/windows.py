"""Event-time windowed aggregation with watermarks (SURVEY §2.9's
declared new surface — the reference has arrival order only, no event
time).

The same plan serves both faces:

* batch: ``windowed_event_counts(events)`` — a tumbling-window
  group-count, oracle-checkable against ``date_trunc`` SQL;
* streaming: ``windowed_event_counts(stream, watermark_delay=...)`` —
  identical grouping over a streaming DF with a watermark bound on
  state: windows close (append-mode emit) once the watermark passes
  their end, and rows later than the delay are dropped instead of
  reopening state. That bound is what makes the aggregation runnable
  on an unbounded stream with finite state at 100 TB/day rates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def windowed_event_counts(events: DataFrame, window_duration: str = "1 hour",
                          keys: tuple[str, ...] = (),
                          watermark_delay: str | None = None,
                          slide_duration: str | None = None) -> DataFrame:
    """Tumbling — or, with ``slide_duration``, hopping — event-time
    window → (win_start, win_end, *keys, n_events, sum_value). A
    hopping event lands in window/slide overlapping windows (the
    engine's Expand, no self-join). Pass ``watermark_delay`` on a
    streaming DF to bound state; omit it for the batch face.
    """
    src = events
    if watermark_delay is not None:
        src = src.withWatermark("ts", watermark_delay)
    return (
        src.groupBy(F.window("ts", window_duration,
                             slide_duration or window_duration).alias("w"),
                    *[F.col(k) for k in keys])
        .agg(F.count("*").alias("n_events"),
             F.round(F.sum("value"), 2).alias("sum_value"))
        .select(F.col("w.start").alias("win_start"),
                F.col("w.end").alias("win_end"),
                *keys, "n_events", "sum_value")
    )


def deduped_stream(events: DataFrame, id_cols: tuple[str, ...] = ("event_id",),
                   watermark_delay: str = "1 hour") -> DataFrame:
    """Streaming exact dedup on ``id_cols`` with bounded state.

    ``dropDuplicatesWithinWatermark``: a duplicate arriving within
    ``watermark_delay`` of the first sighting is dropped; state for an
    id is evicted once the watermark passes, so memory is bounded by
    the ids seen per watermark window — the only dedup contract that
    works on an unbounded stream (plain ``dropDuplicates`` would hold
    every id ever seen). The batch face of the same semantic is
    ``operators/dedup.py::exact_duplicate_groups``.
    """
    return (events.withWatermark("ts", watermark_delay)
            .dropDuplicatesWithinWatermark(list(id_cols)))
