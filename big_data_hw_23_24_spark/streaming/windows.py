"""Event-time windowed aggregation with watermarks (SURVEY §2.9's
declared new surface — the reference has arrival order only, no event
time).

The same plan serves both faces:

* batch: ``windowed_event_counts(events)`` — a tumbling-window
  group-count, oracle-checkable against ``date_trunc`` SQL;
* streaming: ``windowed_event_counts(stream)`` — identical grouping
  over a streaming DF; when ``ts`` carries a watermark
  (``withWatermark``), state is bounded: windows close (append-mode
  emit) once the watermark passes their end, and rows later than the
  delay are dropped instead of reopening state. That bound is what
  makes the aggregation runnable on an unbounded stream with finite
  state at 100 TB/day rates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def windowed_event_counts(events: DataFrame, window_duration: str = "1 hour",
                          keys: tuple[str, ...] = (),
                          slide_duration: str | None = None) -> DataFrame:
    """Tumbling — or, with ``slide_duration``, hopping — event-time
    window → (win_start, win_end, *keys, n_events, sum_value). A
    hopping event lands in window/slide overlapping windows (the
    engine's Expand, no self-join).
    """
    return (
        events.groupBy(F.window("ts", window_duration,
                             slide_duration or window_duration).alias("w"),
                    *[F.col(k) for k in keys])
        .agg(F.count("*").alias("n_events"),
             F.round(F.sum("value"), 2).alias("sum_value"))
        .select(F.col("w.start").alias("win_start"),
                F.col("w.end").alias("win_end"),
                *keys, "n_events", "sum_value")
    )

