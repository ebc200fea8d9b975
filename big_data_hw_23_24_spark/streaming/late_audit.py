"""Watermark late-data audit: replay events in a deterministic
out-of-order sequence through a watermarked tumbling-window aggregate
and report the windows APPEND MODE actually emits (E211).

Every other streaming face here either has no event-time state
(ingest dedup, quality gate) or avoids lateness by construction
(ordered replays). This one is ABOUT lateness: arrival order is
decorrelated from event time (md5 of the event id), so micro-batches
interleave old and new timestamps and the watermark machinery — late
row dropping, state eviction, the never-finalized tail — is the
entire behavior under test.

The oracle encodes Spark's observed watermark protocol, pinned
empirically (tests/test_r13_ops.py::test_late_audit_protocol_rule)
and by the face's own oracle parity at two SFs:

* ``wm(b)`` — the watermark REPORTED for micro-batch ``b`` — is
  ``max(event time over batches < b) − delay``;
* state EVICTION in batch ``b`` uses ``wm(b)``: a window with
  ``end <= wm(b)`` is finalized and emitted at batch ``b``;
* the LATE-ROW FILTER in batch ``b`` lags ONE MORE batch: an input
  row is dropped iff its window end ``<= wm(b−1)`` (Spark advances
  the filter watermark only after the batch that evicts with it — a
  row can still land in a window during the very batch that
  finalizes it, and the emitted count includes it);
* windows never reaching ``end <= wm(final)`` are NEVER emitted in
  append mode — the availableNow run ends with state still held (the
  tail windows a downstream consumer must know are missing).

Because the eviction and filter watermarks are monotone, a window is
never resurrected after eviction: any row targeting an evicted
window fails the (laggier) filter in every later batch, so the
emitted membership is exactly "accepted rows in windows whose end
cleared the final watermark" — the closed form the oracle computes.

Scale: the replay writer is one bucketed shuffle; the streaming side
is the standard watermarked window aggregate (state = open windows,
bounded by the time span / window size, never by row count).
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.ranking import global_rank
from .replay import replay_shuffle_cap, write_microbatches

WINDOW_SEC = 21_600          # 6-hour tumbling windows
DELAY_SEC = 43_200           # 12-hour watermark
N_BUCKETS = 10


def run_late_data_audit(spark: SparkSession, events: DataFrame) -> DataFrame:
    """Replay ``events`` md5-shuffled through a watermarked tumbling
    count and return the APPEND-mode emissions →
    ``(window_start, n_events)``, window_start as an ISO string.

    Arrival order = md5(event id) rank (the engine-wide deterministic
    draw), computed on the range-partitioned global-rank spine; the
    replay writes one parquet file per bucket with stepped mtimes, so
    micro-batch ``b`` IS bucket ``b`` (the established replay
    contract)."""
    seq = global_rank(
        events.select(F.col("event_id").alias("_id"), F.col("ts").alias("_ts"),
                      F.md5(F.col("event_id").cast("string")).alias("_h")),
        ["_h", "_id"], rank_col="_r").select(
        "_id", "_ts", (F.col("_r") - 1).alias("seq"))
    out_dir = tempfile.mkdtemp(prefix="late_audit_")
    glob = write_microbatches(seq, out_dir, n_buckets=N_BUCKETS)
    src = (spark.readStream
           .schema("_id long, _ts timestamp, seq long")
           .option("maxFilesPerTrigger", 1).parquet(glob))
    agg = (src.withWatermark("_ts", f"{DELAY_SEC} seconds")
           .groupBy(F.window("_ts", f"{WINDOW_SEC} seconds").alias("w"))
           .agg(F.count("*").alias("n_events")))
    name = f"late_audit_{abs(hash(out_dir)) % 10 ** 8}"
    with replay_shuffle_cap(spark):
        q = (agg.writeStream.format("memory").queryName(name)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(300)
        if q.exception() is not None:
            raise q.exception()
    got = spark.table(name).select(
        F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm")
        .alias("window_start"),
        F.col("n_events").cast("long").alias("n_events"))
    # the memory sink table dies with the query; hand back a pinned copy
    return got.localCheckpoint(eager=True)


def late_audit_oracle_sql() -> str:
    """The full-sequence protocol simulation as DuckDB SQL, generated
    from the same constants: bucket assignment from the identical
    md5-rank, cumulative per-batch maxima, the one-batch-lagged
    late-row filter, final-watermark emission."""
    return f"""
    WITH seq AS (
      SELECT event_id, ts,
             row_number() OVER (
               ORDER BY md5(CAST(event_id AS VARCHAR)), event_id) - 1
               AS seq,
             count(*) OVER () AS n
      FROM events
    ),
    batched AS (
      SELECT event_id, ts,
             seq // ((n + {N_BUCKETS - 1}) // {N_BUCKETS}) AS b,
             (epoch_ns(ts) // 1000) // {WINDOW_SEC * 1_000_000}
               * {WINDOW_SEC} AS wstart_s
      FROM seq
    ),
    bmax AS (
      SELECT b,
             max(max(epoch_ns(ts) // 1000))
               OVER (ORDER BY b ROWS UNBOUNDED PRECEDING) AS cum_max_us
      FROM batched GROUP BY b
    ),
    -- wm(b) = cum max over batches < b, minus delay (microseconds)
    wms AS (
      SELECT b,
             lag(cum_max_us, 1) OVER (ORDER BY b)
               - {DELAY_SEC * 1_000_000} AS wm_us,
             lag(cum_max_us, 2) OVER (ORDER BY b)
               - {DELAY_SEC * 1_000_000} AS filter_wm_us
      FROM bmax
    ),
    final_wm AS (
      SELECT max(cum_max_us) - {DELAY_SEC * 1_000_000} AS wm_us
      FROM bmax
    ),
    accepted AS (
      SELECT bt.wstart_s
      FROM batched bt
      JOIN wms ON wms.b = bt.b
      WHERE wms.filter_wm_us IS NULL
         OR (bt.wstart_s + {WINDOW_SEC}) * 1000000 > wms.filter_wm_us
    )
    SELECT strftime(make_timestamp(wstart_s * 1000000),
                    '%Y-%m-%d %H:%M') AS window_start,
           count(*)::BIGINT AS n_events
    FROM accepted, final_wm
    WHERE (wstart_s + {WINDOW_SEC}) * 1000000 <= final_wm.wm_us
    GROUP BY 1
    """
