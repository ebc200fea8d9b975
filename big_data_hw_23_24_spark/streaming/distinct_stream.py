"""Streaming exact distinct-count — parity with the reference's own
PySpark template (``Homework_3/Assignment/DistinctItemsExample.py``).

The template maintains a driver-side dict of seen items, merged from
each micro-batch's ``map(item → (item,1)).reduceByKey().collectAsMap``
(``DistinctItemsExample.py:21-26``), and stops once the stream length
crosses a threshold. Structured-Streaming mapping here:

* per-batch distinct runs DISTRIBUTED (``distinct()`` — the
  reduceByKey), only the batch's distinct item values cross to the
  driver set;
* stop protocol = ``threading.Event`` + ``query.stop()``, exactly as
  the template's semaphore (``DistinctItemsExample.py:68,100-106``);
* the n-item cutoff trims the crossing batch to exactly n in sequence
  order (HW3's trim rule, ``G016HW3.java:85-87`` — a deliberate
  tightening of the template, which counts whole batches; trimming
  makes the result a pure function of the item sequence and hence
  oracle-checkable).

At unbounded scale the driver set graduates to the stateful
``stream.groupBy(item).count()`` (state-store backed); this harness is
the n-capped parity face.
"""

from __future__ import annotations

import threading
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


@dataclass
class DistinctItemsMonitor:
    """Driver-state monitor: exact distinct items over the first n."""

    n: int
    stream_length: int = 0
    items: set = field(default_factory=set)
    done: threading.Event = field(default_factory=threading.Event)

    def process_batch(self, batch: DataFrame, epoch_id: int = 0,
                      item_col: str = "item",
                      order_col: str | None = "seq") -> None:
        if self.done.is_set():
            return
        remaining = self.n - self.stream_length
        rows = batch.select(item_col, *( [order_col] if order_col else [] ))
        if order_col:
            rows = rows.orderBy(order_col)
        trimmed = rows.limit(remaining)
        # ONE action per micro-batch: count + distributed distinct in a
        # single aggregate (collect_set partial-aggregates map-side, so
        # only distinct values reach the driver —
        # DistinctItemsExample.py:21-26's reduceByKey+collectAsMap)
        agg = trimmed.agg(F.count("*").alias("n"),
                          F.collect_set(item_col).alias("vals")).collect()[0]
        n_taken = agg["n"]
        if n_taken == 0:
            if self.stream_length >= self.n:
                self.done.set()
            return
        self.items.update(agg["vals"])
        self.stream_length += n_taken
        if self.stream_length >= self.n:
            self.done.set()

    def distinct_count(self) -> int:
        return len(self.items)


def run_distinct_items(spark: SparkSession, stream: DataFrame,
                       monitor: DistinctItemsMonitor,
                       timeout_sec: float = 60.0) -> DistinctItemsMonitor:
    """Run the monitor over a streaming DF until n items are seen."""
    query = (stream.writeStream
             .foreachBatch(lambda df, eid: monitor.process_batch(
                 df, eid, item_col="item", order_col="seq"))
             .outputMode("update")
             .trigger(processingTime="50 milliseconds")
             .start())
    monitor.done.wait(timeout=timeout_sec)
    query.stop()
    query.awaitTermination(30)
    return monitor


def streaming_distinct_keys(stream: DataFrame) -> list:
    """The idiomatic state-store face of streaming dedup: Spark's own
    ``dropDuplicates`` operator keeps per-key state in the state store
    (RocksDB/HDFS-backed on a cluster — scales past driver memory,
    exactly-once across restarts via checkpointing) and each
    micro-batch emits only NEVER-SEEN keys. Returns the emitted key
    list (each distinct key exactly once, which is the operator's
    contract and what the SQL oracle recomputes).

    State here is unbounded by design (the bounded-state variant is
    ``dropDuplicatesWithinWatermark``, which expires keys older than
    the watermark — same plan shape, demonstrated in tests; its output
    depends on watermark progression, so the no-expiry face is the
    oracle-checkable one).
    """
    out: list = []
    query = (stream.select("item").dropDuplicates(["item"])
             .writeStream
             .foreachBatch(lambda df, eid: out.extend(
                 r[0] for r in df.collect()))
             .outputMode("update")
             .trigger(availableNow=True)
             .start())
    assert query.awaitTermination(120.0), \
        "streaming dropDuplicates timed out"
    return out
