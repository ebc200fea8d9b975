"""Structured Streaming frequent-items harness (C5, ``G016HW3.java``).

DStream → Structured Streaming mapping (SURVEY §3.3):

* ``foreachRDD`` driver callback → ``writeStream.foreachBatch``;
* the stop semaphore (``G016HW3.java:136-145``; also the reference's
  own Python template ``DistinctItemsExample.py:68,100-106``) →
  ``threading.Event`` + ``query.stop()``;
* the n-item cutoff ("up to and including the first batch containing
  the n-th item", trimmed to exactly n via zipWithIndex+filter,
  ``G016HW3.java:80-88``) → a driver-side running counter trimming
  each batch with ``head(remaining)``.

State layout mirrors the reference exactly: the exact histogram is a
driver dict merged from each micro-batch's **distributed**
``groupBy(item).count()`` (the shuffle+combine runs on executors, only
the per-batch aggregate crosses to the driver — same shape as the
reference's ``reduceByKey().collectAsMap()``); reservoir and sticky
samplers consume the batch sequentially driver-side, which is the
*definitionally correct* place for them (their guarantees quantify
over arrival order) and what the reference does too.
"""

from __future__ import annotations

import math
import threading
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.frequent import ReservoirSampler, StickySampler


@dataclass
class FrequentItemsMonitor:
    """Driver-state monitor maintaining exact/reservoir/sticky at once."""

    n: int
    phi: float
    eps: float
    delta: float
    seed: int = 42

    stream_length: int = 0
    histogram: dict[int, int] = field(default_factory=dict)
    reservoir: ReservoirSampler = field(init=False)
    sticky: StickySampler = field(init=False)
    done: threading.Event = field(default_factory=threading.Event)

    def __post_init__(self) -> None:
        self.reservoir = ReservoirSampler(m=math.ceil(1.0 / self.phi),
                                          seed=self.seed)
        self.sticky = StickySampler(self.phi, self.eps, self.delta, self.n,
                                    seed=self.seed)

    def process_batch(self, batch: DataFrame, epoch_id: int = 0,
                      item_col: str = "item",
                      order_col: str | None = "seq") -> None:
        """foreachBatch callback: trim to n, update all three estimators."""
        if self.done.is_set():
            return
        remaining = self.n - self.stream_length
        cols = [item_col] + ([order_col] if order_col else [])
        rows = batch.select(*cols)
        if order_col:
            rows = rows.orderBy(order_col)
        # trim the batch that crosses item n (G016HW3.java:85-87)
        items = [r[0] for r in rows.take(remaining)]
        if not items:
            if self.stream_length >= self.n:
                self.done.set()
            return
        self.stream_length += len(items)

        # exact histogram merged driver-side from the trimmed item list
        # (the reference's reduceByKey+collectAsMap merge,
        # G016HW3.java:91-101; batches are micro-batch-sized and the
        # stream is n-capped, so the driver dict is bounded)
        for it in items:
            self.histogram[it] = self.histogram.get(it, 0) + 1

        self.reservoir.add_many(items)
        self.sticky.add_many(items)
        if self.stream_length >= self.n:
            self.done.set()

    # --- final report (batch DataFrame queries, G016HW3.java:148-228) ---
    def true_frequent(self, spark: SparkSession) -> DataFrame:
        thr = self.phi * self.stream_length
        rows = sorted((k, v) for k, v in self.histogram.items() if v >= thr)
        return spark.createDataFrame(
            [(int(k), int(v)) for k, v in rows] or [], "item bigint, cnt bigint")

    def report(self, spark: SparkSession) -> dict[str, DataFrame]:
        true_df = self.true_frequent(spark)
        true_set = {r.item for r in true_df.collect()}
        res = [(int(i), "+" if i in true_set else "-")
               for i in self.reservoir.estimated_frequent()]
        stk = [(int(i), "+" if i in true_set else "-")
               for i in self.sticky.estimated_frequent()]
        return {
            "true_frequent": true_df,
            "reservoir": spark.createDataFrame(res or [],
                                               "item bigint, sign string"),
            "sticky": spark.createDataFrame(stk or [],
                                            "item bigint, sign string"),
        }


def run_frequent_items(spark: SparkSession, stream: DataFrame,
                       monitor: FrequentItemsMonitor,
                       order_col: str | None = "seq",
                       timeout_sec: float = 60.0) -> FrequentItemsMonitor:
    """Run the monitor over a streaming DataFrame until n items seen.

    ``stream`` is any streaming DF with an item column (socket parse,
    file source...). Clean-stop protocol as in the
    reference's template: foreachBatch sets an Event at the cutoff,
    the main thread stops the query.
    """
    query = (stream.writeStream
             .foreachBatch(lambda df, eid: monitor.process_batch(
                 df, eid, order_col=order_col))
             .outputMode("update")
             .trigger(processingTime="50 milliseconds")
             .start())
    monitor.done.wait(timeout=timeout_sec)
    query.stop()
    query.awaitTermination(30)
    return monitor


def socket_item_stream(spark: SparkSession, host: str, port: int) -> DataFrame:
    """The reference's input shape: integer-per-line socket stream
    (``G016HW3.java:76``, ports 8886-8889). No order column — socket
    arrival order is batch order."""
    return (spark.readStream.format("socket")
            .option("host", host).option("port", port).load()
            .select(F.col("value").cast("bigint").alias("item")))

