"""Deterministic file-source replay: turn a bounded DataFrame into an
ordered sequence of parquet micro-batches for Structured Streaming
tests (the sandbox stand-in for the reference's live socket ports
8886-8889, ``G016HW3.java:76``).

The batch files are produced by Spark itself — a bucketed,
``partitionBy`` parquet write — never by collecting the sequence to
the driver, so the generator scales with the data exactly like any
other query. Batch ORDER is carried by file modification times: the
file stream source sorts candidate files by (mtime, path), so setting
mtime = t0 + bucket replays buckets in sequence order.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_microbatches(df: DataFrame, out_dir: str,
                       n_buckets: int = 10) -> str:
    """Write ``df`` as ``n_buckets`` ordered parquet micro-batches.

    ``df`` must carry a dense 0-based ``seq``; rows land in
    bucket ``seq div ceil(total/n_buckets)``. One shuffle on the
    bucket id (``repartition(bucket)`` → exactly one file per bucket),
    no driver-side row materialization. Returns the glob to feed
    ``spark.readStream``.
    """
    total = df.count()
    chunk = max(1, -(-total // n_buckets))  # ceil
    (df.withColumn("bucket", F.expr(f"seq div {chunk}"))
       .repartition(F.col("bucket"))
       .write.mode("overwrite").partitionBy("bucket").parquet(out_dir))
    t0 = 1_700_000_000
    for sub in sorted(os.listdir(out_dir)):
        if not sub.startswith("bucket="):
            continue
        b = int(sub.split("=", 1)[1])
        for f in os.listdir(os.path.join(out_dir, sub)):
            if f.endswith(".parquet"):
                os.utime(os.path.join(out_dir, sub, f), (t0 + b, t0 + b))
    return os.path.join(out_dir, "bucket=*")


from contextlib import contextmanager


@contextmanager
def replay_shuffle_cap(spark, cap: int = 32):
    """Bound task counts for a BOUNDED replay run.

    Stateful streaming operators (stream-stream joins, dropDuplicates,
    applyInPandasWithState) fix their state partition count from
    ``spark.sql.shuffle.partitions`` at query start. On a plain
    session (default 200) a 10-micro-batch bounded replay executes
    thousands of near-empty state tasks — pure scheduling overhead
    (measured 139 s → ~20 s on the stream-stream interval join at
    sf0.01). Cap the conf for the harness run and restore the
    caller's value after; results are identical either way (the
    harness queries are value-checked against batch SQL oracles), so
    this is a task-layout lever only. Production streams should size
    state partitions to the cluster instead — this guard is for the
    bounded-replay faces.
    """
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    if int(prev) > cap:
        spark.conf.set(key, str(cap))
    try:
        yield
    finally:
        spark.conf.set(key, prev)
