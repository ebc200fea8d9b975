"""Bounded backfill / catch-up over a lagged partition range.

The steady-state ingest faces (E28/E41: ``StreamingIngestDedup``,
``StreamingIngestMinhash``) assume the stream is consumed live. The
operation every production pipeline runs AFTER an outage is different:
re-read a BOUNDED, EXPLICIT range of source partitions (the file-source
analogue of a Kafka ``startingOffsets``/``endingOffsets`` window),
reprocess it, and land the results so that re-running the catch-up —
with a fresh checkpoint, possibly several times, possibly with an
overlapping range — never duplicates a row.

Two design commitments, both load-bearing at scale:

* **The range bound lives in the SOURCE glob** (``bucket={a,b,c}``
  Hadoop alternation), so the file source never even lists the
  partitions outside the lag window — on a petabyte archive the
  catch-up reads exactly the lagged slice, not everything-and-filter.
* **Idempotence lives in the SINK, not the checkpoint**: each
  micro-batch lands via dynamic partition overwrite
  (``partitionOverwriteMode=dynamic`` + ``partitionBy(bucket,
  src_part)``, where ``src_part`` derives from the source file name),
  so a re-run (new checkpoint, epoch ids restarting at 0) overwrites
  the same (bucket, file) sub-partitions instead of appending — and a
  bucket whose files span several micro-batches never has a later
  batch clobber an earlier one's rows. A checkpoint protects one
  query's restart; the sink contract protects the OPERATOR being run
  twice — the failure mode outages actually produce.

The bounded replay itself uses ``trigger(availableNow=True)``: process
everything the bounded source holds, then stop (the reference's
bounded-read guard, SURVEY §2 S5, applied to catch-up).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TIMEOUT_SEC = 180  # seconds a backfill may run


def bucket_range_glob(src_dir: str, from_bucket: int,
                      to_bucket: int) -> str:
    """Source glob for the lagged partition range [from, to] —
    ``bucket={a,b,...}`` Hadoop alternation, so partition pruning
    happens at file-listing time, before any read."""
    if from_bucket > to_bucket:
        raise ValueError(f"empty range [{from_bucket}, {to_bucket}]")
    alts = ",".join(str(b) for b in range(from_bucket, to_bucket + 1))
    return os.path.join(src_dir, f"bucket={{{alts}}}")


class BackfillSink:
    """``foreachBatch`` callable: dynamic-partition-overwrite landing.

    Every batch writes ``partitionBy(bucket, src_part)`` in overwrite
    mode with ``partitionOverwriteMode=dynamic`` — only the partitions
    PRESENT in the batch are replaced, everything else landed is
    untouched. ``src_part`` is derived from the source file name
    (md5 of the basename), which makes the landing idempotent at
    FILE granularity, not bucket granularity: a bucket whose files
    span several micro-batches (>1 file under maxFilesPerTrigger=1,
    or an externally-written source) lands each file in its own
    sub-partition instead of the later batch clobbering the earlier
    one's rows. Re-running the same catch-up (same source files,
    fresh checkpoint, overlapping range) overwrites the same
    (bucket, src_part) pairs exactly — each source file lands once.

    For a non-file batch source ``input_file_name()`` is empty and
    every row shares one constant ``src_part``; such sources must
    keep each bucket inside one micro-batch (the pre-fix contract).
    """

    def __init__(self, out_root: str):
        self.out_root = out_root

    def __call__(self, batch: DataFrame, epoch_id: int) -> None:
        src_part = F.substring(
            F.md5(F.element_at(F.split(F.input_file_name(), "/"), -1)),
            1, 8)
        (batch.withColumn("src_part", src_part)
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("bucket", "src_part")
         .parquet(self.out_root))

    def read(self, spark: SparkSession) -> DataFrame:
        return (spark.read.option("basePath", self.out_root)
                .parquet(os.path.join(self.out_root, "bucket=*"))
                .drop("src_part"))


def run_backfill(spark: SparkSession, src_dir: str, schema: str,
                 from_bucket: int, to_bucket: int, out_root: str,
                 checkpoint: str) -> BackfillSink:
    """Catch up the lagged bucket range [from_bucket, to_bucket]:
    bounded re-read (range-pruned glob, one bucket file per trigger),
    idempotent dynamic-overwrite landing, availableNow to completion.

    ``checkpoint`` should be FRESH per invocation: the whole point of
    the sink contract is that idempotence survives a rerun that lost
    its checkpoint.
    """
    glob = bucket_range_glob(src_dir, from_bucket, to_bucket)
    stream = (spark.readStream.schema(schema)
              .option("basePath", src_dir)
              .option("maxFilesPerTrigger", 1)
              .parquet(glob))
    sink = BackfillSink(out_root)
    q = (stream.writeStream.foreachBatch(sink)
         .trigger(availableNow=True)
         .option("checkpointLocation", checkpoint)
         .start())
    if not q.awaitTermination(TIMEOUT_SEC):
        # not an assert: under `python -O` an assert is stripped and a
        # timed-out backfill would return a silently partial landing
        q.stop()
        raise RuntimeError(
            f"backfill did not finish within {TIMEOUT_SEC}s")
    return sink


def backfill_report(landed: DataFrame) -> DataFrame:
    """Per-bucket landing audit → (bucket, n_docs, n_tokens,
    checksum): row counts plus the order-insensitive content checksum
    (sum of 32-bit id fingerprints, the shard-manifest convention) a
    rerun or an oracle can verify against the source — any duplicated,
    dropped, or foreign-bucket row breaks it.
    """
    fp = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
                16, 10).cast("long")
    n_tokens = F.size(F.filter(F.split(F.col("text"), " "),
                               lambda w: w != ""))
    return (landed.groupBy(F.col("bucket").cast("long").alias("bucket"))
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.sum(n_tokens).cast("long").alias("n_tokens"),
                 F.sum(fp).cast("long").alias("checksum"))
            .orderBy("bucket"))
