"""Continuous-ingestion dedup: every micro-batch of documents is
deduplicated against the accumulated corpus fingerprint store, and only
novel fingerprints are appended — the streaming face of
``operators.dedup.incremental_dedup`` (E38) composed with the
idempotent epoch-keyed sink (E28).

The shape a re-crawling pipeline runs forever: corpus text is never
re-read (the store holds 32-byte fingerprints only), each batch costs
one join against the store plus a batch-local window, and failure
replays are safe — a re-run of epoch N reads only epochs < N as
"corpus", recomputes the identical statuses, and overwrites its own
previous attempt.

At 100 TB the store becomes a fingerprint-bucketed table (``bucketBy``
+ ``saveAsTable``) so the per-batch join is co-located and
shuffle-free on the store side; the epoch-directory
parquet used here keeps the same dataflow with the sandbox's plain
parquet reader.
"""

from __future__ import annotations

import os

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from ..operators.dedup import incremental_dedup_against_fingerprints
from .idempotent import IdempotentBatchWriter

_FP_SCHEMA = StructType([StructField("fingerprint", StringType())])


class StreamingIngestDedup:
    """``foreachBatch`` callable maintaining a dedup'd corpus store.

    Per epoch: status every incoming document (novel / dup_of_corpus /
    dup_in_batch) against fingerprints accumulated in epochs strictly
    BEFORE this one, then write the epoch's statuses and its novel
    fingerprints under ``epoch=<id>`` directories. Reading only prior
    epochs is what makes replays idempotent: a retried epoch never
    sees its own partial first attempt as corpus.
    """

    def __init__(self, spark: SparkSession, root: str,
                 text_col: str = "text", id_col: str = "doc_id"):
        self.spark = spark
        self.text_col, self.id_col = text_col, id_col
        self.fp_writer = IdempotentBatchWriter(
            os.path.join(root, "fingerprints"))
        self.status_writer = IdempotentBatchWriter(
            os.path.join(root, "status"))

    def corpus_fingerprints(self, before_epoch: int | None = None
                            ) -> DataFrame:
        """The accumulated store (optionally epochs < ``before_epoch``);
        empty-schema DataFrame before the first commit.

        Only the two signals that genuinely mean "no epoch committed
        yet" — the store directory not existing, or existing with no
        epoch directories (AnalysisException from the empty glob) — map
        to an empty corpus. Anything else (permissions, corrupt
        parquet) propagates: treating a failed store read as an empty
        corpus would status every batch doc "novel" and silently append
        duplicate fingerprints."""
        if not os.path.isdir(self.fp_writer.root):
            return self.spark.createDataFrame([], _FP_SCHEMA)
        try:
            fps = self.fp_writer.read(self.spark)
        except AnalysisException as e:
            # dir exists but holds no epoch=* yet (e.g. created by a
            # concurrent writer that hasn't committed)
            if "PATH_NOT_FOUND" in str(e) or "Path does not exist" in str(e):
                return self.spark.createDataFrame([], _FP_SCHEMA)
            raise
        if before_epoch is not None:
            fps = fps.where(F.col("epoch") < before_epoch)
        return fps.select("fingerprint")

    def statuses(self) -> DataFrame:
        """Every document ever ingested with its dedup status + epoch."""
        return self.status_writer.read(self.spark)

    def __call__(self, batch: DataFrame, epoch_id: int) -> None:
        st = incremental_dedup_against_fingerprints(
            batch, self.corpus_fingerprints(before_epoch=epoch_id),
            text_col=self.text_col, id_col=self.id_col)
        # one deterministic computation feeds both sinks; localCheckpoint
        # decouples them from each other and from the store read above
        st = st.localCheckpoint(eager=True)
        self.status_writer(st, epoch_id)
        self.fp_writer(
            st.where(F.col("status") == "novel").select("fingerprint"),
            epoch_id)
