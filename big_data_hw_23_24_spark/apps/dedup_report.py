"""CLI app: corpus deduplication report.

The extension-surface counterpart of the reference's homework
programs (`G019HW1.java` prints an outlier report; this prints a
dedup report): run the full dedup stack over a parquet corpus of
``(doc_id, text)`` documents and report, per method, how many
duplicate pairs / groups survive and what fraction of the corpus a
dedup pass would drop.

Methods (all from ``operators/dedup.py`` / ``operators/similarity.py``):
  exact      md5-of-normalized-text groups
  minhash    MinHash-LSH near-dup pairs (Jaccard >= --threshold)
  simhash    SimHash pairs within --hamming bits

Usage:
  python -m big_data_hw_23_24_spark.apps.dedup_report <corpus.parquet>
         [--threshold 0.7] [--hamming 3]
"""

from __future__ import annotations

import sys

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from . import parse_flags


def run(spark: SparkSession, path: str, threshold: float = 0.7,
        max_hamming: int = 3) -> list[str]:
    from ..operators.dedup import (
        exact_duplicate_groups,
        minhash_near_duplicates,
        simhash_near_duplicates,
    )

    docs = spark.read.parquet(path).select("doc_id", "text").cache()
    exact = exact_duplicate_groups(docs).cache()
    try:
        n_docs = docs.count()

        ex_groups = exact.count()
        ex_extra = (exact.agg(F.sum(F.col("n_docs") - 1)).collect()[0][0]
                    or 0)

        mh = minhash_near_duplicates(docs, threshold=threshold)
        mh_pairs = mh.count()

        # pairs → transitive components: the droppable count is exact
        # (Σ (component size − 1)), not the distinct-id_b estimate a pair
        # list alone supports — chained dups (a~b, b~c) count correctly
        if mh_pairs:
            from ..operators.components import (
                connected_components, dedup_survivors)

            surv = dedup_survivors(
                connected_components(mh.select("id_a", "id_b")))
            agg = surv.agg(F.count("*").alias("g"),
                           F.sum("n_dropped").alias("d")).collect()[0]
            mh_groups, mh_drop = agg["g"], int(agg["d"])
        else:
            mh_groups = mh_drop = 0

        sh = simhash_near_duplicates(docs, max_hamming=max_hamming)
        sh_pairs = sh.count()
    finally:
        # a shared session outlives this run — release executor storage
        exact.unpersist()
        docs.unpersist()

    drop_frac = (ex_extra + mh_drop) / max(n_docs, 1)
    return [
        f"Documents = {n_docs}",
        f"Exact duplicate groups = {ex_groups} "
        f"(redundant copies = {ex_extra})",
        f"MinHash-LSH near-dup pairs (J >= {threshold}) = {mh_pairs} "
        f"(components = {mh_groups}, droppable docs = {mh_drop})",
        f"SimHash pairs (hamming <= {max_hamming}) = {sh_pairs}",
        f"Upper-bound drop fraction = {drop_frac:.4f}",
    ]


USAGE = "Usage: dedup_report <corpus.parquet> [--threshold T] [--hamming H]"


OPTIONS = {"--threshold": ("threshold", float),
           "--hamming": ("max_hamming", int)}


def main(argv: list[str]) -> int:
    if not argv:
        print(USAGE)
        return 1
    kwargs = parse_flags(argv[1:], OPTIONS)
    if kwargs is None:
        print(USAGE)
        return 2
    from ..session import get_session

    spark = get_session("DedupReport")
    for line in run(spark, argv[0], **kwargs):
        print(line)
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
