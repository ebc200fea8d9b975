"""Materialized sinks. The reference's only sink is formatted driver
stdout (S4, ``G019HW1.java:272-283``); our engine adds a Spark-side
parquet writer so results can feed downstream jobs instead of ending
at a println.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

MODE = "overwrite"  # every sink replaces its target
N_FILES = 8  # output files of a sorted write


def write_sorted_parquet(df: DataFrame, path: str,
                         sort_cols: list[str]) -> None:
    """Range-partitioned, sorted parquet — data skipping for readers.

    ``repartitionByRange`` + ``sortWithinPartitions`` makes both the
    per-FILE and per-ROW-GROUP min/max statistics on ``sort_cols``
    disjoint (touching only at range boundaries). Parquet readers
    evaluate pushed filters against those statistics before decoding,
    so a point or range predicate on the sort key skips every
    non-overlapping row group — the single-dimension version of
    Z-ordering, and the cheapest data-layout lever a 100 TB table has:
    one write-time shuffle buys every subsequent scan its pruning.
    """
    (df.repartitionByRange(N_FILES, *sort_cols)
       .sortWithinPartitions(*sort_cols)
       .write.mode(MODE).parquet(path))
