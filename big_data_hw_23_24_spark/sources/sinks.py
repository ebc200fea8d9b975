"""Materialized sinks. The reference's only sink is formatted driver
stdout (S4, ``G019HW1.java:272-283``); our engine adds the natural
Spark-side sinks — parquet / CSV / JSON writers with partition layout
control — so query results can feed downstream jobs instead of ending
at a println.

Scale notes: ``partition_by`` produces hive-style directory layout so
downstream scans get partition pruning for free; ``buckets`` writes a
sorted, bucketed table (saveAsTable required by Spark for bucket
metadata) enabling shuffle-free joins on the bucket key for readers;
``coalesce`` caps output file count after a highly parallel job
(coalesce, not repartition — no extra shuffle, it only merges
existing partitions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MODE = "overwrite"  # every sink replaces its target


def write_parquet(df: DataFrame, path: str,
                  partition_by: list[str] | None = None,
                  coalesce: int | None = None) -> None:
    if coalesce is not None:
        df = df.coalesce(coalesce)
    w = df.write.mode(MODE)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_csv(df: DataFrame, path: str, coalesce: int | None = None) -> None:
    """CSV sink (reference-style line format, S2's inverse)."""
    if coalesce is not None:
        df = df.coalesce(coalesce)
    df.write.mode(MODE).option("header", True).option("sep", ",").csv(path)


def write_json(df: DataFrame, path: str, coalesce: int | None = None) -> None:
    if coalesce is not None:
        df = df.coalesce(coalesce)
    df.write.mode(MODE).json(path)


def write_bucketed_table(df: DataFrame, table: str, bucket_col: str,
                         n_buckets: int = 32) -> None:
    """Bucketed + sorted managed table (``saveAsTable`` — Spark only
    records bucket metadata in the catalog, not for path writes).

    Readers joining two tables bucketed the same way on the join key
    get a shuffle-free sort-merge join: at 100 TB this converts the
    dominant repeated-join cost into a one-off write-time shuffle.
    Requires ``spark.sql.sources.bucketing.enabled`` (default true) and
    join parallelism = n_buckets.
    """
    (df.write.mode(MODE).bucketBy(n_buckets, bucket_col)
     .sortBy(bucket_col).saveAsTable(table))


def write_sorted_parquet(df: DataFrame, path: str, sort_cols: list[str],
                         n_files: int = 8) -> None:
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
    (df.repartitionByRange(n_files, *sort_cols)
       .sortWithinPartitions(*sort_cols)
       .write.mode(MODE).parquet(path))


def write_zorder_parquet(df: DataFrame, path: str, cols: list[str],
                         bits: int = 8, n_files: int = 16,
                         rank_buckets: bool = False) -> None:
    """Z-ordered parquet — MULTI-column data skipping.

    ``write_sorted_parquet`` makes min/max stats disjoint on one sort
    key; a predicate on any other column still touches every file.
    Z-ordering interleaves the bits of several columns into one
    curve value and range-partitions + sorts on THAT, so each file
    covers a small hyper-rectangle of the key space and per-file
    min/max stats stay tight on EVERY participating column — point
    and box predicates on any subset of ``cols`` prune files (the
    Delta Lake / Databricks OPTIMIZE ZORDER layout, Morton curve).

    Each column is scaled to ``bits`` buckets — by default a linear
    min/max scale (one bounded agg action; right for uniform-ish
    keys); ``rank_buckets=True`` equal-frequency buckets each column
    with ``operators.ranking.global_ntile`` instead, which costs one
    extra pass per column but keeps every bucket equally full under
    arbitrary skew (the Delta OPTIMIZE ZORDER range_partition_id
    approach). The bucket bits are interleaved with plain JVM
    shift/mask expressions. Layout-only: values are untouched, so a
    wrong scale costs pruning, never correctness.

    The 2-D interleave kernel also exists in oracle-checkable form as
    ``operators/layout.py::z_value`` (same curve, mask-shift spread,
    DuckDB-SQL generator) — that face carries the driver row for the
    arithmetic; this writer owns the bucketing + file-split policy.
    """
    if len(cols) < 2:
        raise ValueError("z-ordering needs ≥ 2 columns; use "
                         "write_sorted_parquet for one")
    space = 1 << bits
    buckets: list = []
    if rank_buckets:
        from ..operators.ranking import global_ntile

        for c in cols:
            df = global_ntile(df, space, [c], out_col=f"_zb_{c}")
        buckets = [(F.col(f"_zb_{c}") - 1).cast("long") for c in cols]
    else:
        aggs = []
        for c in cols:
            aggs += [F.min(c).alias(f"_mn_{c}"),
                     F.max(c).alias(f"_mx_{c}")]
        row = df.agg(*aggs).collect()[0]
        for c in cols:
            mn, mx = row[f"_mn_{c}"], row[f"_mx_{c}"]
            span = (mx - mn) or 1
            b = F.floor((F.col(c) - F.lit(mn)) / F.lit(span) * space)
            buckets.append(F.least(F.greatest(b, F.lit(0)),
                                   F.lit(space - 1)).cast("long"))
    z = F.lit(0).cast("long")
    for i in range(bits):
        for j, b in enumerate(buckets):
            z = z + F.shiftleft(F.shiftright(b, i).bitwiseAND(1),
                                i * len(buckets) + j)
    (df.withColumn("_z", z)
       .repartitionByRange(n_files, "_z")
       .sortWithinPartitions("_z")
       .drop("_z", *[f"_zb_{c}" for c in cols if rank_buckets])
       .write.mode(MODE).parquet(path))
