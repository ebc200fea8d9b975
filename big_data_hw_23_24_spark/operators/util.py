"""Shared operator plumbing."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def lowered_words(col: Column | str) -> Column:
    """The engine-wide tokenizer expression: lowercase, single-space
    split, empty tokens dropped. Several pinned invariants (BM25
    single ≡ batch agreement, hashed ≡ weighted classifier
    equivalence, every DuckDB oracle's ``list_filter(string_split(
    lower(text), ' '), ...)`` mirror) depend on byte-identical
    tokenization — change it HERE or nowhere."""
    col = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.lower(col), " "), lambda w: w != "")


# optimized-logical-plan nodes that plan to an exchange
_SHUFFLE_NODES = frozenset({
    "Aggregate", "Join", "Window", "WindowGroupLimit", "Sort", "Distinct",
    "Deduplicate", "DeduplicateWithinWatermark", "Repartition",
    "RepartitionByExpression", "RebalancePartitions"})


def _needs_shuffle(df: DataFrame) -> bool:
    """Whether ``df``'s optimized logical plan holds a shuffle node —
    driver-side, no job. Cached (``InMemoryRelation``) and checkpointed
    (``LogicalRDD``) frames are leaves of that plan."""
    stack = [df._jdf.queryExecution().optimizedPlan()]
    while stack:
        node = stack.pop()
        if node.nodeName() in _SHUFFLE_NODES:
            return True
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return False


def ensure_fanout(df: DataFrame) -> DataFrame:
    """Round-robin repartition a df whose scan has too FEW partitions
    for expansion-heavy downstream work (explode to n-grams/shingles,
    per-row kernels): a sub-row-group-sized parquet file arrives as ONE
    split, serializing a 50× explode onto one core while 31 idle.

    The frame's own plan decides whether it may be probed. A scan, a
    cached or checkpointed frame, and narrow maps over them are probed
    through ``df.rdd`` at no cost (a cache not yet filled runs its own
    shuffle stages early, which it then reuses) and repartitioned to
    ``sc.defaultParallelism`` when they have fewer partitions; at
    100 TB the scan has thousands of splits and no shuffle is added.
    A frame whose plan shuffles (aggregate, join, window, sort,
    distinct, repartition) is returned unchanged: under AQE the probe
    would run its exchanges as jobs the later action does not reuse,
    and would report the coalesced post-shuffle width.

    This is the declarative descendant of the reference's eager
    ``repartition(L)`` (G019HW1.java:68, X1): same intent — match
    parallelism to the work, not the input layout — applied only when
    the layout actually under-supplies partitions.
    """
    if _needs_shuffle(df):
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
