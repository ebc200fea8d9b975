"""Skew-mitigation operators for the 100 TB path.

The reference teaches shuffle-spreading with its 2-round random-key
word count (``WordCountExample.java:75-103``: assign a random key in
[0,L), pre-aggregate per key, then final-aggregate). Catalyst already
subsumes that for plain aggregates (partial/final HashAggregateExec)
and AQE rebalances skewed *joins* at runtime — but two shapes still
need user-side salting at extreme skew, and both are provided here:

* ``salted_join``: a hot fact key overwhelms one reducer in a
  shuffle-hash/sort-merge join and the dim side is too big to
  broadcast. Replicate each dim row across ``N_SALTS`` synthetic keys
  and scatter fact rows uniformly over them: the hot key's rows now
  land on ``N_SALTS`` reducers. Dim-side cost is a bounded ×N_SALTS
  blowup (explode — no driver work); result is exactly the plain
  inner join.
* ``salted_count_distinct``: COUNT(DISTINCT x) GROUP BY k cannot
  map-side-combine, so a hot k funnels every distinct x through one
  reducer. Salting by ``hash(x) % N_SALTS`` partitions the *distinct
  value space* disjointly, so per-(k, salt) exact distinct counts SUM
  to the exact per-k answer — two cheap hash aggregates, no
  approximation, hot key spread over N_SALTS reducers.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

N_SALTS = 8  # salts that spread a hot key over reducers
SKEW_TOP_N = 10  # hottest keys skew_report lists per column


def salted_join(fact: DataFrame, dim: DataFrame, key: str,
                salt_col: Column | None = None) -> DataFrame:
    """Inner equi-join on ``key`` with the fact side salted.

    ``salt_col`` defaults to a seeded uniform pick (row-level
    nondeterminism only affects placement, never the result set);
    pass a deterministic expression (e.g. ``pmod(xxhash64(id), n)``)
    when task-retry determinism matters. Column sets of ``fact`` and
    ``dim`` must be disjoint apart from ``key``.
    """
    if salt_col is None:
        salt_col = (F.rand(42) * N_SALTS).cast("int")
    f = fact.withColumn("_salt", salt_col)
    d = dim.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(N_SALTS)])))
    out = f.join(d, [key, "_salt"]).drop("_salt")
    return out


def salted_count_distinct(df: DataFrame, group_col: str,
                          distinct_col: str) -> DataFrame:
    """Exact COUNT(DISTINCT distinct_col) GROUP BY group_col, salted.

    Stage 1 groups by ``(group_col, hash(distinct_col) % N_SALTS)`` —
    disjoint value partitions, so stage 2's SUM of the per-salt
    distinct counts is exact, not an estimate.
    """
    partial = (df.select(group_col, F.col(distinct_col).alias("_v"))
               .withColumn("_salt", F.pmod(F.xxhash64(F.col("_v")),
                                           F.lit(N_SALTS)))
               .groupBy(group_col, "_salt")
               .agg(F.count_distinct("_v").alias("_pc")))
    return (partial.groupBy(group_col)
            .agg(F.sum("_pc").alias("n_distinct")))


def skew_report(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """Key-skew diagnosis -> (key_col, key_value, cnt, rank,
    n_distinct, skew_factor): per candidate shuffle key, the top-N
    heaviest values plus how far the heaviest exceeds a uniform
    spread (skew_factor = max_cnt x n_distinct / total; 1.0 means
    perfectly uniform).

    The measurement that DECIDES between the engine's skew cures
    (plain hash join vs `salted_join` / `salted_count_distinct` vs
    AQE skew-join) instead of guessing: run it on the join/group keys
    of a slow query, read which key is hot and by how much. Per
    column: one map-side-combined count aggregate, metrics from a
    1-row summary broadcast back, top-N via TakeOrderedAndProject —
    no single-reducer stage anywhere; key values are stringified so
    heterogeneous columns union into one tidy report.
    """
    if not key_cols:
        raise ValueError("key_cols must not be empty")
    out = None
    for c in key_cols:
        counts = (df.groupBy(F.col(c).cast("string").alias("key_value"))
                  .agg(F.count("*").alias("cnt")))
        summary = counts.agg(
            F.count("*").alias("n_distinct"),
            F.sum("cnt").alias("_total"),
            F.max("cnt").alias("_mx"))
        top = (counts.orderBy(F.col("cnt").desc(), F.col("key_value"))
               .limit(SKEW_TOP_N)
               .withColumn("rank", F.row_number().over(
                   Window.orderBy(F.col("cnt").desc(),
                                  F.col("key_value")))))
        rep = (top.crossJoin(F.broadcast(summary))
               .select(F.lit(c).alias("key_col"), "key_value", "cnt",
                       "rank", "n_distinct",
                       F.round(F.col("_mx") * F.col("n_distinct")
                               / F.col("_total"), 6)
                       .alias("skew_factor")))
        out = rep if out is None else out.unionAll(rep)
    return out
