"""Bloom-filter semi-join pruning — pure Column expressions.

The classic 100 TB shuffle reducer: before joining a huge fact table to
a filtered dimension, build a compact Bloom filter of the dimension
keys and drop fact rows that cannot match *at the scan*, so the join
shuffles only plausible rows. Spark's own runtime row-level filtering
does this under AQE for some shapes; this operator is the explicit,
composable form (PySpark exposes no public bloom API — the JVM
``bloom_filter_agg`` is internal — so the filter is built from
vanilla aggregates and probed with array/bit intrinsics).

Design:

* build — k hash positions per key (``xxhash64(i, key) mod m``), one
  hash aggregate ``bit_or`` per 64-bit word: at most m/64 rows reach
  the shuffle regardless of dimension size; the dense word array is
  assembled in a final single-row aggregate (bounded by m bits, e.g.
  m = 2²⁰ → 16 K longs ≈ 128 KB).
* probe — broadcast the one-row filter, test all k bits with
  ``element_at`` + bitwise AND: JVM-side, no Python, whole-stage
  codegen friendly.
* guarantee — NO false negatives (a matching row always passes), so
  ``prune → join`` is semantically identical to ``join``; false
  positives only cost shuffle bytes, bounded by the standard
  (1 − e^(−kn/m))^k rate.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

M_BITS = 1 << 16  # filter size in bits
K_HASHES = 5  # hash positions per key


def bloom_build(keys: DataFrame, key_col: str,
                m_bits: int = M_BITS) -> DataFrame:
    """Distinct keys → ONE-row DataFrame with ``bf: array<bigint>`` of
    length m_bits/64. Duplicate keys cost nothing extra (bit_or)."""
    n_words = m_bits // 64
    pos = (keys.select(
        F.explode(F.sequence(F.lit(0), F.lit(K_HASHES - 1))).alias("i"),
        F.col(key_col).alias("key"))
        .select(F.pmod(F.xxhash64("i", "key"), F.lit(m_bits)).alias("p")))
    words = (pos.groupBy(F.shiftright("p", 6).cast("int").alias("w"))
             .agg(F.bit_or(
                 F.expr("shiftleft(1L, cast((p & 63) AS INT))"))
                 .alias("bits")))
    return (words
            .agg(F.map_from_entries(
                F.collect_list(F.struct("w", "bits"))).alias("mp"))
            .select(F.transform(
                F.sequence(F.lit(0), F.lit(n_words - 1)),
                lambda i: F.coalesce(F.element_at("mp", i), F.lit(0)))
                .alias("bf")))


def bloom_might_contain(df: DataFrame, bloom: DataFrame,
                        key_col: str) -> DataFrame:
    """Keep rows whose key might be in the filter (never drops a true
    match). ``bloom`` is the one-row DF from ``bloom_build`` —
    broadcast, so the probe is a map-side cross join of one row."""
    probed = df.crossJoin(F.broadcast(bloom))
    tests = []
    for i in range(K_HASHES):
        p = f"pmod(xxhash64({i}, {key_col}), {M_BITS})"
        tests.append(F.expr(
            f"(element_at(bf, cast(shiftright({p}, 6) AS INT) + 1)"
            f" & shiftleft(1L, cast(({p} & 63) AS INT))) != 0"))
    return probed.where(reduce(lambda a, b: a & b, tests)).drop("bf")


def bloom_flag(df: DataFrame, bloom: DataFrame, key_col: str,
               m_bits: int = M_BITS) -> DataFrame:
    """Like :func:`bloom_might_contain` but non-destructive: append a
    boolean ``maybe`` column (might-be-member) instead of filtering, for
    callers that route accepted and rejected rows down DIFFERENT paths
    (e.g. only accepted rows pay a verification join)."""
    probed = df.crossJoin(F.broadcast(bloom))
    tests = []
    for i in range(K_HASHES):
        p = f"pmod(xxhash64({i}, {key_col}), {m_bits})"
        tests.append(F.expr(
            f"(element_at(bf, cast(shiftright({p}, 6) AS INT) + 1)"
            f" & shiftleft(1L, cast(({p} & 63) AS INT))) != 0"))
    return probed.withColumn(
        "maybe", reduce(lambda a, b: a & b, tests)).drop("bf")


def bloom_semi_prune(fact: DataFrame, dim: DataFrame, fact_key: str,
                     dim_key: str) -> DataFrame:
    """Prune ``fact`` to rows whose key might appear in ``dim``.

    A superset of the true semi-join (no false negatives); follow with
    the real join for exact results — the prune only shrinks what the
    join must shuffle.
    """
    bf = bloom_build(dim.select(dim_key).distinct(), dim_key)
    return bloom_might_contain(fact, bf, fact_key)
