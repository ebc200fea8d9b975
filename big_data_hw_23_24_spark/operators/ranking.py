"""Scalable global ranking: total-order row numbers and ntile without
a single-partition window.

Spark's ``Window.orderBy(...)`` with no partition key moves EVERY row
through one reducer (``Exchange SinglePartition``) — fine on a dim
table, fatal on a corpus. The classic cure (what ``RDD.zipWithIndex``
does internally) is implemented here DataFrame-first:

1. ``repartitionByRange`` on the sort keys — one parallel shuffle that
   makes partition order == global order. The expression form (no
   explicit N) lets AQE size the post-shuffle partition count from
   the DATA (REPARTITION_BY_COL origin → coalescePartitions applies):
   the spine is scale-adaptive instead of tuned to one core count,
   and every result below is partition-count-independent by
   construction;
2. pin the partitioning (LAZY ``localCheckpoint``) so the counting
   job and the ranking job see byte-identical partitions (range
   boundaries come from sampling, so two separate actions on
   unpinned lineage could disagree). The checkpoint is lazy: the
   counting collect in step 3 is a full-scan aggregate, so its job
   both computes and persists every partition — an eager checkpoint
   would burn one extra blocking job per call for nothing;
3. count rows per partition — a bounded collect of one long per
   partition (the L·K-coreset driver-state bound again);
4. rank = per-partition prefix offset (compiled into the plan as a
   bounded literal map) + a row_number over a window PARTITIONED by
   the range-partition id — every reducer numbers only its own range.

Two parallel shuffles + one #partitions-sized collect, never all rows
through one task. Used by the ntile face over whatever table needs
equal-frequency buckets; at 100 TB this is the only global-rank shape
that survives.
"""

from __future__ import annotations

from itertools import chain

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _range_pinned(df: DataFrame, cols: list[Column]) -> DataFrame:
    """Range-partition on ``cols`` and pin the partitioning with a
    LAZY localCheckpoint (materialized by the caller's first full-scan
    action — one job computes AND persists). No explicit partition
    count: the expression form lets AQE coalesce the post-shuffle
    count from data size (scale-adaptive; every spine result is
    partition-count-independent)."""
    return df.repartitionByRange(*cols).localCheckpoint(eager=False)


def _ranked_with_total(df: DataFrame, order_by: list[Column | str],
                       rank_col: str) -> tuple[DataFrame, int]:
    cols = [F.col(c) if isinstance(c, str) else c for c in order_by]
    ranged = _range_pinned(df, cols)
    counts = {r.pid: r.cnt for r in
              (ranged.groupBy(F.spark_partition_id().alias("pid"))
               .agg(F.count("*").alias("cnt")).collect())}
    if not counts:
        return df.withColumn(rank_col, F.lit(None).cast("bigint")), 0
    offsets, acc = {}, 0
    for pid in sorted(counts):  # pid order IS range order
        offsets[pid] = acc
        acc += counts[pid]
    w = Window.partitionBy("_pid").orderBy(*cols)
    withpid = ranged.withColumn("_pid", F.spark_partition_id())
    if len(offsets) <= 256:
        # small partition counts: compile the offsets straight into
        # the expression tree
        off_map = F.create_map(*chain.from_iterable(
            (F.lit(pid), F.lit(off)) for pid, off in offsets.items()))
        withoff = withpid.withColumn("_off",
                                     F.element_at(off_map, F.col("_pid")))
    else:
        # cluster scale (10⁴-10⁵ range partitions): a 2·P-expression
        # literal map would bloat the plan — broadcast-join the
        # offsets as a P-row table instead, same values
        spark = df.sparkSession
        off_df = spark.createDataFrame(
            list(offsets.items()), "_pid int, _off long")
        withoff = withpid.join(F.broadcast(off_df), "_pid")
    ranked = (withoff.withColumn(rank_col,
                                 (F.row_number().over(w) + F.col("_off"))
                                 .cast("bigint"))
              .drop("_pid", "_off"))
    return ranked, acc


def global_rank(df: DataFrame, order_by: list[Column | str],
                rank_col: str = "rank") -> DataFrame:
    """Add a 1-based dense global row number by ``order_by`` (must be
    a total order — include a unique tiebreaker) without ever moving
    the data to a single partition."""
    ranked, _ = _ranked_with_total(df, order_by, rank_col)
    return ranked


def global_cumsum(df: DataFrame, order_by: list[Column | str],
                  value_col: str, out_col: str = "cumsum") -> DataFrame:
    """Running total of ``value_col`` in global ``order_by`` order
    (inclusive of the current row) without a single-partition window —
    the same two-pass shape as :func:`global_rank`, with per-partition
    VALUE sums as the prefix offsets instead of row counts.

    ``order_by`` must be a total order (include a unique tiebreaker)
    so the prefix is well-defined; ``value_col`` should be integral
    (token counts, byte sizes) — float prefix sums would make the
    result partition-dependent through summation order.
    """
    spark = df.sparkSession
    cols = [F.col(c) if isinstance(c, str) else c for c in order_by]
    ranged = _range_pinned(df, cols)
    sums = {r.pid: r.s for r in
            (ranged.groupBy(F.spark_partition_id().alias("pid"))
             .agg(F.sum(value_col).alias("s")).collect())}
    offsets, acc = {}, 0
    for pid in sorted(sums):  # pid order IS range order
        offsets[pid] = acc
        acc += sums[pid]
    w = (Window.partitionBy("_pid").orderBy(*cols)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    withpid = ranged.withColumn("_pid", F.spark_partition_id())
    if len(offsets) <= 256:
        off_map = F.create_map(*chain.from_iterable(
            (F.lit(pid), F.lit(off)) for pid, off in offsets.items()))
        withoff = withpid.withColumn("_off",
                                     F.element_at(off_map, F.col("_pid")))
    else:
        off_df = spark.createDataFrame(
            list(offsets.items()), "_pid int, _off long")
        withoff = withpid.join(F.broadcast(off_df), "_pid")
    return (withoff.withColumn(out_col,
                               (F.sum(value_col).over(w) + F.col("_off"))
                               .cast("bigint"))
            .drop("_pid", "_off"))


def global_ntile(df: DataFrame, n: int, order_by: list[Column | str],
                 out_col: str = "ntile") -> DataFrame:
    """Equal-frequency bucketing with EXACT ``ntile(n)`` semantics
    (bucket sizes differ by at most one; the first ``N mod n`` buckets
    take the extra row), derived arithmetically from the scalable
    global rank — same results as the single-reducer ntile window,
    without the single reducer. The row count needed for the bucket
    arithmetic is the sum of the per-partition counts the rank already
    collected, so no extra job runs."""
    if n <= 0:
        raise ValueError(f"n must be positive, got {n}")
    ranked, n_rows = _ranked_with_total(df, order_by, "_rank")
    base, rem = divmod(n_rows, n)
    cut = rem * (base + 1)
    r = F.col("_rank")
    tile = F.when(r <= cut, F.floor((r - 1) / (base + 1)) + 1) \
        .otherwise(rem + F.floor((r - cut - 1) / max(base, 1)) + 1)
    return (ranked.withColumn(out_col, tile.cast("bigint"))
            .drop("_rank"))


def skyline_2d(df: DataFrame, x_col: str, y_col: str,
               id_col: str) -> DataFrame:
    """2-D skyline / Pareto frontier (E149): the rows not dominated by
    any other — minimize ``x_col``, maximize ``y_col``; among rows with
    identical (x, y) the min ``id_col`` survives (the engine-wide
    election convention).

    The classic distributed-query operator, in the only shape that
    survives 100 TB: the naive form is a quadratic NOT EXISTS dominance
    self-join, but in 2-D a point is on the frontier iff its y STRICTLY
    exceeds the running maximum y over all strictly-preceding points in
    (x asc, y desc, id asc) order — provably equivalent to the
    dominance definition (the oracle face states the O(n²) definition,
    so parity IS the equivalence proof). The running max uses the
    global_rank machinery: range-repartition on the sort keys, pin the
    partitioning, collect one max per partition (P values), combine the
    exclusive cross-partition prefix max with a per-partition exclusive
    window max — two parallel shuffles, never a single-reducer window.
    """
    spark = df.sparkSession
    cols = [F.col(x_col).asc(), F.col(y_col).desc(), F.col(id_col).asc()]
    ranged = _range_pinned(df, cols)
    maxes = {r.pid: r.m for r in
             (ranged.groupBy(F.spark_partition_id().alias("pid"))
              .agg(F.max(y_col).alias("m")).collect())}
    offsets, acc = {}, None
    for pid in sorted(maxes):  # pid order IS range order
        offsets[pid] = acc     # exclusive: max of all PRIOR partitions
        if maxes[pid] is not None:
            acc = maxes[pid] if acc is None else max(acc, maxes[pid])
    withpid = ranged.withColumn("_pid", F.spark_partition_id())
    if len(offsets) <= 256:
        off_map = F.create_map(*chain.from_iterable(
            (F.lit(pid), F.lit(off)) for pid, off in offsets.items()))
        withoff = withpid.withColumn("_off",
                                     F.element_at(off_map, F.col("_pid")))
    else:
        # the offset column must keep y's NATIVE type: a hardcoded
        # double would lose precision for int64 y above 2^53, which can
        # flip the strict y > prefix-max comparison (and disagree with
        # the <=256-partition map path, which stays native)
        from pyspark.sql.types import IntegerType, StructField, StructType
        off_schema = StructType([
            StructField("_pid", IntegerType()),
            StructField("_off", ranged.schema[y_col].dataType)])
        off_df = spark.createDataFrame(
            [(p, o) for p, o in offsets.items()], off_schema)
        withoff = withpid.join(F.broadcast(off_df), "_pid")
    w = (Window.partitionBy("_pid").orderBy(*cols)
         .rowsBetween(Window.unboundedPreceding, -1))
    # greatest() skips nulls, so an empty prefix (first row of the
    # first partition) yields null -> kept unconditionally
    return (withoff
            .withColumn("_pm", F.greatest(F.max(F.col(y_col)).over(w),
                                          F.col("_off")))
            .where(F.col("_pm").isNull() | (F.col(y_col) > F.col("_pm")))
            .drop("_pid", "_off", "_pm"))


def preference_pairs(cands: DataFrame, prompt_col: str, id_col: str,
                     score_col: str, min_margin: int = 1) -> DataFrame:
    """Preference-pair mining for RLHF/DPO data prep (E186) →
    ``(prompt, chosen_id, rejected_id, chosen_score, rejected_score,
    margin)``.

    The alignment-data stage after response scoring: per prompt, pair
    the best-scored response against the worst as (chosen, rejected),
    keeping only pairs whose score margin clears ``min_margin`` —
    near-tie pairs teach a preference model noise, so the margin gate
    is the standard filter. Both extremes come from ONE hash aggregate
    (``max_by`` / ``min_by`` over the same total ordering struct) —
    map-side partial combine means a prompt with a million sampled
    responses never funnels one reducer, and the corpus is scanned,
    scored, and shuffled exactly once. The ordering is made total
    with the id as tiebreaker (best: score desc/id asc, worst: score
    asc/id desc — encoded as ``(score, −id)``, so ``id_col`` must be
    integral or decimal — exact types only, because a fractional or
    >2^53 float id would make both the negated tiebreaker and the
    chosen ≠ rejected guard unreliable; a single-response prompt picks
    the SAME row for both sides and is dropped by the chosen ≠
    rejected guard, not by an arbitrary tie flip). ``score_col``
    should be integral so margins are exact.
    """
    # the negated tiebreaker requires an EXACT numeric id: a string id
    # would implicitly cast to NULL under unary minus and break ties
    # ARBITRARILY per run, and a float/double id can be fractional or
    # lose integer precision above 2^53 (ties then compare unreliably
    # and id != id misfires) — fail loudly on both
    id_type = dict(cands.dtypes).get(id_col, "")
    if not (id_type in ("tinyint", "smallint", "int", "bigint")
            or id_type.startswith("decimal")):
        raise ValueError(
            f"preference_pairs needs an integral or decimal id_col for "
            f"the desc tiebreaker (exact equality + exact negation); "
            f"{id_col!r} is {id_type!r}")
    ordv = F.struct(F.col(score_col), (-F.col(id_col)).alias("_negid"))
    agg = cands.groupBy(prompt_col).agg(
        F.max_by(F.struct(F.col(id_col).alias("chosen_id"),
                          F.col(score_col).alias("chosen_score")),
                 ordv).alias("_b"),
        F.min_by(F.struct(F.col(id_col).alias("rejected_id"),
                          F.col(score_col).alias("rejected_score")),
                 ordv).alias("_w"))
    return (agg.select(prompt_col, "_b.*", "_w.*")
            .withColumn("margin", (F.col("chosen_score")
                                   - F.col("rejected_score")).cast("int"))
            .where((F.col("chosen_id") != F.col("rejected_id"))
                   & (F.col("margin") >= min_margin))
            .select(prompt_col, "chosen_id", "rejected_id",
                    "chosen_score", "rejected_score", "margin"))
