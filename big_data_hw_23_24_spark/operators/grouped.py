"""Grouped custom aggregation (UDAF extension point, SURVEY §2.9).

When an aggregate has no built-in Column expression (interpolated
percentiles, per-group model fits, ...), the Spark-first shape is
``groupBy(...).applyInPandas(kernel, schema)``: one shuffle on the
group keys, then an Arrow-batched pandas kernel per group — a single
FlatMapGroupsInPandas node, no driver-side collect. The kernel below
(interpolated percentile) mirrors ANSI ``percentile_cont``, which is
also its DuckDB oracle.

Scale note: each group must fit in one executor's memory (the whole
group is materialized as a pandas DataFrame). Fine for dimension-keyed
groups (nations, brands); for ultra-high-cardinality values per key,
prefer ``percentile_approx`` or a two-pass exact algorithm.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PERCENTILES = (0.5, 0.9, 0.99)  # probed by percentile_drift
SKETCH_ACCURACY = 100  # approx_percentile accuracy of the sketch side
ROBUST_LO_PCT, ROBUST_HI_PCT = 5, 95  # robust_stats' tail fences
RFM_TILES = 5  # rfm_segments' buckets per axis


def grouped_percentile(df: DataFrame, keys: list[str], value_col: str,
                       p: float = 0.5, out_col: str = "pctl") -> DataFrame:
    """Exact interpolated percentile of ``value_col`` per group.

    Semantics match ``percentile_cont(p) WITHIN GROUP (ORDER BY v)``:
    linear interpolation between the two adjacent order statistics
    (pandas ``quantile(..., interpolation="linear")``). Returns one row
    per group: (*keys, out_col, n).
    """
    key_fields = ", ".join(
        f"{k} {df.schema[k].dataType.simpleString()}" for k in keys)
    schema = f"{key_fields}, {out_col} double, n long"

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        vals = pdf[value_col].dropna()
        row = {k: [pdf[k].iloc[0]] for k in keys}
        row[out_col] = [float(vals.quantile(p, interpolation="linear"))
                        if len(vals) else None]
        row["n"] = [len(vals)]
        return pd.DataFrame(row)

    return df.groupBy(*keys).applyInPandas(kernel, schema)


def grouped_topk(df: DataFrame, group_cols: list[str],
                 order_by: list, k: int,
                 rank_col: str = "rank") -> DataFrame:
    """Exact top-``k`` per group WITHOUT a per-group reducer funnel.

    The naive ``row_number() OVER (PARTITION BY g ORDER BY ...)``
    routes EVERY row of a group through one reducer — for a skewed or
    giant group that task is the job. This runs the exact two-stage
    shape instead: stage 1 ranks within ``(physical partition, group)``
    and keeps k (P×G small reducers, each seeing only its slice);
    stage 2 ranks the ≤ k·P survivors per group. A group's global
    top-k is always a subset of its per-partition top-ks, so the
    result is exact.

    ``order_by`` must totally order rows (append a unique tiebreaker)
    or the returned ``rank_col`` is nondeterministic within ties.
    Extracted from (and now backing) ``selection.stratified_sample``
    and ``retrieval.bm25_search_many``.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    local = Window.partitionBy(F.spark_partition_id(),
                               *group_cols).orderBy(*order_by)
    survivors = (df.withColumn("_gtk_r", F.row_number().over(local))
                 .where(F.col("_gtk_r") <= k).drop("_gtk_r"))
    final = Window.partitionBy(*group_cols).orderBy(*order_by)
    return (survivors.withColumn(rank_col, F.row_number().over(final))
            .where(F.col(rank_col) <= k))


def ks_distance_matrix(df: DataFrame, value_col: str,
                       group_col: str = "source") -> DataFrame:
    """Pairwise two-sample Kolmogorov–Smirnov distance between the
    per-group empirical distributions of ``value_col`` →
    ``(grp_a, grp_b, n_a, n_b, ks)`` for ``grp_a < grp_b``.

    The drift / slice-independence test over a numeric property
    (document length, quality score, perplexity): KS = max vertical
    gap between the two empirical CDFs. Two sources with
    near-identical length distributions (low KS) were probably carved
    from the same crawl; a new snapshot whose KS against the previous
    one jumps is a pipeline regression. Complements
    ``source_overlap_matrix`` (content overlap) with a
    DISTRIBUTIONAL comparison.

    Scale shape: everything is bounded by ``distinct values ×
    groups``, never row count — one (group, value) count aggregate,
    a broadcast of the distinct-value grid to densify each group's
    step function, one cumulative window PARTITIONED BY group over
    the grid, then a value-keyed pair join whose fanout per grid
    point is groups². CDFs are exact integer ratios (count/n), so
    both engines compute identical doubles and the max gap carries
    no float-ulp hazard.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    vc = (df.where(F.col(value_col).isNotNull())
          .groupBy(F.col(group_col).alias("grp"),
                   F.col(value_col).alias("x"))
          .agg(F.count("*").alias("c")))
    grid = vc.select("x").distinct()
    sizes = vc.groupBy("grp").agg(F.sum("c").alias("n"))
    dense = (sizes.crossJoin(F.broadcast(grid))
             .join(vc, ["grp", "x"], "left")
             .select("grp", "x", "n",
                     F.coalesce("c", F.lit(0)).alias("c")))
    w = (Window.partitionBy("grp").orderBy("x")
         .rowsBetween(Window.unboundedPreceding, 0))
    cdf = dense.select("grp", "x", "n",
                       (F.sum("c").over(w) / F.col("n")).alias("cdf"))
    a = cdf.select(F.col("grp").alias("grp_a"), "x",
                   F.col("n").alias("n_a"), F.col("cdf").alias("cdf_a"))
    b = cdf.select(F.col("grp").alias("grp_b"), "x",
                   F.col("n").alias("n_b"), F.col("cdf").alias("cdf_b"))
    return (a.join(b, "x").where(F.col("grp_a") < F.col("grp_b"))
            .groupBy("grp_a", "grp_b")
            .agg(F.max("n_a").cast("long").alias("n_a"),
                 F.max("n_b").cast("long").alias("n_b"),
                 F.round(F.max(F.abs(F.col("cdf_a") - F.col("cdf_b"))),
                         6).alias("ks")))


def robust_stats(df: DataFrame, value_col: str) -> DataFrame:
    """Outlier-robust per-source location stats -> (source, n, p_lo,
    p_hi, trimmed_mean, winsor_mean, plain_mean).

    A handful of 100 MB pathological documents drags a source's mean
    length (or quality score) arbitrarily far -- robust curation
    thresholds come from the TRIMMED view. Percentiles are EXACT
    rank-order statistics (the value at rank ``ceil(p*n/100)``,
    clamped to >= 1), not interpolated ``percentile_cont`` --
    interpolation arithmetic differs subtly across engines, while
    "the k-th smallest value" is pure integer logic any engine
    reproduces bit-identically:

    * ``trimmed_mean`` -- mean over rows with lo < rank <= hi cut
      (strictly inside the tails);
    * ``winsor_mean`` -- mean after CLAMPING values to [p_lo, p_hi]
      (tails kept, pulled to the fence), the Winsorized estimator.

    Scale shape: per-group ranks come from ONE range-partitioned
    global rank on (group, value, id) via the ranking.py two-pass
    spine -- a ``Window.partitionBy(group)`` would funnel a 10 TB
    stratum through one reducer (the ``lm_quality_buckets`` lesson);
    the per-group offset/size and the two fence values are
    #groups-row aggregates broadcast back. Rank ties break by
    ``doc_id`` (total order required by the spine); which equal value
    sits at the fence rank is irrelevant to both estimators. NULL
    groups ride a coalesced shadow key so the broadcast equi-joins
    cannot drop them (the temperature_resample lesson).
    """
    from pyspark.sql import functions as F

    from .ranking import global_rank

    base = (df.where(F.col(value_col).isNotNull())
            .select(F.coalesce(F.col("source").cast("string"),
                               F.lit("\u0000<null>")).alias("_gkey"),
                    F.col("source").alias("grp"),
                    F.col(value_col).cast("double").alias("v"),
                    F.col("doc_id").alias("_id")))
    ranked = global_rank(base, [F.col("_gkey"), F.col("v"), F.col("_id")],
                         rank_col="_grank")
    sizes = (ranked.groupBy("_gkey")
             .agg(F.min("_grank").alias("_gmin"),
                  F.count("*").alias("_n")))
    r = F.col("_grank") - F.col("_gmin") + 1
    lo_r = F.greatest(F.ceil(F.col("_n") * ROBUST_LO_PCT / 100), F.lit(1))
    hi_r = F.greatest(F.ceil(F.col("_n") * ROBUST_HI_PCT / 100), F.lit(1))
    marked = (ranked.join(F.broadcast(sizes), "_gkey")
              .withColumn("_r", r)
              .withColumn("_lo_r", lo_r)
              .withColumn("_hi_r", hi_r))
    fences = (marked.groupBy("_gkey")
              .agg(F.max(F.when(F.col("_r") == F.col("_lo_r"),
                                F.col("v"))).alias("p_lo"),
                   F.max(F.when(F.col("_r") == F.col("_hi_r"),
                                F.col("v"))).alias("p_hi")))
    return (marked.join(F.broadcast(fences), "_gkey")
            .groupBy(F.col("grp").alias("source"))
            .agg(F.count("*").cast("long").alias("n"),
                 F.max("p_lo").alias("p_lo"),
                 F.max("p_hi").alias("p_hi"),
                 F.round(F.avg(F.when(
                     (F.col("_r") > F.col("_lo_r"))
                     & (F.col("_r") <= F.col("_hi_r")), F.col("v"))), 6)
                 .alias("trimmed_mean"),
                 F.round(F.avg(F.greatest(F.least(F.col("v"),
                                                  F.col("p_hi")),
                                          F.col("p_lo"))), 6)
                 .alias("winsor_mean"),
                 F.round(F.avg("v"), 6).alias("plain_mean")))


def rfm_segments(events: DataFrame) -> DataFrame:
    """RFM segmentation → ``(user_id, frequency, monetary_cents,
    r_bucket, f_bucket, m_bucket, segment)``: the classic
    recency/frequency/monetary quantile grid (bucket ``RFM_TILES`` =
    best on every axis; ``segment`` is the concatenated grid cell,
    '555' = champions, '111' = lost).

    Scale shape: events reduce to one row per user in a single
    map-side-combinable aggregate, then each axis is bucketed with the
    range-partitioned exact-ntile spine (``ranking.global_ntile``) —
    never a single-reducer NTILE window over all users. Monetary sums
    integer CENTS (per-row floor(value·100)) so the sort key is exact
    and order-independent — a float sum's last ulp could flip a
    bucket boundary between engines. Ties on every axis break on the
    user id.
    """
    from pyspark.sql import functions as F

    from .ranking import global_ntile

    per = (events.groupBy("user_id")
           .agg(F.max("ts").alias("_rts"),
                F.count("*").cast("long").alias("frequency"),
                F.sum(F.floor(F.col("value") * 100)).cast("long")
                .alias("monetary_cents")))
    b = global_ntile(per, RFM_TILES, [F.col("_rts"), F.col("user_id")],
                     out_col="r_bucket")
    b = global_ntile(b, RFM_TILES, [F.col("frequency"), F.col("user_id")],
                     out_col="f_bucket")
    b = global_ntile(b, RFM_TILES,
                     [F.col("monetary_cents"), F.col("user_id")],
                     out_col="m_bucket")
    return b.select(
        "user_id", "frequency", "monetary_cents",
        "r_bucket", "f_bucket", "m_bucket",
        F.concat(F.col("r_bucket").cast("string"),
                 F.col("f_bucket").cast("string"),
                 F.col("m_bucket").cast("string")).alias("segment"))


def percentile_drift(df: DataFrame, group_col: str,
                     value_col: str) -> DataFrame:
    """Approximate-vs-exact percentile drift audit (E145) → per
    (group, p): ``n, exact_interp, approx_value, target_rank,
    rank_displacement, sketch_within_bound``.

    The rollout gate for ``approx_percentile`` (E14), built the way
    E140 gates approximate dedup: run the sketch AND the exact spine,
    then measure the sketch against the exact ranks.

    * ``approx_value`` / ``rank_displacement`` use the HIGH-accuracy
      sketch (accuracy 1,000,000). While every group holds fewer than
      that many values the GK summary never compresses and
      ``approx_percentile`` is exact rank selection: the smallest v
      with count(<=v) >= ceil(p*n) — i.e. the sorted element at
      1-based rank ceil(p*n) (convention verified against the sorted
      array, ties included, before the oracle was written). That makes
      the sketch output fully value-checkable at test SF, and
      ``rank_displacement`` — how far the returned value's rank
      interval [count(<v)+1, count(<=v)] sits from the target rank —
      is structurally 0. Past n = 1,000,000 per group this face's
      value oracle no longer applies (the gate contract, like
      dedup_eval_minhash's exact side).
    * ``sketch_within_bound`` audits the COMPRESSING sketch
      (``SKETCH_ACCURACY``, the 100 TB configuration): GK guarantees
      rank error <= n/accuracy deterministically under any merge
      order, so the boolean is a theorem — oracle TRUE — while the
      sketch's value stays engine-private. A Spark regression that
      broke the GK bound flips it and breaks the hash.

    Scale shape: one grouped aggregate over the corpus (all three
    percentile families partial-aggregate map-side), then one
    broadcast of the groups x |PERCENTILES| probe table back over the corpus to
    count ranks — two bounded-output passes, no corpus-scale shuffle
    and no per-group sort buffer outside the (bounded-cardinality)
    exact-percentile aggregate.
    """
    ps_sql = "array(" + ",".join(f"{p!r}D" for p in PERCENTILES) + ")"
    agg = df.groupBy(group_col).agg(
        F.count("*").cast("long").alias("n"),
        F.expr(f"percentile({value_col}, {ps_sql})").alias("_ex"),
        F.expr(f"approx_percentile({value_col}, {ps_sql}, "
               "1000000)").alias("_hi"),
        F.expr(f"approx_percentile({value_col}, {ps_sql}, "
               f"{SKETCH_ACCURACY})").alias("_lo"))
    probe = agg.select(
        group_col, "n",
        F.explode(F.arrays_zip(
            F.array(*[F.lit(float(p)) for p in PERCENTILES]).alias("p"),
            F.col("_ex").alias("ex"), F.col("_hi").alias("hi"),
            F.col("_lo").alias("lo"))).alias("z")
    ).select(group_col, "n", F.col("z.p").alias("p"),
             F.col("z.ex").alias("_exact"), F.col("z.hi").alias("_hi"),
             F.col("z.lo").alias("_lo"))
    ev = df.select(group_col, F.col(value_col).alias("_v"))
    counted = (ev.join(F.broadcast(probe), group_col)
               .groupBy(group_col, "p", "n", "_exact", "_hi", "_lo")
               .agg(F.count_if(F.col("_v") < F.col("_hi")).alias("_lt_hi"),
                    F.count_if(F.col("_v") <= F.col("_hi")).alias("_le_hi"),
                    F.count_if(F.col("_v") < F.col("_lo")).alias("_lt_lo"),
                    F.count_if(F.col("_v") <= F.col("_lo")).alias("_le_lo")))
    k = F.ceil(F.col("p") * F.col("n")).cast("long")
    disp_hi = F.greatest(F.col("_lt_hi") + 1 - k, k - F.col("_le_hi"),
                         F.lit(0)).cast("long")
    disp_lo = F.greatest(F.col("_lt_lo") + 1 - k, k - F.col("_le_lo"),
                         F.lit(0)).cast("long")
    bound = (F.floor(F.col("n") / F.lit(SKETCH_ACCURACY)) + 1).cast("long")
    return counted.select(
        group_col, "p", "n",
        F.round("_exact", 6).alias("exact_interp"),
        F.col("_hi").alias("approx_value"),
        k.alias("target_rank"),
        disp_hi.alias("rank_displacement"),
        (disp_lo <= bound).alias("sketch_within_bound"))


def psi_report(base: DataFrame, cur: DataFrame, value_col: str,
               id_col: str, bins: int = 10) -> DataFrame:
    """Population Stability Index drift report (E151) → one row per
    bin: ``(bin, n_base, n_cur, psi_contrib)``.

    The production drift metric beside the KS faces: bin edges are the
    BASELINE's exact ``bins``-tiles (the standard convention — the
    reference period defines the grid, the current period is scored
    against it), both datasets are then assigned by the SAME edges
    (ties at an edge go to the lower bin: bin = 1 + #edges strictly
    below the value), and psi_contrib = (p − q)·ln(p/q) on add-half
    smoothed proportions p = (n+0.5)/(N+0.5·bins) so empty bins cannot
    produce ±inf. Total PSI = Σ contrib (>0.25 is the usual
    "investigate" threshold).

    Scale shape: edges come from the range-partitioned global-ntile
    spine (never a single-reducer window), collapse to a bins−1-element
    broadcast array, and each side's assignment is a narrow map + one
    hash aggregate — two scans, no corpus-scale shuffle beyond the
    spine.
    """
    from .ranking import global_ntile

    nt = global_ntile(base.select(F.col(id_col), F.col(value_col)),
                      bins, [F.col(value_col), F.col(id_col)],
                      out_col="_nt")
    edges = (nt.where(F.col("_nt") <= bins - 1)
             .groupBy("_nt").agg(F.max(value_col).alias("_e"))
             .groupBy()
             .agg(F.sort_array(F.collect_list("_e")).alias("_es")))

    def binned(df: DataFrame, out: str) -> DataFrame:
        b = (F.lit(1) + F.size(F.filter(
            F.col("_es"), lambda e: e < F.col(value_col)))).alias("bin")
        return (df.crossJoin(F.broadcast(edges))
                .select(b)
                .groupBy("bin")
                .agg(F.count("*").cast("long").alias(out)))

    nb = binned(base, "n_base")
    nc = binned(cur, "n_cur")
    grid = base.sparkSession.range(1, bins + 1).select(
        F.col("id").cast("int").alias("bin"))
    j = (grid.join(nb, "bin", "left").join(nc, "bin", "left")
         .select("bin",
                 F.coalesce("n_base", F.lit(0)).alias("n_base"),
                 F.coalesce("n_cur", F.lit(0)).alias("n_cur")))
    tb = j.groupBy().agg(F.sum("n_base").alias("_tb"),
                         F.sum("n_cur").alias("_tc"))
    p = (F.col("n_base") + 0.5) / (F.col("_tb") + 0.5 * bins)
    q = (F.col("n_cur") + 0.5) / (F.col("_tc") + 0.5 * bins)
    return (j.crossJoin(F.broadcast(tb))
            .select("bin", "n_base", "n_cur",
                    F.round((p - q) * F.log(p / q), 6)
                    .alias("psi_contrib"))
            .orderBy("bin"))


# Benford first-digit expectations log10(1 + 1/d), rounded to 6 — the
# SAME literals ride the Spark plan and every oracle SQL string, so an
# engine's log10 ulp can never flip a 6-decimal rounding.
BENFORD_P = {d: round(__import__("math").log10(1 + 1 / d), 6)
             for d in range(1, 10)}


def benford_report(df: DataFrame, value_col: str) -> DataFrame:
    """Benford's-law first-digit audit (E160) → one row per digit 1-9:
    ``(digit, n_obs, p_obs, p_benford, chi2_contrib)``.

    The fraud/data-quality screen: naturally-grown magnitude data
    (transactions, populations, file sizes) follows P(d) = log10(1+1/d)
    for the FIRST significant digit; synthetic, capped, or uniform
    data does not — the deviation IS the report (TPC-H totalprice is
    range-uniform, so this face shows a strong, stable deviation; on a
    fraud screen you'd alert on it).

    Determinism: the first digit comes from the INTEGER CENTS rendered
    as a string (``substr(cast(floor(v·100) as string), 1, 1)``) —
    never from floor(log10(double)), whose 1-ulp engine differences
    could flip the digit at exact powers of ten. Values below one
    cent are excluded along with non-positives (``floor(v·100) ≥ 1``):
    a value in (0, 0.01) has no first significant digit at cents
    resolution, and letting it through would emit a digit-0 row with
    null expectations, breaking the one-row-per-digit-1-9 schema.
    Expected proportions are shared literals (``BENFORD_P``). One
    narrow map + one 9-group hash aggregate + a 1-row count broadcast;
    zero corpus-scale shuffles beyond the aggregate.
    """
    cents = F.floor(F.col(value_col) * 100).cast("long")
    digit = F.substring(cents.cast("string"), 1, 1).cast("int")
    per = (df.where(cents >= 1)
           .select(digit.alias("digit"))
           .groupBy("digit").agg(F.count("*").cast("long").alias("n_obs")))
    tot = per.agg(F.sum("n_obs").alias("_n"))
    pb = F.element_at(
        F.create_map(*[F.lit(x) for kv in BENFORD_P.items() for x in kv]),
        F.col("digit"))
    exp = F.col("_n") * pb
    return (per.crossJoin(F.broadcast(tot))
            .select("digit", "n_obs",
                    F.round(F.col("n_obs") / F.col("_n"), 6).alias("p_obs"),
                    F.round(pb, 6).alias("p_benford"),
                    F.round((F.col("n_obs") - exp) * (F.col("n_obs") - exp)
                            / exp, 6).alias("chi2_contrib")))


def grouped_trend(df: DataFrame, group_col: str, x_col: str,
                  y_col: str) -> DataFrame:
    """Per-group ordinary-least-squares trend (E168) → ``(group, n,
    slope, intercept, r2)`` from the closed-form sufficient statistics:

        slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)
        intercept = (Σy − slope·Σx) / n
        r² = (n·Σxy − Σx·Σy)² / ((n·Σx² − (Σx)²)(n·Σy² − (Σy)²))

    THE scalable regression shape: five sums in one hash aggregate
    (map-side partial), no iteration, no driver round — the way every
    MPP engine implements ``regr_slope``. Groups with a degenerate x
    (all equal, denominator 0) report null slope/intercept/r²;
    constant-y groups report r² = null (0/0 by the formula — the
    engines' regr_r2 convention). The registry face's oracle uses
    DuckDB's BUILT-IN ``regr_slope/regr_intercept/regr_r2`` — a
    genuinely different implementation — so the parity row proves the
    closed form against an independent one.

    Results are rounded to 6 after the final division; the sufficient
    statistics are exact when x and y are integers (the face feeds
    integer day indexes and counts), so the only float ops are the
    two divisions both engines do in IEEE doubles.
    """
    x, y = F.col(x_col).cast("double"), F.col(y_col).cast("double")
    agg = df.groupBy(F.col(group_col).alias("grp")).agg(
        F.count("*").cast("long").alias("n"),
        F.sum(x).alias("_sx"), F.sum(y).alias("_sy"),
        F.sum(x * x).alias("_sxx"), F.sum(y * y).alias("_syy"),
        F.sum(x * y).alias("_sxy"))
    n = F.col("n").cast("double")
    cov_n = n * F.col("_sxy") - F.col("_sx") * F.col("_sy")
    var_x = n * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    var_y = n * F.col("_syy") - F.col("_sy") * F.col("_sy")
    slope = F.when(var_x != 0, cov_n / var_x)
    intercept = F.when(var_x != 0,
                       (F.col("_sy") - (cov_n / var_x) * F.col("_sx")) / n)
    r2 = F.when((var_x != 0) & (var_y != 0),
                (cov_n * cov_n) / (var_x * var_y))
    return agg.select(F.col("grp").alias(group_col), "n",
                      F.round(slope, 6).alias("slope"),
                      F.round(intercept, 6).alias("intercept"),
                      F.round(r2, 6).alias("r2"))


def grouped_weighted_median(df: DataFrame, group_col: str,
                            value_col: str, weight_col: str) -> DataFrame:
    """Per-group weighted median (E169) → ``(group, total_weight,
    weighted_median)``: the smallest value v such that the summed
    weight of rows with value ≤ v reaches half the group's total.

    The curation statistic plain medians get wrong: "the document
    length below which half the TOKENS live" weights each document by
    its size — a handful of giant documents move it where the
    doc-count median never budges (compute-budget planning reads this
    number, not the row median). Plan: weights collapse per (group,
    value) first — one hash aggregate, so the window below runs over
    DISTINCT values per group, not rows — then a per-group cumulative
    sum picks the threshold value. Integer weights make the half
    comparison exact (2·cum ≥ total in integers, no float ordering
    hazard).
    """
    from pyspark.sql import Window as W

    per = (df.groupBy(F.col(group_col).alias("grp"),
                      F.col(value_col).alias("v"))
           .agg(F.sum(weight_col).cast("long").alias("_w")))
    tot = per.groupBy("grp").agg(F.sum("_w").alias("_tot"))
    w = (W.partitionBy("grp").orderBy("v")
         .rowsBetween(W.unboundedPreceding, W.currentRow))
    cum = (per.join(tot, "grp")
           .withColumn("_cum", F.sum("_w").over(w))
           .where(F.col("_cum") * 2 >= F.col("_tot")))
    first = (cum.groupBy("grp")
             .agg(F.min("v").alias("weighted_median"),
                  F.first("_tot").alias("_tot")))
    return first.select(F.col("grp").alias(group_col),
                        F.col("_tot").cast("long").alias("total_weight"),
                        "weighted_median")


def cohens_kappa(cells: DataFrame, label_col: str, pred_col: str,
                 n_col: str) -> DataFrame:
    """Cohen's kappa from a confusion-matrix table (E176) → one row
    ``(n_obs, n_agree, po, pe, kappa)``.

    The chance-corrected agreement statistic every labeling/detector
    QA wants next to raw accuracy: po = observed agreement, pe =
    expected agreement from the marginals (Σ_l p_a(l)·p_b(l)),
    kappa = (po − pe) / (1 − pe). Input is the already-aggregated
    (label, predicted, count) grid — label-grid-sized, so everything
    here is arithmetic over bounded rows; the corpus-scale work is
    whatever built the matrix (one hash aggregate).

    Exactness: counts and the marginal product sum stay BIGINT (the
    product sum is ≤ n², exact to n ≈ 3·10⁹ observations; past that,
    pre-scale the marginals), divisions run in doubles in the same
    operation order both engines, outputs rounded 6. A degenerate
    grid (pe = 1: both sides constant) reports null kappa (0/0).
    """
    lbl, prd, n = F.col(label_col), F.col(pred_col), F.col(n_col)
    # the grid is bounded but feeds FOUR consumers (totals, both
    # marginals, and whatever built it may be a full corpus scan) —
    # materialize once
    cells = cells.localCheckpoint(eager=True)
    t = cells.agg(
        F.sum(n).cast("long").alias("n_obs"),
        F.sum(F.when(lbl == prd, n).otherwise(0)).cast("long")
        .alias("n_agree"))
    ca = cells.groupBy(lbl.alias("_l")).agg(
        F.sum(n).cast("long").alias("_ca"))
    cb = cells.groupBy(prd.alias("_l")).agg(
        F.sum(n).cast("long").alias("_cb"))
    sp = (ca.join(cb, "_l")
          .agg(F.sum(F.col("_ca") * F.col("_cb")).cast("long")
               .alias("_sp")))
    po = F.col("n_agree") / F.col("n_obs")
    pe = F.col("_sp") / (F.col("n_obs").cast("double") * F.col("n_obs"))
    # the 0/0 degenerate (pe = 1) must yield NULL, not an ANSI
    # divide-by-zero raise
    kappa = F.when(pe != 1.0,
                   F.round((po - pe) / (F.lit(1.0) - pe), 6))
    return (t.crossJoin(sp)
            .select("n_obs", "n_agree",
                    F.round(po, 6).alias("po"),
                    F.round(pe, 6).alias("pe"),
                    kappa.alias("kappa")))


def ab_uplift_report(df: DataFrame, arm_col: str, value_col: str) -> DataFrame:
    """Two-sample A/B uplift report (E179) → one row ``(n_a, n_b,
    mean_a, mean_b, uplift, z_score)``.

    The experiment-readout primitive: per-unit metric values (ALREADY
    aggregated to the randomization unit — users, not events; mixing
    units inflates significance) compared across two arms with the
    Welch z statistic ``(mean_a − mean_b) / sqrt(s²_a/n_a +
    s²_b/n_b)``. Everything reduces in ONE conditional-sum aggregate
    pass (n, Σx, Σx² per arm — map-side combinable): variance comes
    from the closed form ``(Σx² − (Σx)²/n)/(n − 1)``, exact while the
    sums are integral (keep ``value_col`` integer cents; Σx² is exact
    BIGINT to ~3·10⁹ unit-cents² mass — pre-scale past that).
    Degenerate denominators (either arm < 2 units, or both variances
    zero) report null z rather than raising under ANSI division.
    """
    x = F.col(value_col)

    def arm(tag: str, val: str):
        cond = F.col(arm_col) == val
        return [F.sum(F.when(cond, 1).otherwise(0)).cast("long")
                .alias(f"n_{tag}"),
                F.sum(F.when(cond, x).otherwise(0)).cast("long")
                .alias(f"_sx_{tag}"),
                F.sum(F.when(cond, x * x).otherwise(0)).cast("long")
                .alias(f"_sxx_{tag}")]

    agg = df.agg(*arm("a", "a"), *arm("b", "b"))
    # an empty arm must report null means (0/0 would NaN), matching
    # the null-on-degenerate convention of z_score
    mean = {t: F.when(F.col(f"n_{t}") > 0,
                      F.col(f"_sx_{t}") / F.col(f"n_{t}"))
            for t in "ab"}
    var = {t: (F.col(f"_sxx_{t}")
               - (F.col(f"_sx_{t}").cast("double") * F.col(f"_sx_{t}"))
               / F.col(f"n_{t}"))
           / (F.col(f"n_{t}") - 1) for t in "ab"}
    se2 = var["a"] / F.col("n_a") + var["b"] / F.col("n_b")
    ok = (F.col("n_a") >= 2) & (F.col("n_b") >= 2)
    z = F.when(ok & (se2 > 0),
               F.round((mean["a"] - mean["b"]) / F.sqrt(se2), 6))
    return agg.select(
        "n_a", "n_b",
        F.round(mean["a"], 6).alias("mean_a"),
        F.round(mean["b"], 6).alias("mean_b"),
        F.round(mean["a"] - mean["b"], 6).alias("uplift"),
        z.alias("z_score"))


# Poisson(1) CDF to 6 decimals, cumulative from k = 0. A module
# constant so the Spark plan and every oracle SQL string invert the
# SAME distribution: replicate weight w = #{thresholds <= u}, capping
# the per-unit multiplicity at 8 (P[w > 8 | lambda=1] ~ 1e-6).
POISSON1_CDF = (0.367879, 0.735759, 0.919699, 0.981012,
                0.996340, 0.999406, 0.999917, 0.999990)

# 2**32 as a double — the md5-prefix-to-uniform divisor shared with
# the oracle strings (8 hex digits = 32 bits).
U32_DIVISOR = 4294967296.0


def bootstrap_ci(units: DataFrame, group_cols: list[str],
                 unit_col: str, value_col: str,
                 n_replicates: int = 41,
                 alpha: float = 0.05) -> DataFrame:
    """Poisson-bootstrap grouped confidence interval (E183) → one row
    per group: ``(group…, n_units, mean_val, ci_lo, ci_hi)``.

    The bootstrap the way it scales: classical resampling draws n
    units WITH replacement per replicate — a shuffle of the whole
    input per replicate, unrunnable at corpus size. The Poisson
    bootstrap (Chamandy et al., "Estimating Uncertainty for Massive
    Data Streams", Google 2012; Kleiner et al.'s BLB is the related
    bag-of-little-bootstraps) replaces the multinomial with
    independent per-unit Poisson(1) multiplicities, so every
    replicate is ONE weighted pass over the units — all R replicates
    compute in a single narrow explode + one hash aggregate, no
    resample shuffle ever.

    Determinism engineering (both engines must draw the SAME
    replicates): the uniform is the first 8 md5 hex digits of
    ``group…:unit_id:replicate`` over 2³², and the Poisson inverse
    CDF is a threshold count against the shared 6-decimal
    ``POISSON1_CDF`` literals — no engine RNG anywhere. The group is
    part of the seed so a unit appearing in several groups draws
    INDEPENDENT multiplicities per group — each group's CI is an
    independent bootstrap readout (drop the group from the seed only
    if you want paired replicates for cross-slice ratio consistency,
    the streaming-Poisson-bootstrap convention). The default ``n_replicates=41``
    is chosen so the CI ranks land ON order statistics
    (0.025·(41−1) = 1 exactly): the percentile returns an element,
    not interpolation arithmetic that could differ in the last ulp
    between engines.

    Input contract: ``units`` is already aggregated to the
    randomization unit (one row per (group…, unit)); a NULL unit id
    is coalesced to the same ``\\N`` sentinel as the group components
    (so the seed string is engine-portable even then — though NULL
    unit ids in one group collide into ONE bootstrap unit, which is
    almost never what the caller means), and ``value_col`` is INTEGER
    (cents) — Σw and Σ(w·x) then stay exact BIGINT and
    each replicate mean is one exact integer division. Units, not raw
    rows, ride the ×R explode: at 100 TB the corpus-scale work is the
    one aggregate that built ``units``; the bootstrap costs
    |units|·R ≪ |rows|. A replicate whose weights all land 0 (only
    plausible for tiny groups) reports a null mean and drops out of
    the percentile in both engines.
    """
    gs = list(group_cols)
    x = F.col(value_col)
    # Both the point estimate and the replicate path consume `units`,
    # and Catalyst plans each consumer its own scan — un-materialized,
    # the corpus-scale aggregate that BUILT the units would run twice
    # (the homoglyph/LSH subtree-reuse lesson). The checkpointed frame
    # is unit-scale, slim, and feeds both paths from memory.
    # the unit id gets the SAME '\N' sentinel as the group components:
    # a bare cast would let concat_ws silently skip a NULL unit (real
    # weights drawn) while an oracle's '||' propagates NULL through
    # md5 (weight 0 everywhere) — the engines would draw different
    # replicates (r12 ADVICE finding)
    units = units.select(*gs,
                         F.coalesce(F.col(unit_col).cast("string"),
                                    F.lit("\\N")).alias("_unit"),
                         x.alias("_x")).localCheckpoint(eager=True)
    x = F.col("_x")
    point = units.groupBy(*gs).agg(
        F.count("*").cast("long").alias("n_units"),
        F.round(F.sum(x) * 1.0 / F.count("*"), 6).alias("mean_val"))
    rep = units.withColumn(
        "_r", F.explode(F.sequence(F.lit(0), F.lit(n_replicates - 1))))
    # NULL handling must be explicit: concat_ws silently SKIPS nulls
    # while the oracle's '||' propagates them — a null group value
    # would make the engines draw different weights. Each component is
    # coalesced to a sentinel both engines state. (A ':' inside a
    # group value can collide two groups' seeds — both engines collide
    # identically, so parity holds and only the independence of those
    # two groups' draws degrades.)
    seed_parts = [F.coalesce(F.col(g).cast("string"), F.lit("\\N"))
                  for g in gs]
    u = (F.conv(F.substring(
            F.md5(F.concat_ws(":", *seed_parts, F.col("_unit"),
                              F.col("_r").cast("string"))), 1, 8),
         16, 10).cast("long") / F.lit(U32_DIVISOR))
    w = sum(((u >= F.lit(c)).cast("int") for c in POISSON1_CDF),
            F.lit(0))
    rm = (rep.withColumn("_w", w)
          .groupBy(*gs, "_r")
          .agg(F.sum("_w").cast("long").alias("_sw"),
               F.sum(F.col("_w") * F.col("_x")).cast("long")
               .alias("_swx"))
          .select(*gs,
                  F.when(F.col("_sw") > 0,
                         F.round(F.col("_swx") * 1.0 / F.col("_sw"), 6))
                  .alias("_mr")))
    ci = rm.groupBy(*gs).agg(
        F.round(F.percentile("_mr", F.lit(alpha / 2)), 6).alias("ci_lo"),
        F.round(F.percentile("_mr", F.lit(1 - alpha / 2)), 6)
        .alias("ci_hi"))
    return point.join(ci, gs).select(
        *gs, "n_units", "mean_val", "ci_lo", "ci_hi")


def mann_whitney_u(df: DataFrame, value_col: str, group_col: str,
                   group_a: str, group_b: str) -> DataFrame:
    """Mann-Whitney U rank-sum test between two arms (E192) → ONE row
    ``(n_a, n_b, u_stat, z, effect_r)``.

    The nonparametric sibling of the Welch-z uplift face: "did arm A's
    values stochastically dominate arm B's" without assuming normality
    — the right test when the metric is heavy-tailed (revenue,
    latency), where the mean-based z is driven by its own outliers.
    U_a counts pairwise wins (ties half), computed via average ranks:
    U_a = R_a − n_a(n_a+1)/2; z uses the normal approximation WITH the
    tie correction σ² = n_a·n_b/12 · (N+1 − Σ(t³−t)/(N(N−1))); the
    rank-biserial effect size r = 1 − 2U_a/(n_a·n_b) is the readable
    companion (0 = no dominance, ±1 = total).

    Scale shape: ranks never materialize per row — the corpus-scale
    work is ONE hash aggregate to per-distinct-value arm counts, then
    the cumulative count over the value order runs on the
    range-partitioned cumsum spine (ranking.global_cumsum — never a
    single-reducer window), and one final aggregate folds R_a, the tie
    term and both n's in a single pass. Average ranks are multiples of
    0.5, so the double sums are EXACT (every partial sum below 2^52 is
    representable) — summation order cannot move the result; the final
    z is one identical expression in both engines. No-continuity-
    correction convention, stated so the oracle matches by
    construction.
    """
    from .ranking import global_cumsum

    v = F.col(value_col)
    two = df.where(F.col(group_col).isin(group_a, group_b))
    per = two.groupBy(v.alias("_v")).agg(
        F.sum((F.col(group_col) == group_a).cast("long")).alias("_ca"),
        F.sum((F.col(group_col) == group_b).cast("long")).alias("_cb"))
    per = per.withColumn("_c", F.col("_ca") + F.col("_cb"))
    cum = global_cumsum(per, ["_v"], "_c", out_col="_cum")
    less = F.col("_cum") - F.col("_c")
    avg_rank = less + (F.col("_c") + 1) / 2.0
    agg = cum.agg(
        F.sum("_ca").cast("long").alias("n_a"),
        F.sum("_cb").cast("long").alias("n_b"),
        F.sum(F.col("_ca") * avg_rank).alias("_ra"),
        F.sum(F.col("_c").cast("double") * F.col("_c") * F.col("_c")
              - F.col("_c")).alias("_t"))
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    n = na + nb
    u = F.col("_ra") - na * (na + 1) / 2.0
    var = (na * nb / 12.0 * ((n + 1) - F.col("_t") / (n * (n - 1))))
    # every value tied -> the correction removes ALL variance; z is
    # null by contract (there is no distribution to test against)
    z = F.when(var > 0, F.round((u - na * nb / 2.0) / F.sqrt(var), 6))
    return agg.select(
        "n_a", "n_b",
        F.round(u, 2).alias("u_stat"),
        z.alias("z"),
        F.round(1 - 2 * u / (na * nb), 6).alias("effect_r"))


def gini_concentration(df: DataFrame, group_col: str, value_col: str,
                       id_col: str) -> DataFrame:
    """Gini coefficient of an integral value per group (E193) → one
    row per group: ``(group, n_units, total_value, gini)``.

    The concentration readout behind every "does 1% of X own 90% of
    Y" question — revenue concentration per segment, token share per
    source, traffic share per domain. Gini from the rank form of the
    Lorenz sum: with units ranked 1..n ascending by value within the
    group, G = (2·Σ rᵢvᵢ − (n+1)·Σ vᵢ) / (n·Σ vᵢ); 0 = perfectly
    even, →1 = one unit owns everything. All-zero groups → null by
    contract (no distribution to concentrate).

    Scale shape: the within-group rank is the GLOBAL range-partitioned
    rank on (group, value, id) minus a per-group offset — a #groups-row
    broadcast — so a mega-group never funnels one reducer the way a
    ``Window.partitionBy(group)`` would. ``value_col`` must be
    integral (cents, tokens, bytes): both moment sums accumulate as
    DECIMAL(38,0), exact at any scale and order-independent, and only
    the final G divides in doubles — the same expression in both
    engines, so 6-dp parity is structural.
    """
    from .ranking import global_rank

    ranked = global_rank(
        df.select(F.col(group_col).alias("_g"),
                  F.col(value_col).cast("long").alias("_v"),
                  F.col(id_col).alias("_id")),
        ["_g", "_v", "_id"], rank_col="_r")
    offs = ranked.groupBy("_g").agg(F.min("_r").alias("_off"))
    ri = F.col("_r") - F.col("_off") + 1
    dec = "decimal(38,0)"
    agg = (ranked.join(F.broadcast(offs), "_g")
           .groupBy("_g")
           .agg(F.count("*").cast("long").alias("n_units"),
                F.sum(F.col("_v").cast(dec)).alias("_s0"),
                F.sum((ri * F.col("_v")).cast(dec)).alias("_s1")))
    n = F.col("n_units").cast("double")
    s0 = F.col("_s0").cast("double")
    s1 = F.col("_s1").cast("double")
    return agg.select(
        F.col("_g").alias(group_col), "n_units",
        F.col("_s0").cast("long").alias("total_value"),
        F.when(F.col("_s0") != 0,
               F.round((2 * s1 - (n + 1) * s0) / (n * s0), 6))
        .alias("gini"))


def chisq_independence(df: DataFrame, row_col: str, col_col: str
                       ) -> DataFrame:
    """Chi-square test of independence between two categorical
    columns (E212) → ONE row ``(n, n_rows, n_cols, chi2, dof,
    cramers_v)``.

    The categorical companion to the numeric two-sample tests (Welch
    z, Mann-Whitney): "does the distribution of X differ across
    levels of Y" for label × label questions — event mix by weekday,
    language by source, detector flag by shard. X² = Σ (o − e)²/e
    with e = row_total·col_total/N; effect size = Cramér's V =
    √(X²/(N·min(r−1, c−1))), the readable 0..1 companion the raw
    statistic (which grows with N) is not. Degenerate single-level
    inputs (dof = 0) → null statistic by contract.

    Shape: ONE corpus-scale hash aggregate to the r×c cell grid; the
    margins are two grid-sized aggregates broadcast back; everything
    after the first aggregate is cell-grid arithmetic. Counts are
    exact BIGINTs and e is the same two-product expression in both
    engines, so the 6-dp parity is structural.
    """
    cells = (df.groupBy(F.col(row_col).alias("_r"),
                        F.col(col_col).alias("_c"))
             .agg(F.count("*").cast("long").alias("_o")))
    rm = cells.groupBy("_r").agg(F.sum("_o").cast("long").alias("_rt"))
    cm = cells.groupBy("_c").agg(F.sum("_o").cast("long").alias("_ct"))
    tot = cells.agg(F.sum("_o").cast("long").alias("_n"),
                    F.countDistinct("_r").cast("long").alias("n_rows"),
                    F.countDistinct("_c").cast("long").alias("n_cols"))
    e = (F.col("_rt").cast("double") * F.col("_ct").cast("double")
         / F.col("_n").cast("double"))
    terms = (cells.join(F.broadcast(rm), "_r")
             .join(F.broadcast(cm), "_c")
             .crossJoin(F.broadcast(tot))
             .select(((F.col("_o") - e) * (F.col("_o") - e) / e)
                     .alias("_t"),
                     "_n", "n_rows", "n_cols"))
    agg = terms.groupBy("_n", "n_rows", "n_cols").agg(
        F.sum("_t").alias("_chi2"))
    dof = (F.col("n_rows") - 1) * (F.col("n_cols") - 1)
    mind = F.least(F.col("n_rows") - 1, F.col("n_cols") - 1)
    return agg.select(
        F.col("_n").alias("n"), "n_rows", "n_cols",
        F.when(dof > 0, F.round("_chi2", 6)).alias("chi2"),
        dof.cast("long").alias("dof"),
        F.when(dof > 0,
               F.round(F.sqrt(F.col("_chi2")
                              / (F.col("_n") * mind)), 6))
        .alias("cramers_v"))


def spearman_corr(df: DataFrame, group_col: str, x_col: str,
                  y_col: str, id_col: str) -> DataFrame:
    """Spearman rank correlation of two columns per group (E218) →
    one row per group: ``(group, n, rho)``.

    The robust companion to the OLS trend face (E119) and the rank
    spine's natural correlation: Pearson on TIE-ADJUSTED mid-ranks,
    invariant to any monotone transform of either column — "is value
    drifting with time" without assuming linearity, "does length
    track quality" without trusting either scale. Groups with n < 2
    or a constant column (zero rank variance) → null by contract.

    Determinism: mid-ranks enter DOUBLED (2·rank + ties − 1, an exact
    BIGINT — rank here is the min position of a tie run, so the
    doubled mid-rank is integral even for even tie runs), the five
    moment sums accumulate as DECIMAL(38,0) — exact at any scale and
    order-independent — and only the final rho divides in doubles
    through the same expression in both engines, so 6-dp parity is
    structural (Pearson is scale-invariant, so doubling changes
    nothing).

    Scale shape: a mid-rank depends only on (group, value), so the
    rank spine runs over the DISTINCT-VALUE GRID, not corpus rows —
    counts per (group, value) feed a range-partitioned global cumsum
    (rows before = cum − count), the per-group offset is a #groups
    broadcast, and the two corpus-scale costs are the equi-joins
    stitching each axis's grid back to the rows. A mega-group never
    funnels one reducer (no ``Window.partitionBy(group)`` anywhere).
    ``id_col`` is unused for ranking (ties collapse to mid-ranks) —
    it stays in the signature as the row identity contract.

    NULL contract: rows with a NULL x or y are DROPPED up front (the
    filter is explicit, not an accident of the stitch-back equi-joins)
    and the oracle mirrors the same ``WHERE x IS NOT NULL AND y IS NOT
    NULL`` — a SQL rank() window would otherwise rank NULLs and the
    two engines would disagree on both n and rho.
    """
    from .ranking import global_cumsum

    # lazy pin: the first consumer is the x-axis cumsum's per-partition
    # collect — a sequential full-scan job that materializes base as a
    # side effect; the y-axis grid and both stitch-back joins then read
    # the persisted blocks (eager burned one extra blocking job here)
    base = (df.filter(F.col(x_col).isNotNull()
                      & F.col(y_col).isNotNull())
            .select(F.col(group_col).alias("_g"),
                    F.col(x_col).alias("_x"),
                    F.col(y_col).alias("_y"))
            .localCheckpoint(eager=False))

    def axis_grid(col: str, out: str) -> DataFrame:
        counts = base.groupBy("_g", col).agg(
            F.count("*").cast("long").alias("_c"))
        cum = global_cumsum(counts, ["_g", col], "_c", out_col="_cum")
        before = (F.col("_cum") - F.col("_c")).alias("_before")
        g = cum.select("_g", col, "_c", before)
        offs = g.groupBy("_g").agg(F.min("_before").alias("_goff"))
        # doubled mid-rank = 2·rank_min + ties − 1 with rank_min =
        # (rows before within the group) + 1
        return (g.join(F.broadcast(offs), "_g")
                .select("_g", col,
                        (2 * (F.col("_before") - F.col("_goff") + 1)
                         + F.col("_c") - 1).cast("long").alias(out)))

    rx = axis_grid("_x", "_rx")
    ry = axis_grid("_y", "_ry")
    joined = base.join(rx, ["_g", "_x"]).join(ry, ["_g", "_y"])
    dec = "decimal(38,0)"
    agg = joined.groupBy("_g").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col("_rx").cast(dec)).alias("_sx"),
        F.sum(F.col("_ry").cast(dec)).alias("_sy"),
        F.sum((F.col("_rx") * F.col("_rx")).cast(dec)).alias("_sxx"),
        F.sum((F.col("_ry") * F.col("_ry")).cast(dec)).alias("_syy"),
        F.sum((F.col("_rx") * F.col("_ry")).cast(dec)).alias("_sxy"))
    nd = F.col("n").cast("double")
    sx, sy = F.col("_sx").cast("double"), F.col("_sy").cast("double")
    sxx, syy = F.col("_sxx").cast("double"), F.col("_syy").cast("double")
    sxy = F.col("_sxy").cast("double")
    varx = nd * sxx - sx * sx
    vary = nd * syy - sy * sy
    return agg.select(
        F.col("_g").alias(group_col), "n",
        F.when((F.col("n") >= 2) & (varx > 0) & (vary > 0),
               F.round((nd * sxy - sx * sy)
                       / F.sqrt(varx * vary), 6)).alias("rho"))


def bh_fdr(df: DataFrame, id_col: str, p_col: str,
           alpha: float = 0.05) -> DataFrame:
    """Benjamini-Hochberg step-up FDR control (E220) → one row per
    test: ``(id, p, rank, rejected)``.

    The multiple-testing guard the per-group test batteries (Welch z
    E180, Mann-Whitney E192, chi-square E212) need the moment they
    run per segment: at 10⁵ segments, α = 0.05 hands you ~5 000 false
    "significant" segments; BH keeps the FALSE DISCOVERY RATE at α
    instead. Step-up rule: with p-values ascending p₍₁₎…p₍ₘ₎, find
    k* = max{i : p₍ᵢ₎ ≤ i·α/m} and reject exactly ranks 1..k* (note
    the rule rejects THROUGH k* even if some earlier rank failed its
    own inequality — the step-up subtlety a naive filter gets wrong).
    No rank passes → k* = 0, nothing rejected.

    Determinism: the comparison is stated as p·m ≤ i·α — the SAME
    multiplication order in both engines, so the boundary cannot
    flip on an ulp; ranks come off the global spine with the id as
    tiebreaker (equal p-values order identically in both engines).

    Scale shape: the ascending rank rides the range-partitioned
    global-rank spine (never a single-reducer window — the ORACLE
    windows freely; the engine does not); k* is one aggregate
    broadcast back as a 1-row cross join; the ranked frame is
    checkpointed once so the k*-side and the output-side consumers
    don't re-execute the spine (the subtree-per-consumer lesson,
    SCALING root-cause 4).
    """
    from .ranking import global_rank

    base = df.select(F.col(id_col).alias("_id"),
                     F.col(p_col).cast("double").alias("_p"))
    ranked = (global_rank(base, ["_p", "_id"], rank_col="_i")
              .localCheckpoint(eager=True))
    m = ranked.agg(F.count("*").cast("long").alias("_m"))
    flagged = ranked.crossJoin(F.broadcast(m))
    kstar = (flagged
             .where(F.col("_p") * F.col("_m") <= F.col("_i") * F.lit(alpha))
             .agg(F.coalesce(F.max("_i"), F.lit(0)).alias("_k")))
    return (flagged.crossJoin(F.broadcast(kstar))
            .select(F.col("_id").alias(id_col),
                    F.col("_p").alias(p_col),
                    F.col("_i").alias("rank"),
                    (F.col("_i") <= F.col("_k")).alias("rejected")))


def diff_in_diff(units: DataFrame, treat_col: str, post_col: str,
                 value_col: str) -> DataFrame:
    """Difference-in-differences estimator (E221) → ONE row:
    ``(n_c0, n_c1, n_t0, n_t1, mean_c0, mean_c1, mean_t0, mean_t1,
    did, z)``.

    The causal companion to the A/B face (E180): when assignment
    isn't randomized per event but a treatment SWITCHES ON at a date,
    the naive post-minus-pre difference absorbs the secular time
    trend; DiD removes it with the control group's own pre/post
    drift: DiD = (ȳ_t,post − ȳ_t,pre) − (ȳ_c,post − ȳ_c,pre). The
    parallel-trends assumption is the caller's to defend — this is
    the estimator, not the identification argument.

    Input contract: one row per (unit, period) — aggregate to the
    randomization unit FIRST (per-event rows inflate significance;
    the bootstrap/uplift faces state the same rule); ``value_col``
    integral (cents), ``treat_col``/``post_col`` boolean. Cells with
    n < 2 → null z; empty cells → null did (no estimate, by
    contract).

    Shape: ONE conditional-sum hash aggregate over the unit table
    (n, Σx, Σx² per cell — map-side combinable, exact BIGINTs);
    everything after is a 1-row expression. The z uses the Welch
    form over the four cells: se² = Σᵢ s²ᵢ/nᵢ.
    """
    t = F.col(treat_col).cast("boolean")
    p = F.col(post_col).cast("boolean")
    x = F.col(value_col).cast("long")

    def cell(tag: str, tv: bool, pv: bool) -> list:
        m = (t == F.lit(tv)) & (p == F.lit(pv))
        return [
            F.sum(F.when(m, 1).otherwise(0)).cast("long")
            .alias(f"n_{tag}"),
            F.sum(F.when(m, x).otherwise(0)).cast("long")
            .alias(f"_s_{tag}"),
            F.sum(F.when(m, x * x).otherwise(0)).cast("long")
            .alias(f"_q_{tag}"),
        ]

    agg = units.agg(*(cell("c0", False, False) + cell("c1", False, True)
                      + cell("t0", True, False) + cell("t1", True, True)))

    def mean(tag: str):
        return F.col(f"_s_{tag}") * 1.0 / F.col(f"n_{tag}")

    def var_over_n(tag: str):
        n = F.col(f"n_{tag}")
        s = F.col(f"_s_{tag}").cast("double")
        q = F.col(f"_q_{tag}").cast("double")
        return ((q - s * s / n) / (n - 1)) / n

    did = (mean("t1") - mean("t0")) - (mean("c1") - mean("c0"))
    all_present = (F.col("n_c0") > 0) & (F.col("n_c1") > 0) \
        & (F.col("n_t0") > 0) & (F.col("n_t1") > 0)
    all_two = (F.col("n_c0") >= 2) & (F.col("n_c1") >= 2) \
        & (F.col("n_t0") >= 2) & (F.col("n_t1") >= 2)
    se2 = (var_over_n("c0") + var_over_n("c1")
           + var_over_n("t0") + var_over_n("t1"))
    out_cols = [F.col("n_c0"), F.col("n_c1"),
                F.col("n_t0"), F.col("n_t1")]
    for tag in ("c0", "c1", "t0", "t1"):
        out_cols.append(
            F.when(F.col(f"n_{tag}") > 0, F.round(mean(tag), 6))
            .alias(f"mean_{tag}"))
    return agg.select(
        *out_cols,
        F.when(all_present, F.round(did, 6)).alias("did"),
        F.when(all_present & all_two & (se2 > 0),
               F.round(did / F.sqrt(se2), 6)).alias("z"))


def isotonic_fit(grid: DataFrame, x_col: str, n_col: str,
                 s_col: str) -> DataFrame:
    """Isotonic (monotone non-decreasing) regression over a bounded
    bucket grid (E229) → one row per bucket: ``(x, n, rate,
    fitted)``.

    THE calibration fit for "does the score actually order the
    outcome": the L2-optimal monotone curve through the per-bucket
    rates, the standard post-hoc calibrator (Zadrozny & Elkan 2002)
    and the correctness check behind every "higher quality score ⇒
    higher keep-rate" claim in the selection tier. Instead of the
    sequential pool-adjacent-violators loop, this computes the CLOSED
    FORM fitted(i) = max_{j≤i} min_{k≥i} avg(y over buckets j..k) —
    the textbook minimax characterization of the PAV solution — so
    the whole fit is three grid-bounded joins both engines can run
    verbatim (the oracle needs no iteration either).

    Determinism: every interval average is a ratio of exact BIGINT
    sums (one double division, the same expression in both engines);
    min/max over identical doubles cannot diverge; only the reported
    columns round. Input contract: one row per bucket with integral
    ``n_col``/``s_col`` (counts), and a BOUNDED bucket count — the
    minimax join is O(B³) BY DESIGN, the right trade for B ≤ a few
    hundred calibration buckets, never run on raw rows (aggregate
    first; the corpus-scale work is building the grid).
    """
    b = grid.select(F.col(x_col).cast("long").alias("_x"),
                    F.col(n_col).cast("long").alias("_n"),
                    F.col(s_col).cast("long").alias("_s"))
    b = b.localCheckpoint(eager=True)  # grid-sized; 4 consumers
    j = b.select(F.col("_x").alias("_j"))
    k = b.select(F.col("_x").alias("_k"))
    mem = b.select(F.col("_x").alias("_b"), "_n", "_s")
    intervals = (j.join(k, j["_j"] <= k["_k"])
                 .join(mem, (F.col("_b") >= F.col("_j"))
                       & (F.col("_b") <= F.col("_k")))
                 .groupBy("_j", "_k")
                 .agg(F.sum("_n").alias("_N"), F.sum("_s").alias("_S")))
    avg = (F.col("_S").cast("double") / F.col("_N").cast("double"))
    ivals = intervals.select("_j", "_k", avg.alias("_avg"))
    i = b.select(F.col("_x").alias("_i"))
    inner = (ivals.join(i, (F.col("_i") >= F.col("_j"))
                        & (F.col("_i") <= F.col("_k")))
             .groupBy("_i", "_j")
             .agg(F.min("_avg").alias("_m")))
    fitted = inner.groupBy("_i").agg(F.max("_m").alias("_f"))
    return (b.join(fitted, b["_x"] == fitted["_i"])
            .select(F.col("_x").alias(x_col),
                    F.col("_n").alias(n_col),
                    F.round(F.col("_s") / F.col("_n"), 6).alias("rate"),
                    F.round("_f", 6).alias("fitted")))


def oneway_anova(df: DataFrame, group_col: str, value_col: str
                 ) -> DataFrame:
    """One-way ANOVA over an integral value column (E231) → ONE row:
    ``(n, k, f_stat, eta_sq)``.

    The k-group extension of the two-sample faces (Welch z E180,
    Mann-Whitney E192): "does the mean differ across ANY of the k
    groups" in one test, instead of k² pairwise comparisons with the
    multiple-testing bill (that's what the BH face is for when you do
    go pairwise). F = (SSB/(k−1)) / (SSW/(n−k)); effect size η² =
    SSB/SST — the variance share the grouping explains, readable
    where the N-growing F is not. Degenerate inputs (k < 2 or n ≤ k
    or zero within-variance) → null statistics by contract.

    Determinism: ``value_col`` must be integral (cents); the per-
    group sufficient statistics (n, Σx, Σx²) are exact BIGINTs from
    ONE map-side-combinable hash aggregate, and the sums of squares
    expand algebraically (SST = ΣΣx² − (ΣΣx)²/n, SSB = Σ(Sg²/ng) −
    (ΣΣx)²/n). The ONE non-integer accumulation — Σ over groups of
    Sg²/ng — is folded over the k-row array SORTED BY GROUP KEY
    (``sort_array`` + ``aggregate``), never a distributed double SUM,
    so the fold order is fixed and run-to-run identical regardless of
    partitioning. Residual honest surface: the oracle's double sum
    over the same k terms may associate differently; with k bounded
    (a handful of group labels) and 6-dp rounding the parity is
    structural in practice, not bit-proven.

    Shape: one corpus-scale aggregate to k rows; everything after is
    k-row arithmetic crossed with a 1-row total.

    NULL contract: rows with a NULL value are DROPPED up front (the
    explicit-filter treatment, same as spearman_corr) and the oracle
    mirrors the WHERE — without it an all-NULL group carries a NULL
    Sg²/ng term that would poison the fixed-order fold, where a SQL
    SUM silently skips it (and count(*) vs sum would disagree on n
    anyway).
    """
    x = F.col(value_col).cast("long")
    per = (df.filter(F.col(value_col).isNotNull())
           .groupBy(F.col(group_col).alias("_g"))
           .agg(F.count("*").cast("long").alias("_n"),
                F.sum(x).alias("_s"),
                F.sum(x * x).alias("_q")))
    sg2_over_n = (F.col("_s").cast("double") * F.col("_s").cast("double")
                  / F.col("_n").cast("double"))
    agg = per.agg(
        F.sum("_n").cast("long").alias("n"),
        F.count("*").cast("long").alias("k"),
        F.sum("_s").cast("long").alias("_ts"),
        F.sum("_q").cast("long").alias("_tq"),
        F.aggregate(
            F.sort_array(F.collect_list(
                F.struct(F.col("_g").alias("g"),
                         sg2_over_n.alias("v")))),
            F.lit(0.0),
            lambda acc, x: acc + x["v"]).alias("_sg"))
    n = F.col("n").cast("double")
    cm = F.col("_ts").cast("double") * F.col("_ts").cast("double") / n
    sst = F.col("_tq").cast("double") - cm
    ssb = F.col("_sg") - cm
    ssw = sst - ssb
    kd = F.col("k").cast("double")
    ok = (F.col("k") >= 2) & (F.col("n") > F.col("k")) & (ssw > 0)
    return agg.select(
        "n", "k",
        F.when(ok, F.round((ssb / (kd - 1))
                           / (ssw / (n - kd)), 6)).alias("f_stat"),
        F.when(ok & (sst > 0), F.round(ssb / sst, 6)).alias("eta_sq"))
