"""Skew-mitigation + sketch operators: result parity with the unsalted
plans on adversarially skewed inputs, and HLL error/merge bounds."""

from __future__ import annotations

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.01"


def _skewed(spark, n_hot=20_000, n_cold=50):
    """One key owns ~99.8% of rows — the shape that pins one reducer."""
    hot = spark.range(n_hot).select(
        F.lit(7).alias("k"), (F.col("id") % 500).alias("v"))
    cold = spark.range(n_cold).select(
        (F.col("id") % 10).alias("k"), F.col("id").alias("v"))
    return hot.unionAll(cold)


def test_salted_join_equals_plain_join_on_skew(spark):
    from big_data_hw_23_24_spark.operators.skew import salted_join

    fact = _skewed(spark)
    dim = spark.range(10).select(F.col("id").alias("k"),
                                 (F.col("id") * 100).alias("w"))
    plain = fact.join(dim, "k").select("k", "v", "w")
    salted = salted_join(fact, dim, "k").select("k", "v", "w")
    assert salted.count() == plain.count()
    assert salted.exceptAll(plain).count() == 0
    assert plain.exceptAll(salted).count() == 0


def test_salted_count_distinct_exact_on_skew(spark):
    from big_data_hw_23_24_spark.operators.skew import salted_count_distinct

    df = _skewed(spark)
    got = {r.k: r.n_distinct
           for r in salted_count_distinct(df, "k", "v").collect()}
    want = {r.k: r.nd for r in
            df.groupBy("k").agg(F.count_distinct("v").alias("nd")).collect()}
    assert got == want  # exact, not approximate


def test_hll_error_bound_and_mergeability(spark):
    from big_data_hw_23_24_spark.sources.tables import load_table

    e = load_table(spark, SF, "events")
    exact = {r.event_type: r.nd for r in
             e.groupBy("event_type")
             .agg(F.count_distinct("user_id").alias("nd")).collect()}
    approx = {r.event_type: r.n_approx for r in
              e.groupBy("event_type")
              .agg(F.hll_sketch_estimate(
                  F.hll_sketch_agg("user_id", F.lit(14)))
                  .alias("n_approx")).collect()}
    for k, nd in exact.items():
        assert abs(approx[k] - nd) <= max(2, 0.05 * nd), (k, approx[k], nd)

    # mergeability: per-month partial sketches unioned == whole estimate
    partial = (e.withColumn("m", F.month("ts"))
               .groupBy("event_type", "m")
               .agg(F.hll_sketch_agg("user_id", F.lit(14)).alias("sk")))
    merged = {r.event_type: r.est for r in
              partial.groupBy("event_type")
              .agg(F.hll_sketch_estimate(F.hll_union_agg("sk"))
                   .alias("est")).collect()}
    assert merged == {k: v for k, v in approx.items()}


def test_percentile_approx_brackets_exact(spark):
    """Each approximate quantile must land within the exact
    [p-0.01, p+0.01] percentile bracket (GK sketch guarantee at
    accuracy 10000 ⇒ ε ≤ 1/10000, slack for ties)."""
    from big_data_hw_23_24_spark.sources.tables import load_table

    li = load_table(spark, SF, "lineitem")
    approx = {r.l_returnflag: r.quantiles for r in
              li.groupBy("l_returnflag")
              .agg(F.percentile_approx("l_extendedprice",
                                       [0.5, 0.9, 0.99], 10000)
                   .alias("quantiles")).collect()}
    for flag, (a50, a90, a99) in approx.items():
        vals = sorted(r.l_extendedprice for r in
                      li.where(F.col("l_returnflag") == flag)
                      .select("l_extendedprice").collect())
        n = len(vals)
        for p, est in [(0.5, a50), (0.9, a90), (0.99, a99)]:
            lo = vals[max(0, int((p - 0.01) * n) - 1)]
            hi = vals[min(n - 1, int((p + 0.01) * n))]
            assert lo <= est <= hi, (flag, p, est, lo, hi)


def test_bloom_prune_no_false_negatives_and_prunes_most(spark):
    """Every true match must survive the prune (prune→join == join),
    and with 100 dim keys out of 100k fact keys the filter must drop
    the overwhelming majority of non-matching rows."""
    from big_data_hw_23_24_spark.operators.bloom import (
        bloom_build, bloom_might_contain, bloom_semi_prune)

    fact = spark.range(100_000).selectExpr("id AS fk", "id % 7 AS payload")
    dim = spark.range(100).selectExpr("id * 997 AS dk")  # sparse keys
    pruned = bloom_semi_prune(fact, dim, "fk", "dk")

    true_matches = {r.fk for r in
                    fact.join(dim, fact.fk == dim.dk, "left_semi").collect()}
    kept = {r.fk for r in pruned.collect()}
    assert true_matches <= kept              # no false negatives
    fpr = (len(kept) - len(true_matches)) / 100_000
    assert fpr < 0.01, fpr                   # m=2^16, k=5, n=100 → tiny

    # prune → exact join ≡ exact join (the transparency contract)
    j1 = sorted((r.fk, r.dk) for r in
                pruned.join(dim, pruned.fk == dim.dk).collect())
    j2 = sorted((r.fk, r.dk) for r in
                fact.join(dim, fact.fk == dim.dk).collect())
    assert j1 == j2

    # empty dimension → filter with all bits unset → everything pruned
    empty = bloom_might_contain(
        fact, bloom_build(dim.where("dk < 0"), "dk"), "fk")
    assert empty.count() == 0


def test_skew_report_ranks_hot_keys_and_scores_uniformity(spark, monkeypatch):
    from big_data_hw_23_24_spark.operators import skew
    from big_data_hw_23_24_spark.operators.skew import skew_report

    monkeypatch.setattr(skew, "SKEW_TOP_N", 3)
    hot = [(1, "a") for _ in range(90)]
    cold = [(i, "b") for i in range(2, 12)]
    df = spark.createDataFrame(hot + cold, "k long, t string")
    out = [r for r in skew_report(df, ["k"]).collect()]
    assert len(out) == 3
    assert (out[0].key_value, out[0].cnt, out[0].rank) == ("1", 90, 1)
    assert out[0].n_distinct == 11
    # skew factor = 90 * 11 / 100 = 9.9 (vs 1.0 for uniform)
    assert out[0].skew_factor == 9.9
    # uniform column scores ~1
    u = skew_report(df.where("k != 1"), ["k"]).collect()
    assert all(r.skew_factor == 1.0 for r in u)
    import pytest as _pytest
    with _pytest.raises(ValueError, match="key_cols"):
        skew_report(df, [])
