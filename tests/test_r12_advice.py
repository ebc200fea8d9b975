"""Regression pins for the round-12 advice findings: each test fails on
the pre-fix behavior (NULL verdict on an empty contract table, Benford digit-0 leak for sub-cent
values, nondeterministic/first-dim centroid counts, silent same-id
exclusion in reciprocal best match)."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_validate_contracts_empty_table_passes(spark):
    """An empty-but-valid table is a PASS (0 violations), not an
    unverdicted NULL row (sum over zero rows is NULL pre-fix)."""
    from big_data_hw_23_24_spark.operators.profile import (
        validate_contracts)

    df = spark.createDataFrame([], "v long")
    got = {r.check_name: (r.n_violations, r.passed)
           for r in validate_contracts(
               df, {"v_nonneg": F.col("v") < 0}).collect()}
    assert got == {"v_nonneg": (0, True)}


def test_benford_report_excludes_sub_cent_values(spark):
    """A value in (0, 0.01) has no first significant digit at cents
    resolution; pre-fix it produced a digit-0 row with NULL
    p_benford/chi2_contrib, breaking the digits-1-9 schema."""
    from big_data_hw_23_24_spark.operators.grouped import benford_report

    df = spark.createDataFrame(
        [(0.005,), (0.009,), (1.23,), (2.5,), (-3.0,), (0.0,)],
        "v double")
    rows = benford_report(df, "v").collect()
    digits = sorted(r.digit for r in rows)
    assert digits == [1, 2]  # no 0 row; negatives and 0 excluded
    assert all(r.p_benford is not None and r.chi2_contrib is not None
               for r in rows)


def test_centroid_drift_counts_are_order_independent(spark):
    """Per-label counts must come from max across dims, never
    F.first (nondeterministic under ragged vector lengths); labels
    present in only one snapshot are excluded by contract."""
    from big_data_hw_23_24_spark.operators.similarity import (
        centroid_drift)

    base = spark.createDataFrame(
        [("a", [1.0, 2.0]), ("a", [3.0, 4.0, 5.0]),  # ragged on dim 2
         ("only_base", [1.0])],
        "label string, embedding array<double>")
    cur = spark.createDataFrame(
        [("a", [1.0, 2.0]), ("only_cur", [9.9])],
        "label string, embedding array<double>")
    got = {r.label: (r.n_base, r.n_cur)
           for r in centroid_drift(base, cur).collect()}
    # one-sided labels dropped; ragged base counts surface the MAX (2)
    assert set(got) == {"a"}
    assert got["a"] == (2, 1)


def test_reciprocal_best_match_requires_disjoint_ids(spark):
    """The documented contract: a shared id value across sides is
    silently excluded by the top-1 self-exclusion — prefixing ids by
    side restores the match. This pins the behavior the docstring
    warns about so a future internal-disambiguation change shows up."""
    from big_data_hw_23_24_spark.operators.similarity import (
        reciprocal_best_match)

    a = spark.createDataFrame([(7, [1.0, 0.0])],
                              "vec_id long, embedding array<double>")
    b_same_id = spark.createDataFrame([(7, [1.0, 0.1])],
                                      "vec_id long, embedding array<double>")
    assert reciprocal_best_match(a, b_same_id).count() == 0
    b_disjoint = b_same_id.withColumn("vec_id", F.lit(1007).cast("long"))
    got = reciprocal_best_match(a, b_disjoint).collect()
    assert [(r.id_a, r.id_b) for r in got] == [(7, 1007)]
