"""Regression pins for the round-12 ADVICE findings fixed in r13:
NULL-unit seed divergence in bootstrap_ci, float/double ids accepted
by preference_pairs, and the UTC-session assumption of the
absolute-day-bucketing faces (ticks_us docstring finding). The fourth
finding (the SURVEY.md E189 ln(0) row) is a doc-only fix with no
runtime surface."""

from __future__ import annotations

import hashlib

import pytest


def _poisson_weight(seed: str) -> int:
    """The exact draw both engines state: first 8 md5 hex digits over
    2^32, thresholded against the shared 6-decimal Poisson(1) CDF."""
    from big_data_hw_23_24_spark.operators.grouped import (
        POISSON1_CDF, U32_DIVISOR)

    u = int(hashlib.md5(seed.encode()).hexdigest()[:8], 16) / U32_DIVISOR
    return sum(1 for c in POISSON1_CDF if u >= c)


def test_bootstrap_ci_null_unit_draws_sentinel_seed(spark, monkeypatch):
    """A NULL unit id must seed as the '\\N' sentinel — the same
    portable string an oracle's coalesce states — not vanish from
    concat_ws (pre-fix: Spark skipped the component, so Spark drew
    weights for a seed string the oracle never forms)."""
    from big_data_hw_23_24_spark.operators import grouped
    from big_data_hw_23_24_spark.operators.grouped import bootstrap_ci

    monkeypatch.setattr(grouped, "BOOTSTRAP_REPLICATES", 5)
    units = spark.createDataFrame(
        [("g", None, 100)] + [("g", str(i), 100 + i) for i in range(9)],
        "grp string, uid string, cents int")
    out = bootstrap_ci(units, ["grp"], "uid", "cents").collect()
    assert len(out) == 1 and out[0].n_units == 10
    # recompute the replicate means in Python with the sentinel seed;
    # the operator's CI order statistics must match exactly
    vals = {None: 100, **{str(i): 100 + i for i in range(9)}}
    means = []
    for r in range(5):
        sw = swx = 0
        for uid, x in vals.items():
            w = _poisson_weight(f"g:{uid if uid is not None else chr(92) + 'N'}:{r}")
            sw += w
            swx += w * x
        if sw > 0:
            means.append(round(swx / sw, 6))
    means.sort()
    # the exact percentile convention (linear interpolation on the
    # order statistics) — mirror Spark's percentile at p=0.025/0.975
    def pct(sorted_vals, p):
        k = p * (len(sorted_vals) - 1)
        lo, hi = int(k), min(int(k) + 1, len(sorted_vals) - 1)
        return round(sorted_vals[lo] + (k - lo)
                     * (sorted_vals[hi] - sorted_vals[lo]), 6)
    assert out[0].ci_lo == pct(means, 0.025)
    assert out[0].ci_hi == pct(means, 0.975)


def test_preference_pairs_rejects_inexact_float_ids(spark):
    """float/double ids can be fractional or lose integer precision
    above 2^53 — the negated tiebreaker and the chosen != rejected
    guard then misfire; the guard must fail loudly (pre-fix: 'double'
    was accepted)."""
    from big_data_hw_23_24_spark.operators.ranking import (
        preference_pairs)

    cands = spark.createDataFrame(
        [("p", 1.5, 10), ("p", 2.5, 20)],
        "prompt string, rid double, score int")
    with pytest.raises(ValueError, match="integral or decimal"):
        preference_pairs(cands, "prompt", "rid", "score")
    # exact types still pass
    ok = spark.createDataFrame(
        [("p", 1, 10), ("p", 2, 20)],
        "prompt string, rid bigint, score int")
    rows = preference_pairs(ok, "prompt", "rid", "score",
                            min_margin=1).collect()
    assert [(r.chosen_id, r.rejected_id) for r in rows] == [(2, 1)]


def test_absolute_day_faces_pin_utc_session_tz(spark):
    sf_dir = "/root/testdata/sf0.001"
    """The two faces that bucket ABSOLUTE days (floor(ticks/86400e6))
    must pin the session timezone to UTC themselves — a non-UTC
    caller session would shift near-midnight events across a day
    boundary relative to the DuckDB oracle's epoch_ns."""
    from big_data_hw_23_24_spark.queries import queries

    q = queries()
    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        for name in ("events_ewma_forecast",
                     "events_rolling_distinct_kmv"):
            spark.conf.set("spark.sql.session.timeZone",
                           "America/New_York")
            q[name](spark, sf_dir)  # building the plan pins the tz
            assert (spark.conf.get("spark.sql.session.timeZone")
                    == "UTC"), name
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
