"""Regression pins for the round-13 ADVICE findings fixed in r14:

1. time_weighted_average multiplied dt*v in BIGINT before casting —
   a long-held interval times large cents (> 2^63) silently wrapped
   in non-ANSI mode and diverged from the oracle's DECIMAL multiply.
2. oneway_anova accumulated sum(Sg^2/ng) as a distributed DOUBLE sum
   (partition-order-dependent); now a fixed-order fold over the
   group-key-sorted k-row array.
3. spearman_corr's stitch-back equi-joins silently dropped NULL x/y
   rows while a SQL rank() window would rank them; the NOT NULL
   contract is now an explicit filter (mirrored in the oracle).
4. hits_scores built a final hub update after the last authority
   update; the frame was lazy and never consumed (so it triggered no
   jobs), but the dead construction is gone — the loop now stops at
   the last authority update, matching the oracle's a_rounds stop.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def test_twap_exact_beyond_bigint_product(spark):
    """dt ~ 2.6e12 us times v = 1e7 cents = 2.6e19 > 2^63: the term
    must be multiplied in DECIMAL(38,0) (pre-fix: BIGINT wrap gave a
    garbage negative numerator)."""
    from big_data_hw_23_24_spark.operators.timeseries import (
        time_weighted_average)

    df = spark.createDataFrame(
        [("g", 0, 10_000_000, "a"), ("g", 2_600_000_000_000, 1, "b")],
        "g string, t long, v long, id string")
    out = time_weighted_average(df, "g", "t", "v", "id").collect()
    # the signal held 1e7 for the whole span; the final tick carries
    # no weight (right-open convention) -> twa is exactly 1e7
    assert len(out) == 1
    assert out[0].span_us == 2_600_000_000_000
    assert out[0].twa == 10_000_000.0


def test_anova_partition_invariant_double_fold(spark):
    """The one non-integer accumulator folds over the sorted k-row
    array, so the statistics are bit-identical under any input
    partitioning (pre-fix: distributed double sum, order-dependent)."""
    from big_data_hw_23_24_spark.operators.grouped import oneway_anova

    rows = ([("a", 10), ("a", 12), ("a", 11),
             ("b", 20), ("b", 22), ("b", 21),
             ("c", 5), ("c", 7), ("c", 6)])
    df = spark.createDataFrame(rows, "g string, v int")
    results = [oneway_anova(df.repartition(p), "g", "v").collect()[0]
               for p in (1, 3, 7)]
    for r in results:
        assert (r.n, r.k) == (9, 3)
        assert r.f_stat == results[0].f_stat  # bit-identical
        assert r.eta_sq == results[0].eta_sq
    # hand check: group sums 33/63/18, grand 114, CM = 114^2/9 = 1444;
    # SST = 1800 - 1444 = 356, SSB = 5382/3 - 1444 = 350, SSW = 6;
    # F = (350/2)/(6/6) = 175, eta^2 = 350/356 = 0.983146
    assert results[0].f_stat == 175.0
    assert results[0].eta_sq == 0.983146


def test_anova_null_values_cannot_poison_the_fold(spark):
    """Self-review follow-up to the fold fix: an all-NULL group's
    Sg^2/ng term is NULL and `acc + NULL` would null the whole fold —
    NULL values are dropped by an explicit filter (mirrored in the
    oracle's WHERE), so the statistics stay finite and n counts only
    non-NULL rows."""
    from big_data_hw_23_24_spark.operators.grouped import oneway_anova

    rows = ([("a", 10), ("a", 12), ("a", 11),
             ("b", 20), ("b", 22), ("b", 21),
             ("c", None), ("c", None), ("a", None)])
    df = spark.createDataFrame(rows, "g string, v int")
    out = oneway_anova(df, "g", "v").collect()[0]
    assert (out.n, out.k) == (6, 2)  # the all-NULL group is gone
    assert out.f_stat is not None and out.eta_sq is not None


def test_spearman_drops_null_axes_explicitly(spark):
    """Rows with NULL x or y are excluded by contract — n counts only
    complete pairs, and rho is computed over them (pre-fix the drop
    was an accident of the equi-joins; now it is an explicit filter
    mirrored in the oracle's WHERE)."""
    from big_data_hw_23_24_spark.operators.grouped import spearman_corr

    df = spark.createDataFrame(
        [("g", 1, 1, "a"), ("g", 2, 2, "b"), ("g", 3, 3, "c"),
         ("g", None, 9, "d"), ("g", 4, None, "e")],
        "g string, x int, y int, id string")
    out = spearman_corr(df, "g", "x", "y", "id").collect()
    assert len(out) == 1
    assert out[0].n == 3  # the two NULL-bearing rows are gone
    assert out[0].rho == 1.0  # perfectly monotone on the 3 kept rows


def test_twap_property_matches_python_reference(spark):
    """Property: on random (t, v) sets with duplicate ticks, the TWAP
    must equal the pure-Python step-integral computed over the same
    (t, id) order — exercising tie-breaking, zero-width intervals and
    the DECIMAL accumulation together."""
    import random

    from big_data_hw_23_24_spark.operators.timeseries import (
        time_weighted_average)

    rng = random.Random(1414)
    rows, want = [], {}
    for g in range(8):
        n = rng.randrange(2, 25)
        ts = sorted(rng.randrange(0, 10**7) for _ in range(n))
        if rng.random() < 0.5 and n >= 3:
            ts[1] = ts[2]  # planted same-tick tie
        evs = [(f"g{g}", t, rng.randrange(-5000, 5000), f"id{g}_{i:03d}")
               for i, t in enumerate(ts)]
        rows += evs
        o = sorted(evs, key=lambda e: (e[1], e[3]))
        num = sum((o[i + 1][1] - o[i][1]) * o[i][2]
                  for i in range(len(o) - 1))
        span = o[-1][1] - o[0][1]
        want[f"g{g}"] = (round(num / span, 6) if span > 0 else None)
    df = spark.createDataFrame(rows, "g string, t long, v long, id string")
    got = {r.g: r.twa
           for r in time_weighted_average(df, "g", "t", "v", "id")
           .collect()}
    assert got == want


def test_spearman_property_matches_python_reference(spark):
    """Property: tie-adjusted Spearman on random integer data with
    heavy ties must equal a pure-Python mid-rank Pearson — the
    distinct-value-grid spine vs the definitional per-row ranking."""
    import math
    import random

    from big_data_hw_23_24_spark.operators.grouped import spearman_corr

    def midranks(vals):
        order = sorted(range(len(vals)), key=lambda i: vals[i])
        r = [0.0] * len(vals)
        i = 0
        while i < len(order):
            j = i
            while j + 1 < len(order) and \
                    vals[order[j + 1]] == vals[order[i]]:
                j += 1
            mid = (i + j) / 2 + 1
            for k in range(i, j + 1):
                r[order[k]] = mid
            i = j + 1
        return r

    rng = random.Random(99)
    rows, want = [], {}
    for g in range(6):
        n = rng.randrange(3, 40)
        xs = [rng.randrange(0, 8) for _ in range(n)]   # heavy ties
        ys = [rng.randrange(0, 8) for _ in range(n)]
        rows += [(f"g{g}", x, y, f"i{g}_{i}")
                 for i, (x, y) in enumerate(zip(xs, ys))]
        rx, ry = midranks(xs), midranks(ys)
        sx, sy = sum(rx), sum(ry)
        sxx = sum(v * v for v in rx)
        syy = sum(v * v for v in ry)
        sxy = sum(a * b for a, b in zip(rx, ry))
        vx, vy = n * sxx - sx * sx, n * syy - sy * sy
        want[f"g{g}"] = (round((n * sxy - sx * sy)
                               / math.sqrt(vx * vy), 6)
                         if vx > 0 and vy > 0 else None)
    df = spark.createDataFrame(rows, "g string, x int, y int, id string")
    got = {r.g: r.rho
           for r in spearman_corr(df, "g", "x", "y", "id").collect()}
    assert got == want


def test_hits_loop_stops_at_last_authority_update(spark, monkeypatch):
    """Values pin the alternating iteration (h0=1, a1, h1, a2 for
    double_rounds=2) — the loop must end on the authority update the
    report consumes, with no dead hub frame built after it."""
    from big_data_hw_23_24_spark.operators import graph
    from big_data_hw_23_24_spark.operators.graph import hits_scores

    monkeypatch.setattr(graph, "HITS_DOUBLE_ROUNDS", 2)
    monkeypatch.setattr(graph, "HITS_K", 3)
    ev = spark.createDataFrame(
        [("u1", "i1"), ("u1", "i2"), ("u2", "i1"),
         ("u3", "i1"), ("u3", "i3")],
        "user_id string, item string")
    rows = hits_scores(ev).collect()
    # a1 = (3,1,1); h1 = (u1:4, u2:3, u3:4); a2 = (i1:11, i2:4, i3:4)
    got = {(r.item, r.rank): r.authority for r in rows}
    assert got == {("i1", 1): 1.0,
                   ("i2", 2): round(4 / 11, 6),
                   ("i3", 3): round(4 / 11, 6)}
