"""Operator tests for the r11 additions: record linkage (blocked +
sorted-neighborhood), calendar gaps, Benford audit, media header
parse, B-cubed evaluation."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

_SETTINGS = dict(max_examples=12, deadline=None)


def test_blocked_fuzzy_drops_oversized_blocks(spark, monkeypatch):
    """A degenerate block (empty key, 'smith') is a quadratic bucket;
    the MAX_BLOCK guard must drop it entirely, not explode."""
    from big_data_hw_23_24_spark.operators import linkage
    from big_data_hw_23_24_spark.operators.linkage import (
        blocked_fuzzy_pairs)

    rows = [(i, f"mega entity {i % 2}", "mega") for i in range(50)]
    rows += [(100, "small alpha", "ok"), (101, "small alphb", "ok"),
             (102, "other words", "ok2")]
    df = spark.createDataFrame(rows, "doc_id long, e string, blk string")
    monkeypatch.setattr(linkage, "MAX_BLOCK", 10)
    got = {(r.id_a, r.id_b, r.dist)
           for r in blocked_fuzzy_pairs(df, "e", F.col("blk")).collect()}
    # the 50-row mega block contributes nothing; the small block pairs
    assert got == {(100, 101, 1)}
    # raising the cap readmits the mega block
    monkeypatch.setattr(linkage, "MAX_BLOCK", 100)
    n = blocked_fuzzy_pairs(df, "e", F.col("blk")).count()
    assert n > 100  # 50 rows over 2 near-identical entities


@given(ents=st.lists(st.text(alphabet="abc", min_size=0, max_size=4),
                     min_size=1, max_size=25))
# the conf-setting fixture holds one value for every example
@settings(**_SETTINGS,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_snm_matches_rank_window_definition(spark, shuffle_partitions, ents):
    """On random short strings (heavy ties), the bucket-adjacency SNM
    equals the definitional rank-window self-join — across forced
    partition boundaries."""
    from big_data_hw_23_24_spark.operators import linkage
    from big_data_hw_23_24_spark.operators.linkage import (
        sorted_neighborhood_pairs)

    w, md = 3, 1
    rows = [(i, e) for i, e in enumerate(ents)]
    df = spark.createDataFrame(rows, "doc_id long, e string")
    shuffle_partitions(4)
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(linkage, "MAX_EDIT_DIST", md)
        got = {(r.id_a, r.id_b, r.rank_gap, r.dist)
               for r in sorted_neighborhood_pairs(
                   df, "e", window=w).collect()}
    # brute force: rank by (e, id), all pairs within w ranks
    ranked = sorted(rows, key=lambda r: (r[1], r[0]))
    want = set()

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1,
                                         prev + (ca != cb))
        return dp[-1]

    for i in range(len(ranked)):
        for j in range(i + 1, min(i + w + 1, len(ranked))):
            d = lev(ranked[i][1], ranked[j][1])
            if d <= md:
                want.add((ranked[i][0], ranked[j][0], j - i, d))
    assert got == want


def test_calendar_gaps_recovers_planted_runs(spark):
    """Missing-day runs aggregate into (start, end, n_days) islands;
    a gapless group reports nothing; boundaries (first/last day) are
    outside the spine by construction."""
    from big_data_hw_23_24_spark.operators.timeseries import (
        calendar_gaps)

    days = [f"2024-02-{d:02d}" for d in range(1, 21)]
    rows = [("a", d) for d in days if d[-2:] not in ("05", "06", "11")]
    rows += [("b", d) for d in days]
    df = spark.createDataFrame(rows, "event_type string, day string") \
        .select("event_type", F.col("day").cast("date").alias("day"))
    got = {(r.event_type, r.gap_start, r.gap_end, r.n_days)
           for r in calendar_gaps(df, "day").collect()}
    assert got == {("a", "2024-02-05", "2024-02-06", 2),
                   ("a", "2024-02-11", "2024-02-11", 1)}


def test_benford_digits_from_integer_cents(spark):
    """First digit comes from integer cents, never floor(log10): 0.05
    → 5 cents → digit 5; 999.995-style float hazards can't flip it.
    Non-positive values are excluded; proportions sum to 1."""
    from big_data_hw_23_24_spark.operators.grouped import (
        BENFORD_P, benford_report)

    rows = [(1, 123.45), (2, 0.05), (3, 9000.0), (4, 1.0),
            (5, -7.0), (6, 0.0), (7, 19.99)]
    df = spark.createDataFrame(rows, "id long, v double")
    got = {r.digit: r for r in benford_report(df, "v").collect()}
    assert set(got) == {1, 5, 9}
    assert got[1].n_obs == 3          # 123.45, 1.00, 19.99
    assert got[5].n_obs == 1          # 0.05 -> "5"
    assert got[9].n_obs == 1          # 9000.0
    assert abs(sum(r.p_obs for r in got.values()) - 1.0) < 1e-6
    assert got[1].p_benford == BENFORD_P[1]


def test_media_header_roundtrip_and_quarantine(spark):
    """Assemble → binary → parse equals the synthesis spec; corrupt
    (truncated) payloads quarantine with null dims."""
    from big_data_hw_23_24_spark.operators.multimodal import (
        parse_media_headers, synth_media_headers)

    docs = spark.createDataFrame(
        [(i, f"body {i}") for i in range(30)], "doc_id long, text string")
    got = {r.media_id: r for r in
           parse_media_headers(synth_media_headers(docs)).collect()}
    assert len(got) == 30
    for i in range(30):
        r = got[i]
        if i % 13 == 0:
            assert (r.format, r.width, r.height, r.header_ok,
                    r.n_bytes) == ("unknown", None, None, False, 3)
        else:
            assert r.format == {0: "png", 1: "jpeg", 2: "wav"}[i % 3]
            assert r.width == 16 + i % 640
            assert r.height == 16 + (i * 7) % 480
            assert r.header_ok
            assert r.n_bytes == 8 + len(f"body {i}".encode())
    # foreign bytes (no synthesized header) quarantine too
    alien = spark.createDataFrame([(99, bytearray(b"GIF89a....."))],
                                  "media_id long, media binary")
    a = parse_media_headers(alien).collect()[0]
    assert (a.format, a.header_ok) == ("unknown", False)


def test_bcubed_hand_example(spark):
    """Worked example (Amigó et al. 2009 style): pred splits one truth
    cluster and merges across another — averages computed by hand."""
    from big_data_hw_23_24_spark.operators.dedup import bcubed_report

    #   truth clusters: {1,2,3}, {4,5}
    #   pred  clusters: {1,2},   {3,4,5}
    rows = [(1, "p1", "t1"), (2, "p1", "t1"), (3, "p2", "t1"),
            (4, "p2", "t2"), (5, "p2", "t2")]
    df = spark.createDataFrame(rows, "doc_id long, pred string, truth string")
    r = bcubed_report(df).collect()[0]
    # precision: d1,d2 -> 2/2; d3 -> 1/3; d4,d5 -> 2/3  => avg 0.733333
    # recall:    d1,d2 -> 2/3; d3 -> 1/3; d4,d5 -> 2/2  => avg 0.733333
    assert r.n_docs == 5
    assert r.b3_precision == pytest.approx(0.733333, abs=1e-6)
    assert r.b3_recall == pytest.approx(0.733333, abs=1e-6)
    assert r.b3_f1 == pytest.approx(0.733333, abs=1e-6)


def test_homoglyph_scan_collapses_evasion_onto_source(spark):
    """A Cyrillic-swapped copy is flagged and its skeleton owner is
    the clean original; clean docs own themselves and stay unflagged."""
    from big_data_hw_23_24_spark.operators.cleaning import homoglyph_scan

    rows = [(1, "open the door"), (2, "open the dооr"),
            (3, "unrelated text")]
    got = {r.doc_id: r for r in homoglyph_scan(
        spark.createDataFrame(rows, "doc_id long, text string")).collect()}
    assert (got[1].n_confusables, got[1].evasion_flag,
            got[1].skeleton_owner) == (0, False, 1)
    assert (got[2].n_confusables, got[2].evasion_flag,
            got[2].skeleton_owner) == (2, True, 1)
    assert (got[3].evasion_flag, got[3].skeleton_owner) == (False, 3)


def test_profile_report_single_scan_and_values(spark):
    """Per-column metrics are exact and the whole report runs off ONE
    aggregate (one scan of the input in the plan)."""
    from big_data_hw_23_24_spark.operators.profile import profile_report

    rows = [(1, "a", None), (2, "b", 5.0), (3, "a", 7.0), (4, None, 7.0)]
    df = spark.createDataFrame(rows, "id long, s string, v double")
    rep = profile_report(df)
    got = {r.column: r for r in rep.collect()}
    assert (got["s"].n_null, got["s"].n_distinct,
            got["s"].min_value, got["s"].max_value) == (1, 2, "a", "b")
    assert (got["v"].n_null, got["v"].n_distinct) == (1, 2)
    assert got["id"].n_rows == 4
    plan = rep._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("LogicalRDD") == 1  # one scan feeds every metric


def test_validate_contracts_counts_and_flags(spark):
    from big_data_hw_23_24_spark.operators.profile import (
        validate_contracts)

    df = spark.createDataFrame([(1, 10.0), (2, -3.0), (3, 0.0)],
                               "id long, v double")
    got = {r.check_name: r for r in validate_contracts(df, {
        "v_positive": F.col("v") <= 0,
        "id_small": F.col("id") > 100}).collect()}
    assert (got["v_positive"].n_violations,
            got["v_positive"].passed) == (2, False)
    assert (got["id_small"].n_violations, got["id_small"].passed) == (0, True)


@given(n_keys=st.integers(20, 60), n_from=st.integers(2, 6))
@settings(**_SETTINGS)
def test_rendezvous_moves_keys_only_onto_new_shards(spark, n_keys, n_from):
    """The HRW minimal-movement guarantee, measured: growing N -> N+1
    moves keys ONLY onto the new shard (every surviving shard's
    moved_in is 0), and every key keeps its shard unless the new shard
    won it."""
    from big_data_hw_23_24_spark.operators.splits import (
        shard_movement_report)

    df = spark.createDataFrame([(i,) for i in range(n_keys)], "k long")
    rep = {r.shard: r for r in shard_movement_report(
        df, "k", n_from, n_from + 1).collect()}
    assert sum(r.n_at_from for r in rep.values()) == n_keys
    assert sum(r.n_at_to for r in rep.values()) == n_keys
    for s, r in rep.items():
        if s < n_from:
            assert r.moved_in == 0, (s, r)
    assert rep[n_from].moved_in == rep[n_from].n_at_to


def test_reciprocal_best_match_is_mutual(spark):
    """Every reported pair is mutual top-1; a one-directional best
    that is not reciprocated is excluded."""
    from big_data_hw_23_24_spark.operators.similarity import (
        cosine_topk, reciprocal_best_match)

    # 2-D vectors: a0~b0 mutually; b1's best is a0 but a0 prefers b0
    rows_a = [(0, [1.0, 0.0]), (10, [0.0, 1.0])]
    rows_b = [(1, [0.99, 0.1]), (2, [0.8, 0.6]), (3, [-1.0, 0.1])]
    A = spark.createDataFrame(rows_a, "vec_id long, embedding array<double>")
    B = spark.createDataFrame(rows_b, "vec_id long, embedding array<double>")
    got = {(r.id_a, r.id_b) for r in reciprocal_best_match(A, B).collect()}
    fwd = {(r.query_id, r.neighbor_id)
           for r in cosine_topk(B, A, k=1).collect()}
    back = {(r.neighbor_id, r.query_id)
            for r in cosine_topk(A, B, k=1).collect()}
    assert got == fwd & back
    assert (0, 1) in got            # mutual pair survives


def test_grouped_trend_matches_polyfit(spark):
    """Closed-form OLS equals numpy.polyfit on a known series;
    degenerate groups (constant x / constant y) report nulls by the
    regr_* convention."""
    import numpy as np

    from big_data_hw_23_24_spark.operators.grouped import grouped_trend

    xs = list(range(10))
    ys = [3.0 * x + 7 + (1 if x % 3 == 0 else -1) for x in xs]
    rows = [("a", float(x), y) for x, y in zip(xs, ys)]
    rows += [("degx", 5.0, float(v)) for v in (1, 2, 3)]   # constant x
    rows += [("degy", float(x), 4.0) for x in range(3)]    # constant y
    df = spark.createDataFrame(rows, "grp string, x double, y double")
    got = {r.grp: r for r in grouped_trend(df, "grp", "x", "y").collect()}
    slope, intercept = np.polyfit(xs, ys, 1)
    assert got["a"].slope == pytest.approx(slope, abs=1e-6)
    assert got["a"].intercept == pytest.approx(intercept, abs=1e-6)
    assert 0.98 < got["a"].r2 <= 1.0
    assert got["degx"].slope is None and got["degx"].r2 is None
    assert got["degy"].slope == 0.0 and got["degy"].r2 is None


def test_weighted_median_definition(spark):
    """The weighted median is the smallest v with cumweight*2 >= total
    — one giant row moves it where the row median never would."""
    from big_data_hw_23_24_spark.operators.grouped import (
        grouped_weighted_median)

    rows = [("s", 1, 1), ("s", 2, 1), ("s", 3, 1), ("s", 100, 97),
            ("t", 5, 2), ("t", 7, 2)]
    df = spark.createDataFrame(rows, "grp string, v int, w int")
    got = {r.grp: r for r in grouped_weighted_median(
        df, "grp", "v", "w").collect()}
    assert (got["s"].weighted_median, got["s"].total_weight) == (100, 100)
    assert (got["t"].weighted_median, got["t"].total_weight) == (5, 4)


def test_prefix_completions_ranking(spark):
    from big_data_hw_23_24_spark.operators.textstats import (
        prefix_completions)

    rows = [("key agg fast",)] * 3 + [("key all slow",)] * 3 + \
           [("key arg mid",)] * 2 + [("key ape x",)] + [("zz",)]
    df = spark.createDataFrame(rows, "text string")
    got = [(r.prefix, r.rank, r.completion, r.n) for r in
           prefix_completions(df)
           .orderBy("prefix", "rank").collect()]
    # ties on n=3 break by completion asc; k=3 drops 'key ape'
    assert got == [("key", 1, "key agg", 3), ("key", 2, "key all", 3),
                   ("key", 3, "key arg", 2)]


def test_centroid_drift_planted_and_zero(spark):
    from big_data_hw_23_24_spark.operators.similarity import (
        centroid_drift)

    base = spark.createDataFrame(
        [(i, "a" if i < 4 else "b", [1.0, 2.0, 3.0]) for i in range(8)],
        "vec_id long, label string, embedding array<double>")
    # shift label a's dim 1 by +0.5 on half its vectors -> mean +0.25
    cur = base.selectExpr(
        "vec_id", "label",
        "CASE WHEN label = 'a' AND vec_id % 2 = 0 "
        "THEN array(embedding[0], embedding[1] + 0.5, embedding[2]) "
        "ELSE embedding END AS embedding")
    got = {r.label: r for r in centroid_drift(base, cur).collect()}
    assert got["a"].top_dim == 1
    assert got["a"].l2_shift == got["a"].top_dim_shift == 0.25
    assert (got["b"].l2_shift, got["b"].top_dim,
            got["b"].top_dim_shift) == (0.0, 0, 0.0)
    assert got["a"].n_base == got["a"].n_cur == 4
