"""Operator tests for the round-13 additions (E190+)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F


# ---------------------------------------------------------------- CUSUM ----

def _daily(spark, rows):
    return spark.createDataFrame(rows, "k string, d int, y long")


def test_cusum_localizes_planted_step(spark):
    """A clean level shift 10 -> 20 after day 14 must put the argmax
    of |C_t| exactly at the last day of the old regime."""
    from big_data_hw_23_24_spark.operators.timeseries import (
        cusum_changepoint)

    rows = [("a", d, 10) for d in range(1, 15)] + \
           [("a", d, 20) for d in range(15, 29)]
    out = cusum_changepoint(_daily(spark, rows), ["k"], "d", "y").collect()
    assert len(out) == 1
    r = out[0]
    assert r.cp_day == 14
    assert r.n_days == 28
    assert r.mean_before == 10.0 and r.mean_after == 20.0
    assert r.shift == 10.0
    # normalized stat for a half-half split of size n and shift h is
    # (n/4)*h / (s*sqrt(n)); just pin that it is large
    assert r.cusum_stat > 1.4


def test_cusum_flat_series_null_stat(spark):
    """Zero variance -> no changepoint signal: stat is null by
    contract, argmax tie-breaks to the earliest day."""
    from big_data_hw_23_24_spark.operators.timeseries import (
        cusum_changepoint)

    rows = [("a", d, 7) for d in range(1, 11)]
    r = cusum_changepoint(_daily(spark, rows), ["k"], "d", "y").collect()[0]
    assert r.cusum_stat is None
    assert r.cp_day == 1  # ties (all null) -> earliest day


def test_cusum_single_day_null(spark):
    from big_data_hw_23_24_spark.operators.timeseries import (
        cusum_changepoint)

    r = cusum_changepoint(_daily(spark, [("a", 1, 5)]),
                          ["k"], "d", "y").collect()[0]
    assert r.cusum_stat is None and r.n_days == 1
    assert r.mean_before == 5.0 and r.mean_after is None


# ------------------------------------------------------------- Theil-Sen ----

def test_theilsen_exact_line_recovered(spark):
    """y = 3x + 2 exactly -> slope 3, intercept 2, all pairs agree."""
    from big_data_hw_23_24_spark.operators.timeseries import theilsen_trend

    rows = [("a", x, 3 * x + 2) for x in range(10)]
    r = theilsen_trend(_daily(spark, rows), ["k"], "d", "y").collect()[0]
    assert r.slope == 3.0 and r.intercept == 2.0
    assert r.n_pairs == 45 and r.n_days == 10


def test_theilsen_shrugs_off_outlier_where_ols_breaks(spark):
    """One corrupted day moves the OLS slope but not the pairwise
    median — the reason the robust face exists."""
    from big_data_hw_23_24_spark.operators.timeseries import theilsen_trend
    from big_data_hw_23_24_spark.operators.grouped import grouped_trend

    rows = [("a", x, 5 * x + 1) for x in range(21)]
    rows[20] = ("a", 20, 100000)  # bot flood on the last day
    # (an END-of-series outlier has maximal leverage on OLS; a
    # centered one would only move the intercept)
    daily = _daily(spark, rows)
    ts = theilsen_trend(daily, ["k"], "d", "y").collect()[0]
    ols = grouped_trend(daily.withColumnRenamed("d", "x"),
                        "k", "x", "y").collect()[0]
    assert ts.slope == 5.0
    assert abs(ols.slope - 5.0) > 100  # OLS dragged by the outlier


# ---------------------------------------------------------- Mann-Whitney ----

def test_mannwhitney_hand_computed_no_ties(spark):
    """A = {1,2,3}, B = {4,5,6}: every B beats every A, so U_a = 0,
    effect_r = 1 - 0 = 1, z = -sqrt(27/... ) computed by hand."""
    from big_data_hw_23_24_spark.operators.grouped import mann_whitney_u

    df = spark.createDataFrame(
        [(float(v), "a") for v in (1, 2, 3)]
        + [(float(v), "b") for v in (4, 5, 6)], "value double, g string")
    r = mann_whitney_u(df, "value", "g", "a", "b").collect()[0]
    assert (r.n_a, r.n_b, r.u_stat) == (3, 3, 0.0)
    assert r.effect_r == 1.0
    # z = (0 - 4.5) / sqrt(9/12 * 7) = -4.5 / sqrt(5.25)
    assert r.z == round(-4.5 / math.sqrt(5.25), 6)


def test_mannwhitney_ties_average_ranks(spark):
    """All values equal: U_a = n_a*n_b/2 via half-credit ties, z is
    null (sigma = 0 -> division yields null, not a crash)."""
    from big_data_hw_23_24_spark.operators.grouped import mann_whitney_u

    df = spark.createDataFrame(
        [(1.0, "a")] * 4 + [(1.0, "b")] * 4, "value double, g string")
    r = mann_whitney_u(df, "value", "g", "a", "b").collect()[0]
    assert r.u_stat == 8.0  # 4*4/2
    assert r.effect_r == 0.0
    assert r.z is None  # tie correction kills the variance entirely


def test_mannwhitney_symmetric(spark):
    """Swapping the arms negates z and the effect size; U_a + U_b =
    n_a * n_b."""
    from big_data_hw_23_24_spark.operators.grouped import mann_whitney_u

    rows = [(float(v), "a") for v in (1, 4, 7, 9)] + \
           [(float(v), "b") for v in (2, 3, 8)]
    df = spark.createDataFrame(rows, "value double, g string")
    ab = mann_whitney_u(df, "value", "g", "a", "b").collect()[0]
    ba = mann_whitney_u(df, "value", "g", "b", "a").collect()[0]
    assert ab.u_stat + ba.u_stat == 12.0
    assert ab.z == -ba.z and ab.effect_r == -ba.effect_r


# ------------------------------------------------------------------ Gini ----

def _units(spark, rows):
    return spark.createDataFrame(rows, "g string, id long, v long")


def test_gini_uniform_is_zero(spark):
    from big_data_hw_23_24_spark.operators.grouped import gini_concentration

    df = _units(spark, [("a", i, 50) for i in range(8)])
    r = gini_concentration(df, "g", "v", "id").collect()[0]
    assert r.gini == 0.0 and r.total_value == 400 and r.n_units == 8


def test_gini_single_owner_is_n_minus_1_over_n(spark):
    from big_data_hw_23_24_spark.operators.grouped import gini_concentration

    df = _units(spark, [("a", i, 0) for i in range(9)] + [("a", 9, 1000)])
    r = gini_concentration(df, "g", "v", "id").collect()[0]
    assert r.gini == 0.9  # (n-1)/n with n = 10


def test_gini_zero_group_null_and_groups_independent(spark):
    from big_data_hw_23_24_spark.operators.grouped import gini_concentration

    df = _units(spark, [("z", 1, 0), ("z", 2, 0),
                        ("a", 1, 10), ("a", 2, 30)])
    got = {r.g: r.gini for r in
           gini_concentration(df, "g", "v", "id").collect()}
    assert got["z"] is None
    # n=2, ranks 1,2 on (10,30): G = (2*(1*10+2*30) - 3*40)/(2*40) = 0.25
    assert got["a"] == 0.25


# ----------------------------------------------------------- TPC-H shapes ----

def test_q13_zero_bucket_counts_orderless_customers(spark):
    """Customers with no (surviving) orders must land in c_count = 0 —
    the LEFT-join-with-filter-in-ON contract."""
    from big_data_hw_23_24_spark.queries import _ensure_loaded, _REGISTRY

    _ensure_loaded()
    got = {r.c_count: r.custdist for r in
           _REGISTRY["customers_order_distribution"]
           .spark_fn(spark, "/root/testdata/sf0.001").collect()}
    import duckdb
    orderless = duckdb.sql("""
        SELECT count(*) FROM '/root/testdata/sf0.001/customer.parquet' c
        WHERE NOT EXISTS (SELECT 1
          FROM '/root/testdata/sf0.001/orders.parquet' o
          WHERE o.o_custkey = c.c_custkey
            AND o.o_orderpriority <> '1-URGENT')""").fetchone()[0]
    assert got.get(0, 0) == orderless


def test_q17_single_lineitem_scan_with_broadcast(spark):
    """The decorrelated Q17 plan: ONE lineitem scan, the filtered part
    dim broadcast, the correlated avg as a per-part Window — never a
    second scan or a per-part subquery."""
    from big_data_hw_23_24_spark.queries import _ensure_loaded, _REGISTRY

    _ensure_loaded()
    df = _REGISTRY["parts_small_qty_revenue"].spark_fn(
        spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    scans = [ln for ln in plan.splitlines()
             if "FileScan parquet" in ln and "lineitem" in ln]
    assert len(scans) == 1, plan
    assert "BroadcastHashJoin" in plan
    assert "Window" in plan


def test_q18_takeordered_and_broadcasts(spark):
    """Q18's top-20 compiles to TakeOrderedAndProject (never a global
    sort) and both dim joins broadcast."""
    from big_data_hw_23_24_spark.queries import _ensure_loaded, _REGISTRY

    _ensure_loaded()
    df = _REGISTRY["customers_large_volume"].spark_fn(
        spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert plan.count("BroadcastHashJoin") == 2
    rows = df.collect()
    assert 0 < len(rows) <= 20
    prices = [r.o_totalprice for r in rows]
    assert prices == sorted(prices, reverse=True)
    assert all(r.sum_qty > 250 for r in rows)


# ------------------------------------------------------ embeddings tier ----

def _labeled(spark, rows):
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int")


def test_hubness_planted_hub_dominates(spark, monkeypatch):
    """Standard-basis satellites are mutually orthogonal (cos 0) but
    all at cos 1/sqrt(d) to the all-ones hub: with k=1 every
    satellite's nearest neighbor IS the hub, so in-degree piles up on
    one vector and the distribution is right-skewed."""
    from big_data_hw_23_24_spark.operators import similarity
    from big_data_hw_23_24_spark.operators.similarity import hubness_report

    monkeypatch.setattr(similarity, "KNN_K", 1)
    d = 8
    rows = [(0, [1.0] * d, 0)]  # the hub
    rows += [(i, [1.0 if j == i - 1 else 0.0 for j in range(d)], 0)
             for i in range(1, d + 1)]
    r = hubness_report(_labeled(spark, rows)).collect()[0]
    assert r.n_vectors == d + 1
    assert r.max_in_degree == d  # every satellite points at the hub
    # the hub's own pick (satellite 1, the id tiebreak) gets 1; every
    # other satellite is an antihub
    assert r.n_antihubs == d - 1
    assert r.skewness is not None and r.skewness > 0


def test_prefix_dim_recall_perfect_when_suffix_is_noise_free(spark,
                                                            monkeypatch):
    """Vectors whose last half is all zeros: prefix cosine == full
    cosine, so recall must be exactly 1."""
    from big_data_hw_23_24_spark.operators import similarity
    from big_data_hw_23_24_spark.operators.similarity import (
        prefix_dim_recall)

    monkeypatch.setattr(similarity, "KNN_K", 5)
    monkeypatch.setattr(similarity, "RECALL_PREFIX_DIM", 4)
    monkeypatch.setattr(similarity, "RECALL_QUERIES", 6)
    import random
    rng = random.Random(3)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(4)] + [0.0] * 4, 0)
            for i in range(25)]
    r = prefix_dim_recall(_labeled(spark, rows)).collect()[0]
    assert r.recall == 1.0
    assert r.n_queries == 6 and r.k == 5 and r.prefix_dim == 4


def test_triplet_mining_picks_planted_structure(spark, monkeypatch):
    """Label 0: anchor + a near copy + a far same-label vector; the
    hardest positive is the FAR one. Negatives: one inside the
    semi-hard band, one closer than the positive (excluded)."""
    from big_data_hw_23_24_spark.operators import similarity
    from big_data_hw_23_24_spark.operators.similarity import triplet_mining

    monkeypatch.setattr(similarity, "TRIPLET_ANCHORS_BELOW", 1)
    rows = [
        (0, [1.0, 0.0], 0),          # anchor
        (1, [0.99, 0.1], 0),         # easy positive (high cos)
        (2, [0.0, 1.0], 0),          # hardest positive (cos 0)
        (3, [0.9, 0.5], 1),          # negative closer than pos -> excluded
        (4, [-1.0, 0.2], 1),         # semi-hard negative (cos < 0)
    ]
    got = {r.anchor_id: r for r in
           triplet_mining(_labeled(spark, rows)).collect()}
    t = got[0]
    assert t.pos_id == 2 and t.pos_cos == 0.0
    assert t.neg_id == 4  # id 3 has cos > pos_cos, not semi-hard
    assert t.neg_cos < 0 and t.margin == t.pos_cos - t.neg_cos


def test_triplet_mining_no_semihard_keeps_anchor_with_nulls(spark,
                                                           monkeypatch):
    from big_data_hw_23_24_spark.operators import similarity
    from big_data_hw_23_24_spark.operators.similarity import triplet_mining

    monkeypatch.setattr(similarity, "TRIPLET_ANCHORS_BELOW", 1)
    rows = [
        (0, [1.0, 0.0], 0),
        (1, [0.0, 1.0], 0),       # positive at cos 0
        (2, [1.0, 0.01], 1),      # every negative closer than the positive
    ]
    t = triplet_mining(_labeled(spark, rows)).collect()[0]
    assert t.pos_id == 1 and t.neg_id is None and t.margin is None


def test_rp_distortion_ratios_bracket_one(spark, monkeypatch):
    """JL with +-1 signs: ratios concentrate around 1; the mean over
    pairs must land inside [min, max] and near 1."""
    from big_data_hw_23_24_spark.operators import similarity
    from big_data_hw_23_24_spark.operators.similarity import rp_distortion

    monkeypatch.setattr(similarity, "RP_TARGET_DIM", 8)
    monkeypatch.setattr(similarity, "RP_OFFSETS", (1, 5))
    import random
    rng = random.Random(11)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(32)], 0)
            for i in range(60)]
    r = rp_distortion(_labeled(spark, rows)).collect()[0]
    assert r.n_pairs == 59 + 55
    assert r.min_ratio <= r.mean_ratio <= r.max_ratio
    assert 0.5 < r.mean_ratio < 1.5
    assert r.min_ratio > 0


def test_rp_distortion_deterministic_across_runs(spark, monkeypatch):
    from big_data_hw_23_24_spark.operators import similarity
    from big_data_hw_23_24_spark.operators.similarity import rp_distortion

    monkeypatch.setattr(similarity, "RP_TARGET_DIM", 4)
    monkeypatch.setattr(similarity, "RP_OFFSETS", (1,))
    rows = [(i, [float((i * 7 + j * 3) % 5 - 2) for j in range(16)], 0)
            for i in range(20)]
    a = rp_distortion(_labeled(spark, rows)).collect()[0]
    b = rp_distortion(_labeled(spark, rows)).collect()[0]
    assert a == b


# ------------------------------------------------------------ graph tier ----

def test_assortativity_star_is_negative_one(spark):
    """A star graph is the textbook disassortative extreme: r = -1
    (hub degree n-1 always pairs with leaf degree 1)."""
    from big_data_hw_23_24_spark.operators.graph import degree_assortativity

    edges = spark.createDataFrame([(0, i) for i in range(1, 7)],
                                  "src long, dst long")
    r = degree_assortativity(edges).collect()[0]
    assert r.assortativity == -1.0
    assert r.n_nodes == 7 and r.n_edges == 6


def test_assortativity_cycle_degenerate_null(spark):
    """A cycle has every degree equal -> zero variance -> null by
    contract."""
    from big_data_hw_23_24_spark.operators.graph import degree_assortativity

    n = 5
    edges = spark.createDataFrame([(i, (i + 1) % n) for i in range(n)],
                                  "src long, dst long")
    r = degree_assortativity(edges).collect()[0]
    assert r.assortativity is None
    assert r.n_nodes == n and r.n_edges == n


# ---------------------------------------------------------------- JSD ----

def _docs(spark, rows):
    return spark.createDataFrame(rows, "source string, text string")


def test_jsd_identical_sources_zero(spark):
    from big_data_hw_23_24_spark.operators.textstats import (
        source_jsd_matrix)

    df = _docs(spark, [("a", "x y z x"), ("b", "x y z x")])
    r = source_jsd_matrix(df).collect()[0]
    assert (r.source_a, r.source_b) == ("a", "b")
    assert r.jsd == 0.0  # identical counts AND totals -> p == q per word
    assert r.n_union == 3


def test_jsd_disjoint_vocab_near_ln2_and_symmetric_bounds(spark):
    import math

    from big_data_hw_23_24_spark.operators.textstats import (
        source_jsd_matrix)

    # each word 20x: with add-one smoothing a count-1 word is mostly
    # smoothing mass (p ~ 2/(T+V) vs q ~ 1/(T+V)), so disjoint vocab
    # needs real counts to read as divergent — exactly the behavior
    # the smoothing is supposed to have on hapax noise
    df = _docs(spark, [
        ("a", " ".join([f"w{i}" for i in range(50)] * 20)),
        ("b", " ".join([f"v{i}" for i in range(50)] * 20))])
    r = source_jsd_matrix(df).collect()[0]
    assert 0 < r.jsd <= math.log(2) + 1e-9
    assert r.jsd > 0.2  # disjoint vocab with real mass -> divergent
    assert r.n_union == 100


def test_jsd_pair_count_is_choose_2(spark):
    from big_data_hw_23_24_spark.operators.textstats import (
        source_jsd_matrix)

    df = _docs(spark, [(f"s{i}", "alpha beta gamma") for i in range(4)])
    rows = source_jsd_matrix(df).collect()
    assert len(rows) == 6  # C(4,2), unordered, a < b
    assert all(r.source_a < r.source_b for r in rows)
    assert all(r.jsd == 0.0 for r in rows)  # identical distributions


# ----------------------------------------------------- peak concurrency ----

def test_peak_concurrency_hand_layout(spark):
    """Three users: A 00:00-00:10, B 00:05-00:12, C 00:11-00:15.
    End-exclusive sweep: peak 2 at 00:05 (A+B); at 00:10 A's -1
    lands before C's +1 (11 > 10), so 3-way overlap never happens."""
    from big_data_hw_23_24_spark.operators.timeseries import (
        peak_concurrency)

    base = "2024-03-01 00:"
    rows = [
        (1, 10, f"{base}00:00"), (1, 11, f"{base}10:00"),
        (2, 20, f"{base}05:00"), (2, 21, f"{base}12:00"),
        (3, 30, f"{base}11:00"), (3, 31, f"{base}15:00"),
    ]
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.createDataFrame(rows, "user_id long, event_id long, s string") \
        .select("user_id", "event_id",
                F.col("s").cast("timestamp").alias("ts"))
    r = peak_concurrency(df).collect()
    assert len(r) == 1
    assert r[0].day == "2024-03-01"
    assert r[0].peak == 2
    assert r[0].peak_minute == "00:05"


def test_peak_concurrency_end_exclusive_touching_sessions(spark):
    """B starts exactly when A ends: -1 sorts first at the tick, so
    concurrency never reads 2."""
    from big_data_hw_23_24_spark.operators.timeseries import (
        peak_concurrency)

    rows = [
        (1, 1, "2024-03-02 08:00:00"), (1, 2, "2024-03-02 08:20:00"),
        (2, 3, "2024-03-02 08:20:00"), (2, 4, "2024-03-02 08:40:00"),
    ]
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.createDataFrame(rows, "user_id long, event_id long, s string") \
        .select("user_id", "event_id",
                F.col("s").cast("timestamp").alias("ts"))
    r = peak_concurrency(df).collect()
    assert r[0].peak == 1


# ------------------------------------------------------------- FK audit ----

def test_fk_audit_counts_planted_orphans_and_nulls(spark):
    from big_data_hw_23_24_spark.operators.profile import fk_orphan_audit

    child = spark.createDataFrame(
        [(1,), (2,), (3,), (None,)], "fk long")
    parent = spark.createDataFrame([(1,), (2,)], "pk long")
    r = fk_orphan_audit(
        [(child, "fk", "child", parent, "pk", "parent")]).collect()[0]
    assert r.n_child_rows == 4
    assert r.n_orphans == 2  # the missing key AND the null
    assert r.orphan_share == 0.5
    assert r.passed is False


def test_fk_audit_clean_edge_passes(spark):
    from big_data_hw_23_24_spark.operators.profile import fk_orphan_audit

    child = spark.createDataFrame([(1,), (1,), (2,)], "fk long")
    parent = spark.createDataFrame([(1,), (2,), (3,)], "pk long")
    r = fk_orphan_audit(
        [(child, "fk", "child", parent, "pk", "parent")]).collect()[0]
    assert r.n_orphans == 0 and r.passed is True and r.orphan_share == 0.0


# ------------------------------------------------------------- pinned HLL ----

def test_hll_registers_merge_equals_whole(spark):
    """Registers of a union == per-bucket max of partial registers —
    the property that makes any sketch scale."""
    from big_data_hw_23_24_spark.operators.frequent import hll_registers

    rows_a = [("g", i) for i in range(200)]
    rows_b = [("g", i) for i in range(150, 400)]
    a = spark.createDataFrame(rows_a, "grp string, item long")
    b = spark.createDataFrame(rows_b, "grp string, item long")
    whole = hll_registers(a.unionByName(b), "item", "grp", p=4)
    merged = (hll_registers(a, "item", "grp", p=4)
              .unionByName(hll_registers(b, "item", "grp", p=4))
              .groupBy("grp", "bucket")
              .agg(F.max("rho").cast("long").alias("rho")))
    got = sorted(map(tuple, whole.collect()))
    want = sorted(map(tuple, merged.collect()))
    assert got == want


def test_hll_estimate_within_stderr(spark, monkeypatch):
    """n=2000 distinct at m=256: the estimate must land within ~5
    standard errors (1.04/sqrt(m) ~ 6.5%) of the truth."""
    from big_data_hw_23_24_spark.operators import frequent
    from big_data_hw_23_24_spark.operators.frequent import hll_report

    monkeypatch.setattr(frequent, "HLL_PS", (8,))
    df = spark.createDataFrame([("g", i) for i in range(2000)],
                               "grp string, item long")
    r = {row.m: row for row in
         hll_report(df, "item", "grp").collect()}
    row = r[256]
    assert row.n_exact == 2000
    assert abs(row.rel_err) < 5 * 1.04 / (256 ** 0.5)


def test_hll_linear_counting_small_n(spark, monkeypatch):
    """n=30 at m=4096: the small-range branch (linear counting) is
    near-exact — most registers empty, est ~ m ln(m/V)."""
    from big_data_hw_23_24_spark.operators import frequent
    from big_data_hw_23_24_spark.operators.frequent import hll_report

    monkeypatch.setattr(frequent, "HLL_PS", (12,))
    df = spark.createDataFrame([("g", i) for i in range(30)],
                               "grp string, item long")
    row = hll_report(df, "item", "grp").collect()[0]
    assert row.n_exact == 30
    assert abs(row.rel_err) < 0.1  # LC is tight when n << m


def test_hll_duplicates_dont_move_registers(spark, monkeypatch):
    from big_data_hw_23_24_spark.operators import frequent
    from big_data_hw_23_24_spark.operators.frequent import hll_report

    monkeypatch.setattr(frequent, "HLL_PS", (8,))
    once = spark.createDataFrame([("g", i) for i in range(500)],
                                 "grp string, item long")
    thrice = once.unionByName(once).unionByName(once)
    a = hll_report(once, "item", "grp").collect()[0]
    b = hll_report(thrice, "item", "grp").collect()[0]
    assert a.est == b.est and a.n_exact == b.n_exact


# ------------------------------------------------------------ rec hitrate ----

def test_rec_hitrate_planted_pattern(spark):
    """Train: many users touch {1, 2} together; user 99 touched only
    item 1. Test: user 99 touches item 2 -> that pair must be a hit
    (2 is in item 1's top-k)."""
    from big_data_hw_23_24_spark.operators.graph import rec_hitrate

    rows = []
    eid = 0
    for u in range(10):  # co-occurrence mass for (1, 2)
        for it in (1, 2):
            eid += 1
            rows.append((u, eid, f"2024-01-0{(u % 5) + 1} 10:00:00", it))
    eid += 1
    rows.append((99, eid, "2024-01-03 10:00:00", 1))  # train: item 1 only
    eid += 1
    rows.append((99, eid, "2024-01-28 10:00:00", 2))  # test: item 2
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, s string, item long") \
        .select("user_id", "event_id",
                F.col("s").cast("timestamp").alias("ts"), "item")
    r = rec_hitrate(df, split_day=25).collect()[0]
    assert r.n_test_pairs == 1
    assert r.n_hits == 1
    assert r.hitrate == 1.0


def test_rec_hitrate_train_items_not_counted(spark):
    """A test interaction with an item the user already touched in
    train is excluded from the denominator entirely."""
    from big_data_hw_23_24_spark.operators.graph import rec_hitrate

    rows = []
    eid = 0
    for u in range(6):
        for it in (1, 2):
            eid += 1
            rows.append((u, eid, "2024-01-02 09:00:00", it))
    # user 5 re-touches item 1 (already in their train set) in test
    rows.append((5, 999, "2024-01-27 09:00:00", 1))
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, s string, item long") \
        .select("user_id", "event_id",
                F.col("s").cast("timestamp").alias("ts"), "item")
    r = rec_hitrate(df, split_day=25).collect()[0]
    assert r.n_test_pairs == 0 and r.n_hits == 0
    assert r.hitrate is None  # 0/0 -> null by ANSI division contract


# ------------------------------------------------------- retrieval MRR ----

def test_origin_eval_perfect_on_unique_vocab(spark, monkeypatch):
    """Docs with disjoint vocabularies: each query's terms occur only
    in its source doc, so recall = 1 and MRR = 1e6 (rank 1 always)."""
    from big_data_hw_23_24_spark.operators import retrieval
    from big_data_hw_23_24_spark.operators.retrieval import (
        origin_retrieval_eval)

    monkeypatch.setattr(retrieval, "ORIGIN_EVERY", 10)
    rows = [(i, " ".join(f"w{i}_{j}" for j in range(20)))
            for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    r = origin_retrieval_eval(df).collect()[0]
    assert r.n_queries == 4  # doc_ids 3, 13, 23, 33
    assert r.n_found == 4
    assert r.recall_at_k == 1.0
    assert r.mrr_ppm == 1_000_000


def test_origin_eval_misses_count_zero(spark, monkeypatch):
    """A query doc whose span words are SHARED boilerplate occurring
    in every doc can rank below k; the miss contributes 0, not a
    dropped row."""
    from big_data_hw_23_24_spark.operators import retrieval
    from big_data_hw_23_24_spark.operators.retrieval import (
        origin_retrieval_eval)

    monkeypatch.setattr(retrieval, "ORIGIN_K", 3)
    monkeypatch.setattr(retrieval, "ORIGIN_EVERY", 10)
    common = " ".join(f"tok{j % 16}" for j in range(20))  # >= 13 words
    rows = [(i, common) for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    r = origin_retrieval_eval(df).collect()[0]
    assert r.n_queries == 3
    # identical docs -> scores all tie -> the doc_id-asc top-3 is
    # {0, 1, 2} for EVERY query; sources 3/13/23 all miss, yet the
    # denominator keeps all three queries
    assert r.n_found == 0 and r.recall_at_k == 0.0 and r.mrr_ppm == 0


# ------------------------------------------------- quantile normalization ----

def test_quantile_normalize_identical_groups_fixed_point(spark):
    """Two groups with the SAME distribution: normalization maps each
    value near itself (mid-rank vs pooled interpolation), preserving
    order exactly."""
    from big_data_hw_23_24_spark.operators.selection import (
        quantile_normalize)

    rows = [(g, i, v) for g in ("a", "b")
            for i, v in enumerate([10, 20, 30, 40, 50])]
    df = spark.createDataFrame(rows, "g string, id long, v long")
    out = {(r.g, r.id): r.normalized for r in
           quantile_normalize(df, "g", "v", "id").collect()}
    for g in ("a", "b"):
        vals = [out[(g, i)] for i in range(5)]
        assert vals == sorted(vals)  # monotone within group
    # same distribution -> both groups normalize identically
    assert all(out[("a", i)] == out[("b", i)] for i in range(5))


def test_quantile_normalize_shifts_biased_group_onto_pool(spark):
    """Group b = group a shifted +1000: after normalization the two
    groups' value SETS coincide (rank k of a maps to the same pooled
    quantile as rank k of b)."""
    from big_data_hw_23_24_spark.operators.selection import (
        quantile_normalize)

    rows = [("a", i, 10 * (i + 1)) for i in range(6)] + \
           [("b", i, 1000 + 10 * (i + 1)) for i in range(6)]
    df = spark.createDataFrame(rows, "g string, id long, v long")
    out = {(r.g, r.id): r.normalized for r in
           quantile_normalize(df, "g", "v", "id").collect()}
    assert all(out[("a", i)] == out[("b", i)] for i in range(6))


def test_quantile_normalize_single_row_group(spark):
    from big_data_hw_23_24_spark.operators.selection import (
        quantile_normalize)

    df = spark.createDataFrame([("a", 1, 5), ("a", 2, 15), ("z", 9, 7)],
                               "g string, id long, v long")
    rows = quantile_normalize(df, "g", "v", "id").collect()
    assert len(rows) == 3
    z = [r for r in rows if r.g == "z"][0]
    # n=1 -> p=0.5 -> pooled median of {5,7,15} = 7
    assert z.normalized == 7.0


# ---------------------------------------------------------------- IVM join ----

def _join_view(fact, dim):
    """The view ``ivm_join_view`` maintains, recomputed directly."""
    return (fact.join(dim, fact["fk"] == dim["k"]).groupBy("g")
            .agg(F.count("*").cast("long").alias("n_rows"),
                 F.sum("v").cast("long").alias("total_value")))


def test_ivm_join_view_fk_move_hits_two_groups(spark):
    """A fact row whose FK moves between snapshots decrements the old
    group and increments the new one."""
    from big_data_hw_23_24_spark.operators.diff import ivm_join_view

    dim = spark.createDataFrame([(1, "g1"), (2, "g2")], "k long, g string")
    old = spark.createDataFrame([(100, 1, 50), (101, 2, 30)],
                                "id long, fk long, v long")
    new = spark.createDataFrame([(100, 2, 50), (101, 2, 30)],
                                "id long, fk long, v long")
    got = {r.g: (r.n_rows, r.total_value) for r in
           ivm_join_view(old, new, dim, "id", "fk", "k", "g", "v",
                         _join_view(old, dim)).collect()}
    assert "g1" not in got  # count reached zero -> row drops
    assert got["g2"] == (2, 80)


def test_ivm_join_view_matches_full_recompute(spark):
    """Randomized churn: the maintained view must equal the direct
    recompute on the new snapshot, row for row."""
    import random

    from big_data_hw_23_24_spark.operators.diff import ivm_join_view

    rng = random.Random(5)
    dim = spark.createDataFrame([(k, f"g{k % 4}") for k in range(12)],
                                "k long, g string")
    old_rows = [(i, rng.randrange(12), rng.randrange(100))
                for i in range(80)]
    new_rows = [(i, rng.randrange(12), rng.randrange(100))
                if rng.random() < 0.3 else r
                for i, r in enumerate(old_rows) if rng.random() < 0.9]
    new_rows += [(1000 + j, rng.randrange(12), rng.randrange(100))
                 for j in range(15)]
    old = spark.createDataFrame(old_rows, "id long, fk long, v long")
    new = spark.createDataFrame(new_rows, "id long, fk long, v long")
    got = sorted(map(tuple,
                     ivm_join_view(old, new, dim, "id", "fk", "k",
                                   "g", "v", _join_view(old, dim))
                     .collect()))
    want = sorted(map(tuple, _join_view(new, dim).collect()))
    assert got == want


def test_ivm_join_view_maintained_table_mode(spark):
    """The maintained old view plus a modify, a removal and an
    addition gives the new snapshot's view."""
    from big_data_hw_23_24_spark.operators.diff import ivm_join_view

    dim = spark.createDataFrame([(1, "a"), (2, "b")], "k long, g string")
    old = spark.createDataFrame([(1, 1, 10), (2, 2, 20)],
                                "id long, fk long, v long")
    new = spark.createDataFrame([(1, 1, 15), (3, 2, 5)],
                                "id long, fk long, v long")
    prod = ivm_join_view(old, new, dim, "id", "fk", "k", "g", "v",
                         _join_view(old, dim))
    assert sorted(map(tuple, prod.collect())) == [("a", 1, 15),
                                                  ("b", 1, 5)]


# ----------------------------------------------------------------- Hilbert ----

def _xy2d_ref(order, x, y):
    d = 0
    s = order // 2
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x = s - 1 - x
                y = s - 1 - y
            x, y = y, x
        s //= 2
    return d


def test_hilbert_matches_reference_exhaustively(spark, monkeypatch):
    """The automaton join chain reproduces the textbook rotate-and-
    flip xy2d on the full 32x32 grid (5 bits)."""
    from big_data_hw_23_24_spark.operators import layout
    from big_data_hw_23_24_spark.operators.layout import with_hilbert

    n = 32
    monkeypatch.setattr(layout, "AUDIT_BITS", 5)
    df = spark.createDataFrame([(x, y) for x in range(n)
                                for y in range(n)], "x long, y long")
    got = {(r.x, r.y): r.h for r in
           with_hilbert(df, "x", "y", out_col="h").collect()}
    assert all(got[(x, y)] == _xy2d_ref(n, x, y)
               for x in range(n) for y in range(n))


def test_hilbert_locality_no_seams(spark, monkeypatch):
    """Consecutive Hilbert indexes are ALWAYS grid neighbors (step
    distance 1) — the locality property Z-order lacks (Morton seams
    jump across the space)."""
    from big_data_hw_23_24_spark.operators import layout
    from big_data_hw_23_24_spark.operators.layout import with_hilbert

    n = 16
    monkeypatch.setattr(layout, "AUDIT_BITS", 4)
    df = spark.createDataFrame([(x, y) for x in range(n)
                                for y in range(n)], "x long, y long")
    pts = sorted((r.h, r.x, r.y) for r in
                 with_hilbert(df, "x", "y", out_col="h")
                 .collect())
    assert [h for h, _, _ in pts] == list(range(n * n))  # a bijection
    steps = [abs(pts[i + 1][1] - pts[i][1])
             + abs(pts[i + 1][2] - pts[i][2]) for i in range(len(pts) - 1)]
    assert all(s == 1 for s in steps)


# ------------------------------------------------------- late-data audit ----

def test_late_audit_protocol_rule(spark):
    """Pins the empirically derived watermark protocol the oracle
    encodes: eviction at the reported watermark, the late-row filter
    lagging ONE batch behind it, never-finalized tails withheld.

    Layout (5 batches of 2, 15-min windows, 30-min delay):
      b0: 10:00, 10:05      b1: 11:00, 10:01      b2: 12:00, 10:02
      b3: 12:30, 11:59      b4: 13:00, 10:03
    wm(b2) = 11:00-30m = 10:30 > window(10:00).end — yet the 10:02
    row lands (filter lags); the 10:03 row at b4 (filter wm 11:30)
    is dropped; 12:30/13:00 windows never finalize.
    """
    import tempfile

    from big_data_hw_23_24_spark.streaming.replay import (
        replay_shuffle_cap, write_microbatches)

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    rows = [
        (0, 1, "2024-01-01 10:00:00"), (1, 2, "2024-01-01 10:05:00"),
        (2, 3, "2024-01-01 11:00:00"), (3, 4, "2024-01-01 10:01:00"),
        (4, 5, "2024-01-01 12:00:00"), (5, 6, "2024-01-01 10:02:00"),
        (6, 7, "2024-01-01 12:30:00"), (7, 8, "2024-01-01 11:59:00"),
        (8, 9, "2024-01-01 13:00:00"), (9, 10, "2024-01-01 10:03:00"),
    ]
    df = spark.createDataFrame(rows, "seq long, event_id long, s string") \
        .select("seq", "event_id", F.col("s").cast("timestamp").alias("ts"))
    d = tempfile.mkdtemp(prefix="wm_rule_")
    glob = write_microbatches(df, d, n_buckets=5)
    src = (spark.readStream.schema("seq long, event_id long, ts timestamp")
           .option("maxFilesPerTrigger", 1).parquet(glob))
    agg = (src.withWatermark("ts", "30 minutes")
           .groupBy(F.window("ts", "15 minutes").alias("w"))
           .agg(F.sort_array(F.collect_list("event_id")).alias("ids")))
    with replay_shuffle_cap(spark):
        q = (agg.writeStream.format("memory").queryName("wm_rule")
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)
    got = {str(r.start): list(r.ids) for r in
           spark.sql("SELECT w.start AS start, ids FROM wm_rule").collect()}
    assert got == {
        "2024-01-01 10:00:00": [1, 2, 4, 6],  # 6 in DESPITE wm > end
        "2024-01-01 11:00:00": [3],
        "2024-01-01 11:45:00": [8],
        "2024-01-01 12:00:00": [5],
        # 10 dropped (lagged filter passed); 7, 9 never finalized
    }


def test_late_audit_runs_and_counts(spark):
    from big_data_hw_23_24_spark.streaming.late_audit import (
        run_late_data_audit)
    from big_data_hw_23_24_spark.sources.tables import load_table

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    out = run_late_data_audit(spark, ev).collect()
    assert len(out) > 0
    assert all(r.n_events > 0 for r in out)
    # heavy lateness by construction: far fewer counted than ingested
    assert sum(r.n_events for r in out) < ev.count()


def test_hilbert_chunk_table_matches_python_reference(spark):
    """The JVM-side chunk-table builder (range + per-level joins)
    reproduces the Python composition exactly."""
    from big_data_hw_23_24_spark.operators.layout import (
        _hilbert_chunk_table, _hilbert_chunk_table_df)

    for c in (2, 4):
        got = sorted(map(tuple, _hilbert_chunk_table_df(spark, c).collect()))
        assert got == sorted(_hilbert_chunk_table(c)), f"c={c}"


# -------------------------------------------------------------- chi-square ----

def test_chisq_hand_computed_2x2(spark):
    """2x2 with counts [[10, 20], [20, 10]]: X^2 = 60*(10*10-20*20)^2
    / (30*30*30*30) = 20/3; V = sqrt((20/3)/60)."""
    import math

    from big_data_hw_23_24_spark.operators.grouped import (
        chisq_independence)

    rows = ([("a", "x")] * 10 + [("a", "y")] * 20
            + [("b", "x")] * 20 + [("b", "y")] * 10)
    df = spark.createDataFrame(rows, "r string, c string")
    out = chisq_independence(df, "r", "c").collect()[0]
    assert out.n == 60 and out.dof == 1
    assert out.chi2 == round(20 / 3, 6)
    assert out.cramers_v == round(math.sqrt((20 / 3) / 60), 6)


def test_chisq_independent_table_zero(spark):
    """A perfectly proportional table has X^2 exactly 0."""
    from big_data_hw_23_24_spark.operators.grouped import (
        chisq_independence)

    rows = ([("a", "x")] * 4 + [("a", "y")] * 8
            + [("b", "x")] * 2 + [("b", "y")] * 4)
    df = spark.createDataFrame(rows, "r string, c string")
    out = chisq_independence(df, "r", "c").collect()[0]
    assert out.chi2 == 0.0 and out.cramers_v == 0.0


def test_chisq_degenerate_single_level_null(spark):
    from big_data_hw_23_24_spark.operators.grouped import (
        chisq_independence)

    df = spark.createDataFrame([("a", "x"), ("a", "y"), ("a", "x")],
                               "r string, c string")
    out = chisq_independence(df, "r", "c").collect()[0]
    assert out.dof == 0 and out.chi2 is None and out.cramers_v is None


# ------------------------------------------- TPC-H completion quintet ----

def test_q2_rows_are_exactly_the_per_part_min(spark):
    """Every returned (part, unit_cost) must equal that part's min
    EUROPE unit cost, and every min-achieving supplier must appear
    (ties returned, as Q2 specifies) — checked against an independent
    DuckDB recompute of the correlated form's inner scalar."""
    from big_data_hw_23_24_spark.queries import _ensure_loaded, _REGISTRY

    _ensure_loaded()
    rows = (_REGISTRY["parts_min_cost_supplier"]
            .spark_fn(spark, "/root/testdata/sf0.001").collect())
    assert rows
    import duckdb
    mins = dict(duckdb.sql("""
        SELECT l.l_partkey, round(min(l.l_extendedprice / l.l_quantity), 2)
        FROM '/root/testdata/sf0.001/lineitem.parquet' l
        JOIN '/root/testdata/sf0.001/supplier.parquet' s
          ON s.s_suppkey = l.l_suppkey
        JOIN '/root/testdata/sf0.001/nation.parquet' n
          ON n.n_nationkey = s.s_nationkey
        JOIN '/root/testdata/sf0.001/region.parquet' r
          ON r.r_regionkey = n.n_regionkey
        WHERE r.r_name = 'EUROPE'
        GROUP BY 1""").fetchall())
    for r in rows:
        assert r.unit_cost == mins[r.p_partkey]


def test_q2_one_lineitem_scan_window_and_broadcasts(spark):
    """The decorrelated Q2 plan: ONE lineitem scan, part and the
    supplier-nation-region side both broadcast, the correlated min as
    a per-part Window — never a second scan."""
    from big_data_hw_23_24_spark.queries import _ensure_loaded, _REGISTRY

    _ensure_loaded()
    df = _REGISTRY["parts_min_cost_supplier"].spark_fn(
        spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    scans = [ln for ln in plan.splitlines()
             if "FileScan parquet" in ln and "lineitem" in ln]
    assert len(scans) == 1, plan
    assert plan.count("BroadcastHashJoin") >= 2
    assert "Window" in plan


def test_q11_threshold_is_exact_and_two_sided(spark):
    """The Q11 cut (value * n_parts > 2 * total) must keep exactly the
    parts DuckDB keeps — and at least one part must fall on each side
    so the HAVING is non-vacuous."""
    from big_data_hw_23_24_spark.queries import _ensure_loaded, _REGISTRY

    _ensure_loaded()
    got = {r.p_partkey: r.value_cents for r in
           _REGISTRY["parts_value_share"]
           .spark_fn(spark, "/root/testdata/sf0.001").collect()}
    import duckdb
    vals = dict(duckdb.sql("""
        SELECT l.l_partkey,
               sum(CAST(round(l.l_extendedprice*(1-l.l_discount)*100)
                        AS BIGINT))::BIGINT
        FROM '/root/testdata/sf0.001/lineitem.parquet' l
        JOIN '/root/testdata/sf0.001/supplier.parquet' s
          ON s.s_suppkey = l.l_suppkey
        JOIN '/root/testdata/sf0.001/nation.parquet' n
          ON n.n_nationkey = s.s_nationkey
        JOIN '/root/testdata/sf0.001/region.parquet' r
          ON r.r_regionkey = n.n_regionkey
        WHERE r.r_name = 'ASIA' GROUP BY 1""").fetchall())
    total, np_ = sum(vals.values()), len(vals)
    want = {k: v for k, v in vals.items() if v * np_ > 2 * total}
    assert got == want
    assert 0 < len(want) < np_  # both sides of the cut populated


def test_q15_returns_exactly_the_argmax_set(spark):
    """Max-revenue equality on exact integer cents: the returned
    suppliers are exactly DuckDB's argmax set."""
    from big_data_hw_23_24_spark.queries import _ensure_loaded, _REGISTRY

    _ensure_loaded()
    rows = (_REGISTRY["supplier_top_revenue"]
            .spark_fn(spark, "/root/testdata/sf0.001").collect())
    assert rows
    import duckdb
    want = duckdb.sql("""
        WITH revenue AS (
          SELECT l_suppkey,
                 sum(CAST(round(l_extendedprice*(1-l_discount)*100)
                          AS BIGINT)) AS total
          FROM '/root/testdata/sf0.001/lineitem.parquet'
          WHERE l_shipdate >= TIMESTAMP '1996-01-01'
            AND l_shipdate < TIMESTAMP '1996-04-01'
          GROUP BY 1)
        SELECT l_suppkey FROM revenue
        WHERE total = (SELECT max(total) FROM revenue)""").fetchall()
    assert {r.s_suppkey for r in rows} == {w[0] for w in want}


def test_q20_share_threshold_and_grid_window(spark):
    """Dominance is per-part: a supplier counts once per part whose
    total it exceeds 20% of; the window must run over the AGGREGATED
    grid, after the single lineitem scan."""
    from big_data_hw_23_24_spark.queries import _ensure_loaded, _REGISTRY

    _ensure_loaded()
    df = _REGISTRY["suppliers_dominant_share"].spark_fn(
        spark, "/root/testdata/sf0.001")
    # read the plan BEFORE materializing: after collect, AQE's
    # toString appends the Initial Plan section, double-counting scans
    plan = df._jdf.queryExecution().executedPlan().toString()
    rows = df.collect()
    assert rows
    import duckdb
    want = dict(duckdb.sql("""
        SELECT l_suppkey, count(*)::BIGINT FROM (
          SELECT l.l_partkey, l.l_suppkey
          FROM '/root/testdata/sf0.001/lineitem.parquet' l
          JOIN '/root/testdata/sf0.001/part.parquet' p
            ON p.p_partkey = l.l_partkey
          WHERE p.p_name LIKE 'red%'
          GROUP BY 1, 2
          HAVING 5 * sum(CAST(l.l_quantity AS BIGINT)) > (
            SELECT sum(CAST(l2.l_quantity AS BIGINT))
            FROM '/root/testdata/sf0.001/lineitem.parquet' l2
            WHERE l2.l_partkey = l.l_partkey)
        ) GROUP BY 1""").fetchall())
    assert {r.s_suppkey: r.n_parts for r in rows} == want
    scans = [ln for ln in plan.splitlines()
             if "FileScan parquet" in ln and "lineitem" in ln]
    assert len(scans) == 1, plan
    assert "Window" in plan


def test_q22_anti_join_excludes_recent_orderers(spark):
    """The dormancy anti-join must be live: no returned segment count
    may include a customer with an order on/after the cutoff, and the
    threshold keeps only above-average positive balances (strict >,
    cross-multiplied exact cents)."""
    from big_data_hw_23_24_spark.queries import _ensure_loaded, _REGISTRY

    _ensure_loaded()
    got = {r.c_mktsegment: (r.numcust, r.totacctbal) for r in
           _REGISTRY["customers_dormant_rich"]
           .spark_fn(spark, "/root/testdata/sf0.001").collect()}
    assert got
    import duckdb
    want = {seg: (n, t) for seg, n, t in duckdb.sql("""
        WITH pos AS (
          SELECT count(*)::BIGINT AS n,
                 sum(CAST(round(c_acctbal*100) AS BIGINT)) AS s
          FROM '/root/testdata/sf0.001/customer.parquet'
          WHERE c_acctbal > 0)
        SELECT c.c_mktsegment, count(*)::BIGINT,
               round(sum(CAST(round(c.c_acctbal*100) AS BIGINT))
                     / 100.0, 2)
        FROM '/root/testdata/sf0.001/customer.parquet' c, pos
        WHERE CAST(round(c.c_acctbal*100) AS BIGINT) * pos.n > pos.s
          AND NOT EXISTS (
            SELECT 1 FROM '/root/testdata/sf0.001/orders.parquet' o
            WHERE o.o_custkey = c.c_custkey
              AND o.o_orderdate >= TIMESTAMP '2000-01-01')
        GROUP BY 1""").fetchall()}
    assert got == want
    # the anti-join actually removed someone: rich customers overall
    # outnumber the dormant-rich ones
    rich_total = duckdb.sql("""
        WITH pos AS (
          SELECT count(*)::BIGINT AS n,
                 sum(CAST(round(c_acctbal*100) AS BIGINT)) AS s
          FROM '/root/testdata/sf0.001/customer.parquet'
          WHERE c_acctbal > 0)
        SELECT count(*) FROM '/root/testdata/sf0.001/customer.parquet' c,
             pos
        WHERE CAST(round(c.c_acctbal*100) AS BIGINT) * pos.n
              > pos.s""").fetchone()[0]
    assert rich_total > sum(n for n, _ in got.values())


# -------------------------------------------------------------- Spearman ----

def _xy(spark, rows):
    return spark.createDataFrame(rows, "g string, x double, y double, id int")


def test_spearman_perfect_monotone(spark):
    """Any monotone map of x must give rho = 1 exactly; reversed
    order gives -1."""
    from big_data_hw_23_24_spark.operators.grouped import spearman_corr

    rows = [("up", float(i), float(i * i * i), i) for i in range(1, 9)] + \
           [("down", float(i), float(-i * i * i), i + 100)
            for i in range(1, 9)]
    got = {r.g: r.rho for r in
           spearman_corr(_xy(spark, rows), "g", "x", "y", "id").collect()}
    assert got["up"] == 1.0
    assert got["down"] == -1.0


def test_spearman_ties_midrank_hand_value(spark):
    """Tied values take mid-ranks: x = (1,2,3,4), y = (10,20,20,30)
    -> y mid-ranks (1, 2.5, 2.5, 4); rho = Pearson on ranks =
    0.9486833 at 6dp (hand-computed)."""
    from big_data_hw_23_24_spark.operators.grouped import spearman_corr

    rows = [("a", 1.0, 10.0, 1), ("a", 2.0, 20.0, 2),
            ("a", 3.0, 20.0, 3), ("a", 4.0, 30.0, 4)]
    r = spearman_corr(_xy(spark, rows), "g", "x", "y", "id").collect()[0]
    assert r.n == 4
    assert r.rho == 0.948683


def test_spearman_constant_column_null(spark):
    """Zero rank variance on either axis -> null by contract; n=1
    likewise."""
    from big_data_hw_23_24_spark.operators.grouped import spearman_corr

    rows = [("c", float(i), 5.0, i) for i in range(1, 6)] + \
           [("s", 1.0, 1.0, 99)]
    got = {r.g: r.rho for r in
           spearman_corr(_xy(spark, rows), "g", "x", "y", "id").collect()}
    assert got["c"] is None
    assert got["s"] is None


# ------------------------------------------------------ Autocorrelation ----

def test_acf_hand_computed_alternating(spark):
    """y = (0,2,0,2) on t = 0..3: acf(1) = -3/4, acf(2) = +1/2
    (hand-computed from the textbook estimator with the full-series
    mean); a lag beyond the span emits no row."""
    from big_data_hw_23_24_spark.operators.timeseries import (
        autocorrelation)

    df = spark.createDataFrame(
        [("a", t, y) for t, y in enumerate([0, 2, 0, 2])],
        "g string, t int, y long")
    got = {r.lag: r for r in
           autocorrelation(df, ["g"], "t", "y", [1, 2, 9]).collect()}
    assert set(got) == {1, 2}  # lag 9 pairs nothing -> no row
    assert got[1].acf == -0.75 and got[1].n_pairs == 3
    assert got[2].acf == 0.5 and got[2].n_pairs == 2
    assert got[1].n_days == 4


def test_acf_constant_series_null(spark):
    from big_data_hw_23_24_spark.operators.timeseries import (
        autocorrelation)

    df = spark.createDataFrame([("a", t, 5) for t in range(6)],
                               "g string, t int, y long")
    r = autocorrelation(df, ["g"], "t", "y", [1]).collect()[0]
    assert r.acf is None and r.n_pairs == 5


def test_acf_gaps_simply_dont_pair(spark):
    """A missing day removes exactly the pairs that touch it — the
    estimator runs on the observed grid, never interpolates."""
    from big_data_hw_23_24_spark.operators.timeseries import (
        autocorrelation)

    full = spark.createDataFrame(
        [("a", t, (t * 7919) % 13) for t in range(10)],
        "g string, t int, y long")
    gapped = full.where(F.col("t") != 5)
    r = autocorrelation(gapped, ["g"], "t", "y", [1]).collect()[0]
    assert r.n_days == 9
    assert r.n_pairs == 7  # 9 rows, pairs (4,5) and (5,6) both gone


# ---------------------------------------------------------------- BH-FDR ----

def test_bh_stepup_rejects_through_kstar(spark):
    """p = (.02, .03, .035, .04) at alpha=.05: ranks 1 and 2 FAIL
    their own inequalities (.02 > .0125, .03 > .025) but ranks 3 and
    4 pass, so k* = 4 and ALL FOUR are rejected — the step-up rule a
    naive per-row filter gets wrong."""
    from big_data_hw_23_24_spark.operators.grouped import bh_fdr

    df = spark.createDataFrame(
        [(1, 0.02), (2, 0.03), (3, 0.035), (4, 0.04)],
        "id int, p double")
    got = {r.id: r.rejected for r in
           bh_fdr(df, "id", "p").collect()}
    assert got == {1: True, 2: True, 3: True, 4: True}


def test_bh_nothing_passes_rejects_nothing(spark):
    from big_data_hw_23_24_spark.operators.grouped import bh_fdr

    df = spark.createDataFrame([(i, 0.9) for i in range(5)],
                               "id int, p double")
    rows = bh_fdr(df, "id", "p").collect()
    assert all(not r.rejected for r in rows)
    assert sorted(r.rank for r in rows) == [1, 2, 3, 4, 5]


def test_bh_partial_rejection_boundary(spark):
    """Classic mixed case: p = (.001, .008, .039, .041, .9) at
    alpha=.05, m=5 -> thresholds (.01, .02, .03, .04, .05): rank 4
    fails (.041 > .04), rank 3 fails (.039 > .03), rank 2 passes
    (.008 <= .02) -> k* = 2, exactly the first two rejected."""
    from big_data_hw_23_24_spark.operators.grouped import bh_fdr

    df = spark.createDataFrame(
        [(1, 0.001), (2, 0.008), (3, 0.039), (4, 0.041), (5, 0.9)],
        "id int, p double")
    got = {r.id: r.rejected for r in
           bh_fdr(df, "id", "p").collect()}
    assert got == {1: True, 2: True, 3: False, 4: False, 5: False}


# -------------------------------------------------------------------- DiD ----

def _did_units(spark, rows):
    return spark.createDataFrame(
        rows, "treat boolean, post boolean, v long")


def test_did_removes_the_common_trend(spark):
    """Control drifts 10 -> 16 (+6), treated drifts 20 -> 30 (+10):
    DiD = 10 - 6 = 4 — the naive treated post-minus-pre (10) is
    wrong by exactly the secular trend."""
    from big_data_hw_23_24_spark.operators.grouped import diff_in_diff

    rows = ([(False, False, 10)] * 3 + [(False, True, 16)] * 3
            + [(True, False, 20)] * 3 + [(True, True, 30)] * 3)
    r = diff_in_diff(_did_units(spark, rows), "treat", "post",
                     "v").collect()[0]
    assert (r.n_c0, r.n_c1, r.n_t0, r.n_t1) == (3, 3, 3, 3)
    assert (r.mean_c0, r.mean_c1, r.mean_t0, r.mean_t1) == \
        (10.0, 16.0, 20.0, 30.0)
    assert r.did == 4.0
    assert r.z is None  # zero within-cell variance -> se = 0 -> null


def test_did_empty_cell_null_estimate(spark):
    from big_data_hw_23_24_spark.operators.grouped import diff_in_diff

    rows = [(False, False, 10), (False, True, 12), (True, False, 20)]
    r = diff_in_diff(_did_units(spark, rows), "treat", "post",
                     "v").collect()[0]
    assert r.n_t1 == 0
    assert r.did is None and r.z is None
    assert r.mean_t1 is None and r.mean_c0 == 10.0


def test_did_z_hand_computed(spark):
    """Cells with variance: c0 = (9,11), c1 = (10,14), t0 = (19,21),
    t1 = (28,32): did = 30-20-(12-10) = 8; each cell var = 2, 8, 2, 8
    -> se^2 = (2+8+2+8)/2 = 10, z = 8/sqrt(10)."""
    from big_data_hw_23_24_spark.operators.grouped import diff_in_diff
    import math

    rows = [(False, False, 9), (False, False, 11),
            (False, True, 10), (False, True, 14),
            (True, False, 19), (True, False, 21),
            (True, True, 28), (True, True, 32)]
    r = diff_in_diff(_did_units(spark, rows), "treat", "post",
                     "v").collect()[0]
    assert r.did == 8.0
    assert r.z == round(8 / math.sqrt(10), 6)


# ------------------------------------------------------------- Silhouette ----

def _emb(spark, rows):
    return spark.createDataFrame(
        rows, "label string, vec_id long, embedding array<float>")


def test_silhouette_separated_clusters_near_one(spark):
    """Two tight, far-apart clusters: every point sits much closer to
    its own representative than the foreign one -> mean_s ~ 1."""
    from big_data_hw_23_24_spark.operators.similarity import (
        label_silhouette)

    rows = [("a", i, [0.0 + i * 0.01, 0.0]) for i in range(4)] + \
           [("b", 10 + i, [100.0 + i * 0.01, 0.0]) for i in range(4)]
    got = {r.label: r for r in
           label_silhouette(_emb(spark, rows)).collect()}
    assert got["a"].mean_s > 0.99 and got["b"].mean_s > 0.99
    assert got["a"].n == 4


def test_silhouette_mislabeled_point_negative(spark):
    """A point labeled 'a' sitting ON cluster b's representative gets
    s < 0 and drags the label mean down — the mislabel signal."""
    from big_data_hw_23_24_spark.operators.similarity import (
        label_silhouette)

    rows = [("a", 0, [0.0, 0.0]), ("a", 1, [1.0, 0.0]),
            ("a", 2, [50.0, 0.0]),  # sits on b's representative
            ("b", 10, [50.0, 0.0]), ("b", 11, [51.0, 0.0])]
    got = {r.label: r for r in
           label_silhouette(_emb(spark, rows)).collect()}
    # point 2: a = 50 (to rep a at origin), b = 0 -> s = (0-50)/50 = -1
    # points 0,1: s near 1 -> mean ~ (1 + 0.98 - 1)/3
    assert got["a"].mean_s < 0.5
    assert got["b"].mean_s > 0.9


def test_silhouette_single_label_nulls(spark):
    from big_data_hw_23_24_spark.operators.similarity import (
        label_silhouette)

    rows = [("only", i, [float(i), 1.0]) for i in range(3)]
    r = label_silhouette(_emb(spark, rows)).collect()[0]
    assert r.mean_b is None and r.mean_s is None
    assert r.n == 3 and r.mean_a is not None


# ----------------------------------------------------------- LSH recall ----

def test_lsh_recall_gate_shows_real_misses(spark):
    """The dual-salted gate must be non-vacuous in BOTH directions at
    sf0.01: banding misses some near-threshold truth pairs
    (recall < 1) and surfaces sub-threshold candidates
    (precision < 1), while hits never exceed either side."""
    from big_data_hw_23_24_spark.queries import _ensure_loaded, _REGISTRY

    _ensure_loaded()
    r = (_REGISTRY["dedup_eval_lsh_recall"]
         .spark_fn(spark, "/root/testdata/sf0.01").collect()[0])
    assert r.n_hit <= min(r.n_truth, r.n_candidates)
    assert 0 < r.recall < 1
    assert 0 < r.candidate_precision < 1


# --------------------------------------------------------- Power iteration ----

def test_top_eigen_recovers_planted_direction(spark):
    """Vectors concentrated along e1 (plus small e2 noise): the top
    eigenvector must load ~entirely on dim 1 and the Rayleigh
    quotient must approximate E[x1^2]."""
    from big_data_hw_23_24_spark.operators.similarity import (
        top_eigenvector)

    rows = [(i, [4.0 if i % 2 == 0 else -4.0, 0.01 * (i % 3)])
            for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {r.dim: r for r in top_eigenvector(df).collect()}
    assert abs(got[1].component) > 0.999
    assert abs(got[2].component) < 0.05
    # E[x1^2] = 16; rayleigh of the top direction ~ 16
    assert abs(got[1].rayleigh - 16.0) < 0.1
    assert got[1].rayleigh == got[2].rayleigh  # repeated per row


def test_top_eigen_hand_diagonal_case(spark):
    """G = diag(1/2, 1/4) from vectors {(1,0)x2, (0,1), (0,0)}: the
    iteration from all-ones converges onto e1; with exact integer
    matvecs the components are (1/2)^5 vs (1/4)^5 normalized."""
    from big_data_hw_23_24_spark.operators.similarity import (
        top_eigenvector)
    import math

    rows = [(1, [1.0, 0.0]), (2, [1.0, 0.0]),
            (3, [0.0, 1.0]), (4, [0.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {r.dim: r for r in top_eigenvector(df).collect()}
    # gram = diag(2/4, 1/4) (n = 4 includes the zero vector) →
    # micros diag(500000, 250000); v5 = (5e5^5, 2.5e5^5)
    a, b = 500000 ** 5, 250000 ** 5
    nm = math.sqrt(float(a) ** 2 + float(b) ** 2)
    assert got[1].component == round(a / nm, 6)
    assert got[2].component == round(b / nm, 6)
    # rayleigh = 0.5·v1² + 0.25·v2² for the computed unit v
    v1, v2 = a / nm, b / nm
    assert abs(got[1].rayleigh - (0.5 * v1 * v1 + 0.25 * v2 * v2)) < 1e-6


def test_top_eigen_zero_gram_nulls(spark, monkeypatch):
    from big_data_hw_23_24_spark.operators import similarity
    from big_data_hw_23_24_spark.operators.similarity import (
        top_eigenvector)

    monkeypatch.setattr(similarity, "EIGEN_ROUNDS", 3)
    df = spark.createDataFrame([(1, [0.0, 0.0]), (2, [0.0, 0.0])],
                               "vec_id long, embedding array<float>")
    rows = top_eigenvector(df).collect()
    assert all(r.component is None and r.rayleigh is None for r in rows)


# ------------------------------------------------------------ Adamic-Adar ----

def _uitems(spark, rows):
    return spark.createDataFrame(rows, "user_id long, item long")


def test_adamic_adar_hand_computed(spark):
    """Path graph 1-2, 2-3 (from co-occurring baskets): the only
    non-adjacent pair with a common neighbor is (1,3) through node 2
    of degree 2 -> score = 1/ln(2) = 1.442695."""
    from big_data_hw_23_24_spark.operators.graph import adamic_adar

    # users co-touch items: edges need n_co >= 2 users each
    rows = []
    for u in (1, 2):          # two users touch {1, 2} -> edge 1-2
        rows += [(u, 1), (u, 2)]
    for u in (3, 4):          # two users touch {2, 3} -> edge 2-3
        rows += [(u, 2), (u, 3)]
    got = adamic_adar(_uitems(spark, rows)).collect()
    assert len(got) == 1
    r = got[0]
    assert (r.item_a, r.item_b, r.n_common) == (1, 3, 1)
    assert r.aa_score == 1.442695


def test_adamic_adar_excludes_existing_edges(spark):
    """A triangle has common neighbors for every pair but all pairs
    are already edges -> no predictions."""
    from big_data_hw_23_24_spark.operators.graph import adamic_adar

    rows = []
    for u in (1, 2):
        rows += [(u, 1), (u, 2), (u, 3)]
    got = adamic_adar(_uitems(spark, rows)).collect()
    assert got == []


def test_adamic_adar_rare_neighbor_outranks_hub(spark):
    """Two candidate pairs: one through a degree-2 middle, one
    through a degree-3 middle — the rarer middle scores higher
    (1/ln 2 > 1/ln 3)."""
    from big_data_hw_23_24_spark.operators.graph import adamic_adar

    rows = []
    # star around hub 10: edges 10-1, 10-2, 10-3 (hub degree 3)
    for leaf in (1, 2, 3):
        for u in (100 + leaf, 200 + leaf):
            rows += [(u, 10), (u, leaf)]
    # path around middle 20: edges 20-4, 20-5 (middle degree 2)
    for leaf in (4, 5):
        for u in (300 + leaf, 400 + leaf):
            rows += [(u, 20), (u, leaf)]
    got = adamic_adar(_uitems(spark, rows)).collect()
    scores = {(r.item_a, r.item_b): r.aa_score for r in got}
    assert scores[(4, 5)] == 1.442695          # 1/ln 2
    hub_pairs = [(1, 2), (1, 3), (2, 3)]
    for p in hub_pairs:
        assert scores[p] == 0.910239           # 1/ln 3
    assert got[0].item_a == 4  # rare-middle pair ranks first


# ------------------------------------------------------------ Apportionment ----

def test_quota_sums_exactly_and_follows_remainders(spark):
    """weights (5, 3, 2) over total 7: real quotas (3.5, 2.1, 1.4),
    floors (3, 2, 1) leave one seat -> largest remainder .5 wins:
    allocation (4, 2, 1), summing to exactly 7."""
    from big_data_hw_23_24_spark.operators.selection import (
        apportion_quota)

    df = spark.createDataFrame([("a", 5), ("b", 3), ("c", 2)],
                               "g string, w long")
    got = {r.g: r.quota for r in
           apportion_quota(df, "g", "w", 7).collect()}
    assert got == {"a": 4, "b": 2, "c": 1}


def test_quota_zero_weights_null(spark):
    from big_data_hw_23_24_spark.operators.selection import (
        apportion_quota)

    df = spark.createDataFrame([("a", 0), ("b", 0)], "g string, w long")
    rows = apportion_quota(df, "g", "w", 10).collect()
    assert all(r.quota is None for r in rows)


def test_quota_exact_division_no_remainders(spark):
    from big_data_hw_23_24_spark.operators.selection import (
        apportion_quota)

    df = spark.createDataFrame([("a", 2), ("b", 2)], "g string, w long")
    got = {r.g: r.quota for r in
           apportion_quota(df, "g", "w", 10).collect()}
    assert got == {"a": 5, "b": 5}


# ---------------------------------------------------------- ORC round trip ----

def test_orc_roundtrip_prunes_partitions(spark):
    """The ORC sink is partitioned by event_type: a type filter on the
    read-back side must prune to partition directories (the scan shows
    a PartitionFilters entry), and row counts must survive the round
    trip exactly."""
    from pyspark.sql import functions as F
    from big_data_hw_23_24_spark.queries import _ensure_loaded, _REGISTRY
    from big_data_hw_23_24_spark.sources.tables import load_table

    _ensure_loaded()
    # run the face once so the sink exists
    out = (_REGISTRY["events_orc_roundtrip"]
           .spark_fn(spark, "/root/testdata/sf0.001").collect())
    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    want = {r.event_type: r.n for r in
            ev.groupBy("event_type").agg(F.count("*").alias("n"))
            .collect()}
    assert {r.event_type: r.n_events for r in out} == want
    path = "/tmp/spark_graft_orc_roundtrip/sf0.001"
    filtered = spark.read.orc(path).where(F.col("event_type") == "view")
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "event_type" in plan
    assert filtered.count() == want["view"]


# -------------------------------------------------------------------- HITS ----

def test_hits_separates_authority_tiers(spark):
    """Star data: item 1 touched by every user, item 2 by half, item
    3 by one — authority order must be 1, 2, 3 with score ratios
    following the integer iteration exactly."""
    from big_data_hw_23_24_spark.operators.graph import hits_scores

    rows = []
    for u in range(1, 9):
        rows.append((u, 1))
    for u in range(1, 5):
        rows.append((u, 2))
    rows.append((1, 3))
    df = spark.createDataFrame(rows, "user_id long, item long")
    got = hits_scores(df).collect()
    assert [r.item for r in got] == [1, 2, 3]
    assert got[0].authority == 1.0
    assert got[0].rank == 1 and got[2].rank == 3
    assert got[1].authority > got[2].authority > 0


def test_hits_matches_hand_iteration(spark):
    """Two users, two items: u1 -> {1, 2}, u2 -> {1}. Hand-run the
    integer double-rounds: a=(2,1), h=(3,2), a=(5,3), h=(8,5),
    a=(13,8) -> authorities (1.0, 8/13)."""
    from big_data_hw_23_24_spark.operators.graph import hits_scores

    df = spark.createDataFrame([(1, 1), (1, 2), (2, 1)],
                               "user_id long, item long")
    got = {r.item: r.authority for r in hits_scores(df).collect()}
    assert got[1] == 1.0
    assert got[2] == round(8 / 13, 6)


# ---------------------------------------------------------------- Isotonic ----

def _iso_grid(spark, triples):
    return spark.createDataFrame(triples, "x long, n long, s long")


def test_isotonic_pools_adjacent_violators(spark):
    """Rates (1.0, 0.0, 1.0) with equal counts: PAV pools the first
    two into 0.5 and leaves the last at 1.0 — the textbook minimax
    hand case."""
    from big_data_hw_23_24_spark.operators.grouped import isotonic_fit

    g = _iso_grid(spark, [(1, 2, 2), (2, 2, 0), (3, 2, 2)])
    got = {r.x: r.fitted for r in
           isotonic_fit(g, "x", "n", "s").collect()}
    assert got == {1: 0.5, 2: 0.5, 3: 1.0}


def test_isotonic_monotone_input_is_fixed_point(spark):
    from big_data_hw_23_24_spark.operators.grouped import isotonic_fit

    g = _iso_grid(spark, [(1, 10, 1), (2, 10, 4), (3, 10, 9)])
    rows = isotonic_fit(g, "x", "n", "s").collect()
    for r in rows:
        assert r.fitted == r.rate


def test_isotonic_output_always_monotone_and_weighted(spark):
    """Weighted pooling: rates (0.9 with n=1, 0.1 with n=9) pool to
    the WEIGHTED mean (0.9 + 0.9)/10 = 0.18, not the midpoint; and
    any input yields a non-decreasing fit."""
    from big_data_hw_23_24_spark.operators.grouped import isotonic_fit

    g = _iso_grid(spark, [(1, 1, 1), (2, 9, 1), (3, 5, 4)])
    # bucket1 rate 1.0 (n=1), bucket2 rate 1/9 -> pooled (1+1)/10 = .2
    rows = sorted(isotonic_fit(g, "x", "n", "s").collect(),
                  key=lambda r: r.x)
    fits = [r.fitted for r in rows]
    assert fits == sorted(fits)
    assert rows[0].fitted == 0.2 and rows[1].fitted == 0.2
    assert rows[2].fitted == 0.8


# ------------------------------------------------------- Label propagation ----

def test_lpa_spreads_to_distance_rounds(spark):
    """Path 7 - 1 - 2 - 3 built from co-baskets with a single seed
    (item 7, label 7%5=2): after 3 rounds the label reaches distance
    3 (item 3) but the graph's only seed label wins everywhere."""
    from big_data_hw_23_24_spark.operators.graph import label_propagation

    rows = []
    for u, (a, b) in enumerate([(7, 1), (1, 2), (2, 3)] * 2):
        rows += [(100 * (u % 3) + u, a), (100 * (u % 3) + u, b)]
    # build each edge from two users sharing exactly that pair
    rows = []
    uid = 0
    for a, b in [(7, 1), (1, 2), (2, 3)]:
        for _ in range(2):
            rows += [(uid, a), (uid, b)]
            uid += 1
    df = spark.createDataFrame(rows, "user_id long, item long")
    got = {r.item: (r.label, r.is_seed) for r in
           label_propagation(df).collect()}
    assert got[7] == (2, True)
    assert got[1] == (2, False)
    assert got[2] == (2, False)
    assert got[3] == (2, False)  # distance 3: reached on round 3


def test_lpa_majority_and_min_label_tiebreak(spark, monkeypatch):
    """A node between two seeds of different labels with equal votes
    must take the SMALLER label (the pinned tie rule)."""
    from big_data_hw_23_24_spark.operators import graph
    from big_data_hw_23_24_spark.operators.graph import label_propagation

    monkeypatch.setattr(graph, "LPA_ROUNDS", 2)

    rows = []
    uid = 0
    for a, b in [(7, 1), (14, 1)]:  # seeds 7 (label 2) and 14 (label 4)
        for _ in range(2):
            rows += [(uid, a), (uid, b)]
            uid += 1
    df = spark.createDataFrame(rows, "user_id long, item long")
    got = {r.item: r.label for r in
           label_propagation(df).collect()}
    assert got[7] == 2 and got[14] == 4  # seeds clamped
    assert got[1] == 2                   # tie -> min(2, 4)


def test_lpa_isolated_from_seeds_stays_null(spark):
    from big_data_hw_23_24_spark.operators.graph import label_propagation

    rows = []
    uid = 0
    for a, b in [(1, 2), (3, 4)]:  # no seeds anywhere (none %7==0)
        for _ in range(2):
            rows += [(uid, a), (uid, b)]
            uid += 1
    df = spark.createDataFrame(rows, "user_id long, item long")
    rows_out = label_propagation(df).collect()
    assert all(r.label is None for r in rows_out)


# ------------------------------------------------------------------- ANOVA ----

def test_anova_hand_computed(spark):
    """Groups (1,2,3) and (4,5,6): means 2 and 5, grand mean 3.5;
    SSB = 3*(1.5^2)*2 = 13.5, SSW = 2+2 = 4 -> F = 13.5/(4/4) = 13.5,
    eta^2 = 13.5/17.5."""
    from big_data_hw_23_24_spark.operators.grouped import oneway_anova

    df = spark.createDataFrame(
        [("a", 1), ("a", 2), ("a", 3), ("b", 4), ("b", 5), ("b", 6)],
        "g string, v long")
    r = oneway_anova(df, "g", "v").collect()[0]
    assert (r.n, r.k) == (6, 2)
    assert r.f_stat == 13.5
    assert r.eta_sq == round(13.5 / 17.5, 6)


def test_anova_identical_groups_f_zero(spark):
    from big_data_hw_23_24_spark.operators.grouped import oneway_anova

    df = spark.createDataFrame(
        [("a", 1), ("a", 3), ("b", 1), ("b", 3)], "g string, v long")
    r = oneway_anova(df, "g", "v").collect()[0]
    assert r.f_stat == 0.0 and r.eta_sq == 0.0


def test_anova_degenerate_nulls(spark):
    from big_data_hw_23_24_spark.operators.grouped import oneway_anova

    # single group -> k < 2; constant values -> SSW = 0
    one = spark.createDataFrame([("a", 1), ("a", 2)], "g string, v long")
    r = oneway_anova(one, "g", "v").collect()[0]
    assert r.f_stat is None
    const = spark.createDataFrame([("a", 5), ("b", 5)], "g string, v long")
    r = oneway_anova(const, "g", "v").collect()[0]
    assert r.f_stat is None


# --------------------------------------------------------------------- CCF ----

def test_ccf_detects_planted_lead(spark):
    """y is x shifted by +2 days exactly: ccf peaks at lag 2 with
    value 1.0 (perfect lead), and the reverse lag is weaker."""
    from big_data_hw_23_24_spark.operators.timeseries import (
        cross_correlation)

    xs = [(t, (t * 7919) % 13) for t in range(30)]
    dfx = spark.createDataFrame(xs, "t int, y long")
    dfy = spark.createDataFrame([(t + 2, v) for t, v in xs],
                                "t int, y long")
    got = {r.lag: r.ccf for r in
           cross_correlation(dfx, dfy, "t", "y",
                             [-2, 0, 2]).collect()}
    # common grid: t in [2, 29]; at lag +2, x_t pairs with y_{t+2} =
    # x_t -> near-perfect correlation on the overlapping window
    # full-series means + truncated pairing window keep it just shy
    # of 1.0 (the estimator convention, same as the ACF face)
    assert got[2] is not None and got[2] > 0.9
    assert got[2] > abs(got[-2])


def test_ccf_constant_series_null(spark):
    from big_data_hw_23_24_spark.operators.timeseries import (
        cross_correlation)

    dfx = spark.createDataFrame([(t, 5) for t in range(10)],
                                "t int, y long")
    dfy = spark.createDataFrame([(t, (t * 31) % 7) for t in range(10)],
                                "t int, y long")
    rows = cross_correlation(dfx, dfy, "t", "y", [1]).collect()
    assert rows[0].ccf is None


# -------------------------------------------------------------------- TWAP ----

def test_twap_holds_value_until_next_observation(spark):
    """100 held for 9 us then 0 for 1 us: twa = 900/10 = 90 — the
    plain mean (50) is exactly what this operator exists to avoid;
    the final observation carries no weight."""
    from big_data_hw_23_24_spark.operators.timeseries import (
        time_weighted_average)

    df = spark.createDataFrame(
        [("a", 0, 100, 1), ("a", 9, 0, 2), ("a", 10, 555, 3)],
        "g string, t long, v long, id long")
    r = time_weighted_average(df, "g", "t", "v", "id").collect()[0]
    assert r.span_us == 10 and r.n_events == 3
    assert r.twa == 90.0  # (9*100 + 1*0)/10; 555 holds nothing


def test_twap_single_event_null(spark):
    from big_data_hw_23_24_spark.operators.timeseries import (
        time_weighted_average)

    df = spark.createDataFrame([("a", 5, 100, 1)],
                               "g string, t long, v long, id long")
    r = time_weighted_average(df, "g", "t", "v", "id").collect()[0]
    assert r.twa is None and r.span_us == 0


def test_twap_same_tick_zero_width(spark):
    """Two observations on the same tick: the earlier (by id) holds a
    zero-width interval — it cannot move the average."""
    from big_data_hw_23_24_spark.operators.timeseries import (
        time_weighted_average)

    df = spark.createDataFrame(
        [("a", 0, 7, 1), ("a", 0, 100, 2), ("a", 4, 0, 3)],
        "g string, t long, v long, id long")
    r = time_weighted_average(df, "g", "t", "v", "id").collect()[0]
    assert r.twa == 100.0  # only the id-2 observation holds width
