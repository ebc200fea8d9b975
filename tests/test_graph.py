"""operators/graph.py: PageRank mass conservation, dangling handling,
weight sensitivity and the transition-edge builder."""

from __future__ import annotations

from big_data_hw_23_24_spark.operators.graph import (
    pagerank,
    transition_edges,
)


def _edges(spark, rows):
    return spark.createDataFrame(rows, "src long, dst long")


def test_pagerank_two_node_cycle_is_uniform(spark):
    out = {r.node: r.pagerank for r in
           pagerank(_edges(spark, [(1, 2), (2, 1)])).collect()}
    assert abs(out[1] - 0.5) < 1e-6
    assert abs(out[2] - 0.5) < 1e-6


def test_pagerank_conserves_mass_with_dangling_node(spark):
    # 1 → 2, 2 → 3, 3 has no out-edge: without dangling-mass
    # redistribution the total rank leaks below 1
    res = pagerank(_edges(spark, [(1, 2), (2, 3)])).collect()
    total = sum(r.pagerank for r in res)
    assert abs(total - 1.0) < 1e-5
    by = {r.node: r for r in res}
    assert by[3].out_weight == 0.0          # dangling marker
    assert by[3].pagerank > by[1].pagerank  # sink accumulates rank


def test_pagerank_weighted_edges_steer_rank(spark):
    # a multi-edge weighs as its multiplicity
    df = _edges(spark, [(1, 2), (1, 2), (1, 2), (1, 3), (2, 1), (3, 1)])
    out = {r.node: r.pagerank for r in pagerank(df).collect()}
    assert out[2] > out[3]  # 3× the transition probability from 1


def test_pagerank_partitioning_invariant_and_validates(spark):
    edges = _edges(spark, [(i, (i * 7) % 11) for i in range(11)])
    a = sorted(map(tuple, pagerank(edges).collect()))
    b = sorted(map(tuple, pagerank(edges.repartition(5)).collect()))
    assert a == b


def test_transition_edges_orders_within_user(spark):
    ev = spark.createDataFrame(
        [(1, 10, 1, 100), (1, 20, 2, 200), (1, 30, 3, 300),
         (2, 10, 4, 400)],
        "user_id long, ts long, event_id long, item long")
    got = sorted(map(tuple,
                     transition_edges(ev).collect()))
    # user 1: 100→200→300; user 2: single event, no edge
    assert got == [(100, 200), (200, 300)]


# --- event transition matrix (r8) ---------------------------------------------

def test_transition_matrix_counts_and_row_normalization(spark):
    """Known sequences → exact transition counts; rows normalize to 1;
    cross-user boundaries never produce a transition; ties broken by
    event_id."""
    from big_data_hw_23_24_spark.operators.funnel import transition_matrix

    rows = [
        # user 1: a -> b -> a -> c
        (1, 1, 100, "a"), (2, 1, 200, "b"), (3, 1, 300, "a"),
        (4, 1, 400, "c"),
        # user 2: a -> b (its last event never transitions anywhere)
        (5, 2, 100, "a"), (6, 2, 200, "b"),
        # user 3: simultaneous ts -> event_id order decides: x -> y
        (7, 3, 500, "x"), (8, 3, 500, "y"),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts long, event_type string")
    out = {(r.from_type, r.to_type): r
           for r in transition_matrix(ev).collect()}
    assert {(k, v.n_transitions) for k, v in out.items()} == {
        (("a", "b"), 2), (("a", "c"), 1), (("b", "a"), 1), (("x", "y"), 1)}
    assert out[("a", "b")].prob == 0.666667
    assert out[("a", "c")].prob == 0.333333
    assert out[("b", "a")].prob == 1.0
    # user 2's trailing 'b' contributes no transition; rows sum to ~1
    from collections import defaultdict
    sums = defaultdict(float)
    for (f, _), r in out.items():
        sums[f] += r.prob
    for f, s in sums.items():
        assert abs(s - 1.0) < 1e-5


# --- item co-occurrence (r8) -----------------------------------------------------

def test_item_cooccurrence_cap_and_jaccard(spark, monkeypatch):
    """The cap really bounds a heavy user's fan-out (top-K by count,
    id tiebreak), Jaccard arithmetic is exact on the capped baskets,
    and min_co prunes singletons."""
    from big_data_hw_23_24_spark.operators import graph
    from big_data_hw_23_24_spark.operators.graph import item_cooccurrence

    monkeypatch.setattr(graph, "COOC_CAP", 3)
    rows = []
    # users 1..3 share items 100,101 (strong pair)
    for u in (1, 2, 3):
        rows += [(u, 100), (u, 101)]
    # user 4: heavy user touching items 0..9 once each, but item 100
    # three times -> with cap=3, keeps 100 (count 3) then 0,1 (id tiebreak)
    rows += [(4, 100)] * 3 + [(4, i) for i in range(10)]
    ev = spark.createDataFrame(rows, "user_id long, item long")
    out = {(r.item_a, r.item_b): r
           for r in item_cooccurrence(ev).collect()}
    # (100,101): co=3 users; sizes: 100 in baskets of 1,2,3,4 -> 4; 101 -> 3
    assert out[(100, 101)].n_co == 3
    assert out[(100, 101)].jaccard == round(3 / (4 + 3 - 3), 6)
    # user 4's capped basket is {100, 0, 1}: pairs with items >=2 never exist
    assert all(not (a in (2, 3, 4, 5, 6, 7, 8, 9)
                    or b in (2, 3, 4, 5, 6, 7, 8, 9))
               for a, b in out)
    # (0,1) co-occurs only for user 4 -> below min_co, pruned
    assert (0, 1) not in out


# --- burstiness bot screen (r8) --------------------------------------------------

def test_user_activity_profile_burst_arithmetic(spark):
    """Hand-built timelines: a scripted user (tight bursts around
    rare long gaps) flags, a steady user does not, a below-min-gaps
    user never flags, singletons profile as nulls."""
    from big_data_hw_23_24_spark.operators.timeseries import (
        user_activity_profile)

    S = 1_000_000  # 1s in us (integer-tick face)
    rows = []
    # user 1 (bot): 3 tight triples spread far apart -> 8 gaps,
    # 6 tiny (1s) + 2 huge (1000s); mean ~250s, tiny << mean/4
    t = 0
    eid = 0
    for _ in range(3):
        for _ in range(3):
            rows.append((eid, 1, t)); eid += 1; t += 1 * S
        t += 1000 * S
    # user 2 (steady): 8 events exactly 100s apart -> no gap < mean/4
    t = 0
    for _ in range(8):
        rows.append((eid, 2, t)); eid += 1; t += 100 * S
    # user 3: only 3 events, bursty, but n_gaps < 5 -> never flags
    rows += [(eid, 3, 0), (eid + 1, 3, S), (eid + 2, 3, 2 * S)]
    # user 4: singleton
    rows.append((eid + 3, 4, 0))
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts long")
    out = {r.user_id: r for r in user_activity_profile(ev).collect()}
    b = out[1]
    assert (b.n_events, b.n_gaps, b.n_bursts) == (9, 8, 6)
    assert b.burst_flag  # 6*4 > 8
    assert b.min_gap_us == S
    s2 = out[2]
    assert s2.n_bursts == 0 and not s2.burst_flag
    assert s2.mean_gap_us == 100 * S
    assert not out[3].burst_flag and out[3].n_gaps == 2
    s4 = out[4]
    assert (s4.n_events, s4.n_gaps, s4.n_bursts) == (1, 0, 0)
    assert s4.min_gap_us is None and s4.mean_gap_us is None
    assert not s4.burst_flag


# --- market basket (r8) ----------------------------------------------------------

def test_market_basket_lift_arithmetic(spark):
    """Hand-computed lift: a pair in every basket lifts to N/(n_a*n_b)
    exactly; duplicate lineitems of one part in one order count once;
    min_co prunes."""
    from big_data_hw_23_24_spark.operators.graph import market_basket_pairs

    rows = [
        (1, 10), (1, 11), (1, 10),   # basket 1: {10, 11} (dup row)
        (2, 10), (2, 11),            # basket 2: {10, 11}
        (3, 10), (3, 12),            # basket 3: {10, 12}
        (4, 13),                     # basket 4: {13}
    ]
    li = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    out = {(r.item_a, r.item_b): r for r in
           market_basket_pairs(li, "l_orderkey", "l_partkey").collect()}
    assert set(out) == {(10, 11)}  # (10,12) has n_co=1, pruned
    r = out[(10, 11)]
    assert (r.n_co, r.n_a, r.n_b) == (2, 3, 2)
    # lift = n_co*N/(n_a*n_b) = 2*4/(3*2) = 1.333333
    assert r.lift == 1.333333
    assert r.support_ppm == 500_000  # 2 of 4 baskets


# --- session paths (r8) ----------------------------------------------------------

def test_session_paths_islands_depth_and_ties(spark):
    """Gap splits sessions; path truncates at depth; short sessions
    report their full (shorter) path; same-tick ties order by id."""
    from big_data_hw_23_24_spark.operators.timeseries import session_paths

    M = 60 * 1_000_000  # one minute in us
    rows = [
        # user 1, session A: a>b>c>d (depth cuts at 3)
        (1, 1, 0 * M, "a"), (2, 1, 5 * M, "b"),
        (3, 1, 10 * M, "c"), (4, 1, 15 * M, "d"),
        # 40-min gap -> session B: b>a
        (5, 1, 55 * M, "b"), (6, 1, 60 * M, "a"),
        # user 2: single-event session
        (7, 2, 0, "x"),
        # user 3: same-tick pair, id order decides y>z
        (8, 3, 0, "y"), (9, 3, 0, "z"),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts long, event_type string")
    out = {r.path: r.n_sessions
           for r in session_paths(ev).collect()}
    assert out == {"a>b>c": 1, "b>a": 1, "x": 1, "y>z": 1}


# --- degree-ordered triangle counting (E143) -----------------------------------

def test_item_triangles_hand_graph(spark):
    """Planted graph: items 10-11-12 form one triangle (each pair
    shared by two users), item 13 hangs off 10 with no closure —
    exact degrees, triangle counts and clustering coefficients."""
    from big_data_hw_23_24_spark.operators.graph import item_triangles

    rows = []
    for u in (1, 2):                       # triangle 10-11-12
        rows += [(u, 10), (u, 11), (u, 12)]
    for u in (3, 4):                       # pendant edge 10-13
        rows += [(u, 10), (u, 13)]
    ev = spark.createDataFrame(rows, "user_id long, item long")
    out = {r.item: r for r in item_triangles(ev).collect()}
    assert {i: r.degree for i, r in out.items()} == \
        {10: 3, 11: 2, 12: 2, 13: 1}
    assert {i: r.n_triangles for i, r in out.items()} == \
        {10: 1, 11: 1, 12: 1, 13: 0}
    assert out[10].clustering == 0.333333  # 2*1/(3*2)
    assert out[11].clustering == 1.0 and out[12].clustering == 1.0
    assert out[13].clustering == 0.0


def test_item_triangles_counts_each_triangle_once(spark):
    """K4: every edge present -> 4 triangles total, each node in 3;
    the oriented wedge+closure must not double-count under equal
    degrees (id tiebreak)."""
    from big_data_hw_23_24_spark.operators.graph import item_triangles

    rows = []
    for u in (1, 2):                       # all 6 pairs shared twice
        rows += [(u, 1), (u, 2), (u, 3), (u, 4)]
    ev = spark.createDataFrame(rows, "user_id long, item long")
    out = {r.item: r for r in item_triangles(ev).collect()}
    assert all(r.degree == 3 for r in out.values())
    assert all(r.n_triangles == 3 for r in out.values())
    assert all(r.clustering == 1.0 for r in out.values())
