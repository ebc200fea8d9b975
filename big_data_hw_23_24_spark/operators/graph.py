"""Link-analysis over edge lists: fixed-iteration weighted PageRank.

Ranking nodes of a behavioural graph (item→item transitions, host
link graphs, citation webs) is the classic "which pages/items matter"
signal a curation pipeline mixes into quality scoring. This module
implements the canonical damped PageRank with explicit dangling-mass
redistribution, as DataFrame relational algebra:

* one edge-normalization join (``p(u→v) = w / out_w(u)``),
* per iteration: one equi-join + hash aggregate keyed on the vertex id
  (the standard distributed PageRank shuffle shape), one bounded
  1-row dangling-mass aggregate (broadcast back, never a driver
  ``collect`` on the data path), one left join onto the node table.

With a FIXED iteration count the whole computation is deterministic
relational algebra — the DuckDB oracle unrolls the same three
iterations as CTEs and matches to 6 dp. Convergence-driven variants
belong to the MRFFT category (driver-controlled rounds, SURVEY §3.2);
the fixed-T face is the oracle-checkable one.

Scale: every shuffle is keyed on a vertex id; the state per iteration
is one (node, pr) table — never materialized per-edge beyond the join.
Skewed in-degree (a hub node) is a hash-aggregate hot key, mitigated
by partial aggregation map-side; no step is all-pairs. Lineage over a
fixed 3-round loop stays bounded; iteration counts beyond ~10 should
localCheckpoint per round like ``components.connected_components``.

Reference scope: the reference engine has no graph surface; this is a
north-star extension alongside connected components.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

COOC_CAP = 20  # items kept per user basket
COOC_MIN_CO = 2  # co-occurrences that make an edge
PAGERANK_DAMPING = 0.85
PAGERANK_ITERATIONS = 3
HIERARCHY_MAX_DEPTH = 7  # digit-decade levels hierarchy_rollup unrolls
HITS_DOUBLE_ROUNDS = 3  # hub+authority updates of hits_scores
HITS_K = 20  # authority items hits_scores reports


def pagerank(edges: DataFrame) -> DataFrame:
    """Weighted PageRank with dangling-mass redistribution.

    ``pr'(v) = (1−d)/N + d·(Σ_u pr(u)·p(u→v) + dangling/N)`` where
    ``p(u→v)`` is the weight-normalized transition probability and
    ``dangling`` is the total rank sitting on nodes with no out-edges
    (uniformly redistributed — without it the rank mass leaks and the
    scores of disconnected sinks are wrong).

    ``edges`` is ``(src, dst)``; multi-edges are aggregated first, so
    an edge's weight is its multiplicity. Self-loops are legal and
    kept. Returns ``(node, pagerank, out_weight)`` with ``pagerank``
    rounded to 6 dp; ``out_weight`` 0 marks dangling nodes.
    """
    damping = PAGERANK_DAMPING
    e = edges.groupBy(F.col("src").alias("_src"), F.col("dst").alias("_dst")) \
             .agg(F.count("*").cast("double").alias("_w"))
    nodes = (e.select(F.col("_src").alias("node"))
             .union(e.select(F.col("_dst").alias("node")))
             .distinct().persist())
    outw = e.groupBy("_src").agg(F.sum("_w").alias("_ow"))
    n_row = nodes.agg(F.count("*").cast("double").alias("_n"))
    e_norm = (e.join(outw, "_src")
              .select("_src", "_dst", (F.col("_w") / F.col("_ow"))
                      .alias("_p"))
              .persist())
    out_weight = (nodes.join(outw.withColumnRenamed("_src", "node"),
                             "node", "left")
                  .select("node", F.coalesce("_ow", F.lit(0.0))
                          .alias("out_weight"))
                  .persist())
    pr = (nodes.crossJoin(F.broadcast(n_row))
          .select("node", (F.lit(1.0) / F.col("_n")).alias("pr")))
    # pr is deliberately NOT checkpointed per round (r14 opt round
    # A/B): the 3-round plan names 173 parquet scans, but at runtime
    # AQE reuses every duplicated exchange, and lazy per-round
    # localCheckpoints measured 1.77 -> 2.35 s (jobs 21 -> 27) — the
    # cuts split one overlapped AQE query into serial round-trips.
    # The edge build `e` is ALSO deliberately not pinned (r15 A/B):
    # an eager localCheckpoint below the loop measured 1.35 -> 1.74 s
    # median (interleaved min-of-6) — the three persists above already
    # dedupe the runtime work, so the pin only added a blocking job
    # that serialized the overlapped cache population
    for _ in range(PAGERANK_ITERATIONS):
        contrib = (e_norm.join(pr.withColumnRenamed("node", "_src"),
                               "_src")
                   .groupBy(F.col("_dst").alias("node"))
                   .agg(F.sum(F.col("pr") * F.col("_p")).alias("_c")))
        dangling = (pr.join(out_weight.where(F.col("out_weight") > 0)
                            .select("node"), "node", "left_anti")
                    .agg(F.coalesce(F.sum("pr"), F.lit(0.0)).alias("_dm")))
        pr = (nodes.join(contrib, "node", "left")
              .crossJoin(F.broadcast(n_row))
              .crossJoin(F.broadcast(dangling))
              .select("node",
                      (F.lit(1.0 - damping) / F.col("_n")
                       + F.lit(damping)
                       * (F.coalesce("_c", F.lit(0.0))
                          + F.col("_dm") / F.col("_n"))).alias("pr")))
    return (pr.join(out_weight, "node")
            .select("node", F.round("pr", 6).alias("pagerank"),
                    "out_weight"))


def transition_edges(events: DataFrame) -> DataFrame:
    """Consecutive-event transition edges: for each user's event
    sequence (ordered by ``ts, event_id``), emit ``(src=item_i,
    dst=item_{i+1})``. One window PARTITIONED BY user (bounded per-user
    sequences, never a global window) — the standard sessionized
    clickstream → graph step."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (events
            .select(F.col("user_id"),
                    F.col("item").alias("src"),
                    F.lead("item").over(w).alias("dst"))
            .where(F.col("dst").isNotNull())
            .select("src", "dst"))


def item_cooccurrence(events: DataFrame) -> DataFrame:
    """Item-item co-occurrence similarity over user baskets →
    ``(item_a, item_b, n_co, jaccard)`` — the classic "users who
    touched A also touched B" signal (collaborative filtering's
    candidate generator, and for corpora: source/domain affinity).

    The scale hazard is the self-join fan-out: a user with U distinct
    items contributes U² pairs, and activity is power-law, so an
    uncapped join is quadratic in the heaviest user. ``COOC_CAP``
    bounds it: each user keeps their top-``COOC_CAP`` items (by
    engagement count, item id tiebreak — a keyed row_number,
    deterministic), so fan-out is ≤ COOC_CAP² per user regardless of
    skew. Jaccard is computed over the SAME capped baskets (sizes from
    the capped table), so the reported similarity is internally
    consistent. Pairs below ``COOC_MIN_CO`` users are dropped.
    """
    per = (events.where(F.col("item").isNotNull())
           .groupBy("user_id", "item")
           .agg(F.count("*").alias("_n")))
    w = Window.partitionBy("user_id").orderBy(F.col("_n").desc(),
                                             F.col("item"))
    capped = (per.withColumn("_rk", F.row_number().over(w))
              .where(F.col("_rk") <= COOC_CAP)
              .select("user_id", "item"))
    sz = capped.groupBy("item").agg(F.count("*").alias("_nu"))
    a, b = capped.alias("a"), capped.alias("b")
    co = (a.join(b, (F.col("a.user_id") == F.col("b.user_id"))
                 & (F.col("a.item") < F.col("b.item")))
          .groupBy(F.col("a.item").alias("item_a"),
                   F.col("b.item").alias("item_b"))
          .agg(F.count("*").cast("long").alias("n_co"))
          .where(F.col("n_co") >= COOC_MIN_CO))
    sa = sz.select(F.col("item").alias("item_a"),
                   F.col("_nu").alias("_na"))
    sb = sz.select(F.col("item").alias("item_b"),
                   F.col("_nu").alias("_nb"))
    return (co.join(sa, "item_a").join(sb, "item_b")
            .select("item_a", "item_b", "n_co",
                    F.round(F.col("n_co")
                            / (F.col("_na") + F.col("_nb")
                               - F.col("n_co")), 6).alias("jaccard")))


def market_basket_pairs(baskets: DataFrame, basket_col: str,
                        item_col: str, min_co: int = 2) -> DataFrame:
    """Market-basket pair mining → ``(item_a, item_b, n_co, n_a, n_b,
    support_ppm, lift)``: co-purchase counts with the association
    strength (lift = P(a,b)/(P(a)·P(b)); > 1 = bought together more
    than chance) over distinct per-basket item sets.

    The relational-side sibling of :func:`item_cooccurrence`: baskets
    here are transactions (a TPC-H order's parts), which are
    NATURALLY bounded (an order holds a handful of items), so the
    per-basket pair join needs no cap — when basket sizes are
    unbounded (user histories), use ``item_cooccurrence``'s top-K cap
    instead. Support is reported in integer PARTS-PER-MILLION
    (floor(n_co·10⁶/N)) and lift as one double division of integer
    products, so nothing in the output depends on float summation.
    The basket count N rides the plan as a 1-row broadcast aggregate
    crossJoin (the IdentityBroadcast pattern, same as
    ``epoch_schedule``) — the operator stays LAZY: nothing scans
    baskets until the returned DataFrame executes.
    """
    b = baskets.select(F.col(basket_col).alias("_bk"),
                       F.col(item_col).alias("_it")).distinct()
    n = b.agg(F.countDistinct("_bk").cast("long").alias("_n_baskets"))
    sz = b.groupBy("_it").agg(F.count("*").cast("long").alias("_n"))
    x, y = b.alias("x"), b.alias("y")
    co = (x.join(y, (F.col("x._bk") == F.col("y._bk"))
                 & (F.col("x._it") < F.col("y._it")))
          .groupBy(F.col("x._it").alias("item_a"),
                   F.col("y._it").alias("item_b"))
          .agg(F.count("*").cast("long").alias("n_co"))
          .where(F.col("n_co") >= min_co))
    sa = sz.select(F.col("_it").alias("item_a"), F.col("_n").alias("n_a"))
    sb = sz.select(F.col("_it").alias("item_b"), F.col("_n").alias("n_b"))
    return (co.join(sa, "item_a").join(sb, "item_b")
            .crossJoin(F.broadcast(n))
            .select("item_a", "item_b", "n_co", "n_a", "n_b",
                    F.floor(F.col("n_co") * 1_000_000
                            / F.col("_n_baskets"))
                    .cast("long").alias("support_ppm"),
                    F.round((F.col("n_co") * F.col("_n_baskets"))
                            / (F.col("n_a") * F.col("n_b")), 6)
                    .alias("lift")))


def item_triangles(events: DataFrame) -> DataFrame:
    """Triangle participation + local clustering coefficient per item
    over the co-occurrence graph → ``(item, degree, n_triangles,
    clustering)``.

    Community structure on top of :func:`item_cooccurrence`'s edges:
    an item whose neighbors also co-occur with EACH OTHER (high
    clustering) sits inside a coherent basket community; a hub that
    merely bridges unrelated items scores near zero — the standard
    signal separating categories from promo bundles.

    Scale design — DEGREE-ORDERED orientation (the canonical
    distributed triangle algorithm: Cohen's MapReduce form / GraphX):
    every undirected edge is oriented from its (degree, id)-smaller
    endpoint to the larger, turning the graph into a DAG where each
    triangle appears EXACTLY once as wedge (u→v, u→w) + edge (v→w).
    Wedge fan-out is Σ out-degree², and orientation bounds out-degree
    by O(√edges) regardless of how skewed the raw degrees are — the
    all-wedges form explodes on exactly the hub items this caps.
    Joins are equi-joins on node ids throughout; per-item counts come
    from one 3-row explode per triangle.

    The slim edge, degree and oriented-edge tables are each
    checkpointed before fan-out: edges feed the degree count AND the
    orientation, oriented edges feed both wedge sides AND the closing
    probe, degrees feed both endpoint joins AND the final report —
    un-materialized, Catalyst re-planned the whole co-occurrence
    pipeline per consumer MULTIPLICATIVELY (136 parquet scans in one
    plan; the subtree-reuse lesson at its worst).
    """
    # edges pin LAZY (r15): the degree aggregate right below is the
    # first consumer and scans the pin exactly ONCE (explode of both
    # endpoints per edge row — the former two-branch unionAll would
    # have raced its branches to materialize each partition twice),
    # so deg's eager pin job computes AND persists the co-occurrence
    # build as a side effect: one blocking job instead of two, with
    # the build still computed exactly once at any scale (guide §5;
    # interleaved A/B neutral at sf0.1 — min 1.96 vs 1.95 s — the
    # saving is the driver round-trip, deterministic jobs 19 -> 18)
    edges = (item_cooccurrence(events)
             .select("item_a", "item_b").localCheckpoint(eager=False))
    deg = (edges.select(F.explode(F.array("item_a", "item_b"))
                        .alias("item"))
           .groupBy("item").agg(F.count("*").cast("long").alias("degree"))
           .localCheckpoint(eager=True))
    da = deg.select(F.col("item").alias("item_a"),
                    F.col("degree").alias("_dega"))
    db = deg.select(F.col("item").alias("item_b"),
                    F.col("degree").alias("_degb"))
    ed = edges.join(da, "item_a").join(db, "item_b")
    a_first = (F.col("_dega") < F.col("_degb")) | \
        ((F.col("_dega") == F.col("_degb"))
         & (F.col("item_a") < F.col("item_b")))
    oriented = ed.select(
        F.when(a_first, F.col("item_a")).otherwise(F.col("item_b"))
        .alias("src"),
        F.when(a_first, F.col("item_b")).otherwise(F.col("item_a"))
        .alias("dst"),
        F.when(a_first, F.col("_degb")).otherwise(F.col("_dega"))
        .alias("_ddeg")).localCheckpoint(eager=True)
    o1, o2 = oriented.alias("o1"), oriented.alias("o2")
    # each unordered out-neighbor pair once, ordered by the SAME total
    # order the orientation uses
    wedges = (o1.join(o2, (F.col("o1.src") == F.col("o2.src"))
                      & ((F.col("o1._ddeg") < F.col("o2._ddeg"))
                         | ((F.col("o1._ddeg") == F.col("o2._ddeg"))
                            & (F.col("o1.dst") < F.col("o2.dst")))))
              .select(F.col("o1.src").alias("u"),
                      F.col("o1.dst").alias("v"),
                      F.col("o2.dst").alias("w")))
    closing = oriented.select(F.col("src").alias("v"),
                              F.col("dst").alias("w"))
    tris = wedges.join(closing, ["v", "w"])
    per_item = (tris.select(F.explode(F.array("u", "v", "w")).alias("item"))
                .groupBy("item")
                .agg(F.count("*").cast("long").alias("n_triangles")))
    return (deg.join(per_item, "item", "left")
            .select("item", "degree",
                    F.coalesce("n_triangles", F.lit(0)).cast("long")
                    .alias("n_triangles"),
                    F.when(F.col("degree") >= 2,
                           F.round(2 * F.coalesce("n_triangles", F.lit(0))
                                   / (F.col("degree")
                                      * (F.col("degree") - 1)), 6))
                    .otherwise(F.lit(0.0)).alias("clustering")))


def itemset_triples(baskets: DataFrame, basket_col: str, item_col: str,
                    minsup: int = 2,
                    min_frac: float | None = None) -> DataFrame:
    """A-priori frequent 3-itemsets (E148) → ``(item_a, item_b,
    item_c, support)`` with ``item_a < item_b < item_c``.

    The classic two-level A-priori pruning done relationally — the
    downward-closure property (every subset of a frequent set is
    frequent) implemented as joins, which is what makes level 3
    tractable at scale:

    1. level 1: items with support ≥ minsup; baskets are FILTERED to
       frequent items before any pair work (the big fan-out cut);
    2. level 2: frequent pairs from the within-basket pair join;
    3. level 3: candidate (a, b) pairs are SEMI-JOINED against the
       frequent-pair table BEFORE extending by c, and both (a, c) and
       (b, c) must be frequent pairs — so the triple fan-out is driven
       by the (small) frequent-pair table, not by raw basket width.

    Pruning is an optimization, not a semantics change: the oracle
    face states the unpruned definition (count all within-basket
    triples, filter ≥ minsup), so the parity row proves the pruned
    plan equals the definition. Baskets must be naturally bounded
    (orders); for unbounded baskets cap first (item_cooccurrence).

    ``min_frac`` makes the threshold RELATIVE — greatest(minsup,
    ceil(frac · n_baskets)) — the textbook formulation, and the one
    that keeps the frequent set (and hence the output) bounded as the
    corpus grows: with an absolute minsup, coincidence triples in
    diffuse data accumulate quadratically with basket count. The
    basket count rides every level's filter as a 1-row broadcast
    crossJoin (the IdentityBroadcast pattern).

    The two slim fan-out tables are eagerly ``localCheckpoint``ed
    (the distinct baskets ``b`` and the L1-filtered ``b1``, which feed
    2 and 5 consumers respectively — the subtree-per-consumer pattern,
    SCALING root-cause 4). Measured at sf0.1 (r13): 3.85 s lazy →
    2.93 s checkpointed at the same threshold — a different result
    from the r10 ``persist()`` measurement (3.0 s → 6-8 s), because
    persist serializes blocks INSIDE the stage pipeline while an eager
    localCheckpoint computes the slim table exactly once and serves
    every consumer from local blocks.
    """
    b = (baskets.select(F.col(basket_col).alias("_bk"),
                        F.col(item_col).alias("_it")).distinct()
         .localCheckpoint(eager=True))
    if min_frac is None:
        thr = F.lit(minsup).cast("long")

        def with_thr(df: DataFrame) -> DataFrame:
            return df
    else:
        nb = b.agg(F.countDistinct("_bk").alias("_nb"))
        thr = F.greatest(F.lit(minsup),
                         F.ceil(F.col("_nb") * min_frac)).cast("long")

        def with_thr(df: DataFrame) -> DataFrame:
            return df.crossJoin(F.broadcast(nb))
    f1 = (with_thr(b.groupBy("_it").agg(F.count("*").alias("_s")))
          .where(F.col("_s") >= thr).select("_it"))
    b1 = b.join(f1, "_it").select("_bk", "_it").localCheckpoint(eager=True)
    pairs = (with_thr(b1.alias("x").join(b1.alias("y"), "_bk")
                      .where(F.col("x._it") < F.col("y._it"))
                      .groupBy(F.col("x._it").alias("_ia"),
                               F.col("y._it").alias("_ib"))
                      .agg(F.count("*").alias("_s")))
             .where(F.col("_s") >= thr)
             .select("_ia", "_ib"))
    # candidate (a, b) occurrences, kept only if the pair is frequent
    ab = (b1.alias("x").join(b1.alias("y"), "_bk")
          .where(F.col("x._it") < F.col("y._it"))
          .select("_bk", F.col("x._it").alias("_ia"),
                  F.col("y._it").alias("_ib"))
          .join(pairs, ["_ia", "_ib"], "left_semi"))
    # extend by c; (a, c) and (b, c) must also be frequent pairs
    abc = (ab.join(b1.alias("z"), "_bk")
           .where(F.col("z._it") > F.col("_ib"))
           .select("_bk", "_ia", "_ib", F.col("z._it").alias("_ic"))
           .join(pairs.select(F.col("_ia"), F.col("_ib").alias("_ic")),
                 ["_ia", "_ic"], "left_semi")
           .join(pairs.select(F.col("_ia").alias("_ib"),
                              F.col("_ib").alias("_ic")),
                 ["_ib", "_ic"], "left_semi"))
    return (with_thr(abc.groupBy(F.col("_ia").alias("item_a"),
                                 F.col("_ib").alias("item_b"),
                                 F.col("_ic").alias("item_c"))
                     .agg(F.count("*").cast("long").alias("support")))
            .where(F.col("support") >= thr)
            .select("item_a", "item_b", "item_c", "support"))


def hierarchy_rollup(nodes: DataFrame, key_col: str,
                     value_col: str) -> DataFrame:
    """Hierarchical (subtree) rollup over an implicit digit-decade tree
    (E155) → ``(node, n_desc, subtree_value)``: for every node, the
    count and value sum over ALL its descendants including itself,
    where a node's parent is ``key // 10`` (roots are keys < 10).

    The recursive-CTE classic (BOM explosion, org rollups) in the only
    shape Spark supports natively: the ancestor closure is UNROLLED as
    ``HIERARCHY_MAX_DEPTH`` narrow expressions — pair (node,
    node // 10^j) until the quotient drops below 10 — because the
    tree's depth is bounded by construction (``log10(max_key)``; depth
    7 covers keys < 10^8 = 10^(max_depth+1)). The bound is ENFORCED at
    runtime by a poisoned expression: any key whose quotient at
    max_depth is still ≥ 10 would silently lose its deeper ancestors
    (and surface non-root keys as roots), so such a row raises instead
    of truncating — TPC-H ``p_partkey`` reaches 2·10^8 at sf1000, past
    the depth-7 coverage, and that scale needs a larger
    ``HIERARCHY_MAX_DEPTH`` (cost is one extra narrow arm per level).
    One explode + one hash aggregate; the closure is
    ≤ depth rows per node, never an iterative job per level. The
    oracle face states the same closure as a DuckDB ``WITH RECURSIVE``
    CTE — a genuinely different evaluation mechanism, so parity proves
    the unrolling against the recursive definition itself. ``value``
    is summed in integer cents (floor(value·100)) so subtree totals
    are exact integer sums under any partitioning.
    """
    max_depth = HIERARCHY_MAX_DEPTH
    node = F.col(key_col)
    arms = []
    for j in range(max_depth + 1):
        anc = F.expr(f"{key_col} div {10 ** j}")
        if j == 0:
            arms.append(anc)
        else:
            gate = F.expr(f"{key_col} div {10 ** (j - 1)}") >= 10
            arms.append(F.when(gate, anc))
    # depth-overflow guard: a key ≥ 10^(max_depth+1) still has a
    # quotient ≥ 10 after max_depth divisions, i.e. ancestors the
    # unrolling above cannot reach — raise rather than silently
    # truncate the closure (null when in range, filtered with the
    # other inactive arms)
    too_deep = F.expr(f"{key_col} div {10 ** max_depth}") >= 10
    arms.append(F.when(too_deep, F.raise_error(F.concat(
        F.lit("hierarchy_rollup: key "), node.cast("string"),
        F.lit(f" exceeds max_depth={max_depth} coverage (keys must be "
              f"< {10 ** (max_depth + 1)}); raise HIERARCHY_MAX_DEPTH")))
        .cast("long")))
    cents = F.floor(F.col(value_col) * 100).cast("long")
    pairs = nodes.select(
        cents.alias("_c"),
        F.explode(F.filter(F.array(*arms),
                           lambda a: a.isNotNull())).alias("_anc"))
    return (pairs.groupBy(F.col("_anc").alias("node"))
            .agg(F.count("*").cast("long").alias("n_desc"),
                 F.sum("_c").cast("long").alias("subtree_cents")))


def degree_assortativity(edges: DataFrame) -> DataFrame:
    """Degree assortativity of an undirected graph (E201) → ONE row
    ``(n_nodes, n_edges, assortativity)``.

    Newman's r (2002): the Pearson correlation of the degrees at the
    two ends of every edge — positive means hubs attach to hubs (a
    social-network signature), negative means hubs attach to leaves
    (star/spam topologies, the shape that makes the co-occurrence
    graph's pair joins skew). One number that says which regime the
    graph is in BEFORE the expensive graph faces (PageRank,
    triangles) are tuned for it.

    Shape: degrees are one hash aggregate over the symmetrized edge
    list; the edge-end degree pairs are two equi-joins back; r comes
    from integer sufficient statistics (Σx, Σx², Σxy over the 2·E
    directed end-pairs — degrees are BIGINTs, so the sums are exact
    and engine-identical, and symmetrization makes Σx = Σy by
    construction so one pass suffices). Degenerate variance (all
    degrees equal, e.g. a perfect cycle) → null by contract.
    Everything is keyed equi-join + aggregate: no windows, no
    cartesian, linear in E.
    """
    e = edges.select(F.col("src").alias("_u"), F.col("dst").alias("_v"))
    sym = e.unionByName(e.select(F.col("_v").alias("_u"),
                                 F.col("_u").alias("_v")))
    deg = sym.groupBy("_u").agg(F.count("*").cast("long").alias("_d"))
    du = deg.select(F.col("_u"), F.col("_d").alias("_du"))
    dv = deg.select(F.col("_u").alias("_v"), F.col("_d").alias("_dv"))
    ends = sym.join(du, "_u").join(dv, "_v")
    m = ends.agg(
        F.count("*").cast("long").alias("_m2"),
        F.sum("_du").alias("_sx"),
        F.sum(F.col("_du") * F.col("_du")).alias("_sxx"),
        F.sum(F.col("_du") * F.col("_dv")).alias("_sxy"))
    nodes = deg.agg(F.count("*").cast("long").alias("n_nodes"))
    # every sum enters the float stage via an explicit double cast and
    # the SAME product order as the oracle SQL — the integer sums are
    # exact, so the doubles are bit-identical across engines
    mm = F.col("_m2").cast("double")
    sx = F.col("_sx").cast("double")
    cov = F.col("_sxy").cast("double") * mm - sx * sx
    var = F.col("_sxx").cast("double") * mm - sx * sx
    return (m.crossJoin(F.broadcast(nodes))
            .select("n_nodes",
                    (F.col("_m2") / 2).cast("long").alias("n_edges"),
                    F.when(var > 0, F.round(cov / var, 6))
                    .alias("assortativity")))


def rec_hitrate(events: DataFrame, split_day: int, k: int = 3) -> DataFrame:
    """Temporal holdout evaluation of the co-occurrence recommender
    (E206) → ONE row ``(k, n_test_pairs, n_hits, hitrate)``.

    The end-to-end eval that closes the recommender loop: the
    co-occurrence faces BUILD an item-item similarity graph, but
    nothing says whether "users who touched A also touched B" actually
    predicts future behavior. Protocol: train on days < ``split_day``,
    build each user's candidate set as the union of the top-``k``
    most-similar items (Jaccard desc, item-id tiebreak — on the
    6-dp-ROUNDED jaccard the operator already emits, so the k
    boundary cannot ulp-flip) of their train items, then score
    against the NEW (user, item) pairs in the test window (items the
    user already touched in train are anti-joined out — recommending
    the past is not a hit). hitrate = hits / test pairs, the
    leakage-free number (the split is temporal, the similarity graph
    never sees test data).

    Scale: reuses item_cooccurrence's capped build (fan-out ≤ cap²
    per user); the similarity edges symmetrize (Jaccard is symmetric,
    the build emits a < b once) and top-k per item runs on the
    two-stage grouped top-k, never a per-item reducer funnel; eval is
    three keyed joins + one aggregate. A user with no recommendable
    train items simply contributes misses — the honest denominator.
    """
    day = F.dayofmonth("ts")
    train = events.where(day < split_day)
    test = events.where(day >= split_day)
    # NOT pinned, deliberately (r14 opt round A/B): an eager
    # localCheckpoint here measured 1.83 -> 3.67 s — the union's two
    # sim consumers already share every exchange at runtime (AQE
    # ReusedExchange), so the pin only serialized work the unpinned
    # plan overlapped inside one job
    sim = item_cooccurrence(train)
    edges = sim.select(F.col("item_a").alias("_src"),
                       F.col("item_b").alias("_dst"), "jaccard") \
        .unionByName(sim.select(F.col("item_b").alias("_src"),
                                F.col("item_a").alias("_dst"), "jaccard"))
    from .grouped import grouped_topk

    recs = grouped_topk(edges, ["_src"],
                        [F.col("jaccard").desc(), F.col("_dst")], k) \
        .select("_src", "_dst")
    ut = (train.where(F.col("item").isNotNull())
          .select(F.col("user_id").alias("_u"),
                  F.col("item").alias("_it")).distinct())
    user_recs = (ut.join(recs, ut["_it"] == recs["_src"])
                 .select("_u", F.col("_dst").alias("_it")).distinct())
    test_pairs = (test.where(F.col("item").isNotNull())
                  .select(F.col("user_id").alias("_u"),
                          F.col("item").alias("_it")).distinct()
                  .join(ut, ["_u", "_it"], "left_anti"))
    hits = test_pairs.join(user_recs, ["_u", "_it"], "left_semi")
    n_test = test_pairs.agg(F.count("*").cast("long").alias("n_test_pairs"))
    n_hit = hits.agg(F.count("*").cast("long").alias("n_hits"))
    # no test pairs -> null hitrate by contract (there is nothing to
    # evaluate), never an ANSI divide-by-zero
    return (n_test.crossJoin(F.broadcast(n_hit))
            .select(F.lit(k).cast("long").alias("k"),
                    "n_test_pairs", "n_hits",
                    F.when(F.col("n_test_pairs") > 0,
                           F.round(F.col("n_hits")
                                   / F.col("n_test_pairs"), 6))
                    .alias("hitrate")))


def adamic_adar(events: DataFrame) -> DataFrame:
    """Adamic-Adar link prediction over the co-occurrence graph
    (E225) → the top-20 NON-adjacent item pairs most likely to
    co-occur next: ``(item_a, item_b, n_common, aa_score)``.

    The classic link-prediction baseline (Adamic & Adar 2003), the
    predictive companion to the descriptive graph tier (co-occurrence
    E111, triangles E143, assortativity E201): score(a, b) =
    Σ_{z ∈ Γ(a)∩Γ(b)} 1/ln(deg z) — a shared RARE neighbor says more
    than a shared hub. This is what "customers who buy these together
    will soon buy THOSE together" and cross-domain corpus affinity
    forecasting run on.

    Determinism: each middle node's contribution is quantized to
    integer MICROS (round(1e6/ln d) — d is a small exact integer, so
    both engines evaluate ln on the same handful of values), the
    per-pair score is an exact BIGINT sum (order-free), and the
    top-k orders on that integer with the pair as tiebreak — a total
    order no double ulp can reshuffle.

    Scale shape: rides :func:`item_cooccurrence`'s capped edges
    (fan-out ≤ cap² per user); wedge fan-out is Σ deg² over MIDDLE
    nodes, bounded by dropping hubs with deg > 64 — the
    df-cap treatment: a ubiquitous neighbor contributes at most
    1/ln(64) ≈ 0.24 per pair while costing deg² join rows, the
    classic signal-per-cost cliff. Existing edges leave via one
    LEFT ANTI join; the top-k is TakeOrderedAndProject.
    """
    edges = (item_cooccurrence(events)
             .select("item_a", "item_b")
             .localCheckpoint(eager=True))
    sym = edges.unionByName(
        edges.select(F.col("item_b").alias("item_a"),
                     F.col("item_a").alias("item_b")))
    deg = (sym.groupBy("item_a")
           .agg(F.count("*").cast("long").alias("_d"))
           .withColumnRenamed("item_a", "_z"))
    mid = (sym.select(F.col("item_a").alias("_z"),
                      F.col("item_b").alias("_nb"))
           .join(deg, "_z")
           # degree-1 middles can't form a wedge, and ln(1) = 0 would
           # divide by zero under ANSI — prune them before t
           .where((F.col("_d") >= 2) & (F.col("_d") <= 64)))
    t = F.round(F.lit(1_000_000.0) / F.log(F.col("_d"))).cast("long")
    n1 = mid.select("_z", F.col("_nb").alias("_a"), t.alias("_t"))
    n2 = mid.select("_z", F.col("_nb").alias("_b"))
    scores = (n1.join(n2, "_z")
              .where(F.col("_a") < F.col("_b"))
              .groupBy("_a", "_b")
              .agg(F.count("*").cast("long").alias("n_common"),
                   F.sum("_t").alias("_aa")))
    non_adjacent = scores.join(
        edges.select(F.col("item_a").alias("_a"),
                     F.col("item_b").alias("_b")),
        ["_a", "_b"], "left_anti")
    return (non_adjacent
            .orderBy(F.col("_aa").desc(), "_a", "_b")
            .limit(20)
            .select(F.col("_a").alias("item_a"),
                    F.col("_b").alias("item_b"), "n_common",
                    F.round(F.col("_aa") / 1e6, 6).alias("aa_score")))


def hits_scores(events: DataFrame) -> DataFrame:
    """HITS hubs-and-authorities on the user-item incidence (E228) →
    the top-``HITS_K`` authority items: ``(item, rank, authority)``.

    Kleinberg's alternating eigenvector pair on the BIPARTITE graph —
    the ranking the unipartite faces can't give: PageRank (E121)
    ranks items inside the item-item projection, HITS ranks items BY
    the quality of the users touching them (a(i) = Σ h(u), h(u) =
    Σ a(i)) — the classic curator/content decomposition.
    ``HITS_DOUBLE_ROUNDS`` (three) double-rounds from h₀ = 1 ≈ the
    leading singular direction of the incidence matrix.

    Determinism — the E224 treatment, distributed: the incidence is
    0/1, so every update is a pure grouped SUM of exact integers (no
    products, no normalization inside the loop — DECIMAL(38,0) on the
    Spark side, HUGEINT in the oracle); growth per double-round is
    ≤ (COOC_CAP · max item degree), guarded against the 10³⁸ ceiling at
    runtime; the top-k orders on the exact integer authority with the
    item as tiebreak (a total order), and the reported score
    normalizes to the max authority in ONE final double division.

    Scale shape: per-user baskets capped at ``COOC_CAP`` (the
    co-occurrence treatment) so h-updates fan in ≤ COOC_CAP rows per
    user; the iteration is 2·rounds keyed equi-join + hash-aggregate pairs
    over the incidence — each carries one integer per node, never a
    vector; the incidence is checkpointed once for its 2·rounds + 1
    consumers (root-cause 4).
    """
    double_rounds, k = HITS_DOUBLE_ROUNDS, HITS_K
    per = (events.where(F.col("item").isNotNull())
           .groupBy("user_id", "item")
           .agg(F.count("*").alias("_n")))
    w = Window.partitionBy("user_id").orderBy(F.col("_n").desc(),
                                              F.col("item"))
    # lazy pin: the overflow-guard aggregate right below is a full
    # scan that materializes the incidence as a side effect; the
    # 2·rounds loop joins then read the persisted blocks
    inc = (per.withColumn("_rk", F.row_number().over(w))
           .where(F.col("_rk") <= COOC_CAP)
           .select(F.col("user_id").alias("_u"),
                   F.col("item").alias("_i"))
           .localCheckpoint(eager=False))
    # runtime overflow guard: per double-round growth ≤ COOC_CAP · max
    # item degree (h picks up ≤ COOC_CAP authorities, a ≤ deg_i hubs)
    max_ideg = (inc.groupBy("_i").count()
                .agg(F.max("count")).first()[0] or 0)
    if max_ideg and (COOC_CAP * max_ideg) ** double_rounds >= 10 ** 38:
        raise ValueError(
            f"HITS would overflow the oracle's HUGEINT: "
            f"(cap·max_item_degree)^rounds = "
            f"({COOC_CAP}·{max_ideg})^{double_rounds}")
    dec = "decimal(38,0)"
    h = (inc.select("_u").distinct()
         .withColumn("_h", F.lit(1).cast(dec)))
    a = None
    for r in range(double_rounds):
        a = (inc.join(h, "_u")
             .groupBy("_i").agg(F.sum("_h").cast(dec).alias("_a")))
        if r == double_rounds - 1:
            break  # only authorities are reported — the final
            # h-update would be one wasted join + hash aggregate
        h = (inc.join(a, "_i")
             .groupBy("_u").agg(F.sum("_a").cast(dec).alias("_h")))
    amax = a.agg(F.max("_a").alias("_m"))
    return (a.crossJoin(F.broadcast(amax))
            .orderBy(F.col("_a").desc(), "_i")
            .limit(k)
            .select(F.col("_i").alias("item"),
                    F.row_number().over(
                        Window.orderBy(F.col("_a").desc(), "_i"))
                    .cast("long").alias("rank"),
                    F.round(F.col("_a").cast("double")
                            / F.col("_m").cast("double"), 6)
                    .alias("authority")))


def label_propagation(events: DataFrame, rounds: int = 3) -> DataFrame:
    """Semi-supervised label propagation over the co-occurrence graph
    (E230) → one row per node: ``(item, label, is_seed)``.

    The "spread the labels you have" primitive (Zhu & Ghahramani
    2002, clamped-seed form): seed nodes keep their label forever;
    every unlabeled node adopts, per round, the MAJORITY label among
    its labeled neighbors. Three rounds reach everything within
    graph distance 3 of a seed — on a co-occurrence graph that is
    effectively everything. This is how a 1% hand-labeled catalog
    becomes a fully-labeled one, and how topic labels reach unlabeled
    corpus sources through the affinity graph.

    Determinism: votes are integer COUNTS; the winner is picked by
    (max count, then smallest label) through one max over
    (count, -label) structs — lexicographic on exact integers, so the
    tie rule is explicit, never an engine's unspecified arg_max
    behavior; round count is fixed, so both engines run the identical
    unrolled computation. Nodes with no
    labeled neighbor stay null that round (and may resolve later).
    Label-domain assumption (ADVICE r14): the ``-label`` negation in
    the election struct requires labels to be negatable longs — here
    they are by construction (seeded internally as ``item % 5``,
    small non-negative ints); a variant seeding arbitrary external
    labels must not reuse the negation trick verbatim (Long.MIN_VALUE
    has no negation, and the ordering inverts).

    Scale shape: rides the capped co-occurrence edges; each round is
    ONE join of the symmetric edge list against the current label
    table (one label per node — never a vector) + two grid-sized
    aggregates; labels are checkpointed per round so round r+1
    doesn't re-execute rounds 1..r (the iterative-algorithm
    convention shared with connected components).
    """
    edges = (item_cooccurrence(events)
             .select("item_a", "item_b")
             .localCheckpoint(eager=True))
    sym = edges.unionByName(
        edges.select(F.col("item_b").alias("item_a"),
                     F.col("item_a").alias("item_b")))
    nodes = sym.select(F.col("item_a").alias("_i")).distinct()
    seed_label = F.when(F.col("_i") % 7 == 0, F.col("_i") % 5)
    # lazy checkpoints: each label table is consumed twice (votes +
    # carry-forward), so the cut lineage materializes ONCE on first
    # use — eager=True would add a blocking job per round (measured
    # 5.4 s -> the eager form was the whole overshoot)
    labels = nodes.select(
        "_i", seed_label.cast("long").alias("_l"),
        (F.col("_i") % 7 == 0).alias("is_seed")).localCheckpoint(False)
    for _ in range(rounds):
        votes = (sym.join(labels.where(F.col("_l").isNotNull())
                          .select(F.col("_i").alias("item_b"),
                                  F.col("_l").alias("_nl")),
                          "item_b")
                 .groupBy(F.col("item_a").alias("_i"), "_nl")
                 .agg(F.count("*").alias("_c")))
        # (max count, then smallest label) as ONE aggregate: the max
        # over structs ordered by (_c, -_nl) IS that election — struct
        # comparison is field-order lexicographic and both fields are
        # exact integers, so the winner is identical to the former
        # max-count join + min-label aggregate while dropping a join
        # and a grid aggregate from every round (r14 opt round)
        winner = (votes.groupBy("_i")
                  .agg(F.max(F.struct(F.col("_c"),
                                      (-F.col("_nl")).alias("_nn")))
                       .alias("_m"))
                  .select("_i", (-F.col("_m._nn")).alias("_wl")))
        labels = (labels.join(winner, "_i", "left")
                  .select("_i",
                          F.when(F.col("is_seed"), F.col("_l"))
                          .otherwise(F.coalesce(F.col("_wl"),
                                                F.col("_l")))
                          .alias("_l"),
                          "is_seed")
                  .localCheckpoint(eager=False))
    return labels.select(F.col("_i").alias("item"),
                         F.col("_l").alias("label"), "is_seed")
