"""Relational-spine queries (SURVEY.md §2.1-§2.7 + new standard surface).

Each entry pairs an idiomatic DataFrame/Spark-SQL plan with a DuckDB
oracle over the same parquet views. Scale notes are attached per query:
every plan here is shuffle-scalable (hash agg with map-side partial,
equi-joins, broadcast for dims, window functions partitioned on a key),
no driver-side loops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from .queries import register
from .sources.tables import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# --- A1/A8: TPC-H Q1-shaped pricing summary --------------------------------
# Hash aggregate with map-side partial combine (the reference hand-codes
# this via reduceByKey, G019HW1.java:188; Catalyst's HashAggregateExec
# pair gives it for free). Group cardinality is tiny → final shuffle is
# 32 rows regardless of input scale; filter pushed to parquet scan.
@register(
    "pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(avg(l_quantity), 4) AS avg_qty,
           round(avg(l_discount), 4) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="A1+A5+A8: grouped sums/avgs/count with pushed-down date filter",
)
def pricing_summary(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
            .alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


# --- P6/A1/C6: word count (WordCountExample.java:63-75) ---------------------
# explode(split) → groupBy(word).count(): one shuffle on word with
# partial aggregation; at 100 TB the shuffle carries one row per
# distinct word per partition, not per token.
@register(
    "wordcount",
    """
    SELECT word, count(*) AS cnt
    FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
    WHERE word <> ''
    GROUP BY word
    """,
    doc="C6 word count over documents.text",
)
def wordcount(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )


# --- A5/C6: average word length (WordCountExample.java:137-140) -------------
@register(
    "avg_word_length",
    """
    SELECT round(avg(length(word)), 4) AS avg_len, count(*) AS n_words
    FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
    WHERE word <> ''
    """,
    doc="A5 global avg over exploded tokens",
)
def avg_word_length(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("word"))
        .where(F.col("word") != "")
        .agg(F.round(F.avg(F.length("word")), 4).alias("avg_len"),
             F.count("*").alias("n_words"))
    )


# --- equi-join chain + agg: revenue per nation ------------------------------
# nation/region are tiny → Catalyst broadcasts them (BroadcastHashJoin);
# orders⋈customer shuffles on the join key only. At scale this is the
# canonical star-schema join: fact shuffled once, dims broadcast.
@register(
    "revenue_by_nation",
    """
    SELECT n.n_name AS nation, round(sum(o.o_totalprice), 2) AS revenue,
           count(*) AS n_orders
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
    doc="star-schema equi-join chain with broadcast dims",
)
def revenue_by_nation(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"),
             F.count("*").alias("n_orders"))
    )


# --- window: top-3 customers per nation by balance --------------------------
# row_number over (nation, balance desc, key) — partitioned window, no
# global sort; deterministic via the unique c_custkey tiebreaker.
@register(
    "top_customers_per_nation",
    """
    SELECT nation, c_custkey, acctbal, rn
    FROM (
      SELECT c_nationkey AS nation, c_custkey,
             round(c_acctbal, 2) AS acctbal,
             row_number() OVER (PARTITION BY c_nationkey
                                ORDER BY c_acctbal DESC, c_custkey) AS rn
      FROM customer
    )
    WHERE rn <= 3
    """,
    doc="O2-style top-k per group via ranking window",
)
def top_customers_per_nation(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    w = W.partitionBy("c_nationkey").orderBy(F.col("c_acctbal").desc(),
                                             F.col("c_custkey"))
    return (
        c.select(F.col("c_nationkey").alias("nation"), "c_custkey",
                 F.round("c_acctbal", 2).alias("acctbal"),
                 F.row_number().over(w).alias("rn"))
        .where(F.col("rn") <= 3)
    )


# --- window: running total per customer -------------------------------------
@register(
    "running_order_total",
    """
    SELECT o_custkey, o_orderkey,
           round(sum(o_totalprice) OVER (PARTITION BY o_custkey
                                         ORDER BY o_orderdate, o_orderkey), 2)
             AS running_total
    FROM orders
    """,
    doc="cumulative window aggregate (new surface; reference has none). "
        "Redundant face: customer_rolling_30d carries the same "
        "ROWS-frame running total inside the driver's checked window; "
        "this standalone form stays pytest-oracle-checked",
)
def running_order_total(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey") \
        .rowsBetween(W.unboundedPreceding, 0)
    return o.select(
        "o_custkey", "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_total"),
    )


# --- rolling time-range window (RANGE + ROWS frames; new surface) -----------
# Both window-frame classes in one pass: a RANGE frame over event time
# (per customer, sum/count of orders in the trailing 30 calendar days —
# ordering on the epoch-day int since Spark RANGE frames need a numeric
# key; same-day peers share one frame, so the result is tie-order
# independent) PLUS the ROWS-frame cumulative running total that
# ``running_order_total`` demonstrates standalone (that query is now a
# redundant face kept out of the driver window). Same partition key →
# one shuffle on o_custkey, both frames evaluated in a single window
# pass (plan-asserted). The ROWS ordering adds o_orderkey as a
# deterministic tiebreak so the cumulative sum is replay-stable.
@register(
    "customer_rolling_30d",
    """
    SELECT o_orderkey, o_custkey,
           strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS o_day,
           round(sum(o_totalprice) OVER w, 2) AS sum_30d,
           count(*) OVER w AS n_30d,
           round(sum(o_totalprice) OVER (PARTITION BY o_custkey
                                         ORDER BY o_orderdate, o_orderkey
                                         ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND CURRENT ROW), 2)
             AS running_total
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY CAST(o_orderdate AS DATE)
                 RANGE BETWEEN INTERVAL 29 DAY PRECEDING AND CURRENT ROW)
    """,
    doc="trailing-30-day RANGE-frame window + cumulative ROWS-frame "
        "running total per customer, one shuffle, one window pass",
)
def customer_rolling_30d(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    w = (W.partitionBy("o_custkey")
         .orderBy(F.unix_date(F.to_date("o_orderdate")))
         .rangeBetween(-29, 0))
    wr = (W.partitionBy("o_custkey")
          .orderBy("o_orderdate", "o_orderkey")
          .rowsBetween(W.unboundedPreceding, 0))
    return o.select(
        "o_orderkey", "o_custkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_day"),
        F.round(F.sum("o_totalprice").over(w), 2).alias("sum_30d"),
        F.count("*").over(w).alias("n_30d"),
        F.round(F.sum("o_totalprice").over(wr), 2).alias("running_total"),
    )


# --- J4: semi / anti joins ---------------------------------------------------
# The reference's membership probe (G016HW3.java:186-196) is a driver
# loop; left-semi/anti shuffles only the key column.
@register(
    "customers_with_open_orders",
    """
    SELECT c_custkey, c_name FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
    """,
    doc="J4 as left-semi join",
)
def customers_with_open_orders(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "O")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi") \
        .select("c_custkey", "c_name")


@register(
    "customers_without_orders",
    """
    SELECT c_custkey, c_name FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
    """,
    doc="J4 complement as left-anti join",
)
def customers_without_orders(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti") \
        .select("c_custkey", "c_name")


# Window face for J4: semi and anti against the SAME predicate in one
# result, tagged — both branches are non-vacuous (1451/49 at sf0.01),
# unlike customers_without_orders whose 0-row green was vacuous.
@register(
    "customer_order_membership",
    """
    SELECT c_custkey, c_name, 'open' AS membership FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
    UNION ALL
    SELECT c_custkey, c_name, 'none_open' AS membership FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
                            WHERE o_orderstatus = 'O')
    """,
    doc="J4 semi + anti join on one predicate, tagged (both non-empty)",
)
def customer_order_membership(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "O")
    cond = c.c_custkey == o.o_custkey
    semi = c.join(o, cond, "left_semi") \
        .select("c_custkey", "c_name", F.lit("open").alias("membership"))
    anti = c.join(o, cond, "left_anti") \
        .select("c_custkey", "c_name", F.lit("none_open").alias("membership"))
    return semi.unionAll(anti)


# --- A6: distinct counts -----------------------------------------------------
@register(
    "distinct_users_by_type",
    """
    SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events
    FROM events GROUP BY event_type
    """,
    doc="A6 exact distinct count (DistinctItemsExample.py:21-26 semantics)",
)
def distinct_users_by_type(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count("*").alias("n_events"),
    )


# --- A9/K3: exact frequent items (batch form of G016HW3 exact) --------------
# count per item + threshold on ceil(phi·n): two-level aggregate; the
# scalar subquery total broadcasts. phi=0.007 chosen so the answer set
# is non-empty but small on the near-uniform user_id distribution.
@register(
    "frequent_users_exact",
    """
    SELECT user_id, count(*) AS cnt
    FROM events
    GROUP BY user_id
    HAVING count(*) >= ceil(0.007 * (SELECT count(*) FROM events))
    """,
    doc="A9 frequency-threshold selection (exact frequent items)",
)
def frequent_users_exact(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    n = e.count()  # bounded action: one scalar, mirrors streamLength[0]
    import math
    thr = math.ceil(0.007 * n)
    return e.groupBy("user_id").agg(F.count("*").alias("cnt")) \
        .where(F.col("cnt") >= thr)


# --- K2 alternative: count-min sketch frequent items ------------------------
# The mergeable-sketch face of frequent-items (SURVEY §2.4 names CMS as
# the idiomatic Spark sibling of sticky sampling). xxhash64 bucket
# values are Spark-specific, but the sketch's CLAIM is SQL-stateable:
# one-sided error ⇒ every exact-frequent user is CMS-selected
# (superset) with est ≥ true count. So the query returns, per
# exact-frequent user, the exact count plus the two guarantee flags;
# the oracle is the exact histogram with literal TRUE flags. A sketch
# violation (missed user or under-count) flips a flag or drops a row
# and breaks the hash — the sketch is semantically checked, not just
# run. Overestimate bound + mergeability remain property-tested
# (tests/test_streaming.py).
@register(
    "frequent_users_cms",
    """
    WITH n AS (SELECT count(*) AS n FROM events),
         h AS (SELECT user_id, CAST(count(*) AS BIGINT) AS true_cnt
               FROM events GROUP BY 1)
    SELECT user_id, true_cnt,
           TRUE AS cms_selected, TRUE AS est_ge_true
    FROM h, n WHERE true_cnt >= ceil(0.007 * n.n)
    """,
    doc="count-min sketch (depth 5 × width 2048) guarantee check: "
        "every exact-frequent user must be CMS-selected with "
        "est >= true count (one-sided error, superset property)",
)
def frequent_users_cms(spark, sf_dir):
    import math

    from .operators.frequent import cms_estimate, cms_table

    e = _t(spark, sf_dir, "events")
    n = e.count()  # bounded action: one scalar, as frequent_users_exact
    thr = math.ceil(0.007 * n)
    exact = (e.groupBy("user_id").agg(F.count("*").alias("true_cnt"))
             .where(F.col("true_cnt") >= thr))
    sketch = cms_table(e, "user_id")
    est = cms_estimate(sketch, e.select("user_id"), "user_id")
    return (exact.join(est, exact.user_id == est.item)
            .select("user_id", "true_cnt",
                    (F.col("est") >= thr).alias("cms_selected"),
                    (F.col("est") >= F.col("true_cnt"))
                    .alias("est_ge_true")))


# The md5-pinned sibling completing the sketch-family story (KMV
# value-checked, HLL documented-engine-private, CMS now pinned): with
# bucket = md5("row:item") % width both engines build the IDENTICAL
# depth x width table and probe it identically, so every ESTIMATE is
# value-checked — not just the guarantee flags — and the per-item
# overcount (est - exact >= 0, the one-sided error itself) is part of
# the compared values.
@register(
    "frequent_users_cms_pinned",
    """
    WITH items AS (SELECT user_id AS item FROM events),
    tab AS (
      SELECT t.row,
             ('0x' || substr(md5(t.row::VARCHAR || ':'
                                 || item::VARCHAR), 1, 8))::BIGINT
               % 2048 AS bucket,
             count(*) AS cnt
      FROM items CROSS JOIN unnest([0, 1, 2, 3, 4]) AS t(row)
      GROUP BY 1, 2
    ),
    cand AS (SELECT DISTINCT item FROM items),
    probe AS (
      SELECT c.item, min(coalesce(tab.cnt, 0))::BIGINT AS est
      FROM cand c
      CROSS JOIN unnest([0, 1, 2, 3, 4]) AS t(row)
      LEFT JOIN tab
        ON tab.row = t.row
       AND tab.bucket = ('0x' || substr(md5(t.row::VARCHAR || ':'
                             || c.item::VARCHAR), 1, 8))::BIGINT % 2048
      GROUP BY c.item
    ),
    ex AS (SELECT item, count(*)::BIGINT AS exact FROM items
           GROUP BY item)
    SELECT p.item, p.est, ex.exact,
           (p.est - ex.exact)::BIGINT AS overcount
    FROM probe p JOIN ex USING (item)
    """,
    doc="md5-pinned count-min sketch (depth 5 x width 2048): the "
        "sketch table and every point estimate are value-checked "
        "across engines, including the per-item one-sided overcount "
        "(est - exact >= 0); completes the pinned sketch family "
        "beside KMV",
)
def frequent_users_cms_pinned(spark, sf_dir):
    from .operators.frequent import cms_estimate, cms_table

    e = _t(spark, sf_dir, "events").select(F.col("user_id").alias("item"))
    sketch = cms_table(e, "item", hash_family="md5")
    est = cms_estimate(sketch, e, "item")
    exact = e.groupBy("item").agg(F.count("*").cast("long").alias("exact"))
    return (est.join(exact, "item")
            .select("item", F.col("est").cast("long").alias("est"),
                    "exact",
                    (F.col("est") - F.col("exact")).cast("long")
                    .alias("overcount")))



# --- stratified sampling (sampleBy) ------------------------------------------
# The executor-side sampling face (K1/K2 are sequential driver-state
# samplers): per-stratum Bernoulli sampling with a fixed seed —
# deterministic in Spark but not SQL-expressible (the hash-based coin
# flips are engine-internal), so the registry check is rows-only and
# the statistical contract (per-stratum fraction, subset property)
# lives in tests/test_streaming.py.
@register(
    "stratified_event_sample",
    None,
    doc="seeded stratified sample: 20% of clicks, 5% of views, 0% of "
        "the rest (df.sampleBy — executor-side, no driver state)",
)
def stratified_event_sample(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return (e.sampleBy("event_type", {"click": 0.2, "view": 0.05}, seed=42)
            .select("event_id", "event_type", "user_id"))


# --- set operations (new surface) -------------------------------------------
@register(
    "segment_set_ops",
    """
    SELECT 'both' AS tag, c_custkey FROM (
      SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      INTERSECT
      SELECT c_custkey FROM customer WHERE c_acctbal > 0
    )
    UNION ALL
    SELECT 'only_building' AS tag, c_custkey FROM (
      SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      EXCEPT
      SELECT c_custkey FROM customer WHERE c_acctbal > 0
    )
    """,
    doc="UNION/INTERSECT/EXCEPT (absent from the reference; SURVEY §2.9)",
)
def segment_set_ops(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    building = c.where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    positive = c.where(F.col("c_acctbal") > 0).select("c_custkey")
    both = building.intersect(positive).select(F.lit("both").alias("tag"),
                                               "c_custkey")
    only_b = building.exceptAll(positive).distinct().select(
        F.lit("only_building").alias("tag"), "c_custkey")
    return both.unionAll(only_b)


# --- grouping sets / rollup --------------------------------------------------
@register(
    "sales_rollup",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    doc="ROLLUP hierarchy totals (new surface)",
)
def sales_rollup(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.count("*").alias("n"),
    )


# CUBE is the other half of the declared grouping-sets surface: all 4
# grouping combinations in one pass (Catalyst expands to a single
# Expand + hash agg — one shuffle regardless of how many sets).
@register(
    "sales_cube",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    doc="CUBE totals over both grouping dimensions (new surface)",
)
def sales_cube(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.count("*").alias("n"),
    )


# --- date/time functions -----------------------------------------------------
@register(
    "orders_by_month",
    """
    SELECT year(o_orderdate) AS y, month(o_orderdate) AS m,
           count(*) AS n_orders, round(sum(o_totalprice), 2) AS total
    FROM orders GROUP BY 1, 2
    """,
    doc="date part extraction + agg (new surface)",
)
def orders_by_month(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return o.groupBy(
        F.year("o_orderdate").alias("y"),
        F.month("o_orderdate").alias("m"),
    ).agg(F.count("*").alias("n_orders"),
          F.round(F.sum("o_totalprice"), 2).alias("total"))


# --- event-time tumbling windows (SURVEY §2.9 new surface) -------------------
# Batch face of streaming/windows.py: F.window over events.ts with a
# plain date_trunc oracle (UTC session timezone on both engines). The
# watermarked streaming face of the same plan is exercised in
# tests/test_streaming.py.
@register(
    "events_by_window",
    """
    SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS win_start,
           date_trunc('hour', CAST(ts AS TIMESTAMP)) + INTERVAL 1 HOUR
             AS win_end,
           event_type,
           count(*) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM events GROUP BY 1, 2, 3
    """,
    doc="tumbling 1-hour event-time window count/sum per event_type "
        "(F.window batch face; watermarked variant in streaming/)",
)
def events_by_window(spark, sf_dir):
    from .streaming.windows import windowed_event_counts

    ev = _t(spark, sf_dir, "events")
    return windowed_event_counts(ev, "1 hour", keys=("event_type",))


# --- A8: conditional aggregation --------------------------------------------
@register(
    "conditional_agg_priority",
    """
    SELECT o_orderpriority,
           CAST(sum(CASE WHEN o_totalprice > 150000 THEN 1 ELSE 0 END) AS BIGINT) AS n_big,
           CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_finished,
           count(*) AS n
    FROM orders GROUP BY o_orderpriority
    """,
    doc="A8 count-if accumulators as sum(CASE WHEN ...)",
)
def conditional_agg_priority(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.sum(F.when(F.col("o_totalprice") > 150000, 1).otherwise(0))
        .alias("n_big"),
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0))
        .alias("n_finished"),
        F.count("*").alias("n"),
    )


# --- J3-shaped: broadcast dim join + top-k ----------------------------------
# part is small → explicit broadcast hint (X4); top-k via
# TakeOrderedAndProject (O2), deterministic through the unique brand
# grouping + revenue/brand tiebreak.
@register(
    "top_brands_by_revenue",
    """
    SELECT p.p_brand AS brand,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_brand
    ORDER BY revenue DESC, brand
    LIMIT 5
    """,
    doc="broadcast hash join + hash agg + top-k",
)
def top_brands_by_revenue(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
             .alias("revenue"))
        .orderBy(F.col("revenue").desc(), "brand")
        .limit(5)
    )


# --- skew-mitigated join (operators/skew.py registry face) ------------------
# A deliberately skewed fact⋈dim join: ~75% of event rows are remapped
# to the single hot key 1, the shape that funnels one reducer in a
# plain shuffle join. salted_join scatters the hot key across 8
# synthetic sub-keys (dim rows replicated ×8, fact rows spread by a
# deterministic hash salt) and must return EXACTLY the plain inner
# join — which is the oracle. At 100 TB this is the fallback when the
# dim side is too big to broadcast and AQE's skew split isn't enough.
@register(
    "events_customer_salted_join",
    """
    SELECT c.c_nationkey AS nation,
           count(*) AS n_events,
           round(sum(e.value), 2) AS sum_value
    FROM (SELECT CASE WHEN user_id % 4 <> 0 THEN 1 ELSE user_id END
                   AS skew_key,
                 value
          FROM events) e
    JOIN customer c ON e.skew_key = c.c_custkey
    GROUP BY 1
    """,
    doc="skewed events⋈customer join through salted_join (8 salts, "
        "deterministic hash salt) — result equals the plain join",
)
def events_customer_salted_join(spark, sf_dir):
    from .operators.skew import salted_join

    e = _t(spark, sf_dir, "events").select(
        F.when(F.col("user_id") % 4 != 0, F.lit(1))
        .otherwise(F.col("user_id")).alias("skew_key"),
        "event_id", "value")
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("skew_key"), "c_nationkey")
    joined = salted_join(e, c, "skew_key", n_salts=8,
                         salt_col=F.pmod(F.xxhash64("event_id"),
                                         F.lit(8)).cast("int"))
    return (joined.groupBy(F.col("c_nationkey").alias("nation"))
            .agg(F.count("*").alias("n_events"),
                 F.round(F.sum("value"), 2).alias("sum_value")))


# --- JSON extraction over events.props --------------------------------------
@register(
    "props_k_stats",
    """
    SELECT event_type,
           round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), 4)
             AS avg_k,
           count(*) AS n
    FROM events GROUP BY event_type
    """,
    doc="JSON field extraction (new surface; events.props is a JSON string)",
)
def props_k_stats(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.round(F.avg(F.get_json_object("props", "$.k").cast("bigint")), 4)
        .alias("avg_k"),
        F.count("*").alias("n"),
    )


# --- MapType surface (SURVEY §2.9 array/map/JSON) ----------------------------
# props JSON → map<string,bigint> via from_json + element_at; a per-user
# event_type→count map built with map_from_entries, then read back with
# element_at / map_keys / size. The map entries are sorted by key before
# map construction so map_keys (which preserves entry order) is
# deterministic. All map work is Spark-side; the oracle verifies the
# same facts with plain relational SQL — MapType itself never crosses
# the comparison boundary.
@register(
    "user_event_type_map",
    """
    SELECT user_id,
           CAST(count(DISTINCT event_type) AS INTEGER) AS n_types,
           count(*) FILTER (WHERE event_type = 'click') AS click_cnt,
           count(*) FILTER (WHERE event_type = 'error') AS error_cnt,
           string_agg(DISTINCT event_type, ',' ORDER BY event_type)
             AS types_csv,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
             AS BIGINT) AS sum_k
    FROM events GROUP BY user_id
    """,
    doc="MapType surface: from_json→map, map_from_entries, element_at, "
        "map_keys, size(map) (new surface)",
)
def user_event_type_map(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    pk = F.element_at(F.from_json("props", "map<string,bigint>"), "k")
    counts = e.select("user_id", "event_type", pk.alias("pk")) \
        .groupBy("user_id", "event_type") \
        .agg(F.count("*").alias("cnt"), F.sum("pk").alias("sum_k"))
    per_user = counts.groupBy("user_id").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("event_type", "cnt")))
        ).alias("m"),
        F.sum("sum_k").alias("sum_k"),
    )
    zero = F.lit(0).cast("long")
    return per_user.select(
        "user_id",
        F.size("m").alias("n_types"),
        F.coalesce(F.element_at("m", "click"), zero).alias("click_cnt"),
        F.coalesce(F.element_at("m", "error"), zero).alias("error_cnt"),
        F.array_join(F.map_keys("m"), ",").alias("types_csv"),
        "sum_k",
    )


# --- array functions over embeddings ----------------------------------------
# posexplode/unnest → per-vector aggregate. At scale this shuffles
# dim× rows; for pure per-row stats prefer F.aggregate (queries_llm
# does) — this query intentionally exercises the explode path.
@register(
    "embedding_stats",
    """
    SELECT vec_id, count(*) AS dim,
           round(sum(CAST(v AS DOUBLE)), 4) AS sum_v,
           round(max(CAST(v AS DOUBLE)), 4) AS max_v
    FROM (SELECT vec_id, unnest(embedding) AS v FROM embeddings)
    GROUP BY vec_id
    """,
    doc="ArrayType explode + per-key aggregate (new surface)",
)
def embedding_stats(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return (
        emb.select("vec_id", F.explode("embedding").alias("v"))
        .groupBy("vec_id")
        .agg(F.count("*").alias("dim"),
             F.round(F.sum(F.col("v").cast("double")), 4).alias("sum_v"),
             F.round(F.max(F.col("v").cast("double")), 4).alias("max_v"))
    )


# --- string functions --------------------------------------------------------
@register(
    "part_type_breakdown",
    """
    SELECT upper(substr(p_type, 1, 5)) AS type_prefix,
           count(*) AS n, round(avg(p_retailprice), 4) AS avg_price,
           min(p_size) AS min_size, max(p_size) AS max_size
    FROM part GROUP BY 1
    """,
    doc="string scalar surface: upper/substr + agg",
)
def part_type_breakdown(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    return p.groupBy(
        F.upper(F.substring("p_type", 1, 5)).alias("type_prefix")
    ).agg(F.count("*").alias("n"),
          F.round(F.avg("p_retailprice"), 4).alias("avg_price"),
          F.min("p_size").alias("min_size"),
          F.max("p_size").alias("max_size"))


# --- sessionization via lag window (new surface) ----------------------------
@register(
    "user_sessions",
    """
    SELECT user_id, count(*) AS n_sessions FROM (
      SELECT user_id,
             CASE WHEN prev_ts IS NULL
                       OR ts - prev_ts > INTERVAL 1 HOUR THEN 1 ELSE 0 END
               AS new_session
      FROM (SELECT user_id, ts,
                   lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     AS prev_ts
            FROM events)
    )
    WHERE new_session = 1
    GROUP BY user_id
    """,
    doc="sessionization: lag window + gap predicate + count",
)
def user_sessions(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = e.select(
        "user_id",
        F.when(
            F.lag("ts").over(w).isNull()
            | (F.col("ts") - F.lag("ts").over(w)
               > F.expr("INTERVAL 1 HOUR")),
            1,
        ).otherwise(0).alias("new_session"),
    )
    return flagged.where(F.col("new_session") == 1) \
        .groupBy("user_id").agg(F.count("*").alias("n_sessions"))


# --- bloom-filter semi-join pruning ------------------------------------------
# Physical optimization with zero semantic footprint: lineitem is
# pre-filtered by a Bloom filter of the (small) qualifying part keys
# before the real join, so only plausible rows shuffle. No false
# negatives → identical answer to the plain join, which is exactly
# what the oracle states. At 100 TB this is the difference between
# shuffling the full fact table and shuffling ~selectivity of it.
@register(
    "parts_size50_revenue_bloom",
    """
    SELECT p.p_partkey, p.p_name,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           count(*) AS n_lines
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_size = 50
    GROUP BY p.p_partkey, p.p_name
    """,
    doc="bloom-filter semi-join prune + exact join: transparent "
        "physical optimization, plain-join oracle",
)
def parts_size50_revenue_bloom(spark, sf_dir):
    from .operators.bloom import bloom_semi_prune

    dim = (_t(spark, sf_dir, "part")
           .where(F.col("p_size") == 50)
           .select("p_partkey", "p_name"))
    fact = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_extendedprice", "l_discount")
    pruned = bloom_semi_prune(fact, dim, "l_partkey", "p_partkey")
    return (pruned.join(dim, pruned.l_partkey == dim.p_partkey)
            .groupBy("p_partkey", "p_name")
            .agg(F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 2)
                 .alias("revenue"),
                 F.count("*").alias("n_lines")))


# --- scalar subquery + bloom prune, one driver-checked face ------------------
# Consolidated window face: the scalar-subquery dim filter (avg p_size,
# computed by Catalyst as its own job and folded into the filter — the
# relational analogue of the reference's two-action count()→threshold→
# filter pattern, G016HW3.java:152) SELECTS the dim rows, and the
# bloom-filter semi-prune cuts the fact scan to matching keys before
# the exact join — both §2.9 faces exercised in one oracle-checked
# query so each keeps driver-green evidence inside the ~50-query
# window. The standalone faces (parts_above_avg_size,
# parts_size50_revenue_bloom) remain registered below the window,
# pytest-oracle-checked. avg(p_size) is over exact integers, so both
# engines derive the identical double.
@register(
    "parts_above_avg_revenue_bloom",
    """
    SELECT p.p_brand AS brand,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           count(*) AS n_lines
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_size > (SELECT avg(p_size) FROM part)
    GROUP BY 1
    """,
    doc="scalar-subquery dim filter (avg p_size) + bloom semi-prune of "
        "the fact scan + exact join/agg; plain-join oracle",
)
def parts_above_avg_revenue_bloom(spark, sf_dir):
    from .operators.bloom import bloom_semi_prune

    _t(spark, sf_dir, "part").createOrReplaceTempView("_parts_v")
    dim = spark.sql("""
        SELECT p_partkey, p_brand FROM _parts_v
        WHERE p_size > (SELECT avg(p_size) FROM _parts_v)
    """)
    fact = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_extendedprice", "l_discount")
    pruned = bloom_semi_prune(fact, dim, "l_partkey", "p_partkey")
    return (pruned.join(dim, pruned.l_partkey == dim.p_partkey)
            .groupBy(F.col("p_brand").alias("brand"))
            .agg(F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 2)
                 .alias("revenue"),
                 F.count("*").alias("n_lines")))


# --- scalar subquery (SQL face) ----------------------------------------------
# Standalone face of the scalar-subquery fold; the driver-window
# evidence for it lives in parts_above_avg_revenue_bloom (above).
@register(
    "parts_above_avg_size",
    """
    SELECT p_partkey, p_type, p_size
    FROM part
    WHERE p_size > (SELECT avg(p_size) FROM part)
    """,
    doc="scalar subquery via spark.sql (new surface: subquery folding, "
        "SQL entry path)",
)
def parts_above_avg_size(spark, sf_dir):
    _t(spark, sf_dir, "part").createOrReplaceTempView("_parts_v")
    return spark.sql("""
        SELECT p_partkey, p_type, p_size
        FROM _parts_v
        WHERE p_size > (SELECT avg(p_size) FROM _parts_v)
    """)


# --- built-in session windows (session_window) -------------------------------
# Third face of sessionization: user_sessions is the gaps-and-islands
# rewrite, streaming_sessions the stateful-kernel face; this is Spark's
# NATIVE session_window aggregate — one hash/sort aggregate per key,
# sessions merged by the engine, no window-function pass. Spark defines
# the session end as last_event + gap; the oracle states the same
# (max(ts) + INTERVAL 1 HOUR) over the lag-window islands.
@register(
    "sessions_builtin_window",
    """
    WITH brk AS (
      SELECT user_id, ts,
             CASE WHEN prev_ts IS NULL OR ts - prev_ts > INTERVAL 1 HOUR
                  THEN 1 ELSE 0 END AS new_session
      FROM (SELECT user_id, ts,
                   lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
            FROM events)
    ),
    sess AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id
               ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
      FROM brk
    )
    SELECT user_id, min(ts) AS session_start,
           max(ts) + INTERVAL 1 HOUR AS session_end,
           CAST(count(*) AS BIGINT) AS n_events
    FROM sess GROUP BY user_id, sid
    """,
    doc="native session_window aggregate (gap 1h): engine-merged "
        "sessions in one aggregate, no lag-window pass (new surface)",
)
def sessions_builtin_window(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return (e.groupBy("user_id",
                      F.session_window("ts", "1 hour").alias("sw"))
            .agg(F.count("*").alias("n_events"))
            .select("user_id",
                    F.col("sw.start").alias("session_start"),
                    F.col("sw.end").alias("session_end"),
                    "n_events"))


# --- O1: global sort (range-partitioned in Spark) ---------------------------
@register(
    "suppliers_sorted",
    """
    SELECT s_suppkey, s_name, round(s_acctbal, 2) AS acctbal
    FROM supplier ORDER BY acctbal DESC, s_suppkey
    """,
    doc="O1 distributed sort (sortByKey analogue, G019HW1.java:196)",
)
def suppliers_sorted(spark, sf_dir):
    s = _t(spark, sf_dir, "supplier")
    return s.select("s_suppkey", "s_name",
                    F.round("s_acctbal", 2).alias("acctbal")) \
        .orderBy(F.col("acctbal").desc(), "s_suppkey")


# --- UDAF extension point (SURVEY §2.9) --------------------------------------
# Custom grouped aggregate as a single FlatMapGroupsInPandas: one
# shuffle on the key, Arrow-batched pandas kernel per group, no driver
# collect. The kernel's linear interpolation matches ANSI
# percentile_cont, which is the oracle.
@register(
    "acctbal_median_by_nation",
    """
    SELECT c_nationkey,
           round(percentile_cont(0.5) WITHIN GROUP (ORDER BY c_acctbal), 4)
             AS median_acctbal,
           count(c_acctbal) AS n
    FROM customer GROUP BY c_nationkey
    """,
    doc="UDAF extension point: per-nation interpolated median via "
        "applyInPandas grouped kernel (percentile_cont oracle)",
)
def acctbal_median_by_nation(spark, sf_dir):
    from .operators.grouped import grouped_percentile

    c = _t(spark, sf_dir, "customer")
    out = grouped_percentile(c.select("c_nationkey", "c_acctbal"),
                             ["c_nationkey"], "c_acctbal", 0.5,
                             "median_acctbal")
    return out.select("c_nationkey",
                      F.round("median_acctbal", 4).alias("median_acctbal"),
                      "n")


# --- as-of join (new surface; SURVEY §2.5 notes no as-of join exists
# in the reference). Spark side is the union+window rewrite in
# operators/joins.py — one shuffle on the key, no inequality join; the
# oracle states the same semantics declaratively as the
# row_number-over-inequality-join form (fine at oracle scale, not at
# 100 TB — which is exactly why the engine ships the rewrite).
@register(
    "events_asof_orders",
    """
    WITH m AS (
      SELECT e.event_id, e.user_id,
             o.o_orderkey, o.o_totalprice,
             ROW_NUMBER() OVER (
               PARTITION BY e.event_id
               ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
      FROM events e LEFT JOIN orders o
        ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
    )
    SELECT event_id, user_id,
           o_orderkey AS asof_orderkey,
           o_totalprice AS asof_totalprice
    FROM m WHERE rn = 1
    """,
    doc="backward as-of join: each event annotated with the customer's "
        "latest order at-or-before the event time (ties → max orderkey)",
)
def events_asof_orders(spark, sf_dir):
    from .operators.joins import asof_join

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    od = _t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate",
        F.col("o_orderkey").alias("asof_orderkey"),
        F.col("o_totalprice").alias("asof_totalprice"))
    joined = asof_join(ev, od, "user_id", "o_custkey", "ts", "o_orderdate",
                       ["asof_orderkey", "asof_totalprice"],
                       tiebreak_col="asof_orderkey")
    return joined.select("event_id", "user_id",
                         "asof_orderkey", "asof_totalprice")


# --- GROUPING SETS (completes the rollup/cube/sets trio of SURVEY
# §2.9's declared grouping surface). Explicit disjoint sets — by
# dimension A, by dimension B, and the grand total — with grouping_id
# disambiguating NULL-as-group-all from NULL data. Catalyst expands to
# a single Expand + hash aggregate: one shuffle however many sets.
@register(
    "sales_grouping_sets",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
           round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
    doc="explicit GROUPING SETS with grouping_id (new surface)",
)
def sales_grouping_sets(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.groupingSets(
        [["l_returnflag"], ["l_linestatus"], []],
        "l_returnflag", "l_linestatus",
    ).agg(F.grouping_id().alias("gid"),
          F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
          F.count("*").alias("n"))


# --- skew-safe exact distinct (operators/skew.py) ----------------------------
# Same answer as distinct_users_by_type, different physical strategy:
# COUNT(DISTINCT) salted by hash(value) % 8 so a hot group spreads
# over 8 reducers — the shape that keeps exact distinct counting alive
# when one key owns a double-digit share of a 100 TB table. Exact by
# construction (disjoint value partitions), hence the same oracle.
@register(
    "distinct_users_salted",
    """
    SELECT event_type, count(DISTINCT user_id) AS n_distinct
    FROM events GROUP BY event_type
    """,
    doc="skew-safe exact distinct count: two-stage salted aggregation "
        "(hash-partitioned distinct-value space, summed per-salt counts)",
)
def distinct_users_salted(spark, sf_dir):
    from .operators.skew import salted_count_distinct

    e = _t(spark, sf_dir, "events")
    return salted_count_distinct(e, "event_type", "user_id", n_salts=8)


# --- sketch aggregates (idiomatic alternates to K2/A6; SURVEY §2.4) ----------
# HyperLogLog distinct-count sketch: mergeable executor-side state,
# the unbounded-cardinality replacement for the driver-side set in
# DistinctItemsExample.py:21-26. Approximate → no SQL oracle; the
# property test bounds the error against the exact count and checks
# sketch *mergeability* (union of partial sketches == whole-data
# estimate), which is the property that makes it scale.
@register(
    "approx_distinct_users_hll",
    None,
    doc="HLL sketch distinct-count per event_type (lgConfigK=14; "
        "error-bounded + mergeability property tests vs exact)",
)
def approx_distinct_users_hll(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return (e.groupBy("event_type")
            .agg(F.hll_sketch_estimate(
                F.hll_sketch_agg("user_id", F.lit(14))).alias("n_approx")))


# --- interval (range) join via bucket-explode (operators/joins.py) -----------
# For each order: how many of that customer's events land in the 3
# days after the order. The oracle is the declarative inequality join;
# the Spark plan is the (key, time-bucket) equi-join rewrite — the
# shape that keeps a time-window join linear at 100 TB.
@register(
    "order_events_3d",
    """
    SELECT o.o_orderkey,
           CAST(count(e.event_id) AS BIGINT) AS n_events_3d
    FROM orders o LEFT JOIN events e
      ON e.user_id = o.o_custkey
     AND e.ts >= o.o_orderdate
     AND e.ts < o.o_orderdate + INTERVAL 3 DAY
    GROUP BY o.o_orderkey
    """,
    doc="interval join: per-order count of same-customer events within "
        "3 days, bucket-explode equi-join rewrite",
)
def order_events_3d(spark, sf_dir):
    from .operators.joins import time_bucket_range_join

    od = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey",
                                            "o_orderdate")
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    pairs = time_bucket_range_join(od, ev, "o_custkey", "user_id",
                                   "o_orderdate", "ts", 3 * 86400)
    counts = pairs.groupBy("o_orderkey") \
        .agg(F.count("event_id").alias("n_events_3d"))
    return (od.select("o_orderkey")
            .join(counts, "o_orderkey", "left")
            .select("o_orderkey",
                    F.coalesce("n_events_3d", F.lit(0)).alias("n_events_3d")))


# --- pivot (wide conditional aggregation; new surface) -----------------------
# Explicit value list so the plan is a single hash aggregate (without
# it Spark runs an extra distinct pass to discover columns — a full
# scan a 100 TB pipeline shouldn't pay). The oracle states the same
# table as CASE WHEN sums, which is exactly what pivot compiles to.
@register(
    "returns_pivot_by_status",
    """
    SELECT l_returnflag,
           round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity
                          ELSE 0 END), 2) AS qty_F,
           round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity
                          ELSE 0 END), 2) AS qty_O,
           count(*) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="pivot: per-returnflag quantities spread over linestatus "
        "columns (explicit value list, one hash aggregate)",
)
def returns_pivot_by_status(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    # count rides inside the pivot so the table is scanned ONCE (a
    # separate counts+join would read it twice); n = Σ per-status counts
    pivoted = (li.groupBy("l_returnflag")
               .pivot("l_linestatus", ["F", "O"])
               .agg(F.round(F.sum("l_quantity"), 2).alias("qty"),
                    F.count(F.lit(1)).alias("cnt")))
    return pivoted.select(
        "l_returnflag",
        F.coalesce(F.col("F_qty"), F.lit(0.0)).alias("qty_F"),
        F.coalesce(F.col("O_qty"), F.lit(0.0)).alias("qty_O"),
        (F.coalesce(F.col("F_cnt"), F.lit(0))
         + F.coalesce(F.col("O_cnt"), F.lit(0))).alias("n"))


# --- approximate quantiles (GK sketch; new surface) --------------------------
# percentile_approx: single-pass mergeable quantile sketch — the
# distributed replacement for an exact sort when "the p99 within 1%"
# is the question. Output shape: scalar p50/p90/p99 columns (exact,
# interpolated — both engines compute the same (n-1)·p lerp, so the
# values hash-match DuckDB's quantile_cont) plus approx_in_bracket,
# which asserts the GK estimates land inside the exact [p−0.005,
# p+0.005] percentile brackets (sketch guarantee: rank error ≤
# 1/accuracy = 1e-4, ample slack). A sketch failure flips the flag to
# false and breaks the hash — the approximate path is semantically
# checked, not just run. Scale note: the exact-percentile columns are
# the oracle face (per-group sort buffer — fine at test SF, not the
# 100 TB answer); the sketch IS the 100 TB path, and the flag is what
# verifies it.
@register(
    "price_quantiles_approx",
    """
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
           round(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
           round(quantile_cont(l_extendedprice, 0.99), 4) AS p99,
           TRUE AS approx_in_bracket
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="exact p50/p90/p99 of l_extendedprice per returnflag "
        "(quantile_cont-comparable) + bracket check of the "
        "percentile_approx GK sketch at accuracy 10000",
)
def price_quantiles_approx(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    g = li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_extendedprice, array(0.5D, 0.9D, 0.99D))")
        .alias("_p"),
        F.percentile_approx("l_extendedprice", [0.5, 0.9, 0.99], 10000)
        .alias("_a"),
        F.expr("percentile(l_extendedprice, array(0.495D, 0.895D, 0.985D))")
        .alias("_lo"),
        F.expr("percentile(l_extendedprice, array(0.505D, 0.905D, 0.995D))")
        .alias("_hi"))
    in_bracket = F.expr(
        "forall(sequence(0, 2), i -> _lo[i] <= _a[i] AND _a[i] <= _hi[i])")
    return g.select(
        "l_returnflag",
        F.round(F.col("_p")[0], 4).alias("p50"),
        F.round(F.col("_p")[1], 4).alias("p90"),
        F.round(F.col("_p")[2], 4).alias("p99"),
        in_bracket.alias("approx_in_bracket"))


# --- full outer join (completes the join-shape surface: inner/semi/
# anti/left/theta/asof/interval are covered elsewhere). Heavy buyers
# (>=14 orders) FULL OUTER active users (>=70 events): 6 of 256 keys
# overlap at sf0.01, so both exclusive sides are non-vacuously
# exercised. Coalesced key, null counts → -1 sentinel for hashing.
@register(
    "buyers_full_outer_active",
    """
    WITH big AS (SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders
                 FROM orders GROUP BY 1 HAVING count(*) >= 14),
         act AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
                 FROM events GROUP BY 1 HAVING count(*) >= 70)
    SELECT coalesce(o_custkey, user_id) AS key_id,
           coalesce(n_orders, -1) AS n_orders,
           coalesce(n_events, -1) AS n_events
    FROM big FULL OUTER JOIN act ON o_custkey = user_id
    """,
    doc="FULL OUTER join of two filtered aggregates (both exclusive "
        "sides non-empty); hash equi-join, null-safe output",
)
def buyers_full_outer_active(spark, sf_dir):
    od = _t(spark, sf_dir, "orders")
    ev = _t(spark, sf_dir, "events")
    big = (od.groupBy("o_custkey").agg(F.count("*").alias("n_orders"))
           .where(F.col("n_orders") >= 14))
    act = (ev.groupBy("user_id").agg(F.count("*").alias("n_events"))
           .where(F.col("n_events") >= 70))
    return (big.join(act, big.o_custkey == act.user_id, "full_outer")
            .select(F.coalesce("o_custkey", "user_id").alias("key_id"),
                    F.coalesce("n_orders", F.lit(-1)).alias("n_orders"),
                    F.coalesce("n_events", F.lit(-1)).alias("n_events")))


# --- event-time HOPPING window (the third window kind) -----------------------
# Tumbling (events_by_window) and session (sessions_builtin_window)
# faces are driver-green; this adds the overlapping-window face:
# 1-hour windows every 30 minutes, so each event contributes to
# exactly 2 windows. Spark expands rows engine-side (no self-join);
# the oracle states the same two aligned window starts explicitly via
# time_bucket. Queued for window rotation (r5's window is full).
@register(
    "events_by_hopping_window",
    """
    WITH g AS (
      SELECT time_bucket(INTERVAL 30 MINUTE, CAST(ts AS TIMESTAMP)) AS grid,
             event_type, value
      FROM events
    ),
    x AS (
      SELECT unnest([grid, grid - INTERVAL 30 MINUTE]) AS win_start,
             event_type, value
      FROM g
    )
    SELECT win_start, win_start + INTERVAL 1 HOUR AS win_end, event_type,
           count(*) AS n_events, round(sum(value), 2) AS sum_value
    FROM x GROUP BY 1, 2, 3
    """,
    doc="hopping event-time window (1h every 30min): engine-side row "
        "expansion, each event in exactly window/slide windows",
)
def events_by_hopping_window(spark, sf_dir):
    from .streaming.windows import windowed_event_counts

    ev = _t(spark, sf_dir, "events")
    return windowed_event_counts(ev, "1 hour", keys=("event_type",),
                                 slide_duration="30 minutes")


# --- ntile decile ranking (the remaining ranking-function face) --------------
# row_number/rank faces are driver-green; ntile completes the ranking
# family: equal-frequency deciles over the customer dimension (global
# ordered window — deliberate: deciles are global by definition and
# the dimension table is the small side; fact-table quantiles use
# percentile_approx, E14). Deterministic via the unique key tiebreak.
# Queued for window rotation.
@register(
    "customer_balance_deciles",
    """
    SELECT decile, count(*) AS n_customers,
           round(min(bal), 2) AS lo, round(max(bal), 2) AS hi
    FROM (SELECT ntile(10) OVER (ORDER BY c_acctbal, c_custkey) AS decile,
                 c_acctbal AS bal
          FROM customer)
    GROUP BY decile
    """,
    doc="equal-frequency balance deciles with exact ntile semantics, "
        "computed by the scalable global-rank operator (range "
        "repartition + per-partition offsets) instead of a "
        "single-reducer ntile window — same values, no "
        "Exchange SinglePartition (operators/ranking.py)",
)
def customer_balance_deciles(spark, sf_dir):
    from .operators.ranking import global_ntile

    c = _t(spark, sf_dir, "customer").select(
        F.col("c_acctbal").alias("bal"), "c_custkey")
    return (global_ntile(c, 10, ["bal", "c_custkey"], out_col="decile")
            .groupBy("decile")
            .agg(F.count("*").alias("n_customers"),
                 F.round(F.min("bal"), 2).alias("lo"),
                 F.round(F.max("bal"), 2).alias("hi")))


# --- sequential funnel (E71) --------------------------------------------------
@register(
    "user_funnel_3stage",
    """
    WITH t1 AS (
      SELECT user_id, min(ts) AS ta FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    t2 AS (
      SELECT e.user_id, min(e.ts) AS tb
      FROM events e JOIN t1 ON e.user_id = t1.user_id
      WHERE e.event_type = 'click' AND e.ts > t1.ta
      GROUP BY e.user_id
    ),
    t3 AS (
      SELECT e.user_id, min(e.ts) AS tc
      FROM events e JOIN t2 ON e.user_id = t2.user_id
      WHERE e.event_type = 'purchase' AND e.ts > t2.tb
      GROUP BY e.user_id
    )
    SELECT t1.user_id,
           CAST(1 + CASE WHEN t2.user_id IS NULL THEN 0 ELSE 1 END
                  + CASE WHEN t3.user_id IS NULL THEN 0 ELSE 1 END
                AS INT) AS depth
    FROM t1
    LEFT JOIN t2 ON t1.user_id = t2.user_id
    LEFT JOIN t3 ON t2.user_id = t3.user_id
    """,
    doc="sequential first-touch funnel view->click->purchase "
        "(ClickHouse windowFunnel / product-analytics shape): one "
        "stage-filtered aggregate per stage, all keyed on the user, "
        "strict event-time ordering between stages",
)
def user_funnel_3stage(spark, sf_dir):
    from .operators.funnel import funnel_depths

    ev = _t(spark, sf_dir, "events")
    return funnel_depths(ev, ["view", "click", "purchase"])


# --- event transition matrix (r8) ---------------------------------------------
# The funnel's complement: every observed next-step with empirical
# probability, not one prescribed path. One keyed lead() window per
# user + one aggregate; the normalizing window runs on the T×T
# event-type matrix, never on events.
@register(
    "events_transition_matrix",
    """
    WITH p AS (
      SELECT event_type AS from_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS to_type
      FROM events
    )
    SELECT from_type, to_type, count(*)::BIGINT AS n_transitions,
           round(count(*) * 1.0
                 / sum(count(*)) OVER (PARTITION BY from_type), 6)
             AS prob
    FROM p WHERE to_type IS NOT NULL
    GROUP BY from_type, to_type
    """,
    doc="first-order Markov transition matrix over per-user event "
        "sequences: keyed lead() window (tie-broken on event_id) + "
        "keyed aggregate, row-normalized on the bounded type matrix",
)
def events_transition_matrix(spark, sf_dir):
    from .operators.funnel import transition_matrix

    return transition_matrix(_t(spark, sf_dir, "events"))


# --- session opening-path mining (r8) -----------------------------------------
@register(
    "events_session_paths",
    """
    WITH e AS (
      SELECT user_id, event_id, event_type,
             epoch_ns(ts) // 1000 AS tk
      FROM events
    ),
    g AS (
      SELECT *, CASE WHEN lag(tk) OVER w IS NULL
                          OR tk - lag(tk) OVER w > 1800000000
                     THEN 1 ELSE 0 END AS ns
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tk, event_id)
    ),
    s AS (
      SELECT *, sum(ns) OVER (PARTITION BY user_id ORDER BY tk, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS sid
      FROM g
    ),
    p AS (
      SELECT user_id, sid,
             array_to_string(
               (array_agg(event_type ORDER BY tk, event_id))[1:3], '>')
               AS path
      FROM s GROUP BY 1, 2
    )
    SELECT path, count(*)::BIGINT AS n_sessions FROM p GROUP BY 1
    """,
    doc="session opening-path mining: 30-min-gap sessions "
        "(gaps-and-islands, integer-microsecond ticks), first-3 event "
        "types per session joined with '>', counted — the empirical "
        "distribution of how visits start, beside the funnel's one "
        "prescribed path",
)
def events_session_paths(spark, sf_dir):
    from .operators.timeseries import session_paths

    return session_paths(_t(spark, sf_dir, "events"))


# --- market-basket pair mining (r8) -------------------------------------------
# Transactions are TPC-H orders (parts per order — naturally bounded
# baskets, no cap needed); support in integer ppm and lift as one
# double division of integer products, so no float-sum hazard.
@register(
    "orders_market_basket",
    """
    WITH b AS (
      SELECT DISTINCT l_orderkey AS bk, l_partkey AS it FROM lineitem
    ),
    n AS (SELECT count(DISTINCT bk) AS n_baskets FROM b),
    sz AS (SELECT it, count(*)::BIGINT AS cnt FROM b GROUP BY 1),
    co AS (
      SELECT x.it AS item_a, y.it AS item_b, count(*)::BIGINT AS n_co
      FROM b x JOIN b y ON x.bk = y.bk AND x.it < y.it
      GROUP BY 1, 2 HAVING count(*) >= 2
    )
    SELECT item_a, item_b, n_co, sa.cnt AS n_a, sb.cnt AS n_b,
           floor(n_co * 1000000 / n.n_baskets)::BIGINT AS support_ppm,
           round((n_co * n.n_baskets) * 1.0 / (sa.cnt * sb.cnt), 6)
             AS lift
    FROM co
    JOIN sz sa ON sa.it = item_a
    JOIN sz sb ON sb.it = item_b, n
    """,
    doc="market-basket pair mining over order baskets: co-purchase "
        "counts with ppm support and lift; per-basket pair join is "
        "naturally bounded by order size (the capped sibling for "
        "unbounded baskets is events_item_cooccurrence)",
)
def orders_market_basket(spark, sf_dir):
    from .operators.graph import market_basket_pairs

    return market_basket_pairs(_t(spark, sf_dir, "lineitem"),
                               "l_orderkey", "l_partkey", min_co=2)


# --- inter-arrival burstiness / bot screen (r8) -------------------------------
# Self-normalized: a burst is a gap under a quarter of the user's own
# mean, so the flag fires both ways at every SF without tuning. All
# integer-microsecond arithmetic: Spark's unix_micros(ts) equals
# DuckDB's epoch_ns(ts)//1000 exactly (load_table's integer-division
# nanos->micros conversion).
@register(
    "events_user_burstiness",
    """
    WITH g AS (
      SELECT user_id,
             epoch_ns(ts) // 1000 - lag(epoch_ns(ts) // 1000) OVER (
               PARTITION BY user_id
               ORDER BY epoch_ns(ts) // 1000, event_id) AS gap_us
      FROM events
    ),
    m AS (
      SELECT user_id, gap_us,
             sum(gap_us) OVER (PARTITION BY user_id) AS tot,
             count(gap_us) OVER (PARTITION BY user_id) AS cnt
      FROM g
    ),
    agg AS (
      SELECT user_id, max(cnt)::BIGINT AS n_gaps,
             min(gap_us) AS min_gap_us,
             max(tot) AS tot,
             sum(CASE WHEN cnt > 0 AND gap_us * 4 < tot // cnt
                      THEN 1 ELSE 0 END)::BIGINT AS n_bursts
      FROM m GROUP BY user_id
    )
    SELECT user_id, n_gaps + 1 AS n_events, n_gaps, min_gap_us,
           -- outer ::BIGINT: tot is a window sum -> HUGEINT, and
           -- HUGEINT // BIGINT stays HUGEINT, which pandas renders
           -- float64 and the driver hashes 123.0 vs Spark's 123
           (CASE WHEN n_gaps > 0 THEN tot // n_gaps END)::BIGINT
             AS mean_gap_us,
           n_bursts,
           n_gaps >= 5 AND n_bursts * 4 > n_gaps AS burst_flag
    FROM agg
    """,
    doc="inter-arrival burstiness profile per user (bot/automation "
        "screen): bursts = gaps under a quarter of the user's own "
        "mean, integer-microsecond arithmetic, one keyed lag window + "
        "one keyed sum/count window + one aggregate",
)
def events_user_burstiness(spark, sf_dir):
    from .operators.timeseries import user_activity_profile

    return user_activity_profile(_t(spark, sf_dir, "events"))


# --- RFM user segmentation (r8) -----------------------------------------------
# The marketing-analytics classic on the scalable ntile spine: three
# exact equal-frequency bucketings, each a range-partitioned global
# rank — never NTILE over one reducer. Monetary is integer cents so
# the sort key carries no float-sum ulp across engines.
@register(
    "events_rfm_segments",
    """
    WITH per AS (
      SELECT user_id, max(ts) AS rts, count(*)::BIGINT AS frequency,
             sum(CAST(floor(value * 100) AS BIGINT)) AS monetary_cents
      FROM events GROUP BY user_id
    ),
    b AS (
      SELECT user_id, frequency, monetary_cents,
             ntile(5) OVER (ORDER BY rts, user_id) AS r_bucket,
             ntile(5) OVER (ORDER BY frequency, user_id) AS f_bucket,
             ntile(5) OVER (ORDER BY monetary_cents, user_id) AS m_bucket
      FROM per
    )
    -- monetary_cents needs the OUTER cast: sum(BIGINT) is HUGEINT in
    -- DuckDB (the inner CAST does not survive the sum), and HUGEINT
    -- pandas-renders float64 so the driver hash diverges on dtype
    SELECT user_id, frequency, monetary_cents::BIGINT AS monetary_cents,
           r_bucket::BIGINT AS r_bucket, f_bucket::BIGINT AS f_bucket,
           m_bucket::BIGINT AS m_bucket,
           r_bucket || '' || f_bucket || '' || m_bucket AS segment
    FROM b
    """,
    doc="RFM segmentation: per-user recency/frequency/monetary "
        "reduced in one aggregate, three exact ntile(5) bucketings on "
        "the range-partitioned rank spine, integer-cents monetary",
)
def events_rfm_segments(spark, sf_dir):
    from .operators.grouped import rfm_segments

    return rfm_segments(_t(spark, sf_dir, "events"))


# --- item co-occurrence similarity (r8) ---------------------------------------
# Collaborative-filtering candidate generation with the skew guard
# that makes it survive power-law users: each user's basket is capped
# to their top-20 items (keyed row_number) BEFORE the pair join, so
# fan-out is <= cap^2 per user no matter how heavy the tail; Jaccard
# uses the capped basket sizes for internal consistency.
@register(
    "events_item_cooccurrence",
    """
    WITH ui AS (
      -- TRY_CAST + post-cast filter mirrors Spark exactly: a present
      -- but non-numeric $.k casts to NULL and is dropped in BOTH
      -- engines (a plain CAST would error in DuckDB where Spark
      -- silently drops)
      SELECT user_id,
             TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)
               AS item,
             count(*) AS n
      FROM events
      WHERE TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)
              IS NOT NULL
      GROUP BY 1, 2
    ),
    capped AS (
      SELECT user_id, item FROM (
        SELECT user_id, item,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY n DESC, item) AS rk
        FROM ui)
      WHERE rk <= 20
    ),
    sz AS (SELECT item, count(*) AS nu FROM capped GROUP BY 1),
    co AS (
      SELECT a.item AS item_a, b.item AS item_b, count(*) AS n_co
      FROM capped a
      JOIN capped b ON a.user_id = b.user_id AND a.item < b.item
      GROUP BY 1, 2
    )
    SELECT item_a, item_b, n_co::BIGINT AS n_co,
           round(n_co * 1.0 / (sa.nu + sb.nu - n_co), 6) AS jaccard
    FROM co
    JOIN sz sa ON sa.item = item_a
    JOIN sz sb ON sb.item = item_b
    WHERE n_co >= 2
    """,
    doc="item-item co-occurrence Jaccard over capped user baskets: "
        "top-20-per-user cap bounds the pair-join fan-out to cap^2 "
        "under power-law activity; keyed window + keyed aggregates",
)
def events_item_cooccurrence(spark, sf_dir):
    from .operators.graph import item_cooccurrence

    # try_cast on BOTH sides: a present-but-non-numeric $.k becomes
    # NULL and is dropped by the operator's post-cast filter, never an
    # ANSI cast error (Spark 4 is ANSI-on by default)
    ev = (_t(spark, sf_dir, "events")
          .select("user_id",
                  F.get_json_object("props", "$.k").try_cast("long")
                  .alias("item")))
    return item_cooccurrence(ev)


# --- weekly retention cohorts (E72) -------------------------------------------
@register(
    "user_retention_cohorts",
    """
    WITH first AS (
      SELECT user_id,
             date_trunc('week', min(ts)) AS cohort FROM events
      GROUP BY user_id
    ),
    active AS (
      SELECT DISTINCT user_id, date_trunc('week', ts) AS week FROM events
    )
    SELECT strftime(CAST(f.cohort AS DATE), '%Y-%m-%d') AS cohort_week,
           CAST(datediff('day', CAST(f.cohort AS DATE),
                         CAST(a.week AS DATE)) // 7 AS INT) AS week_offset,
           count(DISTINCT a.user_id) AS n_users
    FROM active a JOIN first f ON a.user_id = f.user_id
    GROUP BY 1, 2
    """,
    doc="weekly retention matrix: cohort = Monday-truncated week of "
        "first activity, n_users active k weeks later; user-keyed "
        "first-touch aggregate + (user, week) distinct + one "
        "count-distinct per (cohort, offset)",
)
def user_retention_cohorts(spark, sf_dir):
    from .operators.funnel import retention_cohorts

    return retention_cohorts(_t(spark, sf_dir, "events"))


# --- exact interpolated percentiles per group (E142, r9) -----------------------
# The built-in exact-percentile aggregate joins the quantile surface
# beside the UDAF median (A-UDAF face) and the rank-spine ntiles (the
# 100 TB path): Spark's percentile() and DuckDB's quantile_cont()
# share the type-7 linear-interpolation formula, verified to the last
# double ulp BEFORE this oracle was written (DECIMAL inputs truncate in
# DuckDB — the probe casts to DOUBLE, which events.value already is).
# Exact percentile buffers per-group value counts, so this face is for
# BOUNDED group counts (5 event types); unbounded-cardinality quantile
# work belongs on the rank spine.
@register(
    "events_value_percentiles",
    """
    SELECT event_type,
           count(*)::BIGINT AS n,
           round(quantile_cont(value, 0.5), 6) AS p50,
           round(quantile_cont(value, 0.9), 6) AS p90,
           round(quantile_cont(value, 0.99), 6) AS p99
    FROM events GROUP BY event_type
    """,
    doc="exact interpolated p50/p90/p99 of value per event_type via "
        "the built-in percentile aggregate (type-7 interpolation, "
        "engine-identical on doubles); bounded group count -- the "
        "rank-spine faces carry unbounded-cardinality quantiles",
)
def events_value_percentiles(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return (e.groupBy("event_type")
            .agg(F.count("*").cast("long").alias("n"),
                 F.round(F.percentile("value", F.lit(0.5)), 6).alias("p50"),
                 F.round(F.percentile("value", F.lit(0.9)), 6).alias("p90"),
                 F.round(F.percentile("value", F.lit(0.99)), 6).alias("p99")))


# --- degree-ordered triangle counting (E143, r9) --------------------------------
# Community structure on the co-occurrence graph: per-item triangle
# participation + local clustering coefficient. The canonical
# distributed triangle algorithm — orient every edge from its
# (degree, id)-smaller endpoint, so each triangle appears exactly once
# as wedge(u->v, u->w) + edge(v->w) and wedge fan-out is bounded by
# out-degree O(sqrt(E)) no matter how skewed the raw hubs are.
@register(
    "events_item_triangles",
    """
    WITH ui AS (
      SELECT user_id,
             TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)
               AS item,
             count(*) AS n
      FROM events
      WHERE TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)
              IS NOT NULL
      GROUP BY 1, 2
    ),
    capped AS (
      SELECT user_id, item FROM (
        SELECT user_id, item,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY n DESC, item) AS rk
        FROM ui)
      WHERE rk <= 20
    ),
    edges AS (
      SELECT a.item AS item_a, b.item AS item_b
      FROM capped a
      JOIN capped b ON a.user_id = b.user_id AND a.item < b.item
      GROUP BY 1, 2
      HAVING count(*) >= 2
    ),
    deg AS (
      SELECT item, count(*)::BIGINT AS degree FROM (
        SELECT item_a AS item FROM edges
        UNION ALL SELECT item_b FROM edges)
      GROUP BY item
    ),
    ed AS (
      SELECT e.item_a, e.item_b, da.degree AS dega, db.degree AS degb
      FROM edges e
      JOIN deg da ON da.item = e.item_a
      JOIN deg db ON db.item = e.item_b
    ),
    o AS (
      SELECT CASE WHEN dega < degb OR (dega = degb AND item_a < item_b)
                  THEN item_a ELSE item_b END AS src,
             CASE WHEN dega < degb OR (dega = degb AND item_a < item_b)
                  THEN item_b ELSE item_a END AS dst,
             CASE WHEN dega < degb OR (dega = degb AND item_a < item_b)
                  THEN degb ELSE dega END AS ddeg
      FROM ed
    ),
    wg AS (
      SELECT o1.src AS u, o1.dst AS v, o2.dst AS w
      FROM o o1 JOIN o o2
        ON o1.src = o2.src
       AND (o1.ddeg < o2.ddeg
            OR (o1.ddeg = o2.ddeg AND o1.dst < o2.dst))
    ),
    tri AS (
      SELECT u, v, w FROM wg JOIN o ON o.src = wg.v AND o.dst = wg.w
    ),
    per AS (
      SELECT item, count(*)::BIGINT AS n_triangles FROM (
        SELECT u AS item FROM tri
        UNION ALL SELECT v FROM tri
        UNION ALL SELECT w FROM tri)
      GROUP BY item
    )
    SELECT deg.item, deg.degree,
           coalesce(per.n_triangles, 0)::BIGINT AS n_triangles,
           CASE WHEN deg.degree >= 2
                THEN round(2.0 * coalesce(per.n_triangles, 0)
                           / (deg.degree * (deg.degree - 1)), 6)
                ELSE 0.0 END AS clustering
    FROM deg LEFT JOIN per ON per.item = deg.item
    """,
    doc="per-item triangle count + local clustering coefficient over "
        "the capped co-occurrence graph via degree-ordered orientation "
        "(each triangle counted once as wedge + closing edge, wedge "
        "fan-out bounded by out-degree O(sqrt(E)) under any hub skew)",
)
def events_item_triangles(spark, sf_dir):
    from .operators.graph import item_triangles

    ev = (_t(spark, sf_dir, "events")
          .select("user_id",
                  F.get_json_object("props", "$.k").try_cast("long")
                  .alias("item")))
    return item_triangles(ev)


# --- approximate-vs-exact percentile drift audit (E145, r10) --------------------
# The rollout gate for the GK quantile sketch, built the way E140
# gates approximate dedup: while a group holds fewer values than the
# high accuracy, approx_percentile is exact rank selection (smallest v
# with count(<=v) >= ceil(p*n) — the sorted element at rank ceil(p*n);
# convention verified against the sorted array, ties included, before
# this oracle was written), so the sketch output value-checks
# end-to-end and its rank displacement is structurally 0. The
# compressing accuracy-100 sketch is audited through its deterministic
# GK bound (rank error <= n/accuracy under any merge order): the
# boolean is a theorem, so oracle TRUE — a Spark-side regression
# breaks the hash.
@register(
    "events_percentile_drift",
    """
    WITH per AS (
      SELECT event_type, count(*)::BIGINT AS n
      FROM events GROUP BY event_type
    ),
    ps AS (SELECT unnest([0.5, 0.9, 0.99]) AS p),
    tgt AS (
      SELECT event_type, n, p, CAST(ceil(p * n) AS BIGINT) AS k
      FROM per CROSS JOIN ps
    ),
    ranked AS (
      SELECT event_type, value AS v,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY value) AS rn
      FROM events
    ),
    av AS (
      SELECT t.event_type, t.p, t.n, t.k, r.v AS approx_value
      FROM tgt t JOIN ranked r
        ON r.event_type = t.event_type AND r.rn = t.k
    ),
    ex AS (
      SELECT event_type,
             round(quantile_cont(value, 0.5), 6) AS e50,
             round(quantile_cont(value, 0.9), 6) AS e90,
             round(quantile_cont(value, 0.99), 6) AS e99
      FROM events GROUP BY event_type
    ),
    cnts AS (
      SELECT a.event_type, a.p, a.n, a.k, a.approx_value,
             sum(CASE WHEN e.value < a.approx_value
                      THEN 1 ELSE 0 END)::BIGINT AS lt,
             sum(CASE WHEN e.value <= a.approx_value
                      THEN 1 ELSE 0 END)::BIGINT AS le
      FROM av a JOIN events e ON e.event_type = a.event_type
      GROUP BY 1, 2, 3, 4, 5
    )
    SELECT c.event_type, c.p, c.n,
           CASE c.p WHEN 0.5 THEN ex.e50 WHEN 0.9 THEN ex.e90
                    ELSE ex.e99 END AS exact_interp,
           c.approx_value,
           c.k AS target_rank,
           greatest(c.lt + 1 - c.k, c.k - c.le, 0)::BIGINT
             AS rank_displacement,
           TRUE AS sketch_within_bound
    FROM cnts c JOIN ex ON ex.event_type = c.event_type
    """,
    doc="approximate-vs-exact percentile drift audit: high-accuracy "
        "GK output value-checked as exact rank selection (displacement "
        "0 by construction at test SF), compressing accuracy-100 "
        "sketch checked against its deterministic n/accuracy rank "
        "bound; one grouped aggregate + one broadcast rank-count pass",
)
def events_percentile_drift(spark, sf_dir):
    from .operators.grouped import percentile_drift

    return percentile_drift(_t(spark, sf_dir, "events"),
                            "event_type", "value")


# --- 2-D skyline / Pareto frontier (E149, r10) ----------------------------------
# The classic distributed-query operator the engine lacked: the parts
# not dominated on (price minimize, size maximize). The Spark side runs
# the scalable form — range-repartitioned exclusive prefix max over the
# (x asc, y desc, id) spine, never a single-reducer window, never the
# quadratic self-join — while the oracle states the O(n^2) NOT EXISTS
# dominance DEFINITION (+ min-id election among identical points), so
# the parity row is literally the algorithm-equals-definition proof.
@register(
    "parts_skyline",
    """
    WITH p AS (
      SELECT p_partkey, p_retailprice, p_size FROM part
    ),
    sky AS (
      SELECT a.* FROM p a
      WHERE NOT EXISTS (
        SELECT 1 FROM p b
        WHERE b.p_retailprice <= a.p_retailprice
          AND b.p_size >= a.p_size
          AND (b.p_retailprice < a.p_retailprice OR b.p_size > a.p_size)
      )
    ),
    elected AS (
      SELECT p_partkey, p_retailprice, p_size,
             row_number() OVER (PARTITION BY p_retailprice, p_size
                                ORDER BY p_partkey) AS rn
      FROM sky
    )
    SELECT p_partkey, p_retailprice, p_size
    FROM elected WHERE rn = 1
    """,
    doc="2-D skyline: parts on the cheapest-for-their-size Pareto "
        "frontier (minimize retailprice, maximize size; identical "
        "points collapse to min partkey); Spark runs the "
        "range-partitioned exclusive-prefix-max spine, the oracle "
        "states the quadratic dominance definition — parity is the "
        "algorithm-equals-definition proof",
)
def parts_skyline(spark, sf_dir):
    from .operators.ranking import skyline_2d

    p = _t(spark, sf_dir, "part").select(
        "p_partkey", "p_retailprice", "p_size")
    return skyline_2d(p, "p_retailprice", "p_size", "p_partkey")


# --- A-priori frequent 3-itemsets (E148, r10) -----------------------------------
# Level 3 of the market-basket ladder (pairs = orders_market_basket):
# the downward-closure pruning done as semi-joins — candidate (a,b)
# occurrences are filtered against the frequent-pair table BEFORE
# extending by c, and (a,c)/(b,c) must be frequent too, so triple
# fan-out is driven by the small frequent-pair table, not raw basket
# width. The oracle states the UNPRUNED definition (count all
# within-basket triples, filter >= threshold): the parity row proves
# the pruned plan equals the definition, the parts_skyline move.
#
# Workload design: support is RELATIVE (1% of baskets, floor 2) —
# the textbook formulation, and the one that keeps the frequent set
# bounded as the corpus grows (an absolute minsup accumulates
# coincidence triples quadratically in diffuse data). TPC-H's random
# baskets hold no real association structure, so two deterministic
# promo bundles are planted in-query (orders %37 -> {501,502,503},
# %53 -> {502,503,504}; family space is l_partkey % 500, so planted
# ids are disjoint): their relative support (~2.7% / ~1.9%) clears the
# threshold at EVERY SF while cross-bundle and bundle-x-natural
# triples stay far below it — the mined set is exactly the planted
# ground truth, non-vacuously, at any scale. r13: the threshold rose
# 0.5% -> 1% (output IDENTICAL at every checked SF — natural items
# share ~0.8% of baskets, so 1% makes the L1 downward-closure cut
# actually bite where 0.5% kept all 500 families) and the operator
# checkpoints its slim basket tables — together 3.85 s -> 1.61 s at sf0.1,
# restoring headroom under the 4 s budget (r12 verdict watch item 3).
@register(
    "orders_itemset_triples",
    """
    WITH base AS (
      SELECT DISTINCT l_orderkey AS o, l_partkey % 500 AS i FROM lineitem
    ),
    ords AS (SELECT DISTINCT o FROM base),
    planted AS (
      SELECT o, unnest([501, 502, 503]) AS i FROM ords WHERE o % 37 = 0
      UNION ALL
      SELECT o, unnest([502, 503, 504]) AS i FROM ords WHERE o % 53 = 0
    ),
    b AS (
      SELECT DISTINCT o, i FROM (
        SELECT o, i FROM base UNION ALL SELECT o, i FROM planted)
    ),
    n AS (
      SELECT greatest(2, CAST(ceil(count(DISTINCT o) * 0.01) AS BIGINT))
               AS ms
      FROM b
    )
    SELECT a.i AS item_a, x.i AS item_b, c.i AS item_c,
           count(*)::BIGINT AS support
    FROM b a
    JOIN b x ON x.o = a.o AND a.i < x.i
    JOIN b c ON c.o = a.o AND x.i < c.i
    GROUP BY 1, 2, 3 HAVING count(*) >= (SELECT ms FROM n)
    """,
    doc="A-priori frequent 3-itemsets over part-family baskets at "
        "relative support (1% of baskets, floor 2), with planted "
        "promo bundles as deterministic ground truth; semi-join "
        "downward-closure pruning, oracle = the unpruned definition "
        "so parity proves the pruning exact",
)
def orders_itemset_triples(spark, sf_dir):
    from .operators.graph import itemset_triples

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o"),
        (F.col("l_partkey") % 500).alias("i"))
    ords = li.select("o").distinct()
    planted = (ords.where(F.col("o") % 37 == 0)
               .select("o", F.explode(F.array(
                   F.lit(501), F.lit(502), F.lit(503))).alias("i"))
               .unionByName(
                   ords.where(F.col("o") % 53 == 0)
                   .select("o", F.explode(F.array(
                       F.lit(502), F.lit(503), F.lit(504))).alias("i"))))
    baskets = li.unionByName(planted.select("o", F.col("i").cast("long")))
    return itemset_triples(baskets, "o", "i", minsup=2, min_frac=0.01)


# --- U-shaped multi-touch attribution (E152, r10) -------------------------------
# The marketing classic the funnel/retention/RFM tier was missing:
# each purchase distributes 1M ppm of credit over the same user's
# click/view/signup touches in the preceding 24h — 40% first, 40%
# last, middle 20% floor-split (1 touch -> 100%, 2 -> 50/50). Integer
# ppm keeps every per-channel total an exact integer sum (the
# integer-micro convention), and untouched conversions land under
# '(none)' so nothing drops silently. User-keyed equi join with the
# window as residual predicate; position ranks over conversion-id
# partitions (bounded by per-user 24h activity).
@register(
    "events_attribution",
    """
    WITH conv AS (
      SELECT user_id AS u, event_id AS cid,
             epoch_ns(ts) // 1000 AS cts
      FROM events WHERE event_type = 'purchase'
    ),
    touch AS (
      SELECT user_id AS u, event_id AS tid, event_type AS channel,
             epoch_ns(ts) // 1000 AS tts
      FROM events WHERE event_type IN ('click', 'view', 'signup')
    ),
    pairs AS (
      SELECT c.cid, t.channel, t.tts, t.tid
      FROM conv c JOIN touch t ON t.u = c.u
       AND t.tts < c.cts AND t.tts >= c.cts - 86400000000
    ),
    ranked AS (
      SELECT channel,
             count(*) OVER (PARTITION BY cid) AS n,
             row_number() OVER (PARTITION BY cid
                                ORDER BY tts, tid) AS r
      FROM pairs
    ),
    credited AS (
      SELECT channel,
             CASE WHEN n = 1 THEN 1000000
                  WHEN n = 2 THEN 500000
                  WHEN r = 1 OR r = n THEN 400000
                  ELSE 200000 // (n - 2) END AS c
      FROM ranked
    ),
    att AS (
      SELECT channel, count(*)::BIGINT AS n_touches,
             sum(c)::BIGINT AS credit_ppm
      FROM credited GROUP BY channel
    ),
    unatt AS (
      SELECT '(none)' AS channel, 0::BIGINT AS n_touches,
             (count(*) * 1000000)::BIGINT AS credit_ppm
      FROM conv c
      WHERE NOT EXISTS (
        SELECT 1 FROM touch t WHERE t.u = c.u
          AND t.tts < c.cts AND t.tts >= c.cts - 86400000000)
    )
    SELECT channel, n_touches, credit_ppm FROM att
    UNION ALL SELECT channel, n_touches, credit_ppm FROM unatt
    """,
    doc="U-shaped multi-touch attribution: purchases credit the same "
        "user's click/view/signup touches in the prior 24h (40/20/40 "
        "position split, integer ppm, floor-divided middles), "
        "untouched conversions under '(none)'; user-keyed join, "
        "conversion-id-bounded rank windows",
)
def events_attribution(spark, sf_dir):
    from .operators.timeseries import attribution_report

    return attribution_report(_t(spark, sf_dir, "events"), "purchase",
                              ["click", "view", "signup"],
                              lookback_hours=24)


# --- hierarchical subtree rollup (E155, r10) ------------------------------------
# The recursive-CTE classic (BOM explosion / org rollups) Spark lacks
# natively: every part rolls its retail price up to ALL ancestors in
# the implicit digit-decade tree (parent = key // 10, roots < 10).
# Spark unrolls the bounded-depth closure as narrow expressions (depth
# <= log10(max_key)); the ORACLE states the identical closure as a
# DuckDB WITH RECURSIVE CTE — a genuinely different evaluation
# mechanism, so the parity row proves the unrolling against the
# recursive definition itself. Integer-cents value sums.
@register(
    "parts_hierarchy_rollup",
    """
    WITH RECURSIVE anc AS (
      SELECT p_partkey AS node,
             p_partkey AS a,
             CAST(floor(p_retailprice * 100) AS BIGINT) AS c
      FROM part
      UNION ALL
      SELECT node, a // 10, c FROM anc WHERE a >= 10
    )
    SELECT a AS node, count(*)::BIGINT AS n_desc,
           sum(c)::BIGINT AS subtree_cents
    FROM anc GROUP BY a
    """,
    doc="hierarchical subtree rollup over the digit-decade part tree "
        "(parent = key // 10): per-node descendant count + integer-"
        "cents retail sum; Spark unrolls the bounded-depth ancestor "
        "closure as narrow expressions, the oracle is a recursive CTE "
        "— parity proves the unrolling against the recursion",
)
def parts_hierarchy_rollup(spark, sf_dir):
    from .operators.graph import hierarchy_rollup

    return hierarchy_rollup(_t(spark, sf_dir, "part"),
                            "p_partkey", "p_retailprice")


# --- E159: per-type calendar-gap (feed outage) report ------------------------
# The ingestion-health audit: runs of consecutive days on which a
# "daily" feed produced nothing. The raw events table is dense (every
# type, every day), so the face plants deterministic outages — error
# loses Jan 5-7 and Jan 19, signup loses the dom%11==3 days — and the
# report must recover exactly those runs. Day columns ride as ISO
# strings (the E72 convention).
@register(
    "events_calendar_gaps",
    """
    WITH ev AS (
      SELECT event_type, CAST(ts AS DATE) AS d FROM events
      WHERE NOT (event_type = 'error'
                 AND extract(day FROM ts) IN (5, 6, 7, 19))
        AND NOT (event_type = 'signup'
                 AND extract(day FROM ts) % 11 = 3)
    ),
    obs AS (SELECT DISTINCT event_type, d FROM ev),
    rng AS (SELECT event_type, min(d) AS d0, max(d) AS d1
            FROM obs GROUP BY event_type),
    spine AS (
      SELECT event_type,
             CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE)
               AS d
      FROM rng
    ),
    miss AS (
      SELECT s.event_type, s.d FROM spine s
      ANTI JOIN obs o ON o.event_type = s.event_type AND o.d = s.d
    ),
    isl AS (
      SELECT event_type, d,
             d - CAST(row_number() OVER (PARTITION BY event_type
                                         ORDER BY d) AS INTEGER) AS k
      FROM miss
    )
    SELECT event_type,
           strftime(min(d), '%Y-%m-%d') AS gap_start,
           strftime(max(d), '%Y-%m-%d') AS gap_end,
           count(*)::BIGINT AS n_days
    FROM isl GROUP BY event_type, k
    """,
    doc="gaps-and-islands calendar audit: per event type, runs of "
        "consecutive missing days between its first and last observed "
        "day; one corpus-scale distinct (type, day) aggregate, then "
        "everything is day-grid-sized (sequence spine, anti-join, "
        "day-minus-rank island keys); planted outages = error Jan 5-7 "
        "+ Jan 19, signup every dom%11==3 day",
)
def events_calendar_gaps(spark, sf_dir):
    from .operators.timeseries import calendar_gaps

    ev = _t(spark, sf_dir, "events")
    dom = F.dayofmonth("ts")
    kept = ev.where(
        ~((F.col("event_type") == "error") & dom.isin(5, 6, 7, 19))
        & ~((F.col("event_type") == "signup") & (dom % 11 == 3)))
    return calendar_gaps(kept, "ts", "event_type")


# --- E160: Benford first-digit audit -----------------------------------------
from .operators.grouped import BENFORD_P  # noqa: E402

_BENFORD_CASE = " ".join(
    f"WHEN {d} THEN {p}" for d, p in BENFORD_P.items())


@register(
    "orders_benford_audit",
    f"""
    WITH cents AS (
      SELECT CAST(substr(CAST(CAST(floor(o_totalprice * 100) AS BIGINT)
                              AS VARCHAR), 1, 1) AS INTEGER) AS digit
      FROM orders WHERE floor(o_totalprice * 100) >= 1
    ),
    per AS (SELECT digit, count(*)::BIGINT AS n_obs
            FROM cents GROUP BY digit),
    tot AS (SELECT sum(n_obs)::BIGINT AS n FROM per)
    SELECT digit, n_obs,
           round(n_obs / (1.0 * n), 6) AS p_obs,
           round(CASE digit {_BENFORD_CASE} END, 6) AS p_benford,
           round((n_obs - n * (CASE digit {_BENFORD_CASE} END))
                 * (n_obs - n * (CASE digit {_BENFORD_CASE} END))
                 / (n * (CASE digit {_BENFORD_CASE} END)), 6)
             AS chi2_contrib
    FROM per CROSS JOIN tot
    """,
    doc="Benford's-law first-significant-digit audit over order "
        "totals: per digit 1-9, observed vs expected log10(1+1/d) "
        "proportion and the chi-square contribution; digit taken from "
        "INTEGER CENTS rendered as a string (never floor(log10(x)), "
        "whose ulp differences could flip boundary digits); expected "
        "proportions are shared 6-decimal literals in both engines; "
        "TPC-H totalprice is range-uniform, so the audit reports a "
        "strong stable deviation — the alert branch of a fraud screen",
)
def orders_benford_audit(spark, sf_dir):
    from .operators.grouped import benford_report

    return benford_report(_t(spark, sf_dir, "orders"), "o_totalprice")


# --- E165: data-contract validation -------------------------------------------
# The expectations/Deequ pattern: declared contracts counted in ONE
# conditional-sum pass over lineitem plus one anti-join count for the
# cross-table referential contract. The l_discount <= 0.05 check fails
# on real TPC-H data (discounts run to 0.10) — the failed branch is
# structurally non-vacuous, not planted.
@register(
    "lineitem_contracts",
    """
    WITH v AS (
      SELECT
        sum(CASE WHEN l_quantity < 1 OR l_quantity > 50
            THEN 1 ELSE 0 END)::BIGINT AS quantity_range,
        sum(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END)::BIGINT
          AS discount_cap,
        sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END)::BIGINT
          AS shipdate_set,
        sum(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0 END)::BIGINT
          AS price_positive
      FROM lineitem
    ),
    fk AS (
      SELECT count(*)::BIGINT AS n FROM lineitem l
      ANTI JOIN orders o ON o.o_orderkey = l.l_orderkey
    )
    SELECT 'quantity_in_1_50' AS check_name,
           quantity_range AS n_violations, quantity_range = 0 AS passed
    FROM v
    UNION ALL
    SELECT 'discount_le_5pct', discount_cap, discount_cap = 0 FROM v
    UNION ALL
    SELECT 'shipdate_not_null', shipdate_set, shipdate_set = 0 FROM v
    UNION ALL
    SELECT 'price_positive', price_positive, price_positive = 0 FROM v
    UNION ALL
    SELECT 'orderkey_fk_orders', n, n = 0 FROM fk
    """,
    doc="data-contract validation report: four single-table contracts "
        "counted in one conditional-sum aggregate pass (range, cap, "
        "non-null, positivity) plus the referential contract as an "
        "anti-join count; discount_le_5pct FAILS on real data, so the "
        "failed branch is non-vacuous without planting",
)
def lineitem_contracts(spark, sf_dir):
    from .operators.profile import validate_contracts

    li = _t(spark, sf_dir, "lineitem")
    checks = {
        "quantity_in_1_50": (F.col("l_quantity") < 1)
        | (F.col("l_quantity") > 50),
        "discount_le_5pct": F.col("l_discount") > 0.05,
        "shipdate_not_null": F.col("l_shipdate").isNull(),
        "price_positive": F.col("l_extendedprice") <= 0,
    }
    single = validate_contracts(li, checks)
    orphans = (li.join(_t(spark, sf_dir, "orders"),
                       li.l_orderkey == F.col("o_orderkey"), "left_anti")
               .agg(F.count("*").cast("long").alias("n_violations"))
               .select(F.lit("orderkey_fk_orders").alias("check_name"),
                       "n_violations",
                       (F.col("n_violations") == 0).alias("passed")))
    return single.unionByName(orphans)


# --- E168: per-type daily-volume OLS trend -------------------------------------
# Grouped regression from closed-form sufficient statistics (five sums
# in one hash aggregate — the MPP regr_slope shape), proven against
# DuckDB's BUILT-IN regr_slope/regr_intercept/regr_r2: two independent
# implementations of OLS, one parity row. x = day index (exact
# integers), y = daily event count, so the sufficient statistics are
# exact and only the final divisions run in doubles.
@register(
    "events_type_trend",
    """
    WITH d AS (
      SELECT event_type,
             datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS x,
             count(*) AS y
      FROM events GROUP BY 1, 2
    )
    SELECT event_type, count(*)::BIGINT AS n,
           round(regr_slope(y, x), 6) AS slope,
           round(regr_intercept(y, x), 6) AS intercept,
           round(regr_r2(y, x), 6) AS r2
    FROM d GROUP BY event_type
    """,
    doc="per-event-type OLS trend of daily volume: Spark computes the "
        "closed-form sufficient-statistic regression (5 sums, one hash "
        "aggregate, no iteration), the oracle uses DuckDB's built-in "
        "regr_* aggregates — parity proves the closed form against an "
        "independent implementation; day index and counts are exact "
        "integers, so only the final divisions are floating",
)
def events_type_trend(spark, sf_dir):
    from .operators.grouped import grouped_trend

    ev = _t(spark, sf_dir, "events")
    daily = (ev.groupBy(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
        .alias("x"))
        .agg(F.count("*").alias("y")))
    return grouped_trend(daily, "event_type", "x", "y")


# --- E169: token-weighted median document length per source --------------------
@register(
    "corpus_weighted_median_length",
    """
    WITH per AS (
      SELECT source AS grp, n_chars AS v, sum(n_chars) AS w
      FROM documents GROUP BY 1, 2
    ),
    tot AS (SELECT grp, sum(w) AS t FROM per GROUP BY grp),
    cum AS (
      SELECT per.grp, v, t,
             sum(w) OVER (PARTITION BY per.grp ORDER BY v
                          ROWS UNBOUNDED PRECEDING) AS c
      FROM per JOIN tot USING (grp)
    )
    SELECT grp AS source, CAST(min(t) AS BIGINT) AS total_weight,
           min(v) AS weighted_median
    FROM cum WHERE c * 2 >= t GROUP BY grp
    """,
    doc="token(char)-weighted median document length per source: the "
        "length below which half the corpus BYTES live — weights "
        "collapse per (group, value) first so the cumulative window "
        "runs over distinct values, never rows; integer weights make "
        "the half threshold exact",
)
def corpus_weighted_median_length(spark, sf_dir):
    from .operators.grouped import grouped_weighted_median

    docs = load_table(spark, sf_dir, "documents")
    return grouped_weighted_median(docs, "source", "n_chars", "n_chars")


# --- E173: interval-overlap join (bucketed range join) ------------------------
# The range-join problem made relational: event-to-promo-window joins
# have no equi key on time, so the naive BETWEEN plan is a
# broadcast-nested-loop scan — O(events x windows). The operator
# quantizes time into buckets (intervals explode to covered buckets,
# each point maps to ONE bucket) so the join is an equi-join on
# (event_type, bucket) with the BETWEEN as a residual — exact recall,
# no dedup (one bucket per point). Promo windows are synthesized from
# shared literals (Jan 2024 Mondays + 12h, 36h long, six weeks — the
# sixth lands past the data and must report zeros, so the empty-window
# branch is non-vacuous at every SF). The oracle states the
# definitional BETWEEN join, so the parity row proves bucket-explode
# + residual == the definition.
_PROMO_EPOCH_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
_PROMO_WEEK_US = 7 * 86_400_000_000
_PROMO_OFS_US = 43_200_000_000           # +12 h: windows not day-aligned
_PROMO_LEN_US = 129_600_000_000          # 36 h


@register(
    "events_interval_join",
    f"""
    WITH promos AS (
      SELECT t.event_type, CAST(k.k AS INTEGER) AS promo_k,
             {_PROMO_EPOCH_US} + k.k * {_PROMO_WEEK_US}
               + {_PROMO_OFS_US} AS p_start
      FROM (SELECT DISTINCT event_type FROM events) t,
           (SELECT unnest(range(6)) AS k) k
    ),
    pts AS (
      SELECT event_type, epoch_ns(ts) // 1000 AS us, user_id,
             CAST(floor(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    j AS (
      SELECT p.event_type, p.promo_k, pts.user_id, pts.cents
      FROM promos p JOIN pts ON pts.event_type = p.event_type
       AND pts.us BETWEEN p.p_start
                      AND p.p_start + {_PROMO_LEN_US} - 1
    ),
    a AS (
      SELECT event_type, promo_k, count(*)::BIGINT AS n_events,
             count(DISTINCT user_id)::BIGINT AS n_users,
             sum(cents)::BIGINT AS value_cents
      FROM j GROUP BY 1, 2
    )
    SELECT p.event_type, p.promo_k,
           coalesce(a.n_events, 0)::BIGINT AS n_events,
           coalesce(a.n_users, 0)::BIGINT AS n_users,
           coalesce(a.value_cents, 0)::BIGINT AS value_cents
    FROM promos p LEFT JOIN a USING (event_type, promo_k)
    """,
    doc="bucketed interval-overlap join: events matched to 36-hour "
        "promo windows via 6-hour time buckets (intervals explode to "
        "covered buckets, each event maps to one bucket, BETWEEN as a "
        "residual) — the equi-join form of the range join; per "
        "(type, window): events, distinct users, integer-cents value; "
        "the oracle is the definitional BETWEEN join; week-6 windows "
        "land past the data and report zeros",
)
def events_interval_join(spark, sf_dir):
    from .operators.timeseries import interval_overlap_join, ticks_us

    ev = load_table(spark, sf_dir, "events")
    pts = ev.select("event_type", ticks_us(ev).alias("us"), "user_id",
                    F.floor(F.col("value") * 100).cast("long")
                    .alias("cents"))
    promos = (ev.select("event_type").distinct()
              .crossJoin(spark.range(6)
                         .select(F.col("id").cast("int")
                                 .alias("promo_k")))
              .select("event_type", "promo_k",
                      (F.lit(_PROMO_EPOCH_US)
                       + F.col("promo_k").cast("long") * _PROMO_WEEK_US
                       + _PROMO_OFS_US).cast("long").alias("p_start")))
    promos = promos.withColumn(
        "p_end", (F.col("p_start") + _PROMO_LEN_US - 1).cast("long"))
    j = interval_overlap_join(pts, promos, "us", "p_start", "p_end",
                              bucket_width=21_600_000_000,
                              extra_keys=["event_type"])
    agg = j.groupBy("event_type", "promo_k").agg(
        F.count("*").cast("long").alias("n_events"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
        F.sum("cents").cast("long").alias("value_cents"))
    return (promos.join(agg, ["event_type", "promo_k"], "left")
            .select("event_type", "promo_k",
                    F.coalesce("n_events", F.lit(0)).cast("long")
                    .alias("n_events"),
                    F.coalesce("n_users", F.lit(0)).cast("long")
                    .alias("n_users"),
                    F.coalesce("value_cents", F.lit(0)).cast("long")
                    .alias("value_cents")))


# --- E179: A/B uplift readout (r12) --------------------------------------------
# The experiment primitive: users hash-assigned to two arms (md5
# bucket — the engine-portable split convention), per-USER metric
# first (the randomization unit; per-event comparison inflates
# significance), then one conditional-sum pass for the Welch z. The
# synthetic assignment is a true A/A test, so |z| is small — the
# honest null readout, not a planted effect.
@register(
    "events_ab_uplift",
    """
    WITH units AS (
      SELECT user_id,
             CASE WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR)),
                                       1, 8))::BIGINT % 2 = 0
                  THEN 'a' ELSE 'b' END AS arm,
             sum(CAST(floor(value * 100) AS BIGINT)) AS cents
      FROM events GROUP BY 1
    ),
    g AS (
      SELECT sum(CASE WHEN arm = 'a' THEN 1 ELSE 0 END)::BIGINT AS n_a,
             sum(CASE WHEN arm = 'b' THEN 1 ELSE 0 END)::BIGINT AS n_b,
             sum(CASE WHEN arm = 'a' THEN cents ELSE 0 END)::BIGINT
               AS sx_a,
             sum(CASE WHEN arm = 'b' THEN cents ELSE 0 END)::BIGINT
               AS sx_b,
             sum(CASE WHEN arm = 'a' THEN cents * cents ELSE 0
                 END)::BIGINT AS sxx_a,
             sum(CASE WHEN arm = 'b' THEN cents * cents ELSE 0
                 END)::BIGINT AS sxx_b
      FROM units
    )
    SELECT n_a, n_b,
           round(sx_a * 1.0 / n_a, 6) AS mean_a,
           round(sx_b * 1.0 / n_b, 6) AS mean_b,
           round(sx_a * 1.0 / n_a - sx_b * 1.0 / n_b, 6) AS uplift,
           CASE WHEN n_a >= 2 AND n_b >= 2
                 AND ((sxx_a - (CAST(sx_a AS DOUBLE) * sx_a) / n_a)
                      / (n_a - 1)) / n_a
                   + ((sxx_b - (CAST(sx_b AS DOUBLE) * sx_b) / n_b)
                      / (n_b - 1)) / n_b > 0
                THEN round((sx_a * 1.0 / n_a - sx_b * 1.0 / n_b)
                           / sqrt(((sxx_a - (CAST(sx_a AS DOUBLE)
                                             * sx_a) / n_a)
                                   / (n_a - 1)) / n_a
                                  + ((sxx_b - (CAST(sx_b AS DOUBLE)
                                               * sx_b) / n_b)
                                     / (n_b - 1)) / n_b), 6)
                ELSE NULL END AS z_score
    FROM g
    """,
    doc="A/B uplift readout on hash-assigned arms: per-user integer-"
        "cents metric (the randomization unit), Welch z from one "
        "conditional-sum pass (n, Sx, Sxx per arm — exact BIGINT "
        "sums, closed-form variance); the md5 split is an A/A test, "
        "so the small |z| is the honest null, not a planted effect",
)
def events_ab_uplift(spark, sf_dir):
    from .operators.grouped import ab_uplift_report

    ev = load_table(spark, sf_dir, "events")
    arm = F.when(
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 8),
               16, 10).cast("long") % 2 == 0, "a").otherwise("b")
    units = (ev.groupBy("user_id")
             .agg(F.sum(F.floor(F.col("value") * 100).cast("long"))
                  .cast("long").alias("cents"))
             .withColumn("arm", arm))
    return ab_uplift_report(units, "arm", "cents")


# --- E183: Poisson-bootstrap grouped CI (r12) -----------------------------------
# The uncertainty readout every per-group mean should ship with at
# corpus scale: classical bootstrap resampling is a shuffle per
# replicate, the Poisson bootstrap is ONE weighted pass for all R
# replicates. Both engines draw the SAME replicates: md5(group:unit:r)
# uniforms inverted through the shared 6-decimal Poisson(1) CDF
# literals, and n_replicates=41 puts the 2.5%/97.5% ranks exactly ON
# order statistics (no interpolation arithmetic to differ in the last
# ulp). The oracle SQL below is GENERATED from the same module
# constants the Spark plan compiles, so the distribution literally
# cannot drift between engines.
from .operators.grouped import POISSON1_CDF as _P1CDF
from .operators.grouped import U32_DIVISOR as _U32

_BOOT_W_SQL = " + ".join(
    f"(CASE WHEN u >= {c} THEN 1 ELSE 0 END)" for c in _P1CDF)

_BOOT_ORACLE = f"""
    WITH units AS (
      SELECT event_type, user_id,
             sum(CAST(floor(value * 100) AS BIGINT)) AS cents
      FROM events GROUP BY 1, 2
    ),
    reps AS (
      SELECT event_type, cents, t.range AS r,
             ('0x' || substr(md5(coalesce(event_type, '\\N') || ':'
                                 || CAST(user_id AS VARCHAR) || ':'
                                 || CAST(t.range AS VARCHAR)),
                             1, 8))::BIGINT / {_U32!r} AS u
      FROM units, range(41) t
    ),
    wt AS (
      SELECT event_type, r, cents, {_BOOT_W_SQL} AS w FROM reps
    ),
    rm AS (
      SELECT event_type, r,
             CASE WHEN sum(w) > 0
                  THEN round(sum(w * cents) * 1.0 / sum(w), 6)
             END AS mean_r
      FROM wt GROUP BY 1, 2
    ),
    pt AS (
      SELECT event_type, count(*)::BIGINT AS n_units,
             round(sum(cents) * 1.0 / count(*), 6) AS mean_val
      FROM units GROUP BY 1
    )
    SELECT p.event_type, p.n_units, p.mean_val,
           round(quantile_cont(rm.mean_r, 0.025), 6) AS ci_lo,
           round(quantile_cont(rm.mean_r, 0.975), 6) AS ci_hi
    FROM pt p JOIN rm ON p.event_type = rm.event_type
    GROUP BY 1, 2, 3
"""


@register(
    "events_bootstrap_ci",
    _BOOT_ORACLE,
    doc="Poisson-bootstrap 95% CI for mean per-user spend by event "
        "type: per-user integer cents (the randomization unit), 41 "
        "replicates as md5-deterministic Poisson(1) weights inverted "
        "through shared CDF literals, replicate means from exact "
        "BIGINT sums, CI ranks landing on order statistics — all R "
        "replicates in one narrow explode + one hash aggregate, no "
        "resample shuffle",
)
def events_bootstrap_ci(spark, sf_dir):
    from .operators.grouped import bootstrap_ci

    ev = _t(spark, sf_dir, "events")
    units = ev.groupBy("event_type", "user_id").agg(
        F.sum(F.floor(F.col("value") * 100).cast("long"))
        .cast("long").alias("cents"))
    return bootstrap_ci(units, ["event_type"], "user_id", "cents",
                        n_replicates=41, alpha=0.05)


# --- E185: sole-late-supplier attribution (TPC-H Q21 shape, r12) ----------------
# The classic multi-correlation query: a per-group EXISTS plus a
# per-group NOT EXISTS against the same self-joined table. The naive
# translation is two correlated self-joins of lineitem (the largest
# table, twice); the Spark-first plan DECORRELATES both subqueries
# into one window over the per-(order, supplier) lateness aggregate —
# EXISTS(other supplier) becomes n_supp >= 2, NOT EXISTS(other LATE
# supplier) becomes n_late = 1 — so lineitem is scanned once and the
# two "subqueries" are two window columns over one exchange. The
# ORACLE is the textbook correlated form, so the parity row proves the
# decorrelation exact. Lateness = shipped > 90 days after order date
# (this synthetic lineitem carries no commit/receipt dates).
@register(
    "suppliers_sole_delay",
    """
    WITH late AS (
      SELECT DISTINCT l.l_orderkey, l.l_suppkey
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE o.o_orderstatus = 'F'
        AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
    )
    SELECT s.s_name, count(*)::BIGINT AS numwait
    FROM late t JOIN supplier s ON t.l_suppkey = s.s_suppkey
    WHERE EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = t.l_orderkey
                    AND l2.l_suppkey <> t.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM late t3
                      WHERE t3.l_orderkey = t.l_orderkey
                        AND t3.l_suppkey <> t.l_suppkey)
    GROUP BY 1 ORDER BY numwait DESC, s_name LIMIT 10
    """,
    doc="sole-late-supplier attribution (the TPC-H Q21 shape): "
        "suppliers who were the ONLY late supplier on a finished "
        "multi-supplier order, top-10 by blocked-order count; the "
        "correlated EXISTS / NOT EXISTS pair decorrelates into two "
        "window columns (n_supp >= 2, n_late = 1) over one lineitem "
        "scan — the oracle runs the textbook correlated form",
)
def suppliers_sole_delay(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    j = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        "l_orderkey", "l_suppkey",
        (F.col("l_shipdate")
         > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
        .alias("_late"))
    per = (j.groupBy("l_orderkey", "l_suppkey")
           .agg(F.max("_late").alias("_is_late")))
    w = W.partitionBy("l_orderkey")
    flagged = per.select(
        "l_suppkey", "_is_late",
        F.count("*").over(w).alias("_n_supp"),
        F.sum(F.col("_is_late").cast("int")).over(w).alias("_n_late"))
    qual = flagged.where(F.col("_is_late") & (F.col("_n_supp") >= 2)
                         & (F.col("_n_late") == 1))
    sup = _t(spark, sf_dir, "supplier")
    agg = qual.groupBy("l_suppkey").agg(
        F.count("*").cast("long").alias("numwait"))
    return (agg.join(F.broadcast(sup),
                     agg["l_suppkey"] == sup["s_suppkey"])
            .select("s_name", "numwait")
            .orderBy(F.col("numwait").desc(), "s_name").limit(10))


# --- E187: edit-distance-1 join via deletion neighborhoods (FastSS, r12) --------
# The exact member of the linkage candidate-generation tier: blocking
# (E157) and SNM (E158) trade recall for cost; the deletion
# neighborhood is provably COMPLETE for distance 1 (variant sets
# intersect iff lev <= 1), so the parity row against the definitional
# all-pairs theta join is the completeness proof run as data. TPC-H
# customer names are dense zero-padded ids, so one-digit-apart names
# give the face real distance-1 structure (19.5k pairs at sf0.01)
# with no planted salt.
@register(
    "customers_typo_pairs",
    """
    SELECT a.c_custkey AS id_a, a.c_name AS term_a,
           b.c_custkey AS id_b, b.c_name AS term_b
    FROM customer a JOIN customer b
      ON a.c_custkey < b.c_custkey
     AND levenshtein(a.c_name, b.c_name) = 1
    """,
    doc="typo-tolerant entity matching: all customer-name pairs at "
        "edit distance exactly 1 via positioned FastSS deletion "
        "neighborhoods — substitutions self-join on (variant, "
        "position) with alphabet-bounded buckets, insertions/"
        "deletions join full names against deletion variants; both "
        "joins emit only true distance<=1 pairs, the levenshtein "
        "filter excludes distance-0 duplicates — the oracle is the "
        "definitional all-pairs theta join, so parity proves the "
        "neighborhood join complete",
)
def customers_typo_pairs(spark, sf_dir):
    from .operators.linkage import edit1_neighborhood_pairs

    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return edit1_neighborhood_pairs(c, "c_custkey", "c_name")


# --- E188: grouped EWMA one-step-ahead forecast + MAPE backtest (r12) -----------
# The capacity-planning primitive next to the anomaly screen: per
# event type, forecast tomorrow's volume from the last 14 days with
# integer-micro EWMA weights (exact BIGINT weighted sums — the
# trending-items convention), and report the backtest MAPE so the
# forecast ships with its own measured accuracy. The lag battery and
# the recency rank share one exchange (two Window specs, same
# partitioning); the corpus-scale work is the one day aggregate.
from .operators.timeseries import EWMA_LAGS as _EW_L
from .operators.timeseries import EWMA_MICRO as _EW_W

_EW_NUM_SQL = " + ".join(f"{w} * lag(n, {k}) OVER win"
                         for k, w in enumerate(_EW_W, 1))
_EW_ARR_SQL = "[" + ", ".join(str(w) for w in _EW_W) + "]"
_EW_TOT = sum(_EW_W)

_EWMA_ORACLE = f"""
    WITH g AS (
      SELECT event_type, (epoch_ns(ts) // 1000) // 86400000000 AS d,
             count(*)::BIGINT AS n
      FROM events GROUP BY 1, 2
    ),
    f AS (
      SELECT event_type, n,
             round(({_EW_NUM_SQL}) * 1.0 / {_EW_TOT}, 6) AS fc,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY d DESC) AS rn
      FROM g WINDOW win AS (PARTITION BY event_type ORDER BY d)
    )
    SELECT event_type, count(*)::BIGINT AS n_days,
           sum(CASE WHEN fc IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
             AS n_forecast_days,
           round(avg(CASE WHEN fc IS NOT NULL AND n <> 0
                          THEN abs(n - fc) / n END), 6) AS mape,
           CASE WHEN count(*) >= {_EW_L}
                THEN round(sum(CASE WHEN rn <= {_EW_L}
                               THEN ({_EW_ARR_SQL})[rn] * n END)
                           * 1.0 / {_EW_TOT}, 6)
           END AS next_forecast
    FROM f GROUP BY 1
"""


@register(
    "events_ewma_forecast",
    _EWMA_ORACLE,
    doc="grouped EWMA one-step-ahead volume forecast with MAPE "
        "backtest: per event type, 14-lag integer-micro decay weights "
        "(exact BIGINT weighted sums, derived once from alpha=0.3 and "
        "shared with the oracle), each day backtested from its own "
        "trailing window, plus the actual next-day forecast from the "
        "14 most recent days — lags and recency rank share one "
        "exchange, one hash aggregate emits both readouts",
)
def events_ewma_forecast(spark, sf_dir):
    from .operators.timeseries import ewma_forecast, ticks_us

    # absolute-day bucketing (floor(ticks/day)) only matches the
    # oracle's epoch_ns under a UTC session tz — pin it, don't assume
    # the caller's session (see ticks_us docstring)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = _t(spark, sf_dir, "events")
    d = F.floor(ticks_us(ev) / F.lit(86_400_000_000)).cast("long")
    daily = (ev.select("event_type", d.alias("d"))
             .groupBy("event_type", "d")
             .agg(F.count("*").cast("long").alias("n")))
    return ewma_forecast(daily, ["event_type"], "d", "n")


# --- E189: Kaplan-Meier survival curve (right-censored, r12) --------------------
# Survival analysis joins the stats tier: time-to-first-'error' per
# user in hours from the user's first event, administratively censored
# at the 72 h observation cutoff (users with no error inside the
# window survived AT LEAST 72 h — the information a naive "share
# errored by hour t" either discards or biases). ~21% of users censor
# at sf0.01, so both branches are structurally non-vacuous. The
# estimator runs on the <=73-row duration grid; the corpus-scale work
# is the one per-user aggregate.
@register(
    "users_survival_km",
    """
    WITH u AS (
      SELECT user_id,
             min(epoch_ns(ts) // 1000) AS t0,
             min(CASE WHEN event_type = 'error'
                      THEN epoch_ns(ts) // 1000 END) AS te
      FROM events GROUP BY 1
    ),
    lt AS (
      SELECT CASE WHEN te IS NULL OR (te - t0) // 3600000000 >= 72
                  THEN 72
                  ELSE (te - t0) // 3600000000 END::BIGINT AS dur,
             (te IS NULL OR (te - t0) // 3600000000 >= 72) AS censored
      FROM u
    ),
    g AS (
      SELECT dur,
             sum(CASE WHEN NOT censored THEN 1 ELSE 0 END)::BIGINT AS d,
             count(*)::BIGINT AS leaving
      FROM lt GROUP BY 1
    ),
    r AS (
      SELECT dur, d,
             sum(leaving) OVER (ORDER BY dur ROWS BETWEEN CURRENT ROW
                                AND UNBOUNDED FOLLOWING) AS n_risk
      FROM g
    ),
    k AS (
      SELECT dur, d, n_risk,
             exp(sum(CASE WHEN d < n_risk
                          THEN ln(1 - d * 1.0 / n_risk)
                          ELSE CAST('-infinity' AS DOUBLE) END)
                 OVER (ORDER BY dur)) AS s
      FROM r
    )
    SELECT dur AS duration, CAST(n_risk AS BIGINT) AS n_risk,
           d AS n_events, round(s, 6) AS survival
    FROM k WHERE d > 0
    """,
    doc="Kaplan-Meier time-to-first-error curve: per-user duration in "
        "hours from first event to first 'error', right-censored at "
        "the 72 h observation cutoff; product-limit estimator as "
        "exp(sum(ln(1 - d/n_risk))) over the bounded duration grid "
        "(at-risk = reverse cumulative sum), events-before-censorings "
        "tie convention",
)
def users_survival_km(spark, sf_dir):
    from .operators.timeseries import km_survival, ticks_us

    ev = _t(spark, sf_dir, "events")
    tick = ticks_us(ev)
    u = ev.groupBy("user_id").agg(
        F.min(tick).alias("t0"),
        F.min(F.when(F.col("event_type") == "error", tick)).alias("te"))
    dur_h = F.floor((F.col("te") - F.col("t0")) / F.lit(3_600_000_000))
    cens = F.col("te").isNull() | (dur_h >= 72)
    lt = u.select(
        F.when(cens, F.lit(72)).otherwise(dur_h).cast("long").alias("dur"),
        cens.alias("censored"))
    return km_survival(lt, "dur", "censored")


# --- E190: CUSUM level-shift changepoint -----------------------------------
# The step-change detector between the trend face (gradual drift) and
# the anomaly face (single days). The raw events table is level, so
# the face PLANTS a deterministic regime change — click loses 40% of
# its volume (event_id % 5 IN (0, 1)) strictly after Jan 15 — and the
# report must localize exactly that day for click while the other
# types stay sub-threshold. Day columns ride as ISO strings (the E72
# convention).
@register(
    "events_cusum_changepoint",
    """
    WITH d AS (
      SELECT event_type, CAST(ts AS DATE) AS d, count(*)::BIGINT AS y
      FROM events
      WHERE NOT (event_type = 'click'
                 AND extract(day FROM ts) > 15
                 AND event_id % 5 IN (0, 1))
      GROUP BY 1, 2
    ),
    g AS (
      SELECT event_type, d, y,
             count(*) OVER (PARTITION BY event_type) AS n,
             sum(y) OVER (PARTITION BY event_type) AS s1,
             sum(y * y) OVER (PARTITION BY event_type) AS s2,
             sum(y) OVER (PARTITION BY event_type ORDER BY d
                          ROWS UNBOUNDED PRECEDING) AS c,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY d) AS rn
      FROM d
    ),
    s AS (
      SELECT event_type, d, y, n,
             CASE WHEN n > 1 AND (s2 - s1 * s1 * 1.0 / n) / (n - 1) > 0
                  THEN round(abs(c - rn * (s1 * 1.0 / n))
                             / (sqrt((s2 - s1 * s1 * 1.0 / n) / (n - 1))
                                * sqrt(n * 1.0)), 6)
             END AS stat
      FROM g
    ),
    p AS (
      SELECT event_type, d, y, n, stat,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY stat DESC NULLS LAST, d)
               AS pick
      FROM s
    ),
    cp AS (SELECT event_type, d AS cpd, n, stat FROM p WHERE pick = 1)
    SELECT s.event_type,
           cp.n::BIGINT AS n_days,
           strftime(cp.cpd, '%Y-%m-%d') AS cp_day,
           cp.stat AS cusum_stat,
           round(avg(CASE WHEN s.d <= cp.cpd THEN s.y END), 6)
             AS mean_before,
           round(avg(CASE WHEN s.d > cp.cpd THEN s.y END), 6)
             AS mean_after,
           round(round(avg(CASE WHEN s.d > cp.cpd THEN s.y END), 6)
                 - round(avg(CASE WHEN s.d <= cp.cpd THEN s.y END), 6), 6)
             AS shift
    FROM s JOIN cp USING (event_type)
    GROUP BY s.event_type, cp.n, cp.cpd, cp.stat
    """,
    doc="retrospective CUSUM change-in-mean per event type: C_t = "
        "cumulative (count - mean), changepoint = argmax |C_t| on the "
        "6-dp-rounded normalized statistic (earliest day wins ties), "
        "variance from integer sufficient statistics so both engines "
        "agree bit-for-bit; planted regime change: click loses "
        "event_id%5 IN (0,1) strictly after Jan 15",
)
def events_cusum_changepoint(spark, sf_dir):
    from .operators.timeseries import cusum_changepoint

    ev = _t(spark, sf_dir, "events")
    kept = ev.where(~((F.col("event_type") == "click")
                      & (F.dayofmonth("ts") > 15)
                      & (F.col("event_id") % 5).isin(0, 1)))
    daily = (kept.groupBy("event_type", F.to_date("ts").alias("d"))
             .agg(F.count("*").cast("long").alias("y")))
    out = cusum_changepoint(daily, ["event_type"], "d", "y")
    return out.withColumn("cp_day",
                          F.date_format("cp_day", "yyyy-MM-dd"))


# --- E191: Theil-Sen robust volume trend -----------------------------------
@register(
    "events_theilsen_trend",
    """
    WITH d AS (
      SELECT event_type,
             datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS x,
             count(*)::BIGINT AS y
      FROM events GROUP BY 1, 2
    ),
    m AS (
      SELECT a.event_type,
             count(*)::BIGINT AS n_pairs,
             quantile_cont((b.y - a.y) * 1.0 / (b.x - a.x), 0.5) AS slope
      FROM d a JOIN d b
        ON a.event_type = b.event_type AND a.x < b.x
      GROUP BY 1
    ),
    r AS (
      SELECT d.event_type,
             count(*)::BIGINT AS n_days,
             quantile_cont(d.y - m.slope * d.x, 0.5) AS icept
      FROM d JOIN m USING (event_type)
      GROUP BY 1
    )
    SELECT m.event_type, r.n_days, m.n_pairs,
           round(m.slope, 6) AS slope,
           round(r.icept, 6) AS intercept
    FROM m JOIN r USING (event_type)
    """,
    doc="Theil-Sen robust trend of daily volume per event type: "
        "median of pairwise slopes over the day grid (29% breakdown "
        "point vs OLS's zero), Conover intercept = median residual; "
        "the pair join is day-grid-squared per key, bounded by the "
        "observation window, never by corpus size",
)
def events_theilsen_trend(spark, sf_dir):
    from .operators.timeseries import theilsen_trend

    ev = _t(spark, sf_dir, "events")
    daily = (ev.groupBy(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
        .alias("x"))
        .agg(F.count("*").cast("long").alias("y")))
    return theilsen_trend(daily, ["event_type"], "x", "y")


# --- E192: Mann-Whitney U rank-sum test -------------------------------------
@register(
    "events_mannwhitney",
    """
    WITH two AS (
      SELECT value AS v, event_type FROM events
      WHERE event_type IN ('purchase', 'view')
    ),
    per AS (
      SELECT v,
             sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               ::BIGINT AS ca,
             sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
               ::BIGINT AS cb
      FROM two GROUP BY v
    ),
    cum AS (
      SELECT ca, cb, ca + cb AS c,
             sum(ca + cb) OVER (ORDER BY v
                                ROWS UNBOUNDED PRECEDING) AS cm
      FROM per
    ),
    agg AS (
      SELECT sum(ca)::BIGINT AS n_a, sum(cb)::BIGINT AS n_b,
             sum(ca * ((cm - c) + (c + 1) / 2.0)) AS ra,
             sum(c * 1.0 * c * c - c) AS t
      FROM cum
    )
    SELECT n_a, n_b,
           round(ra - n_a * (n_a + 1.0) / 2, 2) AS u_stat,
           round((ra - n_a * (n_a + 1.0) / 2 - n_a * 1.0 * n_b / 2)
                 / sqrt(n_a * 1.0 * n_b / 12
                        * ((n_a + n_b + 1)
                           - t / ((n_a + n_b) * 1.0
                                  * (n_a + n_b - 1)))), 6) AS z,
           round(1 - 2 * (ra - n_a * (n_a + 1.0) / 2)
                 / (n_a * 1.0 * n_b), 6) AS effect_r
    FROM agg
    """,
    doc="Mann-Whitney U between purchase and view values: average "
        "ranks from per-distinct-value arm counts + the range-"
        "partitioned cumsum spine (never a single-reducer rank), tie-"
        "corrected normal z, rank-biserial effect size; half-integer "
        "rank sums are exact in doubles so order cannot move them",
)
def events_mannwhitney(spark, sf_dir):
    from .operators.grouped import mann_whitney_u

    ev = _t(spark, sf_dir, "events")
    return mann_whitney_u(ev, "value", "event_type", "purchase", "view")


# --- E193: revenue Gini concentration per segment ---------------------------
@register(
    "customers_revenue_gini",
    """
    WITH rev AS (
      SELECT c.c_mktsegment, c.c_custkey,
             coalesce(sum(round(o.o_totalprice * 100)), 0)::BIGINT AS v
      FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2
    ),
    r AS (
      SELECT c_mktsegment, v,
             row_number() OVER (PARTITION BY c_mktsegment
                                ORDER BY v, c_custkey) AS ri
      FROM rev
    ),
    a AS (
      SELECT c_mktsegment,
             count(*)::BIGINT AS n_units,
             sum(v) AS s0, sum(ri * v) AS s1
      FROM r GROUP BY 1
    )
    SELECT c_mktsegment, n_units,
           s0::BIGINT AS total_value,
           CASE WHEN s0 <> 0
                THEN round((2 * (s1 * 1.0) - (n_units + 1) * (s0 * 1.0))
                           / (n_units * (s0 * 1.0)), 6)
           END AS gini
    FROM a
    """,
    doc="Gini coefficient of per-customer revenue (cents) within each "
        "market segment, customers with no orders included at zero: "
        "rank-form Lorenz sum on the range-partitioned GLOBAL rank "
        "minus a per-segment broadcast offset — a mega-segment never "
        "funnels one reducer; moment sums exact as DECIMAL(38,0)",
)
def customers_revenue_gini(spark, sf_dir):
    from .operators.grouped import gini_concentration

    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    rev = (cust.join(orders,
                     cust["c_custkey"] == orders["o_custkey"], "left")
           .groupBy("c_mktsegment", "c_custkey")
           .agg(F.coalesce(F.sum(F.round(F.col("o_totalprice") * 100)),
                           F.lit(0)).cast("long").alias("v")))
    return gini_concentration(rev, "c_mktsegment", "v", "c_custkey")


# --- E194: TPC-H Q13 shape — customer order-count distribution --------------
# The classic LEFT-join double aggregate: customers with ZERO orders
# must appear in the 0 bucket (an inner join silently drops them — the
# bug this query shape exists to catch). The priority filter stands in
# for Q13's comment NOT LIKE predicate.
@register(
    "customers_order_distribution",
    """
    SELECT c_count, count(*)::BIGINT AS custdist
    FROM (
      SELECT c.c_custkey, count(o.o_orderkey)::BIGINT AS c_count
      FROM customer c
      LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey
    )
    GROUP BY c_count
    """,
    doc="TPC-H Q13 shape: orders per customer including the zero "
        "bucket (left join with the filter in the JOIN condition, not "
        "the WHERE — a WHERE would turn it inner), then the count-of-"
        "counts histogram; both aggregates map-side combinable, the "
        "second runs on the per-customer table",
)
def customers_order_distribution(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    per = (cust.join(
        orders.where(F.col("o_orderpriority") != "1-URGENT"),
        cust["c_custkey"] == orders["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("long").alias("c_count")))
    return (per.groupBy("c_count")
            .agg(F.count("*").cast("long").alias("custdist")))


# --- E195: TPC-H Q17 shape — small-quantity revenue loss --------------------
# The correlated-scalar-subquery classic: "revenue from lineitems
# whose quantity is below 20% of that part's own average". The oracle
# runs the textbook correlated form; the engine decorrelates it into
# a per-part window over ONE scan of the (already part-filtered)
# lineitem join — parity proves the decorrelation, exactly the Q21
# treatment (suppliers_sole_delay).
@register(
    "parts_small_qty_revenue",
    """
    SELECT count(*)::BIGINT AS n_lineitems,
           round(sum(l.l_extendedprice) / 7.0, 2) AS avg_yearly
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#4' AND p.p_size < 10
      AND l.l_quantity < 0.2 * (
        SELECT avg(l2.l_quantity) FROM lineitem l2
        WHERE l2.l_partkey = l.l_partkey)
    """,
    doc="TPC-H Q17 shape: revenue/7 over lineitems below 20% of their "
        "part's average quantity, parts filtered to Brand#4 size<10; "
        "the filtered part dim BROADCASTS into the lineitem scan, the "
        "correlated average decorrelates to avg() OVER (PARTITION BY "
        "partkey) on that single joined scan — no second lineitem "
        "pass, no per-part subquery",
)
def parts_small_qty_revenue(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    parts = (_t(spark, sf_dir, "part")
             .where((F.col("p_brand") == "Brand#4")
                    & (F.col("p_size") < 10))
             .select("p_partkey"))
    joined = li.join(F.broadcast(parts),
                     li["l_partkey"] == parts["p_partkey"])
    avg_qty = F.avg("l_quantity").over(W.partitionBy("l_partkey"))
    flagged = joined.withColumn("_avg", avg_qty)
    return (flagged.where(F.col("l_quantity") < 0.2 * F.col("_avg"))
            .agg(F.count("*").cast("long").alias("n_lineitems"),
                 F.round(F.sum("l_extendedprice") / 7.0, 2)
                 .alias("avg_yearly")))


# --- E196: TPC-H Q18 shape — large-volume customers -------------------------
@register(
    "customers_large_volume",
    """
    SELECT c.c_name, o.o_custkey, o.o_orderkey,
           strftime(o.o_orderdate, '%Y-%m-%d') AS o_orderdate,
           round(o.o_totalprice, 2) AS o_totalprice,
           round(s.sum_qty, 2) AS sum_qty
    FROM (
      SELECT l_orderkey, sum(l_quantity) AS sum_qty
      FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 250
    ) s
    JOIN orders o ON o.o_orderkey = s.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    ORDER BY o.o_totalprice DESC, o.o_orderkey
    LIMIT 20
    """,
    doc="TPC-H Q18 shape: orders whose total quantity exceeds 250 "
        "(HAVING on the map-side-combinable per-order aggregate — the "
        "filter shrinks the corpus-scale side to a sliver BEFORE any "
        "join), then the surviving keys broadcast into orders and "
        "customer; top-20 under a total order (totalprice desc, "
        "orderkey asc) via TakeOrderedAndProject",
)
def customers_large_volume(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    big = (li.groupBy("l_orderkey")
           .agg(F.sum("l_quantity").alias("sum_qty"))
           .where(F.col("sum_qty") > 250))
    return (orders.join(F.broadcast(big),
                        orders["o_orderkey"] == big["l_orderkey"])
            .join(F.broadcast(cust),
                  orders["o_custkey"] == cust["c_custkey"])
            .select("c_name", "o_custkey", "o_orderkey",
                    F.date_format("o_orderdate", "yyyy-MM-dd")
                    .alias("o_orderdate"),
                    F.round("o_totalprice", 2).alias("o_totalprice"),
                    F.round("sum_qty", 2).alias("sum_qty"))
            .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
            .limit(20))


# --- E201: degree assortativity of the co-occurrence graph -------------------
# Newman's r over the same capped item-item graph the pagerank /
# triangle faces consume: tells which topology regime (hub-to-hub vs
# hub-to-leaf) the graph tier is operating in.
@register(
    "events_graph_assortativity",
    """
    WITH ui AS (
      SELECT user_id, TRY_CAST(json_extract_string(props, '$.k')
                               AS BIGINT) AS item,
             count(*) AS n
      FROM events
      WHERE TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)
            IS NOT NULL
      GROUP BY 1, 2
    ),
    capped AS (
      SELECT user_id, item FROM (
        SELECT user_id, item,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY n DESC, item) AS rk
        FROM ui)
      WHERE rk <= 20
    ),
    co AS (
      SELECT a.item AS item_a, b.item AS item_b, count(*) AS n_co
      FROM capped a
      JOIN capped b ON a.user_id = b.user_id AND a.item < b.item
      GROUP BY 1, 2
    ),
    edges AS (SELECT item_a, item_b FROM co WHERE n_co >= 2),
    sym AS (
      SELECT item_a AS u, item_b AS v FROM edges
      UNION ALL
      SELECT item_b, item_a FROM edges
    ),
    deg AS (SELECT u, count(*)::BIGINT AS d FROM sym GROUP BY 1),
    ends AS (
      SELECT du.d AS x, dv.d AS y
      FROM sym JOIN deg du ON du.u = sym.u
               JOIN deg dv ON dv.u = sym.v
    ),
    m AS (
      SELECT count(*)::BIGINT AS m2, sum(x) AS sx,
             sum(x * x) AS sxx, sum(x * y) AS sxy
      FROM ends
    ),
    nn AS (SELECT count(*)::BIGINT AS n_nodes FROM deg)
    SELECT n_nodes, (m2 // 2)::BIGINT AS n_edges,
           CASE WHEN CAST(sxx AS DOUBLE) * CAST(m2 AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
                THEN round((CAST(sxy AS DOUBLE) * CAST(m2 AS DOUBLE)
                            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                           / (CAST(sxx AS DOUBLE) * CAST(m2 AS DOUBLE)
                              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)),
                           6)
           END AS assortativity
    FROM m, nn
    """,
    doc="Newman degree assortativity of the capped item co-occurrence "
        "graph (the pagerank/triangles edge build): Pearson r of the "
        "end degrees over the symmetrized edge list, from exact "
        "integer moment sums entering the float stage through one "
        "pinned expression; hash aggregates + equi-joins only, linear "
        "in E",
)
def events_graph_assortativity(spark, sf_dir):
    from .operators.graph import degree_assortativity, item_cooccurrence

    ev = (_t(spark, sf_dir, "events")
          .select("user_id",
                  F.get_json_object("props", "$.k").try_cast("long")
                  .alias("item")))
    # pin the slim edge list before handing it to the operator:
    # degree_assortativity consumes its input 4x (sym's two union
    # branches feed both the degree aggregate and the end-pair join),
    # and unpinned that re-plans the whole co-occurrence build per
    # consumer — 64 parquet scans in one plan (the item_triangles
    # subtree-reuse lesson; r14 opt round)
    edges = (item_cooccurrence(ev)
             .select(F.col("item_a").alias("src"),
                     F.col("item_b").alias("dst"))
             .localCheckpoint(eager=True))
    return degree_assortativity(edges)


# --- E203: sweep-line peak session concurrency --------------------------------
@register(
    "events_peak_concurrency",
    """
    WITH e AS (
      SELECT user_id, event_id, epoch_ns(ts) // 1000 AS tk FROM events
    ),
    marked AS (
      SELECT user_id, event_id, tk,
             CASE WHEN lag(tk) OVER w IS NULL
                       OR tk - lag(tk) OVER w > 1800000000
                  THEN 1 ELSE 0 END AS ns
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tk, event_id)
    ),
    sid AS (
      SELECT user_id, tk,
             sum(ns) OVER (PARTITION BY user_id ORDER BY tk, event_id
                           ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked
    ),
    sess AS (
      SELECT user_id, sid, min(tk) AS t0, max(tk) AS t1
      FROM sid GROUP BY 1, 2
    ),
    bounds AS (
      SELECT user_id, sid, t0 AS tk, 1 AS d FROM sess
      UNION ALL
      SELECT user_id, sid, t1, -1 FROM sess
    ),
    cum AS (
      SELECT tk, tk // 86400000000 AS day,
             sum(d) OVER (ORDER BY tk, d, user_id, sid
                          ROWS UNBOUNDED PRECEDING) AS c
      FROM bounds
    ),
    peaks AS (SELECT day, max(c)::BIGINT AS peak FROM cum GROUP BY 1),
    first AS (
      SELECT cum.day, peaks.peak, min(cum.tk) AS pt
      FROM cum JOIN peaks ON peaks.day = cum.day AND cum.c = peaks.peak
      GROUP BY 1, 2
    )
    SELECT strftime(make_timestamp(day * 86400000000), '%Y-%m-%d')
             AS day,
           peak,
           strftime(make_timestamp(pt), '%H:%M') AS peak_minute
    FROM first
    """,
    doc="sweep-line peak concurrent sessions per day: gaps-and-islands "
        "sessionization (30-min rule, event-id tiebreak), +1/-1 "
        "boundaries END-EXCLUSIVE (-1 sorts first at equal ticks), "
        "running concurrency on the range-partitioned global-cumsum "
        "spine — never a single-reducer window in the engine (the "
        "oracle may window freely); per-day peak + earliest peak "
        "minute as two keyed aggregates; UTC session pinned for the "
        "absolute day/minute bucketing",
)
def events_peak_concurrency(spark, sf_dir):
    from .operators.timeseries import peak_concurrency

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return peak_concurrency(_t(spark, sf_dir, "events"), gap_minutes=30)


# --- E204: star-schema FK orphan audit ----------------------------------------
# The cross-table contract battery. The raw star is referentially
# clean, so one edge PLANTS parent deletions (custkey % 97 == 0
# removed before the audit) and must count exactly those orders as
# orphans while the six real edges report zero — the audit's both
# branches stay structurally non-vacuous (the calendar_gaps planting
# convention).
_FK_EDGE_SQL = """
    SELECT '{child}' AS child_table, '{fk}' AS fk_col,
           '{parent}' AS parent_table,
           count(*)::BIGINT AS n_child_rows,
           sum(CASE WHEN p._pk IS NULL THEN 1 ELSE 0 END)::BIGINT
             AS n_orphans,
           round(sum(CASE WHEN p._pk IS NULL THEN 1 ELSE 0 END)
                 * 1.0 / count(*), 6) AS orphan_share,
           sum(CASE WHEN p._pk IS NULL THEN 1 ELSE 0 END) = 0 AS passed
    FROM {child} c
    LEFT JOIN (SELECT DISTINCT {pk} AS _pk FROM {parent_rel}) p
      ON c.{fk} = p._pk
"""


@register(
    "schema_fk_orphans",
    " UNION ALL ".join([
        _FK_EDGE_SQL.format(
            child="orders", fk="o_custkey", parent="customer_planted",
            pk="c_custkey",
            parent_rel="customer WHERE c_custkey % 97 <> 0"),
        _FK_EDGE_SQL.format(child="lineitem", fk="l_orderkey",
                            parent="orders", pk="o_orderkey",
                            parent_rel="orders"),
        _FK_EDGE_SQL.format(child="lineitem", fk="l_partkey",
                            parent="part", pk="p_partkey",
                            parent_rel="part"),
        _FK_EDGE_SQL.format(child="lineitem", fk="l_suppkey",
                            parent="supplier", pk="s_suppkey",
                            parent_rel="supplier"),
        _FK_EDGE_SQL.format(child="customer", fk="c_nationkey",
                            parent="nation", pk="n_nationkey",
                            parent_rel="nation"),
        _FK_EDGE_SQL.format(child="supplier", fk="s_nationkey",
                            parent="nation", pk="n_nationkey",
                            parent_rel="nation"),
        _FK_EDGE_SQL.format(child="nation", fk="n_regionkey",
                            parent="region", pk="r_regionkey",
                            parent_rel="region"),
    ]),
    doc="referential-integrity audit over the star's seven FK edges: "
        "distinct parent keys + one LEFT join + one count per edge "
        "(linear, no windows), rows unioned; NULL FKs count as "
        "orphans; the orders->customer edge audits against a PLANTED "
        "parent deletion (custkey % 97 removed) so the orphan branch "
        "is non-vacuous while the six real edges prove clean",
)
def schema_fk_orphans(spark, sf_dir):
    from .operators.profile import fk_orphan_audit

    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    cust_planted = cust.where(F.col("c_custkey") % 97 != 0)
    return fk_orphan_audit([
        (orders, "o_custkey", "orders", cust_planted, "c_custkey",
         "customer_planted"),
        (li, "l_orderkey", "lineitem", orders, "o_orderkey", "orders"),
        (li, "l_partkey", "lineitem", _t(spark, sf_dir, "part"),
         "p_partkey", "part"),
        (li, "l_suppkey", "lineitem", supp, "s_suppkey", "supplier"),
        (cust, "c_nationkey", "customer", nation, "n_nationkey",
         "nation"),
        (supp, "s_nationkey", "supplier", nation, "n_nationkey",
         "nation"),
        (nation, "n_regionkey", "nation", region, "r_regionkey",
         "region"),
    ])


# --- E205: md5-pinned HyperLogLog (value-checked registers) -------------------
# Closes the sketch family's last rows-only gap: the built-in
# hll_sketch_agg face (approx_distinct_users_hll) can only be
# rows-checked because its register layout is engine-private; this
# build pins every bit (60-bit md5 hash, shift/mask bucketing, base-2
# digit-length rho, exact-integer harmonic sum), so the ESTIMATE
# itself is value-compared, at two register counts covering both
# estimator branches on natural data.
from .operators.frequent import _hll_alpha  # noqa: E402


def _hll_cte(p: int) -> str:
    m = 1 << p
    rem = 60 - p
    mask = (1 << rem) - 1
    scale = 1 << (rem + 1)
    am2 = _hll_alpha(m) * m * m
    return f"""
      SELECT grp, CAST({m} AS BIGINT) AS m,
             CASE WHEN {am2!r} / ((sp + (({m} - nb) * CAST({scale}
                    AS HUGEINT))) / {float(scale)!r})
                    <= {2.5 * m!r}
                   AND ({m} - nb) > 0
                  THEN {float(m)!r} * ln({float(m)!r} / ({m} - nb))
                  ELSE {am2!r} / ((sp + (({m} - nb) * CAST({scale}
                    AS HUGEINT))) / {float(scale)!r})
             END AS est
      FROM (
        SELECT grp, count(*)::BIGINT AS nb,
               sum(1::BIGINT << ({rem + 1} - rho)) AS sp
        FROM (
          SELECT grp, h >> {rem} AS bucket,
                 max(CASE WHEN (h & {mask}) > 0
                          THEN {rem + 1} - length(bin(h & {mask}))
                          ELSE {rem + 1} END)::BIGINT AS rho
          FROM hashed GROUP BY 1, 2
        ) GROUP BY 1
      )
    """


@register(
    "events_hll_pinned",
    f"""
    WITH hashed AS (
      SELECT event_type AS grp,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
               ::BIGINT AS h
      FROM events
    ),
    exact AS (
      SELECT event_type AS grp,
             count(DISTINCT user_id)::BIGINT AS n_exact
      FROM events GROUP BY 1
    ),
    ests AS ({_hll_cte(6)} UNION ALL {_hll_cte(12)})
    SELECT ests.grp AS event_type, m, n_exact,
           round(est, 2) AS est,
           round((est - n_exact) / n_exact, 6) AS rel_err
    FROM ests JOIN exact ON exact.grp = ests.grp
    """,
    doc="md5-pinned HyperLogLog distinct-user estimates per event "
        "type at m=64 and m=4096 vs the exact count: 60-bit md5 hash, "
        "top-p-bit buckets (shiftright), rho from base-2 digit length "
        "(no floating log2), EXACT-integer harmonic sum (every 2^-rho "
        "scaled to a long; zeros counted arithmetically, never "
        "materialized), linear-counting small-range branch — both "
        "branches value-checked on natural data, the sketch family's "
        "last rows-only member now bit-pinned",
)
def events_hll_pinned(spark, sf_dir):
    from .operators.frequent import hll_report

    return hll_report(_t(spark, sf_dir, "events"), "user_id",
                      "event_type", ps=(6, 12))


# --- E206: co-occurrence recommender temporal-holdout eval --------------------
@register(
    "events_rec_hitrate",
    """
    WITH train AS (
      SELECT * FROM events WHERE extract(day FROM ts) < 25
    ),
    test AS (
      SELECT * FROM events WHERE extract(day FROM ts) >= 25
    ),
    ui AS (
      SELECT user_id, TRY_CAST(json_extract_string(props, '$.k')
                               AS BIGINT) AS item, count(*) AS n
      FROM train
      WHERE TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)
            IS NOT NULL
      GROUP BY 1, 2
    ),
    capped AS (
      SELECT user_id, item FROM (
        SELECT user_id, item,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY n DESC, item) AS rk
        FROM ui)
      WHERE rk <= 20
    ),
    sz AS (SELECT item, count(*) AS nu FROM capped GROUP BY 1),
    co AS (
      SELECT a.item AS item_a, b.item AS item_b, count(*) AS n_co
      FROM capped a
      JOIN capped b ON a.user_id = b.user_id AND a.item < b.item
      GROUP BY 1, 2
    ),
    sim AS (
      SELECT item_a, item_b,
             round(n_co * 1.0 / (sa.nu + sb.nu - n_co), 6) AS jaccard
      FROM co
      JOIN sz sa ON sa.item = item_a
      JOIN sz sb ON sb.item = item_b
      WHERE n_co >= 2
    ),
    edges AS (
      SELECT item_a AS src, item_b AS dst, jaccard FROM sim
      UNION ALL
      SELECT item_b, item_a, jaccard FROM sim
    ),
    recs AS (
      SELECT src, dst FROM (
        SELECT src, dst,
               row_number() OVER (PARTITION BY src
                                  ORDER BY jaccard DESC, dst) AS rk
        FROM edges)
      WHERE rk <= 3
    ),
    ut AS (SELECT DISTINCT user_id AS u, item AS it FROM ui),
    user_recs AS (
      SELECT DISTINCT ut.u, recs.dst AS it
      FROM ut JOIN recs ON recs.src = ut.it
    ),
    test_pairs AS (
      SELECT DISTINCT t.user_id AS u,
             TRY_CAST(json_extract_string(t.props, '$.k') AS BIGINT)
               AS it
      FROM test t
      WHERE TRY_CAST(json_extract_string(t.props, '$.k') AS BIGINT)
            IS NOT NULL
    ),
    new_pairs AS (
      SELECT tp.u, tp.it FROM test_pairs tp
      ANTI JOIN ut ON ut.u = tp.u AND ut.it = tp.it
    ),
    hits AS (
      SELECT np.u, np.it FROM new_pairs np
      SEMI JOIN user_recs ur ON ur.u = np.u AND ur.it = np.it
    )
    SELECT CAST(3 AS BIGINT) AS k,
           (SELECT count(*) FROM new_pairs)::BIGINT AS n_test_pairs,
           (SELECT count(*) FROM hits)::BIGINT AS n_hits,
           round((SELECT count(*) FROM hits) * 1.0
                 / (SELECT count(*) FROM new_pairs), 6) AS hitrate
    """,
    doc="temporal-holdout eval of the co-occurrence recommender: "
        "train days 1-24 build the capped Jaccard graph, each user's "
        "candidate set = union of top-3 neighbors (ranked on the "
        "6-dp-rounded jaccard, id tiebreak) of their train items, "
        "scored against NEW (user, item) pairs in days 25-30 (train "
        "items anti-joined out); leakage-free by construction, keyed "
        "joins + grouped top-k only",
)
def events_rec_hitrate(spark, sf_dir):
    from .operators.graph import rec_hitrate

    ev = (_t(spark, sf_dir, "events")
          .select("user_id", "ts",
                  F.get_json_object("props", "$.k").try_cast("long")
                  .alias("item")))
    return rec_hitrate(ev, split_day=25, k=3)


# --- E209: incremental maintenance of a JOIN view ----------------------------
# The join-view extension of the IVM tier (corpus_incremental_stats
# maintains a single-table aggregate): revenue-by-nation =
# customer ⨝ orders, maintained under synthesized churn — removals
# (orderkey % 43 == 1 vanish), additions (% 47 == 0 appear), price
# changes (% 31 == 2 gain 1000 cents) AND an FK move (% 37 == 3
# reassign to custkey 1 — the two-group delta case). The oracle
# recomputes the view from the new fact directly, so parity is the
# incremental-equals-full-recompute proof.
@register(
    "orders_ivm_join_view",
    """
    WITH newf AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 37 = 3 THEN 1
                  ELSE o_custkey END AS o_custkey,
             CAST(round(o_totalprice * 100) AS BIGINT)
               + CASE WHEN o_orderkey % 31 = 2 THEN 1000 ELSE 0 END
               AS cents
      FROM orders WHERE o_orderkey % 47 <> 0
    )
    SELECT c.c_nationkey, count(*)::BIGINT AS n_rows,
           sum(cents)::BIGINT AS total_value
    FROM newf o JOIN customer c ON c.c_custkey = o.o_custkey
    GROUP BY 1
    """,
    doc="join-view IVM: revenue-cents-by-nation maintained from the "
        "old view plus churn-sized deltas (delta(F join D) = "
        "deltaF join D for a static dim) — removals decrement, "
        "additions increment, modifications do both, FK moves hit two "
        "groups; integral cents keep maintenance drift-free; oracle = "
        "full recompute on the new fact",
)
def orders_ivm_join_view(spark, sf_dir):
    from .operators.diff import ivm_join_view

    orders = _t(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    base = orders.select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 37 == 3, F.lit(1))
        .otherwise(F.col("o_custkey")).alias("cust_new"),
        F.col("o_custkey").alias("cust_old"),
        cents.alias("cents_old"),
        (cents + F.when(F.col("o_orderkey") % 31 == 2, F.lit(1000))
         .otherwise(F.lit(0))).alias("cents_new"))
    old = (base.where(F.col("o_orderkey") % 43 != 1)
           .select("o_orderkey", F.col("cust_old").alias("o_custkey"),
                   F.col("cents_old").alias("cents")))
    new = (base.where(F.col("o_orderkey") % 47 != 0)
           .select("o_orderkey", F.col("cust_new").alias("o_custkey"),
                   F.col("cents_new").alias("cents")))
    customer = _t(spark, sf_dir, "customer")
    old_view = (old.join(customer.select(F.col("c_custkey")
                                         .alias("o_custkey"),
                                         "c_nationkey"), "o_custkey")
                .groupBy("c_nationkey")
                .agg(F.count("*").cast("long").alias("n_rows"),
                     F.sum("cents").cast("long").alias("total_value")))
    return ivm_join_view(old, new, customer, "o_orderkey", "o_custkey",
                         "c_custkey", "c_nationkey", "cents", old_view)


# --- E212: chi-square independence (event mix x weekday) ----------------------
@register(
    "events_chisq_independence",
    """
    WITH cells AS (
      SELECT event_type AS r, dayofweek(ts) AS c,
             count(*)::BIGINT AS o
      FROM events GROUP BY 1, 2
    ),
    rm AS (SELECT r, sum(o)::BIGINT AS rt FROM cells GROUP BY 1),
    cm AS (SELECT c, sum(o)::BIGINT AS ct FROM cells GROUP BY 1),
    tot AS (
      SELECT sum(o)::BIGINT AS n,
             count(DISTINCT r)::BIGINT AS n_rows,
             count(DISTINCT c)::BIGINT AS n_cols
      FROM cells
    ),
    terms AS (
      SELECT (cells.o - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)
                        / CAST(n AS DOUBLE))
             * (cells.o - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)
                          / CAST(n AS DOUBLE))
             / (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)
                / CAST(n AS DOUBLE)) AS t,
             n, n_rows, n_cols
      FROM cells JOIN rm USING (r) JOIN cm USING (c) CROSS JOIN tot
    )
    SELECT n, n_rows, n_cols,
           CASE WHEN (n_rows - 1) * (n_cols - 1) > 0
                THEN round(sum(t), 6) END AS chi2,
           ((n_rows - 1) * (n_cols - 1))::BIGINT AS dof,
           CASE WHEN (n_rows - 1) * (n_cols - 1) > 0
                THEN round(sqrt(sum(t)
                     / (n * least(n_rows - 1, n_cols - 1))), 6)
           END AS cramers_v
    FROM terms GROUP BY n, n_rows, n_cols
    """,
    doc="chi-square independence of event type x weekday: one hash "
        "aggregate to the r x c cell grid, margins broadcast back, "
        "X^2 and Cramer's V from exact integer counts through one "
        "pinned expression; the categorical companion to the Welch-z "
        "and Mann-Whitney two-sample faces",
)
def events_chisq_independence(spark, sf_dir):
    from .operators.grouped import chisq_independence

    # absolute weekday bucketing: pin UTC (the ticks_us contract);
    # X^2 is invariant to the engines' different weekday NUMBERING
    # (Spark 1-7 vs DuckDB 0-6) — it only needs the same PARTITION
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = _t(spark, sf_dir, "events").select(
        "event_type", F.dayofweek("ts").alias("dow"))
    return chisq_independence(ev, "event_type", "dow")


# --- E213: TPC-H Q2 shape — minimum-cost supplier per part -------------------
# The correlated-scalar-MIN classic (Q2 proper runs it on partsupp;
# this corpus has no partsupp, so the observed per-unit price in
# lineitem stands in for ps_supplycost — the SHAPE is identical: a
# region-restricted scalar min correlated on the part key, with the
# outer join set filtered by the same region). The oracle runs the
# textbook correlated form; the engine decorrelates to a per-part
# window MIN over ONE scan of the (part- and region-filtered) join —
# the Q17/Q21 treatment. Unit cost is one double division, identical
# in both engines, so min-equality matches the same rows; ties (two
# suppliers at the same min cost) are all returned, as in Q2.
@register(
    "parts_min_cost_supplier",
    """
    SELECT * FROM (
      SELECT DISTINCT round(s.s_acctbal, 2) AS s_acctbal, s.s_name,
             n.n_name, p.p_partkey,
             round(l.l_extendedprice / l.l_quantity, 2) AS unit_cost
      FROM part p, lineitem l, supplier s, nation n, region r
      WHERE p.p_partkey = l.l_partkey AND s.s_suppkey = l.l_suppkey
        AND s.s_nationkey = n.n_nationkey
        AND n.n_regionkey = r.r_regionkey
        AND p.p_type = 'STANDARD' AND p.p_size < 15
        AND r.r_name = 'EUROPE'
        AND l.l_extendedprice / l.l_quantity = (
          SELECT min(l2.l_extendedprice / l2.l_quantity)
          FROM lineitem l2, supplier s2, nation n2, region r2
          WHERE l2.l_partkey = p.p_partkey
            AND s2.s_suppkey = l2.l_suppkey
            AND s2.s_nationkey = n2.n_nationkey
            AND n2.n_regionkey = r2.r_regionkey
            AND r2.r_name = 'EUROPE')
    )
    ORDER BY s_acctbal DESC, s_name, p_partkey
    LIMIT 100
    """,
    doc="TPC-H Q2 shape: cheapest EUROPE supplier per STANDARD small "
        "part — the correlated scalar MIN decorrelated to min() OVER "
        "(PARTITION BY partkey) on one scan of the doubly-filtered "
        "join (part dim and the 100-row supplier-nation-region side "
        "both BROADCAST); unit cost is a single double division, "
        "bit-identical across engines, so equality-to-min selects the "
        "same rows; top-100 under a total order",
)
def parts_min_cost_supplier(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    parts = (_t(spark, sf_dir, "part")
             .where((F.col("p_type") == "STANDARD")
                    & (F.col("p_size") < 15))
             .select("p_partkey"))
    eu = (_t(spark, sf_dir, "supplier")
          .join(_t(spark, sf_dir, "nation"),
                F.col("s_nationkey") == F.col("n_nationkey"))
          .join(_t(spark, sf_dir, "region"),
                F.col("n_regionkey") == F.col("r_regionkey"))
          .where(F.col("r_name") == "EUROPE")
          .select("s_suppkey", "s_name", "s_acctbal", "n_name"))
    joined = (li.join(F.broadcast(parts),
                      li["l_partkey"] == parts["p_partkey"])
              .join(F.broadcast(eu),
                    li["l_suppkey"] == F.col("s_suppkey"))
              .withColumn("_ucost",
                          F.col("l_extendedprice") / F.col("l_quantity")))
    wmin = F.min("_ucost").over(W.partitionBy("p_partkey"))
    return (joined.withColumn("_min", wmin)
            .where(F.col("_ucost") == F.col("_min"))
            .select(F.round("s_acctbal", 2).alias("s_acctbal"),
                    "s_name", "n_name", "p_partkey",
                    F.round("_ucost", 2).alias("unit_cost"))
            .distinct()
            .orderBy(F.col("s_acctbal").desc(), "s_name", "p_partkey")
            .limit(100))


# --- E214: TPC-H Q11 shape — important part value share ----------------------
# The global-scalar HAVING classic: per-part inventory value restricted
# to one region's suppliers, keeping parts worth more than a threshold
# FRACTION of the whole. Q11's literal fraction (0.0001/SF) is
# SF-dependent by spec; the self-scaling equivalent keeps the shape
# honest at every SF: value > 2x the average per-part share, i.e.
# val * n_parts > 2 * total — compared as EXACT INTEGERS (cents x
# count), so the cut cannot flip on a double ulp in either engine.
@register(
    "parts_value_share",
    """
    WITH v AS (
      SELECT l.l_partkey AS p_partkey,
             sum(CAST(round(l.l_extendedprice * (1 - l.l_discount)
                            * 100) AS BIGINT))::BIGINT AS value_cents
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      WHERE r.r_name = 'ASIA'
      GROUP BY 1
    ),
    tot AS (SELECT sum(value_cents) AS t, count(*)::BIGINT AS np FROM v)
    SELECT p_partkey, value_cents
    FROM v, tot
    WHERE value_cents * np > 2 * t
    """,
    doc="TPC-H Q11 shape: per-part value over ASIA suppliers, HAVING "
        "against a global scalar — parts worth > 2x the average share; "
        "the 100-row region-filtered supplier side broadcasts into the "
        "lineitem scan, the global (total, n_parts) is a 1-row "
        "broadcast cross join, and the cut compares exact integers "
        "(cents x part count), never a double fraction",
)
def parts_value_share(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    asia = (_t(spark, sf_dir, "supplier")
            .join(_t(spark, sf_dir, "nation"),
                  F.col("s_nationkey") == F.col("n_nationkey"))
            .join(_t(spark, sf_dir, "region"),
                  F.col("n_regionkey") == F.col("r_regionkey"))
            .where(F.col("r_name") == "ASIA")
            .select("s_suppkey"))
    cents = F.round(F.col("l_extendedprice")
                    * (1 - F.col("l_discount")) * 100).cast("long")
    v = (li.join(F.broadcast(asia), li["l_suppkey"] == asia["s_suppkey"])
         .groupBy(F.col("l_partkey").alias("p_partkey"))
         .agg(F.sum(cents).alias("value_cents")))
    tot = v.agg(F.sum("value_cents").alias("t"),
                F.count("*").cast("long").alias("np"))
    return (v.crossJoin(F.broadcast(tot))
            .where(F.col("value_cents") * F.col("np") > 2 * F.col("t"))
            .select("p_partkey", "value_cents"))


# --- E215: TPC-H Q15 shape — top revenue supplier ----------------------------
# The view-plus-global-max classic: quarterly revenue per supplier,
# return the supplier(s) equal to the maximum. Revenue accumulates in
# EXACT INTEGER cents (each row rounds once, the sum is a BIGINT), so
# the max-equality match is bit-identical across engines — a double
# revenue sum would make "== max" an ulp lottery under Spark's
# unordered partial aggregation.
@register(
    "supplier_top_revenue",
    """
    WITH revenue AS (
      SELECT l_suppkey, sum(CAST(round(l_extendedprice * (1 - l_discount)
                                       * 100) AS BIGINT)) AS total
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY 1
    )
    SELECT s.s_suppkey, s.s_name,
           round(r.total / 100.0, 2) AS total_revenue
    FROM revenue r JOIN supplier s ON s.s_suppkey = r.l_suppkey
    WHERE r.total = (SELECT max(total) FROM revenue)
    """,
    doc="TPC-H Q15 shape: per-supplier revenue over a one-quarter "
        "shipdate window (filter pushed to the parquet scan), max via "
        "a 1-row broadcast cross join, equality match on EXACT integer "
        "cents so ties and the max itself cannot diverge between "
        "engines; the supplier dim broadcasts for the name lookup",
)
def supplier_top_revenue(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice")
                    * (1 - F.col("l_discount")) * 100).cast("long")
    rev = (li.where(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp")))
        .groupBy("l_suppkey").agg(F.sum(cents).alias("total")))
    mx = rev.agg(F.max("total").alias("mx"))
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (rev.crossJoin(F.broadcast(mx))
            .where(F.col("total") == F.col("mx"))
            .join(F.broadcast(sup), rev["l_suppkey"] == sup["s_suppkey"])
            .select("s_suppkey", "s_name",
                    F.round(F.col("total") / 100.0, 2)
                    .alias("total_revenue")))


# --- E216: TPC-H Q20 shape — dominant suppliers of a part family -------------
# The nested-IN-with-correlated-threshold classic (Q20 proper compares
# ps_availqty to half a part's shipped quantity; with no partsupp the
# reshaped predicate keeps the same algebra: suppliers who shipped
# MORE THAN 20% of a 'red%' part's total quantity — a per-part share
# threshold feeding a distinct-supplier IN). The oracle nests the
# correlated half-sum subquery verbatim; the engine computes the
# per-part total as a window over the ALREADY-AGGREGATED
# (part, supplier) grid — the corpus is touched once, everything
# after is grid-sized. Quantities are integral-valued; CAST to BIGINT
# makes the 5x-share comparison exact in both engines.
@register(
    "suppliers_dominant_share",
    """
    SELECT s.s_suppkey, s.s_name, n.n_name, d.n_parts
    FROM (
      SELECT l_suppkey, count(*)::BIGINT AS n_parts
      FROM (
        SELECT l.l_partkey, l.l_suppkey
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        WHERE p.p_name LIKE 'red%'
        GROUP BY l.l_partkey, l.l_suppkey
        HAVING 5 * sum(CAST(l.l_quantity AS BIGINT)) > (
          SELECT sum(CAST(l2.l_quantity AS BIGINT))
          FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
      )
      GROUP BY 1
    ) d
    JOIN supplier s ON s.s_suppkey = d.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    """,
    doc="TPC-H Q20 shape: suppliers shipping > 20% of a red-family "
        "part's total quantity, with how many parts they dominate; "
        "the correlated half-sum decorrelates to sum() OVER "
        "(PARTITION BY partkey) on the (part, supplier) AGGREGATE "
        "grid — one corpus-scale hash agg, the window moves only "
        "grid rows; the red-part dim and the supplier-nation lookup "
        "both broadcast; share compared as 5*q > total in BIGINTs",
)
def suppliers_dominant_share(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    red = (_t(spark, sf_dir, "part")
           .where(F.col("p_name").like("red%"))
           .select("p_partkey"))
    grid = (li.join(F.broadcast(red),
                    li["l_partkey"] == red["p_partkey"])
            .groupBy("l_partkey", "l_suppkey")
            .agg(F.sum(F.col("l_quantity").cast("long")).alias("q")))
    tq = F.sum("q").over(W.partitionBy("l_partkey"))
    dom = (grid.withColumn("_tq", tq)
           .where(5 * F.col("q") > F.col("_tq"))
           .groupBy("l_suppkey")
           .agg(F.count("*").cast("long").alias("n_parts")))
    sn = (_t(spark, sf_dir, "supplier")
          .join(_t(spark, sf_dir, "nation"),
                F.col("s_nationkey") == F.col("n_nationkey"))
          .select("s_suppkey", "s_name", "n_name"))
    return (dom.join(F.broadcast(sn),
                     dom["l_suppkey"] == sn["s_suppkey"])
            .select("s_suppkey", "s_name", "n_name", "n_parts"))


# --- E217: TPC-H Q22 shape — dormant above-average customers -----------------
# The scalar-average-plus-anti-join classic: customers richer than the
# average POSITIVE balance who have placed no order in the recent
# window (this corpus has every customer ordering at least once, so
# Q22's "no orders at all" would be vacuous — "no orders since
# 2000-01-01" keeps the anti-join branch live: 5 / 55 customers
# qualify at the two checked SFs). BOTH engines state the threshold
# in cross-multiplied EXACT integers (cents * count > sum-of-cents):
# algebraically identical to "balance > avg", but a customer sitting
# exactly on the average cannot flip on the division's rounding. The
# NOT EXISTS stays textbook in the oracle; the engine runs a LEFT
# ANTI join against the date-filtered orders.
@register(
    "customers_dormant_rich",
    """
    WITH pos AS (
      SELECT count(*)::BIGINT AS n,
             sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS s
      FROM customer WHERE c_acctbal > 0
    )
    SELECT c.c_mktsegment, count(*)::BIGINT AS numcust,
           round(sum(CAST(round(c.c_acctbal * 100) AS BIGINT))
                 / 100.0, 2) AS totacctbal
    FROM customer c, pos
    WHERE CAST(round(c.c_acctbal * 100) AS BIGINT) * pos.n > pos.s
      AND NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey
          AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
    GROUP BY 1
    """,
    doc="TPC-H Q22 shape: per-segment count and balance of customers "
        "above the average positive balance with no orders since "
        "2000-01-01; the (count, sum) scalar is a 1-row broadcast, "
        "the threshold compares cross-multiplied exact cents, the "
        "no-recent-orders predicate is a LEFT ANTI join against the "
        "date-filtered (pushed-down) orders scan, and the final "
        "aggregate is segment-sized",
)
def customers_dormant_rich(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    cents = F.round(F.col("c_acctbal") * 100).cast("long")
    pos = (cust.where(F.col("c_acctbal") > 0)
           .agg(F.count("*").cast("long").alias("n"),
                F.sum(cents).alias("s")))
    recent = (orders
              .where(F.col("o_orderdate")
                     >= F.lit("2000-01-01 00:00:00").cast("timestamp"))
              .select("o_custkey"))
    rich = (cust.withColumn("_cents", cents)
            .crossJoin(F.broadcast(pos))
            .where(F.col("_cents") * F.col("n") > F.col("s")))
    return (rich.join(recent, rich["c_custkey"] == recent["o_custkey"],
                      "left_anti")
            .groupBy("c_mktsegment")
            .agg(F.count("*").cast("long").alias("numcust"),
                 F.round(F.sum("_cents") / 100.0, 2).alias("totacctbal")))


# --- E218: Spearman rank correlation (value drift vs time) -------------------
# The monotone-drift readout the OLS (E119) and Theil-Sen (E191)
# trends can't give: "is value drifting with time AT ALL", invariant
# to any monotone transform of either axis. Ranks ride the global
# rank spine; ties enter as doubled mid-ranks (exact BIGINTs); the
# five moment sums are DECIMAL(38,0). Both engines rank time on the
# same integer microsecond ticks (unix_micros vs epoch_ns//1000 — the
# ticks_us convention), so the tie structure cannot diverge.
@register(
    "events_spearman_drift",
    """
    WITH r AS (
      SELECT event_type AS g,
             2 * rank() OVER (PARTITION BY event_type
                              ORDER BY epoch_ns(ts) // 1000)
               + count(*) OVER (PARTITION BY event_type,
                                epoch_ns(ts) // 1000) - 1 AS rx,
             2 * rank() OVER (PARTITION BY event_type ORDER BY value)
               + count(*) OVER (PARTITION BY event_type, value) - 1
               AS ry
      FROM events
      WHERE ts IS NOT NULL AND value IS NOT NULL
    ),
    a AS (
      SELECT g, count(*)::BIGINT AS n,
             sum(CAST(rx AS DECIMAL(38,0))) AS sx,
             sum(CAST(ry AS DECIMAL(38,0))) AS sy,
             sum(CAST(rx AS DECIMAL(38,0)) * rx) AS sxx,
             sum(CAST(ry AS DECIMAL(38,0)) * ry) AS syy,
             sum(CAST(rx AS DECIMAL(38,0)) * ry) AS sxy
      FROM r GROUP BY 1
    )
    SELECT g AS event_type, n,
           CASE WHEN n >= 2
                 AND CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
                 AND CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                     - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0
                THEN round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                           / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                                  * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                                     - CAST(sy AS DOUBLE)
                                       * CAST(sy AS DOUBLE))), 6)
           END AS rho
    FROM a
    """,
    doc="Spearman rank correlation of event value vs time per event "
        "type — the monotone-drift readout, invariant to any monotone "
        "transform of either axis; tie-adjusted doubled mid-ranks on "
        "the global rank spine, DECIMAL(38,0) moment sums, one final "
        "double division (the oracle windows freely; the engine does "
        "not)",
)
def events_spearman_drift(spark, sf_dir):
    from .operators.grouped import spearman_corr
    from .operators.timeseries import ticks_us

    ev = _t(spark, sf_dir, "events")
    base = ev.select("event_type",
                     ticks_us(ev).alias("x"),
                     F.col("value").alias("y"),
                     F.col("event_id").alias("id"))
    return spearman_corr(base, "event_type", "x", "y", "id")


# --- E219: lag-k autocorrelation of daily volume ------------------------------
@register(
    "events_acf_daily",
    """
    WITH d AS (
      SELECT event_type, (epoch_ns(ts) // 1000) // 86400000000 AS t,
             count(*)::BIGINT AS y
      FROM events GROUP BY 1, 2
    ),
    g AS (
      SELECT event_type, count(*)::BIGINT AS n_days,
             sum(CAST(y AS DECIMAL(38,0))) AS s,
             sum(CAST(y AS DECIMAL(38,0)) * y) AS q
      FROM d GROUP BY 1
    ),
    p AS (
      SELECT l.event_type, k.lag, count(*)::BIGINT AS n_pairs,
             sum(CAST(l.y AS DECIMAL(38,0)) * r.y) AS p,
             sum(CAST(l.y AS DECIMAL(38,0))) AS a,
             sum(CAST(r.y AS DECIMAL(38,0))) AS b
      FROM d l
      CROSS JOIN (VALUES (1), (7)) k(lag)
      JOIN d r ON r.event_type = l.event_type AND r.t = l.t + k.lag
      GROUP BY 1, 2
    )
    SELECT p.event_type, p.lag, g.n_days, p.n_pairs,
           CASE WHEN CAST(g.n_days AS DOUBLE)
                     * (CAST(g.n_days AS DOUBLE) * CAST(g.q AS DOUBLE)
                        - CAST(g.s AS DOUBLE) * CAST(g.s AS DOUBLE)) > 0
                THEN round(
                  (CAST(g.n_days AS DOUBLE) * CAST(g.n_days AS DOUBLE)
                     * CAST(p.p AS DOUBLE)
                   - CAST(g.n_days AS DOUBLE) * CAST(g.s AS DOUBLE)
                     * (CAST(p.a AS DOUBLE) + CAST(p.b AS DOUBLE))
                   + CAST(p.n_pairs AS DOUBLE) * CAST(g.s AS DOUBLE)
                     * CAST(g.s AS DOUBLE))
                  / (CAST(g.n_days AS DOUBLE)
                     * (CAST(g.n_days AS DOUBLE) * CAST(g.q AS DOUBLE)
                        - CAST(g.s AS DOUBLE) * CAST(g.s AS DOUBLE))),
                  6)
           END AS acf
    FROM p JOIN g USING (event_type)
    """,
    doc="lag-1 and lag-7 autocorrelation of daily event volume per "
        "type — the seasonality readout that picks the EWMA alpha and "
        "the anomaly baseline window; exact DECIMAL moment sums on the "
        "expanded estimator (the mean is cleared algebraically), one "
        "final double ratio; the lag pairing is a grid-sized equi-join "
        "on (type, day+lag), UTC pinned (the ticks_us absolute-"
        "bucketing contract)",
)
def events_acf_daily(spark, sf_dir):
    from .operators.timeseries import autocorrelation, ticks_us

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = _t(spark, sf_dir, "events")
    d = F.floor(ticks_us(ev) / F.lit(86_400_000_000)).cast("long")
    daily = (ev.select("event_type", d.alias("t"))
             .groupBy("event_type", "t")
             .agg(F.count("*").cast("long").alias("y")))
    return autocorrelation(daily, ["event_type"], "t", "y", [1, 7])


# --- E220: Benjamini-Hochberg FDR control -------------------------------------
# The multiple-testing guard for every per-segment battery: p-values
# here are the engine's deterministic md5 draws (uniform nulls +
# users %13 planted at p/1024 — a stand-in for "any upstream test's
# p column", the planted-audit convention), so the full decision
# vector is value-checked: the step-up rule rejects THROUGH k* even
# where an earlier rank failed its own inequality.
@register(
    "users_bh_fdr",
    """
    WITH t AS (SELECT DISTINCT user_id FROM events),
    pv AS (
      SELECT user_id,
             CASE WHEN user_id % 13 = 0 THEN u / 1024 ELSE u END AS p
      FROM (
        SELECT user_id,
               ('0x' || substr(md5('bh:' || CAST(user_id AS VARCHAR)),
                               1, 8))::BIGINT / 4294967296.0 AS u
        FROM t)
    ),
    r AS (
      SELECT user_id, p,
             row_number() OVER (ORDER BY p, user_id) AS rank,
             count(*) OVER () AS m
      FROM pv
    ),
    k AS (SELECT coalesce(max(rank), 0) AS kstar
          FROM r WHERE p * m <= rank * 0.05)
    SELECT r.user_id, round(r.p, 6) AS p, r.rank,
           r.rank <= k.kstar AS rejected
    FROM r, k
    """,
    doc="Benjamini-Hochberg step-up FDR control at alpha=0.05 over "
        "per-user p-values (md5-deterministic uniforms, users %13 "
        "planted 1024x smaller): ascending ranks on the global rank "
        "spine, k* = max{i: p*m <= i*alpha} as one broadcast scalar, "
        "the comparison stated in the same multiplication order in "
        "both engines so the boundary cannot flip on an ulp",
)
def users_bh_fdr(spark, sf_dir):
    from .operators.grouped import bh_fdr

    ev = _t(spark, sf_dir, "events")
    users = ev.select("user_id").distinct()
    u = (F.conv(F.substring(
            F.md5(F.concat(F.lit("bh:"),
                           F.col("user_id").cast("string"))), 1, 8),
         16, 10).cast("long") / F.lit(4294967296.0))
    pv = users.select(
        "user_id",
        F.when(F.col("user_id") % 13 == 0, u / 1024).otherwise(u)
        .alias("p"))
    out = bh_fdr(pv, "user_id", "p", alpha=0.05)
    return out.select("user_id", F.round("p", 6).alias("p"),
                      "rank", "rejected")


# --- E221: difference-in-differences uplift ------------------------------------
# The causal companion to the A/B face (E179): treatment = md5 arm
# (the engine-portable split), periods split at 2024-01-16 (ticks —
# absolute, so UTC pinned), and a PLANTED +20% treated-post effect
# (floor(cents/5), exact integers) so the estimator has a real
# interaction to recover while the control arm's own drift nets out.
@register(
    "events_did_uplift",
    """
    WITH units AS (
      SELECT user_id,
             ((epoch_ns(ts) // 1000) >= 1705363200000000) AS post,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)),
                             1, 8))::BIGINT % 2 = 0 AS treat,
             sum(CAST(floor(value * 100) AS BIGINT)) AS cents
      FROM events GROUP BY 1, 2, 3
    ),
    b AS (
      SELECT treat, post,
             cents + CASE WHEN treat AND post
                          THEN CAST(floor(cents / 5.0) AS BIGINT)
                          ELSE 0 END AS cents
      FROM units
    ),
    g AS (
      SELECT
        sum(CASE WHEN NOT treat AND NOT post THEN 1 ELSE 0 END)::BIGINT AS n_c0,
        sum(CASE WHEN NOT treat AND post THEN 1 ELSE 0 END)::BIGINT AS n_c1,
        sum(CASE WHEN treat AND NOT post THEN 1 ELSE 0 END)::BIGINT AS n_t0,
        sum(CASE WHEN treat AND post THEN 1 ELSE 0 END)::BIGINT AS n_t1,
        sum(CASE WHEN NOT treat AND NOT post THEN cents ELSE 0 END)::BIGINT AS s_c0,
        sum(CASE WHEN NOT treat AND post THEN cents ELSE 0 END)::BIGINT AS s_c1,
        sum(CASE WHEN treat AND NOT post THEN cents ELSE 0 END)::BIGINT AS s_t0,
        sum(CASE WHEN treat AND post THEN cents ELSE 0 END)::BIGINT AS s_t1,
        sum(CASE WHEN NOT treat AND NOT post THEN cents * cents ELSE 0 END)::BIGINT AS q_c0,
        sum(CASE WHEN NOT treat AND post THEN cents * cents ELSE 0 END)::BIGINT AS q_c1,
        sum(CASE WHEN treat AND NOT post THEN cents * cents ELSE 0 END)::BIGINT AS q_t0,
        sum(CASE WHEN treat AND post THEN cents * cents ELSE 0 END)::BIGINT AS q_t1
      FROM b
    )
    SELECT n_c0, n_c1, n_t0, n_t1,
           CASE WHEN n_c0 > 0 THEN round(s_c0 * 1.0 / n_c0, 6) END AS mean_c0,
           CASE WHEN n_c1 > 0 THEN round(s_c1 * 1.0 / n_c1, 6) END AS mean_c1,
           CASE WHEN n_t0 > 0 THEN round(s_t0 * 1.0 / n_t0, 6) END AS mean_t0,
           CASE WHEN n_t1 > 0 THEN round(s_t1 * 1.0 / n_t1, 6) END AS mean_t1,
           CASE WHEN n_c0 > 0 AND n_c1 > 0 AND n_t0 > 0 AND n_t1 > 0
                THEN round((s_t1 * 1.0 / n_t1 - s_t0 * 1.0 / n_t0)
                           - (s_c1 * 1.0 / n_c1 - s_c0 * 1.0 / n_c0), 6)
           END AS did,
           CASE WHEN n_c0 >= 2 AND n_c1 >= 2 AND n_t0 >= 2 AND n_t1 >= 2
                 AND ((CAST(q_c0 AS DOUBLE) - CAST(s_c0 AS DOUBLE) * s_c0 / n_c0) / (n_c0 - 1)) / n_c0
                   + ((CAST(q_c1 AS DOUBLE) - CAST(s_c1 AS DOUBLE) * s_c1 / n_c1) / (n_c1 - 1)) / n_c1
                   + ((CAST(q_t0 AS DOUBLE) - CAST(s_t0 AS DOUBLE) * s_t0 / n_t0) / (n_t0 - 1)) / n_t0
                   + ((CAST(q_t1 AS DOUBLE) - CAST(s_t1 AS DOUBLE) * s_t1 / n_t1) / (n_t1 - 1)) / n_t1 > 0
                THEN round(((s_t1 * 1.0 / n_t1 - s_t0 * 1.0 / n_t0)
                            - (s_c1 * 1.0 / n_c1 - s_c0 * 1.0 / n_c0))
                           / sqrt(
                  ((CAST(q_c0 AS DOUBLE) - CAST(s_c0 AS DOUBLE) * s_c0 / n_c0) / (n_c0 - 1)) / n_c0
                  + ((CAST(q_c1 AS DOUBLE) - CAST(s_c1 AS DOUBLE) * s_c1 / n_c1) / (n_c1 - 1)) / n_c1
                  + ((CAST(q_t0 AS DOUBLE) - CAST(s_t0 AS DOUBLE) * s_t0 / n_t0) / (n_t0 - 1)) / n_t0
                  + ((CAST(q_t1 AS DOUBLE) - CAST(s_t1 AS DOUBLE) * s_t1 / n_t1) / (n_t1 - 1)) / n_t1), 6)
           END AS z
    FROM g
    """,
    doc="difference-in-differences with md5-arm treatment, a "
        "2024-01-16 period cut on absolute ticks (UTC pinned), and a "
        "planted +20% treated-post effect in exact integer cents: "
        "per-(user, period) units from one corpus aggregate, then ONE "
        "conditional-sum pass for all four cells (n, Sx, Sxx — "
        "map-side combinable), Welch-form z over the cells",
)
def events_did_uplift(spark, sf_dir):
    from .operators.grouped import diff_in_diff
    from .operators.timeseries import ticks_us

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = _t(spark, sf_dir, "events")
    units = (ev.groupBy(
        "user_id",
        (ticks_us(ev) >= F.lit(1705363200000000)).alias("post"),
        (F.conv(F.substring(F.md5(F.col("user_id").cast("string")),
                            1, 8), 16, 10).cast("long") % 2 == 0)
        .alias("treat"))
        .agg(F.sum(F.floor(F.col("value") * 100).cast("long"))
             .alias("cents")))
    boosted = units.select(
        "treat", "post",
        (F.col("cents")
         + F.when(F.col("treat") & F.col("post"),
                  F.floor(F.col("cents") / 5.0).cast("long"))
         .otherwise(F.lit(0))).alias("cents"))
    return diff_in_diff(boosted, "treat", "post", "cents")


# --- E225: Adamic-Adar link prediction -----------------------------------------
@register(
    "events_link_prediction",
    """
    WITH ui AS (
      SELECT user_id, TRY_CAST(json_extract_string(props, '$.k')
                               AS BIGINT) AS item,
             count(*) AS n
      FROM events
      WHERE TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)
            IS NOT NULL
      GROUP BY 1, 2
    ),
    capped AS (
      SELECT user_id, item FROM (
        SELECT user_id, item,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY n DESC, item) AS rk
        FROM ui)
      WHERE rk <= 20
    ),
    co AS (
      SELECT a.item AS item_a, b.item AS item_b, count(*) AS n_co
      FROM capped a
      JOIN capped b ON a.user_id = b.user_id AND a.item < b.item
      GROUP BY 1, 2
    ),
    edges AS (SELECT item_a, item_b FROM co WHERE n_co >= 2),
    sym AS (
      SELECT item_a AS u, item_b AS v FROM edges
      UNION ALL
      SELECT item_b, item_a FROM edges
    ),
    deg AS (SELECT u, count(*)::BIGINT AS d FROM sym GROUP BY 1),
    mid AS (
      SELECT sym.u AS z, sym.v AS nb,
             CAST(round(1000000.0 / ln(deg.d)) AS BIGINT) AS t
      FROM sym JOIN deg ON deg.u = sym.u
      WHERE deg.d >= 2 AND deg.d <= 64
    ),
    scores AS (
      SELECT a.nb AS item_a, b.nb AS item_b,
             count(*)::BIGINT AS n_common, sum(a.t)::BIGINT AS aa
      FROM mid a JOIN mid b ON a.z = b.z AND a.nb < b.nb
      GROUP BY 1, 2
    )
    SELECT item_a, item_b, n_common, round(aa / 1e6, 6) AS aa_score
    FROM scores s
    WHERE NOT EXISTS (SELECT 1 FROM edges e
                      WHERE e.item_a = s.item_a
                        AND e.item_b = s.item_b)
    ORDER BY aa DESC, item_a, item_b
    LIMIT 20
    """,
    doc="Adamic-Adar link prediction on the capped co-occurrence "
        "graph: top-20 non-adjacent pairs by sum of 1/ln(common-"
        "neighbor degree), each middle node's contribution quantized "
        "to integer micros so the per-pair sum and the top-k order "
        "are exact BIGINTs; hub middles (deg > 64) dropped — the "
        "df-cap treatment for the deg-squared wedge fan-out",
)
def events_link_prediction(spark, sf_dir):
    from .operators.graph import adamic_adar

    ev = (_t(spark, sf_dir, "events")
          .select("user_id",
                  F.get_json_object("props", "$.k").try_cast("long")
                  .alias("item")))
    return adamic_adar(ev)


# --- E226: Hamilton largest-remainder quota allocation --------------------------
@register(
    "corpus_quota_allocation",
    """
    WITH w AS (
      SELECT source, sum(n_chars)::BIGINT AS total_chars
      FROM documents GROUP BY 1
    ),
    tot AS (SELECT sum(total_chars)::BIGINT AS W FROM w),
    b AS (
      SELECT source, total_chars,
             CASE WHEN W > 0
                  THEN (100000 * total_chars) // W END AS base,
             CASE WHEN W > 0
                  THEN (100000 * total_chars) % W END AS rem
      FROM w, tot
    ),
    l AS (SELECT 100000 - coalesce(sum(base), 0) AS R FROM b),
    r AS (
      SELECT source, total_chars, base,
             row_number() OVER (ORDER BY rem DESC, source) AS rk
      FROM b
    )
    SELECT r.source, r.total_chars,
           CASE WHEN r.base IS NOT NULL
                THEN (r.base + CASE WHEN r.rk <= l.R THEN 1 ELSE 0
                               END)::BIGINT
           END AS quota
    FROM r, l
    """,
    doc="Hamilton largest-remainder apportionment of a 100k-example "
        "budget across sources proportional to total characters: "
        "base = (total*w) div W and remainder = (total*w) mod W are "
        "exact BIGINT ops (no floats anywhere), leftover seats go to "
        "the largest remainders ranked on the global spine — the "
        "allocation sums to the budget EXACTLY, the property naive "
        "per-group rounding loses",
)
def corpus_quota_allocation(spark, sf_dir):
    from .operators.selection import apportion_quota

    docs = _t(spark, sf_dir, "documents")
    w = (docs.groupBy("source")
         .agg(F.sum("n_chars").cast("long").alias("total_chars")))
    return apportion_quota(w, "source", "total_chars", 100_000)


# --- E227: ORC round-trip sink/source -------------------------------------------
# Format breadth beside the parquet/CSV/JSONL paths: write a
# partitioned ORC dataset (Spark's second built-in columnar format),
# read it back through partition discovery, and aggregate — the
# oracle computes the same aggregate straight from the parquet view,
# so parity proves WRITE→DISCOVER→READ fidelity (types, partition
# values, row completeness). Cents are exact BIGINTs so the checksum
# can't hide a lossy round trip.
@register(
    "events_orc_roundtrip",
    """
    SELECT event_type, count(*)::BIGINT AS n_events,
           sum(CAST(floor(value * 100) AS BIGINT))::BIGINT AS cents,
           min(event_id)::BIGINT AS min_id,
           max(event_id)::BIGINT AS max_id
    FROM events GROUP BY 1
    """,
    doc="ORC round-trip: write events partitioned by event_type to an "
        "ORC sink (overwrite-idempotent fixed path), read back through "
        "partition discovery, aggregate counts + exact integer cents + "
        "id range per partition; the oracle aggregates the original "
        "parquet, so parity IS the fidelity proof for the second "
        "built-in columnar format",
)
def events_orc_roundtrip(spark, sf_dir):
    import os

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type",
        F.floor(F.col("value") * 100).cast("long").alias("cents"))
    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    path = os.path.join("/tmp", "spark_graft_orc_roundtrip", tag)
    (ev.write.mode("overwrite").partitionBy("event_type").orc(path))
    back = spark.read.orc(path)
    return (back.groupBy("event_type")
            .agg(F.count("*").cast("long").alias("n_events"),
                 F.sum("cents").cast("long").alias("cents"),
                 F.min("event_id").cast("long").alias("min_id"),
                 F.max("event_id").cast("long").alias("max_id")))


# --- E228: HITS authorities on the user-item incidence ---------------------------
@register(
    "events_hits_authority",
    """
    WITH ui AS (
      SELECT user_id, TRY_CAST(json_extract_string(props, '$.k')
                               AS BIGINT) AS item,
             count(*) AS n
      FROM events
      WHERE TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)
            IS NOT NULL
      GROUP BY 1, 2
    ),
    capped AS (
      SELECT user_id, item FROM (
        SELECT user_id, item,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY n DESC, item) AS rk
        FROM ui)
      WHERE rk <= 20
    ),
    inc AS (SELECT user_id AS u, item AS i FROM capped),
    h0 AS (SELECT DISTINCT u, CAST(1 AS HUGEINT) AS h FROM inc),
    a1 AS (SELECT i, sum(h) AS a FROM inc JOIN h0 USING (u) GROUP BY 1),
    h1 AS (SELECT u, sum(a) AS h FROM inc JOIN a1 USING (i) GROUP BY 1),
    a2 AS (SELECT i, sum(h) AS a FROM inc JOIN h1 USING (u) GROUP BY 1),
    h2 AS (SELECT u, sum(a) AS h FROM inc JOIN a2 USING (i) GROUP BY 1),
    a3 AS (SELECT i, sum(h) AS a FROM inc JOIN h2 USING (u) GROUP BY 1),
    m AS (SELECT max(a) AS m FROM a3)
    SELECT i AS item,
           row_number() OVER (ORDER BY a DESC, i) AS rank,
           round(CAST(a AS DOUBLE) / CAST(m AS DOUBLE), 6) AS authority
    FROM a3, m
    ORDER BY a DESC, i
    LIMIT 20
    """,
    doc="HITS top-20 authority items on the capped user-item "
        "incidence: three alternating double-rounds of PURE integer "
        "grouped sums (0/1 incidence means no products — DECIMAL(38,0) "
        "/ HUGEINT exact, overflow-guarded), top-k ordered on the "
        "exact integer authority, ONE final double division "
        "normalizing to the max; the bipartite companion to the "
        "item-item PageRank face",
)
def events_hits_authority(spark, sf_dir):
    from .operators.graph import hits_scores

    ev = (_t(spark, sf_dir, "events")
          .select("user_id",
                  F.get_json_object("props", "$.k").try_cast("long")
                  .alias("item")))
    return hits_scores(ev)


# --- E229: isotonic calibration (minimax closed form) ----------------------------
@register(
    "events_isotonic_purchase",
    """
    WITH g AS (
      SELECT CAST(floor(value / 10) AS BIGINT) AS bucket,
             count(*)::BIGINT AS n,
             sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
                 END)::BIGINT AS s
      FROM events GROUP BY 1
    ),
    iv AS (
      SELECT j.bucket AS j, k.bucket AS k,
             CAST(sum(m.s) AS DOUBLE) / CAST(sum(m.n) AS DOUBLE)
               AS avg_jk
      FROM g j
      JOIN g k ON j.bucket <= k.bucket
      JOIN g m ON m.bucket >= j.bucket AND m.bucket <= k.bucket
      GROUP BY 1, 2
    ),
    inner_min AS (
      SELECT i.bucket AS i, iv.j, min(iv.avg_jk) AS m
      FROM iv JOIN g i ON i.bucket >= iv.j AND i.bucket <= iv.k
      GROUP BY 1, 2
    ),
    fit AS (SELECT i, max(m) AS f FROM inner_min GROUP BY 1)
    SELECT g.bucket, g.n,
           round(g.s * 1.0 / g.n, 6) AS rate,
           round(fit.f, 6) AS fitted
    FROM g JOIN fit ON fit.i = g.bucket
    """,
    doc="isotonic calibration of purchase rate vs value decile-bucket "
        "via the PAV minimax CLOSED FORM fitted(i) = max_{j<=i} "
        "min_{k>=i} avg(j..k) — no sequential pooling loop, three "
        "grid-bounded joins both engines run verbatim (O(B^3) on ~50 "
        "buckets BY DESIGN — the corpus-scale work is the one "
        "aggregate building the grid); interval averages are ratios "
        "of exact BIGINT sums",
)
def events_isotonic_purchase(spark, sf_dir):
    from .operators.grouped import isotonic_fit

    ev = _t(spark, sf_dir, "events")
    g = (ev.groupBy(F.floor(F.col("value") / 10).cast("long")
                    .alias("bucket"))
         .agg(F.count("*").cast("long").alias("n"),
              F.sum(F.when(F.col("event_type") == "purchase", 1)
                    .otherwise(0)).cast("long").alias("s")))
    return isotonic_fit(g, "bucket", "n", "s")


# --- E230: semi-supervised label propagation -------------------------------------
def _lpa_oracle_sql(rounds: int = 3) -> str:
    """Unrolled clamped-seed label-propagation oracle: per round, one
    vote join + explicit (max count, min label) winner election —
    never an engine's unspecified arg_max tie behavior."""
    ctes = []
    prev = "l0"
    for r in range(1, rounds + 1):
        ctes.append(f"""v{r} AS (
      SELECT s.item_a AS i, l.l AS nl, count(*) AS c
      FROM sym s JOIN {prev} l
        ON l.i = s.item_b AND l.l IS NOT NULL
      GROUP BY 1, 2
    ),
    b{r} AS (SELECT i, max(c) AS bc FROM v{r} GROUP BY 1),
    w{r} AS (
      SELECT v{r}.i, min(nl) AS wl
      FROM v{r} JOIN b{r} ON b{r}.i = v{r}.i AND v{r}.c = b{r}.bc
      GROUP BY 1
    ),
    l{r} AS (
      SELECT p.i,
             CASE WHEN p.is_seed THEN p.l
                  ELSE coalesce(w{r}.wl, p.l) END AS l,
             p.is_seed
      FROM {prev} p LEFT JOIN w{r} ON w{r}.i = p.i
    )""")
        prev = f"l{r}"
    joined = ",\n    ".join(ctes)
    return f"""
    WITH ui AS (
      SELECT user_id, TRY_CAST(json_extract_string(props, '$.k')
                               AS BIGINT) AS item,
             count(*) AS n
      FROM events
      WHERE TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)
            IS NOT NULL
      GROUP BY 1, 2
    ),
    capped AS (
      SELECT user_id, item FROM (
        SELECT user_id, item,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY n DESC, item) AS rk
        FROM ui)
      WHERE rk <= 20
    ),
    co AS (
      SELECT a.item AS item_a, b.item AS item_b, count(*) AS n_co
      FROM capped a
      JOIN capped b ON a.user_id = b.user_id AND a.item < b.item
      GROUP BY 1, 2
    ),
    edges AS (SELECT item_a, item_b FROM co WHERE n_co >= 2),
    sym AS (
      SELECT item_a, item_b FROM edges
      UNION ALL
      SELECT item_b, item_a FROM edges
    ),
    nodes AS (SELECT DISTINCT item_a AS i FROM sym),
    l0 AS (
      SELECT i, CASE WHEN i % 7 = 0 THEN i % 5 END AS l,
             i % 7 = 0 AS is_seed
      FROM nodes
    ),
    {joined}
    SELECT i AS item, l AS label, is_seed FROM {prev}
    """


@register(
    "events_label_propagation",
    _lpa_oracle_sql(rounds=3),
    doc="clamped-seed label propagation on the capped co-occurrence "
        "graph: items %7 seed label item%5, three synchronous rounds "
        "of integer majority votes with (max count, min label) "
        "winner election stated explicitly in both engines; each "
        "round is one edge-vs-labels join + two grid aggregates, "
        "labels checkpointed per round",
)
def events_label_propagation(spark, sf_dir):
    from .operators.graph import label_propagation

    ev = (_t(spark, sf_dir, "events")
          .select("user_id",
                  F.get_json_object("props", "$.k").try_cast("long")
                  .alias("item")))
    return label_propagation(ev, rounds=3)


# --- E231: one-way ANOVA (value by event type) ------------------------------------
@register(
    "events_anova_value",
    """
    WITH per AS (
      SELECT event_type AS g, count(*)::BIGINT AS n,
             sum(CAST(floor(value * 100) AS BIGINT))::BIGINT AS s,
             sum(CAST(floor(value * 100) AS BIGINT)
                 * CAST(floor(value * 100) AS BIGINT))::BIGINT AS q
      FROM events WHERE value IS NOT NULL GROUP BY 1
    ),
    a AS (
      SELECT sum(n)::BIGINT AS n, count(*)::BIGINT AS k,
             sum(s)::BIGINT AS ts, sum(q)::BIGINT AS tq,
             sum(CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                 / CAST(n AS DOUBLE)) AS sg
      FROM per
    )
    SELECT n, k,
           CASE WHEN k >= 2 AND n > k
                 AND (CAST(tq AS DOUBLE)
                      - CAST(ts AS DOUBLE) * CAST(ts AS DOUBLE)
                        / CAST(n AS DOUBLE))
                   - (sg - CAST(ts AS DOUBLE) * CAST(ts AS DOUBLE)
                           / CAST(n AS DOUBLE)) > 0
                THEN round(
                  ((sg - CAST(ts AS DOUBLE) * CAST(ts AS DOUBLE)
                         / CAST(n AS DOUBLE)) / (k - 1))
                  / (((CAST(tq AS DOUBLE)
                       - CAST(ts AS DOUBLE) * CAST(ts AS DOUBLE)
                         / CAST(n AS DOUBLE))
                      - (sg - CAST(ts AS DOUBLE) * CAST(ts AS DOUBLE)
                              / CAST(n AS DOUBLE))) / (n - k)), 6)
           END AS f_stat,
           CASE WHEN k >= 2 AND n > k
                 AND (CAST(tq AS DOUBLE)
                      - CAST(ts AS DOUBLE) * CAST(ts AS DOUBLE)
                        / CAST(n AS DOUBLE))
                   - (sg - CAST(ts AS DOUBLE) * CAST(ts AS DOUBLE)
                           / CAST(n AS DOUBLE)) > 0
                 AND CAST(tq AS DOUBLE)
                     - CAST(ts AS DOUBLE) * CAST(ts AS DOUBLE)
                       / CAST(n AS DOUBLE) > 0
                THEN round((sg - CAST(ts AS DOUBLE) * CAST(ts AS DOUBLE)
                                 / CAST(n AS DOUBLE))
                           / (CAST(tq AS DOUBLE)
                              - CAST(ts AS DOUBLE) * CAST(ts AS DOUBLE)
                                / CAST(n AS DOUBLE)), 6)
           END AS eta_sq
    FROM a
    """,
    doc="one-way ANOVA of event value (cents) across the five event "
        "types: per-group (n, Sx, Sxx) exact BIGINTs from one hash "
        "aggregate, sums of squares expanded algebraically so doubles "
        "appear only in the final k-row expression; F plus the "
        "readable eta-squared effect size — the k-group companion to "
        "the Welch-z and rank-sum faces",
)
def events_anova_value(spark, sf_dir):
    from .operators.grouped import oneway_anova

    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.col("value") * 100).cast("long").alias("cents"))
    return oneway_anova(ev, "event_type", "cents")


# --- E232: lead-lag cross-correlation (view -> purchase) ---------------------------
@register(
    "events_ccf_view_purchase",
    """
    WITH dx AS (
      SELECT (epoch_ns(ts) // 1000) // 86400000000 AS t,
             count(*)::BIGINT AS x
      FROM events WHERE event_type = 'view' GROUP BY 1
    ),
    dy AS (
      SELECT (epoch_ns(ts) // 1000) // 86400000000 AS t,
             count(*)::BIGINT AS y
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    xy AS (SELECT dx.t, dx.x, dy.y FROM dx JOIN dy USING (t)),
    g AS (
      SELECT count(*)::BIGINT AS n,
             sum(CAST(x AS DECIMAL(38,0))) AS sx,
             sum(CAST(y AS DECIMAL(38,0))) AS sy,
             sum(CAST(x AS DECIMAL(38,0)) * x) AS qx,
             sum(CAST(y AS DECIMAL(38,0)) * y) AS qy
      FROM xy
    ),
    p AS (
      SELECT k.lag, count(*)::BIGINT AS n_pairs,
             sum(CAST(l.x AS DECIMAL(38,0)) * r.y) AS p,
             sum(CAST(l.x AS DECIMAL(38,0))) AS a,
             sum(CAST(r.y AS DECIMAL(38,0))) AS b
      FROM xy l
      CROSS JOIN (VALUES (-7), (-3), (-1), (1), (3), (7)) k(lag)
      JOIN xy r ON r.t = l.t + k.lag
      GROUP BY 1
    )
    SELECT p.lag, p.n_pairs,
           CASE WHEN CAST(g.n AS DOUBLE) * CAST(g.qx AS DOUBLE)
                     - CAST(g.sx AS DOUBLE) * CAST(g.sx AS DOUBLE) > 0
                 AND CAST(g.n AS DOUBLE) * CAST(g.qy AS DOUBLE)
                     - CAST(g.sy AS DOUBLE) * CAST(g.sy AS DOUBLE) > 0
                THEN round(
                  (CAST(g.n AS DOUBLE) * CAST(g.n AS DOUBLE)
                     * CAST(p.p AS DOUBLE)
                   - CAST(g.n AS DOUBLE) * CAST(g.sx AS DOUBLE)
                     * CAST(p.b AS DOUBLE)
                   - CAST(g.n AS DOUBLE) * CAST(g.sy AS DOUBLE)
                     * CAST(p.a AS DOUBLE)
                   + CAST(p.n_pairs AS DOUBLE) * CAST(g.sx AS DOUBLE)
                     * CAST(g.sy AS DOUBLE))
                  / (CAST(g.n AS DOUBLE)
                     * sqrt((CAST(g.n AS DOUBLE) * CAST(g.qx AS DOUBLE)
                             - CAST(g.sx AS DOUBLE)
                               * CAST(g.sx AS DOUBLE))
                            * (CAST(g.n AS DOUBLE)
                               * CAST(g.qy AS DOUBLE)
                               - CAST(g.sy AS DOUBLE)
                                 * CAST(g.sy AS DOUBLE)))), 6)
           END AS ccf
    FROM p, g
    """,
    doc="lead-lag cross-correlation of daily view volume vs purchase "
        "volume at lags +-1/3/7 — a peak at positive lag says views "
        "LEAD purchases by that many days (funnel latency from "
        "aggregates alone); the ACF face's exact DECIMAL expansion "
        "with both series inner-joined to one observation grid, UTC "
        "pinned",
)
def events_ccf_view_purchase(spark, sf_dir):
    from .operators.timeseries import cross_correlation, ticks_us

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = _t(spark, sf_dir, "events")
    d = F.floor(ticks_us(ev) / F.lit(86_400_000_000)).cast("long")
    def daily(tp):
        return (ev.where(F.col("event_type") == tp)
                .select(d.alias("t"))
                .groupBy("t").agg(F.count("*").cast("long").alias("y")))
    return cross_correlation(daily("view"), daily("purchase"),
                             "t", "y", [-7, -3, -1, 1, 3, 7])


# --- E233: time-weighted average value per event type -------------------------------
@register(
    "events_twap_value",
    """
    WITH base AS (
      SELECT event_type AS g, epoch_ns(ts) // 1000 AS t,
             CAST(floor(value * 100) AS BIGINT) AS v, event_id AS id
      FROM events
    ),
    stepped AS (
      SELECT g, t, v,
             lead(t) OVER (PARTITION BY g ORDER BY t, id) AS tn
      FROM base
    )
    SELECT g AS event_type, count(*)::BIGINT AS n_events,
           (max(t) - min(t))::BIGINT AS span_us,
           CASE WHEN max(t) - min(t) > 0
                THEN round(CAST(sum(CASE WHEN tn IS NOT NULL
                                         THEN CAST((tn - t) AS
                                              DECIMAL(38,0)) * v
                                         ELSE 0 END) AS DOUBLE)
                           / CAST(max(t) - min(t) AS DOUBLE), 6)
           END AS twa
    FROM stepped GROUP BY 1
    """,
    doc="time-weighted average value (cents) per event type: each "
        "observation holds until the next (right-open step "
        "convention), interval widths in exact integer microseconds x "
        "integer cents accumulated as DECIMAL(38,0), one final double "
        "division — the average a plain mean gets wrong under uneven "
        "arrivals; ONE key-partitioned lag window + one hash "
        "aggregate",
)
def events_twap_value(spark, sf_dir):
    from .operators.timeseries import ticks_us, time_weighted_average

    ev = _t(spark, sf_dir, "events")
    base = ev.select("event_type",
                     ticks_us(ev).alias("t"),
                     F.floor(F.col("value") * 100).cast("long")
                     .alias("cents"),
                     F.col("event_id").alias("id"))
    return time_weighted_average(base, "event_type", "t", "cents", "id")
