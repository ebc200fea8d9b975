"""operators/ranking.py: the scalable global rank/ntile must agree
EXACTLY with the single-reducer window functions it replaces."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from big_data_hw_23_24_spark.operators.ranking import (
    global_ntile,
    global_rank,
)
from big_data_hw_23_24_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


def _range_parts(df, cols):
    """Partitions a range repartition of ``df`` on ``cols`` gets under
    the session's current confs."""
    return df.repartitionByRange(*cols).rdd.getNumPartitions()


def test_global_rank_matches_window_row_number(spark, shuffle_partitions):
    c = load_table(spark, SF, "customer").select(
        "c_custkey", F.col("c_acctbal").alias("bal"))
    shuffle_partitions(7)
    assert _range_parts(c, ["bal", "c_custkey"]) == 7
    got = {r.c_custkey: r.rank for r in
           global_rank(c, ["bal", "c_custkey"]).collect()}
    w = Window.orderBy("bal", "c_custkey")
    want = {r.c_custkey: r.rank for r in
            c.select("c_custkey",
                     F.row_number().over(w).alias("rank")).collect()}
    assert got == want


@pytest.mark.parametrize("n,parts", [(10, 7), (3, 2), (4, 32)])
def test_global_ntile_matches_window_ntile(spark, shuffle_partitions, n,
                                           parts):
    c = load_table(spark, SF, "customer").select(
        "c_custkey", F.col("c_acctbal").alias("bal"))
    shuffle_partitions(parts)
    assert _range_parts(c, ["bal", "c_custkey"]) == parts
    got = {r.c_custkey: r.t for r in
           global_ntile(c, n, ["bal", "c_custkey"], out_col="t").collect()}
    w = Window.orderBy("bal", "c_custkey")
    want = {r.c_custkey: r.t for r in
            c.select("c_custkey", F.ntile(n).over(w).alias("t")).collect()}
    assert got == want


def test_global_rank_broadcast_offset_path_many_partitions(
        spark, shuffle_partitions):
    """Above 256 range partitions the offsets ship as a broadcast
    table, not a literal map — same ranks either way. The 1,500
    sf0.01 customers fill all 300 partitions (sf0.001's 150 rows could
    never make more than 150)."""
    from big_data_hw_23_24_spark.plans.inspect import explain_str

    sf01 = os.path.join(os.path.dirname(SF), "sf0.01")
    c = load_table(spark, sf01, "customer").select(
        "c_custkey", F.col("c_acctbal").alias("bal"))
    shuffle_partitions(300)
    ranked = global_rank(c, ["bal", "c_custkey"])
    assert "BroadcastHashJoin" in explain_str(ranked, "simple")
    got = {r.c_custkey: r.rank for r in ranked.collect()}
    w = Window.orderBy("bal", "c_custkey")
    want = {r.c_custkey: r.rank for r in
            c.select("c_custkey",
                     F.row_number().over(w).alias("rank")).collect()}
    assert got == want


def test_global_ntile_fewer_rows_than_buckets(spark):
    df = spark.createDataFrame([(i,) for i in range(3)], "x int")
    got = sorted((r.x, r.t) for r in
                 global_ntile(df, 10, ["x"], out_col="t").collect())
    # ntile semantics: first N buckets take one row each
    assert got == [(0, 1), (1, 2), (2, 3)]


def test_global_ntile_empty_input(spark):
    df = spark.createDataFrame([], "x int")
    assert global_ntile(df, 10, ["x"], out_col="t").count() == 0


def test_global_rank_plan_has_no_single_partition_exchange(spark):
    c = load_table(spark, SF, "customer").select(
        "c_custkey", F.col("c_acctbal").alias("bal"))
    plan = global_rank(c, ["bal", "c_custkey"])._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange SinglePartition" not in plan
    assert "Window" in plan  # the pid-partitioned numbering window


# --- RFM segmentation (r8) -------------------------------------------------------

def test_rfm_segments_buckets_and_cents(spark):
    """Hand-checkable grid on 10 users: exact ntile boundaries (first
    N mod n buckets take the extra row), integer-cents monetary, and
    the concatenated segment label."""
    from big_data_hw_23_24_spark.operators.grouped import rfm_segments

    rows = []
    for u in range(10):
        # user u: u+1 events at ts=u*100.., value 1.005 each
        for i in range(u + 1):
            rows.append((u * 100 + i, u * 1000 + i, u, 1.005))
    ev = spark.createDataFrame(
        rows, "event_id long, ts long, user_id long, value double")
    out = {r.user_id: r for r in rfm_segments(ev).collect()}
    assert len(out) == 10
    # frequency of user u is u+1; cents: floor(1.005*100)=100 per event
    for u in range(10):
        assert out[u].frequency == u + 1
        assert out[u].monetary_cents == 100 * (u + 1)
    # 10 users into 5 tiles -> exactly 2 per bucket on every axis;
    # all three axes order users identically here
    for u in range(10):
        b = u // 2 + 1
        assert (out[u].r_bucket, out[u].f_bucket, out[u].m_bucket) \
            == (b, b, b)
        assert out[u].segment == f"{b}{b}{b}"
