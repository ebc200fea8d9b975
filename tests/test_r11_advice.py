"""Regression pins for the round-11 advice findings: each test fails on
the pre-fix behavior (silent closure truncation, double-precision
offset collapse, per-consumer corpus re-scans, old-snapshot re-tokenize
claim, empty-KMV-sketch raise)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_hierarchy_rollup_rejects_keys_past_depth(spark, monkeypatch):
    """A key ≥ 10^(max_depth+1) has ancestors the unrolled closure
    cannot reach; the poisoned-expression guard must raise instead of
    silently dropping them (pre-fix: 10^5 at depth 3 lost its root and
    reported 10^5 div 10^3 as a root)."""
    from big_data_hw_23_24_spark.operators import graph
    from big_data_hw_23_24_spark.operators.graph import hierarchy_rollup

    monkeypatch.setattr(graph, "HIERARCHY_MAX_DEPTH", 3)
    bad = spark.createDataFrame([(10 ** 5, 1.0)], "k long, v double")
    with pytest.raises(Exception, match="exceeds max_depth"):
        hierarchy_rollup(bad, "k", "v").collect()
    # boundary: the deepest representable key still passes
    edge = spark.createDataFrame([(10 ** 4 - 1, 1.0)], "k long, v double")
    got = {r.node for r in
           hierarchy_rollup(edge, "k", "v").collect()}
    assert got == {9999, 999, 99, 9}


def test_skyline_fallback_keeps_native_y_type(spark, shuffle_partitions):
    """The >256-partition offset path must carry y's NATIVE int64: a
    double offset rounds 2^53+1 to 2^53+2, flipping the strict
    dominance comparison (the two paths would disagree). ~4,000
    dominated filler rows fill 300 range partitions and keep the four
    planted points in different ones, so each compares against the
    prefix max carried in from earlier partitions."""
    from big_data_hw_23_24_spark.operators.ranking import skyline_2d
    from big_data_hw_23_24_spark.plans.inspect import explain_str

    big = 2 ** 53
    planted = [(1000, big + 2, 1), (2000, big + 1, 2), (3000, big + 3, 3),
               (0, big, 4)]
    fillers = [(x, 0, 10_000 + x) for x in range(1, 4000) if x % 1000]
    df = spark.createDataFrame(planted + fillers, "x long, y long, id long")
    shuffle_partitions(300)
    sky = skyline_2d(df, "x", "y", "id")
    assert "BroadcastHashJoin" in explain_str(sky, "simple")
    got = sorted((r.x, r.id) for r in sky.collect())
    # (2000, big+1) is dominated by (1000, big+2); under float64
    # offsets both render as the same double and the strict >
    # comparison flips
    assert got == [(0, 4), (1000, 1), (3000, 3)]


def test_build_query_index_stats_is_literal(spark):
    """stats must be a collected 1-row literal relation — a lazy
    aggregate makes every retriever consuming the shared index re-scan
    and re-tokenize the corpus for one row (the 'shared single index'
    claim of the hybrid path)."""
    from big_data_hw_23_24_spark.operators.retrieval import (
        build_query_index)

    docs = spark.createDataFrame(
        [(1, "spark join fast"), (2, "stream window")],
        "doc_id long, text string")
    qs = spark.createDataFrame([(1, ["spark"])],
                               "qid int, terms array<string>")
    _, stats, _ = build_query_index(docs, qs)
    plan = stats._jdf.queryExecution().executedPlan().toString()
    assert "Scan" not in plan, plan  # local relation, no corpus read
    row = stats.collect()[0]
    assert (row["_n"], row["_sumdl"]) == (2, 5)


def test_incremental_stats_accepts_maintained_base(spark):
    """The IVM contract: the previously-maintained stats table is the
    base, and old text is never re-tokenized; a doc moving groups and a
    new doc land in the new snapshot's stats."""
    from big_data_hw_23_24_spark.operators.diff import incremental_stats

    old = spark.createDataFrame(
        [(1, "a", "x y"), (2, "a", "z"), (3, "b", "w w")],
        "doc_id long, source string, text string")
    new = spark.createDataFrame(
        [(1, "a", "x y"), (2, "b", "z"), (4, "b", "q")],
        "doc_id long, source string, text string")
    maintained = old.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).alias("n_tokens"))
    ivm = {(r.source, r.n_docs, r.n_tokens)
           for r in incremental_stats(old, new, maintained).collect()}
    assert ivm == {("a", 1, 2), ("b", 2, 2)}


def test_kmv_empty_sketch_is_a_noop(spark):
    """A legitimately empty sketch must estimate to zero rows — not
    raise (pre-fix: first() returning no row lost
    k and raised even though the k column exists). k rides the schema
    METADATA so resolution costs no driver job and survives emptiness."""
    from big_data_hw_23_24_spark.operators.frequent import (
        kmv_estimate, kmv_sketch)

    ev = spark.createDataFrame([("g", i) for i in range(100)],
                               "grp string, item long")
    sk = kmv_sketch(ev, "item", "grp", k=16)
    assert sk.schema["k"].metadata == {"kmv_k": 16}
    empty = sk.where(F.lit(False))
    assert kmv_estimate(empty).count() == 0
