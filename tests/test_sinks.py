"""Sink round-trips: parquet (partitioned), CSV, JSON — written results
must read back value-identical, and a partitioned write must produce a
prunable hive layout."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _pricing(spark):
    from big_data_hw_23_24_spark.queries import _REGISTRY, _ensure_loaded

    _ensure_loaded()
    return _REGISTRY["pricing_summary"].spark_fn(spark, SF)


def _as_sets(df):
    return {tuple(r) for r in df.collect()}


def test_parquet_partitioned_roundtrip_and_pruning(spark, tmp_path):
    from big_data_hw_23_24_spark.sources.sinks import write_parquet

    out = str(tmp_path / "pq")
    res = _pricing(spark)
    write_parquet(res, out, partition_by=["l_returnflag"], coalesce=1)
    # hive layout present → downstream partition pruning
    assert any(d.startswith("l_returnflag=") for d in os.listdir(out))
    back = spark.read.parquet(out).select(*res.columns)
    assert _as_sets(back) == _as_sets(res)
    # pruned scan reads only the one partition directory
    plan = (back.where(F.col("l_returnflag") == "A")
            ._jdf.queryExecution().executedPlan().toString())
    assert "PartitionFilters: [isnotnull(l_returnflag" in plan, plan


def test_csv_roundtrip(spark, tmp_path):
    from big_data_hw_23_24_spark.sources.sinks import write_csv

    out = str(tmp_path / "csv")
    res = _pricing(spark)
    write_csv(res, out, coalesce=1)
    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                       for f in res.schema.fields)
    back = (spark.read.schema(schema).option("header", True)
            .option("sep", ",").csv(out)).select(*res.columns)
    assert _as_sets(back) == _as_sets(res)


def test_json_roundtrip(spark, tmp_path):
    from big_data_hw_23_24_spark.sources.sinks import write_json

    out = str(tmp_path / "js")
    res = _pricing(spark)
    write_json(res, out, coalesce=1)
    back = (spark.read.schema(res.schema).json(out)).select(*res.columns)
    assert _as_sets(back) == _as_sets(res)


def test_bucketed_tables_join_without_shuffle(spark, tmp_path):
    """Two tables bucketed identically on the join key must sort-merge
    join with ZERO exchanges — the write-time shuffle replaces every
    read-time one (the 100 TB repeated-join pattern)."""
    from big_data_hw_23_24_spark.sources.sinks import write_bucketed_table
    from big_data_hw_23_24_spark.sources.tables import load_table

    orders = load_table(spark, SF, "orders") \
        .select("o_orderkey", "o_custkey", "o_totalprice")
    li = load_table(spark, SF, "lineitem") \
        .select("l_orderkey", "l_quantity")
    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # the test tables fit the broadcast threshold; disable it so the
        # plan shows the shape big tables would take (sort-merge)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        write_bucketed_table(orders, "t_orders_b", "o_orderkey", 8)
        write_bucketed_table(li, "t_lineitem_b", "l_orderkey", 8)
        a = spark.table("t_orders_b")
        b = spark.table("t_lineitem_b")
        joined = a.join(b, a.o_orderkey == b.l_orderkey) \
            .groupBy("o_custkey").agg(F.sum("l_quantity").alias("q"))
        plan = joined._jdf.queryExecution().executedPlan().toString()
        # the join itself is exchange-free; only the final groupBy
        # aggregation may shuffle
        join_part = plan.split("SortMergeJoin")[-1]
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in join_part, join_part
        # and it computes the right thing
        direct = orders.join(li, orders.o_orderkey == li.l_orderkey) \
            .groupBy("o_custkey").agg(F.sum("l_quantity").alias("q"))
        assert {(r.o_custkey, r.q) for r in joined.collect()} \
            == {(r.o_custkey, r.q) for r in direct.collect()}
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_lineitem_b")


def test_sorted_parquet_rowgroup_stats_are_disjoint(spark, tmp_path):
    """The sorted write must yield parquet row-group min/max statistics
    that overlap only at range boundaries — the property filter
    pushdown skips on. An unsorted write of the same data must NOT
    have that property (guards against the test passing vacuously)."""
    import os

    import pyarrow.parquet as pq

    from big_data_hw_23_24_spark.sources.sinks import write_sorted_parquet
    from big_data_hw_23_24_spark.sources.tables import load_table

    e = load_table(spark, "/root/testdata/sf0.01", "events") \
        .select("user_id", "event_id")

    def spans(path):
        out = []
        for f in sorted(os.listdir(path)):
            if not f.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(path, f)).metadata
            for rg in range(md.num_row_groups):
                col = next(md.row_group(rg).column(i)
                           for i in range(md.row_group(rg).num_columns)
                           if md.row_group(rg).column(i).path_in_schema
                           == "user_id")
                s = col.statistics
                out.append((s.min, s.max))
        return out

    sorted_dir = str(tmp_path / "sorted")
    write_sorted_parquet(e, sorted_dir, ["user_id"], n_files=6)
    ss = sorted(spans(sorted_dir))
    assert len(ss) >= 6
    for (lo1, hi1), (lo2, hi2) in zip(ss, ss[1:]):
        assert hi1 <= lo2  # disjoint up to the shared boundary value

    unsorted_dir = str(tmp_path / "unsorted")
    e.repartition(6).write.mode("overwrite").parquet(unsorted_dir)
    us = sorted(spans(unsorted_dir))
    overlaps = sum(1 for (l1, h1), (l2, h2) in zip(us, us[1:]) if h1 > l2)
    assert overlaps > 0  # hash layout interleaves → stats useless

    # round-trip: the sorted copy is the same multiset of rows
    back = spark.read.parquet(sorted_dir)
    assert back.count() == e.count()
    assert back.agg(F.sum("user_id")).collect()[0][0] == \
        e.agg(F.sum("user_id")).collect()[0][0]


def test_zorder_parquet_prunes_files_on_both_columns(spark, tmp_path):
    """Z-ordered layout keeps per-FILE min/max tight on EVERY curve
    column: a box predicate on (l_orderkey, l_partkey) must overlap
    only a minority of files, and a predicate on the SECOND column
    alone must still prune — which a single-column sort layout
    provably cannot do (its second-column spans cover everything)."""
    import os

    import pyarrow.parquet as pq

    from big_data_hw_23_24_spark.sources.sinks import (
        write_sorted_parquet,
        write_zorder_parquet,
    )
    from big_data_hw_23_24_spark.sources.tables import load_table

    li = load_table(spark, "/root/testdata/sf0.01", "lineitem") \
        .select("l_orderkey", "l_partkey")

    def file_spans(path, col_name):
        out = []
        for f in sorted(os.listdir(path)):
            if not f.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(path, f)).metadata
            lo = hi = None
            for rg in range(md.num_row_groups):
                col = next(md.row_group(rg).column(i)
                           for i in range(md.row_group(rg).num_columns)
                           if md.row_group(rg).column(i).path_in_schema
                           == col_name)
                s = col.statistics
                lo = s.min if lo is None else min(lo, s.min)
                hi = s.max if hi is None else max(hi, s.max)
            out.append((lo, hi))
        return out

    zdir = str(tmp_path / "zorder")
    write_zorder_parquet(li, zdir, ["l_orderkey", "l_partkey"],
                         bits=8, n_files=16)
    sdir = str(tmp_path / "sorted")
    write_sorted_parquet(li, sdir, ["l_orderkey"], n_files=16)

    stats = li.agg(F.min("l_orderkey"), F.max("l_orderkey"),
                   F.min("l_partkey"), F.max("l_partkey")).collect()[0]
    o_lo, o_hi, p_lo, p_hi = stats
    # middle-quarter box on both dimensions
    o_box = (o_lo + (o_hi - o_lo) * 3 // 8, o_lo + (o_hi - o_lo) * 5 // 8)
    p_box = (p_lo + (p_hi - p_lo) * 3 // 8, p_lo + (p_hi - p_lo) * 5 // 8)

    def overlapping(path, boxes):
        names = list(boxes)
        spans = {c: file_spans(path, c) for c in names}
        n_files = len(spans[names[0]])
        hit = 0
        for i in range(n_files):
            if all(spans[c][i][0] <= boxes[c][1]
                   and boxes[c][0] <= spans[c][i][1] for c in names):
                hit += 1
        return hit, n_files

    # correctness first: layout never changes results
    want = li.where(
        F.col("l_orderkey").between(*o_box)
        & F.col("l_partkey").between(*p_box)).count()
    got = spark.read.parquet(zdir).where(
        F.col("l_orderkey").between(*o_box)
        & F.col("l_partkey").between(*p_box)).count()
    assert got == want > 0

    z_hit, z_n = overlapping(zdir, {"l_orderkey": o_box,
                                    "l_partkey": p_box})
    assert z_n >= 16
    # repartitionByRange draws its boundaries by sampling (seeded per
    # RDD id, so run-order-dependent): the box hits 8-9 of 16 files
    # depending on where the cuts land. 5/8 bounds the sampling jitter;
    # the SHARP layout guarantees are the relative second-column
    # asserts below, which no boundary draw can flip.
    assert z_hit <= z_n * 5 // 8

    # second-column-only predicate: z-order prunes, single-sort can't
    z2_hit, _ = overlapping(zdir, {"l_partkey": p_box})
    s2_hit, s2_n = overlapping(sdir, {"l_partkey": p_box})
    assert s2_hit == s2_n      # sorted-by-orderkey: every file overlaps
    assert z2_hit < s2_hit     # z-order: strictly fewer


def test_zorder_rejects_single_column(spark):
    import pytest

    from big_data_hw_23_24_spark.sources.sinks import write_zorder_parquet
    from big_data_hw_23_24_spark.sources.tables import load_table

    li = load_table(spark, "/root/testdata/sf0.001", "lineitem")
    with pytest.raises(ValueError):
        write_zorder_parquet(li, "/tmp/nope", ["l_orderkey"])


def test_zorder_rank_buckets_prune_under_skew(spark, tmp_path):
    """With a 99%-skewed second column, min/max bucket scaling puts
    almost every row in one bucket — a mid-range box on the skewed
    column then overlaps nearly every file. Equal-frequency rank
    bucketing (rank_buckets=True) must keep pruning."""
    import os

    import pyarrow.parquet as pq

    from big_data_hw_23_24_spark.sources.sinks import write_zorder_parquet
    from big_data_hw_23_24_spark.sources.tables import load_table

    li = (load_table(spark, "/root/testdata/sf0.01", "lineitem")
          .select("l_orderkey",
                  F.when(F.col("l_orderkey") % 100 != 0,
                         F.col("l_orderkey") % 97)
                  .otherwise(F.lit(1_000_000_000)
                             + F.col("l_orderkey")).alias("skewed")))

    def file_spans(path, col_name):
        out = []
        for f in sorted(os.listdir(path)):
            if not f.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(path, f)).metadata
            lo = hi = None
            for rg in range(md.num_row_groups):
                col = next(md.row_group(rg).column(i)
                           for i in range(md.row_group(rg).num_columns)
                           if md.row_group(rg).column(i).path_in_schema
                           == col_name)
                s = col.statistics
                lo = s.min if lo is None else min(lo, s.min)
                hi = s.max if hi is None else max(hi, s.max)
            out.append((lo, hi))
        return out

    def hits(path, box):
        spans = file_spans(path, "skewed")
        return (sum(1 for lo, hi in spans
                    if lo <= box[1] and box[0] <= hi), len(spans))

    box = (20, 40)  # mid-range slice of the dense 0..96 region
    mdir, rdir = str(tmp_path / "minmax"), str(tmp_path / "ranked")
    write_zorder_parquet(li, mdir, ["l_orderkey", "skewed"],
                         bits=8, n_files=16)
    write_zorder_parquet(li, rdir, ["l_orderkey", "skewed"],
                         bits=8, n_files=16, rank_buckets=True)
    # correctness: both layouts return identical filtered results
    want = li.where(F.col("skewed").between(*box)).count()
    for d in (mdir, rdir):
        assert spark.read.parquet(d) \
            .where(F.col("skewed").between(*box)).count() == want > 0
    m_hit, m_n = hits(mdir, box)
    r_hit, r_n = hits(rdir, box)
    assert m_n == r_n >= 16
    assert m_hit > m_n * 3 // 4   # min/max scaling collapses: ~all hit
    assert r_hit < m_hit          # rank buckets restore pruning
    # 5/8 not 1/2: repartitionByRange boundary sampling is seeded per
    # RDD id, so the hit count jitters 8-9/16 with run order (same
    # allowance as the unskewed box test above); the sharp claims are
    # the two relative asserts.
    assert r_hit <= r_n * 5 // 8


# --- JSONL PERMISSIVE ingestion (E91) ----------------------------------------

def test_parse_json_lines_permissive_and_ok_probe(spark):
    from big_data_hw_23_24_spark.sources.jsonl import parse_json_lines

    df = spark.createDataFrame([
        (1, '{"doc_id": 7, "lang": "en", "n": 3}'),
        (2, '{"doc_id": 8, "lang"'),              # truncated: malformed
        (3, '{"lang": "de", "n": 1}'),            # valid, probe key absent
        (4, "not json at all"),
        (5, None),                                # null line
    ], "row_id long, line string")
    out = {r.row_id: r for r in parse_json_lines(
        df, "line", "doc_id BIGINT, lang STRING, n BIGINT",
        ok_probe="doc_id").collect()}
    assert out[1].parse_ok and out[1].rec.doc_id == 7 and out[1].rec.n == 3
    assert not out[2].parse_ok
    assert out[2].rec is None or out[2].rec.doc_id is None
    assert not out[3].parse_ok                    # required key missing
    assert out[3].rec.lang == "de"                # but valid fields kept
    assert not out[4].parse_ok
    assert not out[5].parse_ok
