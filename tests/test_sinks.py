"""Sinks and ingestion: the sorted parquet write must read back the
same rows with disjoint row-group statistics, and JSONL parsing must
be permissive."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_sorted_parquet_rowgroup_stats_are_disjoint(spark, tmp_path):
    """The sorted write must yield parquet row-group min/max statistics
    that overlap only at range boundaries — the property filter
    pushdown skips on. An unsorted write of the same data must NOT
    have that property (guards against the test passing vacuously)."""
    import os

    import pyarrow.parquet as pq

    from big_data_hw_23_24_spark.sources.sinks import (
        N_FILES, write_sorted_parquet)
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
    write_sorted_parquet(e, sorted_dir, ["user_id"])
    ss = sorted(spans(sorted_dir))
    assert len(ss) >= N_FILES
    for (lo1, hi1), (lo2, hi2) in zip(ss, ss[1:]):
        assert hi1 <= lo2  # disjoint up to the shared boundary value

    unsorted_dir = str(tmp_path / "unsorted")
    e.repartition(N_FILES).write.mode("overwrite").parquet(unsorted_dir)
    us = sorted(spans(unsorted_dir))
    overlaps = sum(1 for (l1, h1), (l2, h2) in zip(us, us[1:]) if h1 > l2)
    assert overlaps > 0  # hash layout interleaves → stats useless

    # round-trip: the sorted copy is the same multiset of rows
    back = spark.read.parquet(sorted_dir)
    assert back.count() == e.count()
    assert back.agg(F.sum("user_id")).collect()[0][0] == \
        e.agg(F.sum("user_id")).collect()[0][0]


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
