"""``sources.tables.load_table`` infers a table's schema once per file
version: later reads of the unchanged file pass the schema and launch no
Spark job, and each read is still a fresh relation."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from big_data_hw_23_24_spark.sources.tables import load_table

SF = "/root/testdata/sf0.01"


@pytest.fixture
def jobs_in(spark, request):
    """``jobs_in(group, fn)``: ``fn()`` and the ids of the Spark jobs it
    launched, counted in the job group ``group``."""
    sc = spark.sparkContext

    def clear_group():
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    request.addfinalizer(clear_group)

    def run(group, fn):
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            clear_group()
        return out, sc.statusTracker().getJobIdsForGroup(group)
    return run


def test_second_read_of_unchanged_file_launches_no_job(spark, tmp_path,
                                                       jobs_in):
    pq.write_table(pa.table({"k": [1, 2, 3]}), tmp_path / "t.parquet")
    _, first = jobs_in("tables_first_read",
                       lambda: load_table(spark, str(tmp_path), "t"))
    assert first, "the first read infers the schema with a Spark job"
    df, second = jobs_in("tables_second_read",
                         lambda: load_table(spark, str(tmp_path), "t"))
    assert not second, "the second read re-inferred the schema"
    assert sorted(r.k for r in df.collect()) == [1, 2, 3]


@pytest.mark.parametrize("layout", ["file", "directory"])
def test_table_rewritten_in_place_is_read_with_its_new_schema(
        spark, tmp_path, jobs_in, layout):
    path = tmp_path / "t.parquet"
    if layout == "directory":
        path.mkdir()
        path = path / "part-0.parquet"
    pq.write_table(pa.table({"k": [1, 2]}), path)
    assert load_table(spark, str(tmp_path), "t").columns == ["k"]
    pq.write_table(pa.table({"k": [7], "v": ["x"]}), path)
    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["k", "v"]
    assert [tuple(r) for r in df.collect()] == [(7, "x")]
    # the new version's schema is what later reads reuse
    again, jobs = jobs_in("tables_rewritten",
                          lambda: load_table(spark, str(tmp_path), "t"))
    assert not jobs
    assert [tuple(r) for r in again.collect()] == [(7, "x")]


def test_two_cached_handles_self_join_like_two_fresh_reads(spark, jobs_in):
    def pairs(a, b):
        return sorted(tuple(r) for r in a.alias("a").join(
            b.alias("b"), F.col("a.n_regionkey") == F.col("b.n_regionkey"))
            .select("a.n_nationkey", "b.n_nationkey").collect())

    load_table(spark, SF, "nation")
    (a, b), jobs = jobs_in("tables_self_join", lambda: (
        load_table(spark, SF, "nation"),
        load_table(spark, SF, "nation")))
    assert not jobs
    path = f"{SF}/nation.parquet"
    want = pairs(spark.read.parquet(path), spark.read.parquet(path))
    assert len(want) == 125  # 25 nations, 5 per region
    assert pairs(a, b) == want


@pytest.mark.parametrize("unit, kind", [("us", "timestamp_ntz"),
                                        ("ns", "timestamp")])
def test_events_ts_type_holds_on_the_cached_path(spark, tmp_path, jobs_in,
                                                 unit, kind):
    # µs, as testdata writes it, reads as timestamp_ntz; TIMESTAMP(NANOS)
    # reads as a nanos long that load_table converts to a timestamp
    ts = pa.array([1_700_000_000_123_456_789, 1_700_000_001_000_001_000],
                  pa.timestamp("ns")).cast(pa.timestamp(unit), safe=False)
    pq.write_table(pa.table({"event_id": [1, 2], "ts": ts}),
                   tmp_path / "events.parquet", version="2.6")
    load_table(spark, str(tmp_path), "events")
    ev, jobs = jobs_in("tables_events",
                       lambda: load_table(spark, str(tmp_path), "events"))
    assert not jobs
    assert dict(ev.dtypes)["ts"] == kind
    us = F.unix_micros(F.col("ts").cast("timestamp")).alias("us")
    assert [r.us for r in ev.select(us).orderBy("us").collect()] == [
        1_700_000_000_123_456, 1_700_000_001_000_001]
