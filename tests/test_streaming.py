"""Structured Streaming harness tests: deterministic file-source batches
replaying the events item sequence and a planted-heavy item map."""

from __future__ import annotations

import os
import shutil
import tempfile
from collections import Counter

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from big_data_hw_23_24_spark.operators.frequent import ReservoirSampler, StickySampler
from big_data_hw_23_24_spark.streaming.frequent_stream import (
    FrequentItemsMonitor,
    run_frequent_items,
)

SF = "/root/testdata/sf0.001"
SCHEMA = T.StructType([
    T.StructField("seq", T.LongType()),
    T.StructField("item", T.LongType()),
])


@pytest.fixture(scope="module")
def stream_dir(spark):
    """events.user_id ordered by (ts, event_id) → 10 parquet files with
    increasing mtimes: a deterministic micro-batch sequence."""
    from big_data_hw_23_24_spark.sources.tables import load_table
    from pyspark.sql import Window as W

    e = load_table(spark, SF, "events")
    w = W.orderBy("ts", "event_id")
    rows = (e.select(F.col("user_id").alias("item"), "ts", "event_id")
            .withColumn("seq", F.row_number().over(w) - 1)
            .select("seq", "item").collect())
    items = [r.item for r in sorted(rows, key=lambda r: r.seq)]

    d = tempfile.mkdtemp(prefix="stream_batches_")
    chunk = 100
    t0 = 1_700_000_000
    for i in range(0, len(rows), chunk):
        part = [(j, items[j]) for j in range(i, min(i + chunk, len(items)))]
        pdf = spark.createDataFrame(part, SCHEMA).coalesce(1)
        path = os.path.join(d, f"batch_{i // chunk:03d}")
        pdf.write.mode("overwrite").parquet(path)
        for f in os.listdir(path):
            os.utime(os.path.join(path, f), (t0 + i, t0 + i))
    yield d, items
    shutil.rmtree(d, ignore_errors=True)


def _file_stream(spark, d):
    return (spark.readStream.schema(SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(d, "batch_*")))


def test_foreachbatch_harness_matches_sequential_replay(spark, stream_dir):
    d, items = stream_dir
    n, phi, eps, delta = 800, 0.05, 0.02, 0.1
    monitor = FrequentItemsMonitor(n=n, phi=phi, eps=eps, delta=delta)
    run_frequent_items(spark, _file_stream(spark, d), monitor,
                       timeout_sec=90)

    # n-item cutoff honored exactly (G016HW3.java:80-88 semantics)
    assert monitor.stream_length == n
    assert sum(monitor.histogram.values()) == n
    first_n = items[:n]
    assert monitor.histogram == dict(Counter(first_n))

    # sequential estimators identical to a direct replay (same seed)
    rs = ReservoirSampler(m=monitor.reservoir.m, seed=42)
    rs.add_many(first_n)
    assert monitor.reservoir.sample == rs.sample

    st = StickySampler(phi, eps, delta, n, seed=42)
    st.add_many(first_n)
    assert monitor.sticky.table == st.table

    # final report: ± annotation consistent with the true-frequent set
    rep = monitor.report(spark)
    true_items = {r.item for r in rep["true_frequent"].collect()}
    for r in rep["sticky"].collect():
        assert (r.sign == "+") == (r.item in true_items)


def test_distinct_items_harness_matches_replay(spark, stream_dir):
    """DistinctItemsExample parity: the foreachBatch distinct monitor
    equals a direct distinct over the first n items."""
    from big_data_hw_23_24_spark.streaming.distinct_stream import (
        DistinctItemsMonitor,
        run_distinct_items,
    )

    d, items = stream_dir
    n = 800
    monitor = DistinctItemsMonitor(n=n)
    run_distinct_items(spark, _file_stream(spark, d), monitor,
                       timeout_sec=90)
    assert monitor.stream_length == n
    assert monitor.items == set(items[:n])
    assert monitor.distinct_count() == len(set(items[:n]))


def test_spark_side_microbatch_writer_roundtrip(spark, stream_dir):
    """write_microbatches (no driver collect) replays the identical
    sequence: the monitor's histogram over its output == exact Counter."""
    from big_data_hw_23_24_spark.streaming.replay import write_microbatches
    from big_data_hw_23_24_spark.sources.tables import load_table
    from pyspark.sql import Window as W

    _, items = stream_dir
    e = load_table(spark, SF, "events")
    w = W.orderBy("ts", "event_id")
    seq = (e.select(F.col("user_id").alias("item"), "ts", "event_id")
           .withColumn("seq", F.row_number().over(w) - 1)
           .select("seq", "item"))
    d = tempfile.mkdtemp(prefix="replay_rt_")
    try:
        glob = write_microbatches(seq, d, n_buckets=10)
        # bucket files carry strictly increasing mtimes → ordered replay
        monitor = FrequentItemsMonitor(n=len(items), phi=0.05, eps=0.02,
                                       delta=0.1)
        stream = (spark.readStream.schema(SCHEMA)
                  .option("maxFilesPerTrigger", 1).parquet(glob))
        run_frequent_items(spark, stream, monitor, timeout_sec=90)
        assert monitor.stream_length == len(items)
        assert monitor.histogram == dict(Counter(items))
        # sequential estimator state == direct replay ⇒ arrival order
        # was exactly seq order
        rs = ReservoirSampler(m=monitor.reservoir.m, seed=42)
        rs.add_many(items)
        assert monitor.reservoir.sample == rs.sample
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_windowed_counts_watermark_closes_and_bounds_state(spark, tmp_path):
    """Append-mode watermark guarantees: a window is emitted exactly
    once, only after the watermark passes its end, and evicted state
    stays bounded. (Pre-aggregation late-row *dropping* is best-effort
    in this Spark version — verified empirically: a late row with no
    surviving state is admitted and folded into the closing window —
    so the test pins the hard contract, not the best-effort filter.)"""
    from big_data_hw_23_24_spark.streaming.windows import windowed_event_counts

    schema = "ts timestamp, value double"

    def mk(rows):
        return spark.createDataFrame(rows, "ts string, value double") \
            .select(F.col("ts").cast("timestamp"), "value")

    files = [
        mk([("2024-01-01 10:15:00", 1.0), ("2024-01-01 10:45:00", 2.0),
            ("2024-01-01 11:30:00", 3.0), ("2024-01-01 11:59:00", 4.0)]),
        mk([("2024-01-01 12:10:00", 5.0)]),   # watermark → 11:10
        mk([("2024-01-01 12:20:00", 6.0)]),   # watermark → 11:20
    ]
    d = str(tmp_path / "wm")
    t0 = 1_700_000_000
    for i, df in enumerate(files):
        p = os.path.join(d, f"b{i}")
        df.coalesce(1).write.mode("overwrite").parquet(p)
        for f in os.listdir(p):
            os.utime(os.path.join(p, f), (t0 + i * 10, t0 + i * 10))
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(os.path.join(d, "b*")))
    agg = windowed_event_counts(stream.withWatermark("ts", "1 hour"))
    q = (agg.writeStream.outputMode("append")
         .format("memory").queryName("wm_out").start())
    q.processAllAvailable()
    progress = list(q.recentProgress)
    q.stop()
    rows = [(str(r.win_start), r.n_events, r.sum_value)
            for r in spark.sql("SELECT * FROM wm_out").collect()]
    # only [10:00,11:00) has closed (watermark reached 11:20 < 12:00);
    # emitted exactly once, with exactly the on-time aggregate
    assert rows == [("2024-01-01 10:00:00", 2, 3.0)]
    # watermark advanced monotonically across batches
    wms = [p["eventTime"]["watermark"] for p in progress
           if "watermark" in p.get("eventTime", {})]
    assert wms == sorted(wms)
    # state bounded: closed windows are evicted, open ones retained
    # ([11:00,12:00) and [12:00,13:00) at the end → ≤ 2 state rows)
    last_state = [p for p in progress if p.get("stateOperators")][-1]
    assert last_state["stateOperators"][0]["numRowsTotal"] <= 2


def test_windowed_counts_streaming_matches_batch_face(spark, tmp_path,
                                                      monkeypatch):
    """Complete-mode streaming windows == the batch face (the green
    events_by_window oracle) over the same bounded input."""
    from big_data_hw_23_24_spark.sources.tables import load_table
    from big_data_hw_23_24_spark.streaming import windows
    from big_data_hw_23_24_spark.streaming.windows import windowed_event_counts

    monkeypatch.setattr(windows, "WINDOW_DURATION", "1 day")
    ev = load_table(spark, SF, "events").select("ts", "value")
    d = str(tmp_path / "evstream")
    ev.coalesce(1).write.mode("overwrite").parquet(d)
    stream = (spark.readStream.schema("ts timestamp, value double")
              .parquet(d))
    agg = windowed_event_counts(stream)
    q = (agg.writeStream.outputMode("complete")
         .format("memory").queryName("win_out").start())
    q.processAllAvailable()
    q.stop()
    got = {(r.win_start, r.n_events, r.sum_value)
           for r in spark.sql("SELECT * FROM win_out").collect()}
    want = {(r.win_start, r.n_events, r.sum_value)
            for r in windowed_event_counts(ev).collect()}
    assert got == want


def _planted_heavy_stream(spark, d, n, n_heavy, heavy_share, chunk=2_000):
    """A deterministic file stream of an arithmetic item map: position v
    carries heavy item v % n_heavy when v % 100 < heavy_share, else the
    unique tail item v + 1_000_000. Batches of `chunk` rows get rising
    mtimes, like the stream_dir fixture. Returns the stream and the
    exact histogram of its n items."""
    pos = F.col("id")
    item = F.when(pos % 100 < heavy_share, pos % n_heavy) \
        .otherwise(pos + 1_000_000)
    t0 = 1_700_000_000
    for i in range(0, n, chunk):
        path = os.path.join(d, f"batch_{i // chunk:03d}")
        (spark.range(i, i + chunk, numPartitions=1)
         .select(pos.alias("seq"), item.alias("item"))
         .write.mode("overwrite").parquet(path))
        for f in os.listdir(path):
            os.utime(os.path.join(path, f), (t0 + i, t0 + i))
    expected = Counter(
        v % n_heavy if v % 100 < heavy_share else v + 1_000_000
        for v in range(n))
    return _file_stream(spark, d), dict(expected)


def test_rate_stream_planted_heavy_items(spark, tmp_path):
    """An all-heavy stream (heavy_share=100): every position is one of
    the planted items 0..9, each 10% of the n items, so exactly those
    are truly frequent and sticky keeps all of them."""
    n = 20_000
    monitor = FrequentItemsMonitor(n=n, phi=0.05, eps=0.02, delta=0.1)
    stream, _ = _planted_heavy_stream(spark, str(tmp_path / "heavy"), n,
                                      n_heavy=10, heavy_share=100)
    run_frequent_items(spark, stream, monitor, timeout_sec=120)
    assert monitor.stream_length == n
    rep = monitor.report(spark)
    true_items = sorted(r.item for r in rep["true_frequent"].collect())
    assert true_items == list(range(10))
    sticky_items = sorted(r.item for r in rep["sticky"].collect())
    assert set(true_items) <= set(sticky_items)


def test_rate_source_end_to_end_sticky_recovers_planted_heavies(
        spark, tmp_path):
    """HW3's sticky guarantee end to end over a half-heavy stream: the
    n-item cutoff holds, the exact histogram equals the item map, every
    planted heavy is truly frequent, and sticky reports each one with
    '+'."""
    n, phi, eps, delta = 20_000, 0.02, 0.01, 0.1
    n_heavy, heavy_share = 10, 50
    monitor = FrequentItemsMonitor(n=n, phi=phi, eps=eps, delta=delta)
    stream, expected = _planted_heavy_stream(
        spark, str(tmp_path / "heavy"), n, n_heavy, heavy_share)
    run_frequent_items(spark, stream, monitor, timeout_sec=120)

    assert monitor.stream_length == n
    assert monitor.histogram == expected

    # each heavy occurs n·heavy_share%/n_heavy = 1000 ≥ phi·n = 400
    # times; every tail item once
    rep = monitor.report(spark)
    true_items = {r.item for r in rep["true_frequent"].collect()}
    assert true_items == set(range(n_heavy))
    signs = {r.item: r.sign for r in rep["sticky"].collect()}
    assert all(signs.get(i) == "+" for i in range(n_heavy)), signs


def test_sessionize_stream_carries_state_across_batches(spark, tmp_path):
    """A session whose events straddle a micro-batch boundary must come
    out as ONE session (state carry), and an in-batch gap must close a
    session mid-stream. Two users:

    * user 1: events at t0, t0+10m (batch 1) and t0+20m (batch 2) —
      one session of 3 despite the batch break;
    * user 2: events at t0 and t0+3h in batch 1 — the first closes
      mid-batch, the second is flushed by the sentinel.
    Sentinels at t0+300h close all open sessions."""
    import pandas as pd

    from big_data_hw_23_24_spark.streaming.replay import write_microbatches
    from big_data_hw_23_24_spark.streaming.sessions import run_sessionize

    t0 = pd.Timestamp("2024-01-01 00:00:00")
    mins = lambda m: (t0 + pd.Timedelta(minutes=m)).to_pydatetime()
    rows = [  # (seq, user_id, ts) — 3 buckets of 2
        (0, 1, mins(0)), (1, 1, mins(10)),
        (2, 2, mins(0)), (3, 2, mins(180)),
        (4, 1, mins(20)),
        (5, 1, mins(18000)), (6, 2, mins(18000)),  # sentinels
    ]
    df = spark.createDataFrame(rows, "seq long, user_id long, ts timestamp")
    glob = write_microbatches(df, str(tmp_path / "mb"), n_buckets=4)
    stream = (spark.readStream.schema("seq long, user_id long, ts timestamp")
              .option("maxFilesPerTrigger", 1).parquet(glob))
    got = {(r.user_id, r.session_start, r.session_end, r.n_events)
           for r in run_sessionize(spark, stream).collect()}
    want = {
        (1, mins(0), mins(20), 3),
        (2, mins(0), mins(0), 1),
        (2, mins(180), mins(180), 1),
    }
    assert got == want


def test_socket_stream_live_loopback_end_to_end(spark):
    """LIVE socket ingestion — the reference's actual input shape
    (integer-per-line TCP, G016HW3.java:76) — against a loopback
    server owned by the test: the socket face itself, not the
    file-replay substitute. The exact histogram over the n-capped
    stream is batch-split-insensitive, so the result is deterministic
    no matter how the socket source chops micro-batches."""
    import socket
    import threading

    from big_data_hw_23_24_spark.streaming.frequent_stream import (
        FrequentItemsMonitor, run_frequent_items, socket_item_stream)

    items = ([7] * 30 + [8] * 20 + list(range(100, 150))) * 2  # 200 items
    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    srv.listen(1)
    port = srv.getsockname()[1]
    done_serving = threading.Event()

    def serve():
        conn, _ = srv.accept()
        with conn:
            conn.sendall("".join(f"{i}\n" for i in items).encode())
            # keep the connection open until the query has consumed
            # everything — the socket source treats EOF as stream end
            done_serving.wait(timeout=90)

    t = threading.Thread(target=serve, daemon=True)
    t.start()
    try:
        stream = socket_item_stream(spark, "127.0.0.1", port)
        monitor = FrequentItemsMonitor(n=len(items), phi=0.15,
                                       eps=0.1, delta=0.1)
        run_frequent_items(spark, stream, monitor, order_col=None,
                           timeout_sec=90)
    finally:
        done_serving.set()
        srv.close()
    assert monitor.stream_length == len(items)
    assert monitor.histogram == dict(Counter(items))
    # the exact-frequent report over the live stream: threshold
    # phi*n = 30 keeps 7 (60) and 8 (40), drops the 2-count tail
    freq = {r.item: r.cnt for r in
            monitor.true_frequent(spark).collect()}
    assert freq == {7: 60, 8: 40}


def test_streaming_distinct_keys_emits_each_key_once(spark, tmp_path):
    """The no-expiry dropDuplicates face: every distinct key emitted
    exactly once across micro-batches, repeats suppressed by state."""
    from big_data_hw_23_24_spark.streaming.distinct_stream import (
        streaming_distinct_keys)
    from big_data_hw_23_24_spark.streaming.replay import write_microbatches

    rows = [(i, v) for i, v in enumerate([7, 8, 7, 9, 8, 7, 10, 9])]
    df = spark.createDataFrame(rows, "seq long, item long")
    glob = write_microbatches(df, str(tmp_path / "ddk"), n_buckets=4)
    stream = (spark.readStream.schema("seq long, item long")
              .option("maxFilesPerTrigger", 1).parquet(glob))
    out = streaming_distinct_keys(stream)
    assert sorted(out) == [7, 8, 9, 10]


def test_cms_overestimates_only_and_covers_exact_frequent(spark):
    """CMS guarantees: (a) est ≥ true count for EVERY item (one-sided
    error); (b) the CMS-frequent set at threshold t is a superset of
    the exact-frequent set; (c) with width ≫ distinct items the
    overestimate stays within the e/width·N bound."""
    import math

    from big_data_hw_23_24_spark.operators.frequent import (
        cms_estimate, cms_table)
    from big_data_hw_23_24_spark.sources.tables import load_table

    e = load_table(spark, "/root/testdata/sf0.01", "events")
    n = e.count()
    true = {r.user_id: r.cnt for r in
            e.groupBy("user_id").agg(F.count("*").alias("cnt")).collect()}
    sketch = cms_table(e, "user_id")
    est = {r.item: r.est for r in
           cms_estimate(sketch, e.select("user_id"), "user_id").collect()}
    assert set(est) == set(true)
    assert all(est[u] >= c for u, c in true.items())
    bound = math.e / 2048 * n  # classic CMS overestimate bound
    over = [est[u] - c for u, c in true.items()]
    # w.h.p. bound holds for the max; assert the 99th pct to be safe
    over.sort()
    assert over[int(0.99 * len(over))] <= bound, (max(over), bound)

    thr = math.ceil(0.007 * n)
    exact = {u for u, c in true.items() if c >= thr}
    cms_freq = {u for u, c in est.items() if c >= thr}
    assert exact <= cms_freq


def test_cms_geometry_carried_and_mismatch_rejected(spark):
    """The sketch carries its (depth, width) and probing reads them
    from the sketch; an input without them is rejected."""
    import pytest as _pytest

    from big_data_hw_23_24_spark.operators.frequent import (
        CMS_DEPTH, CMS_WIDTH, cms_estimate, cms_table)

    e = spark.range(100).select((F.col("id") % 7).alias("user_id"))
    a = cms_table(e, "user_id")
    assert {(r.depth, r.width) for r in a.collect()} == \
        {(CMS_DEPTH, CMS_WIDTH)}
    # probe uses the carried geometry: exact counts for a tiny domain
    est = {r.item: r.est for r in
           cms_estimate(a, e.select("user_id"), "user_id").collect()}
    true = {r.user_id: r.cnt for r in
            e.groupBy("user_id").agg(F.count("*").alias("cnt")).collect()}
    assert all(est[u] >= c for u, c in true.items())
    # not-a-sketch input is rejected up front
    with _pytest.raises(ValueError, match="missing depth/width"):
        cms_estimate(a.drop("depth"), e, "user_id")


def test_stream_stream_interval_join_matches_across_batches(spark, tmp_path):
    """A right-side row arriving many micro-batches after its left match
    must still join (state-store buffering); rows outside the window or
    key never match."""
    import pandas as pd

    from big_data_hw_23_24_spark.streaming.joins import run_interval_join
    from big_data_hw_23_24_spark.streaming.replay import write_microbatches

    t0 = pd.Timestamp("2024-03-01 00:00:00")
    mk = lambda h: (t0 + pd.Timedelta(hours=h)).to_pydatetime()
    orders = spark.createDataFrame(
        [(0, 100, 7, mk(0)), (1, 101, 7, mk(1)), (2, 200, 9, mk(0))],
        "seq long, o_orderkey long, o_custkey long, o_orderdate timestamp")
    events = spark.createDataFrame(
        [(0, 1000, 7, mk(1)),      # batch 1: matches orders 100 (and 101 at =)
         (1, 1001, 7, mk(49)),     # batch 2: in 72h window of both orders
         (2, 1002, 7, mk(100)),    # batch 3: outside both 72h windows
         (3, 1003, 8, mk(2))],     # wrong key
        "seq long, event_id long, user_id long, ts timestamp")
    og = write_microbatches(orders, str(tmp_path / "o"), n_buckets=1)
    eg = write_microbatches(events, str(tmp_path / "e"), n_buckets=4)
    os_ = (spark.readStream
           .schema("seq long, o_orderkey long, o_custkey long, "
                   "o_orderdate timestamp")
           .option("maxFilesPerTrigger", 1).parquet(og).drop("seq"))
    es = (spark.readStream
          .schema("seq long, event_id long, user_id long, ts timestamp")
          .option("maxFilesPerTrigger", 1).parquet(eg).drop("seq"))
    pairs = run_interval_join(spark, os_, es, "o_custkey", "user_id",
                              "o_orderdate", "ts", 3 * 86400)
    got = {(r.o_orderkey, r.event_id) for r in pairs.collect()}
    assert got == {(100, 1000), (101, 1000), (100, 1001), (101, 1001)}


def test_stratified_sample_fractions_and_subset(spark):
    """sampleBy contract: the sample is a subset of the source, only
    requested strata appear, per-stratum fractions land near target,
    and the fixed seed makes the draw reproducible."""
    from big_data_hw_23_24_spark.queries import _ensure_loaded, _REGISTRY

    _ensure_loaded()
    fn = _REGISTRY["stratified_event_sample"].spark_fn
    got = fn(spark, "/root/testdata/sf0.01").collect()
    again = fn(spark, "/root/testdata/sf0.01").collect()
    assert sorted(r.event_id for r in got) == \
        sorted(r.event_id for r in again)  # seeded → reproducible

    from big_data_hw_23_24_spark.sources.tables import load_table
    e = load_table(spark, "/root/testdata/sf0.01", "events")
    totals = {r.event_type: r.n for r in
              e.groupBy("event_type").agg(F.count("*").alias("n")).collect()}
    ids = {r.event_id for r in e.select("event_id").collect()}
    by_type = {}
    for r in got:
        assert r.event_id in ids
        by_type.setdefault(r.event_type, 0)
        by_type[r.event_type] += 1
    assert set(by_type) <= {"click", "view"}  # unlisted strata dropped
    assert 0.1 < by_type["click"] / totals["click"] < 0.3
    assert 0.01 < by_type["view"] / totals["view"] < 0.1


def test_idempotent_sink_replayed_epoch_does_not_duplicate(spark, tmp_path):
    """A micro-batch re-delivered with the same epoch_id (the
    at-least-once failure mode) must overwrite its own output, so the
    sink holds each row exactly once; distinct epochs accumulate."""
    from big_data_hw_23_24_spark.streaming.idempotent import (
        IdempotentBatchWriter)
    from big_data_hw_23_24_spark.streaming.replay import write_microbatches

    rows = spark.createDataFrame([(i, i * 10) for i in range(40)],
                                 "seq long, value long")
    glob = write_microbatches(rows, str(tmp_path / "src"), n_buckets=4)
    stream = (spark.readStream.schema("seq long, value long")
              .option("maxFilesPerTrigger", 1).parquet(glob))
    sink = IdempotentBatchWriter(str(tmp_path / "sink"))
    q = (stream.writeStream.foreachBatch(sink)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)

    first = sorted(r.seq for r in sink.read(spark).collect())
    assert first == list(range(40))

    # simulate the failure path: re-deliver epoch 0's batch verbatim
    # (materialized first — a real retry recomputes the batch from the
    # source, it never reads its own partial sink output)
    epoch0_rows = spark.read.parquet(
        str(tmp_path / "sink" / "epoch=0")).collect()
    epoch0 = spark.createDataFrame(epoch0_rows, "seq long, value long")
    sink(epoch0, 0)
    replayed = sorted(r.seq for r in sink.read(spark).collect())
    assert replayed == list(range(40))  # no duplicates

    # a NEW epoch appends
    extra = spark.createDataFrame([(100, 0)], "seq long, value long")
    sink(extra, 99)
    assert sink.read(spark).count() == 41


def test_streaming_ingest_dedup_accumulates_and_replays_idempotently(
        spark, tmp_path):
    """E38+E28 composed: per-epoch dedup against prior epochs' store,
    novel fingerprints appended, replayed epochs idempotent."""
    import os

    from big_data_hw_23_24_spark.streaming.ingest_dedup import (
        StreamingIngestDedup)

    batches = [
        [(1, "alpha"), (2, "beta"), (3, "alpha")],
        [(4, "alpha"), (5, "gamma")],
        [(6, "gamma"), (7, "beta"), (8, "delta")],
    ]
    d = str(tmp_path / "docs")
    t0 = 1_700_000_000
    for i, rows in enumerate(batches):
        p = os.path.join(d, f"batch_{i}")
        spark.createDataFrame(rows, "doc_id long, text string") \
            .coalesce(1).write.mode("overwrite").parquet(p)
        for f in os.listdir(p):
            os.utime(os.path.join(p, f), (t0 + i, t0 + i))

    pipe = StreamingIngestDedup(spark, str(tmp_path / "store"))
    stream = (spark.readStream.schema("doc_id long, text string")
              .option("maxFilesPerTrigger", 1)
              .parquet(os.path.join(d, "batch_*")))
    q = (stream.writeStream.foreachBatch(pipe)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)

    expect = {1: "novel", 2: "novel", 3: "dup_in_batch",
              4: "dup_of_corpus", 5: "novel",
              6: "dup_of_corpus", 7: "dup_of_corpus", 8: "novel"}
    got = {r.doc_id: r.status for r in pipe.statuses().collect()}
    assert got == expect
    # the store holds exactly the distinct corpus: alpha, beta, gamma, delta
    fps = pipe.corpus_fingerprints().collect()
    assert len(fps) == 4 == len({r.fingerprint for r in fps})

    # replay epoch 1 (failure-recovery path): identical store + statuses
    before = sorted(r.fingerprint for r in fps)
    pipe(spark.createDataFrame(batches[1], "doc_id long, text string"), 1)
    assert sorted(
        r.fingerprint for r in pipe.corpus_fingerprints().collect()) == before
    assert {r.doc_id: r.status for r in pipe.statuses().collect()} == expect


def test_streaming_restart_resumes_from_checkpoint(spark, tmp_path):
    """Recovery contract: a query restarted on the SAME checkpoint
    location processes only files it has not yet committed — epochs
    keep increasing, already-ingested docs are not re-statused, and
    cross-restart dedup still sees the pre-restart corpus."""
    import os

    from big_data_hw_23_24_spark.streaming.ingest_dedup import (
        StreamingIngestDedup)

    d = str(tmp_path / "docs")
    ckpt = str(tmp_path / "ckpt")
    t0 = 1_700_000_000

    def write_batch(i, rows):
        p = os.path.join(d, f"batch_{i}")
        spark.createDataFrame(rows, "doc_id long, text string") \
            .coalesce(1).write.mode("overwrite").parquet(p)
        for f in os.listdir(p):
            os.utime(os.path.join(p, f), (t0 + i, t0 + i))

    def run_once(pipe):
        stream = (spark.readStream.schema("doc_id long, text string")
                  .option("maxFilesPerTrigger", 1)
                  .parquet(os.path.join(d, "batch_*")))
        q = (stream.writeStream.foreachBatch(pipe)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    pipe = StreamingIngestDedup(spark, str(tmp_path / "store"))
    write_batch(0, [(1, "alpha"), (2, "beta")])
    write_batch(1, [(3, "alpha"), (4, "gamma")])
    run_once(pipe)
    first = {r.doc_id: (r.status, r.epoch) for r in
             pipe.statuses().collect()}
    assert {k: v[0] for k, v in first.items()} == \
        {1: "novel", 2: "novel", 3: "dup_of_corpus", 4: "novel"}

    # restart with one NEW file: only it is processed, at a later epoch
    write_batch(2, [(5, "beta"), (6, "delta")])
    run_once(pipe)
    after = {r.doc_id: (r.status, r.epoch) for r in
             pipe.statuses().collect()}
    assert {k: v for k, v in after.items() if k <= 4} == first
    assert after[5][0] == "dup_of_corpus"  # pre-restart corpus visible
    assert after[6][0] == "novel"
    assert after[5][1] > max(v[1] for k, v in first.items())


def test_stream_static_dimension_join(spark, tmp_path):
    """Stream-static join: each micro-batch of events joins the static
    customer dimension (broadcast per batch, no stream state) — the
    canonical streaming-enrichment pattern. Result equals the batch
    join over the full input."""
    from big_data_hw_23_24_spark.sources.tables import load_table

    dim = load_table(spark, SF, "customer") \
        .select(F.col("c_custkey").alias("user_id"), "c_nationkey")
    ev = load_table(spark, SF, "events") \
        .select("event_id", "user_id", "value").limit(300)
    d = str(tmp_path / "ev")
    t0 = 1_700_000_000
    rows = ev.collect()
    for i in range(3):
        p = os.path.join(d, f"b{i}")
        spark.createDataFrame(rows[i * 100:(i + 1) * 100],
                              ev.schema).coalesce(1) \
            .write.mode("overwrite").parquet(p)
        for f in os.listdir(p):
            os.utime(os.path.join(p, f), (t0 + i, t0 + i))

    stream = (spark.readStream.schema(ev.schema)
              .option("maxFilesPerTrigger", 1)
              .parquet(os.path.join(d, "b*")))
    joined = stream.join(F.broadcast(dim), "user_id", "inner")
    q = (joined.writeStream.outputMode("append")
         .format("memory").queryName("ss_join_out").start())
    q.processAllAvailable()
    q.stop()
    got = {(r.event_id, r.c_nationkey) for r in
           spark.sql("SELECT event_id, c_nationkey FROM ss_join_out")
           .collect()}
    want = {(r.event_id, r.c_nationkey) for r in
            ev.join(dim, "user_id").collect()}
    assert got == want and len(got) > 0


def test_quality_gate_epochs_idempotent_and_nonvacuous(spark, tmp_path):
    """The gate writes every doc exactly once across ≥2 epochs, flags
    split non-vacuously, and a REPLAYED epoch overwrites its own prior
    attempt instead of appending (the idempotent-sink contract)."""
    from pyspark.sql import functions as F

    from big_data_hw_23_24_spark.sources.tables import load_table
    from big_data_hw_23_24_spark.streaming.quality_gate import (
        StreamingQualityGate, run_quality_gate)
    from big_data_hw_23_24_spark.streaming.replay import (
        replay_shuffle_cap, write_microbatches)

    docs = load_table(spark, "/root/testdata/sf0.001", "documents") \
        .select("doc_id", "text").withColumn("seq", F.col("doc_id"))
    glob = write_microbatches(docs, str(tmp_path / "in"), n_buckets=5)
    stream = (spark.readStream
              .schema("doc_id long, text string, seq long")
              .option("maxFilesPerTrigger", 1).parquet(glob))
    gate = StreamingQualityGate(str(tmp_path / "out"))
    with replay_shuffle_cap(spark):
        run_quality_gate(spark, stream, gate, timeout_sec=120)

    res = gate.results(spark)
    assert res.count() == docs.count()
    assert res.select("doc_id").distinct().count() == docs.count()
    assert res.select("epoch").distinct().count() >= 2
    kept = res.where("kept").count()
    assert 0 < kept < docs.count()

    # replay epoch 0 with a DIFFERENT (partial) batch: the epoch dir
    # must be overwritten, never doubled
    epoch0 = {r.doc_id for r in res.where("epoch = 0").collect()}
    replay_batch = docs.where(F.col("doc_id").isin(*list(epoch0)[:3])) \
        .select("doc_id", "text")
    gate(replay_batch, 0)
    res2 = gate.results(spark)
    assert res2.where("epoch = 0").count() == 3
    assert res2.count() == docs.count() - len(epoch0) + 3


def test_streaming_ingest_minhash_statuses_and_idempotent_replay(
        spark, tmp_path):
    """E74+E28 composed (near-dup rung): per-epoch banded matching
    against prior epochs' signature store, keep-first within the
    batch, ALL signatures appended (near-dup is not transitive — a
    novel-only store would miss chains), replays idempotent."""
    import os

    from big_data_hw_23_24_spark.streaming.ingest_minhash import (
        StreamingIngestMinhash)

    base = " ".join(f"w{i}" for i in range(30))
    other = " ".join(f"x{i}" for i in range(30))
    batches = [
        [(1, base), (2, other)],
        # 3 = near-dup of 1 (prior epoch); 4+5 = twin pair whose only
        # match is each other (same epoch, keep-first)
        [(3, base + " t1 t2 t3"),
         (4, " ".join(f"y{i}" for i in range(30))),
         (5, " ".join(f"y{i}" for i in range(30)))],
        # 6 = near-dup of the DROPPED-as-dup 5's text: the all-signature
        # store must still catch it via 4/5
        [(6, " ".join(f"y{i}" for i in range(30)) + " t4 t5 t6"),
         (7, "short")],   # < 3 words after shingling? 1 word -> novel
    ]
    d = str(tmp_path / "docs")
    t0 = 1_700_000_000
    for i, rows in enumerate(batches):
        p = os.path.join(d, f"batch_{i}")
        spark.createDataFrame(rows, "doc_id long, text string") \
            .coalesce(1).write.mode("overwrite").parquet(p)
        for f in os.listdir(p):
            os.utime(os.path.join(p, f), (t0 + i, t0 + i))

    pipe = StreamingIngestMinhash(spark, str(tmp_path / "store"),
                                  threshold=0.5)
    stream = (spark.readStream.schema("doc_id long, text string")
              .option("maxFilesPerTrigger", 1)
              .parquet(os.path.join(d, "batch_*")))
    q = (stream.writeStream.foreachBatch(pipe)
         .trigger(availableNow=True).start())
    q.awaitTermination(180)

    expect = {1: "novel", 2: "novel", 3: "near_dup_corpus",
              4: "novel", 5: "near_dup_batch",
              6: "near_dup_corpus", 7: "novel"}
    got = {r.doc_id: r.status for r in pipe.statuses().collect()}
    assert got == expect
    # store holds every SIGNED doc's signature (7 has no shingles)
    sigs = pipe.corpus_signatures().collect()
    assert {r.doc_id for r in sigs} == {1, 2, 3, 4, 5, 6}

    # replay epoch 1: identical store and statuses afterwards
    pipe(spark.createDataFrame(batches[1], "doc_id long, text string"), 1)
    assert {r.doc_id for r in pipe.corpus_signatures().collect()} \
        == {1, 2, 3, 4, 5, 6}
    assert {r.doc_id: r.status for r in pipe.statuses().collect()} == expect


# --- streaming ingest health (r8) ---------------------------------------------

def test_health_report_unit_lag_math_and_placeholder_watermark(spark):
    """Deterministic unit face: exact lag arithmetic, epoch-zero
    watermark mapped to null (not a billion-hour lag), missing
    durations tolerated."""
    from big_data_hw_23_24_spark.streaming.health import health_report

    progress = [
        {"batchId": 0, "timestamp": "2026-01-01T00:00:10.000Z",
         "numInputRows": 100, "processedRowsPerSecond": 50.0,
         "durationMs": {"triggerExecution": 2000},
         "eventTime": {"watermark": "1970-01-01T00:00:00.000Z"}},
        {"batchId": 1, "timestamp": "2026-01-01T00:00:20.000Z",
         "numInputRows": 60, "processedRowsPerSecond": 30.0,
         "durationMs": {"triggerExecution": 1500},
         "eventTime": {"watermark": "2026-01-01T00:00:05.000Z"}},
        {"batchId": 2, "timestamp": "2026-01-01T00:00:30.000Z",
         "numInputRows": 0},
    ]
    rows = {r.batch_id: r for r in
            health_report(spark, progress).collect()}
    assert rows[0].watermark is None and rows[0].watermark_lag_ms is None
    assert rows[1].watermark_lag_ms == 15_000
    assert rows[1].trigger_ms == 1500
    assert rows[2].num_input_rows == 0 and rows[2].trigger_ms == 0
    assert rows[0].processed_rows_per_sec == 50.0


def test_streaming_ingest_health_invariants(spark):
    """End-to-end on the bounded replay: one row per trigger, batch
    ids strictly increasing, input rows conserved, watermark
    non-decreasing once emitted, lag non-negative."""
    from big_data_hw_23_24_spark.queries import _ensure_loaded, _REGISTRY

    _ensure_loaded()
    out = (_REGISTRY["streaming_ingest_health"]
           .spark_fn(spark, "/root/testdata/sf0.001")
           .orderBy("batch_id").collect())
    assert len(out) >= 5  # 5 micro-batch files -> >= 5 triggers
    ids = [r.batch_id for r in out]
    assert ids == sorted(set(ids))
    n_docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet").count()
    assert sum(r.num_input_rows for r in out) == n_docs
    wms = [r.watermark for r in out if r.watermark is not None]
    assert wms == sorted(wms) and len(wms) >= 1
    for r in out:
        if r.watermark_lag_ms is not None:
            assert r.watermark_lag_ms >= 0


# --- bounded backfill / catch-up over a lagged bucket range (E134) -------------

def _backfill_source(spark, tmp_path, n_docs=60, n_buckets=10):
    from big_data_hw_23_24_spark.streaming.replay import write_microbatches

    docs = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("doc body number "), F.col("id").cast("string"),
                 F.lit(" with some words")).alias("text"),
        F.col("id").alias("seq"))
    src = str(tmp_path / "bf_src")
    write_microbatches(docs, src, n_buckets=n_buckets)
    return src


def test_backfill_reads_only_the_lagged_range_and_covers_it(spark, tmp_path):
    """Epoch coverage: catch-up of buckets [4, 7] lands exactly the
    source rows of those buckets — nothing from outside the range ever
    reaches the sink (the range bound lives in the source glob)."""
    from big_data_hw_23_24_spark.streaming.backfill import (
        backfill_report, run_backfill)
    from big_data_hw_23_24_spark.streaming.replay import replay_shuffle_cap

    src = _backfill_source(spark, tmp_path)
    out = str(tmp_path / "bf_out")
    with replay_shuffle_cap(spark):
        sink = run_backfill(
            spark, src, "doc_id long, text string, seq long, bucket int",
            4, 7, out, str(tmp_path / "ck1"))
    landed = sink.read(spark)
    assert set(r.bucket for r in landed.select("bucket").distinct()
               .collect()) == {4, 5, 6, 7}
    # 60 docs / 10 buckets -> 6 per bucket, ids 24..47 in range
    assert sorted(r.doc_id for r in landed.collect()) == list(range(24, 48))
    rep = {r.bucket: r for r in backfill_report(landed).collect()}
    assert all(rep[b].n_docs == 6 for b in (4, 5, 6, 7))


def test_backfill_rerun_and_overlap_never_duplicate(spark, tmp_path):
    """Idempotence lives in the sink: re-running the same catch-up
    with a FRESH checkpoint, then an OVERLAPPING range [6, 9], lands
    every bucket exactly once (dynamic partition overwrite)."""
    from big_data_hw_23_24_spark.streaming.backfill import run_backfill
    from big_data_hw_23_24_spark.streaming.replay import replay_shuffle_cap

    src = _backfill_source(spark, tmp_path)
    out = str(tmp_path / "bf_out")
    schema = "doc_id long, text string, seq long, bucket int"
    with replay_shuffle_cap(spark):
        run_backfill(spark, src, schema, 4, 7, out, str(tmp_path / "c1"))
        # rerun, lost checkpoint — the outage double-run
        sink = run_backfill(spark, src, schema, 4, 7, out,
                            str(tmp_path / "c2"))
        # overlapping catch-up extends the range
        sink = run_backfill(spark, src, schema, 6, 9, out,
                            str(tmp_path / "c3"))
    landed = sink.read(spark)
    ids = sorted(r.doc_id for r in landed.collect())
    assert ids == list(range(24, 60))          # buckets 4..9, no dups
    per = {r.bucket: r.n for r in landed.groupBy("bucket")
           .agg(F.count("*").alias("n")).collect()}
    assert per == {b: 6 for b in range(4, 10)}


def test_backfill_multi_file_bucket_spans_batches_without_loss(
        spark, tmp_path):
    """The ADVICE r9 hazard: a bucket whose rows span two micro-batches
    (>1 file under maxFilesPerTrigger=1) must not have the later batch
    clobber the earlier one's rows. The sink lands per (bucket,
    src_part) so each source file owns its sub-partition; a rerun with
    a fresh checkpoint still lands every file exactly once."""
    from big_data_hw_23_24_spark.streaming.backfill import run_backfill
    from big_data_hw_23_24_spark.streaming.replay import replay_shuffle_cap

    src = _backfill_source(spark, tmp_path)
    extra = spark.range(1000, 1003).select(
        F.col("id").alias("doc_id"),
        F.lit("late second file in bucket five").alias("text"),
        F.col("id").alias("seq"))
    extra.coalesce(1).write.mode("append").parquet(src + "/bucket=5")
    out = str(tmp_path / "bf_out")
    schema = "doc_id long, text string, seq long, bucket int"
    with replay_shuffle_cap(spark):
        run_backfill(spark, src, schema, 4, 7, out, str(tmp_path / "m1"))
        # outage double-run with a lost checkpoint: still no dups
        sink = run_backfill(spark, src, schema, 4, 7, out,
                            str(tmp_path / "m2"))
    landed = sink.read(spark)
    ids = sorted(r.doc_id for r in landed.collect())
    assert ids == list(range(24, 48)) + [1000, 1001, 1002]
    per = {r.bucket: r.n for r in landed.groupBy("bucket")
           .agg(F.count("*").alias("n")).collect()}
    assert per == {4: 6, 5: 9, 6: 6, 7: 6}


def test_backfill_range_glob_validates(spark):
    import pytest as _pytest

    from big_data_hw_23_24_spark.streaming.backfill import bucket_range_glob

    assert bucket_range_glob("/x", 3, 5) == "/x/bucket={3,4,5}"
    with _pytest.raises(ValueError):
        bucket_range_glob("/x", 5, 3)
