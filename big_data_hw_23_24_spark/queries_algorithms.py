"""Algorithmic composite queries (SURVEY.md §2.8: C1-C5, K1-K2).

Points come from the deterministic events projection
(``sources.tables.POINTS_FROM_EVENTS_SQL``) so every oracle can state
the identical input. Default parameters D=1.0, M=10 are chosen to give
non-trivial outputs on that projection (≈23% exact outliers at sf0.01).
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from .operators.frequent import ReservoirSampler, StickySampler
from .operators.outliers import cell_grid_stats, exact_outliers, mr_approx_outliers
from .queries import POINTS_CTE, _points, register
from .sources.tables import load_table

D, M = 1.0, 10
LAM = D / (2.0 * math.sqrt(2.0))
# repr() round-trips the exact double so DuckDB computes the identical
# grid as the Spark plan.
_CELLS_CTE = f"""
cells AS (
  SELECT CAST(floor(x / {LAM!r}) AS INT) AS ci,
         CAST(floor(y / {LAM!r}) AS INT) AS cj,
         count(*) AS size
  FROM points GROUP BY 1, 2
),
stats AS (
  SELECT a.ci, a.cj, a.size,
         CAST(sum(CASE WHEN abs(b.ci - a.ci) <= 1
                        AND abs(b.cj - a.cj) <= 1
                       THEN b.size ELSE 0 END) AS BIGINT) AS n3,
         CAST(sum(b.size) AS BIGINT) AS n7
  FROM cells a JOIN cells b
    ON abs(b.ci - a.ci) <= 3 AND abs(b.cj - a.cj) <= 3
  GROUP BY a.ci, a.cj, a.size
)"""


# --- C2 Step A: grid histogram (P1 + A1) ------------------------------------
@register(
    "cell_grid_histogram",
    f"""
    {POINTS_CTE},
    {_CELLS_CTE}
    SELECT ci, cj, size FROM cells
    """,
    doc="P1+A1: Λ-grid cell histogram (G019HW1.java:183-189)",
)
def cell_grid_histogram(spark, sf_dir):
    return cell_grid_stats(_points(spark, sf_dir), D) \
        .select("ci", "cj", "size")


# --- C2: MRApproxOutliers summary -------------------------------------------
# The reference computes Step B in a driver loop over collected cells
# (G019HW1.java:209-270); our whole pipeline is one Catalyst plan. The
# oracle uses the range-join formulation, the Spark plan the
# offset-explode equi-join — same semantics, different physical shape.
@register(
    "mr_approx_outliers",
    f"""
    {POINTS_CTE},
    {_CELLS_CTE}
    SELECT CAST(sum(CASE WHEN n7 <= {M} THEN size ELSE 0 END) AS BIGINT)
             AS sure_outliers,
           CAST(sum(CASE WHEN n3 <= {M} AND n7 > {M} THEN size ELSE 0 END)
             AS BIGINT) AS uncertain_points
    FROM stats
    """,
    doc="C2 sure/uncertain outlier summary (G019HW1.java:272-275)",
)
def mr_approx(spark, sf_dir):
    return mr_approx_outliers(_points(spark, sf_dir), D, M)


# --- C2 top-K cells (O1/O2: sort + limit) -----------------------------------
@register(
    "smallest_cells_topk",
    f"""
    {POINTS_CTE},
    {_CELLS_CTE}
    SELECT ci, cj, size FROM cells
    ORDER BY size, ci, cj LIMIT 10
    """,
    doc="O1+O2: first K cells by non-decreasing size "
        "(TakeOrderedAndProject, vs the reference's full sortByKey)",
)
def smallest_cells_topk(spark, sf_dir):
    cells = cell_grid_stats(_points(spark, sf_dir), D) \
        .select("ci", "cj", "size")
    return cells.orderBy("size", "ci", "cj").limit(10)


# --- C1: exact outliers (J1 reshaped to a grid equi-join) -------------------
# The oracle states the O(N²) theta-join definition; the Spark plan is
# the scalable grid-bucketed equi-join (operators/outliers.py). Band
# predicates in the oracle keep DuckDB's IEJoin fast at sf0.01.
@register(
    "exact_outliers",
    f"""
    {POINTS_CTE}
    SELECT a.pid AS pid, count(*) AS n_neighbors
    FROM points a JOIN points b
      ON b.x BETWEEN a.x - {D} AND a.x + {D}
     AND b.y BETWEEN a.y - {D} AND a.y + {D}
     AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) < {D} * {D}
    GROUP BY a.pid
    HAVING count(*) <= {M}
    """,
    doc="C1 exact (M,D)-outliers with neighbor counts "
        "(G019HW1.java:119-143; self included, dist strictly < D)",
)
def exact_outliers_q(spark, sf_dir):
    return exact_outliers(_points(spark, sf_dir), D, M) \
        .select("pid", "n_neighbors")


@register(
    "exact_outliers_topk",
    f"""
    {POINTS_CTE}
    SELECT a.pid AS pid, count(*) AS n_neighbors
    FROM points a JOIN points b
      ON b.x BETWEEN a.x - {D} AND a.x + {D}
     AND b.y BETWEEN a.y - {D} AND a.y + {D}
     AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) < {D} * {D}
    GROUP BY a.pid
    HAVING count(*) <= {M}
    ORDER BY n_neighbors, pid LIMIT 10
    """,
    doc="C1 report: first K outliers by non-decreasing neighbor count "
        "(G019HW1.java:148-166)",
)
def exact_outliers_topk(spark, sf_dir):
    return exact_outliers(_points(spark, sf_dir), D, M) \
        .select("pid", "n_neighbors") \
        .orderBy("n_neighbors", "pid").limit(10)


# --- C3/C4: MRFFT (iterative; rows-only check + property tests) -------------
@register(
    "mrfft_radius",
    None,  # farthest-first traversal is iterative — not SQL-expressible
    doc="C4 MRFFT: coreset mapInPandas → driver FFT → broadcast radius "
        "(G016HW2.java:164-220); pinned L=8 for reproducibility",
)
def mrfft_radius(spark, sf_dir):
    from .operators.clustering import mrfft

    pts = _points(spark, sf_dir).select("x", "y")
    _, radius = mrfft(pts, k=10, num_partitions=8)
    return spark.createDataFrame([(10, float(radius))], "k int, radius double")


@register(
    "mrfft_centers",
    None,
    doc="C4 centers (k=10, L=8): the coreset-then-driver-FFT output",
)
def mrfft_centers(spark, sf_dir):
    from .operators.clustering import mrfft

    pts = _points(spark, sf_dir).select("x", "y")
    centers, _ = mrfft(pts, k=10, num_partitions=8)
    rows = [(i, float(x), float(y)) for i, (x, y) in enumerate(centers)]
    return spark.createDataFrame(rows, "center_id int, x double, y double")


# --- K1/K2: sequential samplers (seeded; rows-only) -------------------------
# Sequential by definition (guarantees quantify over arrival order);
# run driver-side over the ts-ordered item sequence exactly like the
# reference's per-batch driver loop (G016HW3.java:104-134). The
# streaming harness in streaming/frequent_stream.py feeds them
# per-micro-batch; here the batch face replays the n-capped sequence
# for a deterministic, seeded result.

# The reference bounds the stream at n items read from the CLI
# (G016HW3.java:80-88, the S5 bounded-read guard); this batch face pins
# the same contract at n = 10_000: the first 10k (ts, event_id)-ordered
# items. At sf0.001/sf0.01 that covers every event (outputs identical
# to the uncapped replay); at any larger SF the driver pull stays
# bounded — the limit runs as a distributed TakeOrderedAndProject, so
# no executor ships more than n rows and the driver never materializes
# the whole table.
ITEM_SEQUENCE_N = 10_000


def _item_sequence(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    rows = (e.select("user_id", "ts", "event_id")
            .orderBy("ts", "event_id").limit(ITEM_SEQUENCE_N)
            .select("user_id").collect())
    return [r.user_id for r in rows]


@register(
    "reservoir_sample_users",
    None,
    doc="K1 reservoir sampling, m=⌈1/phi⌉, phi=0.01, seed=42, over the "
        "first n=10000 ts-ordered items (the reference's S5 bounded "
        "stream, G016HW3.java:80-88,103-120)",
)
def reservoir_sample_users(spark, sf_dir):
    items = _item_sequence(spark, sf_dir)
    sampler = ReservoirSampler(m=math.ceil(1 / 0.01), seed=42)
    sampler.add_many(items)
    rows = [(int(i),) for i in sampler.estimated_frequent()]
    return spark.createDataFrame(rows, "item bigint")


def _run_c5_harness(spark, sf_dir):
    """Run the C5 streaming harness over deterministic file-replay
    micro-batches of the first 80% of the ts-ordered event item
    sequence; returns the finished monitor (exact histogram +
    reservoir + sticky)."""
    import shutil
    import tempfile

    from .streaming.frequent_stream import (FrequentItemsMonitor,
                                            run_frequent_items)
    from .streaming.replay import write_microbatches

    seq = _event_item_seq(spark, sf_dir)
    total = seq.count()
    n = int(total * 0.8)
    d = tempfile.mkdtemp(prefix="sfi_stream_")
    try:
        glob = write_microbatches(seq, d, n_buckets=10)
        stream = (spark.readStream.schema("seq long, item long")
                  .option("maxFilesPerTrigger", 1).parquet(glob))
        monitor = FrequentItemsMonitor(n=n, phi=0.007, eps=0.003, delta=0.1)
        run_frequent_items(spark, stream, monitor, timeout_sec=120)
        assert monitor.stream_length == n, \
            f"harness saw {monitor.stream_length} of {n} items"
        return monitor
    finally:
        shutil.rmtree(d, ignore_errors=True)


@register(
    "streaming_frequent_items",
    None,
    doc="C5 end-to-end: Structured Streaming foreachBatch harness over "
        "deterministic file-source micro-batches of the events item "
        "sequence; returns the sticky estimate with ± truth annotation "
        "(G016HW3.java:39-231); rows-only (seeded RNG samplers)",
)
def streaming_frequent_items(spark, sf_dir):
    monitor = _run_c5_harness(spark, sf_dir)
    return monitor.report(spark)["sticky"]


# The exact branch of the same harness IS oracle-checkable: the monitor
# trims the crossing micro-batch to exactly n items in seq order, so
# the true-frequent set is a pure function of the first ⌊0.8·N⌋ items
# of the ts-ordered stream — the streaming_ingest_dedup recomputation
# move applied to C5's histogram.
@register(
    "streaming_frequent_exact",
    """
    WITH seq AS (
      SELECT user_id AS item,
             row_number() OVER (ORDER BY ts, event_id) AS rn
      FROM events
    ),
    n AS (SELECT CAST(floor(count(*) * 0.8) AS BIGINT) AS n FROM events),
    h AS (
      SELECT item, count(*) AS cnt
      FROM seq, n WHERE rn <= n.n GROUP BY item
    )
    SELECT item, cnt::BIGINT AS cnt
    FROM h, n WHERE cnt >= 0.007 * n.n
    """,
    doc="C5 exact true-frequent items (phi=0.007) over the first 80% "
        "of the event stream, computed by the real foreachBatch "
        "micro-batch harness and value-checked against full-sequence "
        "SQL recomputation (G016HW3.java:91-101,148-160)",
)
def streaming_frequent_exact(spark, sf_dir):
    monitor = _run_c5_harness(spark, sf_dir)
    return monitor.true_frequent(spark)


def _event_item_seq(spark, sf_dir):
    """(seq, item) = ts-ordered user_id sequence with a dense 0-based
    index — the deterministic arrival order every streaming harness
    replays."""
    from pyspark.sql import Window as W

    e = load_table(spark, sf_dir, "events")
    w = W.orderBy("ts", "event_id")
    return (e.select(F.col("user_id").alias("item"), "ts", "event_id")
            .withColumn("seq", F.row_number().over(w) - 1)
            .select("seq", "item"))


# --- DistinctItemsExample parity: streaming exact distinct-count -------------
# Oracle-checkable because the monitor trims the crossing batch to
# exactly n items in sequence order, making the answer a pure function
# of the first ⌊0.8·N⌋ items of the ts-ordered stream.
@register(
    "streaming_distinct_count",
    """
    WITH seq AS (
      SELECT user_id, row_number() OVER (ORDER BY ts, event_id) AS rn
      FROM events
    )
    SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_distinct
    FROM seq
    WHERE rn <= (SELECT CAST(floor(count(*) * 0.8) AS BIGINT) FROM events)
    """,
    doc="streaming exact distinct items over the first 80% of the "
        "event stream (DistinctItemsExample.py:21-26 parity; "
        "foreachBatch harness with distributed per-batch distinct)",
)
def streaming_distinct_count(spark, sf_dir):
    import shutil
    import tempfile

    from .streaming.distinct_stream import DistinctItemsMonitor, run_distinct_items
    from .streaming.replay import write_microbatches

    seq = _event_item_seq(spark, sf_dir)
    total = seq.count()
    n = int(total * 0.8)
    d = tempfile.mkdtemp(prefix="sdc_stream_")
    try:
        glob = write_microbatches(seq, d, n_buckets=10)
        stream = (spark.readStream.schema("seq long, item long")
                  .option("maxFilesPerTrigger", 1).parquet(glob))
        monitor = DistinctItemsMonitor(n=n)
        run_distinct_items(spark, stream, monitor, timeout_sec=120)
        return spark.createDataFrame([(monitor.distinct_count(),)],
                                     "n_distinct bigint")
    finally:
        shutil.rmtree(d, ignore_errors=True)


# The state-store sibling of streaming_distinct_count: Spark's own
# dropDuplicates stateful operator over the same replayed stream.
# Oracle-checkable because the operator's contract — every distinct key
# emitted exactly once across all micro-batches — is arrival-order
# independent (no n-trim here; state covers the whole stream).
@register(
    "streaming_dropdup_items",
    """
    SELECT DISTINCT user_id AS item FROM events
    """,
    doc="streaming stateful dedup via Spark's dropDuplicates state "
        "store: each distinct event user emitted exactly once over "
        "deterministic file-replay micro-batches (idiomatic scale face "
        "of DistinctItemsExample.py:21-26; state in RocksDB on a "
        "cluster, dropDuplicatesWithinWatermark bounds it)",
)
def streaming_dropdup_items(spark, sf_dir):
    import shutil
    import tempfile

    from .streaming.distinct_stream import streaming_distinct_keys
    from .streaming.replay import replay_shuffle_cap, write_microbatches

    seq = _event_item_seq(spark, sf_dir)
    d = tempfile.mkdtemp(prefix="sdd_stream_")
    try:
        glob = write_microbatches(seq, d, n_buckets=10)
        stream = (spark.readStream.schema("seq long, item long")
                  .option("maxFilesPerTrigger", 1).parquet(glob))
        with replay_shuffle_cap(spark):
            items = streaming_distinct_keys(stream)
        assert len(items) == len(set(items)), "key emitted twice"
        return spark.createDataFrame([(int(i),) for i in sorted(items)],
                                     "item bigint")
    finally:
        shutil.rmtree(d, ignore_errors=True)


@register(
    "sticky_sample_users",
    None,
    doc="K2 sticky sampling, phi=0.01 ε=0.005 δ=0.1, seed=42, over the "
        "first n=10000 ts-ordered items (the reference's S5 bounded "
        "stream, G016HW3.java:80-88,122-133)",
)
def sticky_sample_users(spark, sf_dir):
    items = _item_sequence(spark, sf_dir)
    sampler = StickySampler(phi=0.01, eps=0.005, delta=0.1, n=len(items),
                            seed=42)
    sampler.add_many(items)
    rows = [(int(k), int(v)) for k, v in sorted(sampler.table.items())
            if v >= (0.01 - 0.005) * len(items)]
    return spark.createDataFrame(rows, "item bigint, cnt bigint")


# --- stateful streaming sessionization (applyInPandasWithState) --------------
# The streaming UDAF extension point: per-user gap sessions maintained
# in the executor-side state store across micro-batches, NOT on the
# driver (contrast the reference's driver HashMaps, G016HW3.java:67-72).
# Oracle-checkable because (a) the replay is globally ts-ordered, so
# state transitions are a pure function of the event sequence, and
# (b) a per-user sentinel event 3 hours past the global max timestamp
# closes every real session deterministically (the sentinel's own
# 1-event session stays open and is never emitted).
@register(
    "streaming_sessions",
    """
    WITH brk AS (
      SELECT user_id, ts,
             CASE WHEN prev_ts IS NULL OR ts - prev_ts > INTERVAL 1 HOUR
                  THEN 1 ELSE 0 END AS new_session
      FROM (SELECT user_id, ts,
                   lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     AS prev_ts
            FROM events)
    ),
    sess AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id
               ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
      FROM brk
    )
    SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
           CAST(count(*) AS BIGINT) AS n_events
    FROM sess GROUP BY user_id, sid
    """,
    doc="stateful streaming sessionization: applyInPandasWithState "
        "kernel over replayed micro-batches, state-store-backed open "
        "sessions, sentinel flush (batch lag-window oracle)",
)
def streaming_sessions(spark, sf_dir):
    import shutil
    import tempfile

    from pyspark.sql import Window as W

    from .streaming.replay import replay_shuffle_cap, write_microbatches
    from .streaming.sessions import run_sessionize

    e = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    # per-user sentinel 3h (> the 1h gap) past the global max ts closes
    # every real session; computed relationally (scalar subquery), the
    # only driver action is the streaming harness itself
    max_ts = e.agg(F.max("ts").alias("m"))
    sentinels = (e.select("user_id").distinct().crossJoin(max_ts)
                 .select("user_id",
                         (F.col("m") + F.expr("INTERVAL 3 HOURS")).alias("ts"),
                         F.lit(None).cast("long").alias("event_id")))
    allev = e.unionByName(sentinels)
    # single-partition ordering window: replay-harness-only (the same
    # convention as _event_item_seq) — a production deployment consumes
    # an already time-ordered source instead of sequencing it here
    w = W.orderBy("ts", "event_id")
    seq = allev.withColumn("seq", F.row_number().over(w) - 1) \
        .select("seq", "user_id", "ts")

    d = tempfile.mkdtemp(prefix="sess_stream_")
    try:
        glob = write_microbatches(seq, d, n_buckets=8)
        stream = (spark.readStream
                  .schema("seq long, user_id long, ts timestamp")
                  .option("maxFilesPerTrigger", 1).parquet(glob))
        with replay_shuffle_cap(spark):
            out = run_sessionize(spark, stream)
            # localCheckpoint: the memory-sink table is session-scoped;
            # pin the rows so the returned DF survives stream cleanup
            return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(d, ignore_errors=True)


# --- watermarked stream-stream interval join ---------------------------------
# The streaming face of order_events_3d: orders and events replayed as
# two independent micro-batched file streams, inner-joined live on
# (customer key, event ts within 3 days of the order) with watermarks
# on both sides so join state self-evicts. The matched pairs are then
# finished with the same relational aggregate as the batch query, so
# the batch inequality-join oracle applies verbatim — a green row
# certifies the stream-stream join loses and invents nothing on an
# in-order replay.
@register(
    "streaming_order_events_3d",
    """
    SELECT o.o_orderkey,
           CAST(count(e.event_id) AS BIGINT) AS n_events_3d
    FROM orders o LEFT JOIN events e
      ON e.user_id = o.o_custkey
     AND e.ts >= o.o_orderdate
     AND e.ts < o.o_orderdate + INTERVAL 3 DAY
    GROUP BY o.o_orderkey
    """,
    doc="watermarked stream-stream interval join (new surface): two "
        "replayed streams, state-store-buffered inner join, batch "
        "finishing aggregate; oracle = the batch inequality join",
)
def streaming_order_events_3d(spark, sf_dir):
    import shutil
    import tempfile

    from pyspark.sql import Window as W

    from .streaming.joins import run_interval_join
    from .streaming.replay import replay_shuffle_cap, write_microbatches

    od = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts")
    # replay-harness-only global sequencing (same convention as
    # streaming_sessions): production consumes already-ordered sources
    od_seq = od.withColumn(
        "seq", F.row_number().over(W.orderBy("o_orderdate", "o_orderkey")) - 1)
    ev_seq = ev.withColumn(
        "seq", F.row_number().over(W.orderBy("ts", "event_id")) - 1)

    d = tempfile.mkdtemp(prefix="ssjoin_stream_")
    try:
        og = write_microbatches(od_seq, f"{d}/orders", n_buckets=6)
        eg = write_microbatches(ev_seq, f"{d}/events", n_buckets=6)
        os_ = (spark.readStream
               .schema("o_orderkey long, o_custkey long, "
                       "o_orderdate timestamp, seq long")
               .option("maxFilesPerTrigger", 1).parquet(og)
               .drop("seq"))
        es = (spark.readStream
              .schema("event_id long, user_id long, ts timestamp, seq long")
              .option("maxFilesPerTrigger", 1).parquet(eg)
              .drop("seq"))
        with replay_shuffle_cap(spark):
            pairs = run_interval_join(
                spark, os_, es, "o_custkey", "user_id", "o_orderdate",
                "ts", 3 * 86400)
        counts = pairs.groupBy("o_orderkey") \
            .agg(F.count("event_id").alias("n_events_3d"))
        out = (od.select("o_orderkey")
               .join(counts, "o_orderkey", "left")
               .select("o_orderkey",
                       F.coalesce("n_events_3d", F.lit(0))
                       .alias("n_events_3d")))
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(d, ignore_errors=True)
