"""Event-volume time-series diagnostics: trailing-baseline anomaly
scores.

A pipeline ingesting event streams (or document crawls) wants "did
today's volume for this slice deviate from its recent baseline" as a
standing health check — ingestion failures read as z ≪ 0, bot floods
and crawler loops as z ≫ 0. The classic rule: z-score of today's
count against the TRAILING window (yesterday and back), never
including the scored day in its own baseline.

Shape: one (key, day) pre-aggregate — map-side combinable, one
shuffle — then window functions over the per-day table, PARTITIONED
BY key and ordered by day with a bounded ROWS frame. The windowed
side is days × keys rows (tiny vs the event table), so the window
never sees corpus-scale data; at 100 TB of events the only heavy step
is the first aggregate, which is the minimum possible work for the
answer.

Reference scope: extends the reference's A1/A8 aggregate tier
(G016HW2.java histogram aggregates) with the event-analytics surface
the north-star asks for.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

MIN_BASELINE = 3  # trailing days an anomaly baseline needs
MAX_DECAY_DAYS = 19  # age past which an event no longer trends
SESSION_GAP_MINUTES = 30  # inter-event gap that ends a session
SESSION_PATH_DEPTH = 3  # event types in a session's opening path
MAX_SPAN_BUCKETS = 4096  # buckets one interval may explode to
TRENDING_K = 20  # items trending_items returns
ATTRIBUTION_LOOKBACK_HOURS = 24  # touches a conversion credits


def daily_anomaly_scores(events: DataFrame) -> DataFrame:
    """Per-(event_type, day) count anomaly vs the trailing-7-day
    baseline → ``(event_type, day, n, baseline_avg, baseline_std, z,
    is_anomaly)``.

    ``z = (n − avg) / std`` over the ROWS frame ``[−7, −1]`` (strictly
    prior days); null when the baseline has fewer than
    ``MIN_BASELINE`` days or zero variance — a flat baseline
    makes any deviation infinite-z, which is a data-quality signal of
    its own, not an anomaly score. ``is_anomaly`` is the
    ``|z| > 2`` decision with nulls coalesced to false.
    """
    daily = (events
             .groupBy(F.col("event_type"), F.to_date("ts").alias("day"))
             .agg(F.count("*").alias("n")))
    w = (Window.partitionBy("event_type").orderBy("day")
         .rowsBetween(-7, -1))
    avg = F.avg("n").over(w)
    std = F.stddev_samp("n").over(w)
    cnt = F.count("n").over(w)
    z = F.when((cnt >= MIN_BASELINE) & (std > 0),
               (F.col("n") - avg) / std)
    return (daily
            .select("event_type", "day",
                    F.col("n").cast("long").alias("n"),
                    F.when(cnt >= MIN_BASELINE, F.round(avg, 6))
                    .alias("baseline_avg"),
                    F.when(cnt >= MIN_BASELINE, F.round(std, 6))
                    .alias("baseline_std"),
                    F.round(z, 6).alias("z"),
                    F.coalesce(F.abs(z) > 2.0, F.lit(False))
                    .alias("is_anomaly")))


def ticks_us(events: DataFrame):
    """Integer-microsecond tick Column for ``events.ts``, engine-portable.

    TIMESTAMP and TIMESTAMP_NTZ (the parquet NANOS column surfaces as
    either depending on session conf history) go through
    ``unix_micros(cast(ts as timestamp))`` — the cast applies a
    constant session-tz offset, which cancels wherever ticks are used
    as DIFFERENCES or an ordering. NOT every use in this package is a
    difference any more: the rolling-distinct-KMV and EWMA-forecast
    faces bucket ABSOLUTE days via ``floor(ticks / 86 400e6)``, where
    the offset does not cancel against DuckDB's ``epoch_ns`` unless
    the Spark session timezone is UTC — ``session.py`` pins UTC for
    every harness entrypoint, and the registry faces that bucket
    absolute days pin it on their own session too; a non-UTC caller
    session would otherwise shift a near-midnight event across a day
    boundary relative to the oracle.
    An already-integer column is used as-is (caller's tick unit).
    DuckDB's identical integer is ``epoch_ns(ts) // 1000``.
    """
    dtype = dict(events.dtypes).get("ts", "")
    if dtype == "bigint":
        return F.col("ts")
    return F.unix_micros(F.col("ts").cast("timestamp"))

def user_activity_profile(events: DataFrame) -> DataFrame:
    """Inter-arrival burstiness profile per user → ``(user_id,
    n_events, n_gaps, min_gap_us, mean_gap_us, n_bursts,
    burst_flag)`` — the bot/automation screen over an event log.

    A burst is a gap shorter than a QUARTER of the user's own mean
    gap (self-normalized, so the screen is rate- and scale-invariant:
    the same definition works at sf0.001 and at production volume);
    ``burst_flag`` fires when more than a quarter of a user's ≥
    5 gaps are bursts — organic exponential arrivals sit
    right at that line (P[gap < mean/4] ≈ 0.22), schedulers and
    scripted replays sit far above it. All arithmetic is INTEGER
    microseconds — ``unix_micros`` of the timestamp column (means use
    integer division), so both engines agree exactly; an already-
    integer ``ts`` is used as-is (caller's tick unit).

    Scale shape: one user-keyed lag window, one user-keyed
    sum/count window over the 16-byte (user, gap) projection, one
    keyed aggregate. Ties in arrival order break on the event id.
    """
    tick = ticks_us(events)
    w = Window.partitionBy("user_id").orderBy(tick, F.col("event_id"))
    g = events.select(
        F.col("user_id"),
        (tick - F.lag(tick).over(w)).alias("gap_us"))
    wu = Window.partitionBy("user_id")
    m = g.select(
        "user_id", "gap_us",
        F.sum("gap_us").over(wu).alias("_tot"),
        F.count("gap_us").over(wu).alias("_cnt"))
    burst = F.expr("CASE WHEN _cnt > 0 AND gap_us * 4 < _tot div _cnt "
                   "THEN 1 ELSE 0 END")
    agg = (m.groupBy("user_id")
           .agg(F.max("_cnt").cast("long").alias("n_gaps"),
                F.min("gap_us").alias("min_gap_us"),
                F.max("_tot").alias("_tot"),
                F.sum(burst).cast("long").alias("n_bursts")))
    return (agg.select(
        "user_id",
        (F.col("n_gaps") + 1).alias("n_events"),
        "n_gaps", "min_gap_us",
        F.expr("CASE WHEN n_gaps > 0 THEN _tot div n_gaps END")
        .alias("mean_gap_us"),
        "n_bursts",
        ((F.col("n_gaps") >= 5)
         & (F.col("n_bursts") * 4 > F.col("n_gaps")))
        .alias("burst_flag")))


def session_paths(events: DataFrame) -> DataFrame:
    """Top-of-session path mining → ``(path, n_sessions)``: sessions
    are maximal runs with inter-event gaps ≤ ``SESSION_GAP_MINUTES``;
    a session's path is its first ``SESSION_PATH_DEPTH`` event types
    joined with '>' — the "how do visits start" report behind
    navigation and onboarding analysis (the funnel tests ONE path; this reports the
    empirical distribution of observed openings).

    Sessionization is the gaps-and-islands form of the stateful
    streaming sessionizer (new-session marker from a keyed lag,
    island id from a keyed running sum — deterministic, tie-broken on
    the event id), then one keyed aggregate assembles each session's
    ordered prefix and one hash aggregate counts paths. Ticks are
    integer microseconds (``ticks_us``), so gap comparisons are exact
    in both engines.
    """
    tick = ticks_us(events)
    w = Window.partitionBy("user_id").orderBy(tick, F.col("event_id"))
    gap_us = SESSION_GAP_MINUTES * 60 * 1_000_000
    gap = tick - F.lag(tick).over(w)
    new_sess = (gap.isNull() | (gap > gap_us)).cast("int")
    run = (Window.partitionBy("user_id").orderBy(tick, F.col("event_id"))
           .rowsBetween(Window.unboundedPreceding, 0))
    s = events.select(
        F.col("user_id"), F.col("event_type"), F.col("event_id"),
        tick.alias("_tk"),
        F.sum(new_sess).over(run).alias("_sid"))
    per = (s.groupBy("user_id", "_sid")
           .agg(F.array_join(
               F.slice(F.transform(
                   F.sort_array(F.collect_list(
                       F.struct("_tk", "event_id", "event_type"))),
                   lambda r: r["event_type"]), 1, SESSION_PATH_DEPTH),
               ">")
               .alias("path")))
    return (per.groupBy("path")
            .agg(F.count("*").cast("long").alias("n_sessions")))


def trending_items(events: DataFrame) -> DataFrame:
    """Time-decayed trending items → top-``TRENDING_K`` ``(item,
    n_events, decayed_micros)`` by exponentially decayed event counts
    (half-life = one day).

    The freshness-weighted complement of the plain frequent-items
    faces: yesterday's spike outranks last week's steady drip. The
    decay weight is deliberately INTEGER MICROS — each event
    contributes ``floor(1e6 / 2^days_ago)`` (0 past
    ``MAX_DECAY_DAYS``, where the contribution is sub-micro anyway) —
    so the score is an exact integer sum: no float summation, no
    cross-engine ulp, no pow() library variance. Days are integer
    day-numbers off the µs tick (``ticks_us``), and "now" is the
    corpus max day, riding the plan as a 1-row broadcast aggregate
    (the IdentityBroadcast pattern — the operator stays lazy).

    One narrow map + one hash aggregate + TakeOrderedAndProject;
    output is totally ordered by (decayed desc, item) so the top-k
    SET is deterministic even at the boundary.
    """
    day = F.floor(ticks_us(events) / F.lit(86_400_000_000)) \
        .cast("long")
    base = (events.where(F.col("item").isNotNull())
            .select(F.col("item"), day.alias("_day")))
    ref = base.agg(F.max("_day").alias("_ref"))
    d = F.col("_ref") - F.col("_day")
    # 2^d via pow on a capped exponent: exactly representable doubles
    # for every d <= MAX_DECAY_DAYS, so the floor'd quotient is the
    # identical integer in both engines (shiftleft would be the
    # natural form but takes only a literal bit count)
    denom = F.pow(F.lit(2.0), F.least(d, F.lit(MAX_DECAY_DAYS)))
    w = F.when(d <= MAX_DECAY_DAYS,
               F.floor(F.lit(1_000_000) / denom)).otherwise(F.lit(0)) \
        .cast("long")
    return (base.crossJoin(F.broadcast(ref))
            .select("item", w.alias("_w"))
            .groupBy("item")
            .agg(F.count("*").cast("long").alias("n_events"),
                 F.sum("_w").cast("long").alias("decayed_micros"))
            .orderBy(F.col("decayed_micros").desc(), "item")
            .limit(TRENDING_K))


def attribution_report(events: DataFrame, conversion_type: str,
                       touch_types: list[str]) -> DataFrame:
    """U-shaped (position-based) multi-touch attribution (E152) →
    ``(channel, n_touches, credit_ppm)``.

    The marketing-analytics classic: each conversion distributes one
    unit of credit over the touch events of the same user in the
    preceding ``ATTRIBUTION_LOOKBACK_HOURS`` — 40% to the first touch, 40%
    to the last, the middle 20% split evenly (1 touch → 100%, 2 →
    50/50). Credit is INTEGER PARTS-PER-MILLION (middle shares floor-
    divided), so the per-channel totals are exact integer sums — no
    float summation-order hazard across engines at any row count (the
    integer-micro decay convention). Conversions with no touch in the
    window are reported under the ``(none)`` channel, so total credit
    ≈ conversions x 1M (minus middle-share flooring) and nothing is
    silently dropped.

    Scale shape: the touch join is user-keyed (equi) with the time
    window as a residual predicate — fan-out is bounded by a user's
    activity inside the lookback; position ranks come from a window
    PARTITIONED by conversion id (groups bounded the same way); the
    unattributed side is one anti-join on the same keys.
    """
    # ticks only ever feed differences and ordering here, so the
    # constant session-tz offset ticks_us may apply cancels out
    us = ticks_us(events)
    look = ATTRIBUTION_LOOKBACK_HOURS * 3_600_000_000
    conv = (events.where(F.col("event_type") == conversion_type)
            .select(F.col("user_id").alias("_u"),
                    F.col("event_id").alias("_cid"), us.alias("_cts")))
    touch = (events.where(F.col("event_type").isin(touch_types))
             .select(F.col("user_id").alias("_u"),
                     F.col("event_id").alias("_tid"),
                     F.col("event_type").alias("channel"),
                     us.alias("_tts")))
    cond = [conv["_u"] == touch["_u"],
            touch["_tts"] < conv["_cts"],
            touch["_tts"] >= conv["_cts"] - look]
    pairs = conv.join(touch, cond).select("_cid", "channel", "_tts", "_tid")
    w = Window.partitionBy("_cid")
    wr = w.orderBy("_tts", "_tid")
    ranked = pairs.select(
        "channel",
        F.count("*").over(w).alias("_n"),
        F.row_number().over(wr).alias("_r"))
    credit = (F.when(F.col("_n") == 1, F.lit(1_000_000))
              .when(F.col("_n") == 2, F.lit(500_000))
              .when((F.col("_r") == 1) | (F.col("_r") == F.col("_n")),
                    F.lit(400_000))
              .otherwise((F.lit(200_000)
                          / (F.col("_n") - 2)).cast("long")))
    att = (ranked.select("channel", credit.alias("_c"))
           .groupBy("channel")
           .agg(F.count("*").cast("long").alias("n_touches"),
                F.sum("_c").cast("long").alias("credit_ppm")))
    unatt = (conv.join(touch, cond, "left_anti")
             .agg(F.count("*").cast("long").alias("_n0"))
             .select(F.lit("(none)").alias("channel"),
                     F.lit(0).cast("long").alias("n_touches"),
                     (F.col("_n0") * 1_000_000).cast("long")
                     .alias("credit_ppm")))
    return att.unionByName(unatt)


def calendar_gaps(df: DataFrame, date_col: str) -> DataFrame:
    """Missing-day report per group (E159) → ``(group, gap_start,
    gap_end, n_days)``: runs of consecutive calendar days between each
    group's first and last observed day on which the group produced NO
    rows — the feed-outage / crawl-gap audit every ingestion pipeline
    wants before it trusts a "daily" table.

    Plan: one hash aggregate to distinct (group, day) — the only
    corpus-scale pass — then everything is day-grid-sized: per-group
    min/max, a ``sequence`` calendar spine (days × groups rows), a
    left-anti join against the observed days, and the classic
    gaps-and-islands grouping ``day − row_number`` (consecutive missing
    days share the key). The island window partitions by group over
    MISSING days only — bounded by the spine, never by the corpus.
    Day columns are returned as ISO strings (the E72 convention: a
    date column round-trips engines with dtype hazards; a string
    doesn't).
    """
    obs = (df.select(F.col("event_type").alias("grp"),
                     F.col(date_col).cast("date").alias("d"))
           .where(F.col("d").isNotNull()).distinct())
    rng = obs.groupBy("grp").agg(F.min("d").alias("_d0"),
                                 F.max("d").alias("_d1"))
    spine = rng.select(
        "grp", F.explode(F.sequence("_d0", "_d1")).alias("d"))
    missing = spine.join(obs, ["grp", "d"], "left_anti")
    w = Window.partitionBy("grp").orderBy("d")
    isl = missing.withColumn("_k", F.date_sub("d", F.row_number().over(w)))
    return (isl.groupBy("grp", "_k")
            .agg(F.min("d").cast("string").alias("gap_start"),
                 F.max("d").cast("string").alias("gap_end"),
                 F.count("*").cast("long").alias("n_days"))
            .select(F.col("grp").alias("event_type"),
                    "gap_start", "gap_end", "n_days"))


def interval_overlap_join(points: DataFrame, intervals: DataFrame,
                          point_col: str, start_col: str, end_col: str,
                          bucket_width: int,
                          extra_keys: list[str] | None = None) -> DataFrame:
    """Generic interval-overlap join (E173): every (point, interval)
    pair with ``start <= point <= end`` (closed; all three LONG
    columns in the caller's tick unit), optionally also equi-matched
    on ``extra_keys``.

    The range-join problem: a BETWEEN predicate alone gives Spark no
    equi key, so the naive plan is a broadcast-nested-loop /
    cartesian scan — O(points × intervals), the classic killer on
    event-to-window joins at scale. The standard cure, done
    relationally: quantize time into ``bucket_width`` buckets; each
    interval EXPLODES to the buckets it covers (bounded by
    span/bucket_width), each point maps to exactly ONE bucket, and
    the join becomes an equi-join on (extra_keys…, bucket) with the
    BETWEEN as a residual filter. Every true pair shares the point's
    bucket, so recall is exact; a point meets an interval at most
    once (one bucket per point) — no dedup pass needed.

    Size ``bucket_width`` near the typical interval span: explode
    factor is span/width (+1), probe fan-in is intervals-per-bucket.
    ``MAX_SPAN_BUCKETS`` bounds the explode — a degenerate interval
    spanning the whole timeline would fan out corpus-wide, so a span
    covering MORE than ``MAX_SPAN_BUCKETS`` buckets RAISES
    (poisoned-expression arm, the hierarchy-rollup convention)
    instead of silently exploding; exactly ``MAX_SPAN_BUCKETS`` is
    allowed.
    Output: all ``points`` columns + all ``intervals`` columns.
    """
    w = int(bucket_width)
    max_span_buckets = MAX_SPAN_BUCKETS
    keys = list(extra_keys or [])
    b0 = F.floor(F.col(start_col) / w).cast("long")
    b1 = F.floor(F.col(end_col) / w).cast("long")
    seq = F.when(
        b1 - b0 + 1 <= max_span_buckets, F.sequence(b0, b1)).otherwise(
        F.array(F.raise_error(
            F.concat(F.lit(f"interval spans more than "
                           f"{max_span_buckets} buckets of width "
                           f"{w} ("),
                     (b1 - b0 + 1).cast("string"),
                     F.lit(") — widen bucket_width or split the "
                           "interval"))).cast("long")))
    iv = intervals.withColumn("_bkt", F.explode(seq))
    pt = points.withColumn(
        "_bkt", F.floor(F.col(point_col) / w).cast("long"))
    joined = pt.join(iv, keys + ["_bkt"]).where(
        (F.col(point_col) >= F.col(start_col))
        & (F.col(point_col) <= F.col(end_col)))
    return joined.drop("_bkt")


# Integer-micro EWMA lag weights, alpha = 0.3 over 14 lags:
# w_k = round(1e6 * 0.3 * 0.7^(k-1)). Derived once at import from the
# stated formula and interpolated into every oracle SQL string, so
# both engines weight the SAME integers and the weighted sum stays
# exact BIGINT (the events_trending_items integer-micro convention) —
# no float power evaluated per row in either engine.
EWMA_ALPHA = 0.3
EWMA_LAGS = 14
EWMA_MICRO = tuple(round(1_000_000 * EWMA_ALPHA * (1 - EWMA_ALPHA) ** (k - 1))
                   for k in range(1, EWMA_LAGS + 1))


def ewma_forecast(daily: DataFrame, key_cols: list[str], day_col: str,
                  value_col: str) -> DataFrame:
    """Grouped one-step-ahead EWMA forecast + accuracy readout (E188)
    → one row per key: ``(key…, n_days, n_forecast_days, mape,
    next_forecast)``.

    The capacity-planning primitive next to the anomaly screen (E's
    trailing-baseline face): exponentially weighted moving average
    over the last ``len(EWMA_MICRO)`` observed periods, evaluated two
    ways — BACKTEST (each day forecast from its own trailing window;
    ``mape`` = mean absolute percentage error over the full-window
    days whose ACTUAL value is nonzero — a zero actual has no defined
    percentage error, so such days count in ``n_forecast_days`` but
    not in the MAPE average) and the actual ``next_forecast`` for the
    period after the last observed one (null until a full window of
    history exists, i.e. ``n_days ≥ len(EWMA_MICRO)``).

    Scale shape: ``daily`` is already the per-period aggregate, so the
    corpus-scale work happened upstream; everything here runs on the
    keys × periods grid. The lag battery and the recency rank are two
    Window specs over the SAME partitioning — one exchange, two Window
    nodes (the E19 two-frames-one-shuffle shape) — then ONE hash
    aggregate emits backtest and forecast together. Weighted sums are
    exact BIGINT (integer-micro weights × integer values; keep
    ``value_col`` integral); only the final normalizations divide,
    rounded 6 in both engines.
    """
    weights = EWMA_MICRO
    L = len(weights)
    W = sum(weights)
    ks = list(key_cols)
    x = F.col(value_col)
    asc = Window.partitionBy(*ks).orderBy(day_col)
    desc = Window.partitionBy(*ks).orderBy(F.col(day_col).desc())
    num = None
    for k, wk in enumerate(weights, 1):
        term = F.lag(x, k).over(asc) * F.lit(wk)
        num = term if num is None else num + term
    arr = F.array(*[F.lit(w) for w in weights])
    frame = daily.select(
        *ks, x.alias("_x"),
        F.round(num * 1.0 / F.lit(W), 6).alias("_f"),
        F.row_number().over(desc).alias("_rn"))
    ape = F.when(F.col("_f").isNotNull() & (F.col("_x") != 0),
                 F.abs(F.col("_x") - F.col("_f")) / F.col("_x"))
    nxt = F.when(F.col("_rn") <= L,
                 F.element_at(arr, F.col("_rn")) * F.col("_x"))
    out = frame.groupBy(*ks).agg(
        F.count("*").cast("long").alias("n_days"),
        F.sum(F.col("_f").isNotNull().cast("int")).cast("long")
        .alias("n_forecast_days"),
        F.round(F.avg(ape), 6).alias("mape"),
        F.sum(nxt).alias("_nn"))
    # sum(when(rn <= L, 1)) would be min(n_days, L) — the full-window
    # gate is simply n_days >= L, no extra aggregate state needed
    return out.select(
        *ks, "n_days", "n_forecast_days", "mape",
        F.when(F.col("n_days") >= L,
               F.round(F.col("_nn") * 1.0 / F.lit(W), 6))
        .alias("next_forecast"))


def km_survival(lifetimes: DataFrame, duration_col: str,
                censored_col: str) -> DataFrame:
    """Kaplan-Meier survival curve with right-censoring (E189) →
    ``(duration, n_risk, n_events, survival)``, one row per duration
    at which at least one event occurred.

    The survival-analysis primitive (time-to-churn, time-to-failure,
    time-to-conversion) that a plain "share converted by day t" gets
    WRONG under censoring: units still under observation at cutoff
    carry information (they survived *at least* this long) that
    dropping them discards and counting them as non-events biases.
    The product-limit estimator S(t) = Π_{tᵢ ≤ t} (1 − dᵢ/nᵢ) uses
    every unit exactly as long as it was observed. Convention: at a
    tied duration, events precede censorings (the standard KM tie
    rule — a unit censored at t was at risk at t).

    Shape: ``lifetimes`` is already one row per unit (the corpus-scale
    work is the upstream per-unit aggregate); the estimator itself
    runs on the DURATION GRID — bounded by the number of distinct
    durations (hours/days of an observation window), never by unit
    count — so its unpartitioned ordered windows (the at-risk reverse
    cumsum and the cumulative product) move ≤ grid rows through one
    task by design. The product is computed as ``exp(Σ ln(1 − d/n))``
    (the engine-portable window-product form, same ln/exp convention
    as the LM-logprob faces). A time where everyone at risk exits is
    made EXPLICIT in BOTH engines — neither handles ``ln(0)`` usably
    here (Spark's ``log(0)`` is NULL and silently drops the factor;
    DuckDB's ``ln(0)`` RAISES an out-of-range error) — so the d = n
    branch contributes a literal −inf on each side: the cumulative sum
    pins to −inf and survival is exactly 0.0 from that time on.
    """
    dur = F.col(duration_col)
    g = lifetimes.groupBy(dur.alias("duration")).agg(
        F.sum((~F.col(censored_col)).cast("int")).cast("long").alias("_d"),
        F.count("*").cast("long").alias("_leaving"))
    at_risk = (Window.orderBy("duration")
               .rowsBetween(Window.currentRow, Window.unboundedFollowing))
    cum = (Window.orderBy("duration")
           .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    r = g.select(
        "duration", "_d",
        F.sum("_leaving").over(at_risk).cast("long").alias("n_risk"))
    term = F.when(F.col("_d") < F.col("n_risk"),
                  F.log(1 - F.col("_d") * 1.0 / F.col("n_risk"))
                  ).otherwise(F.lit(float("-inf")))
    k = r.select(
        "duration", "_d", "n_risk",
        F.exp(F.sum(term).over(cum)).alias("_s"))
    return (k.where(F.col("_d") > 0)
            .select("duration", "n_risk",
                    F.col("_d").alias("n_events"),
                    F.round("_s", 6).alias("survival")))


def cusum_changepoint(daily: DataFrame, key_cols: list[str], day_col: str,
                      value_col: str) -> DataFrame:
    """Retrospective CUSUM change-in-mean detection per key (E190) →
    one row per key: ``(key…, n_days, cp_day, cusum_stat, mean_before,
    mean_after, shift)``.

    The "did this slice's level CHANGE, and when" question the trend
    face (OLS/Theil-Sen: gradual drift) and the anomaly face (single
    outlier days) both miss: a step change — a source switching
    crawlers, a feed dropping a shard — shows up as a sustained offset,
    not a slope and not a spike. Page's retrospective CUSUM localizes
    it: with C_t = Σ_{i≤t}(v_i − v̄), the changepoint estimate is the
    argmax of |C_t| and the normalized statistic max|C_t|/(s·√n) reads
    like a z-score for "a level shift exists" (≳ 1.4 is the classic
    5%-ish boundary for the Brownian-bridge sup).

    Determinism: the variance is computed from integer sufficient
    statistics (Σv, Σv² — keep ``value_col`` integral) via the same
    expression in both engines, so s is bit-identical; the argmax
    runs on the 6-dp-ROUNDED statistic with the day as tiebreaker
    (earliest wins) so a last-ulp difference cannot move the
    changepoint. n < 2 or s = 0 → null stat by contract (a flat
    series has no changepoint, not an infinitely significant one).

    Shape: ``daily`` is the per-(key, day) aggregate, so the
    corpus-scale work happened upstream; the cumsum/argmax windows are
    PARTITIONED BY key over the day grid (days × keys rows), and the
    before/after means are one more grid-sized aggregate against the
    broadcast per-key changepoint row. Nothing here scales with row
    count, only with keys × days.
    """
    ks = list(key_cols)
    v = F.col(value_col).cast("double")
    part = Window.partitionBy(*ks)
    asc = part.orderBy(day_col)
    cum = asc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    g = daily.select(
        *ks, F.col(day_col).alias("_d"), v.alias("_v"),
        F.count("*").over(part).cast("long").alias("_n"),
        F.sum(v).over(part).alias("_s1"),
        F.sum(v * v).over(part).alias("_s2"),
        F.sum(v).over(cum).alias("_c"),
        F.row_number().over(asc).alias("_rn"))
    mean = F.col("_s1") / F.col("_n")
    var = F.when(F.col("_n") > 1,
                 (F.col("_s2") - F.col("_s1") * F.col("_s1") / F.col("_n"))
                 / (F.col("_n") - 1))
    dev = F.abs(F.col("_c") - F.col("_rn") * mean)
    stat = F.when(var > 0, F.round(
        dev / (F.sqrt(var) * F.sqrt(F.col("_n").cast("double"))), 6))
    scored = (g.select(*ks, "_d", "_v", "_n", stat.alias("_stat"))
              .withColumn("_pick", F.row_number().over(
                  part.orderBy(F.col("_stat").desc_nulls_last(),
                               F.col("_d").asc()))))
    cp = scored.where(F.col("_pick") == 1).select(
        *ks, F.col("_d").alias("cp_day"),
        F.col("_n").alias("n_days"), F.col("_stat").alias("cusum_stat"))
    sides = (scored.join(F.broadcast(cp.select(*ks, "cp_day")), ks)
             .groupBy(*ks)
             .agg(F.round(F.avg(F.when(F.col("_d") <= F.col("cp_day"),
                                       F.col("_v"))), 6)
                  .alias("mean_before"),
                  F.round(F.avg(F.when(F.col("_d") > F.col("cp_day"),
                                       F.col("_v"))), 6)
                  .alias("mean_after")))
    return (cp.join(sides, ks)
            .select(*ks, "n_days", "cp_day", "cusum_stat",
                    "mean_before", "mean_after",
                    F.round(F.col("mean_after") - F.col("mean_before"), 6)
                    .alias("shift")))


def theilsen_trend(daily: DataFrame, key_cols: list[str], x_col: str,
                   y_col: str) -> DataFrame:
    """Theil-Sen robust trend per key (E191) → one row per key:
    ``(key…, n_days, n_pairs, slope, intercept)``.

    The robust sibling of the OLS face (grouped_trend): OLS breaks
    under a single corrupted day (one bot flood drags the fitted slope
    arbitrarily), while the median-of-pairwise-slopes estimator has a
    29% breakdown point — the standard volume-trend readout when the
    series is known to contain the very anomalies the anomaly face
    flags. slope = median over all x₁<x₂ pairs of (y₂−y₁)/(x₂−x₁);
    intercept = median over days of (y − slope·x) (the Conover form).

    Shape: the pair join is the day GRID squared per key — bounded by
    the observation window (30 days → 435 pairs), never by corpus
    size; ``daily`` is the per-(key, day) aggregate so the corpus-scale
    work happened upstream. Both medians interpolate exactly
    (percentile 0.5 ≡ ANSI percentile_cont ≡ DuckDB quantile_cont);
    slopes are ratios of integer diffs, evaluated identically in both
    engines, so the medians are bit-identical before the 6-dp round.
    """
    ks = list(key_cols)
    a = daily.select(*ks, F.col(x_col).alias("_x1"),
                     F.col(y_col).cast("double").alias("_y1"))
    b = daily.select(*ks, F.col(x_col).alias("_x2"),
                     F.col(y_col).cast("double").alias("_y2"))
    pairs = (a.join(b, ks)
             .where(F.col("_x1") < F.col("_x2"))
             .select(*ks, ((F.col("_y2") - F.col("_y1"))
                           / (F.col("_x2") - F.col("_x1"))).alias("_m")))
    m = pairs.groupBy(*ks).agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.percentile(F.col("_m"), F.lit(0.5)).alias("_slope"))
    resid = (daily.join(F.broadcast(m), ks)
             .groupBy(*ks)
             .agg(F.count("*").cast("long").alias("n_days"),
                  F.percentile(F.col(y_col).cast("double")
                               - F.col("_slope") * F.col(x_col),
                               F.lit(0.5)).alias("_icept")))
    return (m.join(resid, ks)
            .select(*ks, "n_days", "n_pairs",
                    F.round("_slope", 6).alias("slope"),
                    F.round("_icept", 6).alias("intercept")))


def peak_concurrency(events: DataFrame) -> DataFrame:
    """Sweep-line peak session concurrency per day (E203) → one row
    per day: ``(day, peak, peak_minute)``.

    The capacity readout interval faces don't give: "how many user
    sessions were OPEN at once, at worst, each day" — the number that
    sizes connection pools and streaming-state stores. Sessions are
    the engine's standard gaps-and-islands sessionization (keyed lag,
    ``SESSION_GAP_MINUTES`` rule, event-id tiebreak); each session emits a +1
    boundary at its first event and a −1 at its last, END-EXCLUSIVE
    (at an equal tick the −1 sorts first, so a session ending exactly
    when another starts never double-counts — within a run of equal
    (tick, delta) the running max is order-invariant, so the spine's
    session-id tiebreak only pins determinism, not the answer).

    Scale: the running concurrency is a GLOBAL cumulative sum over
    2·#sessions boundary rows — on the range-partitioned cumsum spine
    (ranking.global_cumsum), never a single-reducer window; per-day
    peak and its earliest minute are two keyed aggregates on the
    cumsum'd boundary table. Day/minute bucketing is absolute, so
    callers pin the session timezone to UTC (the ticks_us contract).
    """
    from .ranking import global_cumsum

    tick = ticks_us(events)
    w = Window.partitionBy("user_id").orderBy(tick, F.col("event_id"))
    gap_us = SESSION_GAP_MINUTES * 60 * 1_000_000
    gap = tick - F.lag(tick).over(w)
    new_sess = (gap.isNull() | (gap > gap_us)).cast("int")
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    s = events.select(F.col("user_id").alias("_u"), tick.alias("_tk"),
                      F.sum(new_sess).over(
                          Window.partitionBy("user_id")
                          .orderBy(tick, F.col("event_id"))
                          .rowsBetween(Window.unboundedPreceding, 0))
                      .alias("_sid"))
    sess = s.groupBy("_u", "_sid").agg(F.min("_tk").alias("_t0"),
                                       F.max("_tk").alias("_t1"))
    starts = sess.select("_u", "_sid", F.col("_t0").alias("_tk"),
                         F.lit(1).alias("_d"))
    ends = sess.select("_u", "_sid", F.col("_t1").alias("_tk"),
                       F.lit(-1).alias("_d"))
    bounds = starts.unionByName(ends)
    cum = global_cumsum(bounds, ["_tk", "_d", "_u", "_sid"], "_d",
                        out_col="_c")
    day = F.floor(F.col("_tk") / F.lit(86_400_000_000)).alias("_day")
    daily = cum.select(day, "_tk", "_c")
    peaks = daily.groupBy("_day").agg(F.max("_c").alias("peak"))
    first = (daily.join(F.broadcast(peaks), "_day")
             .where(F.col("_c") == F.col("peak"))
             .groupBy("_day", "peak")
             .agg(F.min("_tk").alias("_pt")))
    return first.select(
        F.date_format(F.timestamp_micros(F.col("_day")
                                         * F.lit(86_400_000_000)),
                      "yyyy-MM-dd").alias("day"),
        F.col("peak").cast("long").alias("peak"),
        F.date_format(F.timestamp_micros("_pt"), "HH:mm")
        .alias("peak_minute"))


def autocorrelation(df: DataFrame, group_cols: list[str], t_col: str,
                    y_col: str, lags: list[int]) -> DataFrame:
    """Lag-k autocorrelation of an integer-indexed series per group
    (E219) → one row per (group, lag) with at least one pair:
    ``(group…, lag, n_days, n_pairs, acf)``.

    The seasonality readout the trend faces (OLS E119, Theil-Sen
    E191, EWMA E188) can't give: acf(7) high says "weekly rhythm",
    acf(1) ≈ 0 says "yesterday doesn't predict today" — the check
    that picks the EWMA face's alpha and the anomaly face's baseline
    window. Textbook estimator: r_k = Σ(y_t−ȳ)(y_{t+k}−ȳ) / Σ(y−ȳ)²
    with the FULL-series mean and denominator, so r_k is bounded and
    comparable across lags. Constant series (zero variance) → null
    acf by contract; lags beyond the observed span emit no row
    (nothing pairs). Gaps in t simply don't pair — the estimator
    runs on the observed grid.

    Determinism: ``y_col`` must be integral (daily counts, cents);
    expanding the numerator clears ȳ = S/n so every accumulated term
    is an exact integer — n²·num = n²P − nS(A+B) + mS² and n²·den =
    n(nQ − S²), with P = Σ y_t·y_{t+k}, A/B the paired-end sums, Q =
    Σy², all DECIMAL(38,0) (order-independent at any scale); only
    the final ratio divides in doubles through the same expression
    in both engines, so 6-dp parity is structural.

    Scale shape: the input is one row per (group, t) — already
    aggregated, grid-sized; the lag pairing is an equi-join on
    (group, t+lag) after a #lags explode; the moments are two hash
    aggregates. Nothing here touches corpus-scale rows.
    """
    base = df.select(*group_cols,
                     F.col(t_col).cast("long").alias("_t"),
                     F.col(y_col).cast("long").alias("_y"))
    dec = "decimal(38,0)"
    glob = base.groupBy(*group_cols).agg(
        F.count("*").cast("long").alias("n_days"),
        F.sum(F.col("_y").cast(dec)).alias("_s"),
        F.sum((F.col("_y") * F.col("_y")).cast(dec)).alias("_q"))
    lag_arr = F.array(*[F.lit(int(k)) for k in lags])
    left = (base.withColumn("lag", F.explode(lag_arr))
            .select(*group_cols, "lag", F.col("_y").alias("_yl"),
                    (F.col("_t") + F.col("lag")).alias("_tr")))
    right = base.select(*group_cols, F.col("_t").alias("_tr"),
                        F.col("_y").alias("_yr"))
    pairs = (left.join(right, [*group_cols, "_tr"])
             .groupBy(*group_cols, "lag")
             .agg(F.count("*").cast("long").alias("n_pairs"),
                  F.sum((F.col("_yl") * F.col("_yr")).cast(dec))
                  .alias("_p"),
                  F.sum(F.col("_yl").cast(dec)).alias("_a"),
                  F.sum(F.col("_yr").cast(dec)).alias("_b")))
    j = pairs.join(F.broadcast(glob), [*group_cols])
    n = F.col("n_days").cast("double")
    s_, q_ = F.col("_s").cast("double"), F.col("_q").cast("double")
    p_, m_ = F.col("_p").cast("double"), F.col("n_pairs").cast("double")
    ab = F.col("_a").cast("double") + F.col("_b").cast("double")
    num = n * n * p_ - n * s_ * ab + m_ * s_ * s_
    den = n * (n * q_ - s_ * s_)
    return j.select(*group_cols, "lag", "n_days", "n_pairs",
                    F.when(den > 0, F.round(num / den, 6)).alias("acf"))


def cross_correlation(dfx: DataFrame, dfy: DataFrame, t_col: str,
                      y_col: str, lags: list[int]) -> DataFrame:
    """Lead-lag cross-correlation between two integer-indexed series
    (E232) → one row per lag with ≥ 1 pair: ``(lag, n_pairs, ccf)``.

    The direction readout the per-series ACF (E219) can't give:
    ccf(k) correlates x at day t with y at day t+k — a peak at
    POSITIVE k says x LEADS y by k days (views today, purchases in
    three days: the funnel latency read from aggregates alone);
    negative lags probe the reverse direction. Same estimator
    convention as the ACF: full-series means and variances, so lags
    are comparable and |ccf| ≤ 1.

    Determinism: integral series only; the expanded numerator
    n²·Σ(x_t−x̄)(y_{t+k}−ȳ) = n²P − n·Sx·B − n·Sy·A + m·Sx·Sy and the
    denominator pieces (nQ − S²) accumulate as DECIMAL(38,0) — exact
    and order-independent — with ONE final double ratio through the
    same expression in both engines. The two series must share the
    SAME observation grid length n (enforced: both sides are first
    inner-joined to the common grid, so x̄/ȳ are over the same days —
    unequal-support CCF is a different, ill-posed estimator).

    Scale shape: inputs are (t, y) grids (aggregate first); the
    common grid is one inner join; lag pairing is a grid equi-join on
    t+lag after a #lags explode; moments are two hash aggregates.
    """
    gx = dfx.select(F.col(t_col).cast("long").alias("_t"),
                    F.col(y_col).cast("long").alias("_x"))
    gy = dfy.select(F.col(t_col).cast("long").alias("_t"),
                    F.col(y_col).cast("long").alias("_y"))
    both = gx.join(gy, "_t").localCheckpoint(eager=True)
    dec = "decimal(38,0)"
    glob = both.agg(
        F.count("*").cast("long").alias("_n"),
        F.sum(F.col("_x").cast(dec)).alias("_sx"),
        F.sum(F.col("_y").cast(dec)).alias("_sy"),
        F.sum((F.col("_x") * F.col("_x")).cast(dec)).alias("_qx"),
        F.sum((F.col("_y") * F.col("_y")).cast(dec)).alias("_qy"))
    lag_arr = F.array(*[F.lit(int(k)) for k in lags])
    left = (both.withColumn("lag", F.explode(lag_arr))
            .select("lag", F.col("_x").alias("_xl"),
                    (F.col("_t") + F.col("lag")).alias("_tr")))
    right = both.select(F.col("_t").alias("_tr"),
                        F.col("_y").alias("_yr"))
    pairs = (left.join(right, "_tr")
             .groupBy("lag")
             .agg(F.count("*").cast("long").alias("n_pairs"),
                  F.sum((F.col("_xl") * F.col("_yr")).cast(dec))
                  .alias("_p"),
                  F.sum(F.col("_xl").cast(dec)).alias("_a"),
                  F.sum(F.col("_yr").cast(dec)).alias("_b")))
    j = pairs.crossJoin(F.broadcast(glob))
    n = F.col("_n").cast("double")
    sx, sy = F.col("_sx").cast("double"), F.col("_sy").cast("double")
    qx, qy = F.col("_qx").cast("double"), F.col("_qy").cast("double")
    p_, m_ = F.col("_p").cast("double"), F.col("n_pairs").cast("double")
    a_, b_ = F.col("_a").cast("double"), F.col("_b").cast("double")
    num = n * n * p_ - n * sx * b_ - n * sy * a_ + m_ * sx * sy
    vx = n * qx - sx * sx
    vy = n * qy - sy * sy
    return j.select("lag", "n_pairs",
                    F.when((vx > 0) & (vy > 0),
                           F.round(num / (n * F.sqrt(vx * vy)), 6))
                    .alias("ccf"))


def time_weighted_average(df: DataFrame, group_col: str, ts_col: str,
                          value_col: str, id_col: str) -> DataFrame:
    """Time-weighted average of a step signal per group (E233) → one
    row per group: ``(group, n_events, span_us, twa)``.

    The average a plain mean gets WRONG whenever observations arrive
    unevenly: a price that sat at 100 for an hour and ticked to 0 for
    a second averages ~100, not 50 — the TWAP/OEE/utilization
    convention (each observation holds until the next one). twa =
    Σ (t_{i+1} − t_i)·v_i / (t_last − t_first), the step-function
    integral; the final observation carries no weight (nothing holds
    after it — the standard right-open convention). Groups with < 2
    events → null by contract (no interval to integrate).

    Determinism: interval widths are exact integer MICROSECONDS
    (the ticks_us contract, same-tick ties broken by the id column so
    both engines order identically — zero-width intervals contribute
    zero either way) and values are exact integer cents; each term
    dt·v is an exact product MULTIPLIED IN DECIMAL(38,0) — the dt
    operand is cast before the multiply, matching the oracle's
    ``CAST((tn - t) AS DECIMAL(38,0)) * v``, so a long-held interval
    times large cents can never wrap in non-ANSI BIGINT arithmetic —
    and accumulated as DECIMAL(38,0), with ONE double division at the
    end. Bounds: 30 days ≈ 2.6e12 µs × cents — a 1e25 ceiling per
    group leaves 13 orders of headroom.

    Scale shape: ONE lag window partitioned by the group key
    (key-partitioned, never a global window) + one hash aggregate.
    """
    w = (Window.partitionBy("_g")
         .orderBy(F.col("_t"), F.col("_id")))
    base = df.select(F.col(group_col).alias("_g"),
                     F.col(ts_col).cast("long").alias("_t"),
                     F.col(value_col).cast("long").alias("_v"),
                     F.col(id_col).alias("_id"))
    stepped = base.withColumn("_tn", F.lead("_t").over(w))
    dec = "decimal(38,0)"
    agg = stepped.groupBy("_g").agg(
        F.count("*").cast("long").alias("n_events"),
        (F.max("_t") - F.min("_t")).cast("long").alias("span_us"),
        F.sum(F.when(F.col("_tn").isNotNull(),
                     ((F.col("_tn") - F.col("_t")).cast(dec)
                      * F.col("_v")).cast(dec))
              .otherwise(F.lit(0).cast(dec)))
        .alias("_num"))
    return agg.select(
        F.col("_g").alias(group_col), "n_events", "span_us",
        F.when(F.col("span_us") > 0,
               F.round(F.col("_num").cast("double")
                       / F.col("span_us").cast("double"), 6))
        .alias("twa"))
