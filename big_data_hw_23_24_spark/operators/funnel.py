"""Sequential funnel analysis over an event stream.

The classic event-analytics query (Amplitude/Mixpanel "funnels",
ClickHouse ``windowFunnel``): how many users performed stage 1, then
stage 2 STRICTLY AFTER their first stage-1 event, then stage 3 after
that, … Order matters — a purchase before the first view does not
count as funnel progress.

Semantics (first-touch): t₁ = the user's earliest stage-1 event;
tᵢ = the earliest stage-i event with ts > tᵢ₋₁. ``depth`` = number of
stages reached. This is the standard greedy definition; it maximizes
depth for the strict-order rule given first-touch anchoring.

Scale shape: one aggregate per stage, each keyed on the user — the
first shuffle establishes user partitioning and every later
stage-aggregate + left join reuses that key (co-partitioned equi
joins, AQE broadcasts the shrinking reached-set when it fits). The
event stream is filtered to the stage's type BEFORE its shuffle, so
each stage moves only its own events. No windows, no driver state.

Reference scope: the reference engine has no event-analytics surface;
this extends the engine's events toolbox (as-of joins, tumbling /
hopping / session windows) with the ordered-sequence aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["funnel_depths"]


def funnel_depths(events: DataFrame, stages: list[str],
                  within_seconds: int | None = None) -> DataFrame:
    """Per-user funnel progress → (user_id, depth).

    Only users who reached stage 1 appear; ``depth`` ∈ [1, len(stages)]
    counts the stages reached in strict first-touch order.
    ``within_seconds`` adds the ClickHouse ``windowFunnel(T)`` bound:
    every later stage must also fall within T seconds of the user's
    first stage-1 event (conversion windows — "purchased within 24 h
    of the first view").
    """
    if len(stages) < 2:
        raise ValueError(f"a funnel needs at least 2 stages, got {stages}")
    if len(set(stages)) != len(stages):
        raise ValueError(f"duplicate stage types in {stages}")
    if within_seconds is not None and within_seconds <= 0:
        raise ValueError(f"within_seconds must be positive, "
                         f"got {within_seconds}")

    reached = (events.where(F.col("event_type") == stages[0])
               .groupBy("user_id").agg(F.min("ts").alias("_t1")))
    for i, st in enumerate(stages[1:], start=2):
        cond = F.col("ts") > F.col(f"_t{i - 1}")
        if within_seconds is not None:
            cond = cond & (F.col("ts") <= F.col("_t1")
                           + F.expr(f"INTERVAL {within_seconds} SECOND"))
        anchor_cols = list(dict.fromkeys(["_t1", f"_t{i - 1}"]))
        nxt = (events.where(F.col("event_type") == st)
               .join(reached.select("user_id", *anchor_cols), "user_id")
               .where(cond)
               .groupBy("user_id").agg(F.min("ts").alias(f"_t{i}")))
        reached = reached.join(nxt.select("user_id", f"_t{i}"),
                               "user_id", "left")
    depth = F.lit(1)
    for i in range(2, len(stages) + 1):
        depth = depth + F.col(f"_t{i}").isNotNull().cast("int")
    return reached.select(F.col("user_id"),
                          depth.cast("int").alias("depth"))


def retention_cohorts(events: DataFrame) -> DataFrame:
    """Weekly retention matrix → (cohort_week, week_offset, n_users);
    ``cohort_week`` is an ISO date string (engine-portable — DATE
    columns round-trip as different pandas dtypes per engine).

    The second classic product-analytics aggregate next to the funnel:
    cohort = the Monday-truncated week of a user's FIRST event;
    ``n_users`` = distinct users of that cohort active ``week_offset``
    weeks later (offset 0 row = cohort size, by construction).

    Shape: one user-keyed aggregate for first-touch, one distinct over
    (user, week) — bounded at |users|·|weeks|, far below the event
    count — then a user-keyed join and a count-distinct per
    (cohort, offset). ``date_trunc('week')`` starts Monday in both
    Spark and DuckDB, so the cohort boundaries are engine-exact.
    """
    week = F.date_trunc("week", F.col("ts"))
    first = (events.groupBy("user_id")
             .agg(F.date_trunc("week", F.min("ts")).alias("_cohort")))
    active = (events.select(F.col("user_id"), week.alias("_week"))
              .distinct())
    offset = (F.datediff(F.to_date("_week"), F.to_date("_cohort")) / 7) \
        .cast("int")
    return (active.join(first, "user_id")
            .select(F.date_format("_cohort", "yyyy-MM-dd")
                    .alias("cohort_week"),
                    offset.alias("week_offset"), F.col("user_id"))
            .groupBy("cohort_week", "week_offset")
            .agg(F.count_distinct(F.col("user_id")).alias("n_users")))


def transition_matrix(events: DataFrame) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences → ``(from_type, to_type, n_transitions, prob)``.

    The product-analytics complement of the funnel: where the funnel
    checks ONE prescribed path, the transition matrix shows every
    observed next-step and its empirical probability (row-normalized
    per ``from_type``) — what users actually do after a view, which
    paths never occur, where the flow leaks.

    Scale shape: one keyed window (``lead`` per user — partition key is
    the user id, so a 10⁹-user log spreads over the cluster; ties
    break on the event id for determinism) feeding one keyed
    aggregate; the normalizing window runs on the AGGREGATED T×T
    matrix (event-type vocabulary, tens of rows), never on events.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (events.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"))
        .where(F.col("to_type").isNotNull()))
    counts = (pairs.groupBy("from_type", "to_type")
              .agg(F.count("*").cast("long").alias("n_transitions")))
    tot = Window.partitionBy("from_type")
    return (counts.withColumn(
        "prob", F.round(F.col("n_transitions")
                        / F.sum("n_transitions").over(tot), 6))
        .orderBy("from_type", "to_type"))
