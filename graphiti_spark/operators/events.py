"""Event-stream batch operators over the `events` table: gap-based
sessionization and tumbling-window aggregation.

These are the batch twins of the engine's Structured Streaming operators
(streaming/stateful.py): the reference models time as episodes with
valid_at (graphiti_core/nodes.py:134-136); an event-stream consumer of
this engine needs the classic session/window primitives over the same
event-time semantics. Both operators are pure DataFrame window/groupBy
plans — whole-stage-codegen'd, one shuffle each on the natural key.

Scale notes (100 TB): sessionization shuffles once on user_id (the
window partition key) — per-user event counts are bounded in practice
and AQE skew-join handles hot users; tumbling windows shuffle on
(window_start, event_type) with map-side partial aggregation, so the
shuffle carries one row per (hour, type) per task, not per event.

Monetary/value sums are emitted in exact integer cents
(cast(round(value*100))) so the DuckDB oracle matches bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

# Shared with the DuckDB oracles in queries/events.py.
SESSION_GAP_US = 30 * 60 * 1_000_000  # 30-minute inactivity gap
SPIKE_RATIO_U = 2_000_000  # daily volume >= 2x the type's mean is a spike
CONVERSION_TYPE = "purchase"  # last-touch attribution: conversion events
TOUCH_TYPE = "view"  # ... and the touches credited for them


def read_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _session_assign(events: DataFrame) -> DataFrame:
    """Per-event session assignment (user_id, event_id, ts, event_type,
    value_c, session_idx), a new session after a SESSION_GAP_US gap — the shared lag + running-sum stage behind
    sessionize and session_baskets; one shuffle on user_id, both windows
    share the partitioning."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # parquet timestamps are NTZ; the session TZ is UTC, so the cast is a
    # pure reinterpretation and unix_micros gives exact integer event time
    ts_us = F.expr("unix_micros(cast(ts as timestamp))")
    flagged = events.select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        F.expr("cast(round(value * 100) as long)").alias("value_c"),
        F.when(ts_us - F.lag(ts_us).over(w) > SESSION_GAP_US, 1)
        .otherwise(0)
        .alias("new_sess"),
    )
    # lag is null on the first event -> when() yields 0; running sum gives
    # 0-based session index per user
    return flagged.withColumn(
        "session_idx",
        F.sum("new_sess").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )


def sessionize(events: DataFrame) -> DataFrame:
    """Gap-based sessions per user: a new session starts when the gap to
    the previous event exceeds SESSION_GAP_US (lag + running sum via
    _session_assign), then one rollup per session."""
    sess = _session_assign(events)
    return sess.groupBy("user_id", "session_idx").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.sum("value_c").alias("sum_value_c"),
        F.countDistinct("event_type").alias("n_types"),
    )


def funnel(events: DataFrame, steps: list[str]) -> DataFrame:
    """Ordered-step funnel: for each user, t1 = earliest step-1 event,
    t_k = earliest step-k event STRICTLY AFTER the user's t_{k-1}.
    Returns one row per user who reached step 1, with each step's
    timestamp (null once the funnel breaks) and steps_completed.

    Scale: each stage is one inner join + min-agg co-partitioned on
    user_id — the per-step filter prunes the fact side before the join,
    the carried frontier is one skinny row per surviving user, and no
    corpus-wide window or per-user sort ever materializes. K steps =
    K-1 joins over monotonically shrinking frontiers.
    """
    if not steps:
        raise ValueError("funnel needs at least one step")
    out = (
        events.where(F.col("event_type") == steps[0])
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    for i, step in enumerate(steps[1:], start=2):
        nxt = (
            events.where(F.col("event_type") == step)
            .join(out.select("user_id", f"t{i - 1}"), "user_id")
            .where(F.col("ts") > F.col(f"t{i - 1}"))
            .groupBy("user_id")
            .agg(F.min("ts").alias(f"t{i}"))
        )
        out = out.join(nxt, "user_id", "left")
    completed = F.lit(1)
    for i in range(2, len(steps) + 1):
        completed = completed + F.col(f"t{i}").isNotNull().cast("int")
    return out.withColumn("steps_completed", completed.cast("long"))


def last_touch_attribution(events: DataFrame) -> DataFrame:
    """As-of join, the classic operator Spark has no native form of: for
    every conversion event (CONVERSION_TYPE), the user's most recent
    strictly-earlier touch event (TOUCH_TYPE) (last-touch attribution;
    DuckDB expresses the same thing
    with its native ASOF JOIN, which is the oracle).

    Spark plan: union-tag both event kinds, ONE window per user ordered
    by (ts, is_conversion, event_id) carrying the last touch forward
    (`last(..., ignorenulls)`), then keep conversions. A single shuffle
    on user_id, no range join, no per-user collect — the standard
    distributed as-of design. Ordering puts a touch BEFORE a conversion
    at the same timestamp (as-of matches touch_ts <= conversion_ts); at
    equal touch timestamps the larger event_id wins, so the pick is
    total. Conversions with no prior touch keep null touch columns."""
    tagged = events.where(
        F.col("event_type").isin([CONVERSION_TYPE, TOUCH_TYPE])
    ).select(
        "user_id",
        "event_id",
        "ts",
        (F.col("event_type") == CONVERSION_TYPE).cast("int").alias("is_conv"),
        F.when(F.col("event_type") == TOUCH_TYPE, F.col("ts")).alias("touch_ts"),
        F.when(F.col("event_type") == TOUCH_TYPE, F.col("event_id")).alias(
            "touch_id"
        ),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_conv", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        tagged.select(
            "user_id",
            "event_id",
            "ts",
            "is_conv",
            F.last("touch_ts", ignorenulls=True).over(w).alias("touch_ts"),
            F.last("touch_id", ignorenulls=True).over(w).alias("touch_id"),
        )
        .where(F.col("is_conv") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("conversion_id"),
            F.col("ts").alias("conversion_ts"),
            "touch_id",
            "touch_ts",
        )
    )


def retention(events: DataFrame) -> DataFrame:
    """Cohort retention matrix: users grouped by first-activity day
    (cohort), counted distinct-active at each day offset, with the
    integer-exact retention rate — the standard product-analytics rollup
    and the events-family completion of sessionize/funnel/windows.

    Two narrow aggregations (first-day per user, distinct active days
    per user) and one key join on user_id — all co-partitioned; the
    final matrix is O(cohorts x horizon), tiny at any corpus scale."""
    firsts = events.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).alias("cohort_day")
    )
    active = events.select(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).distinct()
    sz = firsts.groupBy("cohort_day").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    per = (
        active.join(firsts, "user_id")
        .groupBy(
            "cohort_day",
            F.datediff("day", "cohort_day").alias("day_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )
    return per.join(sz, "cohort_day").select(
        "cohort_day",
        F.col("day_offset").cast("long").alias("day_offset"),
        F.col("n_users").cast("long").alias("n_users"),
        F.col("cohort_size").cast("long").alias("cohort_size"),
        F.expr("(1000000L * n_users) div cohort_size")
        .cast("long")
        .alias("retention_u"),
    )


def tumbling_windows(events: DataFrame) -> DataFrame:
    """Tumbling 1-hour event-time windows per event_type — the batch form of the
    streaming windowed-count operator (streaming/stateful.py): counts,
    value sum (cents), distinct users per (window, type). date_trunc is
    the epoch-aligned tumbling bucket — identical semantics in the DuckDB
    oracle, and it stays a plain groupBy key (partial-agg friendly)."""
    return events.groupBy(
        F.date_trunc("hour", "ts").alias("window_start"),
        "event_type",
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.expr("cast(round(value * 100) as long)")).alias("sum_value_c"),
        F.countDistinct("user_id").alias("n_users"),
    )


def type_transitions(events: DataFrame) -> DataFrame:
    """Event-type Markov transition matrix: for each user's event stream
    ordered by (ts, event_id), count (prev_type -> next_type) steps and
    the integer-exact transition probability in micro-units. The classic
    behavioral-sequence feature (and the generative check for funnel
    ordering): one window per user + one vocab-sized groupBy.

    Scale: the window partitions by user_id (bounded by per-user event
    count, never corpus-wide); the transition table is |types|^2 rows.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    steps = (
        events.select(
            "user_id",
            "ts",
            "event_id",
            F.col("event_type").alias("prev_type"),
            F.lead("event_type").over(w).alias("next_type"),
        )
        .where(F.col("next_type").isNotNull())
        .groupBy("prev_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = steps.groupBy("prev_type").agg(F.sum("n").alias("n_from"))
    return steps.join(tot, "prev_type").select(
        "prev_type",
        "next_type",
        F.col("n").cast("long").alias("n"),
        F.expr("(1000000L * n) div n_from").alias("prob_u"),
    )


def daily_anomalies(events: DataFrame) -> DataFrame:
    """Daily volume anomaly ratios per event type: each (type, day) count
    against the type's mean daily volume, as the integer micro-unit ratio
    ratio_u = 1e6 * n * n_days div total; is_spike flags >= 2x days —
    the drift monitor a production ingest pipeline alarms on.

    Two aggregations over (type, day) — both partial-agg friendly; the
    per-type normalizer table is vocab-sized.
    """
    daily = events.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    norm = daily.groupBy("event_type").agg(
        F.sum("n").alias("total"), F.count(F.lit(1)).alias("n_days")
    )
    return daily.join(norm, "event_type").select(
        "event_type",
        "day",
        F.col("n").cast("long").alias("n"),
        F.expr("(1000000L * n * n_days) div total").alias("ratio_u"),
        (F.expr("(1000000L * n * n_days) div total") >= SPIKE_RATIO_U).alias(
            "is_spike"
        ),
    )


def hopping_windows(
    events: DataFrame, window_s: int = 3600, hop_s: int = 900
) -> DataFrame:
    """Hopping (sliding) event-time windows per event_type — the batch
    twin of Structured Streaming's `window(ts, '1 hour', '15 minutes')`
    overlapping-window aggregation (trending/top-k dashboards read
    these). Each event lands in window_s/hop_s hop-aligned windows; the
    explode is integer epoch arithmetic (floor(epoch/hop) grid), so the
    DuckDB mirror is bit-identical and nothing depends on session
    timezone rendering.

    Scale: fan-out is the fixed small constant window_s/hop_s (4 here),
    applied map-side before ONE hash aggregate keyed on (window_start,
    event_type) — the same partial-agg-friendly shape as the tumbling
    form; no windows-over-users, no sort."""
    assert window_s % hop_s == 0, "window must be a multiple of the hop"
    n = window_s // hop_s
    return (
        events.withColumn(
            "k", F.expr(f"floor(unix_timestamp(ts) / {hop_s})").cast("long")
        )
        .withColumn("j", F.explode(F.expr(f"sequence(k - {n - 1}, k)")))
        .groupBy(
            F.expr(f"timestamp_seconds(j * {hop_s})").alias("window_start"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.expr("cast(round(value * 100) as long)")).alias(
                "sum_value_c"
            ),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


def session_baskets(events: DataFrame) -> DataFrame:
    """Market-basket association rules over sessions (the Agrawal-Srikant
    support/confidence/lift mining, sessions as baskets, event types as
    items): for every unordered type pair {a, b} co-occurring in a
    session, exact integer support, both directed confidences, and
    lift — the co-engagement table recommendation and UX funnels read.

    Scale shape: presence (not multiplicity) per session collapses the
    event stream to <= |types| rows per session BEFORE the pair
    self-join, so per-session fan-out is bounded by the type vocab
    squared — never events squared; supports are one vocab-sized agg;
    the 1-row session total cross-joins (broadcast by construction, the
    dsir normalizer pattern — no driver collect)."""
    items = (
        _session_assign(events)
        .select("user_id", "session_idx", "event_type")
        .distinct()
    )
    n_s = items.select("user_id", "session_idx").distinct().agg(
        F.count(F.lit(1)).alias("n_sessions")
    )
    supp = items.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    a, b = items.alias("a"), items.alias("b")
    pairs = (
        a.join(b, ["user_id", "session_idx"])
        .where(F.col("a.event_type") < F.col("b.event_type"))
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    return (
        pairs.join(
            supp.select(F.col("event_type").alias("type_a"), F.col("n").alias("n_a")),
            "type_a",
        )
        .join(
            supp.select(F.col("event_type").alias("type_b"), F.col("n").alias("n_b")),
            "type_b",
        )
        .crossJoin(n_s)
        .select(
            "type_a",
            "type_b",
            F.col("n_ab").cast("long").alias("n_ab"),
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.expr("(n_ab * 1000000L) div n_sessions")
            .cast("long")
            .alias("support_u"),
            F.expr("(n_ab * 1000000L) div n_a").cast("long").alias("conf_ab_u"),
            F.expr("(n_ab * 1000000L) div n_b").cast("long").alias("conf_ba_u"),
            F.expr("(n_ab * n_sessions * 1000000L) div (n_a * n_b)")
            .cast("long")
            .alias("lift_u"),
        )
    )


def stationary_distribution(events: DataFrame, iters: int = 4) -> DataFrame:
    """Stationary distribution of the event-type Markov chain (the
    long-run share of time the behavioral process spends in each state)
    by fixed-iteration integer power method over the same transition
    counts as type_transitions:

        pi_0(s)   = 1e6 div |states|
        pi_k+1(s) = sum_t (pi_k(t) * n(t->s)) div n_from(t)

    Multiply-then-divide per term keeps precision and stays identical
    in Spark `div` and DuckDB `//`; mass lost to flooring is not
    renormalized (the recurrence stays a pure integer function). States
    with no outgoing steps simply stop contributing — the standard
    substochastic treatment.

    Scale: the transition matrix is |types|^2 rows (vocab-bounded, tiny
    at any corpus size) — each iteration is one broadcast-sized join;
    the only corpus-scaled work is the per-user lead() window shared
    with type_transitions.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    steps = (
        events.select(
            "user_id",
            "ts",
            "event_id",
            F.col("event_type").alias("prev_type"),
            F.lead("event_type").over(w).alias("next_type"),
        )
        .where(F.col("next_type").isNotNull())
        .groupBy("prev_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = steps.groupBy("prev_type").agg(F.sum("n").alias("n_from"))
    trans = steps.join(tot, "prev_type").localCheckpoint(eager=True)
    states = (
        trans.select(F.col("prev_type").alias("state"))
        .unionByName(trans.select(F.col("next_type").alias("state")))
        .distinct()
    )
    n_states = states.agg(F.count(F.lit(1)).alias("ns"))
    pi = states.crossJoin(F.broadcast(n_states)).select(
        "state", F.expr("1000000L div ns").alias("pi_u")
    )
    for _ in range(iters):
        pi = (
            trans.join(
                pi.select(F.col("state").alias("prev_type"), "pi_u"), "prev_type"
            )
            .groupBy(F.col("next_type").alias("state"))
            .agg(F.sum(F.expr("(pi_u * n) div n_from")).alias("pi_u"))
            .join(states, "state", "right")
            .na.fill(0, ["pi_u"])
            .localCheckpoint(eager=True)
        )
    return pi.select("state", F.col("pi_u").cast("long").alias("pi_u"))
