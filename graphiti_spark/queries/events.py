"""Event-log queries: transitions, anomalies, attribution, sessions,
windows, funnels, retention, baskets and stationary distributions."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.events import CONVERSION_TYPE, SESSION_GAP_US, SPIKE_RATIO_U, TOUCH_TYPE


def q_evt_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type Markov transition matrix with integer-exact transition
    probabilities (one per-user window + vocab-sized agg)."""
    from ..operators.events import type_transitions

    from ..operators import events as ev

    return type_transitions(ev.read_events(spark, sf_dir))


def q_evt_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily volume anomaly ratios per event type (n vs the type's mean
    daily volume, micro-units; >=2x flagged as spike)."""
    from ..operators.events import daily_anomalies

    from ..operators import events as ev

    return daily_anomalies(ev.read_events(spark, sf_dir))


def q_evt_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution (as-of join): every purchase matched to
    the user's most recent at-or-before view — one window per user, no
    range join (DuckDB oracle uses LATERAL top-1, the ASOF semantics)."""
    from ..operators import events as ev

    return ev.last_touch_attribution(ev.read_events(spark, sf_dir))


def q_evt_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix over the events table (first-activity-day
    cohorts x day offset, integer retention rate)."""
    from ..operators import events as ev

    return ev.retention(ev.read_events(spark, sf_dir))


def q_evt_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization over the events table (30-min inactivity
    gap) — the batch twin of the streaming stateful rollup."""
    from ..operators import events as ev

    out = ev.sessionize(ev.read_events(spark, sf_dir))
    return out.select(
        "user_id",
        F.col("session_idx").cast("long").alias("session_idx"),
        F.col("n_events").cast("long").alias("n_events"),
        "session_start",
        "session_end",
        F.col("sum_value_c").cast("long").alias("sum_value_c"),
        F.col("n_types").cast("long").alias("n_types"),
    )


def q_evt_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time windows per event_type — the batch form
    of the watermarked streaming window aggregation."""
    from ..operators import events as ev

    out = ev.tumbling_windows(ev.read_events(spark, sf_dir))
    return out.select(
        "window_start",
        "event_type",
        F.col("n_events").cast("long").alias("n_events"),
        F.col("sum_value_c").cast("long").alias("sum_value_c"),
        F.col("n_users").cast("long").alias("n_users"),
    )


FUNNEL_STEPS = ["view", "click", "purchase"]


def q_evt_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-step funnel view->click->purchase: per user the earliest
    step-k event strictly after their step-(k-1) event, plus
    steps_completed — K-1 co-partitioned join+min stages, no per-user
    sort."""
    from ..operators import events as ev

    return ev.funnel(ev.read_events(spark, sf_dir), FUNNEL_STEPS)


HOP_WINDOW_S = 3600
HOP_S = 900


def q_evt_hopping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping 1-hour/15-min sliding windows per event_type (operators/
    events.hopping_windows) — the batch twin of the streaming
    overlapping-window aggregation; every event counts in 4 windows."""
    from ..operators import events as ev

    out = ev.hopping_windows(
        ev.read_events(spark, sf_dir), window_s=HOP_WINDOW_S, hop_s=HOP_S
    )
    return out.select(
        "window_start",
        "event_type",
        F.col("n_events").cast("long").alias("n_events"),
        F.col("sum_value_c").cast("long").alias("sum_value_c"),
        F.col("n_users").cast("long").alias("n_users"),
    )


def _sql_evt_hopping() -> str:
    n = HOP_WINDOW_S // HOP_S
    return f"""
WITH k AS (
  SELECT *, CAST(floor(epoch(ts) / {HOP_S}) AS BIGINT) AS k FROM events
),
x AS (
  SELECT *, unnest(range(k - {n - 1}, k + 1)) AS j FROM k
)
SELECT make_timestamp(j * {HOP_S} * 1000000) AS window_start, event_type,
       count(*) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_c,
       count(DISTINCT user_id) AS n_users
FROM x GROUP BY 1, 2"""


def q_evt_baskets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session market-basket rules (operators/events.session_baskets):
    support/confidence/lift per co-occurring event-type pair, sessions
    as baskets — Agrawal-Srikant over the 30-min gap sessions."""
    from ..operators import events as ev

    return ev.session_baskets(ev.read_events(spark, sf_dir))


def _sql_evt_baskets() -> str:
    return f"""
WITH flagged AS (
  SELECT user_id, event_id, ts, event_type,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > {SESSION_GAP_US}
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT *, sum(new_sess) OVER (
    PARTITION BY user_id ORDER BY ts, event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
  ) AS session_idx
  FROM flagged
),
items AS (SELECT DISTINCT user_id, session_idx, event_type FROM sess),
ns AS (SELECT count(*) AS n_sessions FROM
       (SELECT DISTINCT user_id, session_idx FROM items)),
supp AS (SELECT event_type, count(*) AS n FROM items GROUP BY 1),
pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b, count(*) AS n_ab
  FROM items a
  JOIN items b ON b.user_id = a.user_id AND b.session_idx = a.session_idx
              AND b.event_type > a.event_type
  GROUP BY 1, 2
)
SELECT p.type_a, p.type_b,
       CAST(p.n_ab AS BIGINT) AS n_ab,
       CAST(sa.n AS BIGINT) AS n_a,
       CAST(sb.n AS BIGINT) AS n_b,
       CAST((p.n_ab * 1000000) // ns.n_sessions AS BIGINT) AS support_u,
       CAST((p.n_ab * 1000000) // sa.n AS BIGINT) AS conf_ab_u,
       CAST((p.n_ab * 1000000) // sb.n AS BIGINT) AS conf_ba_u,
       CAST((p.n_ab * ns.n_sessions * 1000000) // (sa.n * sb.n) AS BIGINT)
         AS lift_u
FROM pairs p
JOIN supp sa ON sa.event_type = p.type_a
JOIN supp sb ON sb.event_type = p.type_b
CROSS JOIN ns"""


def _sql_evt_attribution() -> str:
    return f"""
WITH conv AS (
  SELECT user_id, event_id, ts FROM events WHERE event_type = '{CONVERSION_TYPE}'
),
touches AS (
  SELECT user_id, event_id, ts FROM events WHERE event_type = '{TOUCH_TYPE}'
)
SELECT c.user_id, c.event_id AS conversion_id, c.ts AS conversion_ts,
       t.touch_id, t.touch_ts
FROM conv c
LEFT JOIN LATERAL (
  SELECT tt.event_id AS touch_id, tt.ts AS touch_ts
  FROM touches tt
  WHERE tt.user_id = c.user_id AND tt.ts <= c.ts
  ORDER BY tt.ts DESC, tt.event_id DESC LIMIT 1
) t ON true"""


def _sql_evt_retention() -> str:
    return """
WITH firsts AS (
  SELECT user_id, date_trunc('day', min(ts)) AS cohort_day
  FROM events GROUP BY 1
),
active AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events),
sz AS (SELECT cohort_day, count(*) AS cohort_size FROM firsts GROUP BY 1),
per AS (
  SELECT f.cohort_day, datediff('day', f.cohort_day, a.day) AS day_offset,
         count(*) AS n_users
  FROM active a JOIN firsts f USING (user_id)
  GROUP BY 1, 2
)
SELECT p.cohort_day, CAST(p.day_offset AS BIGINT) AS day_offset,
       CAST(p.n_users AS BIGINT) AS n_users,
       CAST(sz.cohort_size AS BIGINT) AS cohort_size,
       CAST((1000000 * p.n_users) // sz.cohort_size AS BIGINT) AS retention_u
FROM per p JOIN sz USING (cohort_day)"""


def _sql_evt_sessions() -> str:
    return f"""
WITH flagged AS (
  SELECT user_id, event_id, ts, event_type,
         CAST(round(value * 100) AS BIGINT) AS value_c,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > {SESSION_GAP_US}
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT *, sum(new_sess) OVER (
    PARTITION BY user_id ORDER BY ts, event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
  ) AS session_idx
  FROM flagged
)
SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
       count(*) AS n_events,
       min(ts) AS session_start, max(ts) AS session_end,
       CAST(sum(value_c) AS BIGINT) AS sum_value_c,
       count(DISTINCT event_type) AS n_types
FROM sess GROUP BY 1, 2"""


def _sql_evt_windows() -> str:
    return """
SELECT date_trunc('hour', ts) AS window_start, event_type,
       count(*) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_c,
       count(DISTINCT user_id) AS n_users
FROM events GROUP BY 1, 2"""


def _sql_evt_transitions() -> str:
    return """
WITH steps AS (
  SELECT event_type AS prev_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS next_type
  FROM events
),
c AS (
  SELECT prev_type, next_type, count(*) AS n FROM steps
  WHERE next_type IS NOT NULL GROUP BY 1, 2
),
tot AS (SELECT prev_type, sum(n) AS n_from FROM c GROUP BY 1)
SELECT c.prev_type, c.next_type, CAST(c.n AS BIGINT) AS n,
       CAST((1000000 * c.n) // t.n_from AS BIGINT) AS prob_u
FROM c JOIN tot t ON t.prev_type = c.prev_type"""


def _sql_evt_anomaly() -> str:
    return f"""
WITH daily AS (
  SELECT event_type, date_trunc('day', ts) AS day, count(*) AS n
  FROM events GROUP BY 1, 2
),
norm AS (
  SELECT event_type, sum(n) AS total, count(*) AS n_days
  FROM daily GROUP BY 1
)
SELECT d.event_type, d.day, CAST(d.n AS BIGINT) AS n,
       CAST((1000000 * d.n * x.n_days) // x.total AS BIGINT) AS ratio_u,
       ((1000000 * d.n * x.n_days) // x.total >= {SPIKE_RATIO_U}) AS is_spike
FROM daily d JOIN norm x ON x.event_type = d.event_type"""


def _sql_evt_funnel() -> str:
    steps = FUNNEL_STEPS
    return f"""
WITH s1 AS (
  SELECT user_id, min(ts) AS t1 FROM events
  WHERE event_type = '{steps[0]}' GROUP BY 1
),
s2 AS (
  SELECT e.user_id, min(e.ts) AS t2
  FROM events e JOIN s1 ON s1.user_id = e.user_id
  WHERE e.event_type = '{steps[1]}' AND e.ts > s1.t1 GROUP BY 1
),
s3 AS (
  SELECT e.user_id, min(e.ts) AS t3
  FROM events e JOIN s2 ON s2.user_id = e.user_id
  WHERE e.event_type = '{steps[2]}' AND e.ts > s2.t2 GROUP BY 1
)
SELECT s1.user_id, t1, t2, t3,
       CAST(1 + CAST(t2 IS NOT NULL AS INT) + CAST(t3 IS NOT NULL AS INT)
            AS BIGINT) AS steps_completed
FROM s1
LEFT JOIN s2 ON s2.user_id = s1.user_id
LEFT JOIN s3 ON s3.user_id = s1.user_id"""


STAT_ITERS = 4


def q_evt_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the event-type Markov chain (integer
    power method, 4 fixed iterations over the vocab-bounded transition
    matrix) — the long-run state-share companion of evt_transitions."""
    from ..operators import events as ev

    return ev.stationary_distribution(ev.read_events(spark, sf_dir), iters=STAT_ITERS)


def _sql_evt_stationary() -> str:
    rounds = []
    for k in range(1, STAT_ITERS + 1):
        prev = f"pi{k - 1}"
        rounds.append(f"""
pi{k} AS (
  SELECT s.state, coalesce(m.pi_u, 0) AS pi_u
  FROM states s LEFT JOIN (
    SELECT c.next_type AS state,
           sum((p.pi_u * c.n) // t.n_from) AS pi_u
    FROM c
    JOIN tot t ON t.prev_type = c.prev_type
    JOIN {prev} p ON p.state = c.prev_type
    GROUP BY 1
  ) m ON m.state = s.state
)""")
    return f"""
WITH steps AS (
  SELECT event_type AS prev_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS next_type
  FROM events
),
c AS (
  SELECT prev_type, next_type, count(*) AS n FROM steps
  WHERE next_type IS NOT NULL GROUP BY 1, 2
),
tot AS (SELECT prev_type, sum(n) AS n_from FROM c GROUP BY 1),
states AS (
  SELECT prev_type AS state FROM c
  UNION
  SELECT next_type FROM c
),
pi0 AS (
  SELECT state,
         1000000 // (SELECT count(*) FROM states) AS pi_u
  FROM states
),{",".join(rounds)}
SELECT state, CAST(pi_u AS BIGINT) AS pi_u FROM pi{STAT_ITERS}"""
