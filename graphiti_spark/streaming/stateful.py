"""Stateful streaming operators (§2.12 beyond foreachBatch ingest).

Two incremental counterparts of batch aggregations the engine runs over
mention rows, for deployments that keep a live graph instead of running
periodic compaction:

* `windowed_mention_counts` — per-entity mention counts in event-time
  windows over `valid_at` (= warc_ts), with a watermark bounding state
  for late-arriving crawl segments. Pure built-in streaming aggregation:
  state lives in the HDFS/RocksDB state store, partial aggregation is
  map-side, and the watermark evicts closed windows — the standard
  late-data design from the Structured Streaming model.

* `entity_mention_state` — a custom stateful operator via
  `applyInPandasWithState`: per (group_id, name) it maintains
  (n_mentions, first_seen, last_seen) across micro-batches and emits the
  updated totals each batch (the live analogue of the batch
  `kg_mentions` rollup + the first/last-seen attributes). State is keyed
  and Arrow-batched; timestamps are held as epoch micros in the state
  row (state schemas keep to primitive types).

The reference has no streaming surface (its ingest queue serializes
per-group episodes, server/graph_service/routers/ingest.py:13-48); these
operators are the capability a crawl-scale deployment needs on top.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

MENTION_STATE_OUTPUT = StructType(
    [
        StructField("group_id", StringType()),
        StructField("name", StringType()),
        StructField("n_mentions", LongType()),
        StructField("first_seen", TimestampType()),
        StructField("last_seen", TimestampType()),
    ]
)

_MENTION_STATE = StructType(
    [
        StructField("n", LongType()),
        StructField("first_us", LongType()),
        StructField("last_us", LongType()),
    ]
)


# event-time horizon of late mentions / episodes: state older than this is
# evicted
LATE_WATERMARK = "2 days"


def windowed_mention_counts(mentions: DataFrame) -> DataFrame:
    """Event-time 1-day windowed mention counts with bounded late-data
    state. `mentions`: streaming (group_id, name, valid_at)."""
    return (
        mentions.withWatermark("valid_at", LATE_WATERMARK)
        .groupBy(F.window("valid_at", "1 day"), "group_id", "name")
        .agg(F.count(F.lit(1)).alias("n_mentions"))
    )


def _update_entity_state(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    group_id, name = key
    if state.exists:
        n, first_us, last_us = state.get
    else:
        n, first_us, last_us = 0, None, None
    for pdf in pdfs:
        ts = pd.to_datetime(pdf["valid_at"])
        n += len(pdf)
        lo = int(ts.min().value // 1_000)
        hi = int(ts.max().value // 1_000)
        first_us = lo if first_us is None else min(first_us, lo)
        last_us = hi if last_us is None else max(last_us, hi)
    state.update((n, first_us, last_us))
    yield pd.DataFrame(
        {
            "group_id": [group_id],
            "name": [name],
            "n_mentions": [n],
            "first_seen": [pd.Timestamp(first_us * 1_000)],
            "last_seen": [pd.Timestamp(last_us * 1_000)],
        }
    )


def entity_mention_state(mentions: DataFrame) -> DataFrame:
    """Incremental per-entity rollup across micro-batches. `mentions`:
    streaming (group_id, name, valid_at). Emits one updated row per
    touched entity per batch (outputMode 'update')."""
    return mentions.groupBy("group_id", "name").applyInPandasWithState(
        _update_entity_state,
        outputStructType=MENTION_STATE_OUTPUT,
        stateStructType=_MENTION_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def dedup_episodes_stream(episodes: DataFrame) -> DataFrame:
    """Streaming exact dedup of episode chunks by content fingerprint —
    the incremental form of docs.exact_dup_groups for a live ingest: a
    re-crawled or mirrored page whose cleaned chunk already streamed
    through within the watermark horizon is dropped, so downstream
    extraction state is never double-counted.

    `episodes`: streaming (uuid, group_id, content, valid_at).
    dropDuplicatesWithinWatermark keys the state store on the md5
    fingerprint and evicts entries once the watermark passes them —
    bounded state, unlike a plain dropDuplicates which would pin every
    fingerprint forever (the standard crawl-scale design: exact dup
    storms are bursty and near-in-time; cross-horizon dedup belongs to
    the batch compaction pass).
    """
    return (
        episodes.withColumn("fingerprint", F.md5(F.col("content")))
        .withWatermark("valid_at", LATE_WATERMARK)
        .dropDuplicatesWithinWatermark(["group_id", "fingerprint"])
    )


SESSION_OUTPUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_idx", LongType()),
        StructField("session_start", TimestampType()),
        StructField("session_end", TimestampType()),
        StructField("n_events", LongType()),
        StructField("sum_value_c", LongType()),
    ]
)

_SESSION_STATE = StructType(
    [
        StructField("idx", LongType()),
        StructField("start_us", LongType()),
        StructField("last_us", LongType()),
        StructField("n", LongType()),
        StructField("sum_c", LongType()),
    ]
)


def _update_session(key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState):
    from ..operators.events import SESSION_GAP_US as gap_us

    (user_id,) = key
    if state.exists:
        idx, start_us, last_us, n, sum_c = state.get
    else:
        idx, start_us, last_us, n, sum_c = 1, None, None, 0, 0
    closed: list[tuple] = []

    if state.hasTimedOut:
        # watermark passed last event + gap: the open session is final
        if n:
            closed.append((user_id, idx, start_us, last_us, n, sum_c))
        state.remove()
    else:
        rows = pd.concat(list(pdfs), ignore_index=True)
        ts_us = (pd.to_datetime(rows["ts"]).astype("int64") // 1_000).to_numpy()
        val_c = rows["value"].mul(100).round().astype("int64").to_numpy()
        order = ts_us.argsort(kind="stable")
        for t, v in zip(ts_us[order], val_c[order]):
            t, v = int(t), int(v)
            if last_us is not None and t - last_us > gap_us:
                closed.append((user_id, idx, start_us, last_us, n, sum_c))
                idx, start_us, n, sum_c = idx + 1, None, 0, 0
            start_us = t if start_us is None else start_us
            last_us, n, sum_c = t, n + 1, sum_c + v
        state.update((idx, start_us, last_us, n, sum_c))
        # close the open session when event time passes last + gap
        state.setTimeoutTimestamp((last_us + gap_us) // 1_000)

    yield pd.DataFrame(
        [
            {
                "user_id": u,
                "session_idx": i,
                "session_start": pd.Timestamp(s * 1_000),
                "session_end": pd.Timestamp(e * 1_000),
                "n_events": c,
                "sum_value_c": sc,
            }
            for (u, i, s, e, c, sc) in closed
        ],
        columns=[f.name for f in SESSION_OUTPUT.fields],
    )


def sessionize_stream(events: DataFrame) -> DataFrame:
    """Streaming gap-based sessionization — the incremental twin of
    operators/events.sessionize, emitting each session exactly once when
    it CLOSES: either a new event from the same user arrives past the
    30-minute gap (in-batch or cross-batch), or the event-time watermark
    passes last_event + gap (`EventTimeTimeout` on a 1-hour watermark, so
    idle sessions close
    without waiting for the user to return — the state store never holds
    a finished session longer than the late-data horizon).

    `events`: streaming (event_id, ts, user_id, event_type, value, ...).
    State is one skinny row per OPEN session keyed by user_id; output
    mode is 'append' (closed sessions are immutable facts)."""
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy("user_id")
        .applyInPandasWithState(
            _update_session,
            outputStructType=SESSION_OUTPUT,
            stateStructType=_SESSION_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def enrich_mentions_stream(
    mentions: DataFrame,
    episodes: DataFrame,
) -> DataFrame:
    """Stream-stream inner join: a live mention stream enriched with the
    episode stream it references — the streaming analogue of the batch
    provenance join (mentions ⋈ episodes), for deployments where
    extraction workers and crawl-segment metadata arrive on SEPARATE
    topics and out of order.

    Both sides carry an event-time watermark and the join condition
    bounds |mention.valid_at - episode.ep_valid_at| <= 24 hours, so
    the state store holds only the slack window of each side (unbounded
    buffering is the classic stream-stream join failure; the range
    condition is what lets Spark evict). Equality keys
    (group_id, episode_uuid) make the state lookup hash-partitioned —
    one shuffle per side on the same key.

    mentions: (group_id, episode_uuid, name, valid_at)
    episodes: (group_id, uuid, content, valid_at)
    """
    m = mentions.withWatermark("valid_at", LATE_WATERMARK)
    e = episodes.select(
        F.col("group_id").alias("ep_group_id"),
        F.col("uuid").alias("ep_uuid"),
        F.col("content").alias("episode_content"),
        F.col("valid_at").alias("ep_valid_at"),
    ).withWatermark("ep_valid_at", LATE_WATERMARK)
    cond = (
        (m["group_id"] == e["ep_group_id"])
        & (m["episode_uuid"] == e["ep_uuid"])
        & (
            e["ep_valid_at"]
            >= m["valid_at"] - F.expr("INTERVAL 24 HOURS")
        )
        & (
            e["ep_valid_at"]
            <= m["valid_at"] + F.expr("INTERVAL 24 HOURS")
        )
    )
    return m.join(e, cond, "inner").select(
        "group_id", "episode_uuid", "name", "valid_at",
        "episode_content", "ep_valid_at",
    )
