"""Stateful streaming ops: cross-micro-batch state via
applyInPandasWithState and watermarked windowed aggregation."""

from __future__ import annotations

import os
import sys
from datetime import datetime

import pyspark.sql.functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from graphiti_spark.streaming.stateful import (
    entity_mention_state,
    windowed_mention_counts,
)

SCHEMA = "group_id string, name string, valid_at timestamp"


def _write_batches(spark, d):
    """Two parquet files -> two micro-batches (maxFilesPerTrigger=1);
    'Alice' spans both so her state must carry across batches."""
    b1 = [
        ("g1", "Alice", datetime(2024, 1, 1, 10)),
        ("g1", "Alice", datetime(2024, 1, 1, 12)),
        ("g1", "Bob", datetime(2024, 1, 2, 9)),
    ]
    b2 = [
        ("g1", "Alice", datetime(2024, 1, 3, 8)),
        ("g2", "Alice", datetime(2024, 1, 1, 7)),
    ]
    spark.createDataFrame(b1, SCHEMA).coalesce(1).write.parquet(f"{d}/in/b1")
    spark.createDataFrame(b2, SCHEMA).coalesce(1).write.parquet(f"{d}/in/b2")
    return (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{d}/in/*")
    )


def test_entity_state_accumulates_across_batches(spark, tmp_path):
    d = str(tmp_path)
    stream = _write_batches(spark, d)
    q = (
        entity_mention_state(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("entity_state")
        .option("checkpointLocation", f"{d}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.table("entity_state").toPandas()
    # update mode: the LAST emitted row per key is the cumulative state
    last = out.sort_values("n_mentions").groupby(["group_id", "name"]).last()
    alice = last.loc[("g1", "Alice")]
    assert alice["n_mentions"] == 3  # 2 in batch 1 + 1 in batch 2
    assert alice["first_seen"] == datetime(2024, 1, 1, 10)
    assert alice["last_seen"] == datetime(2024, 1, 3, 8)
    assert last.loc[("g1", "Bob")]["n_mentions"] == 1
    assert last.loc[("g2", "Alice")]["n_mentions"] == 1
    # Alice(g1) was emitted in BOTH batches: 2 rows proves cross-batch state
    assert (
        len(out[(out.group_id == "g1") & (out.name == "Alice")]) == 2
    )


def test_windowed_counts_with_watermark(spark, tmp_path):
    d = str(tmp_path)
    stream = _write_batches(spark, d)
    agg = windowed_mention_counts(stream)
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("win_counts")
        .option("checkpointLocation", f"{d}/ckpt2")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.table("win_counts")
    rows = {
        (r["group_id"], r["name"], r["window"]["start"].day): r["n_mentions"]
        for r in out.collect()
    }
    assert rows[("g1", "Alice", 1)] == 2  # two mentions on Jan 1
    assert rows[("g1", "Alice", 3)] == 1
    assert rows[("g1", "Bob", 2)] == 1
    # the plan carries the event-time watermark (bounded state at scale)
    assert "valid_at" in agg._jdf.queryExecution().analyzed().toString()


def test_dedup_episodes_stream_drops_recrawls(spark, tmp_path):
    """The same (group, content) arriving again — within a batch or in a
    later micro-batch inside the watermark horizon — is emitted once."""
    from graphiti_spark.streaming.stateful import dedup_episodes_stream

    d = str(tmp_path)
    eschema = "uuid string, group_id string, content string, valid_at timestamp"
    b1 = [
        ("e1", "g1", "same page text", datetime(2024, 1, 1, 10)),
        ("e2", "g1", "same page text", datetime(2024, 1, 1, 11)),  # intra-batch dup
        ("e3", "g1", "other text", datetime(2024, 1, 1, 12)),
    ]
    b2 = [
        ("e4", "g1", "same page text", datetime(2024, 1, 1, 13)),  # cross-batch dup
        ("e5", "g2", "same page text", datetime(2024, 1, 1, 14)),  # other group: kept
        ("e6", "g1", "fresh text", datetime(2024, 1, 1, 15)),
    ]
    spark.createDataFrame(b1, eschema).coalesce(1).write.parquet(f"{d}/in/b1")
    spark.createDataFrame(b2, eschema).coalesce(1).write.parquet(f"{d}/in/b2")
    stream = (
        spark.readStream.schema(eschema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{d}/in/*")
    )
    q = (
        dedup_episodes_stream(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_eps")
        .option("checkpointLocation", f"{d}/ckpt3")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.table("dedup_eps").toPandas()
    contents = sorted(zip(out.group_id, out.content))
    assert contents == [
        ("g1", "fresh text"),
        ("g1", "other text"),
        ("g1", "same page text"),
        ("g2", "same page text"),
    ]


EVT_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, value double"
)


def test_sessionize_stream_gap_and_timeout(spark, tmp_path):
    """A session closes (and is emitted exactly once) either when a
    same-user event arrives past the gap, or when the watermark passes
    last_event + gap (event-time timeout). Open sessions are never
    emitted."""
    from graphiti_spark.streaming.stateful import sessionize_stream

    d = str(tmp_path)
    b1 = [
        (1, datetime(2024, 1, 1, 10, 0), 1, "view", 1.0),
        (2, datetime(2024, 1, 1, 10, 10), 1, "click", 2.0),
        (3, datetime(2024, 1, 1, 10, 0), 2, "view", 5.0),
    ]
    # u1 returns past the 30-min gap -> closes session 1 in-batch;
    # the 18:00 event also advances the watermark to 17:00
    b2 = [(4, datetime(2024, 1, 1, 18, 0), 1, "view", 3.0)]
    # dummy user advances processing one more trigger so u2's
    # event-time timeout (10:30 < watermark 17:00) fires
    b3 = [(5, datetime(2024, 1, 1, 20, 0), 3, "view", 1.0)]
    for i, b in enumerate((b1, b2, b3), 1):
        spark.createDataFrame(b, EVT_SCHEMA).coalesce(1).write.parquet(
            f"{d}/in/b{i}"
        )
    stream = (
        spark.readStream.schema(EVT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{d}/in/*")
    )
    q = (
        sessionize_stream(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("sessions")
        .option("checkpointLocation", f"{d}/ckpt_sess")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    out = spark.table("sessions").toPandas()
    got = {
        (r.user_id, r.session_idx): (
            r.session_start,
            r.session_end,
            r.n_events,
            r.sum_value_c,
        )
        for r in out.itertuples()
    }
    # u1 session 1: two events 10:00-10:10, closed by the 18:00 arrival
    assert got[(1, 1)] == (
        datetime(2024, 1, 1, 10, 0),
        datetime(2024, 1, 1, 10, 10),
        2,
        300,
    )
    # u2 session 1: single event, closed by event-time timeout
    assert got[(2, 1)] == (
        datetime(2024, 1, 1, 10, 0),
        datetime(2024, 1, 1, 10, 0),
        1,
        500,
    )
    # u1 session 2: closed by the final no-data flush batch (watermark
    # ends at 19:00 > 18:00 + gap)
    assert got[(1, 2)] == (
        datetime(2024, 1, 1, 18, 0),
        datetime(2024, 1, 1, 18, 0),
        1,
        300,
    )
    # u3's 20:00 session is still open (timeout 20:30 > final watermark)
    assert len(got) == 3


def test_enrich_mentions_stream_cross_batch_join(spark, tmp_path):
    """Stream-stream join buffers state across micro-batches: a mention
    arriving one batch AFTER its episode (and vice versa) still joins;
    a mention outside the event-time slack never does."""
    from graphiti_spark.streaming.stateful import enrich_mentions_stream

    d = str(tmp_path)
    M = "group_id string, episode_uuid string, name string, valid_at timestamp"
    E = "group_id string, uuid string, content string, valid_at timestamp"
    # batch1: episode ep1 + mention of ep2 (episode not yet arrived)
    spark.createDataFrame(
        [("g1", "ep2", "Alice", datetime(2024, 1, 1, 10))], M
    ).coalesce(1).write.parquet(f"{d}/m/b1")
    spark.createDataFrame(
        [("g1", "ep1", "text one", datetime(2024, 1, 1, 9))], E
    ).coalesce(1).write.parquet(f"{d}/e/b1")
    # batch2: mention of ep1 (late), episode ep2, and a mention whose
    # event time is 3 days from its episode -> outside the 24h slack
    spark.createDataFrame(
        [
            ("g1", "ep1", "Bob", datetime(2024, 1, 1, 11)),
            ("g1", "ep1", "Zed", datetime(2024, 1, 4, 9)),
        ],
        M,
    ).coalesce(1).write.parquet(f"{d}/m/b2")
    spark.createDataFrame(
        [("g1", "ep2", "text two", datetime(2024, 1, 1, 10, 30))], E
    ).coalesce(1).write.parquet(f"{d}/e/b2")

    ms = (
        spark.readStream.schema(M)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{d}/m/*")
    )
    es = (
        spark.readStream.schema(E)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{d}/e/*")
    )
    q = (
        enrich_mentions_stream(ms, es)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("enriched")
        .option("checkpointLocation", f"{d}/ckpt_join")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    out = spark.table("enriched").toPandas()
    got = {(r["name"], r["episode_content"]) for _, r in out.iterrows()}
    assert got == {("Alice", "text two"), ("Bob", "text one")}
