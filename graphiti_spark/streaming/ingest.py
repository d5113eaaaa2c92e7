"""Structured Streaming ingest: the incremental counterpart of the batch
pipeline.

The reference is request-driven with a serialized per-group episode queue
(/root/reference/server/graph_service/routers/ingest.py:13-48 AsyncWorker;
mcp_server/graphiti_mcp_server.py:253-285 per-group queues) — its only
ordering guarantee is sequential processing per group_id. The streaming
equivalent: a file/table stream of pages micro-batched through
`foreachBatch`, where each micro-batch runs the same deterministic
extraction DAG and appends to the graph tables. Determinism of uuids
(md5 of natural keys) makes re-delivered pages idempotent, which is what
replaces the reference's queue serialization.

At scale this is `readStream.table('pages')` on an Iceberg source with
`Trigger.AvailableNow` for catch-up runs and watermarked `warc_ts` if
late-arriving crawl segments need bounded state; the per-batch DAG is
stateless (all cross-batch merging happens in the MERGE INTO-style append
+ downstream dedup), so no applyInPandasWithState is required for the
core pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.episodes import build_episodes
from ..operators.extract import extract_all
from ..schemas import PAGES


def stream_pages(spark: SparkSession, pages_dir: str) -> DataFrame:
    """File-source stream over a directory of pages parquet."""
    return (
        spark.readStream.schema(PAGES)
        .option("maxFilesPerTrigger", 1)
        .parquet(pages_dir)
    )


def process_batch(batch_df: DataFrame, out_dir: str) -> None:
    """One micro-batch: pages -> episodes -> combined extraction ->
    append episodes + raw triples + mentions to the staging tables.
    Entity resolution / dedup / invalidation run as the periodic batch
    compaction over the staged tables (the lambda-style split the
    reference's bulk path also uses, graphiti.py:493-604): a
    `plans.pipeline.GraphTables(None)` whose `extracted` stage is assigned
    the staged `{out_dir}/extracted` table."""
    episodes = build_episodes(batch_df)
    extracted = extract_all(episodes)
    episodes.write.mode("append").parquet(f"{out_dir}/episodes")
    extracted.write.mode("append").parquet(f"{out_dir}/extracted")


def run_ingest(
    spark: SparkSession,
    pages_dir: str,
    out_dir: str,
    checkpoint_dir: str,
):
    """Start the ingest stream (availableNow: the query drains all
    pending files and stops — the catch-up mode)."""
    return (
        stream_pages(spark, pages_dir)
        .writeStream.foreachBatch(lambda df, _epoch: process_batch(df, out_dir))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


class IncrementalMaintainer:
    """foreachBatch sink that folds every micro-batch of pages into a
    STANDING graph via plans/incremental.merge_batch — continuous KG
    maintenance, the streaming twin of graphiti's add_episode loop.
    Unlike process_batch + a GraphTables compaction (stage now, compact
    later), the maintained graph is query-ready after every trigger, and
    each trigger does only delta work: contracted-CC entity resolution over
    the batch's new names and touched-pair edge recompaction
    (plans/incremental.py). In-session the state tables are checkpointed
    DataFrames; at scale they are Iceberg tables and the fold's commits
    become MERGE INTO / overwrite-partition commits. Micro-batch ORDER
    does not matter for the final graph — every merge is a fold toward
    the same one-shot batch result (pinned by the equality tests), so
    redelivery and reordering are safe."""

    def __init__(self, ontology=None):
        self.state = None
        self.ontology = ontology

    def __call__(self, batch_df: DataFrame, _epoch_id: int) -> None:
        from ..plans import incremental

        if batch_df.isEmpty():
            return
        state = self.state or incremental.GraphState.empty(batch_df.sparkSession)
        self.state = incremental.merge_batch(state, batch_df, self.ontology)


def run_incremental(
    spark: SparkSession, pages_dir: str, checkpoint_dir: str
):
    """Start the continuously-maintained-graph stream (availableNow:
    drain pending files, one merge per file, then stop). Returns
    (query, maintainer) — maintainer.state is the live graph."""
    m = IncrementalMaintainer()
    q = (
        stream_pages(spark, pages_dir)
        .writeStream.foreachBatch(m)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    return q, m
