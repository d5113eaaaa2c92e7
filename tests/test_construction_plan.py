"""One construction plan: a build runs the GraphTables stages over the
empty graph, and plans/incremental.merge_batch runs them over the
standing one. These tests pin what that costs a build (nothing: the
optimizer prunes every empty prior term) and what the merge must release
(the batch's cached entity table)."""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import functions as F

from graphiti_spark.plans import incremental
from graphiti_spark.plans.pipeline import GraphTables
from graphiti_spark.sources.pages import build_pages

EMPTY = "LocalRelation <empty>"


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_build_plans_prune_the_empty_prior(spark, graph, monkeypatch):
    """The optimized plans of a build's uuid_map and of both edge-stage
    commits keep no empty relation of the prior graph, and the edge table
    a build returns reads its commit."""
    committed = []
    commit = GraphTables._commit

    def spy(self, df):
        committed.append(_optimized(df))
        return commit(self, df)

    monkeypatch.setattr(GraphTables, "_commit", spy)
    t = GraphTables(None)
    t.extracted = graph.extracted  # the build's committed extraction
    assert EMPTY not in _optimized(t.uuid_map)

    committed.clear()
    edges = t.edges
    assert len(committed) == 2  # materialize, then invalidate
    for plan in committed:
        assert EMPTY not in plan
    assert "Scan ExistingRDD" in edges._jdf.queryExecution().executedPlan().toString()
    t.release()


def test_merge_releases_batch_entities(spark, sf_dir, monkeypatch):
    """Every merge caches its batch's entity table; after three merges
    the cache manager holds none of them."""
    cached = []
    build = GraphTables._build_entities

    def spy(self):
        df = build(self)
        cached.append(df)
        return df

    monkeypatch.setattr(GraphTables, "_build_entities", spy)
    pages = build_pages(spark, sf_dir)
    state = incremental.GraphState.empty(spark)
    for i in range(3):
        state = incremental.merge_batch(state, pages.where(F.col("doc_id") % 20 == i))
    assert len(cached) == 3
    for df in cached:
        assert df.storageLevel == StorageLevel.NONE
