"""Scale-path smoke tests: the pipeline must produce identical results
when broadcast joins are unavailable (the 100 TB regime, where uuid_map /
node tables are entity-scaled and SURVEY.md §2.3 J1 prescribes sort-merge
on the join keys). Round 2 forced `F.broadcast` on these tables; round 3
removed every entity-scaled hint — this pins (a) that AQE-off-broadcast
plans really take the sort-merge path and (b) that results are identical
either way.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from graphiti_spark.operators.materialize import resolve_edge_pointers
from graphiti_spark.plans.pipeline import build_graph, triples_view

_THRESHOLDS = (
    "spark.sql.autoBroadcastJoinThreshold",
    "spark.sql.adaptive.autoBroadcastJoinThreshold",
)


@pytest.fixture()
def no_broadcast(spark):
    # drop DataFrame-cache entries from earlier tests: a reused
    # InMemoryRelation embeds the physical plan compiled under the OLD
    # conf (broadcast enabled), which would leak BroadcastHashJoin nodes
    # into the plan string this test inspects
    spark.catalog.clearCache()
    old = {k: spark.conf.get(k, None) for k in _THRESHOLDS}
    for k in _THRESHOLDS:
        spark.conf.set(k, "-1")
    yield spark
    for k, v in old.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


def _signature(df):
    return (
        df.select(
            F.md5(F.concat_ws("|", "group_id", "subj", "pred", "obj")).alias("h")
        )
        .agg(F.array_sort(F.collect_list("h")))
        .collect()[0][0]
    )


def test_sort_merge_plan_is_chosen_without_broadcast(no_broadcast, sf_dir):
    t = build_graph(no_broadcast, sf_dir)
    plan = resolve_edge_pointers(
        t.triples_raw, t.uuid_map
    )._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    assert "BroadcastHashJoin" not in plan


def test_distributed_cc_branch_matches_local(spark, monkeypatch):
    """The distributed min-label fixpoint (taken when the match-edge list
    exceeds LOCAL_CC_THRESHOLD — the 100 TB common path) produces the
    same components as the small-graph driver path. Forced here by
    dropping the threshold to 0 so the bounded probe always overflows."""
    from graphiti_spark.operators import resolve

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("d", "e"), ("f", "f")], ["src", "dst"]
    )
    verts = spark.createDataFrame(
        [("a",), ("b",), ("c",), ("d",), ("e",), ("f",), ("g",)], ["id"]
    )
    expected = {
        r["id"]: r["component"]
        for r in resolve.connected_components(edges, verts).collect()
    }
    monkeypatch.setattr(resolve, "LOCAL_CC_THRESHOLD", 0)
    got = {
        r["id"]: r["component"]
        for r in resolve.connected_components(edges, verts).collect()
    }
    assert got == expected
    assert got["c"] == "a" and got["e"] == "d" and got["g"] == "g"


def test_results_identical_with_and_without_broadcast(spark, sf_dir):
    base = _signature(triples_view(build_graph(spark, sf_dir)))
    old = {k: spark.conf.get(k, None) for k in _THRESHOLDS}
    try:
        for k in _THRESHOLDS:
            spark.conf.set(k, "-1")
        smj = _signature(triples_view(build_graph(spark, sf_dir)))
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert base == smj and len(base) > 0
