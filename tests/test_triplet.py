"""add_triplet (X18, graphiti.py:723-756): endpoint resolution against the
existing graph, edge reuse with provenance append, invalidation on
insert."""

from __future__ import annotations

import datetime

import pandas as pd
from pyspark.sql import functions as F

from graphiti_spark.operators.triplet import add_triplets

T0 = datetime.datetime(2024, 1, 1)
T1 = datetime.datetime(2024, 2, 1)


def _base(spark):
    nodes = spark.createDataFrame(
        [
            ("g", "n-alice", "Alice Johnson", ["Person"], 1, ""),
            ("g", "n-acme", "Acme Corp", ["Organization"], 1, ""),
        ],
        "group_id string, uuid string, name string, labels array<string>,"
        " n_aliases long, summary string",
    )
    edges = spark.createDataFrame(
        [
            ("g", "n-alice", "n-acme", "WORKS_AT", "e-1",
             "Alice Johnson works at Acme Corp.", ["ep0"], T0, None, None, T0),
        ],
        "group_id string, source_node_uuid string, target_node_uuid string,"
        " name string, uuid string, fact string, episodes array<string>,"
        " valid_at timestamp, invalid_at timestamp, expired_at timestamp,"
        " created_at timestamp",
    )
    return nodes, edges


def test_existing_endpoints_and_edge_reused(spark):
    nodes, edges = _base(spark)
    trip = spark.createDataFrame(
        [("g", "Professor Alice Johnson", "WORKS_AT", "Acme Corp Inc",
          "Alice works at Acme.", T0, "ep1")],
        "group_id string, subj_name string, pred string, obj_name string,"
        " fact string, valid_at timestamp, episode_uuid string",
    )
    nodes2, edges2 = add_triplets(nodes, edges, trip)
    assert nodes2.count() == 2  # honorific/suffix variants resolve, no new nodes
    e = edges2.toPandas()
    assert len(e) == 1
    assert e["uuid"].iloc[0] == "e-1"  # earliest uuid kept
    assert sorted(e["episodes"].iloc[0]) == ["ep0", "ep1"]  # provenance appended


def test_new_endpoint_creates_node(spark):
    nodes, edges = _base(spark)
    trip = spark.createDataFrame(
        [("g", "Alice Johnson", "LIKES", "Bob Hartley", "Alice likes Bob.", T0, "ep1")],
        "group_id string, subj_name string, pred string, obj_name string,"
        " fact string, valid_at timestamp, episode_uuid string",
    )
    nodes2, edges2 = add_triplets(nodes, edges, trip)
    n = nodes2.toPandas()
    assert len(n) == 3
    assert "Bob Hartley" in set(n["name"])
    assert edges2.count() == 2


def test_insert_triggers_invalidation(spark):
    nodes, edges = _base(spark)
    trip = spark.createDataFrame(
        [("g", "Alice Johnson", "NO_LONGER_WORKS_AT", "Acme Corp",
          "Alice no longer works at Acme.", T1, "ep1")],
        "group_id string, subj_name string, pred string, obj_name string,"
        " fact string, valid_at timestamp, episode_uuid string",
    )
    _, edges2 = add_triplets(nodes, edges, trip)
    e = edges2.toPandas().set_index("name")
    assert e.loc["WORKS_AT", "invalid_at"] == T1  # the old fact gets closed
    assert pd.isna(e.loc["NO_LONGER_WORKS_AT", "invalid_at"])


def test_suffix_chain_resolves_to_built_node(spark):
    """add_triplet keys a name as the build does (extract.norm_sql strips
    every trailing corporate suffix): 'Acme Corp Inc Ltd' is the node the
    build made of 'Acme Corp', not a new one."""
    from graphiti_spark.plans.pipeline import build_graph

    pages = spark.createDataFrame(
        [
            ("https://src0.example.com/doc/0", T0, None,
             "title zero\n\nnoise\n\nAlice Johnson works at Acme Corp.",
             "en", "src0", 0),
        ],
        "url string, warc_ts timestamp, html binary, text string,"
        " lang string, group_id string, doc_id long",
    )
    t = build_graph(spark, sf_dir="", pages=pages)
    built = {r["name"]: r["uuid"] for r in t.nodes.select("name", "uuid").collect()}
    assert "Acme Corp" in built
    trip = spark.createDataFrame(
        [("src0", "Alice Johnson", "LIKES", "Acme Corp Inc Ltd",
          "Alice likes Acme.", T1, "ep1")],
        "group_id string, subj_name string, pred string, obj_name string,"
        " fact string, valid_at timestamp, episode_uuid string",
    )
    nodes2, edges2 = add_triplets(t.nodes, t.edges, trip)
    assert nodes2.count() == len(built)  # no node minted for the suffix chain
    liked = edges2.where(F.col("name") == "LIKES").collect()
    assert [r["target_node_uuid"] for r in liked] == [built["Acme Corp"]]
