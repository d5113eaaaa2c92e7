"""Ontology extension point (reference `entity_types` /`edge_types`,
graphiti.py:264; node classification node_operations.py:339-355; edge
duplicate judgment edge_operations.py:151-192): a custom Ontology changes
entity labels, predicate synonym classes (edge dedup) and contradiction
classes with no code edits — the deterministic analogue of handing the
reference custom pydantic entity types and edge maps.
"""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from graphiti_spark.ontology import DEFAULT, Ontology
from graphiti_spark.plans.pipeline import build_graph


def _pages(spark, rows):
    return spark.createDataFrame(
        [
            (
                f"https://src0.example.com/doc/{i}",
                None,
                None,
                text,
                "en",
                "src0",
                i,
            )
            for i, text in enumerate(rows)
        ],
        "url string, warc_ts timestamp, html binary, text string,"
        " lang string, group_id string, doc_id long",
    ).withColumn(
        # staggered per doc: the earliest observation (doc 0, WORKS_AT)
        # must deterministically donate the merged edge's predicate
        "warc_ts",
        F.expr("timestampadd(MINUTE, cast(doc_id as int),"
               " timestamp'2024-06-01 00:00:00')"),
    )


TEXTS = [
    "title zero\n\nnoise\n\nAlice Johnson works at Acme Corp.",
    "title one\n\nnoise\n\nAlice Johnson is employed at Acme Corp.",
    "title two\n\nnoise\n\nBob Hartley likes Carol Danvers.",
]


def test_default_ontology_merges_paraphrase_predicates(spark):
    t = build_graph(spark, sf_dir="", pages=_pages(spark, TEXTS))
    eds = t.edges.select("name").toPandas()["name"].tolist()
    # EMPLOYED_AT collapses into the WORKS_AT synonym class: one edge for
    # the pair, named by the earliest observation
    assert eds.count("WORKS_AT") == 1
    assert "EMPLOYED_AT" not in eds


def test_custom_ontology_changes_labels_and_dedup(spark):
    custom = Ontology(
        pred_roles={
            **DEFAULT.pred_roles,
            # relabel: employers become 'Company', employees 'Agent'
            "WORKS_AT": ("Agent", "Company"),
            "EMPLOYED_AT": ("Agent", "Company"),
            "LIKES": ("Agent", "Agent"),
        },
        synonyms={},  # no paraphrase classes: EMPLOYED_AT keeps its own edge
    )
    t = build_graph(spark, sf_dir="", pages=_pages(spark, TEXTS), ontology=custom)
    eds = t.edges.select("name").toPandas()["name"].tolist()
    assert sorted(e for e in eds if e.endswith("_AT")) == [
        "EMPLOYED_AT",
        "WORKS_AT",
    ]
    labs = {
        r["name"]: r["labels"]
        for r in t.nodes.select("name", "labels").collect()
    }
    assert "Agent" in labs["Alice Johnson"]
    assert "Company" in labs["Acme Corp"]


def test_ontology_synonym_class_sql_identity():
    assert Ontology(synonyms={}).synonym_class_sql("pred") == "pred"
    sql = DEFAULT.synonym_class_sql("pred")
    assert "EMPLOYED_AT" in sql and "WORKS_AT" in sql


def test_empty_role_table_labels_every_node_entity(spark):
    """An ontology with no predicate roles votes no label: the build runs
    and every node keeps the bare Entity label."""
    assert Ontology(pred_roles={}).role_sql(0) == "CAST(NULL AS STRING)"
    t = build_graph(
        spark, sf_dir="", pages=_pages(spark, TEXTS), ontology=Ontology(pred_roles={})
    )
    labels = {tuple(r["labels"]) for r in t.nodes.select("labels").collect()}
    assert labels == {("Entity",)}


def test_add_triplet_keeps_the_graphs_contradiction_table(spark):
    """add_triplet re-runs invalidation under the ontology the graph was
    built with: with no contradiction classes, a works-at fact and its
    later no-longer-works-at twin both stay valid."""
    from graphiti_spark.api import GraphitiSpark

    pages = _pages(spark, [
        "title zero\n\nnoise\n\nAlice Johnson works at Acme Corp.",
        "title one\n\nnoise\n\nAlice Johnson no longer works at Acme Corp.",
    ])
    g = GraphitiSpark(spark)
    t = g.build("", pages=pages, ontology=Ontology(contra={}))
    assert t.edges.where("invalid_at IS NOT NULL").count() == 0
    g.add_triplet("src0", "Bob Hartley", "LIKES", "Carol Danvers",
                  "Bob Hartley likes Carol Danvers.",
                  datetime.datetime(2024, 7, 1), "ep-added")
    assert g.tables.edges.count() == 3
    assert g.tables.edges.where("invalid_at IS NOT NULL").count() == 0


def test_custom_ontology_same_graph_on_every_entry_path(spark, tmp_path):
    """One non-default configuration, five entry paths, one graph: the
    one-shot build, a compaction over staged extraction, the incremental
    merge, the streaming maintainer and the facade's build + add_pages all
    give the same kg_triples rows."""
    from graphiti_spark.api import GraphitiSpark
    from graphiti_spark.plans import incremental
    from graphiti_spark.plans.pipeline import GraphTables, triples_view
    from graphiti_spark.streaming.ingest import IncrementalMaintainer, process_batch

    custom = Ontology(
        pred_roles={**DEFAULT.pred_roles, "WORKS_AT": ("Agent", "Company")},
        synonyms={},
        # a later "is employed at" fact ends a "works at" fact on the same
        # pair; likes / dislikes never contradict
        contra={"WORKS_AT": ("JOB", 1), "EMPLOYED_AT": ("JOB", -1)},
    )
    pages = _pages(spark, TEXTS + ["title three\n\nnoise\n\nBob Hartley dislikes Carol Danvers."])
    a = pages.where(F.col("doc_id") % 2 == 0)
    b = pages.where(F.col("doc_id") % 2 == 1)
    cols = ["group_id", "subj", "pred", "obj", "fact", "valid_at",
            "invalid_at", "n_episodes"]

    def rows(df):
        if "n_episodes" not in df.columns:
            df = df.withColumn("n_episodes", F.size("episodes").cast("long"))
        return df.select(*cols).toPandas().sort_values(cols[:6]).reset_index(drop=True)

    built = rows(triples_view(build_graph(spark, "", pages=pages, ontology=custom)))
    inv = built.set_index("pred")["invalid_at"]
    assert not inv.isna()["WORKS_AT"]
    assert inv.isna()["LIKES"] and inv.isna()["DISLIKES"]

    staged = str(tmp_path / "staged")
    process_batch(a, staged)
    process_batch(b, staged)
    t = GraphTables(None, ontology=custom)
    t.extracted = spark.read.parquet(f"{staged}/extracted")

    st = incremental.merge_batch(incremental.initial_state(a, custom), b, custom)

    m = IncrementalMaintainer(custom)
    m(a, 0)
    m(b, 1)

    g = GraphitiSpark(spark)
    g.build("", pages=a, ontology=custom)
    g.add_pages(b)

    for name, got in [
        ("staged", triples_view(t)),
        ("merge_batch", incremental.incremental_triples(st)),
        ("maintainer", incremental.incremental_triples(m.state)),
        ("add_pages", g.triples()),
    ]:
        got = rows(got)
        assert got.equals(built), (name, got, built)
