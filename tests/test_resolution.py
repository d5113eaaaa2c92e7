"""Entity resolution (X5/X7): alias merging via normalized-name blocking,
MinHash-LSH fuzzy blocking, and connected-components canonicalization.
Reference decision structure: graphiti_core/utils/maintenance/
node_operations.py:298-412, bulk_utils.py:243-327."""

from __future__ import annotations

import pandas as pd

from graphiti_spark.operators.resolve import (
    EntityIndex,
    char_shingles,
    connected_components,
    distinct_entities,
    jaccard,
    minhash_signature,
    resolve_entities,
)
from graphiti_spark.plans.pipeline import GraphTables


def test_alias_groups_merge(graph):
    """'Acme Corp' and 'Acme Corp Inc' resolve to one canonical node with
    the shortest display name."""
    nodes = graph.nodes.toPandas()
    um = graph.uuid_map.toPandas()
    merged = um[um["uuid"] != um["canon_uuid"]]
    assert len(merged) > 0, "corpus must contain alias variants"
    # canonical display name is the shortest alias
    by_canon = um.merge(
        nodes[["uuid", "name"]].rename(columns={"uuid": "canon_uuid", "name": "canon_name"}),
        on="canon_uuid",
    )
    for _, grp in by_canon.groupby("canon_uuid"):
        shortest = sorted(grp["name"], key=lambda n: (len(n), n))[0]
        assert grp["canon_name"].iloc[0] == shortest


def test_no_cross_group_merge(graph):
    """group_id is a hard partition (nodes.py:81): canonical nodes never
    span group_ids."""
    um = graph.uuid_map.toPandas()
    assert (um.groupby("canon_uuid")["group_id"].nunique() == 1).all()


def test_minhash_properties():
    a = minhash_signature("acme corp")
    b = minhash_signature("acme corp")
    assert (a == b).all(), "deterministic"
    sim = minhash_signature("acme corporation")
    frac = (a == sim).mean()
    dif = minhash_signature("zephyr logistics")
    assert frac > (a == dif).mean()


def test_jaccard_shingles():
    assert jaccard("acme corp", "acme corp") == 1.0
    assert jaccard("acme corp", "zzz") < 0.1
    assert "^ac" in char_shingles("acme")


def test_lsh_equals_exact_on_corpus(spark, graph):
    """The resolver (exact + LSH blocking) called on an empty index gives
    the build's canonical assignment, entity for entity."""
    index, _ = resolve_entities(
        EntityIndex.empty(spark), distinct_entities(graph.mentions_raw)
    )
    a = graph.uuid_map.toPandas().set_index("uuid")["canon_uuid"]
    b = index.canon.toPandas().set_index("uuid")["canon_uuid"]
    assert a.sort_index().equals(b.sort_index())


def test_connected_components_chain(spark):
    """CC must close transitive chains a-b, b-c -> one component."""
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], ["src", "dst"]
    )
    verts = spark.createDataFrame([(v,) for v in "abcxyz"], ["id"])
    comp = {
        r["id"]: r["component"]
        for r in connected_components(edges, verts).collect()
    }
    assert comp["a"] == comp["b"] == comp["c"] == "a"
    assert comp["x"] == comp["y"] == "x"
    assert comp["z"] == "z"


def test_lsh_finds_typo_variants(spark):
    """Fuzzy blocking catches near-identical names exact blocking misses."""
    rows = [
        ("e1", "g", "Alice Johnson", "alice johnson", "Person"),
        ("e1", "g", "Alice Johnsonn", "alice johnsonn", "Person"),
        ("e1", "g", "Bob Hartley", "bob hartley", "Person"),
    ]
    import datetime

    ts = datetime.datetime(2024, 1, 1)
    mentions = spark.createDataFrame(
        [(a, b, c, d, e, ts) for a, b, c, d, e in rows],
        "episode_uuid string, group_id string, name string, norm_name string,"
        " label string, valid_at timestamp",
    )
    t = GraphTables(None)
    t.mentions_raw = mentions
    nodes, um = t._base_nodes, t.uuid_map
    m = um.toPandas().set_index("name")["canon_uuid"]
    assert m["Alice Johnson"] == m["Alice Johnsonn"]
    assert m["Bob Hartley"] != m["Alice Johnson"]
    got = nodes.toPandas()
    assert len(got) == 2
    assert "Alice Johnson" in set(got["name"])


def test_lsh_band_rows_match_python_minhash(spark):
    """The JVM band rows (standing state of the incremental merge) equal
    the bands of the single-process `minhash_signature`, name by name:
    ordinary, empty, 1- and 2-character and non-ASCII names."""
    from graphiti_spark.operators.resolve import LSH_BANDS, LSH_ROWS, lsh_band_rows

    names = ["john smith", "acme corporation", "", "a", "ab", "zoë müller",
             "北京大学", "crème brûlée co"]
    ents = spark.createDataFrame(
        [(f"u{i}", "g", n) for i, n in enumerate(names)],
        "uuid string, group_id string, norm_name string",
    )
    got = sorted((r.uuid, r.band, r.bkey) for r in lsh_band_rows(ents).collect())
    want = sorted(
        (f"u{i}", band,
         "|".join(str(int(sig[band * LSH_ROWS + k])) for k in range(LSH_ROWS)))
        for i, n in enumerate(names)
        for sig in [minhash_signature(n)]
        for band in range(LSH_BANDS)
    )
    assert got == want


def test_connected_components_keeps_bigint_ids(spark):
    """The small-graph driver path returns components in the id type of
    the edge list (the document-cluster queries cluster bigint ids)."""
    edges = spark.createDataFrame([(3, 1), (1, 2), (7, 9)], "src bigint, dst bigint")
    verts = spark.createDataFrame([(i,) for i in (1, 2, 3, 7, 9, 11)], "id bigint")
    comp = connected_components(edges, verts)
    assert comp.schema["component"].dataType.simpleString() == "bigint"
    assert dict(comp.collect()) == {1: 1, 2: 1, 3: 1, 7: 7, 9: 7, 11: 11}
