"""GraphitiSpark facade — the reference Graphiti surface
(graphiti.py:91-787) driven end-to-end on the synthetic corpus."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from graphiti_spark.api import (
    COMBINED_HYBRID_SEARCH_RRF,
    EDGE_HYBRID_SEARCH_MMR,
    EDGE_HYBRID_SEARCH_RRF,
    NODE_HYBRID_SEARCH_EPISODE_MENTIONS,
    NODE_HYBRID_SEARCH_RRF,
    GraphitiSpark,
)


@pytest.fixture(scope="module")
def g(spark, sf_dir):
    api = GraphitiSpark(spark)
    api.build(sf_dir)
    return api


def test_triples_and_episodes(g):
    assert g.triples().count() > 0
    eps = g.retrieve_episodes(datetime.datetime(2024, 1, 2), last_n=3)
    assert eps.groupBy("group_id").count().agg(F.max("count")).collect()[0][0] <= 3


def test_edge_search_rrf(g):
    out = g.search(["alice johnson works"], EDGE_HYBRID_SEARCH_RRF).toPandas()
    assert 0 < len(out) <= EDGE_HYBRID_SEARCH_RRF.limit
    facts = g.tables.edges.where(
        F.col("uuid").isin(out["uuid"].tolist())
    ).select("fact").toPandas()["fact"]
    assert any("works" in f.lower() for f in facts)


def test_node_search_and_rerankers(g):
    rrf = g.search(["acme corp"], NODE_HYBRID_SEARCH_RRF).toPandas()
    assert len(rrf) > 0
    mm = g.search(["acme corp"], EDGE_HYBRID_SEARCH_MMR).toPandas()
    assert len(mm) > 0
    em = g.search(["acme corp"], NODE_HYBRID_SEARCH_EPISODE_MENTIONS).toPandas()
    assert "n_mentions" in em.columns


def test_combined_scope(g):
    out = g.search(["paris"], COMBINED_HYBRID_SEARCH_RRF).toPandas()
    assert len(out) > 0


def test_learned_cross_encoder_reranker(g):
    """The learned (trained-at-runtime) cross-encoder behind the same
    reranker surface: top result for a works-at query should carry the
    queried terms, ranks contiguous."""
    from graphiti_spark.api import SearchConfig

    cfg = SearchConfig("edges", "cross_encoder_learned")
    out = g.search(["alice johnson works"], cfg).toPandas()
    assert 0 < len(out) <= cfg.limit
    assert sorted(out["rank"]) == list(range(1, len(out) + 1))
    top_fact = g.tables.edges.where(
        F.col("uuid") == out.iloc[0]["uuid"]
    ).collect()[0]["fact"].lower()
    assert "alice johnson" in top_fact or "works" in top_fact


def test_learned_cross_encoder_training_sample_is_bounded(g, monkeypatch):
    """The learned reranker trains on at most 200 candidate passages and
    only that sample is collected; with fewer than 200 candidates it
    still trains on all of them, so its top-k is the full-set one."""
    from graphiti_spark.api import SearchConfig
    from graphiti_spark.operators import ce_learned

    cfg = SearchConfig("edges", "cross_encoder_learned")
    real_sample_df = ce_learned.sample_passages_df
    real_sample = ce_learned.sample_passages
    real_train = ce_learned.train_weights
    seen = {}

    def sample_df(df, id_col, text_col):
        seen["candidates"] = df.count()
        return real_sample_df(df, id_col, text_col)

    def sample(rows):
        seen["collected"] = len(rows)
        return real_sample(rows)

    def train(passages):
        seen["trained"] = len(passages)
        return real_train(passages)

    monkeypatch.setattr(ce_learned, "sample_passages_df", sample_df)
    monkeypatch.setattr(ce_learned, "sample_passages", sample)
    monkeypatch.setattr(ce_learned, "train_weights", train)

    names = [
        r["name"]
        for r in g.tables.nodes.select("name").distinct().orderBy("name").collect()
    ]
    g.search(names[:40], cfg).count()
    assert seen["candidates"] > 200
    assert seen["collected"] == seen["trained"] == 200

    few = g.search(["alice johnson works"], cfg).toPandas()
    assert seen["candidates"] < 200
    assert seen["trained"] == seen["candidates"]
    # the training set before the cap: every candidate, in uuid order
    monkeypatch.setattr(
        ce_learned, "sample_passages_df",
        lambda df, id_col, text_col: [
            r[text_col] for r in df.orderBy(id_col).collect()
        ],
    )
    full = g.search(["alice johnson works"], cfg).toPandas()
    assert few.to_dict("records") == full.to_dict("records")


def test_all_reference_recipe_names_importable():
    """Every recipe constant the reference exports
    (search_config_recipes.py:31-194, 16 names) must be importable
    by the same name — a user porting recipe-by-name code gets no
    ImportError."""
    import graphiti_spark.api as api

    names = [
        f"{scope}_HYBRID_SEARCH_{r}"
        for scope, rs in (
            ("EDGE", ["RRF", "MMR", "NODE_DISTANCE", "EPISODE_MENTIONS",
                      "CROSS_ENCODER"]),
            ("NODE", ["RRF", "MMR", "NODE_DISTANCE", "EPISODE_MENTIONS",
                      "CROSS_ENCODER"]),
            ("COMBINED", ["RRF", "MMR", "CROSS_ENCODER"]),
            ("COMMUNITY", ["RRF", "MMR", "CROSS_ENCODER"]),
        )
        for r in rs
    ]
    assert len(names) == 16
    for n in names:
        assert isinstance(getattr(api, n), api.SearchConfig), n


def test_combined_and_community_mmr(g):
    """COMBINED/COMMUNITY_HYBRID_SEARCH_MMR (reference
    search_config_recipes.py:47-64, 188-194): greedy MMR over the fused
    candidate set. MMR's first pick is pure relevance, so rank-1 must be
    the cosine-top candidate among the fused pool; ranks must be a
    contiguous 1..n permutation of distinct uuids."""
    from graphiti_spark.api import (
        COMBINED_HYBRID_SEARCH_MMR,
        COMMUNITY_HYBRID_SEARCH_MMR,
    )

    out = g.search(["alice johnson paris"], COMBINED_HYBRID_SEARCH_MMR).toPandas()
    assert 0 < len(out) <= COMBINED_HYBRID_SEARCH_MMR.limit
    assert sorted(out["rank"]) == list(range(1, len(out) + 1))
    assert out["uuid"].nunique() == len(out)
    # combined scope really fuses both tables: uuids may come from either
    node_ids = {r["uuid"] for r in g.tables.nodes.select("uuid").collect()}
    edge_ids = {r["uuid"] for r in g.tables.edges.select("uuid").collect()}
    assert set(out["uuid"]) <= (node_ids | edge_ids)

    comm = g.search(["community"], COMMUNITY_HYBRID_SEARCH_MMR).toPandas()
    assert len(comm) > 0
    assert sorted(comm["rank"]) == list(range(1, len(comm) + 1))


def test_nodes_and_edges_by_episode(g, spark):
    ep = g.tables.mention_edges.limit(1).collect()[0]["episode_uuid"]
    nodes, edges = g.nodes_and_edges_by_episode([ep])
    assert nodes.count() > 0
    assert edges.where(F.array_contains("episodes", ep)).count() == edges.count()


def test_add_triplet_roundtrip(spark, sf_dir):
    api = GraphitiSpark(spark)
    api.build(sf_dir)
    before = api.tables.edges.count()
    api.add_triplet(
        "src0", "Zed Qux", "FOUNDED", "Nova Labs", "Zed Qux founded Nova Labs.",
        datetime.datetime(2024, 3, 1), "ep-manual",
    )
    assert api.tables.edges.count() == before + 1
    assert api.tables.nodes.where(F.col("name") == "Zed Qux").count() == 1


def test_remove_episodes(spark, sf_dir):
    api = GraphitiSpark(spark)
    api.build(sf_dir)
    ep = api.tables.mention_edges.limit(1).collect()[0]["episode_uuid"]
    edges_with_other = api.tables.edges.where(
        F.array_contains("episodes", ep) & (F.size("episodes") > 1)
    ).count()
    only_this = api.tables.edges.where(
        F.array_contains("episodes", ep) & (F.size("episodes") == 1)
    ).count()
    api.remove_episodes([ep])
    assert api.tables.episodes.where(F.col("uuid") == ep).count() == 0
    assert api.tables.mention_edges.where(F.col("episode_uuid") == ep).count() == 0
    # edges with other provenance survive; orphaned ones are gone
    assert api.tables.edges.where(F.array_contains("episodes", ep)).count() == 0
    assert (
        api.tables.edges.where(F.size("episodes") > 0).count()
        == api.tables.edges.count()
    )


def test_edge_scope_rerankers_use_edge_semantics(g):
    """EDGE_* node_distance / episode_mentions recipes must actually
    rerank (regression: node-keyed joins against edge uuids matched
    nothing, leaving uuid order)."""
    from graphiti_spark.api import (
        EDGE_HYBRID_SEARCH_EPISODE_MENTIONS,
        EDGE_HYBRID_SEARCH_NODE_DISTANCE,
    )

    em = g.search(["works at acme"], EDGE_HYBRID_SEARCH_EPISODE_MENTIONS).toPandas()
    assert len(em) > 0
    # n_mentions comes from size(episodes) on the edge rows — at least one
    # returned edge has real provenance
    assert em["n_mentions"].max() >= 1
    assert (em["n_mentions"].to_numpy() == sorted(em["n_mentions"], reverse=True)).all()

    # center = the source node of one of the query's own candidate edges,
    # so a finite distance MUST appear (distance 0 for that edge)
    cand_edge = em["uuid"].iloc[0]
    center = (
        g.tables.edges.where(F.col("uuid") == cand_edge)
        .collect()[0]["source_node_uuid"]
    )
    nd = g.search(
        ["works at acme"], EDGE_HYBRID_SEARCH_NODE_DISTANCE, center_node_uuid=center
    ).toPandas()
    assert len(nd) > 0
    assert nd["distance"].min() == 0
    assert (nd["distance"].to_numpy() == sorted(nd["distance"])).all()


def test_cross_encoder_recipes(g):
    from graphiti_spark.api import (
        EDGE_HYBRID_SEARCH_CROSS_ENCODER,
        NODE_HYBRID_SEARCH_CROSS_ENCODER,
    )

    ce = g.search(["alice johnson works"], EDGE_HYBRID_SEARCH_CROSS_ENCODER).toPandas()
    assert 0 < len(ce) <= EDGE_HYBRID_SEARCH_CROSS_ENCODER.limit
    assert (ce.sort_values("rank")["ce_score_u"].diff().dropna() <= 0).all()
    nce = g.search(["acme corp"], NODE_HYBRID_SEARCH_CROSS_ENCODER).toPandas()
    assert len(nce) > 0


def test_community_scope_search(g):
    from graphiti_spark.api import COMMUNITY_HYBRID_SEARCH_RRF

    out = g.search(["alice johnson community"], COMMUNITY_HYBRID_SEARCH_RRF).toPandas()
    assert len(out) > 0
    comm_uuids = {r["uuid"] for r in g._communities().select("uuid").collect()}
    assert set(out["uuid"]) <= comm_uuids


def test_get_by_uuids_and_node_edges(g):
    some = [r["uuid"] for r in g.tables.nodes.limit(3).collect()]
    assert g.get_nodes_by_uuids(some).count() == len(some)
    node = g.tables.edges.limit(1).collect()[0]["source_node_uuid"]
    touching = g.get_edges_by_node_uuid(node).toPandas()
    assert len(touching) > 0
    assert (
        (touching["source_node_uuid"] == node) | (touching["target_node_uuid"] == node)
    ).all()


def test_episode_entity_edges(g):
    """episodes.entity_edges (reference nodes.py:137-140, filled by
    graphiti.py:467): every fact edge's provenance episode lists that
    edge back, sorted; episodes with no facts carry an empty list."""
    edge = g.tables.edges.where(F.size("episodes") > 0).limit(1).collect()[0]
    ep_uuid = edge["episodes"][0]
    got = g.get_episodes_by_uuids([ep_uuid]).collect()
    assert len(got) == 1
    ee = got[0]["entity_edges"]
    assert edge["uuid"] in ee
    assert ee == sorted(ee)
    # a fact-free episode (no extracted triples) still resolves, with []
    ef = g.tables.episode_facts
    empty = ef.where(F.size("entity_edges") == 0).limit(1).collect()
    if empty:
        assert empty[0]["entity_edges"] == []


def test_summaries_are_content_derived(g):
    rows = g.tables.nodes.where(F.size(F.col("labels")) > 0).limit(20).toPandas()
    # at least one node's summary carries an actual fact sentence beyond
    # the identity prefix
    assert any(": " in s and s.split(": ", 1)[1] for s in rows["summary"])
    assert all(len(s.split(" ")) <= 500 for s in rows["summary"])


def test_attributes_populated_and_merge(g, spark):
    from graphiti_spark.operators.attributes import merge_attributes

    withattrs = g.tables.nodes.where(F.size(F.map_keys("attributes")) > 0)
    assert withattrs.count() > 0
    # merge semantics: new wins when non-null, existing fills the rest
    df = spark.createDataFrame(
        [({"a": "new", "b": None}, {"a": "old", "b": "keep", "c": "extra"})],
        "new map<string,string>, old map<string,string>",
    )
    got = df.select(merge_attributes("new", "old").alias("m")).collect()[0]["m"]
    # new wins on a; existing fills b's null and contributes its own key c
    # (node_operations.py:398-403 iterates existing attributes)
    assert got == {"a": "new", "b": "keep", "c": "extra"}


def test_add_pages_incremental_equals_full_rebuild(spark, sf_dir):
    """add_pages reuses the prior build's episode/extraction stage tables
    for retained urls and extracts only the new pages — the result must
    be identical to building over all pages at once (a new alias CAN
    bridge old clusters and a new fact CAN invalidate an old edge, so
    the skinny downstream is global by design)."""
    from graphiti_spark.api import GraphitiSpark
    from graphiti_spark.plans.pipeline import build_graph, triples_view
    from graphiti_spark.sources.pages import build_pages

    pages = build_pages(spark, sf_dir)
    half1 = pages.where("doc_id % 2 = 0")
    half2 = pages.where("doc_id % 2 = 1")

    g = GraphitiSpark(spark)
    g.build(sf_dir="", pages=half1)
    t_inc = g.add_pages(half2)

    t_full = build_graph(spark, sf_dir, pages=pages)
    cols = ["group_id", "subj", "pred", "obj", "fact", "valid_at", "invalid_at"]
    a = triples_view(t_inc).select(*cols)
    b = triples_view(t_full).select(*cols)
    assert a.count() == b.count()
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0
    # episode stage reuse holds row-for-row too
    assert t_inc.episodes.count() == t_full.episodes.count()


def _table_fingerprint(t):
    """Order-insensitive exact fingerprint of the graph tables."""
    from pyspark.sql import functions as FF

    edges = t.edges.select(
        "group_id", "source_node_uuid", "target_node_uuid", "name", "uuid",
        "fact", "valid_at", "invalid_at",
        FF.array_join("episodes", ",").alias("eps"),
    )
    nodes = t.nodes.select("group_id", "uuid", "name")
    eps = t.episodes.select("uuid")

    def fp(df):
        return sorted(tuple(r) for r in df.collect())

    return fp(edges), fp(nodes), fp(eps)


def test_interleaved_mutations_converge(spark, sf_dir):
    """add_pages / remove_episodes / add_triplet interleaved in different
    orders converge to the same tables as the equivalent one-shot build:
    the facade records non-page mutations in a log and replays them after
    any page-driven rebuild (deterministic uuids make removals stable
    tombstones across rebuilds)."""
    import datetime as dt

    from graphiti_spark.api import GraphitiSpark
    from graphiti_spark.sources.pages import build_pages

    pages = build_pages(spark, sf_dir)
    half1 = pages.where("doc_id % 2 = 0")
    half2 = pages.where("doc_id % 2 = 1")

    # a deterministic victim episode from half1 (exists in every variant)
    g_probe = GraphitiSpark(spark)
    g_probe.build(sf_dir="", pages=half1)
    victim = (
        g_probe.tables.episodes.select("uuid").orderBy("uuid").limit(1)
        .collect()[0]["uuid"]
    )
    T = ("srcz", "Zeta Tester", "LIKES", "Eta Tester",
         "Zeta Tester likes Eta Tester.",
         dt.datetime(2024, 3, 1), "0" * 32)

    # one-shot reference: build everything, then the two mutations
    ref = GraphitiSpark(spark)
    ref.build(sf_dir="", pages=pages)
    ref.remove_episodes([victim])
    ref.add_triplet(*T)
    want = _table_fingerprint(ref.tables)

    # order A: mutations after the incremental ingest (no replay needed)
    a = GraphitiSpark(spark)
    a.build(sf_dir="", pages=half1)
    a.add_pages(half2)
    a.remove_episodes([victim])
    a.add_triplet(*T)
    assert _table_fingerprint(a.tables) == want

    # order B: both mutations BEFORE add_pages — the rebuild must replay
    b = GraphitiSpark(spark)
    b.build(sf_dir="", pages=half1)
    b.remove_episodes([victim])
    b.add_triplet(*T)
    b.add_pages(half2)
    assert _table_fingerprint(b.tables) == want

    # order C: mutations straddle the ingest
    c = GraphitiSpark(spark)
    c.build(sf_dir="", pages=half1)
    c.add_triplet(*T)
    c.add_pages(half2)
    c.remove_episodes([victim])
    assert _table_fingerprint(c.tables) == want


def test_interleaved_mutations_randomized_orders(spark):
    """Property form of the convergence test on a micro corpus: five
    pairwise-commuting operations (two page batches with disjoint urls,
    two disjoint add_triplets, one remove of a batch-A episode) applied
    in four deterministically-chosen permutations all converge to the
    one-shot build + mutations."""
    import datetime as dt
    import itertools

    from pyspark.sql import functions as FF

    from graphiti_spark.api import GraphitiSpark

    def pages(rows):
        df = spark.createDataFrame(
            rows, "doc_id long, url string, warc_ts timestamp, text string,"
            " lang string, group_id string"
        )
        return df.withColumn("html", FF.lit(None).cast("binary"))

    t0 = dt.datetime(2024, 1, 1)
    A = pages([
        (0, "https://a/0", t0, "Alice Johnson works at Acme Corp. ", "en", "g1"),
        (1, "https://a/1", t0, "Bob Hartley likes Carol Mendes. ", "en", "g1"),
        (2, "https://a/2", t0, "Emma Larsen moved to Paris. ", "en", "g2"),
    ])
    B = pages([
        (3, "https://b/0", t0, "Alice Johnsonn no longer works at Acme Corp. ",
         "en", "g1"),
        (4, "https://b/1", t0, "Frank Moreau visited Berlin on 2024-01-05. ",
         "en", "g2"),
    ])
    C = pages([
        (5, "https://c/0", t0, "Grace Kimura leads Initech Labs. ", "en", "g1"),
    ])
    T1 = ("g1", "Zeta One", "LIKES", "Eta One", "Zeta One likes Eta One.",
          dt.datetime(2024, 2, 1), "1" * 32)
    T2 = ("g2", "Zeta Two", "ADMIRES", "Eta Two", "Zeta Two admires Eta Two.",
          dt.datetime(2024, 2, 2), "2" * 32)

    probe = GraphitiSpark(spark)
    probe.build(sf_dir="", pages=A)
    victim = (
        probe.tables.episodes.select("uuid").orderBy("uuid").limit(1)
        .collect()[0]["uuid"]
    )

    def fp(t):
        edges = t.edges.select(
            "group_id", "source_node_uuid", "target_node_uuid", "name",
            "uuid", "fact", "valid_at", "invalid_at",
            FF.array_join("episodes", ",").alias("eps"),
        )
        nodes = t.nodes.select("group_id", "uuid", "name")
        eps = t.episodes.select("uuid")
        return tuple(
            tuple(sorted(tuple(r) for r in df.collect()))
            for df in (edges, nodes, eps)
        )

    ref = GraphitiSpark(spark)
    ref.build(sf_dir="", pages=A.unionByName(B).unionByName(C))
    ref.remove_episodes([victim])
    ref.add_triplet(*T1)
    ref.add_triplet(*T2)
    want = fp(ref.tables)

    OPS = {
        "B": lambda g: g.add_pages(B),
        "C": lambda g: g.add_pages(C),
        "T1": lambda g: g.add_triplet(*T1),
        "T2": lambda g: g.add_triplet(*T2),
        "R": lambda g: g.remove_episodes([victim]),
    }
    perms = list(itertools.permutations(["B", "C", "T1", "T2", "R"]))
    for idx in (0, 31, 67, 119):  # deterministic spread over 5! orders
        order = perms[idx]
        g = GraphitiSpark(spark)
        g.build(sf_dir="", pages=A)
        for op in order:
            OPS[op](g)
        assert fp(g.tables) == want, f"order {order} diverged"


def test_add_pages_upserts_by_url(spark, sf_dir):
    """Re-ingesting an existing url replaces its content: the old
    episodes for that url disappear from the stage tables."""
    from graphiti_spark.api import GraphitiSpark
    from graphiti_spark.sources.pages import build_pages

    pages = build_pages(spark, sf_dir)
    g = GraphitiSpark(spark)
    g.build(sf_dir="", pages=pages)
    url = pages.select("url").orderBy("url").limit(1).collect()[0]["url"]
    replacement = pages.where(F.col("url") == url).withColumn(
        "text", F.lit("Test Person likes Test City. ")
    )
    t = g.add_pages(replacement)
    eps = t.episodes.where(F.col("url") == url)
    # exactly the replacement's chunks remain for that url
    assert eps.count() == 1
    assert t.episodes.count() < 10_000  # sanity: no duplication blow-up


def test_pagerank_reranker(g):
    """pagerank reranker orders results by global entity importance
    (descending rank_u), node and edge scopes."""
    from graphiti_spark.api import (
        EDGE_HYBRID_SEARCH_PAGERANK,
        NODE_HYBRID_SEARCH_PAGERANK,
    )

    nodes = g.search(["acme corp"], NODE_HYBRID_SEARCH_PAGERANK).toPandas()
    assert len(nodes) > 0 and "rank_u" in nodes.columns
    assert list(nodes["rank_u"]) == sorted(nodes["rank_u"], reverse=True)

    edges = g.search(["alice johnson works"], EDGE_HYBRID_SEARCH_PAGERANK).toPandas()
    assert len(edges) > 0 and "rank_u" in edges.columns
    assert list(edges["rank_u"]) == sorted(edges["rank_u"], reverse=True)


def test_closeness_reranker(g):
    """closeness reranker orders results by landmark harmonic
    centrality (descending harmonic_q), node and edge scopes."""
    from graphiti_spark.api import (
        EDGE_HYBRID_SEARCH_CLOSENESS,
        NODE_HYBRID_SEARCH_CLOSENESS,
    )

    nodes = g.search(["acme corp"], NODE_HYBRID_SEARCH_CLOSENESS).toPandas()
    assert len(nodes) > 0 and "harmonic_q" in nodes.columns
    assert list(nodes["harmonic_q"]) == sorted(nodes["harmonic_q"], reverse=True)

    edges = g.search(
        ["alice johnson works"], EDGE_HYBRID_SEARCH_CLOSENESS
    ).toPandas()
    assert len(edges) > 0 and "harmonic_q" in edges.columns
    assert list(edges["harmonic_q"]) == sorted(edges["harmonic_q"], reverse=True)


def _cache_loaded(df) -> bool:
    rel = df._jdf.queryExecution().withCachedData()
    return rel.nodeName() == "InMemoryRelation" and rel.cacheBuilder().isCachedColumnBuffersLoaded()


def test_build_materializes_embedding_indexes(g):
    t = g.tables
    for name in ("nodes_emb", "edges_emb"):
        df = t.__dict__[name]  # built by build(), not by this access
        assert df.is_cached and _cache_loaded(df), name


def _small_pages(spark, sf_dir):
    from graphiti_spark.sources.pages import build_pages

    return build_pages(spark, sf_dir).limit(40)


def test_build_jobs_keep_the_callers_job_group(spark, sf_dir):
    """Jobs of build()'s side legs run on other threads; they still carry
    the job group the caller set."""
    sc = spark.sparkContext
    st = sc.statusTracker()
    ungrouped = set(st.getJobIdsForGroup())
    sc.setJobGroup("build-under-test", "build() job-group probe")
    try:
        GraphitiSpark(spark).build(sf_dir, pages=_small_pages(spark, sf_dir))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # the tracker forgets old jobs, so compare only what is new
    assert set(st.getJobIdsForGroup()) - ungrouped == set()
    assert len(st.getJobIdsForGroup("build-under-test")) > 0


def test_build_side_leg_error_propagates(spark, sf_dir, monkeypatch):
    from graphiti_spark.plans.pipeline import GraphTables

    def boom(self):
        raise RuntimeError("side leg failed")

    monkeypatch.setattr(GraphTables, "_build_edges_emb", boom)
    with pytest.raises(RuntimeError, match="side leg failed"):
        GraphitiSpark(spark).build(sf_dir, pages=_small_pages(spark, sf_dir))


def _in_cache_manager(df) -> bool:
    cm = df._jdf.sparkSession().sharedState().cacheManager()
    return cm.lookupCachedData(df._jdf).isDefined()


def test_replaced_graph_releases_embedding_indexes(spark, sf_dir):
    """A second build() on one facade unpersists the first graph's
    cached entity table and embedding indexes (and add_pages those of the
    graph it replaces); search then runs over the new graph."""
    api = GraphitiSpark(spark)
    first = api.build(sf_dir, pages=_small_pages(spark, sf_dir))
    old = [first.__dict__[n] for n in ("entities", "nodes_emb", "edges_emb")]
    assert all(_in_cache_manager(df) for df in old)
    second = api.build(sf_dir, pages=_small_pages(spark, sf_dir))
    assert not any(_in_cache_manager(df) for df in old)
    out = api.search(["alice johnson works"], EDGE_HYBRID_SEARCH_RRF).toPandas()
    assert 0 < len(out) <= EDGE_HYBRID_SEARCH_RRF.limit
    assert set(out["uuid"]) <= {r["uuid"] for r in second.edges.select("uuid").collect()}
    replaced = [second.__dict__[n] for n in ("nodes_emb", "edges_emb")]
    assert all(_in_cache_manager(df) for df in replaced)
    api.add_pages(_small_pages(spark, sf_dir).where("doc_id % 2 = 0"))
    assert not any(_in_cache_manager(df) for df in replaced)
