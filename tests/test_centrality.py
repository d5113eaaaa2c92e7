"""Integer PageRank semantics on hand-built graphs (the oracle gate pins
it corpus-wide; this pins the recurrence on crafted topologies)."""

from __future__ import annotations

from graphiti_spark.operators.centrality import pagerank


def _triples(spark, rows):
    return spark.createDataFrame(
        [("g", s, "REL", o) for s, o in rows],
        "group_id string, subj string, pred string, obj string",
    )


def test_pagerank_cycle_is_fixpoint(spark):
    # 3-cycle: uniform rank is the exact fixpoint of the integer recurrence
    # r = 150000/3 + 85*(1000000/3 div 1) div 100 = 50000 + 283333 = 333333
    out = pagerank(_triples(spark, [("a", "b"), ("b", "c"), ("c", "a")]))
    rows = {r["name"]: r.asDict() for r in out.collect()}
    assert set(rows) == {"a", "b", "c"}
    for r in rows.values():
        assert r["rank_u"] == 333333
        assert r["out_deg"] == 1 and r["in_deg"] == 1


def test_pagerank_star_ranks_hub_highest(spark):
    # spokes -> hub: the hub accumulates all contributions, spokes only
    # the base mass; degrees are exact
    out = pagerank(
        _triples(spark, [("s1", "hub"), ("s2", "hub"), ("s3", "hub")])
    )
    rows = {r["name"]: r.asDict() for r in out.collect()}
    hub, spoke = rows["hub"], rows["s1"]
    assert hub["rank_u"] > spoke["rank_u"]
    assert hub["in_deg"] == 3 and hub["out_deg"] == 0
    assert spoke["out_deg"] == 1 and spoke["in_deg"] == 0
    # dangling hub contributes nothing back: spokes hold exactly the base
    assert spoke["rank_u"] == 150000 // 4


def test_pagerank_groups_are_independent(spark):
    df = spark.createDataFrame(
        [("g1", "a", "REL", "b"), ("g2", "a", "REL", "b"),
         ("g2", "b", "REL", "a")],
        "group_id string, subj string, pred string, obj string",
    )
    rows = {(r["group_id"], r["name"]): r["rank_u"]
            for r in pagerank(df).collect()}
    # same node names, different topology per group -> different ranks
    assert rows[("g1", "a")] != rows[("g2", "a")]
    assert rows[("g2", "a")] == rows[("g2", "b")]  # symmetric 2-cycle


def test_clustering_triangle_plus_pendant(spark):
    """K3 with a pendant off 'a': b,c have coeff 1.0 (deg 2, 1 triangle);
    a has deg 3, 1 triangle -> 2*1e6/(3*2) = 333333; pendant d coeff 0."""
    from graphiti_spark.operators.centrality import clustering_coefficients

    out = clustering_coefficients(
        _triples(spark, [("a", "b"), ("b", "c"), ("c", "a"), ("a", "d")])
    )
    rows = {r["name"]: r.asDict() for r in out.collect()}
    assert rows["b"]["degree"] == 2 and rows["b"]["triangles"] == 1
    assert rows["b"]["coeff_u"] == 1_000_000
    assert rows["a"]["degree"] == 3 and rows["a"]["triangles"] == 1
    assert rows["a"]["coeff_u"] == 333_333
    assert rows["d"]["degree"] == 1 and rows["d"]["triangles"] == 0
    assert rows["d"]["coeff_u"] == 0


def test_clustering_counts_each_triangle_once(spark):
    """K4: every node has deg 3 and sits on C(3,2)=3 triangles -> coeff 1;
    duplicate and reversed edges must not inflate counts."""
    from graphiti_spark.operators.centrality import clustering_coefficients

    edges = [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"),
             ("c", "d"), ("b", "a"), ("a", "b")]  # dups + reversal
    rows = {
        r["name"]: r.asDict()
        for r in clustering_coefficients(_triples(spark, edges)).collect()
    }
    for n in "abcd":
        assert rows[n]["degree"] == 3
        assert rows[n]["triangles"] == 3
        assert rows[n]["coeff_u"] == 1_000_000


def test_cooccurrence_lift(spark):
    """3 episodes: {a,b}, {a,b}, {a,c}. c_ab=2, c_a=3, c_b=2, N=3 ->
    lift_ab = 1e6*2*3/(3*2) = 1e6 (independent); lift_ac = 1e6*1*3/(3*1)."""
    from graphiti_spark.operators.centrality import cooccurrence

    me = spark.createDataFrame(
        [("g", "e1", "ua"), ("g", "e1", "ub"),
         ("g", "e2", "ua"), ("g", "e2", "ub"),
         ("g", "e3", "ua"), ("g", "e3", "uc")],
        "group_id string, episode_uuid string, entity_uuid string",
    )
    nodes = spark.createDataFrame(
        [("ua", "a"), ("ub", "b"), ("uc", "c")], "uuid string, name string"
    )
    rows = {
        (r["name_a"], r["name_b"]): r.asDict()
        for r in cooccurrence(me, nodes).collect()
    }
    assert set(rows) == {("a", "b"), ("a", "c")}
    ab, ac = rows[("a", "b")], rows[("a", "c")]
    assert ab["c_ab"] == 2 and ab["c_a"] == 3 and ab["c_b"] == 2
    assert ab["lift_u"] == 1_000_000
    assert ac["c_ab"] == 1 and ac["lift_u"] == 1_000_000


def test_random_walks_chain_and_dead_end(spark):
    """On a chain a->b->c->d every choice is forced (outdeg 1), so the
    walk from a is exactly a,b,c,d; d is a dead end (its walk is just
    step 0); runs are deterministic."""
    from graphiti_spark.operators.centrality import random_walks

    t = _triples(spark, [("a", "b"), ("b", "c"), ("c", "d")])
    out = random_walks(t, length=3)
    rows = {
        (r["start"], r["step"]): r["node"] for r in out.collect()
    }
    assert [rows[("a", s)] for s in range(4)] == ["a", "b", "c", "d"]
    assert rows[("d", 0)] == "d" and ("d", 1) not in rows
    # walk from b ends at d after 2 steps (dead end cuts step 3)
    assert rows[("b", 2)] == "d" and ("b", 3) not in rows
    again = {
        (r["start"], r["step"]): r["node"]
        for r in random_walks(t, length=3).collect()
    }
    assert again == rows


def test_random_walks_pick_in_neighbor_set(spark):
    """With branching, every transition lands on a real out-neighbor."""
    from graphiti_spark.operators.centrality import random_walks

    edges = [("a", "b"), ("a", "c"), ("a", "d"), ("b", "a"), ("c", "a")]
    nbrs = {}
    for s, o in edges:
        nbrs.setdefault(s, set()).add(o)
    out = random_walks(_triples(spark, edges), length=4).collect()
    walks = {}
    for r in out:
        walks.setdefault(r["start"], {})[r["step"]] = r["node"]
    for start, path in walks.items():
        for s in range(1, max(path) + 1):
            assert path[s] in nbrs[path[s - 1]]


def test_link_prediction_candidates(spark):
    """Path a-b-c: (a,c) is the only candidate (common=1, jaccard
    1/(1+1-1)=1e6 since a,c each have degree 1... deg_a=1, deg_b=1,
    union = 1 -> 1e6). Adjacent pairs are excluded."""
    from graphiti_spark.operators.centrality import link_prediction

    out = {
        (r["name_a"], r["name_b"]): r.asDict()
        for r in link_prediction(
            _triples(spark, [("a", "b"), ("b", "c")])
        ).collect()
    }
    assert set(out) == {("a", "c")}
    r = out[("a", "c")]
    assert r["common"] == 1 and r["deg_a"] == 1 and r["deg_b"] == 1
    assert r["jaccard_u"] == 1_000_000


def test_link_prediction_excludes_existing_edges(spark):
    """In K3 every pair is adjacent -> no candidates at all."""
    from graphiti_spark.operators.centrality import link_prediction

    out = link_prediction(
        _triples(spark, [("a", "b"), ("b", "c"), ("c", "a")])
    ).collect()
    assert out == []


def test_components_group_isolation(spark):
    """Same entity names in different groups stay in separate components
    (the group-prefixed vertex key); sizes are per-group."""
    from graphiti_spark.queries.graph import q_kg_components  # noqa: F401  (plumbing)
    from graphiti_spark.operators.resolve import connected_components
    from pyspark.sql import functions as F

    e = spark.createDataFrame(
        [("g1|a", "g1|b"), ("g1|b", "g1|c"), ("g2|a", "g2|b")],
        ["src", "dst"],
    )
    v = e.select(F.col("src").alias("id")).union(
        e.select(F.col("dst").alias("id"))
    ).distinct()
    comp = {r["id"]: r["component"] for r in connected_components(e, v).collect()}
    assert comp["g1|a"] == comp["g1|b"] == comp["g1|c"] == "g1|a"
    assert comp["g2|a"] == comp["g2|b"] == "g2|a"
    assert comp["g1|a"] != comp["g2|a"]


def test_walk_pairs_window(spark):
    """On the forced chain a->b->c->d, the walk from a is a,b,c,d: pairs
    within window 2 are exactly the (center, context) at distance 1-2."""
    from graphiti_spark.queries.graph import WALK_WINDOW, WALK_LEN  # noqa: F401
    from graphiti_spark.operators.centrality import random_walks
    from pyspark.sql import functions as F

    walks = random_walks(
        _triples(spark, [("a", "b"), ("b", "c"), ("c", "d")]), length=3
    ).where(F.col("start") == "a")
    a, b = walks.alias("a"), walks.alias("b")
    pairs = {
        (r["center"], r["context"])
        for r in a.join(b, ["group_id", "start"])
        .where(
            (F.col("a.step") != F.col("b.step"))
            & (F.abs(F.col("a.step") - F.col("b.step")) <= 2)
        )
        .select(F.col("a.node").alias("center"), F.col("b.node").alias("context"))
        .collect()
    }
    want = set()
    seq = ["a", "b", "c", "d"]
    for i, c in enumerate(seq):
        for j, x in enumerate(seq):
            if i != j and abs(i - j) <= 2:
                want.add((c, x))
    assert pairs == want


def test_kcore_peels_pendant_chain(spark):
    """Triangle a-b-c with pendant chain c-d-e: the 2-core is exactly the
    triangle (two peel rounds: e first, then d), each with core degree 2."""
    from graphiti_spark.operators.centrality import kcore

    out = kcore(
        _triples(spark, [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "e")]),
    )
    rows = {r["name"]: r["core_degree"] for r in out.collect()}
    assert rows == {"a": 2, "b": 2, "c": 2}


def test_kcore_empty_when_forest(spark):
    from graphiti_spark.operators.centrality import kcore

    out = kcore(_triples(spark, [("a", "b"), ("b", "c"), ("x", "y")]))
    assert out.count() == 0


def test_degree_histogram_buckets(spark):
    """Star hub deg 4 -> bucket 2; leaves deg 1 -> bucket 0; reversed and
    duplicate edges collapse before counting."""
    from graphiti_spark.operators.centrality import degree_histogram

    out = degree_histogram(
        _triples(
            spark,
            [("h", "l1"), ("h", "l2"), ("h", "l3"), ("h", "l4"), ("l1", "h")],
        )
    )
    rows = {r["bucket"]: r["n_nodes"] for r in out.collect()}
    assert rows == {2: 1, 0: 4}


def test_entity_cards_counts_and_top_pred(spark):
    """Role counts, valid-fact count, and the deterministic top predicate
    (ties break to the lexicographically smaller pred)."""
    from datetime import datetime

    from graphiti_spark.operators.centrality import entity_cards

    t1, t2 = datetime(2020, 1, 1), datetime(2021, 6, 1)
    df = spark.createDataFrame(
        [
            ("g", "alice", "WORKS_AT", "acme", t1, None),
            ("g", "alice", "LIVES_IN", "berlin", t2, t2),
            ("g", "acme", "BASED_IN", "berlin", t1, None),
        ],
        "group_id string, subj string, pred string, obj string, "
        "valid_at timestamp, invalid_at timestamp",
    )
    rows = {r["name"]: r.asDict() for r in entity_cards(df).collect()}
    a = rows["alice"]
    assert (a["n_subj"], a["n_obj"], a["n_facts"], a["n_valid"]) == (2, 0, 2, 1)
    assert a["first_valid"] == t1 and a["last_valid"] == t2
    # alice has LIVES_IN and WORKS_AT once each -> lexicographic tie-break
    assert a["top_pred"] == "LIVES_IN"
    b = rows["berlin"]
    assert (b["n_subj"], b["n_obj"]) == (0, 2)
    assert b["top_pred"] == "BASED_IN"


def test_predicate_stats_functionality(spark):
    """CEO_OF is functional (every fact a distinct subject); WORKS_AT with
    repeated subjects is not; invalidated facts counted separately."""
    from datetime import datetime

    from graphiti_spark.operators.centrality import predicate_stats

    t = datetime(2020, 1, 1)
    df = spark.createDataFrame(
        [
            ("g", "a", "CEO_OF", "x", t, None),
            ("g", "b", "CEO_OF", "y", t, None),
            ("g", "a", "WORKS_AT", "x", t, None),
            ("g", "a", "WORKS_AT", "y", t, t),
        ],
        "group_id string, subj string, pred string, obj string, "
        "valid_at timestamp, invalid_at timestamp",
    )
    rows = {r["pred"]: r.asDict() for r in predicate_stats(df).collect()}
    ceo = rows["CEO_OF"]
    assert (ceo["n_facts"], ceo["n_subjects"], ceo["func_u"]) == (2, 2, 1000000)
    w = rows["WORKS_AT"]
    assert (w["n_facts"], w["n_subjects"], w["n_valid"]) == (2, 1, 1)
    assert w["func_u"] == 500000 and w["inv_func_u"] == 1000000


def test_ppr_chain_recurrence(spark):
    """Aa -> b -> c, single seed Aa: the integer recurrence is exact.
    p3: Aa = 150000 (teleport only), b = 85*150000//100, c = 85*b//100."""
    from graphiti_spark.operators.centrality import personalized_pagerank

    out = personalized_pagerank(
        _triples(spark, [("Aa", "b"), ("b", "c")]), seed_prefix="A"
    )
    rows = {r["name"]: r.asDict() for r in out.collect()}
    assert set(rows) == {"Aa", "b", "c"}
    assert rows["Aa"]["ppr_u"] == 150000 and rows["Aa"]["is_seed"] == 1
    assert rows["b"]["ppr_u"] == (85 * 150000) // 100
    assert rows["c"]["ppr_u"] == (85 * rows["b"]["ppr_u"]) // 100
    assert rows["b"]["is_seed"] == 0


def test_ppr_no_seeds_is_empty(spark):
    from graphiti_spark.operators.centrality import personalized_pagerank

    out = personalized_pagerank(
        _triples(spark, [("x", "y")]), seed_prefix="Z"
    )
    assert out.count() == 0
