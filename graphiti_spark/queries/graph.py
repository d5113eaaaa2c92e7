"""Graph-analytics queries over the canonical entity graph: centrality,
communities, components, k-cores and trusses, walks and embeddings
pairs, path queries, link prediction, motifs and rule mining."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators import centrality
from .kg import q_kg_triples
from .shared import (
    LPA_ORACLE_ROUNDS,
    PAGE_CURSOR,
    PAGE_LIMIT,
    _TRIPLES_SELECT,
    _graph,
    _kg_sql,
    communities_ctes,
)


def q_kg_community_attach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental community attach (X17, reference
    community_operations.py:261-298): the plurality community among a
    node's neighbors, weighted by edge count, ties toward the larger
    community id — applied to every node with at least one neighbor (the
    bulk form of determine_entity_community)."""
    from ..operators.communities import (
        determine_entity_community,
        label_propagation,
    )

    t = _graph(spark, sf_dir)
    labels = label_propagation(t.nodes, t.edges)
    att = determine_entity_community(None, labels, t.edges)
    return att.join(
        t.nodes.select("uuid", "name"), "uuid"
    ).select("group_id", "name", F.col("community").cast("long").alias("community"))


def q_kg_communities_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 for communities (nodes.py:467-502): keyset pagination over the
    LPA community table."""
    from ..operators.communities import build_communities

    t = _graph(spark, sf_dir)
    communities, _ = build_communities(t.nodes, t.edges)
    return (
        communities.where(F.col("group_id").isin("src0", "src1"))
        .where(F.col("uuid") < PAGE_CURSOR)
        .orderBy(F.desc("uuid"))
        .limit(PAGE_LIMIT)
        .select("group_id", "uuid", "name",
                F.col("n_members").cast("long").alias("n_members"))
    )


def _sql_kg_communities_page() -> str:
    body = (
        communities_ctes()
        + f"""
SELECT group_id, uuid, name, CAST(n_members AS BIGINT) AS n_members
FROM comm
WHERE group_id IN ('src0', 'src1') AND uuid < '{PAGE_CURSOR}'
ORDER BY uuid DESC LIMIT {PAGE_LIMIT}"""
    )
    return _kg_sql(body, with_eds=True)


def q_kg_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X16: label-propagation communities over the canonical entity graph.
    Oracle-gated: the engine iterates sync LPA (plurality label, larger-id
    tie-break, monotone max update) to its fixpoint; the DuckDB oracle
    unrolls the same recurrence for LPA_ORACLE_ROUNDS rounds — the update
    is idempotent once converged, so any round count >= the measured
    convergence (9 at sf0.001/sf0.01) yields the identical fixpoint."""
    from ..operators.communities import build_communities

    t = _graph(spark, sf_dir)
    communities, members = build_communities(t.nodes, t.edges)
    return communities.select(
        "uuid", "name", "group_id", F.col("n_members").cast("long").alias("n_members")
    )


def q_kg_community_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 (communities by nodes, community_operations.py:36-50): the full
    community membership table — every canonical entity with its
    community uuid."""
    from ..operators.communities import build_communities

    t = _graph(spark, sf_dir)
    _, members = build_communities(t.nodes, t.edges)
    return members.join(
        t.nodes.select(F.col("uuid").alias("entity_uuid"), "name"), "entity_uuid"
    ).select("group_id", "community_uuid", "name")


def _sql_kg_community_members() -> str:
    n = LPA_ORACLE_ROUNDS
    body = communities_ctes() + f"""
SELECT l.group_id,
       md5('community|' || l.group_id || '|' || a.anchor_uuid) AS community_uuid,
       n.canon_name AS name
FROM l{n} l
JOIN agg a ON a.group_id = l.group_id AND a.community = l.community
JOIN canonu n ON n.group_id = l.group_id AND n.uuid = l.uuid"""
    return _kg_sql(body, with_eds=True)


def _sql_kg_community_attach() -> str:
    n = LPA_ORACLE_ROUNDS
    body = communities_ctes() + f"""
, att AS (
  SELECT group_id, uuid, nbr_comm AS community FROM (
    SELECT p.group_id, p.uuid, l.community AS nbr_comm,
           row_number() OVER (PARTITION BY p.group_id, p.uuid
                              ORDER BY sum(p.edge_count) DESC, l.community DESC) AS rn
    FROM proj p JOIN l{n} l ON l.group_id = p.group_id AND l.uuid = p.nbr
    GROUP BY p.group_id, p.uuid, l.community
  ) WHERE rn = 1
)
SELECT a.group_id, n.canon_name AS name, a.community
FROM att a JOIN canonu n ON n.group_id = a.group_id AND n.uuid = a.uuid"""
    return _kg_sql(body, with_eds=True)


def _sql_kg_communities() -> str:
    return _kg_sql(
        communities_ctes() + "\nSELECT uuid, name, group_id, n_members FROM comm",
        with_eds=True,
    )


def q_kg_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group integer PageRank + degrees over the canonical triple
    graph — the batch entity-importance table (3 fixed iterations,
    damping 0.85, exact integer micro-unit ranks)."""
    from ..operators.centrality import pagerank

    return pagerank(q_kg_triples(spark, sf_dir))


def q_kg_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank from the 'A'-prefixed seed entities (same
    seed convention as the BFS queries): teleport mass returns to the
    seeds only, so ranks measure graph proximity to the query set — the
    smooth multi-hop form of the reference's node-distance rerank. Exact
    integer micro-units, sparse frontier-growing rank vector."""
    from ..operators.centrality import personalized_pagerank

    return personalized_pagerank(q_kg_triples(spark, sf_dir), seed_prefix="A")


def q_kg_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMIE-style horn-rule mining: p1(x,y) ∧ p2(y,z) ⇒ p3(x,z) with
    path-pair support and integer-confidence, hub middles fan-capped
    deterministically (operators/rules.py)."""
    from ..operators.rules import mine_rules

    return mine_rules(q_kg_triples(spark, sf_dir))


def q_kg_node_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6+S8 under the oracle gate: keyed node lookup (names starting
    A/B — the api takes uuids; the registry form selects the same set by
    name so the oracle can pin it) -> all fact edges touching each node,
    direction-tagged, exactly api.get_edges_by_node_uuid's
    direction-agnostic union. Both legs are key semi-joins on the edge
    table's endpoint columns — parquet/Iceberg stats prune the scan."""
    t = _graph(spark, sf_dir)
    sel = t.nodes.where(F.col("name").rlike("^[AB]")).select(
        "uuid", F.col("name").alias("node_name")
    )
    names = t.nodes.select(
        F.col("uuid").alias("other_uuid"), F.col("name").alias("other_name")
    )
    e = t.edges
    out_leg = (
        e.join(sel.withColumnRenamed("uuid", "source_node_uuid"), "source_node_uuid")
        .join(names.withColumnRenamed("other_uuid", "target_node_uuid"), "target_node_uuid")
        .select(
            "group_id",
            "node_name",
            F.lit("out").alias("direction"),
            F.col("name").alias("pred"),
            "other_name",
            "valid_at",
        )
    )
    in_leg = (
        e.join(sel.withColumnRenamed("uuid", "target_node_uuid"), "target_node_uuid")
        .join(names.withColumnRenamed("other_uuid", "source_node_uuid"), "source_node_uuid")
        .select(
            "group_id",
            "node_name",
            F.lit("in").alias("direction"),
            F.col("name").alias("pred"),
            "other_name",
            "valid_at",
        )
    )
    return out_leg.unionByName(in_leg)


def q_kg_shared_employer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Motif query (GraphFrames-style): colleague inference —
    (a)-[WORKS_AT]->(org)<-[WORKS_AT]-(b), a < b, over CURRENTLY VALID
    employment edges only (invalid_at null: superseded jobs don't make
    colleagues). One self-equi-join co-partitioned on (group, org); the
    org side is the aggregation key, so hot mega-org skew is the AQE
    skew-join case, never a cartesian."""
    from ..operators.search import shared_affiliation

    return shared_affiliation(q_kg_triples(spark, sf_dir))


def q_kg_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle count + local clustering coefficient over the
    undirected canonical graph (degree-ordered compact-forward
    enumeration — each triangle produced once, wedge cost bounded
    O(m^1.5) under power-law hubs)."""
    from ..operators.centrality import clustering_coefficients

    return clustering_coefficients(q_kg_triples(spark, sf_dir))


def q_kg_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-core of the canonical KG via iterative peeling — the dense
    backbone once pendant single-fact chains peel away; per-round cost is
    one co-partitioned degree agg + two semi-joins of the skinny edge
    list (see operators/centrality.kcore scale notes)."""
    from ..operators.centrality import kcore

    return kcore(q_kg_triples(spark, sf_dir))


def q_kg_ktruss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-truss of the canonical KG (every surviving edge in >= 1
    triangle of the surviving subgraph, peeled to fixpoint) — the
    edge-level dense backbone: only mutually-corroborating fact
    clusters remain (operators/centrality.ktruss)."""
    from ..operators.centrality import ktruss

    return ktruss(q_kg_triples(spark, sf_dir), k=3)


KTRUSS_ORACLE_ROUNDS = 6
KCORE_ORACLE_ROUNDS = 10


def _sql_kg_ktruss() -> str:
    # peel rounds unrolled mechanically (kcore-oracle pattern); the
    # engine peels to fixpoint with an early-exit probe, so the gate
    # holds whenever the graph converges within `rounds` — verified at
    # test scale. MATERIALIZED keeps DuckDB from exponentially
    # re-inlining the per-round chain.
    rounds = KTRUSS_ORACLE_ROUNDS
    ctes = """
, und0 AS MATERIALIZED (
  SELECT DISTINCT group_id, least(subj, obj) AS a, greatest(subj, obj) AS b
  FROM eds WHERE subj <> obj
)"""
    for i in range(rounds + 1):
        ctes += f""",
tr{i} AS MATERIALIZED (
  SELECT e1.group_id, e1.a AS x, e1.b AS y, e2.b AS z
  FROM und{i} e1
  JOIN und{i} e2 ON e2.group_id = e1.group_id AND e2.a = e1.b
  JOIN und{i} e3 ON e3.group_id = e1.group_id AND e3.a = e1.a
                AND e3.b = e2.b
),
sup{i} AS MATERIALIZED (
  SELECT group_id, a, b, count(*) AS s FROM (
    SELECT group_id, x AS a, y AS b FROM tr{i}
    UNION ALL SELECT group_id, y, z FROM tr{i}
    UNION ALL SELECT group_id, x, z FROM tr{i}
  ) GROUP BY 1, 2, 3
)"""
        if i < rounds:
            ctes += f""",
und{i + 1} AS MATERIALIZED (
  SELECT u.group_id, u.a, u.b FROM und{i} u
  JOIN sup{i} s ON s.group_id = u.group_id AND s.a = u.a AND s.b = u.b
  WHERE s.s >= 1
)"""
    body = (
        ctes
        + f"""
SELECT u.group_id, u.a AS src, u.b AS dst, CAST(s.s AS BIGINT) AS support
FROM und{rounds} u
JOIN sup{rounds} s ON s.group_id = u.group_id AND s.a = u.a AND s.b = u.b"""
    )
    return _kg_sql(body, with_eds=True)


def q_kg_degree_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log2-bucketed degree distribution — the power-law diagnostic that
    sizes skew handling; integer-exact buckets via bin() bit length."""
    from ..operators.centrality import degree_histogram

    return degree_histogram(q_kg_triples(spark, sf_dir))


def q_kg_entity_cards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-entity profile rollup: role-tagged fact counts, currently-valid
    count, first/last validity, dominant predicate (deterministic
    tie-break) — entity-granularity dataset card."""
    from ..operators.centrality import entity_cards

    return entity_cards(q_kg_triples(spark, sf_dir))


def q_kg_predicate_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-predicate ontology-induction stats (counts, distinct
    subj/obj, integer functionality ratios)."""
    from ..operators.centrality import predicate_stats

    return predicate_stats(q_kg_triples(spark, sf_dir))


def q_kg_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity co-mention pairs with integer-exact PMI lift — the
    relation-discovery signal (high lift + no fact edge = extraction
    gap). Self-join of the skinny mention table co-partitioned on
    episode_uuid; fan-out bounded by entities-per-paragraph."""
    from ..operators.centrality import cooccurrence

    t = _graph(spark, sf_dir)
    return cooccurrence(t.mention_edges, t.nodes)


def q_kg_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weakly-connected components of the canonical entity graph per
    group, with component sizes — the graph-hygiene diagnostic (one
    giant component = healthy coverage; many shards = extraction gaps).
    Reuses the engine's adaptive connected-components (local union-find
    cutover under 100k edges, distributed min-label fixpoint above);
    per-group isolation via a group-prefixed vertex key."""
    from ..operators.resolve import component_map

    tv = q_kg_triples(spark, sf_dir)
    und = (
        tv.select(
            "group_id",
            F.least("subj", "obj").alias("a"),
            F.greatest("subj", "obj").alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    e = und.select(
        F.concat_ws("|", "group_id", "a").alias("src"),
        F.concat_ws("|", "group_id", "b").alias("dst"),
    )
    comp = component_map(e)
    out = comp.select(
        F.expr("substring_index(id, '|', 1)").alias("group_id"),
        F.expr("substr(id, length(substring_index(id, '|', 1)) + 2)").alias(
            "name"
        ),
        F.expr(
            "substr(component, length(substring_index(component, '|', 1)) + 2)"
        ).alias("component"),
    )
    sizes = out.groupBy("group_id", "component").agg(
        F.count(F.lit(1)).alias("comp_size")
    )
    return out.join(sizes, ["group_id", "component"]).select(
        "group_id",
        "name",
        "component",
        F.col("comp_size").cast("long").alias("comp_size"),
    )


def q_kg_scc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strongly-connected components of the DIRECTED canonical fact
    graph per group — directed cycles (rename loops, mutual-acquisition
    contradictions, extraction errors) surface as scc_size > 1; the
    directed dual of kg_components. Multi-pivot trim + FW-BW coloring
    (centrality.scc): all rounds are skinny (group_id, name)
    co-partitioned joins/aggs, no windows, no collects."""
    from ..operators.centrality import scc

    return scc(q_kg_triples(spark, sf_dir))


def q_kg_triadic_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triadic-closure events: for every triangle in the dated
    undirected fact graph, the edge that closed it and when — the
    observed ground truth for the link-prediction scores
    (kg_link_prediction / kg_link_pred_ra). Wedge-enumeration plan
    family; closing edge picked by a branch-free greatest(struct)."""
    from ..operators.centrality import triadic_closure

    return triadic_closure(q_kg_triples(spark, sf_dir))


def q_kg_graph_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group directed-graph shape telemetry: node/arc counts,
    reciprocity numerator (mutual arc pairs), and the exact integer
    moment sums behind degree assortativity — the build-over-build
    drift dashboard. One row per group; every shuffle skinny."""
    from ..operators.centrality import graph_shape_stats

    return graph_shape_stats(q_kg_triples(spark, sf_dir))


def q_kg_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the LPA community partition per group, as an
    exact integer fraction (X16 quality metric)."""
    from ..operators.communities import modularity

    t = _graph(spark, sf_dir)
    return modularity(t.nodes, t.edges)


def q_kg_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-prediction candidates: non-adjacent entity pairs with >= 1
    common neighbor + integer-exact neighborhood Jaccard (wedge
    enumeration at the shared vertex — same plan family as triangle
    counting; anti-join drops existing edges)."""
    from ..operators.centrality import link_prediction

    return link_prediction(q_kg_triples(spark, sf_dir))


WALK_LEN = 3


def q_kg_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic random-walk corpus (DeepWalk/node2vec export): one
    hash-driven walk of length WALK_LEN per vertex over the directed
    canonical graph."""
    from ..operators.centrality import random_walks

    return random_walks(q_kg_triples(spark, sf_dir), length=WALK_LEN)


def q_kg_temporal_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-respecting 2-hop paths (temporal reachability): compositions
    a -pred1-> b -pred2-> c where the second fact became valid at or
    after the first (valid_at2 >= valid_at1) and a != c — the causal-
    chain export of the dated fact graph (what temporal link-prediction
    and event-ordering models train on; kg_metapaths counts schema
    compositions, this materializes the temporally ADMISSIBLE instances).
    One self-join on the (group, mid) key, partial-agg-free, pair output
    bounded by in-deg x out-deg of the mid vertex."""
    t = q_kg_triples(spark, sf_dir)
    a = t.select(
        "group_id", F.col("subj").alias("src"), F.col("pred").alias("pred1"),
        F.col("obj").alias("mid"), F.col("valid_at").alias("t1"),
    )
    b = t.select(
        "group_id", F.col("subj").alias("mid"), F.col("pred").alias("pred2"),
        F.col("obj").alias("dst"), F.col("valid_at").alias("t2"),
    )
    return (
        a.join(b, ["group_id", "mid"])
        .where((F.col("t2") >= F.col("t1")) & (F.col("src") != F.col("dst")))
        .select("group_id", "src", "pred1", "mid", "pred2", "dst", "t1", "t2")
    )


def _sql_kg_temporal_paths() -> str:
    body = """
SELECT a.group_id, a.subj AS src, a.pred AS pred1, a.obj AS mid,
       b.pred AS pred2, b.obj AS dst, a.valid_at AS t1, b.valid_at AS t2
FROM eds a
JOIN eds b ON b.group_id = a.group_id AND b.subj = a.obj
          AND b.valid_at >= a.valid_at AND b.obj <> a.subj"""
    return _kg_sql(body, with_eds=True)


def q_kg_neighbor_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GraphSAGE-style 2-hop neighbor sampling (fanout 4,3) over the
    undirected canonical graph — the distributed, deterministic GNN
    minibatch export (operators/centrality.neighbor_sample)."""
    from ..operators.centrality import neighbor_sample

    return neighbor_sample(q_kg_triples(spark, sf_dir))


def _sql_kg_neighbor_sample() -> str:
    u = lambda e: f"('0x' || substr(md5({e}), 1, 15))::UBIGINT"  # noqa: E731
    body = f"""
, und AS (
  SELECT DISTINCT group_id, src, dst FROM (
    SELECT group_id, subj AS src, obj AS dst FROM eds
    UNION ALL
    SELECT group_id, obj AS src, subj AS dst FROM eds
  ) WHERE src <> dst
),
seeds AS (
  SELECT DISTINCT group_id, src AS seed FROM und
  WHERE {u("'seed|' || group_id || '|' || src")} % 5 = 0
),
h1 AS (
  SELECT u.group_id, s.seed, u.dst,
         ROW_NUMBER() OVER (PARTITION BY u.group_id, s.seed
           ORDER BY {u("'h1|' || u.group_id || '|' || s.seed || '|' || u.dst")}, u.dst) AS pos
  FROM seeds s JOIN und u ON u.group_id = s.group_id AND u.src = s.seed
),
h1k AS (SELECT * FROM h1 WHERE pos <= {centrality.NS_FANOUT[0]}),
h2 AS (
  SELECT u.group_id, h.seed, u.src, u.dst,
         ROW_NUMBER() OVER (PARTITION BY u.group_id, h.seed, u.src
           ORDER BY {u("'h2|' || u.group_id || '|' || h.seed || '|' || u.src || '|' || u.dst")}, u.dst) AS pos
  FROM h1k h JOIN und u ON u.group_id = h.group_id AND u.src = h.dst
  WHERE u.dst <> h.seed
),
h2k AS (SELECT * FROM h2 WHERE pos <= {centrality.NS_FANOUT[1]})
SELECT group_id, seed, CAST(1 AS BIGINT) AS hop, seed AS src, dst,
       CAST(pos AS BIGINT) AS pos
FROM h1k
UNION ALL
SELECT group_id, seed, CAST(2 AS BIGINT), src, dst, CAST(pos AS BIGINT)
FROM h2k"""
    return _kg_sql(body, with_eds=True)


WALK_WINDOW = 2


N2V_RET, N2V_ADJ, N2V_OUT = 25, 100, 200  # p=4, q=0.5 (DFS-leaning)


def q_kg_node2vec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-order biased walk corpus (operators/centrality.
    node2vec_walks): node2vec p/q transition weighting with the
    deterministic hash roulette, length WALK_LEN, one walk per
    vertex."""
    from ..operators.centrality import node2vec_walks

    return node2vec_walks(
        q_kg_triples(spark, sf_dir),
        length=WALK_LEN,
        w_ret=N2V_RET,
        w_adj=N2V_ADJ,
        w_out=N2V_OUT,
    )


def _sql_kg_node2vec() -> str:
    rounds, unions = [], [
        "SELECT group_id, start, CAST(0 AS BIGINT) AS step, node FROM t0"
    ]
    for s in range(1, WALK_LEN + 1):
        r = f"('0x' || substr(md5('n2v:' || start || ':{s}'), 1, 8))::BIGINT"
        rounds.append(f"""
c{s} AS (
  SELECT t.group_id, t.start, t.node, n.dst, n.pick,
         CASE WHEN t.prev IS NULL THEN {N2V_ADJ}
              WHEN n.dst = t.prev THEN {N2V_RET}
              WHEN u.ua IS NOT NULL THEN {N2V_ADJ}
              ELSE {N2V_OUT} END AS wt
  FROM t{s - 1} t
  JOIN nbrs n ON n.group_id = t.group_id AND n.src = t.node
  LEFT JOIN und u ON u.group_id = t.group_id
        AND u.ua = least(t.prev, n.dst) AND u.ub = greatest(t.prev, n.dst)
),
w{s} AS (
  SELECT group_id, start, node, dst, wt,
         sum(wt) OVER (PARTITION BY group_id, start ORDER BY pick
                       ROWS UNBOUNDED PRECEDING) AS cum,
         sum(wt) OVER (PARTITION BY group_id, start) AS total
  FROM c{s}
),
t{s} AS (
  SELECT group_id, start, dst AS node, node AS prev
  FROM w{s}
  WHERE {r} % total >= cum - wt AND {r} % total < cum
)""")
        unions.append(
            f"SELECT group_id, start, CAST({s} AS BIGINT), node FROM t{s}"
        )
    body = f"""
, e AS (SELECT DISTINCT group_id, subj AS src, obj AS dst FROM eds),
nbrs AS (
  SELECT group_id, src, dst,
         row_number() OVER (PARTITION BY group_id, src ORDER BY dst) AS pick
  FROM e
),
und AS (SELECT DISTINCT group_id, least(src, dst) AS ua,
               greatest(src, dst) AS ub FROM e),
v AS (SELECT group_id, src AS name FROM e
      UNION SELECT group_id, dst FROM e),
t0 AS (SELECT group_id, name AS start, name AS node,
              CAST(NULL AS VARCHAR) AS prev FROM v),{",".join(rounds)}
{" UNION ALL ".join(unions)}"""
    return _kg_sql(body, with_eds=True)


def q_kg_walk_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-gram training pairs from the walk corpus (the DeepWalk
    word2vec stage): (center, context) for walk positions within
    WALK_WINDOW of each other, with pair counts — the direct input to a
    node-embedding trainer. One self-join of the walk table
    co-partitioned on (group, start); each walk is length WALK_LEN+1 so
    the per-walk fan-out is a small constant."""
    from ..operators.centrality import random_walks

    walks = random_walks(q_kg_triples(spark, sf_dir), length=WALK_LEN)
    a, b = walks.alias("a"), walks.alias("b")
    return (
        a.join(b, ["group_id", "start"])
        .where(
            (F.col("a.step") != F.col("b.step"))
            & (F.abs(F.col("a.step") - F.col("b.step")) <= WALK_WINDOW)
        )
        .groupBy(
            "group_id",
            F.col("a.node").alias("center"),
            F.col("b.node").alias("context"),
        )
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .select(
            "group_id",
            "center",
            "context",
            F.col("n_pairs").cast("long").alias("n_pairs"),
        )
    )


HITS_ITERS = 2


def q_kg_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kleinberg HITS hubs & authorities over the canonical triple graph
    (operators/centrality.hits): 2 exact-integer power iterations with
    per-group max-normalization in micro-units — the PageRank
    complement for KG curation (authorities = merge targets, hubs =
    aggregator entities)."""
    from ..operators.centrality import hits

    return hits(q_kg_triples(spark, sf_dir), iters=HITS_ITERS)


def _sql_kg_hits() -> str:
    rounds = []
    for i in range(1, HITS_ITERS + 1):
        p = i - 1
        rounds.append(f"""
ar{i} AS (
  SELECT v.group_id, v.name, coalesce(s.s, 0) AS raw_u
  FROM v LEFT JOIN (
    SELECT e.group_id, e.dst AS name, sum(h.hub_u) AS s
    FROM e JOIN h{p} h ON h.group_id = e.group_id AND h.name = e.src
    GROUP BY 1, 2
  ) s ON s.group_id = v.group_id AND s.name = v.name
),
am{i} AS (SELECT group_id, greatest(max(raw_u) // 1000000, 1) AS sc
          FROM ar{i} GROUP BY 1),
a{i} AS MATERIALIZED (
  SELECT r.group_id, r.name, raw_u // sc AS auth_u
  FROM ar{i} r JOIN am{i} USING (group_id)
),
hr{i} AS (
  SELECT v.group_id, v.name, coalesce(s.s, 0) AS raw_u
  FROM v LEFT JOIN (
    SELECT e.group_id, e.src AS name, sum(a.auth_u) AS s
    FROM e JOIN a{i} a ON a.group_id = e.group_id AND a.name = e.dst
    GROUP BY 1, 2
  ) s ON s.group_id = v.group_id AND s.name = v.name
),
hm{i} AS (SELECT group_id, greatest(max(raw_u) // 1000000, 1) AS sc
          FROM hr{i} GROUP BY 1),
h{i} AS MATERIALIZED (
  SELECT r.group_id, r.name, raw_u // sc AS hub_u
  FROM hr{i} r JOIN hm{i} USING (group_id)
)""")
    body = f"""
, e AS (SELECT DISTINCT group_id, subj AS src, obj AS dst FROM eds),
v AS (SELECT group_id, src AS name FROM e
      UNION SELECT group_id, dst FROM e),
h0 AS (SELECT group_id, name, CAST(1000000 AS BIGINT) AS hub_u FROM v),{",".join(rounds)}
SELECT a.group_id, a.name,
       CAST(a.auth_u AS BIGINT) AS auth_u,
       CAST(h.hub_u AS BIGINT) AS hub_u
FROM a{HITS_ITERS} a
JOIN h{HITS_ITERS} h ON h.group_id = a.group_id AND h.name = a.name"""
    return _kg_sql(body, with_eds=True)


WSP_SOURCES = 8
WSP_ROUNDS = 4
WSP_WEIGHTS = 9


def q_kg_shortest_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded Bellman-Ford weighted shortest paths from 8 deterministic
    landmark sources (operators/centrality.weighted_sssp): md5-derived
    integer edge costs in [1,9], parallel predicates collapse to the
    cheapest, 4 relaxation rounds = exact distances over <= 4-edge
    paths."""
    from ..operators.centrality import weighted_sssp

    return weighted_sssp(
        q_kg_triples(spark, sf_dir),
        n_sources=WSP_SOURCES,
        rounds=WSP_ROUNDS,
        n_weights=WSP_WEIGHTS,
    )


def _sql_kg_shortest_paths() -> str:
    rounds = []
    for i in range(1, WSP_ROUNDS + 1):
        p = i - 1
        rounds.append(f"""
d{i} AS MATERIALIZED (
  SELECT group_id, origin, name, min(d) AS d FROM (
    SELECT group_id, origin, name, d FROM d{p}
    UNION ALL
    SELECT t.group_id, t.origin, e.dst AS name, t.d + e.w AS d
    FROM d{p} t JOIN ew e ON e.group_id = t.group_id AND e.src = t.name
  ) GROUP BY 1, 2, 3
)""")
    body = f"""
, de AS (SELECT DISTINCT group_id, subj AS src, pred, obj AS dst FROM eds),
ew AS (
  SELECT group_id, src, dst,
         min(('0x' || substr(md5(src || '|' || pred || '|' || dst), 1, 8))
             ::BIGINT % {WSP_WEIGHTS} + 1) AS w
  FROM de GROUP BY 1, 2, 3
),
v AS (SELECT group_id, src AS name FROM ew
      UNION SELECT group_id, dst FROM ew),
src AS (
  SELECT group_id, name AS origin FROM v
  ORDER BY md5('wsp:' || group_id || '|' || name) LIMIT {WSP_SOURCES}
),
d0 AS (SELECT group_id, origin, origin AS name, CAST(0 AS BIGINT) AS d
       FROM src),{",".join(rounds)}
SELECT group_id, origin, name, CAST(d AS BIGINT) AS dist_w
FROM d{WSP_ROUNDS} WHERE d > 0"""
    return _kg_sql(body, with_eds=True)


def q_kg_link_pred_ra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resource-allocation link-prediction index (operators/centrality.
    ra_link_prediction): non-adjacent pairs scored by
    sum(1e6 div deg(z)) over common neighbors z — the hub-penalizing
    upgrade to kg_link_prediction's Jaccard."""
    from ..operators.centrality import ra_link_prediction

    return ra_link_prediction(q_kg_triples(spark, sf_dir))


def _sql_kg_link_pred_ra() -> str:
    body = """
, und AS (
  SELECT DISTINCT group_id, least(subj, obj) AS a, greatest(subj, obj) AS b
  FROM eds WHERE subj <> obj
),
adj AS (
  SELECT group_id, a AS v, b AS nbr FROM und
  UNION ALL SELECT group_id, b, a FROM und
),
deg AS (SELECT group_id, v, count(*) AS deg FROM adj GROUP BY 1, 2),
pairs AS (
  SELECT e1.group_id, e1.nbr AS a, e2.nbr AS b,
         count(*) AS common, sum(1000000 // d.deg) AS ra_u
  FROM adj e1
  JOIN deg d ON d.group_id = e1.group_id AND d.v = e1.v
  JOIN adj e2 ON e2.group_id = e1.group_id AND e2.v = e1.v
             AND e2.nbr > e1.nbr
  GROUP BY 1, 2, 3
)
SELECT p.group_id, p.a AS name_a, p.b AS name_b,
       CAST(p.common AS BIGINT) AS common,
       CAST(p.ra_u AS BIGINT) AS ra_u
FROM pairs p
LEFT JOIN und u ON u.group_id = p.group_id AND u.a = p.a AND u.b = p.b
WHERE u.a IS NULL"""
    return _kg_sql(body, with_eds=True)


def q_kg_metapaths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-hop metapath composition profile (operators/rules.
    metapath_counts): exact path counts per ordered predicate pair via
    the degree-product identity — no path enumeration, skew-proof."""
    from ..operators.rules import metapath_counts

    return metapath_counts(q_kg_triples(spark, sf_dir))


def _sql_kg_metapaths() -> str:
    body = """
, de AS (SELECT DISTINCT group_id, subj, pred, obj FROM eds),
ind AS (SELECT group_id, obj AS mid, pred AS p1, count(*) AS n_in
        FROM de GROUP BY 1, 2, 3),
outd AS (SELECT group_id, subj AS mid, pred AS p2, count(*) AS n_out
         FROM de GROUP BY 1, 2, 3)
SELECT i.group_id, i.p1, o.p2,
       CAST(sum(i.n_in * o.n_out) AS BIGINT) AS n_paths,
       CAST(count(DISTINCT i.mid) AS BIGINT) AS n_middles
FROM ind i
JOIN outd o ON o.group_id = i.group_id AND o.mid = i.mid
GROUP BY 1, 2, 3"""
    return _kg_sql(body, with_eds=True)


def _sql_kg_pagerank() -> str:
    base_u = (centrality.R0_U * (100 - centrality.DAMP_PCT)) // 100
    rounds = []
    for i in range(1, centrality.PAGERANK_ITERS + 1):
        prev = f"r{i - 1}"
        rounds.append(f"""
c{i} AS (
  SELECT e.group_id, e.dst AS name,
         CAST(sum({prev}.rank_u // od.outdeg) AS BIGINT) AS s
  FROM e
  JOIN od ON od.group_id = e.group_id AND od.src = e.src
  JOIN {prev} ON {prev}.group_id = e.group_id AND {prev}.name = e.src
  GROUP BY 1, 2
),
r{i} AS MATERIALIZED (
  SELECT v.group_id, v.name,
         ({base_u} // ng.n_g) + ({centrality.DAMP_PCT} * coalesce(c{i}.s, 0)) // 100 AS rank_u
  FROM v JOIN ng USING (group_id)
  LEFT JOIN c{i} ON c{i}.group_id = v.group_id AND c{i}.name = v.name
)""")
    body = f"""
, e AS (SELECT DISTINCT group_id, subj AS src, obj AS dst FROM eds),
v AS (SELECT group_id, src AS name FROM e
      UNION SELECT group_id, dst FROM e),
ng AS (SELECT group_id, count(*) AS n_g FROM v GROUP BY 1),
od AS (SELECT group_id, src, count(*) AS outdeg FROM e GROUP BY 1, 2),
idg AS (SELECT group_id, dst, count(*) AS indeg FROM e GROUP BY 1, 2),
r0 AS (SELECT v.group_id, v.name, {centrality.R0_U} // ng.n_g AS rank_u
       FROM v JOIN ng USING (group_id)),{",".join(rounds)}
SELECT r.group_id, r.name,
       CAST(coalesce(od.outdeg, 0) AS BIGINT) AS out_deg,
       CAST(coalesce(idg.indeg, 0) AS BIGINT) AS in_deg,
       CAST(r.rank_u AS BIGINT) AS rank_u
FROM r{centrality.PAGERANK_ITERS} r
LEFT JOIN od ON od.group_id = r.group_id AND od.src = r.name
LEFT JOIN idg ON idg.group_id = r.group_id AND idg.dst = r.name"""
    return _kg_sql(body, with_eds=True)


def _sql_kg_ppr() -> str:
    base_u = (centrality.R0_U * (100 - centrality.DAMP_PCT)) // 100
    rounds = []
    for i in range(1, centrality.PPR_ITERS + 1):
        prev = f"p{i - 1}"
        rounds.append(f"""
c{i} AS (
  SELECT e.group_id, e.dst AS name,
         CAST(sum({prev}.ppr_u // od.outdeg) AS BIGINT) AS s
  FROM e
  JOIN od ON od.group_id = e.group_id AND od.src = e.src
  JOIN {prev} ON {prev}.group_id = e.group_id AND {prev}.name = e.src
  GROUP BY 1, 2
),
p{i} AS MATERIALIZED (
  SELECT coalesce(t.group_id, c.group_id) AS group_id,
         coalesce(t.name, c.name) AS name,
         coalesce(t.tele_u, 0) + ({centrality.DAMP_PCT} * coalesce(c.s, 0)) // 100 AS ppr_u
  FROM tele t
  FULL JOIN c{i} c ON c.group_id = t.group_id AND c.name = t.name
)""")
    body = f"""
, e AS (SELECT DISTINCT group_id, subj AS src, obj AS dst FROM eds),
v AS (SELECT group_id, src AS name FROM e
      UNION SELECT group_id, dst FROM e),
seeds AS (SELECT group_id, name FROM v WHERE name LIKE 'A%'),
ns AS (SELECT group_id, count(*) AS n_s FROM seeds GROUP BY 1),
od AS (SELECT group_id, src, count(*) AS outdeg FROM e GROUP BY 1, 2),
tele AS (SELECT s.group_id, s.name, {base_u} // ns.n_s AS tele_u
         FROM seeds s JOIN ns USING (group_id)),
p0 AS (SELECT s.group_id, s.name, {centrality.R0_U} // ns.n_s AS ppr_u
       FROM seeds s JOIN ns USING (group_id)),{",".join(rounds)}
SELECT group_id, name, CAST(ppr_u AS BIGINT) AS ppr_u,
       CAST(CASE WHEN name LIKE 'A%' THEN 1 ELSE 0 END AS BIGINT) AS is_seed
FROM p{centrality.PPR_ITERS} WHERE ppr_u > 0"""
    return _kg_sql(body, with_eds=True)


def _sql_kg_rules() -> str:
    from ..operators.rules import MAX_MID_FAN, MIN_SUPPORT

    body = f"""
, e AS (SELECT DISTINCT group_id, subj, pred, obj FROM eds),
ind AS (SELECT group_id, obj AS mid, count(*) AS in_d FROM e GROUP BY 1, 2),
outd AS (SELECT group_id, subj AS mid, count(*) AS out_d FROM e GROUP BY 1, 2),
okm AS (SELECT i.group_id, i.mid FROM ind i
        JOIN outd o ON o.group_id = i.group_id AND o.mid = i.mid
        WHERE i.in_d * o.out_d <= {MAX_MID_FAN}),
paths AS (
  SELECT DISTINCT a.group_id, a.subj AS x, a.pred AS p1, b.pred AS p2,
         b.obj AS z
  FROM e a
  JOIN okm ON okm.group_id = a.group_id AND okm.mid = a.obj
  JOIN e b ON b.group_id = a.group_id AND b.subj = a.obj
  WHERE a.subj != b.obj
),
sup AS (SELECT p.p1, p.p2, h.pred AS p3, count(*) AS support
        FROM paths p
        JOIN e h ON h.group_id = p.group_id AND h.subj = p.x AND h.obj = p.z
        GROUP BY 1, 2, 3),
bdy AS (SELECT p1, p2, count(*) AS body FROM paths GROUP BY 1, 2)
SELECT s.p1, s.p2, s.p3, CAST(b.body AS BIGINT) AS body,
       CAST(s.support AS BIGINT) AS support,
       CAST(s.support * 1000000 // b.body AS BIGINT) AS conf_u
FROM sup s JOIN bdy b USING (p1, p2) WHERE s.support >= {MIN_SUPPORT}"""
    return _kg_sql(body, with_eds=True)


def _sql_kg_node_edges() -> str:
    body = """
SELECT group_id, subj AS node_name, 'out' AS direction, pred,
       obj AS other_name, valid_at
FROM eds WHERE subj LIKE 'A%' OR subj LIKE 'B%'
UNION ALL
SELECT group_id, obj, 'in', pred, subj, valid_at
FROM eds WHERE obj LIKE 'A%' OR obj LIKE 'B%'"""
    return _kg_sql(body, with_eds=True)


def _sql_kg_shared_employer() -> str:
    body = f"""
, final AS ({_TRIPLES_SELECT}),
emp AS (
  SELECT group_id, subj AS person, obj AS org FROM final
  WHERE pred = 'WORKS_AT' AND invalid_at IS NULL
)
SELECT a.group_id, a.org, a.person AS person_a, b.person AS person_b
FROM emp a
JOIN emp b ON b.group_id = a.group_id AND b.org = a.org
          AND b.person > a.person"""
    return _kg_sql(body, with_eds=True)


def _sql_kg_clustering() -> str:
    body = """
, und AS (
  SELECT DISTINCT group_id, least(subj, obj) AS a, greatest(subj, obj) AS b
  FROM eds WHERE subj <> obj
),
deg AS (
  SELECT group_id, name, count(*) AS degree FROM (
    SELECT group_id, a AS name FROM und
    UNION ALL SELECT group_id, b FROM und
  ) GROUP BY 1, 2
),
tri AS (
  SELECT e1.group_id, e1.a AS v1, e1.b AS v2, e2.b AS v3
  FROM und e1
  JOIN und e2 ON e2.group_id = e1.group_id AND e2.a = e1.a AND e2.b > e1.b
  JOIN und e3 ON e3.group_id = e1.group_id AND e3.a = e1.b AND e3.b = e2.b
),
pn AS (
  SELECT group_id, v AS name, count(*) AS tri FROM (
    SELECT group_id, v1 AS v FROM tri
    UNION ALL SELECT group_id, v2 FROM tri
    UNION ALL SELECT group_id, v3 FROM tri
  ) GROUP BY 1, 2
)
SELECT d.group_id, d.name, CAST(d.degree AS BIGINT) AS degree,
       CAST(coalesce(pn.tri, 0) AS BIGINT) AS triangles,
       CAST(CASE WHEN d.degree >= 2
            THEN (2000000 * coalesce(pn.tri, 0)) // (d.degree * (d.degree - 1))
            ELSE 0 END AS BIGINT) AS coeff_u
FROM deg d LEFT JOIN pn ON pn.group_id = d.group_id AND pn.name = d.name"""
    return _kg_sql(body, with_eds=True)


def _sql_kg_kcore() -> str:
    # peel rounds unrolled mechanically; the engine peels to fixpoint with
    # an early-exit probe, so the gate holds whenever the graph converges
    # within `rounds` (pendant-path depth, verified at test scale)
    # every CTE here is referenced 2-3x per round — MATERIALIZED keeps
    # DuckDB from inlining (and thus exponentially re-evaluating) the chain
    rounds = KCORE_ORACLE_ROUNDS
    ctes = """
, und0 AS MATERIALIZED (
  SELECT DISTINCT group_id, least(subj, obj) AS a, greatest(subj, obj) AS b
  FROM eds WHERE subj <> obj
)"""
    for i in range(rounds):
        ctes += f""",
alive{i} AS MATERIALIZED (
  SELECT group_id, name FROM (
    SELECT group_id, name, count(*) AS c FROM (
      SELECT group_id, a AS name FROM und{i}
      UNION ALL SELECT group_id, b FROM und{i}
    ) GROUP BY 1, 2
  ) WHERE c >= {centrality.KCORE_K}
),
und{i + 1} AS MATERIALIZED (
  SELECT u.group_id, u.a, u.b FROM und{i} u
  JOIN alive{i} x ON x.group_id = u.group_id AND x.name = u.a
  JOIN alive{i} y ON y.group_id = u.group_id AND y.name = u.b
)"""
    body = (
        ctes
        + f"""
SELECT group_id, name, CAST(count(*) AS BIGINT) AS core_degree FROM (
  SELECT group_id, a AS name FROM und{rounds}
  UNION ALL SELECT group_id, b FROM und{rounds}
) GROUP BY 1, 2"""
    )
    return _kg_sql(body, with_eds=True)


def _sql_kg_degree_hist() -> str:
    body = """
, und AS (
  SELECT DISTINCT group_id, least(subj, obj) AS a, greatest(subj, obj) AS b
  FROM eds WHERE subj <> obj
),
deg AS (
  SELECT group_id, name, count(*) AS degree FROM (
    SELECT group_id, a AS name FROM und
    UNION ALL SELECT group_id, b FROM und
  ) GROUP BY 1, 2
)
SELECT group_id, CAST(length(bin(degree)) - 1 AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_nodes
FROM deg GROUP BY 1, 2"""
    return _kg_sql(body, with_eds=True)


def _sql_kg_entity_cards() -> str:
    body = f"""
, final AS ({_TRIPLES_SELECT}),
legs AS (
  SELECT group_id, subj AS name, 1 AS as_subj, 0 AS as_obj, pred,
         valid_at, invalid_at FROM final
  UNION ALL
  SELECT group_id, obj, 0, 1, pred, valid_at, invalid_at FROM final
),
cards AS (
  SELECT group_id, name,
         CAST(sum(as_subj) AS BIGINT) AS n_subj,
         CAST(sum(as_obj) AS BIGINT) AS n_obj,
         CAST(count(*) AS BIGINT) AS n_facts,
         CAST(sum(CASE WHEN invalid_at IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_valid,
         min(valid_at) AS first_valid,
         max(valid_at) AS last_valid
  FROM legs GROUP BY 1, 2
),
pc AS (SELECT group_id, name, pred, count(*) AS c FROM legs GROUP BY 1, 2, 3),
top AS (
  SELECT group_id, name, pred AS top_pred FROM (
    SELECT group_id, name, pred,
           row_number() OVER (PARTITION BY group_id, name
                              ORDER BY c DESC, pred ASC) AS rn
    FROM pc
  ) WHERE rn = 1
)
SELECT c.group_id, c.name, c.n_subj, c.n_obj, c.n_facts, c.n_valid,
       c.first_valid, c.last_valid, t.top_pred
FROM cards c JOIN top t ON t.group_id = c.group_id AND t.name = c.name"""
    return _kg_sql(body, with_eds=True)


def _sql_kg_predicate_stats() -> str:
    body = f"""
, final AS ({_TRIPLES_SELECT})
SELECT group_id, pred,
       CAST(count(*) AS BIGINT) AS n_facts,
       CAST(count(DISTINCT subj) AS BIGINT) AS n_subjects,
       CAST(count(DISTINCT obj) AS BIGINT) AS n_objects,
       CAST(sum(CASE WHEN invalid_at IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_valid,
       CAST((1000000 * count(DISTINCT subj)) // count(*) AS BIGINT) AS func_u,
       CAST((1000000 * count(DISTINCT obj)) // count(*) AS BIGINT)
         AS inv_func_u
FROM final GROUP BY 1, 2"""
    return _kg_sql(body, with_eds=True)


def _sql_kg_cooccurrence() -> str:
    body = """
SELECT pr.group_id, pr.name_a, pr.name_b,
       CAST(pr.c_ab AS BIGINT) AS c_ab,
       CAST(pa.c AS BIGINT) AS c_a,
       CAST(pb.c AS BIGINT) AS c_b,
       CAST((1000000 * pr.c_ab * n.n_eps) // (pa.c * pb.c) AS BIGINT) AS lift_u
FROM pr
JOIN per pa ON pa.group_id = pr.group_id AND pa.name = pr.name_a
JOIN per pb ON pb.group_id = pr.group_id AND pb.name = pr.name_b
JOIN neps n ON n.group_id = pr.group_id"""
    ctes = """
, men AS (
  SELECT DISTINCT m.group_id,
         m.url || '#' || CAST(m.para_idx AS VARCHAR) AS ep,
         c.canon_name AS name
  FROM mentions_g m
  JOIN canon c ON c.group_id = m.group_id AND c.base = m.base
),
per AS (SELECT group_id, name, count(*) AS c FROM men GROUP BY 1, 2),
neps AS (SELECT group_id, count(DISTINCT ep) AS n_eps FROM men GROUP BY 1),
pr AS (
  SELECT x.group_id, x.name AS name_a, y.name AS name_b, count(*) AS c_ab
  FROM men x
  JOIN men y ON y.group_id = x.group_id AND y.ep = x.ep AND y.name > x.name
  GROUP BY 1, 2, 3
)"""
    return _kg_sql(ctes + body)


def _sql_kg_components() -> str:
    rounds = []
    for k in range(1, 13):  # 12 min-propagation rounds >= entity-graph diameter
        prev = f"k{k - 1}"
        rounds.append(f"""
k{k} AS MATERIALIZED (
  SELECT l.group_id, l.name,
         least(l.comp, coalesce(min(n.comp), l.comp)) AS comp
  FROM {prev} l
  LEFT JOIN e2 ON e2.group_id = l.group_id AND e2.a = l.name
  LEFT JOIN {prev} n ON n.group_id = e2.group_id AND n.name = e2.b
  GROUP BY l.group_id, l.name, l.comp
)""")
    body = f"""
, undc AS (
  SELECT DISTINCT group_id, least(subj, obj) AS a, greatest(subj, obj) AS b
  FROM eds WHERE subj <> obj
),
e2 AS (SELECT group_id, a, b FROM undc
       UNION ALL SELECT group_id, b, a FROM undc),
vc AS (SELECT DISTINCT group_id, a AS name FROM e2),
k0 AS (SELECT group_id, name, name AS comp FROM vc),{",".join(rounds)},
sz AS (SELECT group_id, comp, count(*) AS comp_size FROM k12 GROUP BY 1, 2)
SELECT k.group_id, k.name, k.comp AS component,
       CAST(sz.comp_size AS BIGINT) AS comp_size
FROM k12 k JOIN sz ON sz.group_id = k.group_id AND sz.comp = k.comp"""
    return _kg_sql(body, with_eds=True)


def _sql_kg_scc() -> str:
    # Exact SCC via transitive closure: a recursive-CTE reachability
    # set (nested WITH RECURSIVE so the non-recursive outer WITH from
    # _kg_sql stays untouched), mutual-reach pairs, and
    # scc_id = least(self, min mutual partner) — the same min-member
    # id the Spark pivots produce.
    body = """
, de AS (SELECT DISTINCT group_id, subj AS src, obj AS dst
         FROM eds WHERE subj <> obj),
vv AS (SELECT group_id, src AS name FROM de
       UNION SELECT group_id, dst FROM de),
tc AS (
  SELECT * FROM (
    WITH RECURSIVE reach(group_id, src, dst) AS (
      SELECT group_id, src, dst FROM de
      UNION
      SELECT r.group_id, r.src, e.dst
      FROM reach r
      JOIN de e ON e.group_id = r.group_id AND e.src = r.dst
    )
    SELECT group_id, src, dst FROM reach
  )
),
mutual AS (
  SELECT a.group_id, a.src AS u, a.dst AS v
  FROM tc a
  JOIN tc b ON b.group_id = a.group_id
           AND b.src = a.dst AND b.dst = a.src
),
base AS (
  SELECT v.group_id, v.name,
         least(v.name, coalesce(min(m.v), v.name)) AS scc_id
  FROM vv v
  LEFT JOIN mutual m ON m.group_id = v.group_id AND m.u = v.name
  GROUP BY v.group_id, v.name
),
sz AS (SELECT group_id, scc_id, count(*) AS scc_size
       FROM base GROUP BY 1, 2)
SELECT b.group_id, b.name, b.scc_id, CAST(sz.scc_size AS BIGINT) AS scc_size
FROM base b JOIN sz ON sz.group_id = b.group_id AND sz.scc_id = b.scc_id"""
    return _kg_sql(body, with_eds=True)


def _sql_kg_triadic_closure() -> str:
    # winner = lexicographic max of (t, lo, hi) over the three triangle
    # edges, expanded to explicit CASE comparisons (engine-portable; the
    # (t, lo, hi) tuples are unique per triangle so the order is total)
    body = """
, undt AS (
  SELECT group_id, least(subj, obj) AS u, greatest(subj, obj) AS v,
         min(valid_at) AS t
  FROM eds WHERE valid_at IS NOT NULL AND subj <> obj
  GROUP BY 1, 2, 3
),
tri AS (
  SELECT e1.group_id, e1.u AS a, e1.v AS b, e2.v AS c,
         e1.t AS t_ab, e2.t AS t_ac, e3.t AS t_bc
  FROM undt e1
  JOIN undt e2 ON e2.group_id = e1.group_id AND e2.u = e1.u
              AND e2.v > e1.v
  JOIN undt e3 ON e3.group_id = e1.group_id AND e3.u = e1.v
              AND e3.v = e2.v
)
SELECT group_id, a, b, c,
  CASE WHEN (t_ab > t_ac OR (t_ab = t_ac AND (a > a OR (a = a AND b >= c)))) AND (t_ab > t_bc OR (t_ab = t_bc AND (a > b OR (a = b AND b >= c)))) THEN a
       WHEN NOT (t_ab > t_ac OR (t_ab = t_ac AND (a > a OR (a = a AND b >= c)))) AND (t_ac > t_bc OR (t_ac = t_bc AND (a > b OR (a = b AND c >= c)))) THEN a
       ELSE b END AS closed_u,
  CASE WHEN (t_ab > t_ac OR (t_ab = t_ac AND (a > a OR (a = a AND b >= c)))) AND (t_ab > t_bc OR (t_ab = t_bc AND (a > b OR (a = b AND b >= c)))) THEN b
       WHEN NOT (t_ab > t_ac OR (t_ab = t_ac AND (a > a OR (a = a AND b >= c)))) AND (t_ac > t_bc OR (t_ac = t_bc AND (a > b OR (a = b AND c >= c)))) THEN c
       ELSE c END AS closed_v,
  CASE WHEN (t_ab > t_ac OR (t_ab = t_ac AND (a > a OR (a = a AND b >= c)))) AND (t_ab > t_bc OR (t_ab = t_bc AND (a > b OR (a = b AND b >= c)))) THEN t_ab
       WHEN NOT (t_ab > t_ac OR (t_ab = t_ac AND (a > a OR (a = a AND b >= c)))) AND (t_ac > t_bc OR (t_ac = t_bc AND (a > b OR (a = b AND c >= c)))) THEN t_ac
       ELSE t_bc END AS closed_at
FROM tri"""
    return _kg_sql(body, with_eds=True)


def _sql_kg_graph_shape() -> str:
    body = """
, arcs AS (SELECT DISTINCT group_id, subj AS src, obj AS dst
           FROM eds WHERE subj <> obj),
mut AS (
  SELECT a.group_id, count(*) AS n_mutual
  FROM arcs a
  JOIN arcs r ON r.group_id = a.group_id AND r.src = a.dst
             AND r.dst = a.src
  GROUP BY 1
),
basec AS (SELECT group_id, count(*) AS n_arcs FROM arcs GROUP BY 1),
und AS (SELECT DISTINCT group_id, least(src, dst) AS a,
               greatest(src, dst) AS b FROM arcs),
deg AS (
  SELECT group_id, name, count(*) AS deg FROM (
    SELECT group_id, a AS name FROM und
    UNION ALL SELECT group_id, b FROM und
  ) GROUP BY 1, 2
),
nn AS (SELECT group_id, count(*) AS n_nodes FROM deg GROUP BY 1),
mo AS (
  SELECT u.group_id, count(*) AS n_edges,
         sum(da.deg) AS sum_x, sum(db.deg) AS sum_y,
         sum(da.deg * db.deg) AS sum_xy,
         sum(da.deg * da.deg) AS sum_x2,
         sum(db.deg * db.deg) AS sum_y2
  FROM und u
  JOIN deg da ON da.group_id = u.group_id AND da.name = u.a
  JOIN deg db ON db.group_id = u.group_id AND db.name = u.b
  GROUP BY 1
)
SELECT b.group_id,
       CAST(nn.n_nodes AS BIGINT) AS n_nodes,
       CAST(b.n_arcs AS BIGINT) AS n_arcs,
       CAST(coalesce(mut.n_mutual, 0) AS BIGINT) AS n_mutual,
       CAST(mo.n_edges AS BIGINT) AS n_edges,
       CAST(mo.sum_x AS BIGINT) AS sum_x,
       CAST(mo.sum_y AS BIGINT) AS sum_y,
       CAST(mo.sum_xy AS BIGINT) AS sum_xy,
       CAST(mo.sum_x2 AS BIGINT) AS sum_x2,
       CAST(mo.sum_y2 AS BIGINT) AS sum_y2
FROM basec b
LEFT JOIN mut ON mut.group_id = b.group_id
JOIN nn ON nn.group_id = b.group_id
JOIN mo ON mo.group_id = b.group_id"""
    return _kg_sql(body, with_eds=True)


def _sql_kg_modularity() -> str:
    n = LPA_ORACLE_ROUNDS
    body = communities_ctes() + f"""
, undm AS (
  SELECT DISTINCT group_id, least(src, dst) AS a, greatest(src, dst) AS b
  FROM ce WHERE src <> dst
),
mtot AS (SELECT group_id, count(*) AS m FROM undm GROUP BY 1),
degu AS (
  SELECT group_id, u AS uuid, count(*) AS deg FROM (
    SELECT group_id, a AS u FROM undm
    UNION ALL SELECT group_id, b FROM undm
  ) GROUP BY 1, 2
),
ecin AS (
  SELECT u.group_id, la.community, count(*) AS e_in
  FROM undm u
  JOIN l{n} la ON la.group_id = u.group_id AND la.uuid = u.a
  JOIN l{n} lb ON lb.group_id = u.group_id AND lb.uuid = u.b
   AND lb.community = la.community
  GROUP BY 1, 2
),
dcs AS (
  SELECT d.group_id, l.community, sum(d.deg) AS d_c
  FROM degu d JOIN l{n} l ON l.group_id = d.group_id AND l.uuid = d.uuid
  GROUP BY 1, 2
)
SELECT d.group_id,
       CAST(count(*) AS BIGINT) AS n_communities,
       CAST(max(mt.m) AS BIGINT) AS m_edges,
       CAST(sum(4 * mt.m * coalesce(e.e_in, 0) - d.d_c * d.d_c) AS BIGINT)
         AS modularity_num,
       CAST(4 * max(mt.m) * max(mt.m) AS BIGINT) AS modularity_den
FROM dcs d
LEFT JOIN ecin e ON e.group_id = d.group_id AND e.community = d.community
JOIN mtot mt ON mt.group_id = d.group_id
GROUP BY 1"""
    return _kg_sql(body, with_eds=True)


def _sql_kg_link_prediction() -> str:
    body = """
, und AS (
  SELECT DISTINCT group_id, least(subj, obj) AS a, greatest(subj, obj) AS b
  FROM eds WHERE subj <> obj
),
adj AS (
  SELECT group_id, a AS v, b AS nbr FROM und
  UNION ALL SELECT group_id, b, a FROM und
),
deg AS (SELECT group_id, v, count(*) AS deg FROM adj GROUP BY 1, 2),
pairs AS (
  SELECT e1.group_id, e1.nbr AS a, e2.nbr AS b, count(*) AS common
  FROM adj e1
  JOIN adj e2 ON e2.group_id = e1.group_id AND e2.v = e1.v
             AND e2.nbr > e1.nbr
  GROUP BY 1, 2, 3
),
cand AS (
  SELECT p.* FROM pairs p
  LEFT JOIN und u ON u.group_id = p.group_id AND u.a = p.a AND u.b = p.b
  WHERE u.a IS NULL
)
SELECT c.group_id, c.a AS name_a, c.b AS name_b,
       CAST(c.common AS BIGINT) AS common,
       CAST(da.deg AS BIGINT) AS deg_a,
       CAST(db.deg AS BIGINT) AS deg_b,
       CAST((1000000 * c.common) // (da.deg + db.deg - c.common) AS BIGINT)
         AS jaccard_u
FROM cand c
JOIN deg da ON da.group_id = c.group_id AND da.v = c.a
JOIN deg db ON db.group_id = c.group_id AND db.v = c.b"""
    return _kg_sql(body, with_eds=True)


def _sql_kg_random_walks() -> str:
    rounds, unions = [], [
        "SELECT group_id, start, CAST(0 AS BIGINT) AS step, node FROM s0"
    ]
    for s in range(1, WALK_LEN + 1):
        prev = f"s{s - 1}"
        rounds.append(f"""
s{s} AS (
  SELECT s.group_id, s.start, n.dst AS node
  FROM {prev} s
  JOIN od ON od.group_id = s.group_id AND od.src = s.node
  JOIN nbrs n ON n.group_id = s.group_id AND n.src = s.node
   AND n.pick = ('0x' || substr(md5('walk:' || s.start || ':{s}'), 1, 8))::BIGINT
                % od.outdeg + 1
)""")
        unions.append(
            f"SELECT group_id, start, CAST({s} AS BIGINT), node FROM s{s}"
        )
    body = f"""
, e AS (SELECT DISTINCT group_id, subj AS src, obj AS dst FROM eds),
nbrs AS (
  SELECT group_id, src, dst,
         row_number() OVER (PARTITION BY group_id, src ORDER BY dst) AS pick
  FROM e
),
od AS (SELECT group_id, src, count(*) AS outdeg FROM e GROUP BY 1, 2),
v AS (SELECT group_id, src AS name FROM e
      UNION SELECT group_id, dst FROM e),
s0 AS (SELECT group_id, name AS start, name AS node FROM v),{",".join(rounds)}
{" UNION ALL ".join(unions)}"""
    return _kg_sql(body, with_eds=True)


def _sql_kg_walk_pairs() -> str:
    walks = _sql_kg_random_walks()
    return f"""
WITH walks AS ({walks})
SELECT a.group_id, a.node AS center, b.node AS context,
       CAST(count(*) AS BIGINT) AS n_pairs
FROM walks a
JOIN walks b ON b.group_id = a.group_id AND b.start = a.start
            AND b.step <> a.step
            AND abs(a.step - b.step) <= {WALK_WINDOW}
GROUP BY 1, 2, 3"""


def q_kg_katz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Katz centrality (fixed 3 iterations, beta = 1/8, integer
    micro-units) over the canonical directed triple graph — the
    walk-counting importance score that complements kg_pagerank: hubs
    pass full attenuated weight to every neighbor instead of splitting
    it, the natural salience for web-crawl coverage."""
    from ..operators.centrality import katz_centrality

    return katz_centrality(q_kg_triples(spark, sf_dir))


def _sql_kg_katz() -> str:
    steps = []
    for k in range(1, centrality.KATZ_ITERS + 1):
        prev = f"x{k - 1}"
        steps.append(f"""
x{k} AS (
  SELECT v.group_id, v.name,
         CAST({centrality.R0_U} + coalesce(s.s, 0) AS BIGINT) AS x_u
  FROM kverts v LEFT JOIN (
    SELECT e.group_id, e.dst AS name, sum(x.x_u // {centrality.KATZ_BETA_DEN}) AS s
    FROM ke e JOIN {prev} x ON x.group_id = e.group_id AND x.name = e.src
    GROUP BY 1, 2
  ) s ON s.group_id = v.group_id AND s.name = v.name
)""")
    body = f"""
, ke AS (
  SELECT DISTINCT group_id, subj AS src, obj AS dst FROM eds WHERE subj <> obj
),
kverts AS (
  SELECT group_id, src AS name FROM ke UNION SELECT group_id, dst FROM ke
),
x0 AS (SELECT group_id, name, CAST({centrality.R0_U} AS BIGINT) AS x_u FROM kverts),
{",".join(steps)}
SELECT v.group_id, v.name,
       CAST(coalesce(d.indeg, 0) AS BIGINT) AS in_deg,
       x.x_u AS katz_u
FROM kverts v
JOIN x{centrality.KATZ_ITERS} x ON x.group_id = v.group_id AND x.name = v.name
LEFT JOIN (
  SELECT group_id, dst AS name, count(*) AS indeg FROM ke GROUP BY 1, 2
) d ON d.group_id = v.group_id AND d.name = v.name"""
    return _kg_sql(body, with_eds=True)


WL_ROUNDS = 2


def q_kg_wl_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weisfeiler-Lehman refinement labels (2 rounds) over the
    predicate-typed KG: per-entity structural-role hashes + the size of
    each round-2 class — the WL-kernel node features / GNN
    expressiveness baseline, bit-reproducible via sorted-multiset md5."""
    from ..operators.centrality import wl_refine

    return wl_refine(q_kg_triples(spark, sf_dir), rounds=WL_ROUNDS)


def _sql_kg_wl_labels() -> str:
    rounds = []
    for r in range(1, WL_ROUNDS + 1):
        prev = f"w{r - 1}"
        rounds.append(f"""
t{r} AS (
  SELECT a.group_id, a.node AS name,
         string_agg(a.rel || ':' || w.wl, ',' ORDER BY a.rel || ':' || w.wl)
           AS nbrs
  FROM wadj a JOIN {prev} w ON w.group_id = a.group_id AND w.name = a.nbr
  GROUP BY 1, 2
),
w{r} AS MATERIALIZED (
  SELECT v.group_id, v.name,
         md5(w.wl || '|' || coalesce(t.nbrs, '')) AS wl
  FROM wverts v
  JOIN {prev} w ON w.group_id = v.group_id AND w.name = v.name
  LEFT JOIN t{r} t ON t.group_id = v.group_id AND t.name = v.name
)""")
    body = f"""
, warcs AS (SELECT DISTINCT group_id, subj, pred, obj FROM eds),
wadj AS (
  SELECT group_id, subj AS node, '>' || pred AS rel, obj AS nbr FROM warcs
  UNION ALL
  SELECT group_id, obj, '<' || pred, subj FROM warcs
),
wverts AS (SELECT DISTINCT group_id, node AS name FROM wadj),
w0 AS (SELECT group_id, name, md5('wl0') AS wl FROM wverts),
{",".join(rounds)}
SELECT a.group_id, a.name, a.wl AS wl1, b.wl AS wl2,
       CAST(count(*) OVER (PARTITION BY b.group_id, b.wl) AS BIGINT) AS n_class
FROM w1 a JOIN w2 b ON b.group_id = a.group_id AND b.name = a.name"""
    return _kg_sql(body, with_eds=True)


def q_kg_supergraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community-contracted quotient graph (graph summarization): LPA
    communities become super-nodes; canonical typed arcs roll up to
    weighted super-arcs (n_edges / n_pairs / n_preds). The diagonal is
    intra-community cohesion, the off-diagonal the bridge map."""
    from ..operators.communities import community_supergraph

    t = _graph(spark, sf_dir)
    return community_supergraph(t.nodes, t.edges)


def _sql_kg_supergraph() -> str:
    n = LPA_ORACLE_ROUNDS
    body = communities_ctes() + f"""
, asg AS (
  SELECT l.group_id, l.uuid,
         md5('community|' || l.group_id || '|' || a.anchor_uuid) AS cuuid
  FROM l{n} l JOIN agg a
    ON a.group_id = l.group_id AND a.community = l.community
)
SELECT ce.group_id, sa.cuuid AS comm_src, sd.cuuid AS comm_dst,
       CAST(count(*) AS BIGINT) AS n_edges,
       CAST(count(DISTINCT ce.src || '|' || ce.dst) AS BIGINT) AS n_pairs,
       CAST(count(DISTINCT ce.pred) AS BIGINT) AS n_preds
FROM ce
JOIN asg sa ON sa.group_id = ce.group_id AND sa.uuid = ce.src
JOIN asg sd ON sd.group_id = ce.group_id AND sd.uuid = ce.dst
GROUP BY 1, 2, 3"""
    return _kg_sql(body, with_eds=True)


MOTIF_PATTERN = "(a)-[LIKES]->(b); (b)-[*]->(c)"


def q_kg_motifs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Motif query surface (operators/motifs.py): the onward-relation
    pattern (a)-[LIKES]->(b); (b)-[*]->(c) — who do the people a likes
    relate to, and how — compiled from the pattern string to connected
    equi-joins; the wildcard binds the second predicate as column p1;
    all node variables pairwise distinct."""
    from ..operators.motifs import match_motif

    return match_motif(q_kg_triples(spark, sf_dir), MOTIF_PATTERN)


def _sql_kg_motifs() -> str:
    body = """
, m AS (SELECT DISTINCT group_id, subj, pred, obj FROM eds)
SELECT t1.group_id, t1.subj AS a, t1.obj AS b, t2.obj AS c, t2.pred AS p1
FROM m t1
JOIN m t2 ON t2.group_id = t1.group_id AND t2.subj = t1.obj
WHERE t1.pred = 'LIKES'
  AND t1.subj <> t1.obj AND t1.subj <> t2.obj AND t1.obj <> t2.obj"""
    return _kg_sql(body, with_eds=True)


MOTIF_NEG_PATTERN = "(a)-[WORKS_AT]->(o); (b)-[WORKS_AT]->(o); !(a)-[LIKES]->(b)"


def q_kg_motifs_neg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Negated motif: colleague pairs (shared employer wedge) with NO
    LIKES arc a->b — the absence-of-edge pattern (Cypher WHERE NOT
    EXISTS) compiled to a left-anti join by operators/motifs.py."""
    from ..operators.motifs import match_motif

    return match_motif(q_kg_triples(spark, sf_dir), MOTIF_NEG_PATTERN)


def _sql_kg_motifs_neg() -> str:
    body = """
, m AS (SELECT DISTINCT group_id, subj, pred, obj FROM eds)
SELECT t1.group_id, t1.subj AS a, t1.obj AS o, t2.subj AS b
FROM m t1
JOIN m t2 ON t2.group_id = t1.group_id AND t2.pred = 'WORKS_AT'
         AND t2.obj = t1.obj
WHERE t1.pred = 'WORKS_AT'
  AND NOT EXISTS (SELECT 1 FROM m n
                  WHERE n.group_id = t1.group_id AND n.pred = 'LIKES'
                    AND n.subj = t1.subj AND n.obj = t2.subj)
  AND t1.subj <> t2.subj AND t1.subj <> t1.obj AND t2.subj <> t1.obj"""
    return _kg_sql(body, with_eds=True)


MOTIF_TEMPORAL_PATTERN = "(a)-[LIKES]->(b); (b)-[LIKES]->(c)"


def q_kg_motifs_temporal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-ordered motif (temporal BGP, Paranjape et al. 2017
    semantics on fact validity): LIKES chains a->b->c where the second
    fact became valid no earlier than the first — influence-cascade
    candidates rather than mere structural chains."""
    from ..operators.motifs import match_motif

    return match_motif(
        q_kg_triples(spark, sf_dir), MOTIF_TEMPORAL_PATTERN, time_ordered=True
    )


def _sql_kg_motifs_temporal() -> str:
    body = """
, m AS (
  SELECT DISTINCT group_id, subj, pred, obj, valid_at FROM eds
  WHERE valid_at IS NOT NULL
)
SELECT t1.group_id, t1.subj AS a, t1.obj AS b, t1.valid_at AS t0,
       t2.obj AS c, t2.valid_at AS t1
FROM m t1
JOIN m t2 ON t2.group_id = t1.group_id AND t2.pred = 'LIKES'
         AND t2.subj = t1.obj
WHERE t1.pred = 'LIKES'
  AND t1.valid_at <= t2.valid_at
  AND t1.subj <> t1.obj AND t1.subj <> t2.obj AND t1.obj <> t2.obj"""
    return _kg_sql(body, with_eds=True)
