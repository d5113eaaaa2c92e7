"""Graph centrality over the materialized KG: per-group degree counts and
a fixed-iteration PageRank in exact integer arithmetic.

The reference ranks retrieval candidates by graph structure (node-distance
rerank, search/search_utils.py:, mention counts); a batch centrality table
is the natural scale form of that signal — computed once per build, joined
at read time — and the classic entity-importance feature of a KG built from
web text. Fixed iteration count + integer micro-unit ranks keep the result
bit-reproducible (and DuckDB-oracle checkable): every step is `div` on
longs, no float accumulation order to drift.

Scale notes (100 TB / billions of nodes): each iteration is one join of the
rank table onto the edge list plus one groupBy — both shuffle on the SAME
key (group_id, name), so with the rank table and edge list co-partitioned
(bucketed in production) the per-iteration cost is a single co-located
shuffle of skinny (group, name, long) rows. Degree skew (hub entities)
is bounded by the same AQE skew-join handling the rest of the pipeline
uses; the iteration count is fixed (default 3), not run-to-convergence,
exactly like production feature pipelines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

# Fixed operator settings; the DuckDB oracles in queries/graph.py read the
# same constants, so engine and oracle cannot drift apart.
DAMP_PCT = 85  # damping 0.85 in integer percent
# micro-unit: the integer scale of every rank and score here (PageRank
# mass sums, pre-damping, to ~R0_U per group)
R0_U = 1_000_000
PAGERANK_ITERS = 3
PPR_ITERS = 3
KCORE_K = 2  # k of the k-core
KATZ_ITERS = 3
KATZ_BETA_DEN = 8  # attenuation beta = 1 / KATZ_BETA_DEN
NS_FANOUT = (4, 3)  # neighbor_sample per-hop fanouts


def clustering_coefficients(triples: DataFrame) -> DataFrame:
    """Per-node triangle count and local clustering coefficient over the
    undirected simple graph of the canonical triples — the standard
    cohesion diagnostic for a KG built from web text (dense cliques =
    tightly-covered entity neighborhoods; coefficient 0 = star-shaped
    hub coverage).

    Triangle enumeration uses DEGREE-ORDERED edge orientation
    (compact-forward): every undirected edge is directed from its
    lower-(degree, name) endpoint to the higher one, wedges are generated
    only at each triangle's lowest-ranked vertex, and the closing edge is
    probed in the same orientation. Each triangle is produced exactly
    once, and the wedge count is bounded by sum(outdeg^2) with
    outdeg <= O(sqrt(m)) under this ordering — the classic
    O(m^1.5) bound that survives power-law hubs, where raw
    name-ordering would square the hub degree. All joins are
    co-partitioned equi-joins on (group_id, vertex); nothing is
    broadcast, nothing is collected.

    coeff_u = 2e6 * triangles div (degree * (degree - 1)) — exact integer
    micro-units, bit-reproducible in Spark `div` and DuckDB `//`.
    """
    und = (
        triples.select(
            "group_id",
            F.least("subj", "obj").alias("a"),
            F.greatest("subj", "obj").alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = (
        und.select("group_id", F.col("a").alias("name"))
        .unionByName(und.select("group_id", F.col("b").alias("name")))
        .groupBy("group_id", "name")
        .agg(F.count(F.lit(1)).alias("degree"))
        .localCheckpoint(eager=True)
    )
    da = deg.select(
        "group_id", F.col("name").alias("a"), F.col("degree").alias("da")
    )
    db = deg.select(
        "group_id", F.col("name").alias("b"), F.col("degree").alias("db")
    )
    e = und.join(da, ["group_id", "a"]).join(db, ["group_id", "b"])
    lo_is_a = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    # oriented edge list, carrying the head's rank key so wedge pairs can
    # be emitted already in closing-edge orientation
    o = e.select(
        "group_id",
        F.when(lo_is_a, F.col("a")).otherwise(F.col("b")).alias("lo"),
        F.when(lo_is_a, F.col("b")).otherwise(F.col("a")).alias("hi"),
        F.when(lo_is_a, F.col("db")).otherwise(F.col("da")).alias("dhi"),
    ).localCheckpoint(eager=True)
    e1, e2 = o.alias("e1"), o.alias("e2")
    rank_lt = (F.col("e1.dhi") < F.col("e2.dhi")) | (
        (F.col("e1.dhi") == F.col("e2.dhi")) & (F.col("e1.hi") < F.col("e2.hi"))
    )
    wedges = (
        e1.join(e2, ["group_id", "lo"])
        .where(rank_lt)
        .select(
            "group_id",
            F.col("lo").alias("v1"),
            F.col("e1.hi").alias("lo2"),
            F.col("e2.hi").alias("hi2"),
        )
    )
    tri = wedges.join(
        o.select("group_id", F.col("lo").alias("lo2"), F.col("hi").alias("hi2")),
        ["group_id", "lo2", "hi2"],
    ).select("group_id", "v1", F.col("lo2").alias("v2"), F.col("hi2").alias("v3"))
    per_node = (
        tri.select(
            "group_id", F.explode(F.array("v1", "v2", "v3")).alias("name")
        )
        .groupBy("group_id", "name")
        .agg(F.count(F.lit(1)).alias("tri"))
    )
    return (
        deg.join(per_node, ["group_id", "name"], "left")
        .select(
            "group_id",
            "name",
            F.col("degree").cast("long").alias("degree"),
            F.coalesce("tri", F.lit(0)).cast("long").alias("triangles"),
            F.expr(
                "CASE WHEN degree >= 2 THEN"
                " (2000000L * coalesce(tri, 0L)) div (degree * (degree - 1))"
                " ELSE 0L END"
            )
            .cast("long")
            .alias("coeff_u"),
        )
    )


def cooccurrence(mention_edges: DataFrame, nodes: DataFrame) -> DataFrame:
    """Entity co-mention statistics: for every canonical entity pair that
    shares at least one episode, the co-mention episode count and an
    integer-exact PMI lift — the relation-discovery signal a KG pipeline
    mines for candidate edges the pattern extractors missed (pairs with
    high lift but no fact edge are extraction gaps).

    lift_u = 1e6 * P(a,b) / (P(a) P(b)) = (1e6 * c_ab * n_episodes)
    div (c_a * c_b); > 1e6 means positive association. Pure integer
    division — bit-identical in Spark and DuckDB.

    Scale: the pair generation is a self-join of the skinny
    (episode, entity) mention table co-partitioned on episode_uuid; the
    per-episode fan-out is quadratic only in entities-per-episode, which
    is bounded by the chunker (a paragraph mentions a handful of
    entities), never by corpus size. Marginals and the episode count are
    partial-agg'd before the final key join."""
    m = mention_edges.join(
        nodes.select(F.col("uuid").alias("entity_uuid"), "name"), "entity_uuid"
    ).select("group_id", "episode_uuid", "name")
    per = m.groupBy("group_id", "name").agg(F.count(F.lit(1)).alias("c"))
    n_eps = m.groupBy("group_id").agg(
        F.count_distinct("episode_uuid").alias("n_eps")
    )
    x, y = m.alias("x"), m.alias("y")
    pairs = (
        x.join(y, ["group_id", "episode_uuid"])
        .where(F.col("x.name") < F.col("y.name"))
        .groupBy(
            "group_id",
            F.col("x.name").alias("name_a"),
            F.col("y.name").alias("name_b"),
        )
        .agg(F.count(F.lit(1)).alias("c_ab"))
    )
    return (
        pairs.join(
            per.select("group_id", F.col("name").alias("name_a"), F.col("c").alias("c_a")),
            ["group_id", "name_a"],
        )
        .join(
            per.select("group_id", F.col("name").alias("name_b"), F.col("c").alias("c_b")),
            ["group_id", "name_b"],
        )
        .join(n_eps, "group_id")
        .select(
            "group_id",
            "name_a",
            "name_b",
            F.col("c_ab").cast("long").alias("c_ab"),
            F.col("c_a").cast("long").alias("c_a"),
            F.col("c_b").cast("long").alias("c_b"),
            F.expr("(1000000L * c_ab * n_eps) div (c_a * c_b)")
            .cast("long")
            .alias("lift_u"),
        )
    )


def link_prediction(triples: DataFrame) -> DataFrame:
    """Link-prediction candidate features over the undirected canonical
    graph: for every non-adjacent entity pair with >= 1 common neighbor,
    the common-neighbor count and integer-exact Jaccard similarity of
    their neighborhoods — the classic missing-edge candidate generator
    (pairs with high neighborhood overlap but no edge are the graph's
    best completion candidates, fed to a ranker or an extraction
    re-check).

    Plan shape: common neighbors are wedge enumeration at the shared
    vertex (one self-join of the undirected edge list co-partitioned on
    (group, vertex)) — identical cost profile to triangle counting; the
    anti-join drops already-connected pairs so output is candidates
    only. jaccard_u = 1e6 * common div (deg_a + deg_b - common), pure
    integer."""
    und = (
        triples.select(
            "group_id",
            F.least("subj", "obj").alias("a"),
            F.greatest("subj", "obj").alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # adjacency as (v, nbr) both directions
    adj = und.select(
        "group_id", F.col("a").alias("v"), F.col("b").alias("nbr")
    ).unionByName(
        und.select("group_id", F.col("b").alias("v"), F.col("a").alias("nbr"))
    )
    deg = adj.groupBy("group_id", "v").agg(F.count(F.lit(1)).alias("deg"))
    e1, e2 = adj.alias("e1"), adj.alias("e2")
    # wedges at the shared vertex v: unordered endpoint pair (name order)
    pairs = (
        e1.join(e2, ["group_id", "v"])
        .where(F.col("e1.nbr") < F.col("e2.nbr"))
        .groupBy(
            "group_id",
            F.col("e1.nbr").alias("a"),
            F.col("e2.nbr").alias("b"),
        )
        .agg(F.count(F.lit(1)).alias("common"))
    )
    candidates = pairs.join(und, ["group_id", "a", "b"], "left_anti")
    return (
        candidates.join(
            deg.select("group_id", F.col("v").alias("a"), F.col("deg").alias("deg_a")),
            ["group_id", "a"],
        )
        .join(
            deg.select("group_id", F.col("v").alias("b"), F.col("deg").alias("deg_b")),
            ["group_id", "b"],
        )
        .select(
            "group_id",
            F.col("a").alias("name_a"),
            F.col("b").alias("name_b"),
            F.col("common").cast("long").alias("common"),
            F.col("deg_a").cast("long").alias("deg_a"),
            F.col("deg_b").cast("long").alias("deg_b"),
            F.expr("(1000000L * common) div (deg_a + deg_b - common)")
            .cast("long")
            .alias("jaccard_u"),
        )
    )


def random_walks(triples: DataFrame, length: int = 3) -> DataFrame:
    """Deterministic 'random'-walk corpus over the directed canonical
    graph — the DeepWalk/node2vec training-data export (walk sequences
    feed a skip-gram embedder). One walk starts at every vertex; the
    step-s transition from node v is neighbor index
    md5('walk:' start ':' s) % outdeg(v) — a hash-derived choice that is
    statistically uniform but reproducible, resumable, and
    oracle-checkable (no RNG state to ship across executors). Dead-end
    nodes simply end their walk (inner join drops them).

    Scale: per step one co-partitioned join of the walk frontier onto
    the (group, node)-keyed neighbor index — the same skinny-iteration
    shape as PageRank, with per-step lineage truncation so plans don't
    nest. Walk count scales with vertices, never with edges^2."""
    e = (
        triples.select(
            "group_id", F.col("subj").alias("src"), F.col("obj").alias("dst")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    w_nbr = Window.partitionBy("group_id", "src").orderBy("dst")
    nbrs = e.select(
        "group_id", "src", "dst", F.row_number().over(w_nbr).alias("pick")
    ).localCheckpoint(eager=True)
    outdeg = nbrs.groupBy("group_id", "src").agg(F.max("pick").alias("outdeg"))
    starts = (
        e.select("group_id", F.col("src").alias("name"))
        .unionByName(e.select("group_id", F.col("dst").alias("name")))
        .distinct()
    )
    cur = starts.select(
        "group_id",
        F.col("name").alias("start"),
        F.lit(0).cast("long").alias("step"),
        F.col("name").alias("node"),
    )
    legs = [cur]
    for s in range(1, length + 1):
        pick = F.expr(
            "cast(conv(substr(md5(concat('walk:', start, ':', "
            f"'{s}')), 1, 8), 16, 10) as bigint) % outdeg + 1"
        )
        cur = (
            cur.join(
                outdeg.select("group_id", F.col("src").alias("node"), "outdeg"),
                ["group_id", "node"],
            )
            .withColumn("pick", pick)
            .join(
                nbrs.select(
                    "group_id", F.col("src").alias("node"), "pick", "dst"
                ),
                ["group_id", "node", "pick"],
            )
            .select(
                "group_id",
                "start",
                F.lit(s).cast("long").alias("step"),
                F.col("dst").alias("node"),
            )
            .localCheckpoint(eager=True)
        )
        legs.append(cur)
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out


def node2vec_walks(
    triples: DataFrame,
    length: int = 3,
    w_ret: int = 25,
    w_adj: int = 100,
    w_out: int = 200,
) -> DataFrame:
    """Second-order biased walk corpus — node2vec (Grover & Leskovec
    2016) on top of the random_walks machinery: the step from v with
    previous node t weights each neighbor x by its distance to t
    (return x==t: w_ret ~ 1/p; common neighbor d(t,x)=1: w_adj;
    outward d=2: w_out ~ 1/q), so the defaults (25/100/200 = p=4,
    q=0.5) are DFS-leaning, the regime the paper shows helps community
    structure. The 'random' draw is the deterministic hash roulette:
    r = md5('n2v:' start ':' step) % total_weight picks the neighbor
    whose cumulative-weight interval (in neighbor sort order) covers
    r — statistically the right bias, reproducible, resumable, and
    oracle-checkable. First step has no previous node: all neighbors
    weigh w_adj (uniform).

    Scale shape: per step one co-partitioned join of the walk frontier
    onto the neighbor index, one least/greatest adjacency left-join
    for the d(t,x)=1 test, and one per-walk window (partition =
    (group, start) — frontier-sized, never corpus-wide); lineage
    truncated per step. Returns (group_id, start, step, node)."""
    e = (
        triples.select(
            "group_id", F.col("subj").alias("src"), F.col("obj").alias("dst")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    w_nbr = Window.partitionBy("group_id", "src").orderBy("dst")
    nbrs = e.select(
        "group_id", "src", "dst", F.row_number().over(w_nbr).alias("pick")
    ).localCheckpoint(eager=True)
    und = (
        e.select(
            "group_id",
            F.least("src", "dst").alias("ua"),
            F.greatest("src", "dst").alias("ub"),
        )
        .distinct()
        .withColumn("is_adj", F.lit(1))
        .localCheckpoint(eager=True)
    )
    starts = (
        e.select("group_id", F.col("src").alias("name"))
        .unionByName(e.select("group_id", F.col("dst").alias("name")))
        .distinct()
    )
    cur = starts.select(
        "group_id",
        F.col("name").alias("start"),
        F.lit(0).cast("long").alias("step"),
        F.col("name").alias("node"),
        F.lit(None).cast("string").alias("prev"),
    )
    legs = [cur.select("group_id", "start", "step", "node")]
    for s in range(1, length + 1):
        cand = cur.join(
            nbrs.select("group_id", F.col("src").alias("node"), "dst", "pick"),
            ["group_id", "node"],
        )
        cand = (
            cand.withColumn("ua", F.least("prev", "dst"))
            .withColumn("ub", F.greatest("prev", "dst"))
            .join(und, ["group_id", "ua", "ub"], "left")
            .withColumn(
                "wt",
                F.when(F.col("prev").isNull(), F.lit(w_adj))
                .when(F.col("dst") == F.col("prev"), F.lit(w_ret))
                .when(F.col("is_adj").isNotNull(), F.lit(w_adj))
                .otherwise(F.lit(w_out)),
            )
        )
        ww = Window.partitionBy("group_id", "start")
        wcum = ww.orderBy("pick").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        r = F.expr(
            "cast(conv(substr(md5(concat('n2v:', start, ':', "
            f"'{s}')), 1, 8), 16, 10) as bigint)"
        )
        cur = (
            cand.withColumn("cum", F.sum("wt").over(wcum))
            .withColumn("total", F.sum("wt").over(ww))
            .withColumn("r", r % F.col("total"))
            .where(
                (F.col("r") >= F.col("cum") - F.col("wt"))
                & (F.col("r") < F.col("cum"))
            )
            .select(
                "group_id",
                "start",
                F.lit(s).cast("long").alias("step"),
                F.col("dst").alias("node"),
                F.col("node").alias("prev"),
            )
            .localCheckpoint(eager=True)
        )
        legs.append(cur.select("group_id", "start", "step", "node"))
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out


def pagerank(triples: DataFrame) -> DataFrame:
    """Per-group integer PageRank over the distinct directed (subj, obj)
    name pairs of the canonical triples, plus in/out degree.

    rank0(v)   = 1e6 div n_g
    rank_i+1(v) = (1e6 - damp*1e4) div n_g
                  + damp * sum_{u->v} (rank_i(u) div outdeg(u)) div 100

    Dangling mass is dropped (the common non-normalized variant) — the
    recurrence stays a pure integer function of the graph, identical in
    Spark `div` and DuckDB `//`.
    """
    # the skinny edge list is read 2 + PAGERANK_ITERS times (verts,
    # degrees, every iteration's contribution join): commit it once so each iteration
    # reads materialized rows instead of re-running the triple lineage —
    # the same lineage-truncation discipline as connected_components
    e = (
        triples.select(
            "group_id", F.col("subj").alias("src"), F.col("obj").alias("dst")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    verts = (
        e.select("group_id", F.col("src").alias("name"))
        .unionByName(e.select("group_id", F.col("dst").alias("name")))
        .distinct()
    )
    ng = verts.groupBy("group_id").agg(F.count(F.lit(1)).alias("n_g"))
    outdeg = e.groupBy("group_id", "src").agg(F.count(F.lit(1)).alias("outdeg"))
    indeg = e.groupBy("group_id", "dst").agg(F.count(F.lit(1)).alias("indeg"))

    base_u = (R0_U * (100 - DAMP_PCT)) // 100  # e.g. 150000
    vn = verts.join(ng, "group_id")
    r = vn.select(
        "group_id", "name", F.expr(f"{R0_U}L div n_g").alias("rank_u")
    )
    for _ in range(PAGERANK_ITERS):
        contrib = (
            e.join(outdeg, ["group_id", "src"])
            .join(
                r.select(
                    "group_id", F.col("name").alias("src"), "rank_u"
                ),
                ["group_id", "src"],
            )
            .groupBy("group_id", F.col("dst").alias("name"))
            .agg(F.sum(F.expr("rank_u div outdeg")).alias("s"))
        )
        # per-iteration checkpoint: rank_i's plan would otherwise nest
        # rank_{i-1}'s whole subtree (exponential plan growth is the
        # classic iterative-DataFrame failure mode at scale)
        r = (
            vn.join(contrib, ["group_id", "name"], "left")
            .select(
                "group_id",
                "name",
                F.expr(
                    f"({base_u}L div n_g)"
                    f" + ({DAMP_PCT}L * coalesce(s, 0L)) div 100"
                ).alias("rank_u"),
            )
            .localCheckpoint(eager=True)
        )
    return (
        r.join(
            outdeg.select("group_id", F.col("src").alias("name"), "outdeg"),
            ["group_id", "name"],
            "left",
        )
        .join(
            indeg.select("group_id", F.col("dst").alias("name"), "indeg"),
            ["group_id", "name"],
            "left",
        )
        .select(
            "group_id",
            "name",
            F.coalesce("outdeg", F.lit(0)).cast("long").alias("out_deg"),
            F.coalesce("indeg", F.lit(0)).cast("long").alias("in_deg"),
            F.col("rank_u").cast("long").alias("rank_u"),
        )
    )


def kcore(triples: DataFrame) -> DataFrame:
    """k-core decomposition membership (k = KCORE_K): the maximal subgraph
    in which every node keeps degree >= k, computed by iterative peeling
    (remove nodes below k, drop their incident edges, repeat to
    fixpoint). The k-core is the standard "dense backbone" extraction for a web-text KG — pendant
    chains of one-off extractions peel away, leaving the entities whose
    facts corroborate each other (the reference's community stage
    (community_operations.py) clusters exactly this backbone).

    Returns (group_id, name, core_degree) — core_degree is the node's
    degree WITHIN the surviving subgraph.

    Scale shape: each round is one co-partitioned groupBy on
    (group_id, vertex) plus two semi-joins of the edge list against the
    surviving-vertex set — all skinny (group, name) rows shuffled on the
    same key, so with the edge table bucketed the rounds are co-located.
    Round count is bounded by the longest pendant path, not graph size;
    localCheckpoint per round truncates the iterative lineage, and the
    fixpoint early-exit is one limit(1) count per round.
    """
    und = (
        triples.select(
            "group_id",
            F.least("subj", "obj").alias("a"),
            F.greatest("subj", "obj").alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    for _ in range(30):
        deg = (
            und.select("group_id", F.col("a").alias("name"))
            .unionAll(und.select("group_id", F.col("b").alias("name")))
            .groupBy("group_id", "name")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        alive = deg.where(F.col("c") >= KCORE_K).select("group_id", "name")
        nxt = (
            und.join(
                alive.withColumnRenamed("name", "a"), ["group_id", "a"], "semi"
            )
            .join(
                alive.withColumnRenamed("name", "b"), ["group_id", "b"], "semi"
            )
            .localCheckpoint(eager=True)
        )
        # fixpoint check: peeling only ever removes edges, so "no edge
        # removed" == converged; one cheap limit(1) probe on the anti set
        removed = (
            und.join(nxt, ["group_id", "a", "b"], "anti").limit(1).count()
        )
        und = nxt
        if removed == 0:
            break
    return (
        und.select("group_id", F.col("a").alias("name"))
        .unionAll(und.select("group_id", F.col("b").alias("name")))
        .groupBy("group_id", "name")
        .agg(F.count(F.lit(1)).cast("long").alias("core_degree"))
    )


def _edge_support(und: DataFrame) -> DataFrame:
    """Triangle support per undirected a<b edge: enumerate each
    triangle once in x<y<z orientation ((x,y) joins (y,z) on the
    middle vertex, closed by a semi-check on (x,z)), then explode its
    three edges and count. Same degree-ordered compact-forward shape
    as clustering_coefficients — wedge work is bounded by the join on
    the middle vertex, all keys co-partitioned on group_id."""
    e2 = und.select(
        "group_id", F.col("a").alias("y"), F.col("b").alias("z")
    )
    tri = (
        und.select("group_id", F.col("a").alias("x"), F.col("b").alias("y"))
        .join(e2, ["group_id", "y"])
        .join(
            und.select(
                "group_id", F.col("a").alias("x"), F.col("b").alias("z")
            ),
            ["group_id", "x", "z"],
            "semi",
        )
    )
    legs = (
        tri.select("group_id", F.col("x").alias("a"), F.col("y").alias("b"))
        .unionAll(
            tri.select("group_id", F.col("y").alias("a"), F.col("z").alias("b"))
        )
        .unionAll(
            tri.select("group_id", F.col("x").alias("a"), F.col("z").alias("b"))
        )
    )
    return legs.groupBy("group_id", "a", "b").agg(
        F.count(F.lit(1)).alias("s")
    )


def ktruss(triples: DataFrame, k: int = 3) -> DataFrame:
    """k-truss decomposition: the maximal subgraph in which every EDGE
    lies in >= k-2 triangles — the edge-analog of the k-core and the
    stricter dense-backbone extraction (a k-core keeps hub spokes; a
    truss keeps only mutually-corroborating fact clusters, since an
    edge survives only if its endpoints share k-2 common neighbors).
    Computed by iterative peel: drop under-supported edges, recompute
    support on the remainder, repeat to fixpoint (removing an edge can
    only lower other edges' support, so peeling is monotone).

    Scale shape mirrors kcore: each round is one triangle enumeration
    (two co-partitioned joins + a semi-close) and one skinny edge
    semi-join; localCheckpoint truncates per-round lineage; fixpoint
    early-exit is a limit(1) anti-probe. Returns the surviving edges
    (group_id, src, dst, support) with support measured in the final
    subgraph."""
    und = (
        triples.select(
            "group_id",
            F.least("subj", "obj").alias("a"),
            F.greatest("subj", "obj").alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    for _ in range(10):
        sup = _edge_support(und)
        keep = sup.where(F.col("s") >= k - 2).select("group_id", "a", "b")
        nxt = und.join(keep, ["group_id", "a", "b"], "semi").localCheckpoint(
            eager=True
        )
        removed = und.join(nxt, ["group_id", "a", "b"], "anti").limit(1).count()
        und = nxt
        if removed == 0:
            break
    return (
        und.join(_edge_support(und), ["group_id", "a", "b"])
        .select(
            "group_id",
            F.col("a").alias("src"),
            F.col("b").alias("dst"),
            F.col("s").cast("long").alias("support"),
        )
    )


def landmark_closeness(
    edges: DataFrame,
    nodes: DataFrame,
    n_landmarks: int = 8,
    max_depth: int = 3,
) -> DataFrame:
    """Landmark-approximate closeness centrality (the Eppstein-Wang
    sampling scheme): exact bounded BFS from a deterministic sample of
    n_landmarks nodes, then closeness(v) ~ reached / sum(d(v, l)) over
    the landmarks that reached v. Exact closeness is all-pairs shortest
    paths — quadratic, unrunnable at web scale; k-landmark BFS is the
    standard production estimator (k independent multi-source BFS
    passes, each linear in edges).

    Landmarks are the n_landmarks nodes with the smallest md5(key) — a
    bounded TakeOrderedAndProject sample (the train_centroids seeding
    discipline), never a global sort. The BFS reuses search.bfs_nodes:
    per-hop dedup + visited anti-join, lineage truncated per hop, every
    hop one co-partitioned join. The final score is exact integer
    micro-units (reached * R0_U div sum_d), so the whole estimator
    sits under the DuckDB value-hash gate.

    edges: (source_node_uuid, target_node_uuid) directed canonical
    edges (BFS treats them undirected). nodes: (uuid) node keys.
    Returns (node_key, n_reached, sum_depth, closeness_q,
    harmonic_q); harmonic_q = sum(R0_U div d) is the harmonic
    variant (Boldi-Vigna's preferred form — robust to disconnection
    since unreached landmarks contribute 0 instead of poisoning the
    sum); each term is an exact integer so the sum is order-free.
    Landmarks' zero self-distances are excluded, nodes reached by no
    landmark don't appear (their estimate is undefined, not zero)."""
    from .search import bfs_nodes

    lms = (
        nodes.select("uuid").distinct()
        .withColumn("h", F.md5("uuid"))
        .orderBy("h")
        .limit(n_landmarks)
    )
    origins = lms.select(F.col("uuid").alias("origin_uuid"), "uuid")
    dist = bfs_nodes(edges, origins, max_depth=max_depth).where(
        F.col("depth") > 0
    )
    return (
        dist.groupBy("uuid")
        .agg(
            F.count(F.lit(1)).alias("n_reached"),
            F.sum("depth").alias("sum_depth"),
            F.sum(F.expr(f"{R0_U} div depth")).alias("harmonic_q"),
        )
        .select(
            F.col("uuid").alias("node_key"),
            F.col("n_reached").cast("long").alias("n_reached"),
            F.col("sum_depth").cast("long").alias("sum_depth"),
            F.expr(f"(n_reached * {R0_U}) div sum_depth")
            .cast("long")
            .alias("closeness_q"),
            F.col("harmonic_q").cast("long").alias("harmonic_q"),
        )
    )


def landmark_betweenness(
    edges: DataFrame,
    nodes: DataFrame,
    n_landmarks: int = 8,
    max_depth: int = 3,
) -> DataFrame:
    """Landmark-sampled betweenness centrality — Brandes (2001)
    dependency accumulation from a bounded deterministic source sample
    (the Brandes-Pich estimator). Exact betweenness is all-pairs; the
    sampled form is k BFS passes, each linear in edges, the standard
    web-scale estimator.

    Per landmark o: (1) min hop distances (the deduped bfs_nodes),
    (2) shortest-path counts sigma level-by-level (sigma(v) = sum of
    sigma over depth-(d-1) neighbors — one co-partitioned join + agg
    per level), (3) dependency accumulation BACKWARD over the
    shortest-path DAG: delta(v) = sum over depth-(d+1) successors w of
    sigma_v * (R0_U + delta(w)) div sigma_w — the integer-quantized
    form of Brandes' (sigma_v/sigma_w)(1+delta(w)); each term is an
    exact integer so sums are order-free and the whole estimator sits
    under the DuckDB value-hash gate. betweenness_q(v) = sum over
    landmarks of delta — landmarks themselves (depth 0) are excluded,
    and nodes interior to no sampled shortest path don't appear.

    Every join in all three phases is keyed (origin, node) or the
    edge key — skinny rows, co-partitioned across the fixed
    max_depth-unrolled DAG; per-level lineage is truncated exactly as
    in bfs_nodes. Returns (node_key, n_origins, betweenness_q)."""
    from .search import bfs_nodes

    if max_depth < 2:
        raise ValueError("betweenness needs max_depth >= 2 (interior nodes)")
    bidir = (
        edges.select(
            F.col("source_node_uuid").alias("src"),
            F.col("target_node_uuid").alias("dst"),
        )
        .union(
            edges.select(
                F.col("target_node_uuid").alias("src"),
                F.col("source_node_uuid").alias("dst"),
            )
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    lms = (
        nodes.select("uuid").distinct()
        .withColumn("h", F.md5("uuid"))
        .orderBy("h")
        .limit(n_landmarks)
    )
    origins = lms.select(F.col("uuid").alias("origin_uuid"), "uuid")
    dist = bfs_nodes(edges, origins, max_depth=max_depth).localCheckpoint(
        eager=False
    )

    sig = {
        0: origins.select(
            "origin_uuid", "uuid", F.lit(1).cast("long").alias("sigma")
        )
    }
    for d in range(1, max_depth + 1):
        lvl = dist.where(F.col("depth") == d).select("origin_uuid", "uuid")
        prev = sig[d - 1].select(
            "origin_uuid", F.col("uuid").alias("pu"), "sigma"
        )
        sig[d] = (
            lvl.join(bidir, lvl.uuid == bidir.dst)
            .select("origin_uuid", "uuid", F.col("src").alias("pu"))
            .join(prev, ["origin_uuid", "pu"])
            .groupBy("origin_uuid", "uuid")
            .agg(F.sum("sigma").alias("sigma"))
            .localCheckpoint(eager=False)
        )

    delta = None
    deltas = []
    for d in range(max_depth - 1, 0, -1):
        lvl_v = dist.where(F.col("depth") == d).select("origin_uuid", "uuid")
        lvl_w = dist.where(F.col("depth") == d + 1).select(
            "origin_uuid", F.col("uuid").alias("w")
        )
        pairs = (
            lvl_v.join(bidir, lvl_v.uuid == bidir.src)
            .select("origin_uuid", "uuid", F.col("dst").alias("w"))
            .join(lvl_w, ["origin_uuid", "w"])
        )
        sv = sig[d].select(
            "origin_uuid", "uuid", F.col("sigma").alias("sv")
        )
        sw = sig[d + 1].select(
            "origin_uuid", F.col("uuid").alias("w"), F.col("sigma").alias("sw")
        )
        j = pairs.join(sv, ["origin_uuid", "uuid"]).join(
            sw, ["origin_uuid", "w"]
        )
        if delta is not None:
            dw = delta.select(
                "origin_uuid", F.col("uuid").alias("w"),
                F.col("delta").alias("dw"),
            )
            j = j.join(dw, ["origin_uuid", "w"], "left").withColumn(
                "dw", F.coalesce(F.col("dw"), F.lit(0))
            )
        else:
            j = j.withColumn("dw", F.lit(0).cast("long"))
        delta = (
            j.withColumn("term", F.expr(f"(sv * ({R0_U} + dw)) div sw"))
            .groupBy("origin_uuid", "uuid")
            .agg(F.sum("term").alias("delta"))
            .localCheckpoint(eager=False)
        )
        deltas.append(delta)

    alld = deltas[0]
    for d in deltas[1:]:
        alld = alld.unionByName(d)
    return (
        alld.groupBy("uuid")
        .agg(
            F.count(F.lit(1)).alias("n_origins"),
            F.sum("delta").alias("betweenness_q"),
        )
        .select(
            F.col("uuid").alias("node_key"),
            F.col("n_origins").cast("long").alias("n_origins"),
            F.col("betweenness_q").cast("long").alias("betweenness_q"),
        )
    )


def degree_histogram(triples: DataFrame) -> DataFrame:
    """Log2-bucketed degree distribution per group — the power-law
    diagnostic that decides skew handling (salting thresholds, AQE skew
    join) for every downstream graph job. bucket = bit_length(degree)-1,
    computed via the binary string representation (`bin`), which is
    integer-exact in both Spark and DuckDB — `floor(log2(x))` would risk
    IEEE drift at exact powers of two.

    Corpus collapses to one row per (group, node) then one row per
    (group, bucket) — nothing here scales beyond the vocab of buckets.
    """
    und = (
        triples.select(
            "group_id",
            F.least("subj", "obj").alias("a"),
            F.greatest("subj", "obj").alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        und.select("group_id", F.col("a").alias("name"))
        .unionAll(und.select("group_id", F.col("b").alias("name")))
        .groupBy("group_id", "name")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    return (
        deg.select(
            "group_id",
            (F.length(F.expr("bin(degree)")) - 1).cast("long").alias("bucket"),
        )
        .groupBy("group_id", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    )


def entity_cards(triples: DataFrame) -> DataFrame:
    """Per-entity profile rollup ("entity card"): fact counts by role,
    currently-valid fact count, first/last observed validity, and the
    dominant predicate (max count, lexicographic tie-break) — the
    dataset-card analogue at entity granularity, and the batch form of the
    reference's node summary context (node_operations.py summary builds
    from exactly these facts).

    One union of two role-tagged projections, one groupBy on
    (group_id, name), one window over the (entity, pred)-sized aggregate
    for the dominant predicate — partition size is bounded by entity
    degree, never corpus-scaled.
    """
    legs = triples.select(
        "group_id",
        F.col("subj").alias("name"),
        F.lit(1).alias("as_subj"),
        F.lit(0).alias("as_obj"),
        "pred",
        "valid_at",
        "invalid_at",
    ).unionAll(
        triples.select(
            "group_id",
            F.col("obj").alias("name"),
            F.lit(0),
            F.lit(1),
            "pred",
            "valid_at",
            "invalid_at",
        )
    )
    cards = legs.groupBy("group_id", "name").agg(
        F.sum("as_subj").cast("long").alias("n_subj"),
        F.sum("as_obj").cast("long").alias("n_obj"),
        F.count(F.lit(1)).cast("long").alias("n_facts"),
        F.sum(F.when(F.col("invalid_at").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_valid"),
        F.min("valid_at").alias("first_valid"),
        F.max("valid_at").alias("last_valid"),
    )
    pc = legs.groupBy("group_id", "name", "pred").agg(
        F.count(F.lit(1)).alias("c")
    )
    w = Window.partitionBy("group_id", "name").orderBy(
        F.desc("c"), F.asc("pred")
    )
    top = (
        pc.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("group_id", "name", F.col("pred").alias("top_pred"))
    )
    return cards.join(top, ["group_id", "name"])


def predicate_stats(triples: DataFrame) -> DataFrame:
    """Per-predicate schema statistics — the ontology-induction signal a
    KG pipeline derives before typing predicates: fact count, distinct
    subject/object counts, currently-valid count, and integer-exact
    functionality ratios (func_u = 1e6 * n_subjects div n_facts; 1e6
    means every fact has a distinct subject, i.e. the predicate is
    functional from the subject side). The reference's fixed predicate
    vocabulary (extract_edges prompts) is the hand-written version of
    this table.

    One groupBy on (group_id, pred) with distinct-aggs — vocab-sized
    output, partial-agg friendly.
    """
    return triples.groupBy("group_id", "pred").agg(
        F.count(F.lit(1)).cast("long").alias("n_facts"),
        F.countDistinct("subj").cast("long").alias("n_subjects"),
        F.countDistinct("obj").cast("long").alias("n_objects"),
        F.sum(F.when(F.col("invalid_at").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_valid"),
        F.expr("(1000000L * count(distinct subj)) div count(1)").alias(
            "func_u"
        ),
        F.expr("(1000000L * count(distinct obj)) div count(1)").alias(
            "inv_func_u"
        ),
    )


def personalized_pagerank(
    triples: DataFrame,
    seed_prefix: str = "A",
) -> DataFrame:
    """Personalized PageRank from a seed set — the graph-proximity
    retrieval feature: all teleport mass returns to the SEEDS, so ranks
    measure closeness to the query entities rather than global
    importance (the retrieval-side sibling of `pagerank`; the reference
    reranks by node distance from an origin set, search_utils.py — PPR
    is the smooth multi-hop form of that signal).

        ppr_0(v)   = 1e6 div n_seeds                 (v in seeds, else 0)
        ppr_i+1(v) = [v in seeds] * (1e6 - damp*1e4) div n_seeds
                     + damp * sum_{u->v} (ppr_i(u) div outdeg(u)) div 100

    Exact integer micro-units throughout (bit-identical in Spark `div`
    and DuckDB `//`); only rows with ppr_u > 0 are kept.

    Scale shape (100 TB): the rank vector is SPARSE — its support grows
    one hop outward from the seeds per iteration, so each iteration
    joins a frontier-sized rank table onto the edge list (co-partitioned
    on (group_id, name), same key every round) instead of touching the
    full vertex set the way global PageRank must. Per-iteration
    localCheckpoint truncates the iterative-plan lineage. Zero-rank rows
    are pruned each round (identical semantics: they contribute nothing).
    """
    e = (
        triples.select(
            "group_id", F.col("subj").alias("src"), F.col("obj").alias("dst")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    verts = (
        e.select("group_id", F.col("src").alias("name"))
        .unionByName(e.select("group_id", F.col("dst").alias("name")))
        .distinct()
    )
    seeds = verts.where(F.col("name").startswith(seed_prefix))
    ns = seeds.groupBy("group_id").agg(F.count(F.lit(1)).alias("n_s"))
    outdeg = e.groupBy("group_id", "src").agg(F.count(F.lit(1)).alias("outdeg"))
    base_u = (R0_U * (100 - DAMP_PCT)) // 100
    tele = (
        seeds.join(ns, "group_id")
        .select("group_id", "name", F.expr(f"{base_u}L div n_s").alias("tele_u"))
        .localCheckpoint(eager=True)
    )
    r = seeds.join(ns, "group_id").select(
        "group_id", "name", F.expr(f"{R0_U}L div n_s").alias("ppr_u")
    )
    for _ in range(PPR_ITERS):
        contrib = (
            e.join(outdeg, ["group_id", "src"])
            .join(
                r.select("group_id", F.col("name").alias("src"), "ppr_u"),
                ["group_id", "src"],
            )
            .groupBy("group_id", F.col("dst").alias("name"))
            .agg(F.sum(F.expr("ppr_u div outdeg")).alias("s"))
        )
        r = (
            tele.join(contrib, ["group_id", "name"], "full_outer")
            .select(
                "group_id",
                "name",
                F.expr(
                    "coalesce(tele_u, 0L)"
                    f" + ({DAMP_PCT}L * coalesce(s, 0L)) div 100"
                ).alias("ppr_u"),
            )
            .where(F.col("ppr_u") > 0)
            .localCheckpoint(eager=True)
        )
    return r.select(
        "group_id",
        "name",
        F.col("ppr_u").cast("long").alias("ppr_u"),
        F.when(F.col("name").startswith(seed_prefix), 1)
        .otherwise(0)
        .cast("long")
        .alias("is_seed"),
    )


def hits(triples: DataFrame, iters: int = 2) -> DataFrame:
    """Kleinberg HITS hubs & authorities over the directed canonical
    graph (Kleinberg 1999, "Authoritative sources in a hyperlinked
    environment") — the classic complement to PageRank for KG
    curation: authorities are entities many well-connected hubs point
    AT (good canonical-merge targets), hubs are entities whose
    out-facts cover many authorities (good index/aggregator pages in a
    web corpus).

    Exact-integer power iteration in micro-units so the whole operator
    sits under the DuckDB value-hash gate:

        a0(v) = h0(v) = 1e6
        a_i(v) = (sum_{u->v} h_{i-1}(u)) div s_a,  s_a = max_g(raw) div 1e6
        h_i(v) = (sum_{v->w} a_i(w))     div s_h,  s_h = max_g(raw) div 1e6

    The per-group max-normalization replaces the float L2 norm: it
    keeps values bounded (max stays in [1e6, 2e6)) with pure integer
    `div` arithmetic, identical in Spark `div` and DuckDB `//`. The
    scale divisor is always >= 1: every vertex comes from an edge, so
    some raw sum is >= 1e6 (guarded with greatest() anyway).

    Plan shape is the pagerank family's: the skinny distinct edge list
    is committed once (localCheckpoint) and every iteration is two
    co-partitioned join+agg passes over it plus a group-sized max —
    no per-iteration plan nesting, no global sort, shuffle keys are
    (group_id, name) throughout. Reference has no graph centrality;
    this is training-data-pipeline scope (SURVEY §2 'beyond')."""
    e = (
        triples.select(
            "group_id", F.col("subj").alias("src"), F.col("obj").alias("dst")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    verts = (
        e.select("group_id", F.col("src").alias("name"))
        .unionByName(e.select("group_id", F.col("dst").alias("name")))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def _normalize(raw: DataFrame, col: str) -> DataFrame:
        mx = raw.groupBy("group_id").agg(
            F.expr(f"greatest(max(raw_u) div {R0_U}, 1L)").alias("sc")
        )
        return raw.join(mx, "group_id").select(
            "group_id", "name", F.expr("raw_u div sc").alias(col)
        )

    a = verts.select(
        "group_id", "name", F.lit(R0_U).cast("long").alias("auth_u")
    )
    h = verts.select(
        "group_id", "name", F.lit(R0_U).cast("long").alias("hub_u")
    )
    for _ in range(iters):
        # authorities from the PREVIOUS hubs of in-neighbors ...
        a_raw = verts.join(
            e.join(
                h.select("group_id", F.col("name").alias("src"), "hub_u"),
                ["group_id", "src"],
            )
            .groupBy("group_id", F.col("dst").alias("name"))
            .agg(F.sum("hub_u").alias("s")),
            ["group_id", "name"],
            "left",
        ).select("group_id", "name", F.expr("coalesce(s, 0L)").alias("raw_u"))
        a = _normalize(a_raw, "auth_u").localCheckpoint(eager=True)
        # ... then hubs from the UPDATED authorities of out-neighbors
        h_raw = verts.join(
            e.join(
                a.select("group_id", F.col("name").alias("dst"), "auth_u"),
                ["group_id", "dst"],
            )
            .groupBy("group_id", F.col("src").alias("name"))
            .agg(F.sum("auth_u").alias("s")),
            ["group_id", "name"],
            "left",
        ).select("group_id", "name", F.expr("coalesce(s, 0L)").alias("raw_u"))
        h = _normalize(h_raw, "hub_u").localCheckpoint(eager=True)
    return a.join(h, ["group_id", "name"]).select(
        "group_id",
        "name",
        F.col("auth_u").cast("long").alias("auth_u"),
        F.col("hub_u").cast("long").alias("hub_u"),
    )


def weighted_sssp(
    triples: DataFrame,
    n_sources: int = 8,
    rounds: int = 4,
    n_weights: int = 9,
) -> DataFrame:
    """Bounded Bellman-Ford weighted shortest paths from a deterministic
    landmark sample — the weighted companion to landmark_closeness's
    unweighted BFS (travel-cost / relation-strength distance instead of
    hop count). Each directed edge carries a deterministic integer
    weight in [1, n_weights] derived from md5(src|pred|dst) — the
    engine-neutral stand-in for a real cost column — and parallel
    predicates between the same pair collapse to their MINIMUM weight
    (the cheapest relation wins, standard multigraph reduction).

    `rounds` relaxation rounds give exact shortest distances over paths
    of <= rounds edges — the bounded-horizon form every at-scale system
    ships (full Bellman-Ford is |V| rounds; KG diameters are tiny).
    Each round is ONE co-partitioned join of the frontier-with-dists
    table against the committed edge list plus a min-agg — the same
    skinny-iteration discipline as pagerank/kcore; per-round
    localCheckpoint truncates lineage. Sources are the n_sources
    smallest md5('wsp:'|group|name) keys — a bounded
    TakeOrderedAndProject sample (train_centroids seeding discipline),
    never a global sort at scale."""
    w_expr = (
        "cast(conv(substr(md5(concat(src, '|', pred, '|', dst)), 1, 8),"
        f" 16, 10) as bigint) % {n_weights} + 1"
    )
    e = (
        triples.select(
            "group_id",
            F.col("subj").alias("src"),
            F.col("pred").alias("pred"),
            F.col("obj").alias("dst"),
        )
        .distinct()
        .withColumn("w", F.expr(w_expr))
        .groupBy("group_id", "src", "dst")
        .agg(F.min("w").alias("w"))
        .localCheckpoint(eager=True)
    )
    verts = (
        e.select("group_id", F.col("src").alias("name"))
        .unionByName(e.select("group_id", F.col("dst").alias("name")))
        .distinct()
    )
    sources = (
        verts.withColumn(
            "hkey", F.expr("md5(concat('wsp:', group_id, '|', name))")
        )
        .orderBy("hkey")
        .limit(n_sources)
        .select("group_id", F.col("name").alias("origin"))
    )
    dist = sources.select(
        "group_id", "origin", F.col("origin").alias("name"),
        F.lit(0).cast("long").alias("d"),
    ).localCheckpoint(eager=True)
    for _ in range(rounds):
        relaxed = (
            dist.join(
                e.select(
                    "group_id", F.col("src").alias("name"), "dst", "w"
                ),
                ["group_id", "name"],
            )
            .select(
                "group_id", "origin", F.col("dst").alias("name"),
                F.expr("d + w").alias("d"),
            )
        )
        dist = (
            dist.unionByName(relaxed)
            .groupBy("group_id", "origin", "name")
            .agg(F.min("d").alias("d"))
            .localCheckpoint(eager=True)
        )
    return dist.where(F.col("d") > 0).select(
        "group_id", "origin", "name", F.col("d").cast("long").alias("dist_w")
    )


def ra_link_prediction(triples: DataFrame) -> DataFrame:
    """Resource-allocation link-prediction index (Zhou, Lu & Zhang 2009)
    — the degree-weighted upgrade to link_prediction's raw
    common-neighbor/Jaccard features: each common neighbor z
    contributes 1/deg(z), so overlap through low-degree (informative)
    vertices outranks overlap through hubs. RA is the strongest of the
    classic local indices on most benchmarks (it out-discriminates
    Adamic-Adar by penalizing hubs linearly instead of
    logarithmically) and stays integer-exact as R0_U div deg(z).

    Same plan family as link_prediction: wedge enumeration at the
    shared vertex — but the shared vertex's degree joins BEFORE the
    self-join (one extra skinny map-side column, no new shuffle), so
    the per-wedge contribution is computed inline and the groupBy sums
    micro-units. Anti-join drops already-adjacent pairs."""
    und = (
        triples.select(
            "group_id",
            F.least("subj", "obj").alias("a"),
            F.greatest("subj", "obj").alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    adj = und.select(
        "group_id", F.col("a").alias("v"), F.col("b").alias("nbr")
    ).unionByName(
        und.select("group_id", F.col("b").alias("v"), F.col("a").alias("nbr"))
    )
    deg = adj.groupBy("group_id", "v").agg(F.count(F.lit(1)).alias("deg"))
    adjd = adj.join(deg, ["group_id", "v"])
    e1, e2 = adjd.alias("e1"), adj.alias("e2")
    pairs = (
        e1.join(e2, ["group_id", "v"])
        .where(F.col("e1.nbr") < F.col("e2.nbr"))
        .groupBy(
            "group_id",
            F.col("e1.nbr").alias("a"),
            F.col("e2.nbr").alias("b"),
        )
        .agg(
            F.count(F.lit(1)).alias("common"),
            F.sum(F.expr(f"{R0_U}L div deg")).alias("ra_u"),
        )
    )
    return pairs.join(und, ["group_id", "a", "b"], "left_anti").select(
        "group_id",
        F.col("a").alias("name_a"),
        F.col("b").alias("name_b"),
        F.col("common").cast("long").alias("common"),
        F.col("ra_u").cast("long").alias("ra_u"),
    )


def scc(
    triples: DataFrame,
    max_outer: int = 12,
    max_trim: int = 40,
    max_prop: int = 25,
) -> DataFrame:
    """Strongly-connected components of the DIRECTED fact graph per
    group — the directed dual of `resolve.connected_components` (which
    ignores edge direction). SCCs are the cyclic cores a temporal KG
    audits: a directed cycle of subj->obj facts (A acquired B, B
    acquired A) is either a rename loop or an extraction error, so the
    SCC histogram is the "directed hygiene" counterpart of the
    weak-component histogram (reference maintenance has no direct
    analogue; graph_queries.py BFS is direction-aware, which makes
    directed reachability — and thus SCC structure — user-visible).

    Algorithm: multi-pivot trim + forward-coloring + backward-marking
    (Orzan's coloring / FW-BW, the standard distributed SCC family —
    Hong et al. 2013). Each outer round:

      1. TRIM to fixpoint: a node with no in-edge or no out-edge in
         the remaining graph is a singleton SCC — peel it and its
         incident edges (pendant chains vanish here, which is what
         bounds the later propagation rounds by the CYCLIC core's
         diameter, not the graph's).
      2. COLOR: propagate color(v) = min(name over ancestors ∪ self)
         along forward edges to fixpoint (min is idempotent and
         commutative => partial-aggregated map-side each round).
      3. MARK: within each color class, the pivot is the node whose
         name equals its color (provably the class min and a member
         of its own SCC). Propagate "reaches pivot" backward along
         same-color edges; every node on a v->*pivot path provably
         carries the pivot's color, so the restriction loses nothing.
         Marked nodes ARE SCC(pivot) — emitted with scc_id = pivot
         (= min member name, matching the oracle's min-mutual-reach).
      4. Remove extracted nodes/edges; repeat. Every color class
         extracts >= its pivot each round, so rounds <= longest
         pivot-SCC chain, and in web KGs (few, small cycles over a
         huge DAG) round 1 usually finishes the job.

    Scale shape: every step is a skinny (group_id, name) co-partitioned
    groupBy or semi/anti-join — the same key family end-to-end, so with
    the edge list bucketed nothing reshuffles; min-propagation rounds
    are map-side combined; fixpoint probes are limit(1) counts;
    localCheckpoint truncates iterative lineage each round. No
    collect(), no windows, no cartesian products.

    Returns (group_id, name, scc_id, scc_size); scc_id = min member.
    """
    e = (
        triples.select(
            "group_id",
            F.col("subj").alias("src"),
            F.col("obj").alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    v = (
        e.select("group_id", F.col("src").alias("name"))
        .unionAll(e.select("group_id", F.col("dst").alias("name")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    parts: list[DataFrame] = []

    for _ in range(max_outer):
        if v.limit(1).count() == 0:
            break
        # ---- 1. trim loop: indeg-0 / outdeg-0 nodes are singleton SCCs
        for _ in range(max_trim):
            srcs = e.select("group_id", F.col("src").alias("name"))
            dsts = e.select("group_id", F.col("dst").alias("name"))
            alive = (
                v.join(srcs, ["group_id", "name"], "semi")
                .join(dsts, ["group_id", "name"], "semi")
                .localCheckpoint(eager=True)
            )
            trivial = v.join(alive, ["group_id", "name"], "anti")
            if trivial.limit(1).count() == 0:
                break
            parts.append(
                trivial.select(
                    "group_id", "name", F.col("name").alias("scc_id")
                ).localCheckpoint(eager=True)
            )
            v = alive
            e = (
                e.join(
                    v.withColumnRenamed("name", "src"),
                    ["group_id", "src"],
                    "semi",
                )
                .join(
                    v.withColumnRenamed("name", "dst"),
                    ["group_id", "dst"],
                    "semi",
                )
                .localCheckpoint(eager=True)
            )
        if v.limit(1).count() == 0:
            break
        # ---- 2. forward min-color propagation to fixpoint
        col = v.withColumn("color", F.col("name")).localCheckpoint(eager=True)
        for _ in range(max_prop):
            msgs = (
                e.join(
                    col.select(
                        "group_id",
                        F.col("name").alias("src"),
                        F.col("color").alias("c_src"),
                    ),
                    ["group_id", "src"],
                )
                .groupBy("group_id", F.col("dst").alias("name"))
                .agg(F.min("c_src").alias("c_in"))
            )
            ncol = (
                col.join(msgs, ["group_id", "name"], "left")
                .select(
                    "group_id",
                    "name",
                    F.least(
                        "color", F.coalesce("c_in", F.col("color"))
                    ).alias("color"),
                )
                .localCheckpoint(eager=True)
            )
            changed = (
                ncol.join(col, ["group_id", "name", "color"], "anti")
                .limit(1)
                .count()
            )
            col = ncol
            if changed == 0:
                break
        # ---- 3. backward mark within color class from each pivot
        ec = (
            e.join(
                col.select(
                    "group_id",
                    F.col("name").alias("src"),
                    F.col("color").alias("c1"),
                ),
                ["group_id", "src"],
            )
            .join(
                col.select(
                    "group_id",
                    F.col("name").alias("dst"),
                    F.col("color").alias("c2"),
                ),
                ["group_id", "dst"],
            )
            .where(F.col("c1") == F.col("c2"))
            .select("group_id", "src", "dst", F.col("c1").alias("color"))
            .localCheckpoint(eager=True)
        )
        mark = (
            col.where(F.col("color") == F.col("name"))
            .select("group_id", "name", "color")
            .localCheckpoint(eager=True)
        )
        for _ in range(max_prop):
            new = (
                ec.join(
                    mark.select(
                        "group_id", F.col("name").alias("dst"), "color"
                    ),
                    ["group_id", "dst", "color"],
                    "semi",
                )
                .select("group_id", F.col("src").alias("name"), "color")
                .distinct()
                .join(mark, ["group_id", "name", "color"], "anti")
                .localCheckpoint(eager=True)
            )
            if new.limit(1).count() == 0:
                break
            mark = mark.unionAll(new).localCheckpoint(eager=True)
        parts.append(
            mark.select("group_id", "name", F.col("color").alias("scc_id"))
        )
        # ---- 4. peel the extracted SCCs and iterate
        v = v.join(mark, ["group_id", "name"], "anti").localCheckpoint(
            eager=True
        )
        e = (
            e.join(
                v.withColumnRenamed("name", "src"), ["group_id", "src"], "semi"
            )
            .join(
                v.withColumnRenamed("name", "dst"), ["group_id", "dst"], "semi"
            )
            .localCheckpoint(eager=True)
        )

    if not parts:  # edgeless input: no vertices, empty result
        parts = [v.withColumn("scc_id", F.col("name"))]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    sizes = out.groupBy("group_id", "scc_id").agg(
        F.count(F.lit(1)).alias("scc_size")
    )
    return out.join(sizes, ["group_id", "scc_id"]).select(
        "group_id",
        "name",
        "scc_id",
        F.col("scc_size").cast("long").alias("scc_size"),
    )


def triadic_closure(triples: DataFrame) -> DataFrame:
    """Triadic-closure events over the dated undirected fact graph: for
    every triangle {a,b,c}, which edge arrived LAST (the closure) and
    when. This is the link-prediction ground truth — link_prediction /
    ra_link_prediction score open wedges, and this table is the set of
    wedges the corpus actually closed, with the closing timestamp, so a
    curation run can compute closure rates by age or by score decile
    (the temporal-motif primitive of Paranjape et al., WSDM 2017,
    specialized to the closure motif).

    Pair dating: an undirected pair's date is MIN(valid_at) over every
    directed dated fact between the two names — "first contact";
    undated facts don't date a pair. Closing edge: max (t, u, v)
    lexicographic over the three edges — the timestamp wins, name order
    breaks exact ties deterministically.

    Scale shape: the same wedge-enumeration plan family as
    link_prediction/ktruss — one self-join at the shared low vertex
    (b < c keeps each wedge once), one edge-table join to close the
    wedge, all co-partitioned on (group_id, name) keys; per-triangle
    closing-edge choice is a branch-free greatest() projection, no
    window, no collect. Triangle count — not input size — bounds the
    output, and the heavy join is against the deduplicated, dated PAIR
    table (far smaller than the fact table)."""
    und = (
        triples.where(F.col("valid_at").isNotNull())
        .select(
            "group_id",
            F.least("subj", "obj").alias("u"),
            F.greatest("subj", "obj").alias("v"),
            "valid_at",
        )
        .where(F.col("u") != F.col("v"))
        .groupBy("group_id", "u", "v")
        .agg(F.min("valid_at").alias("t"))
        .localCheckpoint(eager=True)
    )
    e1 = und.select(
        "group_id", F.col("u").alias("a"), F.col("v").alias("b"),
        F.col("t").alias("t_ab"),
    )
    e2 = und.select(
        "group_id", F.col("u").alias("a"), F.col("v").alias("c"),
        F.col("t").alias("t_ac"),
    )
    e3 = und.select(
        "group_id", F.col("u").alias("b"), F.col("v").alias("c"),
        F.col("t").alias("t_bc"),
    )
    tri = (
        e1.join(e2, ["group_id", "a"])
        .where(F.col("b") < F.col("c"))
        .join(e3, ["group_id", "b", "c"])
    )
    # closing edge = lexicographic max of (t, lo, hi) across the three
    # candidate edges; struct comparison keeps the choice branch-free
    # and deterministic under timestamp ties
    closing = F.greatest(
        F.struct(F.col("t_ab").alias("t"), F.col("a").alias("lo"),
                 F.col("b").alias("hi")),
        F.struct(F.col("t_ac").alias("t"), F.col("a").alias("lo"),
                 F.col("c").alias("hi")),
        F.struct(F.col("t_bc").alias("t"), F.col("b").alias("lo"),
                 F.col("c").alias("hi")),
    )
    return tri.select(
        "group_id",
        "a",
        "b",
        "c",
        closing.getField("lo").alias("closed_u"),
        closing.getField("hi").alias("closed_v"),
        closing.getField("t").alias("closed_at"),
    )


def graph_shape_stats(triples: DataFrame) -> DataFrame:
    """Per-group directed-graph shape diagnostics, integer-exact — the
    one-row-per-group QA table a KG build publishes next to its counts
    (reference maintenance has no analogue; this is the operational
    telemetry a 10^12-doc run needs to spot extraction drift between
    builds):

      * n_nodes / n_arcs — distinct endpoints, distinct directed arcs.
      * n_mutual — arcs whose reverse also exists (u->v AND v->u);
        reciprocity = n_mutual / n_arcs, kept as the exact integer
        numerator (denominator is n_arcs) — a jump in reciprocity means
        symmetric-predicate extraction started double-emitting.
      * Degree-assortativity SIGNATURE: the six exact integer moment
        sums (n, sum_x, sum_y, sum_xy, sum_x2, sum_y2) over undirected
        edges' endpoint degrees (x = deg of the lexicographically lower
        endpoint, y = the higher) from which Pearson r is one float
        division away — the division happens in the dashboard, not the
        engine, so the table stays engine-exact and mergeable across
        partial builds (the sums are associative; a monoid, like the
        HLL registers in sketches.py).

    Plan: one distinct over skinny arcs, one self-join on the reversed
    key for mutuality, one degree agg + two joins for the moments —
    every shuffle on (group_id, name)-family keys; output rows = number
    of groups."""
    arcs = (
        triples.select(
            "group_id",
            F.col("subj").alias("src"),
            F.col("obj").alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    rev = arcs.select(
        "group_id", F.col("dst").alias("src"), F.col("src").alias("dst")
    )
    mutual = arcs.join(rev, ["group_id", "src", "dst"], "semi")
    base = arcs.groupBy("group_id").agg(
        F.count(F.lit(1)).alias("n_arcs")
    )
    mut = mutual.groupBy("group_id").agg(
        F.count(F.lit(1)).alias("n_mutual")
    )
    und = arcs.select(
        "group_id",
        F.least("src", "dst").alias("a"),
        F.greatest("src", "dst").alias("b"),
    ).distinct()
    deg = (
        und.select("group_id", F.col("a").alias("name"))
        .unionAll(und.select("group_id", F.col("b").alias("name")))
        .groupBy("group_id", "name")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    nn = deg.groupBy("group_id").agg(F.count(F.lit(1)).alias("n_nodes"))
    moments = (
        und.join(
            deg.select(
                "group_id", F.col("name").alias("a"), F.col("deg").alias("dx")
            ),
            ["group_id", "a"],
        )
        .join(
            deg.select(
                "group_id", F.col("name").alias("b"), F.col("deg").alias("dy")
            ),
            ["group_id", "b"],
        )
        .groupBy("group_id")
        .agg(
            F.count(F.lit(1)).alias("n_edges"),
            F.sum("dx").alias("sum_x"),
            F.sum("dy").alias("sum_y"),
            F.sum(F.expr("dx * dy")).alias("sum_xy"),
            F.sum(F.expr("dx * dx")).alias("sum_x2"),
            F.sum(F.expr("dy * dy")).alias("sum_y2"),
        )
    )
    out = (
        base.join(mut, "group_id", "left")
        .join(nn, "group_id")
        .join(moments, "group_id")
    )
    longs = [
        "n_nodes", "n_arcs", "n_mutual", "n_edges",
        "sum_x", "sum_y", "sum_xy", "sum_x2", "sum_y2",
    ]
    return out.select(
        "group_id",
        F.coalesce("n_mutual", F.lit(0)).alias("n_mutual"),
        *[F.col(c) for c in longs if c != "n_mutual"],
    ).select(
        "group_id", *[F.col(c).cast("long").alias(c) for c in longs]
    )


def neighbor_sample(
    triples: DataFrame,
    seed_mod: int = 5,
) -> DataFrame:
    """GraphSAGE-style bounded neighbor sampling (Hamilton et al. 2017)
    — the distributed GNN-minibatch export. Every ~1/seed_mod-th vertex
    (by hash, so the seed set is a reproducible sample, not a driver
    list) fans out two hops over the UNDIRECTED canonical graph with
    per-hop fanouts NS_FANOUT; the 'random' pick is a per-(seed, frontier,
    neighbor) md5 rank, so the sampled block is identical on every
    rerun, on every engine, at any parallelism — resumable minibatch
    generation at crawl scale.

    Scale: hop expansion is one co-partitioned join of the frontier
    onto the (group, src)-keyed neighbor index; the per-frontier-node
    top-k window is bounded by DEGREE of that node only (never a global
    sort), and output size is seeds * f1 * (1 + f2) by construction —
    the sampler, not the graph, bounds the work."""
    f1, f2 = NS_FANOUT
    und = (
        triples.select(
            "group_id", F.col("subj").alias("src"), F.col("obj").alias("dst")
        )
        .union(
            triples.select(
                "group_id", F.col("obj").alias("src"), F.col("subj").alias("dst")
            )
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    h = lambda e: f"cast(conv(substr(md5({e}), 1, 15), 16, 10) as bigint)"  # noqa: E731
    seeds = (
        und.select("group_id", F.col("src").alias("seed"))
        .distinct()
        .where(
            F.expr(h("concat('seed|', group_id, '|', seed)")) % seed_mod == 0
        )
    )
    w1 = Window.partitionBy("group_id", "seed").orderBy("r", "dst")
    hop1 = (
        seeds.join(und.withColumnRenamed("src", "seed"), ["group_id", "seed"])
        .withColumn(
            "r", F.expr(h("concat('h1|', group_id, '|', seed, '|', dst)"))
        )
        .withColumn("pos", F.row_number().over(w1))
        .where(F.col("pos") <= f1)
    )
    w2 = Window.partitionBy("group_id", "seed", "src").orderBy("r", "dst")
    hop2 = (
        hop1.select("group_id", "seed", F.col("dst").alias("src"))
        .join(und, ["group_id", "src"])
        .where(F.col("dst") != F.col("seed"))
        .withColumn(
            "r",
            F.expr(h("concat('h2|', group_id, '|', seed, '|', src, '|', dst)")),
        )
        .withColumn("pos", F.row_number().over(w2))
        .where(F.col("pos") <= f2)
    )
    cols = [
        "group_id",
        "seed",
        F.col("hop").cast("long").alias("hop"),
        "src",
        "dst",
        F.col("pos").cast("long").alias("pos"),
    ]
    return (
        hop1.select(
            "group_id", "seed", F.lit(1).alias("hop"),
            F.col("seed").alias("src"), "dst", "pos",
        ).select(*cols)
        .unionByName(
            hop2.select(
                "group_id", "seed", F.lit(2).alias("hop"), "src", "dst", "pos"
            ).select(*cols)
        )
    )


def katz_centrality(triples: DataFrame) -> DataFrame:
    """Katz centrality in exact integer arithmetic: the walk-counting
    entity-importance measure that, unlike PageRank, does not divide a
    node's influence by its out-degree — a prolific hub passes its full
    (attenuated) weight to every neighbor, which matches how coverage
    works in a web-crawl KG (a page mentioning 50 entities is evidence
    for all 50, not 1/50th each).

    Recurrence (KATZ_ITERS steps, per-step attenuation):
        x_0(v)   = R0_U
        x_k+1(v) = R0_U + sum_{u->v} (x_k(u) div KATZ_BETA_DEN)
    Dividing BEFORE the sum keeps every intermediate bounded by
    R0_U * (1 + indeg_max/KATZ_BETA_DEN)^k for fixed k (no factorial path
    blowup) and makes the integer recurrence identical in Spark `div`
    and DuckDB `//`.

    Scale notes: each iteration is one equi-join of the skinny rank
    table onto the committed edge list plus one partial-agg'd groupBy,
    both shuffling on (group_id, vertex) — same co-partitioned iteration
    discipline as pagerank() above; localCheckpoint truncates the
    per-iteration plan.
    """
    e = (
        triples.select(
            "group_id", F.col("subj").alias("src"), F.col("obj").alias("dst")
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    verts = (
        e.select("group_id", F.col("src").alias("name"))
        .unionByName(e.select("group_id", F.col("dst").alias("name")))
        .distinct()
    )
    x = verts.withColumn("x_u", F.lit(R0_U).cast("long"))
    for _ in range(KATZ_ITERS):
        contrib = (
            e.join(
                x.select("group_id", F.col("name").alias("src"), "x_u"),
                ["group_id", "src"],
            )
            .groupBy("group_id", F.col("dst").alias("name"))
            .agg(F.sum(F.expr(f"x_u div {KATZ_BETA_DEN}")).alias("s"))
        )
        x = (
            verts.join(contrib, ["group_id", "name"], "left")
            .select(
                "group_id",
                "name",
                (F.lit(R0_U) + F.coalesce("s", F.lit(0))).cast("long").alias("x_u"),
            )
            .localCheckpoint(eager=True)
        )
    indeg = e.groupBy("group_id", F.col("dst").alias("name")).agg(
        F.count(F.lit(1)).alias("indeg")
    )
    return (
        x.join(indeg, ["group_id", "name"], "left")
        .select(
            "group_id",
            "name",
            F.coalesce("indeg", F.lit(0)).cast("long").alias("in_deg"),
            F.col("x_u").cast("long").alias("katz_u"),
        )
    )


def wl_refine(triples: DataFrame, rounds: int = 2) -> DataFrame:
    """Weisfeiler-Lehman label refinement over the predicate-typed
    directed KG (Shervashidze et al., JMLR 2011; the node-feature
    backbone of WL graph kernels and the expressiveness ceiling of
    message-passing GNNs). Every node starts from a constant label, and
    each round rehashes (own label, sorted multiset of
    direction-tagged (predicate, neighbor label) tokens) — after r
    rounds two nodes share a label iff their r-hop typed neighborhood
    trees are isomorphic, giving structural-role classes (and, per
    group, a graph fingerprint histogram) with zero training.

    Engine-portable determinism: the multiset is a lexicographically
    sorted concat of md5-hex tokens — Spark array_sort/concat_ws and
    DuckDB string_agg(ORDER BY) produce the identical byte string, so
    the per-round md5 labels match bit-for-bit under the oracle gate.

    Scale notes: arcs are the distinct (src, pred, dst) list committed
    once; each round is one equi-join (arc x label, shuffling on the
    neighbor key) + one groupBy on the node key — the same skinny
    co-partitioned iteration family as pagerank/katz. The sorted-concat
    agg is bounded per node by its typed degree; hub rows ride the same
    AQE skew handling as every other groupBy in the engine.
    """
    arcs = (
        triples.select("group_id", "subj", "pred", "obj")
        .distinct()
        .localCheckpoint(eager=True)
    )
    adj = (
        arcs.select(
            "group_id",
            F.col("subj").alias("node"),
            F.concat(F.lit(">"), F.col("pred")).alias("rel"),
            F.col("obj").alias("nbr"),
        )
        .unionByName(
            arcs.select(
                "group_id",
                F.col("obj").alias("node"),
                F.concat(F.lit("<"), F.col("pred")).alias("rel"),
                F.col("subj").alias("nbr"),
            )
        )
    )
    verts = (
        adj.select("group_id", F.col("node").alias("name")).distinct()
    )
    labels = verts.withColumn("wl", F.md5(F.lit("wl0")))
    outs = []
    for r in range(1, rounds + 1):
        toks = (
            adj.join(
                labels.select(
                    "group_id", F.col("name").alias("nbr"), F.col("wl").alias("nwl")
                ),
                ["group_id", "nbr"],
            )
            .select(
                "group_id",
                F.col("node").alias("name"),
                F.concat("rel", F.lit(":"), "nwl").alias("tok"),
            )
            .groupBy("group_id", "name")
            .agg(
                F.concat_ws(",", F.array_sort(F.collect_list("tok"))).alias("nbrs")
            )
        )
        labels = (
            labels.join(toks, ["group_id", "name"], "left")
            .select(
                "group_id",
                "name",
                F.md5(
                    F.concat_ws("|", "wl", F.coalesce("nbrs", F.lit("")))
                ).alias("wl"),
            )
            .localCheckpoint(eager=True)
        )
        outs.append(labels.withColumnRenamed("wl", f"wl{r}"))
    out = outs[0]
    for nxt in outs[1:]:
        out = out.join(nxt, ["group_id", "name"])
    w = Window.partitionBy("group_id", f"wl{rounds}")
    return out.withColumn(
        "n_class", F.count(F.lit(1)).over(w).cast("long")
    )
