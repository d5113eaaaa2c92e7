"""Helpers shared by more than one query family: the memoized graph
build, the oracle CTE fragments over the generative corpus, the embedding
quantization expressions, the IVF / k-means SQL mirrors, the community
CTEs, the keyset-pagination cursor, the oracle scratch directory and the
(group_id|name)-keyed graph reads of the traversal queries."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .. import corpus
from ..plans.pipeline import GraphTables, build_graph

# The built graph, memoized per sf_dir: the driver runs queries one by one
# against the same SparkSession.

_GRAPH_CACHE: dict[str, GraphTables] = {}


def _graph(spark: SparkSession, sf_dir: str) -> GraphTables:
    if sf_dir not in _GRAPH_CACHE:
        _GRAPH_CACHE[sf_dir] = build_graph(spark, sf_dir)
    return _GRAPH_CACHE[sf_dir]


# Traversal queries key nodes by (group_id|name): canonical names are
# unique within a group, and the oracles build the same keys from SQL.

def keyed_edges(triples: DataFrame, *extra) -> DataFrame:
    """(source_node_uuid, target_node_uuid, *extra) edge list of a
    named-triples frame, endpoints keyed by (group_id|name)."""
    return triples.select(
        F.concat_ws("|", "group_id", "subj").alias("source_node_uuid"),
        F.concat_ws("|", "group_id", "obj").alias("target_node_uuid"),
        *extra,
    )


def keyed_nodes(nodes: DataFrame, *extra) -> DataFrame:
    """(uuid, *extra) node table keyed by (group_id|name)."""
    return nodes.select(F.concat_ws("|", "group_id", "name").alias("uuid"), *extra)


def bfs_origins(nodes: DataFrame, prefix: str) -> DataFrame:
    """(origin_uuid, uuid) BFS seeds: every node whose name starts with
    `prefix`, as its own origin."""
    return keyed_nodes(nodes.where(F.col("name").startswith(prefix))).select(
        F.col("uuid").alias("origin_uuid"), "uuid"
    )


IVF_CELLS, IVF_PROBE, IVF_ITERS, IVF_K = 8, 2, 2, 5
_QZ = "transform(embedding, x -> cast(floor(cast(x as double) * 1000) as bigint))"


def _duck_cos(a: str, b: str) -> str:
    emb_d = "list_transform({v}, x -> CAST(x AS DOUBLE))"
    ad, bd = emb_d.format(v=a), emb_d.format(v=b)
    return (
        f"(list_inner_product({ad}, {bd})"
        f" / (sqrt(list_inner_product({ad}, {ad}))"
        f" * sqrt(list_inner_product({bd}, {bd}))))"
    )


_DUCK_QZ = "list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))"


def _kmeans_sql_parts(n_cells: int, iters: int) -> tuple[list[str], str, str]:
    """SQL mirror of operators/ann.train_centroids + assign_cells over an
    in-scope CTE `cand(c_id, emb)`: min-n_cells-by-md5(c_id) seeds (the
    bounded deterministic sample — Spark side is a TakeOrderedAndProject,
    never a global sort), `iters` exact integer-sum Lloyd rounds, final
    assignment. Returns (cte_parts, last_assignment_cte,
    last_centroid_cte) — shared by the ann_ivf_topk and doc_embcos_dedup
    oracles."""
    parts = [f"""
cent0 AS (
  SELECT CAST(row_number() OVER (ORDER BY h) - 1 AS INT) AS cell_id,
         emb AS centroid
  FROM (SELECT md5(CAST(c_id AS VARCHAR)) AS h, emb FROM cand
        ORDER BY h LIMIT {n_cells})
)"""]
    for i in range(1, iters + 2):
        parts.append(f"""
asg{i} AS (
  SELECT c_id, emb, cell_id FROM (
    SELECT c.c_id, c.emb, ct.cell_id,
           row_number() OVER (PARTITION BY c.c_id
                              ORDER BY {_duck_cos("c.emb", "ct.centroid")} DESC, ct.cell_id) AS rn
    FROM cand c CROSS JOIN cent{i - 1} ct
  ) WHERE rn = 1
)""")
        if i <= iters:
            parts.append(f"""
cent{i} AS (
  SELECT cell_id, list(CAST(sv AS BIGINT) ORDER BY pos) AS centroid FROM (
    SELECT cell_id, pos, sum(v) AS sv
    FROM (SELECT cell_id, unnest(emb) AS v, generate_subscripts(emb, 1) AS pos
          FROM asg{i})
    GROUP BY 1, 2
  ) GROUP BY 1
)""")
    return parts, f"asg{iters + 1}", f"cent{iters}"


EMBCOS_MAX_CELL = 100_000  # per-cell population cap (quadratic guard)


def _cell_cap_cte(last_asg: str) -> str:
    """SQL mirror of operators/ann._cap_cells: cells above
    EMBCOS_MAX_CELL are excluded before the same-cell self-join."""
    return f"""
okcell AS (SELECT cell_id FROM {last_asg} GROUP BY 1
           HAVING count(*) <= {EMBCOS_MAX_CELL})"""


PAGE_CURSOR = "d0"
PAGE_LIMIT = 50


LPA_ORACLE_ROUNDS = 12


def communities_ctes() -> str:
    """CTE chain (append after the eds chain) ending in
    `comm(uuid, name, group_id, n_members)` — the unrolled-LPA community
    table shared by the kg_communities oracle and community search."""
    rounds = []
    for r in range(1, LPA_ORACLE_ROUNDS + 1):
        prev = f"l{r - 1}"
        rounds.append(f"""
c{r} AS (
  SELECT group_id, uuid, nbr_comm AS candidate FROM (
    SELECT p.group_id, p.uuid, l.community AS nbr_comm,
           row_number() OVER (PARTITION BY p.group_id, p.uuid
                              ORDER BY sum(p.edge_count) DESC, l.community DESC) AS rn
    FROM proj p JOIN {prev} l ON l.group_id = p.group_id AND l.uuid = p.nbr
    GROUP BY p.group_id, p.uuid, l.community
  ) WHERE rn = 1
),
l{r} AS MATERIALIZED (
  SELECT l.group_id, l.uuid,
         greatest(coalesce(c.candidate, -1), l.community) AS community
  FROM {prev} l LEFT JOIN c{r} c ON c.group_id = l.group_id AND c.uuid = l.uuid
)""")
    body = f"""
, canonu AS (
  SELECT e.group_id, c.canon_name,
         min(md5('node|' || e.group_id || '|' || e.name)) AS uuid
  FROM ents e JOIN canon c ON c.group_id = e.group_id AND c.base = e.base
  GROUP BY 1, 2
),
ce AS (
  SELECT DISTINCT e.group_id, su.uuid AS src, ou.uuid AS dst, e.pred
  FROM eds e
  JOIN canonu su ON su.group_id = e.group_id AND su.canon_name = e.subj
  JOIN canonu ou ON ou.group_id = e.group_id AND ou.canon_name = e.obj
),
proj AS MATERIALIZED (
  SELECT group_id, uuid, nbr, count(*) AS edge_count
  FROM (SELECT group_id, src AS uuid, dst AS nbr FROM ce
        UNION ALL SELECT group_id, dst, src FROM ce)
  WHERE uuid <> nbr GROUP BY 1, 2, 3
),
l0 AS MATERIALIZED (
  SELECT group_id, uuid,
         row_number() OVER (PARTITION BY group_id ORDER BY uuid) - 1 AS community
  FROM (SELECT DISTINCT group_id, uuid FROM canonu)
),{",".join(rounds)},
agg AS (
  SELECT l.group_id, l.community, min(l.uuid) AS anchor_uuid,
         min(n.canon_name) AS anchor_name, count(*) AS n_members
  FROM l{LPA_ORACLE_ROUNDS} l
  JOIN canonu n ON n.group_id = l.group_id AND n.uuid = l.uuid
  GROUP BY 1, 2
),
comm AS (
  SELECT md5('community|' || group_id || '|' || anchor_uuid) AS uuid,
         anchor_name || ' community of ' || n_members AS name,
         group_id, n_members
  FROM agg
)"""
    return body


# ---------------------------------------------------------------------------
# DuckDB oracle SQL.
# ---------------------------------------------------------------------------

# Canonicalization oracle: the engine clusters alias display forms via
# exact-norm blocking + MinHash-LSH + connected components; the oracle
# knows the clusters GENERATIVELY (every display form carries its base
# key in mentions_g), so the gate checks that fuzzy resolution recovers
# exactly the generative truth — typos ("Alice Johnsonn"), honorifics and
# corporate suffixes all collapse onto the base entity.
_CANON_CTES = """
ents AS (
  SELECT DISTINCT group_id, name, base FROM mentions_g
),
canon AS MATERIALIZED (
  SELECT group_id, base,
         substr(min(lpad(CAST(length(name) AS VARCHAR), 4, '0') || name), 5) AS canon_name
  FROM ents GROUP BY 1, 2
)"""

_EDS_CTES = (
    _CANON_CTES
    + """,
raw AS (
  SELECT t.group_id, cs.canon_name AS subj, t.pred, co.canon_name AS obj, t.fact,
         t.valid_at,
         md5(t.url || '|' || t.para_idx) AS episode_uuid,
         md5('edge|' || md5(t.url || '|' || t.para_idx) || '|' || t.sent_idx) AS raw_uuid
  FROM triples_g t
  JOIN canon cs ON cs.group_id = t.group_id AND cs.base = t.subj_base
  JOIN canon co ON co.group_id = t.group_id AND co.base = t.obj_base
),
eds AS MATERIALIZED (
  -- dedup key = (pair, synonym class of pred): paraphrase predicates
  -- (EMPLOYED_AT ~ WORKS_AT) collapse onto one edge; the earliest
  -- observation (valid_at || raw_uuid order) donates predicate AND fact,
  -- mirroring operators/materialize.py materialize_edges (J4/X8)
  SELECT group_id, subj,
         arg_min(pred, strftime(valid_at, '%Y-%m-%d %H:%M:%S.%f') || raw_uuid) AS pred,
         obj,
         min(raw_uuid) AS uuid,
         arg_min(fact, strftime(valid_at, '%Y-%m-%d %H:%M:%S.%f') || raw_uuid) AS fact,
         min(valid_at) AS valid_at,
         count(DISTINCT episode_uuid) AS n_episodes
  FROM raw
  GROUP BY group_id, subj,
           (CASE pred WHEN 'EMPLOYED_AT' THEN 'WORKS_AT' ELSE pred END), obj
),
classed AS (
  SELECT *,
    CASE pred WHEN 'WORKS_AT' THEN 'WORKS_AT' WHEN 'EMPLOYED_AT' THEN 'WORKS_AT'
              WHEN 'NO_LONGER_WORKS_AT' THEN 'WORKS_AT'
              WHEN 'LIKES' THEN 'LIKES' WHEN 'DISLIKES' THEN 'LIKES' END AS contra_class,
    CASE pred WHEN 'NO_LONGER_WORKS_AT' THEN -1 WHEN 'DISLIKES' THEN -1 ELSE 1 END AS polarity
  FROM eds
),
inv AS (
  SELECT a.group_id, a.subj, a.pred, a.obj, min(b.valid_at) AS contra_valid_at
  FROM classed a
  JOIN classed b ON a.group_id = b.group_id AND a.subj = b.subj AND a.obj = b.obj
   AND a.contra_class IS NOT NULL AND b.contra_class = a.contra_class
   AND b.polarity <> a.polarity AND b.valid_at > a.valid_at
  GROUP BY 1, 2, 3, 4
)"""
)


def _kg_sql(body: str, with_eds: bool = False) -> str:
    ctes = (
        corpus.sql_pages_cte()
        + ","
        + corpus.sql_triples_cte()
        + ","
        + corpus.sql_mentions_cte()
    )
    ctes += "," + (_EDS_CTES if with_eds else _CANON_CTES)
    return "WITH " + ctes.lstrip() + "\n" + body


_TRIPLES_SELECT = """
SELECT e.group_id, e.subj, e.pred, e.obj, e.fact, e.valid_at,
       i.contra_valid_at AS invalid_at, e.n_episodes
FROM eds e
LEFT JOIN inv i ON i.group_id = e.group_id AND i.subj = e.subj
               AND i.pred = e.pred AND i.obj = e.obj"""


# label CTEs shared by the kg_nodes / kg_node_summaries oracles: per-display
# role vote from triples_g, aggregated over the alias cluster
_LABELS_CTES = """
labs AS (
  SELECT group_id, subj AS name,
         CASE WHEN pred = 'BASED_IN' THEN 'Organization' ELSE 'Person' END AS label
  FROM triples_g
  UNION ALL
  SELECT group_id, obj,
         CASE WHEN pred IN ('WORKS_AT','EMPLOYED_AT','NO_LONGER_WORKS_AT','LEADS') THEN 'Organization'
              WHEN pred IN ('LIKES','DISLIKES','ADMIRES') THEN 'Person' ELSE 'Place' END
  FROM triples_g
),
alias_label AS (SELECT group_id, name, min(label) AS label FROM labs GROUP BY 1, 2),
nlab AS (
  SELECT e.group_id, c.canon_name AS name,
         string_agg(DISTINCT coalesce(al.label, 'Entity'), '/' ORDER BY coalesce(al.label, 'Entity')) AS labels_str
  FROM ents e
  JOIN canon c ON c.group_id = e.group_id AND c.base = e.base
  LEFT JOIN alias_label al ON al.group_id = e.group_id AND al.name = e.name
  GROUP BY 1, 2
)"""


# feature tables a Spark query writes for its oracle to read
ORACLE_SCRATCH = "/dev/shm/graphiti_spark_oracle"


# The similarity/MMR oracles read the shared quantized-embedding parquet
# written by their Spark twins; the driver's gate runs at sf0.01 (its
# DuckDB views are registered for that scale), overridable for local runs.
def _oracle_sf_dir() -> str:
    import os

    return os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")
