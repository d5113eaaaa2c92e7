"""Search-operator queries (SURVEY.md §2.9): BM25, RRF, MMR, cross-encoder
reranking, similarity, graph-distance and filtered search, BFS and
time-travel traversal, and the landmark centralities and label
propagation they build on."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from .. import corpus
from ..operators import search
from ..operators.docs import read_documents
from ..plans.pipeline import triples_view
from ..session import local_frame
from .kg import q_kg_triples
from .shared import (
    ORACLE_SCRATCH,
    _EDS_CTES,
    _LABELS_CTES,
    _TRIPLES_SELECT,
    _graph,
    _kg_sql,
    _oracle_sf_dir,
    bfs_origins,
    communities_ctes,
    keyed_edges,
    keyed_nodes,
)

# Fixed query workload over the documents table's vocabulary.
DOC_QUERIES = [
    "spark join order",
    "fast table scan",
    "hash agg window",
    "customer query batch",
    "slow row value data",
]

REF_TIME = "2024-01-02 00:00:00"
BFS_SEED_PREFIX = "A"


def q_search_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1-Q3 analogue: BM25 fulltext top-10 over documents.text for the
    fixed query workload."""
    qs = search.make_queries_df(spark, DOC_QUERIES)
    return search.bm25_topk(read_documents(spark, sf_dir), qs, "doc_id", "text", k=10)


def q_search_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval scorecard for the BM25 run against the conjunctive
    (all-terms-present) qrel: per query, relevant-set size, hits@5/10,
    and first relevant rank — the integer core of MRR/recall@k. The
    QA leg that catches a scoring regression the ranking oracle alone
    would show only as a diff."""
    docs = read_documents(spark, sf_dir)
    qs = search.make_queries_df(spark, DOC_QUERIES)
    run = search.bm25_topk(docs, qs, "doc_id", "text", k=10)
    return search.ir_eval(docs, qs, run, "doc_id")


def q_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11: RRF fusion of the BM25 ranking with a recency ranking
    (doc_id desc), top-10."""
    docs = read_documents(spark, sf_dir)
    qs = search.make_queries_df(spark, DOC_QUERIES)
    ft = search.bm25_topk(docs, qs, "doc_id", "text", k=20)
    # orderBy().limit() -> TakeOrderedAndProject (per-partition top-k +
    # driver merge), then rank only the 20 survivors via one bounded
    # collect_list — never a global single-partition window sort
    top20 = docs.select("doc_id").orderBy(F.desc("doc_id")).limit(20)
    recency = (
        top20.agg(F.expr("array_sort(collect_list(-doc_id))").alias("s"))
        .select(F.posexplode("s").alias("i", "nd"))
        .crossJoin(qs.select("query_id"))
        .select(
            "query_id",
            (F.col("i") + 1).cast("long").alias("rank"),
            (-F.col("nd")).alias("doc_id"),
        )
    )
    fused = search.rrf([ft.select("query_id", "rank", "doc_id"), recency], "doc_id")
    return fused.where(F.col("rank") <= 10).select(
        "query_id", "rank", "doc_id", "rrf_u"
    )


def q_kg_retrieve_episodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9/W1: last-3 episodes per group_id before the reference time,
    chronological."""
    t = _graph(spark, sf_dir)
    out = search.retrieve_episodes(t.episodes, REF_TIME, last_n=3)
    return out.select(
        "group_id", "uuid", "url",
        F.col("chunk_idx").cast("long").alias("chunk_idx"), "valid_at",
    )


def q_kg_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7/Q8: 2-hop BFS over the canonical entity graph from every node
    whose name starts with the seed prefix; returns minimal hop depth.
    Keys are (group_id|name) — names are canonical within a group."""
    t = _graph(spark, sf_dir)
    edges = keyed_edges(triples_view(t))
    origins = bfs_origins(t.nodes, BFS_SEED_PREFIX)
    out = search.bfs_nodes(edges, origins, max_depth=2)
    return out.select(
        "origin_uuid", F.col("uuid").alias("node_key"),
        F.col("depth").cast("long").alias("depth"),
    )


def q_kg_bfs_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7 proper: the DISTINCT canonical edges on any <=2-hop undirected
    path from the seed nodes (edge-returning BFS, search_utils.py:277-329)."""
    t = _graph(spark, sf_dir)
    edges = keyed_edges(triples_view(t), F.col("pred").alias("name"))
    origins = bfs_origins(t.nodes, BFS_SEED_PREFIX)
    out = search.bfs_edges(edges, origins, max_depth=2)
    return out.select(
        "origin_uuid",
        F.col("source_node_uuid").alias("src_key"),
        F.col("target_node_uuid").alias("dst_key"),
        F.col("name").alias("pred"),
    )


def _sql_kg_bfs_edges() -> str:
    seed = BFS_SEED_PREFIX
    return f"""
WITH {_kg_eds_sql().lstrip()},
epairs AS (
  SELECT DISTINCT group_id || '|' || subj AS src, group_id || '|' || obj AS dst, pred
  FROM eds
),
bidir AS (
  SELECT src, dst FROM epairs UNION SELECT dst, src FROM epairs
),
seeds AS (
  SELECT DISTINCT c.group_id || '|' || c.canon_name AS id
  FROM canon c WHERE c.canon_name LIKE '{seed}%'
),
d0 AS (SELECT id AS origin_uuid, id AS uuid FROM seeds),
d1 AS (
  SELECT d0.origin_uuid, b.dst AS uuid FROM d0 JOIN bidir b ON b.src = d0.uuid
),
reach AS (SELECT DISTINCT origin_uuid, uuid FROM (SELECT * FROM d0 UNION ALL SELECT * FROM d1)),
hit AS (
  SELECT r.origin_uuid, e.src, e.dst, e.pred
  FROM epairs e JOIN reach r ON r.uuid = e.src
  UNION
  SELECT r.origin_uuid, e.src, e.dst, e.pred
  FROM epairs e JOIN reach r ON r.uuid = e.dst
)
SELECT origin_uuid, src AS src_key, dst AS dst_key, pred FROM hit"""


DATE_LO = "2024-01-01 12:00:00"
DATE_HI = "2024-01-02 00:00:00"


def q_kg_edge_date_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2: OR-of-ANDs temporal predicate over canonical edges:
    (valid_at >= lo AND invalid_at IS NULL) OR (invalid_at <= hi)."""
    tv = q_kg_triples(spark, sf_dir)
    return search.edge_date_filter(
        tv,
        [
            [("valid_at", ">=", DATE_LO), ("invalid_at", "is_null", None)],
            [("invalid_at", "<=", DATE_HI)],
        ],
    )


# ---------------------------------------------------------------------------
# Oracles.
# ---------------------------------------------------------------------------


def _queries_values(queries: list[str] | None = None) -> str:
    qs = queries if queries is not None else DOC_QUERIES
    rows = ", ".join(f"({i}, '{q}')" for i, q in enumerate(qs))
    return f"(VALUES {rows}) AS qv(query_id, query)"


def bm25_ctes(source_sql: str, queries: list[str] | None = None) -> str:
    """BM25 scoring CTE chain over any (doc, text) source SELECT —
    mirrors operators/search.bm25_topk term-for-term (same k1/b/idf and
    the same per-term integer micro-unit floor before the order-
    independent integer sum)."""
    return f"""
d2 AS (
  SELECT doc, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
  FROM ({source_sql})
),
d3 AS (SELECT doc, len(toks) AS dl, toks FROM d2),
stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM d3),
tf AS (
  SELECT doc, dl, term, count(*) AS tf
  FROM (SELECT doc, dl, unnest(toks) AS term FROM d3)
  GROUP BY 1, 2, 3
),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
qs AS (SELECT query_id, query FROM {_queries_values(queries)}),
qterms AS (
  SELECT DISTINCT query_id,
         unnest(list_distinct(regexp_extract_all(lower(query), '[a-z0-9]+'))) AS term
  FROM qs
),
scored AS (
  SELECT q.query_id, t.doc,
         CAST(sum(CAST(floor(
           (ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
            * (t.tf * 2.2)
            / (t.tf + 1.2 * (1 - 0.75 + 0.75 * t.dl / s.avgdl))) * 1000000
         ) AS BIGINT)) AS BIGINT) AS score_u
  FROM tf t
  JOIN qterms q USING (term)
  JOIN dfreq d USING (term)
  CROSS JOIN stats s
  GROUP BY 1, 2
),
ranked AS (
  SELECT query_id, doc, score_u,
         row_number() OVER (PARTITION BY query_id ORDER BY score_u DESC, doc) AS rank
  FROM scored
)"""


_BM25_CTES = bm25_ctes("SELECT doc_id AS doc, text FROM documents")


def _sql_search_bm25() -> str:
    return f"""
WITH {_BM25_CTES.lstrip()}
SELECT query_id, CAST(rank AS BIGINT) AS rank, doc AS doc_id, score_u
FROM ranked WHERE rank <= 10"""


def _sql_search_eval() -> str:
    return f"""
WITH {_BM25_CTES.lstrip()},
nqt AS (SELECT query_id, count(*) AS n_terms FROM qterms GROUP BY 1),
qm AS (
  SELECT q.query_id, t.doc, count(*) AS n_match
  FROM (SELECT DISTINCT doc, term FROM tf) t
  JOIN qterms q USING (term)
  GROUP BY 1, 2
),
qrel AS (
  SELECT m.query_id, m.doc
  FROM qm m JOIN nqt n USING (query_id)
  WHERE m.n_match = n.n_terms
),
nrel AS (SELECT query_id, count(*) AS n_rel FROM qrel GROUP BY 1),
hits AS (
  SELECT r.query_id, r.rank
  FROM ranked r JOIN qrel USING (query_id, doc)
  WHERE r.rank <= 10
),
agg AS (
  SELECT query_id,
         sum(CASE WHEN rank <= 5 THEN 1 ELSE 0 END) AS hits_at_5,
         count(*) AS hits_at_10,
         min(rank) AS first_rel_rank
  FROM hits GROUP BY 1
)
SELECT q.query_id,
       CAST(coalesce(n.n_rel, 0) AS BIGINT) AS n_rel,
       CAST(coalesce(a.hits_at_5, 0) AS BIGINT) AS hits_at_5,
       CAST(coalesce(a.hits_at_10, 0) AS BIGINT) AS hits_at_10,
       CAST(coalesce(a.first_rel_rank, 0) AS BIGINT) AS first_rel_rank
FROM (SELECT DISTINCT query_id FROM qs) q
LEFT JOIN nrel n USING (query_id)
LEFT JOIN agg a USING (query_id)"""


def _sql_search_rrf() -> str:
    return f"""
WITH {_BM25_CTES.lstrip()},
ft AS (SELECT query_id, rank, doc AS doc_id FROM ranked WHERE rank <= 20),
rec AS (
  SELECT q.query_id, r.rank, r.doc_id
  FROM (
    SELECT doc_id, row_number() OVER (ORDER BY doc_id DESC) AS rank
    FROM documents
  ) r
  CROSS JOIN (SELECT DISTINCT query_id FROM qs) q
  WHERE r.rank <= 20
),
unioned AS (SELECT * FROM ft UNION ALL SELECT * FROM rec),
fused AS (
  -- 1/(k + rank - 1) with k=1 and 1-based rank = 1/rank (reference rrf
  -- scores 1/(i + rank_const) with 0-based i, search_utils.py:744-755)
  SELECT query_id, doc_id, CAST(sum(1000000 // rank) AS BIGINT) AS rrf_u
  FROM unioned GROUP BY 1, 2
),
franked AS (
  SELECT query_id, doc_id, rrf_u,
         row_number() OVER (PARTITION BY query_id ORDER BY rrf_u DESC, doc_id) AS rank
  FROM fused
)
SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id, rrf_u
FROM franked WHERE rank <= 10"""


def _sql_kg_retrieve_episodes() -> str:
    return (
        "WITH "
        + corpus.sql_pages_cte().lstrip()
        + f""",
chunks AS (
  SELECT url, group_id, warc_ts,
         unnest(string_split(clean_text, chr(10) || chr(10))) AS content,
         generate_subscripts(string_split(clean_text, chr(10) || chr(10)), 1) AS i
  FROM pages_g
),
eps AS (
  SELECT group_id, md5(url || '|' || (i - 1)) AS uuid, url,
         CAST(i - 1 AS BIGINT) AS chunk_idx, warc_ts AS valid_at
  FROM chunks WHERE length(content) > 0
),
lastn AS (
  SELECT *,
         row_number() OVER (PARTITION BY group_id ORDER BY valid_at DESC, uuid DESC) AS rn
  FROM eps WHERE valid_at <= TIMESTAMP '{REF_TIME}'
)
SELECT group_id, uuid, url, chunk_idx, valid_at FROM lastn WHERE rn <= 3"""
    )


def _kg_eds_sql() -> str:
    return (
        corpus.sql_pages_cte()
        + ","
        + corpus.sql_triples_cte()
        + ","
        + corpus.sql_mentions_cte()
        + ","
        + _EDS_CTES
    )


def _sql_kg_bfs() -> str:
    seed = BFS_SEED_PREFIX
    return f"""
WITH {_kg_eds_sql().lstrip()},
pairs AS (
  SELECT DISTINCT group_id || '|' || subj AS src, group_id || '|' || obj AS dst
  FROM eds
),
bidir AS (
  SELECT src, dst FROM pairs UNION SELECT dst, src FROM pairs
),
seeds AS (
  SELECT DISTINCT c.group_id || '|' || c.canon_name AS id
  FROM canon c WHERE c.canon_name LIKE '{seed}%'
),
d0 AS (SELECT id AS origin_uuid, id AS uuid, 0 AS depth FROM seeds),
d1 AS (
  SELECT d0.origin_uuid, b.dst AS uuid, 1 AS depth
  FROM d0 JOIN bidir b ON b.src = d0.uuid
),
d2 AS (
  SELECT d1.origin_uuid, b.dst AS uuid, 2 AS depth
  FROM d1 JOIN bidir b ON b.src = d1.uuid
),
allhops AS (
  SELECT * FROM d0 UNION ALL SELECT * FROM d1 UNION ALL SELECT * FROM d2
)
SELECT origin_uuid, uuid AS node_key, CAST(min(depth) AS BIGINT) AS depth
FROM allhops GROUP BY 1, 2"""


N_LANDMARKS, CLOSENESS_DEPTH = 8, 3


def q_kg_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Landmark-approximate closeness centrality over the canonical
    entity graph (operators/centrality.landmark_closeness): bounded BFS
    from the 8 smallest-md5 node keys, closeness = reached * 1e6 div
    sum(depth) — the linear-cost estimator for the all-pairs quantity
    no web-scale graph can afford exactly."""
    t = _graph(spark, sf_dir)
    from ..operators.centrality import landmark_closeness

    edges = keyed_edges(triples_view(t))
    nodes = keyed_nodes(t.nodes)
    return landmark_closeness(
        edges, nodes, n_landmarks=N_LANDMARKS, max_depth=CLOSENESS_DEPTH
    )


def _sql_kg_closeness() -> str:
    hops = []
    for d in range(1, CLOSENESS_DEPTH + 1):
        hops.append(f"""
d{d} AS (
  SELECT d{d - 1}.origin_uuid, b.dst AS uuid, {d} AS depth
  FROM d{d - 1} JOIN bidir b ON b.src = d{d - 1}.uuid
)""")
    union = " UNION ALL ".join(
        f"SELECT * FROM d{d}" for d in range(CLOSENESS_DEPTH + 1)
    )
    return f"""
WITH {_kg_eds_sql().lstrip()},
pairs AS (
  SELECT DISTINCT group_id || '|' || subj AS src, group_id || '|' || obj AS dst
  FROM eds
),
bidir AS (
  SELECT src, dst FROM pairs UNION SELECT dst, src FROM pairs
),
allnodes AS (
  SELECT DISTINCT c.group_id || '|' || c.canon_name AS id FROM canon c
),
lms AS (SELECT id FROM allnodes ORDER BY md5(id) LIMIT {N_LANDMARKS}),
d0 AS (SELECT id AS origin_uuid, id AS uuid, 0 AS depth FROM lms),
{",".join(h.strip() for h in hops)},
mind AS (
  SELECT origin_uuid, uuid, min(depth) AS depth
  FROM ({union}) GROUP BY 1, 2
)
SELECT uuid AS node_key, CAST(count(*) AS BIGINT) AS n_reached,
       CAST(sum(depth) AS BIGINT) AS sum_depth,
       CAST((count(*) * 1000000) // sum(depth) AS BIGINT) AS closeness_q,
       CAST(sum(1000000 // depth) AS BIGINT) AS harmonic_q
FROM mind WHERE depth > 0 GROUP BY 1"""


def q_kg_betweenness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Landmark-sampled Brandes betweenness over the canonical entity
    graph (operators/centrality.landmark_betweenness): shortest-path
    counts level-by-level from the 8 smallest-md5 landmarks, then
    integer-quantized dependency accumulation backward over the
    shortest-path DAG."""
    t = _graph(spark, sf_dir)
    from ..operators.centrality import landmark_betweenness

    edges = keyed_edges(triples_view(t))
    nodes = keyed_nodes(t.nodes)
    return landmark_betweenness(
        edges, nodes, n_landmarks=N_LANDMARKS, max_depth=CLOSENESS_DEPTH
    )


def _sql_kg_betweenness() -> str:
    depth = CLOSENESS_DEPTH
    parts = []
    for d in range(1, depth + 1):
        parts.append(f"""
sig{d} AS (
  SELECT l.origin_uuid, l.uuid, CAST(sum(p.sigma) AS BIGINT) AS sigma
  FROM (SELECT origin_uuid, uuid FROM mind WHERE depth = {d}) l
  JOIN bidir b ON b.dst = l.uuid
  JOIN sig{d - 1} p ON p.origin_uuid = l.origin_uuid AND p.uuid = b.src
  GROUP BY 1, 2
)""")
    for d in range(depth - 1, 0, -1):
        dw = (
            "0" if d == depth - 1
            else f"COALESCE(dn.delta, 0)"
        )
        dj = (
            "" if d == depth - 1
            else f"\n  LEFT JOIN del{d + 1} dn"
            " ON dn.origin_uuid = w.origin_uuid AND dn.uuid = w.uuid"
        )
        parts.append(f"""
del{d} AS (
  SELECT v.origin_uuid, v.uuid,
         CAST(sum((sv.sigma * (1000000 + {dw})) // sw.sigma) AS BIGINT) AS delta
  FROM (SELECT origin_uuid, uuid FROM mind WHERE depth = {d}) v
  JOIN bidir b ON b.src = v.uuid
  JOIN (SELECT origin_uuid, uuid FROM mind WHERE depth = {d + 1}) w
    ON w.origin_uuid = v.origin_uuid AND w.uuid = b.dst
  JOIN sig{d} sv ON sv.origin_uuid = v.origin_uuid AND sv.uuid = v.uuid
  JOIN sig{d + 1} sw ON sw.origin_uuid = w.origin_uuid AND sw.uuid = w.uuid{dj}
  GROUP BY 1, 2
)""")
    union = " UNION ALL ".join(
        f"SELECT * FROM del{d}" for d in range(1, depth)
    )
    hops = []
    for d in range(1, depth + 1):
        hops.append(f"""
d{d} AS (
  SELECT d{d - 1}.origin_uuid, b.dst AS uuid, {d} AS depth
  FROM d{d - 1} JOIN bidir b ON b.src = d{d - 1}.uuid
)""")
    hop_union = " UNION ALL ".join(
        f"SELECT * FROM d{d}" for d in range(depth + 1)
    )
    return f"""
WITH {_kg_eds_sql().lstrip()},
pairs AS (
  SELECT DISTINCT group_id || '|' || subj AS src, group_id || '|' || obj AS dst
  FROM eds
),
bidir AS (
  SELECT src, dst FROM pairs UNION SELECT dst, src FROM pairs
),
allnodes AS (
  SELECT DISTINCT c.group_id || '|' || c.canon_name AS id FROM canon c
),
lms AS (SELECT id FROM allnodes ORDER BY md5(id) LIMIT {N_LANDMARKS}),
d0 AS (SELECT id AS origin_uuid, id AS uuid, 0 AS depth FROM lms),
{",".join(h.strip() for h in hops)},
mind AS (
  SELECT origin_uuid, uuid, min(depth) AS depth
  FROM ({hop_union}) GROUP BY 1, 2
),
sig0 AS (SELECT origin_uuid, uuid, CAST(1 AS BIGINT) AS sigma FROM d0),
{",".join(p.strip() for p in parts)}
SELECT uuid AS node_key, CAST(count(*) AS BIGINT) AS n_origins,
       CAST(sum(delta) AS BIGINT) AS betweenness_q
FROM ({union}) GROUP BY 1"""


TYPE_PROP_ROUNDS = 3
_MASK_NIBBLES = ("0", "1", "2", "3", "4", "5")  # ~37.5% of nodes masked


def q_kg_type_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-supervised entity-type completion eval (operators/
    communities.propagate_labels): mask the type of a deterministic
    ~37.5% of canonical nodes (md5 first nibble), propagate types from
    the labeled rest over 3 clamped-seed rounds, report per-masked-node
    truth vs inference — the standard KG-completion mask-and-score
    shape, gated exactly."""
    t = _graph(spark, sf_dir)
    from ..operators.communities import propagate_labels

    edges = keyed_edges(triples_view(t))
    nodes = keyed_nodes(
        t.nodes, F.array_join(F.col("labels"), "/").alias("true_label")
    )
    masked = F.substring(F.md5("uuid"), 1, 1).isin(*_MASK_NIBBLES)
    seeds = nodes.select(
        "uuid",
        F.when(masked, F.lit(None)).otherwise(F.col("true_label")).alias("label"),
    )
    final = propagate_labels(edges, seeds, rounds=TYPE_PROP_ROUNDS)
    return (
        nodes.where(masked)
        .join(final, "uuid")
        .select(
            F.col("uuid").alias("node_key"),
            "true_label",
            F.col("label").alias("inferred_label"),
            F.when(F.col("label") == F.col("true_label"), 1)
            .otherwise(0)
            .cast("long")
            .alias("correct"),
        )
    )


def _sql_kg_type_propagation() -> str:
    nibbles = ", ".join(f"'{n}'" for n in _MASK_NIBBLES)
    parts = [f"""
{_LABELS_CTES.strip()},
nodes0 AS (
  SELECT group_id || '|' || name AS id, labels_str FROM nlab
),
pairs AS (
  SELECT DISTINCT group_id || '|' || subj AS src, group_id || '|' || obj AS dst
  FROM eds
),
bidir AS (
  SELECT src, dst FROM pairs UNION SELECT dst, src FROM pairs
),
lab0 AS (
  SELECT id, CASE WHEN substr(md5(id), 1, 1) IN ({nibbles})
                  THEN NULL ELSE labels_str END AS label
  FROM nodes0
)"""]
    for r in range(1, TYPE_PROP_ROUNDS + 1):
        parts.append(f"""
v{r} AS (
  SELECT b.dst AS id, l.label, count(*) AS c
  FROM bidir b JOIN lab{r - 1} l ON l.id = b.src
  WHERE l.label IS NOT NULL GROUP BY 1, 2
),
w{r} AS (
  SELECT id, label FROM (
    SELECT id, label,
           row_number() OVER (PARTITION BY id ORDER BY c DESC, label) AS rn
    FROM v{r}
  ) WHERE rn = 1
),
lab{r} AS (
  SELECT l.id, coalesce(l.label, w.label) AS label
  FROM lab{r - 1} l LEFT JOIN w{r} w ON w.id = l.id
)""")
    body = (
        ",".join(p.strip() for p in parts)
        + f"""
SELECT n.id AS node_key, n.labels_str AS true_label,
       l.label AS inferred_label,
       CAST(CASE WHEN l.label = n.labels_str THEN 1 ELSE 0 END AS BIGINT)
         AS correct
FROM nodes0 n JOIN lab{TYPE_PROP_ROUNDS} l ON l.id = n.id
WHERE substr(md5(n.id), 1, 1) IN ({nibbles})"""
    )
    return f"WITH {_kg_eds_sql().lstrip()},\n{body}"


SN_WINDOW, SN_MAX_LEV = 3, 2


def q_kg_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood ER blocking (operators/resolve.
    sorted_neighborhood_pairs) over the canonical node names: the
    merge/purge candidate generator complementary to the LSH path —
    emits residual same-sort-prefix near-name pairs (lev <= 2) that
    survived exact+LSH canonicalization, i.e. the review queue an ER
    pipeline hands to adjudication. Fixture: the canonical node names
    ∪ a deterministic truncated twin (final character dropped) of
    every name of length >= 10 — truncation/suffix noise is precisely
    the variant family sorted neighborhood catches and
    shingle-Jaccard LSH can miss; each twin sorts adjacent to its
    source and surfaces as a lev=1 pair."""
    t = _graph(spark, sf_dir)
    from ..operators.resolve import sorted_neighborhood_pairs

    base = t.nodes.select("group_id", "name")
    twins = base.where(F.length("name") >= 10).select(
        "group_id",
        F.expr("substr(name, 1, length(name) - 1)").alias("name"),
    )
    return sorted_neighborhood_pairs(
        base.unionByName(twins).distinct(),
        window=SN_WINDOW,
        max_lev=SN_MAX_LEV,
    )


def _sql_kg_sorted_neighborhood() -> str:
    norm = "regexp_replace(lower(name), '[^a-z0-9]', '', 'g')"
    return f"""
WITH {_kg_eds_sql().lstrip()},
base0 AS (SELECT DISTINCT group_id, canon_name AS name FROM canon),
nodes0 AS (
  SELECT group_id, name FROM base0
  UNION
  SELECT group_id, substr(name, 1, length(name) - 1) AS name
  FROM base0 WHERE length(name) >= 10
),
ranked AS (
  SELECT group_id, name, {norm} AS sort_key,
         row_number() OVER (PARTITION BY group_id
                            ORDER BY {norm}, name) AS rn
  FROM nodes0
),
cand AS (
  SELECT a.group_id, a.name AS name_a, b.name AS name_b,
         levenshtein(a.name, b.name) AS lev
  FROM ranked a
  JOIN ranked b ON b.group_id = a.group_id
              AND b.rn BETWEEN a.rn + 1 AND a.rn + {SN_WINDOW - 1}
)
SELECT group_id, name_a, name_b, CAST(lev AS BIGINT) AS lev
FROM cand WHERE lev <= {SN_MAX_LEV}"""


ASOF_TS = "2024-01-01 12:00:00"


def q_kg_asof_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bi-temporal point-in-time view: the canonical triples the graph
    held true at ASOF_TS (valid_at <= t, not yet invalidated at t)."""
    tv = q_kg_triples(spark, sf_dir)
    return search.asof_snapshot(tv, ASOF_TS)


def _sql_kg_asof_snapshot() -> str:
    body = f"""
, final AS ({_TRIPLES_SELECT})
SELECT * FROM final
WHERE valid_at <= TIMESTAMP '{ASOF_TS}'
  AND (invalid_at IS NULL OR invalid_at > TIMESTAMP '{ASOF_TS}')"""
    return _kg_sql(body, with_eds=True)


def q_kg_bfs_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-travel graph traversal: 2-hop BFS over ONLY the edges the
    graph held true at ASOF_TS (valid_at <= t, not yet invalidated) —
    the bi-temporal composition of `kg_asof_snapshot` and `kg_bfs`.
    This is the query a point-in-time audit runs ("what was reachable
    from X when the decision was made?"); contradiction-invalidated
    edges fall out of the frontier, so depths can differ from the
    present-time BFS. Same plan shape as kg_bfs: the validity filter is
    a partition-prunable predicate pushed onto the edge scan, then each
    hop is one co-partitioned join + min-agg."""
    t = _graph(spark, sf_dir)
    tv = q_kg_triples(spark, sf_dir)
    edges = keyed_edges(search.asof_snapshot(tv, ASOF_TS))
    origins = bfs_origins(t.nodes, BFS_SEED_PREFIX)
    out = search.bfs_nodes(edges, origins, max_depth=2)
    return out.select(
        "origin_uuid",
        F.col("uuid").alias("node_key"),
        F.col("depth").cast("long").alias("depth"),
    )


def _sql_kg_bfs_asof() -> str:
    seed = BFS_SEED_PREFIX
    body = f"""
, final AS ({_TRIPLES_SELECT}),
live AS (
  SELECT * FROM final
  WHERE valid_at <= TIMESTAMP '{ASOF_TS}'
    AND (invalid_at IS NULL OR invalid_at > TIMESTAMP '{ASOF_TS}')
),
pairs AS (
  SELECT DISTINCT group_id || '|' || subj AS src, group_id || '|' || obj AS dst
  FROM live
),
bidir AS (
  SELECT src, dst FROM pairs UNION SELECT dst, src FROM pairs
),
seeds AS (
  SELECT DISTINCT c.group_id || '|' || c.canon_name AS id
  FROM canon c WHERE c.canon_name LIKE '{seed}%'
),
d0 AS (SELECT id AS origin_uuid, id AS uuid, 0 AS depth FROM seeds),
d1 AS (
  SELECT d0.origin_uuid, b.dst AS uuid, 1 AS depth
  FROM d0 JOIN bidir b ON b.src = d0.uuid
),
d2 AS (
  SELECT d1.origin_uuid, b.dst AS uuid, 2 AS depth
  FROM d1 JOIN bidir b ON b.src = d1.uuid
),
allhops AS (
  SELECT * FROM d0 UNION ALL SELECT * FROM d1 UNION ALL SELECT * FROM d2
)
SELECT origin_uuid, uuid AS node_key, CAST(min(depth) AS BIGINT) AS depth
FROM allhops GROUP BY 1, 2"""
    return _kg_sql(body, with_eds=True)


def _sql_kg_edge_date_filter() -> str:
    body = f"""
, final AS ({_TRIPLES_SELECT})
SELECT * FROM final
WHERE (valid_at >= TIMESTAMP '{DATE_LO}' AND invalid_at IS NULL)
   OR (invalid_at <= TIMESTAMP '{DATE_HI}')"""
    return _kg_sql(body, with_eds=True)


EDGE_QUERIES = [
    "works at acme",
    "no longer works",
    "based in paris",
    "visited dublin",
]


def q_kg_edge_fulltext(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1 proper: BM25 fulltext over the canonical edges' fact text
    (search_utils.py:146-197), doc key = group|subj|pred|obj."""
    t = _graph(spark, sf_dir)
    corpus_df = triples_view(t).select(
        F.concat_ws("|", "group_id", "subj", "pred", "obj").alias("edge_key"),
        F.col("fact"),
    )
    qs = search.make_queries_df(spark, EDGE_QUERIES)
    return search.bm25_topk(corpus_df, qs, "edge_key", "fact", k=10)


def _sql_kg_edge_fulltext() -> str:
    src = (
        "SELECT group_id || '|' || subj || '|' || pred || '|' || obj AS doc,"
        " fact AS text FROM eds"
    )
    return f"""
WITH {_kg_eds_sql().lstrip()},
{bm25_ctes(src, EDGE_QUERIES).lstrip()}
SELECT query_id, CAST(rank AS BIGINT) AS rank, doc AS edge_key, score_u
FROM ranked WHERE rank <= 10"""


NAME_QUERIES = ["alice johnson", "acme corp", "helios energy", "paris"]


# Quantized-embedding similarity: the L2-normalized 1024-dim hashing
# embeddings are quantized to integer milli-units and written to a parquet
# view that BOTH engines read — the Spark query scores with an exact
# integer dot product (JVM zip_with/aggregate), the DuckDB oracle with
# list_inner_product over the same integers (values < 2^30, exact in
# double). Integer quantization is also the realistic 100-TB pattern
# (int8/int16-quantized ANN); min_score and ranking live in the exact
# integer domain so the gate is bit-stable.
SIM_MIN_SCORE_Q = 200_000  # 0.2 cosine at milli-quantization (1e3 * 1e3)
MMR_K = 5


def _quantize(vecs) -> list[list[int]]:
    import numpy as np

    return [[int(x) for x in np.floor(np.asarray(v, dtype=np.float64) * 1000)] for v in vecs]


def node_emb_paths(sf_dir: str) -> tuple[str, str]:
    import os

    tag = os.path.basename(sf_dir.rstrip("/"))
    return (
        f"{ORACLE_SCRATCH}/{tag}/node_embeddings.parquet",
        f"{ORACLE_SCRATCH}/{tag}/name_queries.parquet",
    )


def _write_node_embeddings(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Materialize quantized node-name embeddings + query vectors as the
    shared parquet inputs of the similarity/MMR queries and their oracles
    (the 'embeddings table' of the production design — at scale this is a
    persisted Iceberg table, not a per-query recompute)."""
    from ..functions.embed import embed_texts, with_embedding

    nodes_path, queries_path = node_emb_paths(sf_dir)
    t = _graph(spark, sf_dir)
    emb = with_embedding(
        t.nodes.select("uuid", "group_id", "name"), "name", "name_embedding"
    ).withColumn(
        "emb",
        F.expr("transform(name_embedding, x -> cast(floor(x * 1000) as bigint))"),
    ).select("uuid", "group_id", "name", "emb")
    emb.write.mode("overwrite").parquet(nodes_path)
    qv = _quantize(embed_texts(NAME_QUERIES))
    qdf = local_frame(
        spark,
        [(i, qv[i]) for i in range(len(NAME_QUERIES))],
        "query_id long, qvec array<bigint>",
    )
    qdf.coalesce(1).write.mode("overwrite").parquet(queries_path)
    return nodes_path, queries_path


_DOT = "aggregate(zip_with(emb, qvec, (x, y) -> x * y), 0L, (a, x) -> a + x)"


def _scored_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    nodes_path, queries_path = _write_node_embeddings(spark, sf_dir)
    emb = spark.read.parquet(nodes_path)
    qdf = spark.read.parquet(queries_path)
    return (
        emb.crossJoin(F.broadcast(qdf))
        .withColumn("score_q", F.expr(_DOT))
        .select("query_id", "uuid", "score_q")
    )


def q_kg_node_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5: similarity search over node name embeddings — exact integer
    dot product of the quantized shared embedding table, min-score
    filtered, top-5 per query (search_utils.py:384-444 semantics)."""
    scored = _scored_nodes(spark, sf_dir).where(
        F.col("score_q") >= SIM_MIN_SCORE_Q
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score_q"), F.asc("uuid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .select("query_id", F.col("rank").cast("long").alias("rank"), "uuid",
                F.col("score_q").cast("long").alias("score_q"))
    )


def q_kg_mmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12: MMR diversity rerank (lambda=0.5, search_utils.py:825-838) of
    the top-20 similarity candidates. With lambda=0.5 the argmax of
    lam*rel - (1-lam)*div equals the argmax of (rel - div), so selection
    runs entirely in the exact integer domain; ties break on uuid asc.
    The greedy loop is a grouped pandas pass per query over <=20
    candidates (the reference's own loop shape, F10)."""
    import numpy as np
    import pandas as pd

    scored = _scored_nodes(spark, sf_dir)
    w = Window.partitionBy("query_id").orderBy(F.desc("score_q"), F.asc("uuid"))
    top = scored.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= 20
    )
    nodes_path, _ = node_emb_paths(sf_dir)
    emb = scored.sparkSession.read.parquet(nodes_path).select("uuid", "emb")
    cands = top.join(emb, "uuid").select("query_id", "uuid", "score_q", "emb")

    def pick(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("uuid").reset_index(drop=True)
        vecs = np.stack(pdf["emb"].to_numpy()).astype(np.int64)
        rel = pdf["score_q"].to_numpy().astype(np.int64)
        chosen: list[int] = []
        rest = list(range(len(pdf)))
        while rest and len(chosen) < MMR_K:
            if chosen:
                div = (vecs[rest] @ vecs[chosen].T).max(axis=1)
            else:
                div = np.zeros(len(rest), dtype=np.int64)
            mmr2 = rel[rest] - div  # = 2 * (0.5*rel - 0.5*div), exact ints
            best = rest[int(np.argmax(mmr2))]  # first index = lowest uuid on ties
            chosen.append(best)
            rest.remove(best)
        out = pdf.iloc[chosen][["query_id", "uuid"]].copy()
        out["rank"] = np.arange(1, len(chosen) + 1, dtype=np.int64)
        return out

    return cands.groupBy("query_id").applyInPandas(
        pick, schema="query_id long, uuid string, rank long"
    )


def _sim_oracle_ctes(sf_dir: str) -> str:
    nodes_path, queries_path = node_emb_paths(sf_dir)
    return f"""
nemb AS (SELECT uuid, emb FROM read_parquet('{nodes_path}/*.parquet')),
qv AS (SELECT query_id, qvec FROM read_parquet('{queries_path}/*.parquet')),
scored AS (
  SELECT q.query_id, n.uuid,
         CAST(list_inner_product(n.emb, q.qvec) AS BIGINT) AS score_q
  FROM nemb n CROSS JOIN qv q
)"""


def _node_similarity_sql(sf_dir: str) -> str:
    return f"""
WITH {_sim_oracle_ctes(sf_dir).lstrip()},
ranked AS (
  SELECT query_id, uuid, score_q,
         row_number() OVER (PARTITION BY query_id ORDER BY score_q DESC, uuid) AS rank
  FROM scored WHERE score_q >= {SIM_MIN_SCORE_Q}
)
SELECT query_id, CAST(rank AS BIGINT) AS rank, uuid, score_q
FROM ranked WHERE rank <= 5"""


def _mmr_sql(sf_dir: str) -> str:
    """Greedy MMR unrolled to MMR_K selection steps: step i picks, per
    query, the remaining candidate maximizing rel - max(dot to chosen),
    ties by uuid asc — the exact integer recurrence of q_kg_mmr."""
    steps = []
    prev_chosen = "sel0"
    parts = ["sel0 AS (SELECT query_id, uuid, 0 AS rank FROM scored WHERE FALSE)"]
    for i in range(1, MMR_K + 1):
        parts.append(f"""
pick{i} AS (
  SELECT query_id, uuid, {i} AS rank FROM (
    SELECT t.query_id, t.uuid,
           row_number() OVER (PARTITION BY t.query_id
                              ORDER BY t.score_q - coalesce(d.div, 0) DESC, t.uuid) AS rn
    FROM top t
    LEFT JOIN (
      SELECT t2.query_id, t2.uuid,
             max(CAST(list_inner_product(t2.emb, ne.emb) AS BIGINT)) AS div
      FROM topemb t2
      JOIN {prev_chosen} s ON s.query_id = t2.query_id
      JOIN nemb ne ON ne.uuid = s.uuid
      GROUP BY 1, 2
    ) d ON d.query_id = t.query_id AND d.uuid = t.uuid
    WHERE t.uuid NOT IN (SELECT uuid FROM {prev_chosen} s2 WHERE s2.query_id = t.query_id)
  ) WHERE rn = 1
),
sel{i} AS (SELECT * FROM {prev_chosen} UNION ALL SELECT * FROM pick{i})""")
        prev_chosen = f"sel{i}"
        steps.append(f"SELECT query_id, uuid, CAST(rank AS BIGINT) AS rank FROM pick{i}")
    return f"""
WITH {_sim_oracle_ctes(sf_dir).lstrip()},
top AS MATERIALIZED (
  SELECT query_id, uuid, score_q FROM (
    SELECT query_id, uuid, score_q,
           row_number() OVER (PARTITION BY query_id ORDER BY score_q DESC, uuid) AS rank
    FROM scored
  ) WHERE rank <= 20
),
topemb AS MATERIALIZED (
  SELECT t.query_id, t.uuid, n.emb FROM top t JOIN nemb n ON n.uuid = t.uuid
),
{",".join(parts)}
{" UNION ALL ".join(steps)}"""


FILTER_QUERIES = ["alice johnson", "bob hartley", "paris"]


def q_kg_filtered_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 under the exact gate: label-filtered fulltext search — the
    SearchFilters(node_labels=...) path of GraphitiSpark.search (reference
    search_filters.py:41-47 node_labels threaded through
    search/search.py:68). The corpus is pruned to Person-labeled nodes
    BEFORE scoring, so the 'paris' query (a Place) returns nothing —
    the filter is observable in the row set, not just a smaller corpus."""
    t = _graph(spark, sf_dir)
    pn = search.node_label_filter(t.nodes, ["Person"])
    qs = search.make_queries_df(spark, FILTER_QUERIES)
    return search.bm25_topk(pn.select("uuid", "name"), qs, "uuid", "name", k=10)


def _sql_kg_filtered_search() -> str:
    body = (
        """
, labs AS (
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
nl AS (
  SELECT e.group_id, c.canon_name AS name,
         min(md5('node|' || e.group_id || '|' || e.name)) AS uuid,
         bool_or(coalesce(al.label, 'Entity') = 'Person') AS has_person
  FROM ents e
  JOIN canon c ON c.group_id = e.group_id AND c.base = e.base
  LEFT JOIN alias_label al ON al.group_id = e.group_id AND al.name = e.name
  GROUP BY 1, 2
),
pnodes AS (SELECT uuid, name FROM nl WHERE has_person),
"""
        + bm25_ctes("SELECT uuid AS doc, name AS text FROM pnodes", FILTER_QUERIES).lstrip()
        + """
SELECT query_id, CAST(rank AS BIGINT) AS rank, doc AS uuid, score_u
FROM ranked WHERE rank <= 10"""
    )
    return _kg_sql(body)


def q_search_cross_encoder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13/U5: deterministic cross-encoder rerank over documents — the
    idf-weighted distinct-term overlap with symmetric length
    normalization (operators/cross_encoder.py), reference surface
    cross_encoder/client.py:28-40."""
    from ..operators.cross_encoder import cross_encoder_rank

    qs = search.make_queries_df(spark, DOC_QUERIES)
    return cross_encoder_rank(read_documents(spark, sf_dir), qs, "doc_id", "text", k=10)


def _sql_search_cross_encoder() -> str:
    from ..operators.cross_encoder import sql_cross_encoder

    ctes = sql_cross_encoder(
        "SELECT doc_id AS doc, text FROM documents", _queries_values()
    )
    return f"""
WITH {ctes.lstrip()}
SELECT query_id, CAST(rank AS BIGINT) AS rank, doc AS doc_id, ce_score_u
FROM cranked WHERE rank <= 10"""


def _ce_training_sample(sf_dir: str) -> list[str]:
    """Deterministic bounded training sample for the learned cross-
    encoder: doc_id % 17 == 0, ordered, strided to <= SAMPLE_CAP passages. Read
    via DuckDB on BOTH the Spark-query and oracle sides so the sample —
    and therefore the trained integer weights — are byte-identical."""
    import duckdb

    from ..operators.ce_learned import sample_passages

    rows = duckdb.connect().execute(
        f"SELECT doc_id, text FROM '{sf_dir}/documents.parquet' "
        "WHERE doc_id % 17 = 0 ORDER BY doc_id"
    ).fetchall()
    return sample_passages([(int(d), t) for d, t in rows])


_CE_WEIGHTS_CACHE: dict[str, list[int]] = {}


def _ce_weights(sf_dir: str) -> list[int]:
    from ..operators.ce_learned import train_weights

    if sf_dir not in _CE_WEIGHTS_CACHE:
        _CE_WEIGHTS_CACHE[sf_dir] = train_weights(_ce_training_sample(sf_dir))
    return _CE_WEIGHTS_CACHE[sf_dir]


def q_search_ce_learned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13/U5 learned path (reference bge_reranker_client.py:24-44 scores
    with a trained reranker): integer averaged-perceptron weights trained
    at runtime on deterministic pseudo-relevance pairs from the corpus
    sample, then applied distributed (operators/ce_learned.py). The
    sanctioned idf-overlap stand-in remains the default Q13; this is the
    learned upgrade under the same exact gate."""
    from ..operators.ce_learned import learned_ce_rank

    qs = search.make_queries_df(spark, DOC_QUERIES)
    return learned_ce_rank(
        read_documents(spark, sf_dir), qs, "doc_id", "text",
        weights=_ce_weights(sf_dir), k=10,
    )


def _sql_search_ce_learned() -> str:
    from ..operators.ce_learned import sql_learned_ce

    ctes = sql_learned_ce(
        "SELECT doc_id AS doc, text FROM documents",
        _queries_values(),
        _ce_weights(_oracle_sf_dir()),
    )
    return f"""
WITH {ctes.lstrip()}
SELECT query_id, CAST(rank AS BIGINT) AS rank, doc AS doc_id, ce_score_u
FROM cranked WHERE rank <= 10"""


SIM_DUP_MIN_Q = 400_000  # 0.4 cosine at milli-quantization


def fact_emb_path(sf_dir: str) -> str:
    import os

    tag = os.path.basename(sf_dir.rstrip("/"))
    return f"{ORACLE_SCRATCH}/{tag}/fact_embeddings.parquet"


def q_kg_edge_dedup_similar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4/X8 similarity verify under the exact gate: candidate duplicate
    edge pairs between the SAME canonical node pair, scored by exact
    integer dot product of milli-quantized fact embeddings, each carrying
    the deterministic duplicate judgment (same ontology synonym class,
    not an opposite-polarity contradiction). Runs on the PRE-merge edge
    set (per raw predicate), i.e. the candidate surface the pipeline's
    materialize_edges collapses (reference search_utils.py:702-740 +
    edge_operations.py:151-192)."""
    from ..functions.embed import with_embedding
    from ..ontology import Ontology
    from ..operators.materialize import (
        edge_dup_candidates,
        materialize_edges,
        resolve_edge_pointers,
    )

    t = _graph(spark, sf_dir)
    pre = materialize_edges(
        resolve_edge_pointers(t.triples_raw, t.uuid_map),
        ontology=Ontology(synonyms={}),
    )
    embq = (
        with_embedding(pre.select("uuid", "fact"), "fact", "vec")
        .withColumn(
            "emb", F.expr("transform(vec, x -> cast(floor(x * 1000) as bigint))")
        )
        .select("uuid", "emb")
    )
    path = fact_emb_path(sf_dir)
    embq.write.mode("overwrite").parquet(path)
    embq = spark.read.parquet(path)
    return edge_dup_candidates(pre, embq, min_score_q=SIM_DUP_MIN_Q).select(
        "group_id", "uuid_a", "uuid_b", "pred_a", "pred_b", "score_q", "is_dup"
    )


def _sql_kg_edge_dedup_similar() -> str:
    path = fact_emb_path(_oracle_sf_dir())
    body = f"""
, raw AS (
  SELECT t.group_id, cs.canon_name AS subj, t.pred, co.canon_name AS obj,
         md5('edge|' || md5(t.url || '|' || t.para_idx) || '|' || t.sent_idx) AS raw_uuid
  FROM triples_g t
  JOIN canon cs ON cs.group_id = t.group_id AND cs.base = t.subj_base
  JOIN canon co ON co.group_id = t.group_id AND co.base = t.obj_base
),
eds_raw AS (
  SELECT group_id, subj, pred, obj, min(raw_uuid) AS uuid
  FROM raw GROUP BY 1, 2, 3, 4
),
femb AS (SELECT uuid, emb FROM read_parquet('{path}/*.parquet')),
e AS (
  SELECT r.group_id, r.subj, r.obj, r.uuid, r.pred, f.emb,
         CASE r.pred WHEN 'WORKS_AT' THEN 'WORKS_AT' WHEN 'EMPLOYED_AT' THEN 'WORKS_AT'
                     WHEN 'NO_LONGER_WORKS_AT' THEN 'WORKS_AT'
                     WHEN 'LIKES' THEN 'LIKES' WHEN 'DISLIKES' THEN 'LIKES' END AS contra_class,
         CASE r.pred WHEN 'NO_LONGER_WORKS_AT' THEN -1 WHEN 'DISLIKES' THEN -1 ELSE 1 END AS polarity,
         CASE r.pred WHEN 'EMPLOYED_AT' THEN 'WORKS_AT' ELSE r.pred END AS dclass
  FROM eds_raw r JOIN femb f ON f.uuid = r.uuid
)
SELECT a.group_id, a.uuid AS uuid_a, b.uuid AS uuid_b,
       a.pred AS pred_a, b.pred AS pred_b,
       CAST(list_inner_product(a.emb, b.emb) AS BIGINT) AS score_q,
       (a.dclass = b.dclass AND NOT (a.contra_class IS NOT NULL
          AND a.contra_class = b.contra_class AND a.polarity <> b.polarity)) AS is_dup
FROM e a
JOIN e b ON a.group_id = b.group_id AND a.subj = b.subj AND a.obj = b.obj
        AND a.uuid < b.uuid
WHERE CAST(list_inner_product(a.emb, b.emb) AS BIGINT) >= {SIM_DUP_MIN_Q}"""
    return _kg_sql(body)


CENTER_KEY = "src0|Alice Johnson"
UNREACHABLE = 2**31  # operators/search.py node_distance_rerank sentinel


def q_kg_node_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 under the exact gate: BM25 node results reranked by BFS
    distance to a center node (search_utils.py:758-795) — center-adjacent
    hits first, unreachable last. Keys are (group|canon_name), matching
    the BFS queries."""
    t = _graph(spark, sf_dir)
    edges = keyed_edges(triples_view(t))
    nodes = keyed_nodes(t.nodes, "name")
    qs = search.make_queries_df(spark, NAME_QUERIES)
    top = search.bm25_topk(nodes, qs, "uuid", "name", k=10).select(
        "query_id", "uuid"
    )
    ranked = search.node_distance_rerank(top, edges, CENTER_KEY)
    w = Window.partitionBy("query_id").orderBy("distance", "uuid")
    return ranked.withColumn("rank", F.row_number().over(w)).select(
        "query_id",
        F.col("rank").cast("long").alias("rank"),
        F.col("uuid").alias("node_key"),
        F.col("distance").cast("long").alias("distance"),
    )


def _sql_kg_node_distance() -> str:
    body = (
        f"""
, ncorp AS (SELECT DISTINCT group_id || '|' || canon_name AS doc,
                   canon_name AS text FROM canon),
"""
        + bm25_ctes("SELECT doc, text FROM ncorp", NAME_QUERIES).lstrip()
        + f""",
pairs AS (
  SELECT DISTINCT group_id || '|' || subj AS src, group_id || '|' || obj AS dst
  FROM eds
),
bidir AS (SELECT src, dst FROM pairs UNION SELECT dst, src FROM pairs),
h0 AS (SELECT '{CENTER_KEY}' AS uuid, 0 AS depth),
h1 AS (SELECT b.dst AS uuid, 1 AS depth FROM h0 JOIN bidir b ON b.src = h0.uuid),
h2 AS (SELECT b.dst AS uuid, 2 AS depth FROM h1 JOIN bidir b ON b.src = h1.uuid),
h3 AS (SELECT b.dst AS uuid, 3 AS depth FROM h2 JOIN bidir b ON b.src = h2.uuid),
dist AS (
  SELECT uuid, min(depth) AS distance
  FROM (SELECT * FROM h0 UNION ALL SELECT * FROM h1
        UNION ALL SELECT * FROM h2 UNION ALL SELECT * FROM h3)
  GROUP BY 1
)
SELECT query_id,
       CAST(row_number() OVER (PARTITION BY query_id
            ORDER BY coalesce(d.distance, {UNREACHABLE}), r.doc) AS BIGINT) AS rank,
       r.doc AS node_key,
       CAST(coalesce(d.distance, {UNREACHABLE}) AS BIGINT) AS distance
FROM ranked r LEFT JOIN dist d ON d.uuid = r.doc
WHERE r.rank <= 10"""
    )
    return _kg_sql(body, with_eds=True)


def q_kg_mentions_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10 under the exact gate: BM25 node results reranked by MENTIONS
    provenance count (search_utils.py:798-822 + A2), most-mentioned
    first."""
    t = _graph(spark, sf_dir)
    qs = search.make_queries_df(spark, NAME_QUERIES)
    top = search.bm25_topk(
        t.nodes.select("uuid", "name"), qs, "uuid", "name", k=10
    ).select("query_id", "uuid")
    ranked = search.episode_mentions_rerank(top, t.mention_edges)
    w = Window.partitionBy("query_id").orderBy(F.desc("n_mentions"), "uuid")
    return ranked.withColumn("rank", F.row_number().over(w)).select(
        "query_id",
        F.col("rank").cast("long").alias("rank"),
        "uuid",
        F.col("n_mentions").cast("long").alias("n_mentions"),
    )


def _sql_kg_mentions_rerank() -> str:
    body = (
        """
, canonu AS (
  SELECT e.group_id, c.canon_name AS name,
         min(md5('node|' || e.group_id || '|' || e.name)) AS uuid
  FROM ents e JOIN canon c ON c.group_id = e.group_id AND c.base = e.base
  GROUP BY 1, 2
),
"""
        + bm25_ctes("SELECT uuid AS doc, name AS text FROM canonu", NAME_QUERIES).lstrip()
        + """,
ment_counts AS (
  SELECT cu.uuid, count(DISTINCT m.url || '#' || m.para_idx) AS n_mentions
  FROM mentions_g m
  JOIN canon c ON c.group_id = m.group_id AND c.base = m.base
  JOIN canonu cu ON cu.group_id = m.group_id AND cu.name = c.canon_name
  GROUP BY 1
)
SELECT query_id,
       CAST(row_number() OVER (PARTITION BY query_id
            ORDER BY coalesce(mc.n_mentions, 0) DESC, r.doc) AS BIGINT) AS rank,
       r.doc AS uuid,
       CAST(coalesce(mc.n_mentions, 0) AS BIGINT) AS n_mentions
FROM ranked r LEFT JOIN ment_counts mc ON mc.uuid = r.doc
WHERE r.rank <= 10"""
    )
    return _kg_sql(body)


def comm_emb_paths(sf_dir: str) -> tuple[str, str]:
    import os

    tag = os.path.basename(sf_dir.rstrip("/"))
    return (
        f"{ORACLE_SCRATCH}/{tag}/community_embeddings.parquet",
        f"{ORACLE_SCRATCH}/{tag}/community_queries.parquet",
    )


def q_kg_community_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6 under the exact gate: cosine similarity over community-name
    embeddings (search_utils.py:549-579) — the quantized shared-parquet
    pattern of kg_node_similarity applied to the LPA community table."""
    from ..functions.embed import embed_texts, with_embedding
    from ..operators.communities import build_communities

    t = _graph(spark, sf_dir)
    comm, _ = build_communities(t.nodes, t.edges)
    cpath, qpath = comm_emb_paths(sf_dir)
    emb = (
        with_embedding(comm.select("uuid", "name"), "name", "name_embedding")
        .withColumn(
            "emb",
            F.expr("transform(name_embedding, x -> cast(floor(x * 1000) as bigint))"),
        )
        .select("uuid", "emb")
    )
    emb.write.mode("overwrite").parquet(cpath)
    emb = spark.read.parquet(cpath)
    qv = _quantize(embed_texts(COMM_QUERIES))
    qdf = local_frame(
        spark,
        [(i, qv[i]) for i in range(len(COMM_QUERIES))],
        "query_id long, qvec array<bigint>",
    )
    qdf.coalesce(1).write.mode("overwrite").parquet(qpath)
    qdf = spark.read.parquet(qpath)
    scored = (
        emb.crossJoin(F.broadcast(qdf))
        .withColumn("score_q", F.expr(_DOT))
        .where(F.col("score_q") >= SIM_MIN_SCORE_Q)
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score_q"), F.asc("uuid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .select("query_id", F.col("rank").cast("long").alias("rank"), "uuid",
                F.col("score_q").cast("long").alias("score_q"))
    )


def _sql_kg_community_similarity() -> str:
    cpath, qpath = comm_emb_paths(_oracle_sf_dir())
    body = (
        communities_ctes()
        + f""",
cemb AS (
  SELECT c.uuid, e.emb
  FROM comm c JOIN read_parquet('{cpath}/*.parquet') e ON e.uuid = c.uuid
),
cqv AS (SELECT query_id, qvec FROM read_parquet('{qpath}/*.parquet')),
cscored AS (
  SELECT q.query_id, n.uuid,
         CAST(list_inner_product(n.emb, q.qvec) AS BIGINT) AS score_q
  FROM cemb n CROSS JOIN cqv q
),
cranked AS (
  SELECT query_id, uuid, score_q,
         row_number() OVER (PARTITION BY query_id ORDER BY score_q DESC, uuid) AS rank
  FROM cscored WHERE score_q >= {SIM_MIN_SCORE_Q}
)
SELECT query_id, CAST(rank AS BIGINT) AS rank, uuid, score_q
FROM cranked WHERE rank <= 5"""
    )
    return _kg_sql(body, with_eds=True)


COMM_QUERIES = ["alice johnson community", "acme corp", "paris community of"]


def q_kg_community_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3: community fulltext search (search_utils.py:496-529) — BM25 over
    the LPA community names."""
    from ..operators.communities import build_communities

    t = _graph(spark, sf_dir)
    comm, _ = build_communities(t.nodes, t.edges)
    qs = search.make_queries_df(spark, COMM_QUERIES)
    return search.bm25_topk(comm.select("uuid", "name"), qs, "uuid", "name", k=5)


def _sql_kg_community_search() -> str:
    body = (
        communities_ctes()
        + ",\n"
        + bm25_ctes("SELECT uuid AS doc, name AS text FROM comm", COMM_QUERIES).lstrip()
        + """
SELECT query_id, CAST(rank AS BIGINT) AS rank, doc AS uuid, score_u
FROM ranked WHERE rank <= 5"""
    )
    return _kg_sql(body, with_eds=True)


def _sql_kg_node_similarity() -> str:
    return _node_similarity_sql(_oracle_sf_dir())


def _sql_kg_mmr() -> str:
    return _mmr_sql(_oracle_sf_dir())


# --- pseudo-relevance feedback (RM3-lite query expansion) ------------------

PRF_FB_K, PRF_N_EXP, PRF_K = 5, 3, 10


def q_search_prf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pseudo-relevance-feedback retrieval: BM25 top-5 feedback docs per
    query donate their 3 highest (feedback-tf x idf) non-query terms,
    and the expanded term set is rescored — the classic recall lever
    when query and document vocabulary diverge. Shares one persisted
    postings table across both passes."""
    qs = search.make_queries_df(spark, DOC_QUERIES)
    return search.bm25_prf_topk(
        read_documents(spark, sf_dir), qs, "doc_id", "text",
        fb_k=PRF_FB_K, n_exp=PRF_N_EXP, k=PRF_K,
    )


_BM25_SCORE_SQL = """
  SELECT q.query_id, t.doc,
         CAST(sum(CAST(floor(
           (ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
            * (t.tf * 2.2)
            / (t.tf + 1.2 * (1 - 0.75 + 0.75 * t.dl / s.avgdl))) * 1000000
         ) AS BIGINT)) AS BIGINT) AS score_u
  FROM tf t
  JOIN {qt} q USING (term)
  JOIN dfreq d USING (term)
  CROSS JOIN stats s
  GROUP BY 1, 2"""


def _sql_search_prf() -> str:
    return f"""
WITH {_BM25_CTES.lstrip()},
fb AS (SELECT query_id, doc FROM ranked WHERE rank <= {PRF_FB_K}),
expw AS (
  SELECT f.query_id, t.term, sum(t.tf) AS tsum,
         CAST(floor(ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5)) * 1000000)
              AS BIGINT) AS idf_u
  FROM tf t
  JOIN fb f ON f.doc = t.doc
  JOIN dfreq d USING (term)
  CROSS JOIN stats s
  GROUP BY 1, 2, d.df, s.n
),
expf AS (
  SELECT query_id, term FROM (
    SELECT e.query_id, e.term,
           row_number() OVER (PARTITION BY e.query_id
                              ORDER BY e.tsum * e.idf_u DESC, e.term) AS r
    FROM expw e
    WHERE NOT EXISTS (SELECT 1 FROM qterms q
                      WHERE q.query_id = e.query_id AND q.term = e.term)
  ) WHERE r <= {PRF_N_EXP}
),
q2 AS (
  SELECT query_id, term FROM qterms
  UNION
  SELECT query_id, term FROM expf
),
scored2 AS ({_BM25_SCORE_SQL.format(qt="q2")}
),
ranked2 AS (
  SELECT query_id, doc, score_u,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score_u DESC, doc) AS rank
  FROM scored2
)
SELECT query_id, CAST(rank AS BIGINT) AS rank, doc AS doc_id, score_u
FROM ranked2 WHERE rank <= {PRF_K}"""
