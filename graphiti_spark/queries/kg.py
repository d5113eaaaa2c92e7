"""Construction-table queries: the canonical triples and their tables
(episodes, nodes, mentions, summaries), maintenance (episode removal,
triplet insertion, integrity and ontology audits), snapshots, lineage,
entity-resolution audits, keyset pages, exports and cross-source fusion."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .. import corpus
from ..operators import docs as docs_mod
from ..operators.extract import norm_sql
from ..operators.materialize import JOB_TS
from ..plans.pipeline import kg_triples, named_triples, triples_view
from ..session import local_frame
from .shared import (
    LPA_ORACLE_ROUNDS,
    PAGE_CURSOR,
    PAGE_LIMIT,
    _EDS_CTES,
    _LABELS_CTES,
    _TRIPLES_SELECT,
    _graph,
    _kg_sql,
    communities_ctes,
)


def q_kg_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship deliverable: deduplicated canonical (subj, pred, obj)
    triples with bi-temporal validity."""
    t = _graph(spark, sf_dir)
    return kg_triples(t.edges, t.nodes)


def q_kg_contradictions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Invalidated edges only — the temporal-invalidation contract
    (X10-X12; reference tests test_edge_operations.py:95-237)."""
    return (
        q_kg_triples(spark, sf_dir)
        .where(F.col("invalid_at").isNotNull())
        .withColumn("expired_at", F.lit(JOB_TS))
    )


def q_kg_triple_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KG-embedding training export (TransE/DistMult-style): every
    canonical (subj, pred, obj) positive plus ONE deterministic
    tail-corrupted negative — obj replaced by the group's node at index
    md5(subj|pred|obj) % n_nodes (skipping a collision with the true
    tail by +1 mod n). Negative sampling is THE data product KG-embedding
    trainers consume; determinism (hash-indexed, not random) is what
    puts it under the exact-match oracle gate. Plan: nodes rank once per
    group (partitioned window over the entity table), edges join the
    rank table on (group_id, idx) — one co-partitioned join, both sides
    keyed by group, no broadcast assumptions at entity scale."""
    t = _graph(spark, sf_dir)
    tri = triples_view(t).select("group_id", "subj", "pred", "obj")
    from pyspark.sql import Window

    w = Window.partitionBy("group_id").orderBy("name")
    nodes = (
        t.nodes.select("group_id", "name").distinct()
        .withColumn("idx", F.row_number().over(w) - 1)
    )
    counts = nodes.groupBy("group_id").agg(F.count(F.lit(1)).alias("n_nodes"))
    key = F.expr(
        "cast(conv(substr(md5(subj || '|' || pred || '|' || obj), 1, 15), 16, 10)"
        " as bigint)"
    )
    edges = tri.join(counts, "group_id").withColumn(
        "idx", (key % F.col("n_nodes")).cast("int")
    )
    neg = (
        edges.join(nodes, ["group_id", "idx"])
        .withColumn(
            "neg_obj",
            F.col("name"),
        )
    )
    # collision with the true tail -> deterministic +1 mod n re-pick
    coll = (
        neg.where(F.col("neg_obj") == F.col("obj"))
        .select(
            "group_id", "subj", "pred", "obj",
            ((F.col("idx") + 1) % F.col("n_nodes")).cast("int").alias("idx"),
        )
        .join(nodes, ["group_id", "idx"])
        .withColumn("neg_obj", F.col("name"))
    )
    keep = ["group_id", "subj", "pred", "obj", "neg_obj"]
    fixed = (
        neg.where(F.col("neg_obj") != F.col("obj"))
        .select(*keep)
        .unionByName(coll.select(*keep))
    )
    pos = tri.select(
        "group_id", "subj", "pred", "obj", F.lit("pos").alias("label")
    )
    negs = fixed.select(
        "group_id", "subj", "pred",
        F.col("neg_obj").alias("obj"), F.lit("neg").alias("label"),
    )
    return pos.unionByName(negs)


def _sql_kg_triple_negatives() -> str:
    body = """
, final AS (SELECT DISTINCT e.group_id, e.subj, e.pred, e.obj FROM eds e),
names AS (
  SELECT group_id, name,
         row_number() OVER (PARTITION BY group_id ORDER BY name) - 1 AS idx
  FROM (SELECT DISTINCT group_id, canon_name AS name FROM canon)
),
cnt AS (SELECT group_id, count(*) AS n_nodes FROM names GROUP BY 1),
keyed AS (
  SELECT f.*, c.n_nodes,
         CAST(('0x' || substr(md5(f.subj || '|' || f.pred || '|' || f.obj), 1, 15))::UBIGINT
              % c.n_nodes AS INT) AS idx
  FROM final f JOIN cnt c USING (group_id)
),
pick AS (
  SELECT k.group_id, k.subj, k.pred, k.obj,
         CASE WHEN n1.name = k.obj THEN n2.name ELSE n1.name END AS neg_obj
  FROM keyed k
  JOIN names n1 ON n1.group_id = k.group_id AND n1.idx = k.idx
  JOIN names n2 ON n2.group_id = k.group_id
              AND n2.idx = (k.idx + 1) % k.n_nodes
)
SELECT group_id, subj, pred, obj, 'pos' AS label FROM final
UNION ALL
SELECT group_id, subj, pred, neg_obj AS obj, 'neg' AS label FROM pick"""
    return _kg_sql(body, with_eds=True)


def q_kg_episodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clean+chunk stage output (S12): one row per episode chunk."""
    t = _graph(spark, sf_dir)
    return t.episodes.select(
        "uuid",
        "url",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        "group_id",
        F.length("content").cast("long").alias("n_chars"),
        "valid_at",
    )


def q_kg_episode_facts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """episodes.entity_edges materialized (reference nodes.py:137-140;
    set by graphiti.py:467 after edge resolution): per episode, the
    sorted list of resolved fact-edge uuids whose provenance includes
    it, inverted from the edges' episodes arrays (one explode + one
    partial-agg'd groupBy on the skinny uuid projection). Fact-free
    episodes keep an empty list — the left join is part of the
    contract."""
    t = _graph(spark, sf_dir)
    return t.episode_facts.select(
        "uuid",
        "url",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.size("entity_edges").cast("long").alias("n_facts"),
        F.array_join("entity_edges", ",").alias("fact_uuids"),
    )


def q_kg_incremental_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """graphiti's add_episode loop at batch scale (plans/incremental.py):
    bootstrap the graph on the even-doc_id half of the corpus, then merge
    the odd half as a second batch — delta entity resolution by component
    contraction (CC runs on O(batch) contracted supernodes) and
    touched-pair-only edge recompaction (untouched edges pass through
    byte-identical). The oracle is kg_triples' one-shot batch SQL:
    incremental == batch is the contract, hash-exact."""
    from ..plans import incremental
    from ..sources.pages import build_pages

    pages = build_pages(spark, sf_dir)
    st = incremental.initial_state(pages.where(F.col("doc_id") % 2 == 0))
    st = incremental.merge_batch(st, pages.where(F.col("doc_id") % 2 == 1))
    return incremental.incremental_triples(st)


_LINEAGE_ROOTS: dict[str, str] = {}


def q_kg_lineage_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-rule resumability surface made oracle-checkable: run the
    partition-range checkpointed extraction (plans/lineage.py — the
    batch redesign of the reference's per-call LLM response cache,
    graphiti_core/llm_client/client.py:85-95) over 8 doc_id ranges into
    a scratch dir, then return the committed per-range lineage rows
    (range_id, row_count, content checksum). The oracle recomputes both
    numbers per range from the generative SQL — raw triples plus
    per-episode deduped mention spans for docs with doc_id % 8 = k — so
    a hash-exact match proves the checkpoint/resume path emits exactly
    the rows the one-shot batch plan does, range by range, with an
    order-independent checksum any ANSI engine can audit."""
    import tempfile

    from ..plans import lineage

    if sf_dir not in _LINEAGE_ROOTS:
        root = tempfile.mkdtemp(prefix="kg_lineage_")
        lineage.run_partitioned(spark, sf_dir, root, n_ranges=8)
        _LINEAGE_ROOTS[sf_dir] = root
    m = spark.read.parquet(f"{_LINEAGE_ROOTS[sf_dir]}/metrics")
    return m.select(
        F.col("range_id").cast("long").alias("range_id"),
        "stage",
        F.col("row_count").cast("long").alias("row_count"),
        F.col("checksum").cast("long").alias("checksum"),
    )


def q_kg_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical entity nodes after resolution (X5/X7 + A8)."""
    t = _graph(spark, sf_dir)
    return t.nodes.select(
        "group_id",
        "name",
        F.array_join(F.col("labels"), "/").alias("labels_str"),
        F.col("n_aliases").cast("long").alias("n_aliases"),
    )


def q_kg_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MENTIONS provenance rollup (X14 + A2): episode-mention count per
    canonical entity."""
    t = _graph(spark, sf_dir)
    counts = t.mention_edges.groupBy("entity_uuid").agg(
        F.count(F.lit(1)).alias("n_mentions")
    )
    names = t.nodes.select(F.col("uuid").alias("entity_uuid"), "group_id", "name")
    return counts.join(names, "entity_uuid").select(
        "group_id", "name", F.col("n_mentions").cast("long").alias("n_mentions")
    )


def q_kg_node_summaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-derived node summaries (X15): identity sentence + the
    node's K earliest facts, the deterministic analogue of the
    reference's <=500-word LLM summary (prompts/summarize_nodes.py:48-125,
    node_operations.py:357-376). Built once at materialization time
    (operators/summaries.py); this query just reads the column."""
    t = _graph(spark, sf_dir)
    return t.nodes.select("group_id", "name", "summary")


def q_kg_episode_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nodes_and_edges_by_episode (Q16/S8 provenance expansion,
    reference graphiti.py:789-812) as a set query: for every episode in a
    deterministic selection (uuid md5 starting 'a'), the number of
    mentioned canonical entities and of fact edges carrying the episode
    in their provenance array. Mention leg is a key join on the skinny
    mention table; edge leg explodes the provenance array — both
    partial-agg before the join back."""
    t = _graph(spark, sf_dir)
    eps = t.episodes.where(F.col("uuid").startswith("a")).select(
        F.col("uuid").alias("episode_uuid")
    )
    nn = (
        t.mention_edges.join(eps, "episode_uuid")
        .groupBy("episode_uuid")
        .agg(F.count_distinct("entity_uuid").alias("n_nodes"))
    )
    ee = (
        t.edges.select(F.explode("episodes").alias("episode_uuid"), "uuid")
        .join(eps, "episode_uuid")
        .groupBy("episode_uuid")
        .agg(F.count_distinct("uuid").alias("n_edges"))
    )
    return (
        eps.join(nn, "episode_uuid", "left")
        .join(ee, "episode_uuid", "left")
        .select(
            "episode_uuid",
            F.coalesce("n_nodes", F.lit(0)).cast("long").alias("n_nodes"),
            F.coalesce("n_edges", F.lit(0)).cast("long").alias("n_edges"),
        )
    )


def q_kg_remove_episode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Provenance-aware episode removal (S11, graphiti.py:758-787): drop a
    deterministic ~25% of episodes (uuid md5 starting 0-3), then emit the
    surviving canonical edges with their remaining provenance counts.
    Functional over the cached graph (operators/maintenance.py) — the
    memoized tables are not mutated."""
    from ..operators.maintenance import remove_episodes_tables

    t = _graph(spark, sf_dir)
    removed = t.episodes.where(
        F.substring("uuid", 1, 1).isin("0", "1", "2", "3")
    ).select("uuid")
    _eps, edges2, _men, _nodes = remove_episodes_tables(
        t.episodes, t.edges, t.mention_edges, t.nodes, removed
    )
    return named_triples(edges2, t.nodes).select(
        "group_id",
        "subj",
        "pred",
        "obj",
        F.size("episodes").cast("long").alias("n_episodes_left"),
    )


# add_triplet fixture (X18): two duplicate inserts (provenance merge), one
# contradiction pair (invalidation re-run), one endpoint ("Dublin") that
# resolves against the existing graph when present at the given sf
_ADD_TRIPLETS = [
    ("src0", "Test Alpha Labs", "BASED_IN", "Dublin",
     "Test Alpha Labs is based in Dublin.", "2024-03-01 00:00:00", "ep-t1"),
    ("src0", "Test Alpha Labs", "BASED_IN", "Dublin",
     "Test Alpha Labs is based in Dublin.", "2024-03-01 00:00:00", "ep-t2"),
    ("src0", "Test Person", "WORKS_AT", "Test Alpha Labs",
     "Test Person works at Test Alpha Labs.", "2024-01-15 00:00:00", "ep-t3"),
    ("src0", "Test Person", "NO_LONGER_WORKS_AT", "Test Alpha Labs",
     "Test Person left Test Alpha Labs.", "2024-07-01 00:00:00", "ep-t4"),
]


def q_kg_add_triplet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """add_triplet (X18, reference graphiti.py:723-756): insert literal
    triplets through the full path — endpoint resolution against the
    canonical graph by normalized name, deterministic new-node minting,
    (pair, pred) edge merge with provenance union, and a fresh
    contradiction-invalidation pass — then emit the edges of the inserted
    subjects. Functional: the memoized graph is not mutated."""
    from ..operators.triplet import add_triplets

    t = _graph(spark, sf_dir)
    trip = local_frame(
        spark,
        _ADD_TRIPLETS,
        "group_id string, subj_name string, pred string, obj_name string, "
        "fact string, valid_at string, episode_uuid string",
    ).withColumn("valid_at", F.to_timestamp("valid_at"))
    nodes2, edges2 = add_triplets(t.nodes, t.edges, trip, t.ontology)
    return kg_triples(edges2, nodes2).where(
        (F.col("group_id") == "src0")
        & F.col("subj").isin("Test Alpha Labs", "Test Person")
    )


def q_kg_entity_timeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-entity time-ordered fact history (subject+object legs,
    deterministic seq) — the entity biography view."""
    from ..operators.search import entity_timeline

    return entity_timeline(q_kg_triples(spark, sf_dir))


def q_kg_nodes_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7: keyset-paginated partition scan — nodes of two group_ids with a
    uuid-descending cursor and LIMIT (nodes.py:214-252 pagination shape:
    `WHERE uuid < $cursor ORDER BY uuid DESC LIMIT n`)."""
    t = _graph(spark, sf_dir)
    return (
        t.nodes.where(F.col("group_id").isin("src0", "src1"))
        .where(F.col("uuid") < PAGE_CURSOR)
        .orderBy(F.desc("uuid"))
        .limit(PAGE_LIMIT)
        .select("group_id", "uuid", "name")
    )


def q_kg_edges_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 for fact edges (edges.py:295-339): the same keyset pagination
    shape as q_kg_nodes_page over the canonical edge table — uuid-
    descending cursor + LIMIT, a single TakeOrderedAndProject."""
    t = _graph(spark, sf_dir)
    return (
        t.edges.where(F.col("group_id").isin("src0", "src1"))
        .where(F.col("uuid") < PAGE_CURSOR)
        .orderBy(F.desc("uuid"))
        .limit(PAGE_LIMIT)
        .select("group_id", "uuid", F.col("name").alias("pred"))
    )


def _sql_kg_edges_page() -> str:
    body = f"""
SELECT group_id, uuid, pred FROM eds
WHERE group_id IN ('src0', 'src1') AND uuid < '{PAGE_CURSOR}'
ORDER BY uuid DESC LIMIT {PAGE_LIMIT}"""
    return _kg_sql(body, with_eds=True)


def q_kg_episodes_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 for episodes (nodes.py:214-252): keyset pagination over the
    episode table."""
    t = _graph(spark, sf_dir)
    return (
        t.episodes.where(F.col("group_id").isin("src0", "src1"))
        .where(F.col("uuid") < PAGE_CURSOR)
        .orderBy(F.desc("uuid"))
        .limit(PAGE_LIMIT)
        .select("group_id", "uuid", "url",
                F.col("chunk_idx").cast("long").alias("chunk_idx"))
    )


def _sql_kg_episodes_page() -> str:
    ctes = corpus.sql_pages_cte()
    return (
        "WITH "
        + ctes.lstrip()
        + f""",
chunks AS (
  SELECT url, group_id, warc_ts,
         unnest(string_split(clean_text, chr(10) || chr(10))) AS content,
         generate_subscripts(string_split(clean_text, chr(10) || chr(10)), 1) AS i
  FROM pages_g
),
eps AS (
  SELECT md5(url || '|' || (i - 1)) AS uuid, url, CAST(i - 1 AS BIGINT) AS chunk_idx,
         group_id
  FROM chunks WHERE length(content) > 0
)
SELECT group_id, uuid, url, chunk_idx FROM eps
WHERE group_id IN ('src0', 'src1') AND uuid < '{PAGE_CURSOR}'
ORDER BY uuid DESC LIMIT {PAGE_LIMIT}"""
    )


def q_kg_mentions_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 for MENTIONS episodic edges (edges.py:141-178): keyset
    pagination over the mention-edge table — with nodes/edges/episodes/
    communities this completes cursor paging across all stored models."""
    t = _graph(spark, sf_dir)
    return (
        t.mention_edges.where(F.col("group_id").isin("src0", "src1"))
        .where(F.col("uuid") < PAGE_CURSOR)
        .orderBy(F.desc("uuid"))
        .limit(PAGE_LIMIT)
        .select("group_id", "uuid", "episode_uuid", "entity_uuid")
    )


def _sql_kg_mentions_page() -> str:
    # mention edge uuid = md5('mention|' episode_uuid '|' entity_uuid),
    # episode uuid = md5(url '|' para_idx), entity uuid = min md5 over the
    # canonical alias group (operators/materialize.py build_mention_edges)
    body = f"""
, canonu AS (
  SELECT e.group_id, c.canon_name AS name,
         min(md5('node|' || e.group_id || '|' || e.name)) AS uuid
  FROM ents e JOIN canon c ON c.group_id = e.group_id AND c.base = e.base
  GROUP BY 1, 2
),
ment_edges AS (
  SELECT DISTINCT m.group_id,
         md5(m.url || '|' || m.para_idx) AS episode_uuid,
         cu.uuid AS entity_uuid
  FROM mentions_g m
  JOIN canon c ON c.group_id = m.group_id AND c.base = m.base
  JOIN canonu cu ON cu.group_id = m.group_id AND cu.name = c.canon_name
)
SELECT group_id,
       md5('mention|' || episode_uuid || '|' || entity_uuid) AS uuid,
       episode_uuid, entity_uuid
FROM ment_edges
WHERE group_id IN ('src0', 'src1')
  AND md5('mention|' || episode_uuid || '|' || entity_uuid) < '{PAGE_CURSOR}'
ORDER BY uuid DESC LIMIT {PAGE_LIMIT}"""
    return _kg_sql(body)


def q_kg_alias_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5/X7 under the oracle gate: the fuzzy-resolution outcome itself —
    every canonical entity with its resolved alias surface forms (typos
    via MinHash-LSH + Jaccard + connected components; honorifics and
    corporate suffixes via exact-norm blocking). The oracle knows the
    alias clusters generatively, so this row set IS the resolution truth."""
    t = _graph(spark, sf_dir)
    canon_names = t.nodes.select(
        F.col("uuid").alias("canon_uuid"), F.col("name").alias("name")
    )
    return (
        t.uuid_map.groupBy("group_id", "canon_uuid")
        .agg(
            F.array_join(F.array_sort(F.collect_set("name")), ",").alias("aliases"),
            F.countDistinct("name").cast("long").alias("n_aliases"),
        )
        .join(canon_names, "canon_uuid")
        .where(F.col("n_aliases") > 1)
        .select("group_id", "name", "n_aliases", "aliases")
    )


def _sql_kg_alias_resolution() -> str:
    body = """
SELECT e.group_id, c.canon_name AS name,
       count(DISTINCT e.name) AS n_aliases,
       string_agg(DISTINCT e.name, ',' ORDER BY e.name) AS aliases
FROM ents e
JOIN canon c ON c.group_id = e.group_id AND c.base = e.base
GROUP BY 1, 2
HAVING count(DISTINCT e.name) > 1"""
    return _kg_sql(body)


def q_kg_node_attributes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2/F14: derived typed attributes per canonical node (lead_since /
    last_visited / hq), rendered as a sorted k=v list for the exact-match
    gate."""
    t = _graph(spark, sf_dir)
    return (
        t.nodes.where(F.size(F.map_keys("attributes")) > 0)
        .select(
            "group_id",
            "name",
            F.expr(
                "array_join(array_sort(transform(map_entries(attributes),"
                " e -> e.key || '=' || e.value)), ';')"
            ).alias("attrs"),
        )
    )


def _sql_kg_node_attributes() -> str:
    body = """
, kv AS (
  SELECT group_id, subj AS name, 'lead_since' AS k,
         CAST(min(year(valid_at)) AS VARCHAR) AS v
  FROM eds WHERE pred = 'LEADS' GROUP BY 1, 2
  UNION ALL
  SELECT group_id, subj, 'last_visited', max(strftime(valid_at, '%Y-%m-%d'))
  FROM eds WHERE pred = 'VISITED' GROUP BY 1, 2
  UNION ALL
  SELECT group_id, subj, 'hq', min(obj)
  FROM eds WHERE pred = 'BASED_IN' GROUP BY 1, 2
)
SELECT group_id, name, string_agg(k || '=' || v, ';' ORDER BY k) AS attrs
FROM kv GROUP BY 1, 2"""
    return _kg_sql(body, with_eds=True)


SNAP_PCT = 80  # old snapshot = first 80% of the crawl (warc_ts order)


def q_kg_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph diff between two crawl snapshots: the full corpus vs
    yesterday's crawl = the first SNAP_PCT% of pages in crawl order
    (warc_ts is monotone in doc_id). Emits added / removed /
    invalidated / provenance deltas per edge key — the time cut makes
    every branch real: late pages add facts (added), contradict old
    ones (invalidated: the old snapshot's fact was still valid), extend
    provenance across the cut (provenance), and can shift the
    alias-canonicalization pick so the old canonical key disappears
    (removed). In production both snapshots are committed Iceberg
    tables; here the old side rebuilds from the filtered page set (same
    code path)."""
    from ..operators.maintenance import snapshot_diff
    from ..plans.pipeline import build_graph
    from ..sources.pages import build_pages

    new = q_kg_triples(spark, sf_dir)
    pages = build_pages(spark, sf_dir)
    cutoff = pages.agg(
        F.expr(f"max(doc_id) * {SNAP_PCT} div 100").alias("c")
    )
    pages_old = pages.join(F.broadcast(cutoff)).where(
        F.col("doc_id") <= F.col("c")
    ).drop("c")
    t_old = build_graph(spark, sf_dir, pages=pages_old)
    old = triples_view(t_old).select(
        "group_id",
        "subj",
        "pred",
        "obj",
        "invalid_at",
        F.size("episodes").cast("long").alias("n_episodes"),
    )
    return snapshot_diff(new, old)


def q_kg_functional_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-build consistency sweep: subjects with 2+ concurrently-valid
    objects under ontology-declared single-valued predicates."""
    from ..operators.maintenance import functional_violations
    from ..ontology import DEFAULT

    return functional_violations(
        q_kg_triples(spark, sf_dir), DEFAULT.functional
    )


def q_kg_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit, exercised for real: the node table is
    deterministically corrupted (uuids starting 0/1/2 dropped, ~3/16 of
    nodes) before auditing, so the dangling-reference counters fire on
    every foreign key except the untouched episode refs."""
    from ..operators.maintenance import integrity_audit

    t = _graph(spark, sf_dir)
    corrupted = t.nodes.where(
        ~F.substring("uuid", 1, 1).isin("0", "1", "2")
    )
    return integrity_audit(
        corrupted, t.edges, t.mention_edges, t.episodes
    )


def q_kg_fact_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal ops dashboard: per (group, day), facts becoming valid and
    facts invalidated — the churn signal a production KG monitors for
    extraction regressions and contradiction storms. Two skinny aggs +
    one full-outer join on (group, day)."""
    tv = q_kg_triples(spark, sf_dir)
    new = tv.groupBy(
        "group_id", F.date_format("valid_at", "yyyy-MM-dd").alias("day")
    ).agg(F.count(F.lit(1)).alias("n_new"))
    inv = (
        tv.where(F.col("invalid_at").isNotNull())
        .groupBy("group_id", F.date_format("invalid_at", "yyyy-MM-dd").alias("day"))
        .agg(F.count(F.lit(1)).alias("n_invalidated"))
    )
    return new.join(inv, ["group_id", "day"], "full").select(
        "group_id",
        "day",
        F.coalesce("n_new", F.lit(0)).cast("long").alias("n_new"),
        F.coalesce("n_invalidated", F.lit(0)).cast("long").alias("n_invalidated"),
    )


def q_kg_fact_confidence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Knowledge-fusion support stats per canonical edge (the
    believability inputs of Dong et al.'s knowledge fusion: how many
    independent observations, episodes, source pages, and how wide a
    time spread back this fact): n_obs raw observations, n_episodes
    distinct episodes, n_urls distinct source pages, span_days between
    first and last observation. Same dedup key and donor rule as
    materialize_edges, so rows are 1:1 with kg_triples edges. One
    groupBy on the class-aggregated key after a skinny episode-url
    join — no new shuffle shape beyond the build itself."""
    from ..ontology import DEFAULT
    from ..operators.materialize import resolve_edge_pointers

    t = _graph(spark, sf_dir)
    raw = resolve_edge_pointers(t.triples_raw, t.uuid_map)
    raw = raw.join(
        t.episodes.select(F.col("uuid").alias("episode_uuid"), "url"),
        "episode_uuid",
    )
    raw = raw.withColumn(
        "raw_uuid",
        F.md5(F.concat_ws("|", F.lit("edge"), "episode_uuid", "sent_idx")),
    ).withColumn(
        "_vkey",
        F.concat(
            F.coalesce(
                F.date_format("valid_at", "yyyy-MM-dd HH:mm:ss.SSSSSS"),
                F.lit("9999"),
            ),
            F.col("raw_uuid"),
        ),
    )
    keyed = raw.groupBy(
        "group_id",
        "source_node_uuid",
        "target_node_uuid",
        F.expr(DEFAULT.synonym_class_sql("pred")).alias("_class"),
    ).agg(
        F.min_by("pred", F.col("_vkey")).alias("pred"),
        F.count(F.lit(1)).alias("n_obs"),
        F.countDistinct("episode_uuid").alias("n_episodes"),
        F.countDistinct("url").alias("n_urls"),
        F.datediff(
            F.max("valid_at").cast("date"), F.min("valid_at").cast("date")
        ).alias("span_days"),
    )
    n = t.nodes.select(F.col("uuid").alias("nu"), F.col("name").alias("nn"))
    return (
        keyed.join(
            n.withColumnRenamed("nu", "source_node_uuid")
            .withColumnRenamed("nn", "subj"),
            "source_node_uuid",
        )
        .join(
            n.withColumnRenamed("nu", "target_node_uuid")
            .withColumnRenamed("nn", "obj"),
            "target_node_uuid",
        )
        .select(
            "group_id", "subj", "pred", "obj",
            F.col("n_obs").cast("long").alias("n_obs"),
            F.col("n_episodes").cast("long").alias("n_episodes"),
            F.col("n_urls").cast("long").alias("n_urls"),
            F.col("span_days").cast("long").alias("span_days"),
        )
    )


def _sql_kg_fact_confidence() -> str:
    body = """
, rawx AS (
  SELECT t.group_id, cs.canon_name AS subj, t.pred, co.canon_name AS obj,
         t.valid_at, t.url,
         md5(t.url || '|' || t.para_idx) AS episode_uuid,
         md5('edge|' || md5(t.url || '|' || t.para_idx) || '|' || t.sent_idx)
           AS raw_uuid
  FROM triples_g t
  JOIN canon cs ON cs.group_id = t.group_id AND cs.base = t.subj_base
  JOIN canon co ON co.group_id = t.group_id AND co.base = t.obj_base
)
SELECT group_id, subj,
       arg_min(pred, strftime(valid_at, '%Y-%m-%d %H:%M:%S.%f') || raw_uuid)
         AS pred,
       obj,
       count(*) AS n_obs,
       count(DISTINCT episode_uuid) AS n_episodes,
       count(DISTINCT url) AS n_urls,
       CAST(date_diff('day', min(valid_at)::DATE, max(valid_at)::DATE)
            AS BIGINT) AS span_days
FROM rawx
GROUP BY group_id, subj,
         (CASE pred WHEN 'EMPLOYED_AT' THEN 'WORKS_AT' ELSE pred END), obj"""
    return _kg_sql(body)


def q_kg_er_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution quality audit: pairwise precision/recall/F1 of
    the engine's alias clustering (uuid_map) against the GENERATIVE
    mention truth (corpus.golden_mentions — the same pure function the
    parity tests pin against the DuckDB corpus CTEs). The standard ER
    evaluation (pairwise P/R over same-cluster name pairs, Menestrina
    et al. 2010), integer-exact in micro-units.

    The DuckDB oracle derives BOTH sides from the generative truth, so
    the gate asserts perfect resolution (P = R = F1 = 1e6, fp = fn = 0
    per group): any engine drift — a missed typo alias, an over-merge —
    fails the hash compare loudly rather than shifting a float.

    Scale: truth extraction is Arrow-batched mapInPandas over the
    skinny (doc_id, source) projection (eval-side only, never the build
    hot path); pair enumeration self-joins within (group, cluster) —
    bounded by cluster size, the same shape as the dedup verifies; the
    metric rollup is one hash agg per group."""
    from ..corpus import golden_mentions

    t = _graph(spark, sf_dir)

    def _truth(batches):
        for pdf in batches:
            g = golden_mentions(pdf)
            yield g[["group_id", "name", "base"]]

    truth = (
        docs_mod.read_documents(spark, sf_dir)
        .select("doc_id", "source")
        .mapInPandas(_truth, "group_id string, name string, base string")
        .distinct()
    )

    from ..operators.resolve import er_pair_metrics

    engine = t.uuid_map.select(
        "group_id", "name", F.col("canon_uuid").alias("cluster")
    ).distinct()
    return er_pair_metrics(truth, engine)


def q_kg_blocking_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-stage quality audit (the stage BEFORE clustering, which
    kg_er_metrics evaluates): per group, the candidate pairs the exact
    norm-block star + MinHash-LSH banding actually generate, scored
    against the generative alias-pair truth — pairs completeness
    (blocking recall) and reduction ratio (1 - candidates/all-pairs),
    the two standard blocking metrics (Christen 2012). Integer-exact
    micro-units; the oracle reproduces the ENTIRE banding pipeline
    (shingles, md5 Carter-Wegman minhash family, 16x4 band keys, bucket
    cap, exact-Jaccard verify) in SQL, so the gate pins the blocking
    output itself, not just downstream cluster equality."""
    from ..corpus import golden_mentions
    from ..operators.resolve import match_edges_exact, match_edges_lsh

    t = _graph(spark, sf_dir)
    ents = t.uuid_map.select("group_id", "name", "norm_name", "uuid").distinct()
    cand_uuid = (
        match_edges_exact(ents).union(match_edges_lsh(ents)).distinct()
    )
    nm = ents.select("uuid", "group_id", "name")
    cand = (
        cand_uuid.join(
            nm.withColumnRenamed("uuid", "src").withColumnRenamed("name", "name_a"),
            "src",
        )
        .join(
            nm.select(
                F.col("uuid").alias("dst"), F.col("name").alias("name_b")
            ),
            "dst",
        )
        .select(
            "group_id",
            F.least("name_a", "name_b").alias("na"),
            F.greatest("name_a", "name_b").alias("nb"),
        )
        .distinct()
    )

    def _truth(batches):
        for pdf in batches:
            g = golden_mentions(pdf)
            yield g[["group_id", "name", "base"]].drop_duplicates()

    tm = (
        docs_mod.read_documents(spark, sf_dir)
        .select("doc_id", "source")
        .mapInPandas(_truth, "group_id string, name string, base string")
        .distinct()
    )
    truth = (
        tm.alias("a")
        .join(
            tm.alias("b"),
            (F.col("a.group_id") == F.col("b.group_id"))
            & (F.col("a.base") == F.col("b.base"))
            & (F.col("a.name") < F.col("b.name")),
        )
        .select(
            F.col("a.group_id").alias("group_id"),
            F.col("a.name").alias("na"),
            F.col("b.name").alias("nb"),
        )
        .distinct()
    )

    n_ents = ents.groupBy("group_id").agg(F.count(F.lit(1)).alias("n_ents"))
    n_cand = cand.groupBy("group_id").agg(F.count(F.lit(1)).alias("n_cand"))
    n_true = truth.groupBy("group_id").agg(F.count(F.lit(1)).alias("n_true"))
    tp = (
        cand.join(truth, ["group_id", "na", "nb"], "left_semi")
        .groupBy("group_id")
        .agg(F.count(F.lit(1)).alias("tp"))
    )
    out = (
        n_ents.join(n_cand, "group_id", "left")
        .join(n_true, "group_id", "left")
        .join(tp, "group_id", "left")
        .na.fill(0, ["n_cand", "n_true", "tp"])
    )
    return out.select(
        "group_id",
        F.col("n_ents").cast("long").alias("n_ents"),
        F.col("n_cand").cast("long").alias("n_cand"),
        F.col("n_true").cast("long").alias("n_true"),
        F.col("tp").cast("long").alias("tp"),
        F.when(F.col("n_true") > 0,
               F.expr("(tp * 1000000) div n_true"))
        .otherwise(F.lit(1000000)).cast("long").alias("recall_u"),
        F.when(F.col("n_ents") > 1,
               F.lit(1000000)
               - F.expr("(n_cand * 2000000) div (n_ents * (n_ents - 1))"))
        .otherwise(F.lit(1000000)).cast("long").alias("rr_u"),
    )


def _sql_kg_er_metrics() -> str:
    body = """
, tp_pairs AS (
  SELECT DISTINCT a.group_id, a.name AS na, b.name AS nb
  FROM ents a
  JOIN ents b ON b.group_id = a.group_id AND b.base = a.base
             AND b.name > a.name
),
cnt AS (SELECT group_id, count(*) AS n FROM tp_pairs GROUP BY 1)
SELECT group_id,
       CAST(n AS BIGINT) AS n_truth_pairs,
       CAST(n AS BIGINT) AS n_engine_pairs,
       CAST(n AS BIGINT) AS tp,
       CAST(0 AS BIGINT) AS fp,
       CAST(0 AS BIGINT) AS fn,
       CAST(1000000 AS BIGINT) AS precision_u,
       CAST(1000000 AS BIGINT) AS recall_u,
       CAST(1000000 AS BIGINT) AS f1_u
FROM cnt"""
    return _kg_sql(body)


_CORRUPT_RULE = (
    "('0x' || substr(md5('corrupt:' || name), 1, 8))::BIGINT % 7 = 0"
)
_CORRUPT_RULE_SPARK = (
    "cast(conv(substr(md5(concat('corrupt:', name)), 1, 8), 16, 10)"
    " as bigint) % 7 = 0"
)


def q_kg_domain_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHACL-lite domain/range validation sweep (operators/maintenance.
    domain_range_violations) over the canonical edges vs the ontology's
    predicate roles. The clean corpus validates by construction (labels
    are role-voted), so the gate deterministically corrupts ~1/7 of the
    node label sets to 'Entity' first — the violation counters must
    fire on exactly the corrupted endpoints."""
    from ..operators.maintenance import domain_range_violations

    t = _graph(spark, sf_dir)
    corrupted = t.nodes.select(
        "group_id",
        "name",
        F.expr(
            f"CASE WHEN {_CORRUPT_RULE_SPARK} THEN array('Entity')"
            " ELSE labels END"
        ).alias("labels"),
    )
    triples = q_kg_triples(spark, sf_dir).select(
        "group_id", "subj", "pred", "obj"
    )
    return domain_range_violations(triples, corrupted)


def _sql_kg_domain_range() -> str:
    from ..ontology import DEFAULT

    body = f""",
{_LABELS_CTES.strip().rstrip()},
nl AS (
  SELECT group_id, name,
         CASE WHEN {_CORRUPT_RULE} THEN 'Entity' ELSE labels_str END
           AS labels_str
  FROM nlab
),
ex AS (
  SELECT e.group_id, e.subj, e.pred, e.obj,
         {DEFAULT.role_sql(0, "e.pred")} AS subj_req,
         {DEFAULT.role_sql(1, "e.pred")} AS obj_req
  FROM eds e
)
SELECT x.group_id, x.pred,
       count(*) AS n_edges,
       CAST(sum(CASE WHEN subj_req IS NOT NULL AND (s.labels_str IS NULL
                OR NOT list_contains(string_split(s.labels_str, '/'), subj_req))
                THEN 1 ELSE 0 END) AS BIGINT) AS n_subj_viol,
       CAST(sum(CASE WHEN obj_req IS NOT NULL AND (o.labels_str IS NULL
                OR NOT list_contains(string_split(o.labels_str, '/'), obj_req))
                THEN 1 ELSE 0 END) AS BIGINT) AS n_obj_viol
FROM ex x
LEFT JOIN nl s ON s.group_id = x.group_id AND s.name = x.subj
LEFT JOIN nl o ON o.group_id = x.group_id AND o.name = x.obj
GROUP BY 1, 2"""
    return _kg_sql(body, with_eds=True)


def q_kg_verbalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KG -> pretraining text: one deterministic passage per (group,
    subject), each fact rendered with its temporal qualifier (the
    training-corpus consumption of the graph the reference's edge-fact
    sentences exist for, edges.py:199-208)."""
    from ..operators.export import verbalize_triples

    return verbalize_triples(q_kg_triples(spark, sf_dir))


def q_kg_qa_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KG -> supervised QA rows: ontology-predicate question templates,
    answer = object, validity split + episode-support weight."""
    from ..operators.export import qa_pairs

    return qa_pairs(q_kg_triples(spark, sf_dir))


def q_kg_ntriples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RDF N-Triples export with RDF-star fact/validity statements —
    the triple-store interchange surface."""
    from ..operators.export import ntriples_lines

    return ntriples_lines(q_kg_triples(spark, sf_dir))


def q_kg_node_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GNN-training feature table: one row per canonical entity with its
    type labels, alias count, directed fact degrees, currently-valid
    fact count, and community size — the assembled node-feature export a
    graph-ML consumer trains on. Three skinny key-joins on
    (group_id, name); every input is itself oracle-gated."""
    from ..operators.communities import build_communities

    t = _graph(spark, sf_dir)
    tv = q_kg_triples(spark, sf_dir)
    legs = tv.select(
        "group_id",
        F.col("subj").alias("name"),
        F.lit(1).alias("as_subj"),
        F.lit(0).alias("as_obj"),
        "invalid_at",
    ).unionByName(
        tv.select(
            "group_id",
            F.col("obj").alias("name"),
            F.lit(0).alias("as_subj"),
            F.lit(1).alias("as_obj"),
            "invalid_at",
        )
    )
    deg = legs.groupBy("group_id", "name").agg(
        F.sum("as_subj").cast("long").alias("out_facts"),
        F.sum("as_obj").cast("long").alias("in_facts"),
        F.sum(F.col("invalid_at").isNull().cast("int"))
        .cast("long")
        .alias("n_valid"),
    )
    communities, members = build_communities(t.nodes, t.edges)
    csize = (
        members.join(
            communities.select(
                F.col("uuid").alias("community_uuid"),
                F.col("n_members").cast("long").alias("community_size"),
            ),
            "community_uuid",
        )
        .join(
            t.nodes.select(F.col("uuid").alias("entity_uuid"), "name"),
            "entity_uuid",
        )
        .select("group_id", "name", "community_size")
    )
    base = t.nodes.select(
        "group_id",
        "name",
        F.array_join(F.col("labels"), "/").alias("labels_str"),
        F.col("n_aliases").cast("long").alias("n_aliases"),
    )
    return (
        base.join(deg, ["group_id", "name"], "left")
        .join(csize, ["group_id", "name"], "left")
        .na.fill(0, ["out_facts", "in_facts", "n_valid"])
        .na.fill(1, ["community_size"])
    )


def q_kg_global_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-group entity identity: group_id is the isolation key of the
    per-domain KGs (reference group_id semantics, graphiti.py:180), but a
    crawl-scale consumer also needs the GLOBAL entity view — the same
    real-world entity surfacing on many domains. Rolls canonical nodes up
    by the shared normalization key (the exact-block key of X5
    resolution, extract.norm_sql) into one global entity row with its
    domain spread. One partial-agg'd groupBy on the normalized key —
    entity-count cardinality, no joins."""

    t = _graph(spark, sf_dir)
    return (
        t.nodes.select(
            "group_id",
            "name",
            F.col("n_aliases").cast("long").alias("n_aliases"),
        )
        .withColumn("global_key", F.expr(norm_sql("name")))
        .groupBy("global_key")
        .agg(
            F.min("name").alias("canonical_name"),
            F.countDistinct("group_id").cast("long").alias("n_groups"),
            F.count(F.lit(1)).cast("long").alias("n_entities"),
            F.sum("n_aliases").cast("long").alias("total_aliases"),
        )
        .withColumn(
            "global_uuid",
            F.md5(F.concat(F.lit("global|"), F.col("global_key"))),
        )
    )


def q_kg_global_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-domain knowledge fusion at the FACT level (Dong et al.,
    "From Data Fusion to Knowledge Fusion", VLDB'14): the per-group KGs
    are isolated builds (reference group_id semantics), but a crawl-scale
    consumer wants one fused fact table where the same (subj, pred, obj)
    assertion observed on independent domains accumulates support. Keys:
    the X5 normalization on both endpoint names (extract.norm_sql) and
    the ontology synonym class on the predicate — the same fusion key
    family materialize_edges dedups on within a group, lifted global.
    Emits per fused fact: canonical names, domain support (n_groups),
    observation counts, validity span, and corroborated flag (>=2
    independent domains). Plan: one partial-agg'd groupBy over the final
    triples table — fact-cardinality input, no joins, no window."""
    from ..ontology import DEFAULT

    tri = q_kg_triples(spark, sf_dir)
    return (
        tri.withColumn("subj_key", F.expr(norm_sql("subj")))
        .withColumn("obj_key", F.expr(norm_sql("obj")))
        .withColumn("pred_class", F.expr(DEFAULT.synonym_class_sql("pred")))
        .groupBy("subj_key", "pred_class", "obj_key")
        .agg(
            F.min("subj").alias("subj"),
            F.min("obj").alias("obj"),
            F.countDistinct("group_id").cast("long").alias("n_groups"),
            F.count(F.lit(1)).cast("long").alias("n_facts"),
            F.sum(F.when(F.col("invalid_at").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_valid"),
            F.min("valid_at").alias("first_valid_at"),
            F.max("valid_at").alias("last_valid_at"),
        )
        .withColumn(
            "corroborated",
            (F.col("n_groups") >= 2).cast("long"),
        )
        .withColumn(
            "global_fact_uuid",
            F.md5(
                F.concat_ws(
                    "|", F.lit("gfact"), "subj_key", "pred_class", "obj_key"
                )
            ),
        )
    )


def q_kg_global_conflicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-domain conflict detection + majority-vote resolution (the
    conflict-resolution half of knowledge fusion, Dong et al. VLDB'14):
    for ontology-declared single-valued predicates (DEFAULT.functional —
    the same set kg_functional_violations sweeps WITHIN a group), find
    fused subjects whose currently-valid objects disagree across
    independent domains, and emit the support-majority object (ties
    broken by lexicographic obj_key, so the vote is deterministic and
    oracle-checkable). Plan: one groupBy to per-object support, one
    co-partitioned groupBy (same keys, shuffle reused) for the vote and
    the disagreement stats — fact-cardinality input, no self-join."""
    from ..ontology import DEFAULT

    tri = q_kg_triples(spark, sf_dir)
    valid = (
        tri.where(F.col("invalid_at").isNull())
        .withColumn("subj_key", F.expr(norm_sql("subj")))
        .withColumn("obj_key", F.expr(norm_sql("obj")))
        .withColumn("pred_class", F.expr(DEFAULT.synonym_class_sql("pred")))
        .where(F.col("pred_class").isin(*DEFAULT.functional))
    )
    # per-object support first; the domain spread (n_groups) aggregates
    # straight off the fact stream (partial-agg'd countDistinct), NOT via
    # collected group arrays — a crawl-popular entity can be asserted on
    # millions of domains and no per-row array may scale with that.
    per_obj = valid.groupBy("subj_key", "pred_class", "obj_key").agg(
        F.min("subj").alias("subj"),
        F.count(F.lit(1)).alias("n_obs"),
    )
    vote = per_obj.groupBy("subj_key", "pred_class").agg(
        F.min("subj").alias("subj"),
        F.count(F.lit(1)).cast("long").alias("n_objs"),
        # flattened to a comma-joined string: the driver's pandas
        # canonicalizer cannot sort top-level ARRAY columns (r4 verdict),
        # same pattern as maintenance.functional_violations
        F.array_join(F.array_sort(F.collect_list("obj_key")), ",").alias("objs"),
        F.min_by(
            "obj_key",
            F.struct((-F.col("n_obs")).alias("a"), F.col("obj_key").alias("b")),
        ).alias("majority_obj"),
        F.max("n_obs").cast("long").alias("majority_support"),
        F.sum("n_obs").cast("long").alias("total_support"),
    )
    spread = valid.groupBy("subj_key", "pred_class").agg(
        F.countDistinct("group_id").cast("long").alias("n_groups")
    )
    # same grouping key on both sides -> co-partitioned join, the
    # exchange is shared with the vote aggregation
    fused = vote.join(spread, ["subj_key", "pred_class"])
    return fused.where((F.col("n_objs") >= 2) & (F.col("n_groups") >= 2)).select(
        "subj_key", "pred_class", "subj", "n_objs", "n_groups", "objs",
        "majority_obj", "majority_support", "total_support",
    )


def q_kg_source_trust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-reliability scoring (TruthFinder / Knowledge Vault's
    source-trust prior, simplified to one deterministic iteration): for
    every domain (group_id), the fraction of its currently-valid
    single-valued claims that agree with the cross-domain majority vote.
    Each distinct (subj_key, pred_class, obj_key) claim counts once per
    domain (a domain repeating itself on many pages gains no weight).
    trust_permille is integer (1000*n_agree DIV n_claims) so the score
    is hash-exact across engines. Plan: claims dedup (groupBy), majority
    vote (two partial-agg'd groupBys on the same key family), one
    broadcast-sized join majority->claims, one final groupBy on
    group_id — no self-joins, no windows."""
    from ..ontology import DEFAULT

    tri = q_kg_triples(spark, sf_dir)
    valid = (
        tri.where(F.col("invalid_at").isNull())
        .withColumn("subj_key", F.expr(norm_sql("subj")))
        .withColumn("obj_key", F.expr(norm_sql("obj")))
        .withColumn("pred_class", F.expr(DEFAULT.synonym_class_sql("pred")))
        .where(F.col("pred_class").isin(*DEFAULT.functional))
    )
    claims = valid.select(
        "group_id", "subj_key", "pred_class", "obj_key"
    ).distinct()
    per_obj = valid.groupBy("subj_key", "pred_class", "obj_key").agg(
        F.count(F.lit(1)).alias("n_obs")
    )
    majority = per_obj.groupBy("subj_key", "pred_class").agg(
        F.min_by(
            "obj_key",
            F.struct((-F.col("n_obs")).alias("a"), F.col("obj_key").alias("b")),
        ).alias("majority_obj")
    )
    scored = claims.join(majority, ["subj_key", "pred_class"]).withColumn(
        "agree", (F.col("obj_key") == F.col("majority_obj")).cast("long")
    )
    return (
        scored.groupBy("group_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_claims"),
            F.sum("agree").cast("long").alias("n_agree"),
        )
        .withColumn(
            "trust_permille",
            F.expr("CAST((1000 * n_agree) DIV n_claims AS BIGINT)"),
        )
    )


def _sql_kg_triples() -> str:
    return _kg_sql(_TRIPLES_SELECT, with_eds=True)


# the incremental build must reproduce the one-shot build's triples
_sql_kg_incremental_build = _sql_kg_triples


def _sql_kg_contradictions() -> str:
    body = f"""
, final AS ({_TRIPLES_SELECT})
SELECT *, TIMESTAMP '2024-12-31 00:00:00' AS expired_at
FROM final WHERE invalid_at IS NOT NULL"""
    return _kg_sql(body, with_eds=True)


def _sql_kg_episodes() -> str:
    ctes = corpus.sql_pages_cte()
    return (
        "WITH "
        + ctes.lstrip()
        + """,
chunks AS (
  SELECT url, group_id, warc_ts,
         unnest(string_split(clean_text, chr(10) || chr(10))) AS content,
         generate_subscripts(string_split(clean_text, chr(10) || chr(10)), 1) AS i
  FROM pages_g
)
SELECT md5(url || '|' || (i - 1)) AS uuid, url, CAST(i - 1 AS BIGINT) AS chunk_idx,
       group_id, length(content) AS n_chars, warc_ts AS valid_at
FROM chunks WHERE length(content) > 0"""
    )


def _sql_kg_episode_facts() -> str:
    """SQL mirror of q_kg_episode_facts: raw extracted triples map to
    their FINAL deduped edge via the same dedup key materialize_edges
    groups on — (group_id, subj, synonym-class(pred), obj) — then the
    (episode, edge uuid) pairs aggregate per episode; episodes without
    facts come from the chunk base through the left join."""
    body = """
, rawk AS (
  SELECT episode_uuid, group_id, subj, obj,
         (CASE pred WHEN 'EMPLOYED_AT' THEN 'WORKS_AT' ELSE pred END) AS predk
  FROM raw
),
edsk AS (
  SELECT group_id, subj, obj,
         (CASE pred WHEN 'EMPLOYED_AT' THEN 'WORKS_AT' ELSE pred END) AS predk,
         uuid
  FROM eds
),
ep_pairs AS (
  SELECT DISTINCT r.episode_uuid, e.uuid AS edge_uuid
  FROM rawk r JOIN edsk e USING (group_id, subj, predk, obj)
),
epf AS (
  SELECT episode_uuid, count(*) AS n_facts,
         string_agg(edge_uuid, ',' ORDER BY edge_uuid) AS fact_uuids
  FROM ep_pairs GROUP BY 1
),
chunks AS (
  SELECT md5(url || '|' || (i - 1)) AS uuid, url, CAST(i - 1 AS BIGINT) AS chunk_idx
  FROM (
    SELECT url,
           unnest(string_split(clean_text, chr(10) || chr(10))) AS content,
           generate_subscripts(string_split(clean_text, chr(10) || chr(10)), 1) AS i
    FROM pages_g
  ) WHERE length(content) > 0
)
SELECT c.uuid, c.url, c.chunk_idx,
       CAST(coalesce(f.n_facts, 0) AS BIGINT) AS n_facts,
       coalesce(f.fact_uuids, '') AS fact_uuids
FROM chunks c LEFT JOIN epf f ON f.episode_uuid = c.uuid"""
    return _kg_sql(body, with_eds=True)


def _sql_kg_blocking_audit() -> str:
    """Full SQL mirror of the name-level blocking stage: engine norm
    (honorific/suffix strip), deterministic node uuids, exact norm-block
    star pairs, char-3-gram shingles of '^'||norm||'$', the md5
    Carter-Wegman minhash family (same _A_NM/_B_NM constants), 16x4 band
    keys with the 1000-bucket cap, exact-Jaccard >= 3/5 verify, then the
    blocking metrics vs the generative alias-pair truth."""
    from ..operators.resolve import _A_NM, _B_NM, _MERSENNE31, LSH_ROWS, N_HASHES

    consts = ", ".join(
        f"({i}, {int(_A_NM[i])}, {int(_B_NM[i])})" for i in range(N_HASHES)
    )
    norm = (
        "coalesce(nullif(regexp_replace(regexp_replace(lower(name),"
        " '^(professor |dr\\. |dr |mr\\. |ms\\. |mrs\\. )', ''),"
        " '( (inc|llc|ltd))+$', ''), ''), lower(name))"
    )
    ctes = corpus.sql_pages_cte() + "," + corpus.sql_mentions_cte()
    return (
        "WITH "
        + ctes.lstrip()
        + f""",
entn AS MATERIALIZED (
  SELECT group_id, name,
         md5('node|' || group_id || '|' || name) AS uuid,
         {norm} AS norm
  FROM (SELECT DISTINCT group_id, name FROM mentions_g)
),
blockmin AS (
  SELECT group_id, norm, min(uuid) AS muuid, arg_min(name, uuid) AS mname
  FROM entn GROUP BY 1, 2
),
exact_pairs AS (
  SELECT e.group_id, least(e.name, b.mname) AS na, greatest(e.name, b.mname) AS nb
  FROM entn e JOIN blockmin b USING (group_id, norm)
  WHERE e.uuid <> b.muuid
),
sh AS MATERIALIZED (
  SELECT group_id, name, uuid,
         unnest(list_distinct(list_transform(
           range(0, greatest(length('^' || norm || '$') - 3, 0) + 1),
           i -> substr('^' || norm || '$', i + 1, 3)))) AS shingle
  FROM entn
),
hs AS (
  SELECT group_id, name, uuid,
         ('0x' || substr(md5(shingle), 1, 8))::BIGINT % {_MERSENNE31} AS h
  FROM sh
),
consts(i, a, b) AS (VALUES {consts}),
mh AS (
  SELECT group_id, name, uuid, c.i, min((c.a * h + c.b) % {_MERSENNE31}) AS v
  FROM hs CROSS JOIN consts c GROUP BY 1, 2, 3, 4
),
bands AS (
  SELECT group_id, name, uuid, i // {LSH_ROWS} AS band,
         string_agg(CAST(v AS VARCHAR), '|' ORDER BY i) AS bkey
  FROM mh GROUP BY 1, 2, 3, i // {LSH_ROWS}
),
okb AS (
  SELECT group_id, band, bkey FROM bands GROUP BY 1, 2, 3 HAVING count(*) <= 1000
),
b2 AS (SELECT bands.* FROM bands JOIN okb USING (group_id, band, bkey)),
lsh_cand AS (
  SELECT DISTINCT l.group_id, l.name AS name_a, r.name AS name_b
  FROM b2 l JOIN b2 r
    ON l.group_id = r.group_id AND l.band = r.band AND l.bkey = r.bkey
   AND l.uuid < r.uuid
),
sizes AS (SELECT group_id, name, count(*) AS n_sh FROM sh GROUP BY 1, 2),
shared AS (
  SELECT c.group_id, c.name_a, c.name_b, count(*) AS n_shared
  FROM lsh_cand c
  JOIN sh sa ON sa.group_id = c.group_id AND sa.name = c.name_a
  JOIN sh sb ON sb.group_id = c.group_id AND sb.name = c.name_b
            AND sb.shingle = sa.shingle
  GROUP BY 1, 2, 3
),
lsh_pairs AS (
  SELECT s.group_id, least(s.name_a, s.name_b) AS na,
         greatest(s.name_a, s.name_b) AS nb
  FROM shared s
  JOIN sizes za ON za.group_id = s.group_id AND za.name = s.name_a
  JOIN sizes zb ON zb.group_id = s.group_id AND zb.name = s.name_b
  WHERE s.n_shared * 5 >= 3 * (za.n_sh + zb.n_sh - s.n_shared)
),
cand AS (
  SELECT DISTINCT * FROM (
    SELECT * FROM exact_pairs UNION ALL SELECT * FROM lsh_pairs)
),
tn AS (SELECT DISTINCT group_id, base, name FROM mentions_g),
truth AS (
  SELECT DISTINCT a.group_id, a.name AS na, b.name AS nb
  FROM tn a JOIN tn b
    ON a.group_id = b.group_id AND a.base = b.base AND a.name < b.name
),
m_ents AS (SELECT group_id, count(*) AS n_ents FROM entn GROUP BY 1),
m_cand AS (SELECT group_id, count(*) AS n_cand FROM cand GROUP BY 1),
m_true AS (SELECT group_id, count(*) AS n_true FROM truth GROUP BY 1),
m_tp AS (
  SELECT c.group_id, count(*) AS tp
  FROM cand c JOIN truth t USING (group_id, na, nb) GROUP BY 1
)
SELECT e.group_id,
       e.n_ents,
       coalesce(c.n_cand, 0) AS n_cand,
       coalesce(t.n_true, 0) AS n_true,
       coalesce(p.tp, 0) AS tp,
       CASE WHEN coalesce(t.n_true, 0) > 0
            THEN (coalesce(p.tp, 0) * 1000000) // t.n_true
            ELSE 1000000 END AS recall_u,
       CASE WHEN e.n_ents > 1
            THEN 1000000 - (coalesce(c.n_cand, 0) * 2000000)
                           // (e.n_ents * (e.n_ents - 1))
            ELSE 1000000 END AS rr_u
FROM m_ents e
LEFT JOIN m_cand c USING (group_id)
LEFT JOIN m_true t USING (group_id)
LEFT JOIN m_tp p USING (group_id)"""
    )


def _sql_kg_lineage_metrics() -> str:
    """SQL mirror of q_kg_lineage_metrics: per doc_id%8 range, the count
    of extraction rows (generative triples + per-episode distinct mention
    spans) and the order-independent checksum — sum of the 60-bit
    md5-prefix integer of each row's episode_uuid, per-element mod 2^31
    (bounds the running sum) then mod 2^31, exactly plans/lineage.py
    _checksum."""
    ctes = corpus.sql_pages_cte() + "," + corpus.sql_triples_cte() + "," + corpus.sql_mentions_cte()
    return (
        "WITH "
        + ctes.lstrip()
        + """,
ext AS (
  SELECT doc_id, md5(url || '|' || para_idx) AS episode_uuid FROM triples_g
  UNION ALL
  SELECT doc_id, md5(url || '|' || para_idx)
  FROM (SELECT DISTINCT doc_id, url, para_idx, name FROM mentions_g)
)
SELECT CAST(doc_id % 8 AS BIGINT) AS range_id,
       'extract' AS stage,
       count(*) AS row_count,
       CAST(sum(('0x' || substr(md5(episode_uuid), 1, 15))::UBIGINT % 2147483648)
            % 2147483648 AS BIGINT) AS checksum
FROM ext GROUP BY 1 ORDER BY 1"""
    )


def _sql_kg_nodes() -> str:
    # per-display label = role vote from the triples the display name
    # participates in (each display carries exactly one role in this
    # corpus, so min == plurality); mention-only displays (distractor
    # participants) fall back to 'Entity' — then labels aggregate over
    # the alias cluster exactly like the engine's collect_set
    body = """
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
alias_label AS (SELECT group_id, name, min(label) AS label FROM labs GROUP BY 1, 2)
SELECT e.group_id, c.canon_name AS name,
       string_agg(DISTINCT coalesce(al.label, 'Entity'), '/' ORDER BY coalesce(al.label, 'Entity')) AS labels_str,
       count(DISTINCT e.name) AS n_aliases
FROM ents e
JOIN canon c ON c.group_id = e.group_id AND c.base = e.base
LEFT JOIN alias_label al ON al.group_id = e.group_id AND al.name = e.name
GROUP BY 1, 2"""
    return _kg_sql(body)


def _sql_kg_mentions() -> str:
    body = """
SELECT m.group_id, c.canon_name AS name,
       count(DISTINCT m.url || '#' || m.para_idx) AS n_mentions
FROM mentions_g m
JOIN canon c ON c.group_id = m.group_id AND c.base = m.base
GROUP BY 1, 2"""
    return _kg_sql(body)


def _sql_kg_node_summaries() -> str:
    # mirrors operators/summaries.with_summaries: identity sentence
    # ("NAME is a L1/L2") + the node's 3 earliest touching facts ordered
    # by (valid_at, fact), ": "-joined, capped at 500 ws tokens
    body = f"""
, {_LABELS_CTES.lstrip()},
touching AS (
  SELECT group_id, subj AS name, fact, valid_at FROM eds
  UNION ALL
  SELECT group_id, obj, fact, valid_at FROM eds
),
topf AS (
  SELECT *, row_number() OVER (PARTITION BY group_id, name ORDER BY valid_at, fact) AS rn
  FROM touching
),
fsum AS (
  SELECT group_id, name, string_agg(fact, ' ' ORDER BY rn) AS fact_summary
  FROM topf WHERE rn <= 3 GROUP BY 1, 2
)
SELECT n.group_id, n.name,
       array_to_string(list_slice(string_split(
         CASE WHEN f.fact_summary IS NULL THEN n.name || ' is a ' || n.labels_str
              ELSE n.name || ' is a ' || n.labels_str || ': ' || f.fact_summary END,
         ' '), 1, 500), ' ') AS summary
FROM nlab n
LEFT JOIN fsum f ON f.group_id = n.group_id AND f.name = n.name"""
    return _kg_sql(body, with_eds=True)


def _sql_kg_episode_entities() -> str:
    body = """
, eps AS (
  SELECT md5(url || '|' || (i - 1)) AS episode_uuid
  FROM (SELECT url,
               unnest(string_split(clean_text, chr(10) || chr(10))) AS content,
               generate_subscripts(string_split(clean_text, chr(10) || chr(10)), 1) AS i
        FROM pages_g)
  WHERE length(content) > 0
),
sel AS (SELECT episode_uuid FROM eps WHERE substr(episode_uuid, 1, 1) = 'a'),
men AS (
  SELECT md5(m.url || '|' || m.para_idx) AS episode_uuid,
         count(DISTINCT m.group_id || '|' || m.base) AS n_nodes
  FROM mentions_g m GROUP BY 1
),
edg AS (
  SELECT episode_uuid, count(*) AS n_edges FROM (
    SELECT DISTINCT episode_uuid, group_id, subj,
           (CASE pred WHEN 'EMPLOYED_AT' THEN 'WORKS_AT' ELSE pred END) AS predclass, obj
    FROM raw
  ) GROUP BY 1
)
SELECT s.episode_uuid,
       coalesce(men.n_nodes, 0) AS n_nodes,
       coalesce(edg.n_edges, 0) AS n_edges
FROM sel s
LEFT JOIN men USING (episode_uuid)
LEFT JOIN edg USING (episode_uuid)"""
    return _kg_sql(body, with_eds=True)


def _sql_kg_remove_episode() -> str:
    body = """
, survive AS (
  SELECT group_id, subj,
         (CASE pred WHEN 'EMPLOYED_AT' THEN 'WORKS_AT' ELSE pred END) AS predclass, obj,
         count(DISTINCT episode_uuid)
           FILTER (WHERE substr(episode_uuid, 1, 1) NOT IN ('0', '1', '2', '3')) AS n_left
  FROM raw GROUP BY 1, 2, 3, 4
)
SELECT e.group_id, e.subj, e.pred, e.obj, s.n_left AS n_episodes_left
FROM eds e
JOIN survive s ON s.group_id = e.group_id AND s.subj = e.subj AND s.obj = e.obj
 AND s.predclass = (CASE e.pred WHEN 'EMPLOYED_AT' THEN 'WORKS_AT' ELSE e.pred END)
WHERE s.n_left > 0"""
    return _kg_sql(body, with_eds=True)


_CONTRA_CLASS_SQL = (
    "CASE {x} WHEN 'WORKS_AT' THEN 'WORKS_AT' WHEN 'EMPLOYED_AT' THEN 'WORKS_AT' "
    "WHEN 'NO_LONGER_WORKS_AT' THEN 'WORKS_AT' "
    "WHEN 'LIKES' THEN 'LIKES' WHEN 'DISLIKES' THEN 'LIKES' END"
)
_CONTRA_POL_SQL = (
    "CASE {x} WHEN 'NO_LONGER_WORKS_AT' THEN -1 WHEN 'DISLIKES' THEN -1 ELSE 1 END"
)


def _sql_kg_add_triplet() -> str:
    vals = ",\n         ".join(
        f"('{g}', '{s}', '{p}', '{o}', '{f_}', TIMESTAMP '{ts}', '{ep}')"
        for (g, s, p, o, f_, ts, ep) in _ADD_TRIPLETS
    )
    ca = _CONTRA_CLASS_SQL.format(x="a.pred")
    cb = _CONTRA_CLASS_SQL.format(x="b.pred")
    pa = _CONTRA_POL_SQL.format(x="a.pred")
    pb = _CONTRA_POL_SQL.format(x="b.pred")
    body = f"""
, canonu AS (
  SELECT e.group_id, c.canon_name AS name,
         min(md5('node|' || e.group_id || '|' || e.name)) AS uuid
  FROM ents e JOIN canon c ON c.group_id = e.group_id AND c.base = e.base
  GROUP BY 1, 2
),
normmap AS (
  SELECT group_id, {norm_sql('trim(name)', duck=True)} AS norm,
         min(uuid) AS uuid, arg_min(name, uuid) AS name
  FROM canonu GROUP BY 1, 2
),
new_rows(group_id, subj_in, pred, obj_in, fact, valid_at, episode_uuid) AS (
  VALUES {vals}
),
resolved AS (
  SELECT n.group_id,
         coalesce(ms.uuid, md5('node|' || n.group_id || '|' || n.subj_in)) AS src_uuid,
         coalesce(ms.name, n.subj_in) AS subj,
         n.pred,
         coalesce(mo.uuid, md5('node|' || n.group_id || '|' || n.obj_in)) AS dst_uuid,
         coalesce(mo.name, n.obj_in) AS obj,
         n.fact, n.valid_at, n.episode_uuid
  FROM new_rows n
  LEFT JOIN normmap ms ON ms.group_id = n.group_id AND ms.norm = {norm_sql('trim(n.subj_in)', duck=True)}
  LEFT JOIN normmap mo ON mo.group_id = n.group_id AND mo.norm = {norm_sql('trim(n.obj_in)', duck=True)}
),
merged AS (
  SELECT group_id, src_uuid, dst_uuid, pred,
         min(subj) AS subj, min(obj) AS obj, min(fact) AS fact,
         min(valid_at) AS valid_at,
         count(DISTINCT episode_uuid) AS n_episodes
  FROM resolved GROUP BY 1, 2, 3, 4
),
inval AS (
  SELECT a.group_id, a.src_uuid, a.dst_uuid, a.pred, min(b.valid_at) AS contra_valid_at
  FROM merged a JOIN merged b
    ON a.group_id = b.group_id AND a.src_uuid = b.src_uuid AND a.dst_uuid = b.dst_uuid
   AND ({ca}) IS NOT NULL AND ({ca}) = ({cb})
   AND ({pa}) <> ({pb}) AND b.valid_at > a.valid_at
  GROUP BY 1, 2, 3, 4
)
SELECT m.group_id, m.subj, m.pred, m.obj, m.fact, m.valid_at,
       i.contra_valid_at AS invalid_at, m.n_episodes
FROM merged m
LEFT JOIN inval i ON i.group_id = m.group_id AND i.src_uuid = m.src_uuid
                 AND i.dst_uuid = m.dst_uuid AND i.pred = m.pred
WHERE m.group_id = 'src0' AND m.subj IN ('Test Alpha Labs', 'Test Person')"""
    return _kg_sql(body)


def _sql_kg_entity_timeline() -> str:
    body = f"""
, final AS ({_TRIPLES_SELECT}),
legs AS (
  SELECT group_id, subj AS name, 'subject' AS role, pred, obj AS other,
         valid_at, invalid_at
  FROM final
  UNION ALL
  SELECT group_id, obj, 'object', pred, subj, valid_at, invalid_at
  FROM final
)
SELECT group_id, name,
       CAST(row_number() OVER (PARTITION BY group_id, name
            ORDER BY valid_at, pred, other, role) AS BIGINT) AS seq,
       role, pred, other, valid_at, invalid_at
FROM legs"""
    return _kg_sql(body, with_eds=True)


def _sql_kg_nodes_page() -> str:
    body = f"""
, canonu AS (
  SELECT e.group_id, c.canon_name AS name,
         min(md5('node|' || e.group_id || '|' || e.name)) AS uuid
  FROM ents e JOIN canon c ON c.group_id = e.group_id AND c.base = e.base
  GROUP BY 1, 2
)
SELECT group_id, uuid, name FROM canonu
WHERE group_id IN ('src0', 'src1') AND uuid < '{PAGE_CURSOR}'
ORDER BY uuid DESC LIMIT {PAGE_LIMIT}"""
    return _kg_sql(body)


def _snapshot_ctes(filter_expr: str) -> str:
    """Second canon/eds/classed/inv chain over the page subset selected by
    `filter_expr` (a doc_id predicate), derived MECHANICALLY from
    _EDS_CTES by suffixing every chain-local CTE name with '2' — the two
    snapshots' semantics can never drift apart. Word-boundary regex keeps
    raw_uuid / canon_name / mentions_g intact."""
    import re

    s = _EDS_CTES
    for name in ("ents", "canon", "raw", "eds", "classed", "inv"):
        s = re.sub(rf"\b{name}\b", f"{name}2", s)
    # restrict both generative sources to the snapshot's pages
    s = s.replace(
        "SELECT DISTINCT group_id, name, base FROM mentions_g",
        "SELECT DISTINCT group_id, name, base FROM mentions_g"
        f" WHERE {filter_expr}",
    )
    s = s.replace(
        "JOIN canon2 co ON co.group_id = t.group_id AND co.base = t.obj_base",
        "JOIN canon2 co ON co.group_id = t.group_id AND co.base = t.obj_base\n"
        f"  WHERE t.{filter_expr}",
    )
    return s


def _sql_kg_snapshot_diff() -> str:
    snap = _snapshot_ctes(
        f"doc_id <= (SELECT max(doc_id) * {SNAP_PCT} // 100 FROM pages_g)"
    )
    body = f"""
,{snap},
new_f AS ({_TRIPLES_SELECT}),
old_f AS (
  SELECT e.group_id, e.subj, e.pred, e.obj,
         i.contra_valid_at AS invalid_at, e.n_episodes
  FROM eds2 e
  LEFT JOIN inv2 i ON i.group_id = e.group_id AND i.subj = e.subj
                  AND i.pred = e.pred AND i.obj = e.obj
)
SELECT coalesce(n.group_id, o.group_id) AS group_id,
       coalesce(n.subj, o.subj) AS subj,
       coalesce(n.pred, o.pred) AS pred,
       coalesce(n.obj, o.obj) AS obj,
       CASE WHEN o.subj IS NULL THEN 'added'
            WHEN n.subj IS NULL THEN 'removed'
            WHEN o.invalid_at IS NULL AND n.invalid_at IS NOT NULL
              THEN 'invalidated'
            ELSE 'provenance' END AS status,
       CAST(coalesce(o.n_episodes, 0) AS BIGINT) AS n_eps_old,
       CAST(coalesce(n.n_episodes, 0) AS BIGINT) AS n_eps_new
FROM new_f n
FULL JOIN old_f o ON o.group_id = n.group_id AND o.subj = n.subj
                 AND o.pred = n.pred AND o.obj = n.obj
WHERE o.subj IS NULL OR n.subj IS NULL
   OR o.n_episodes <> n.n_episodes
   OR (o.invalid_at IS NULL) <> (n.invalid_at IS NULL)"""
    return _kg_sql(body, with_eds=True)


def _sql_kg_functional_violations() -> str:
    from ..ontology import DEFAULT

    preds = ", ".join(f"'{p}'" for p in sorted(DEFAULT.functional))
    body = f"""
, final AS ({_TRIPLES_SELECT})
SELECT group_id, pred, subj,
       CAST(count(DISTINCT obj) AS BIGINT) AS n_objects,
       string_agg(DISTINCT obj, ',' ORDER BY obj) AS objs
FROM final
WHERE invalid_at IS NULL AND pred IN ({preds})
GROUP BY 1, 2, 3
HAVING count(DISTINCT obj) >= 2"""
    return _kg_sql(body, with_eds=True)


def _sql_kg_integrity() -> str:
    # the engine corrupts its node table by dropping uuids starting 0/1/2;
    # node uuid = min md5('node|' group '|' alias) per canonical group
    # (canonu), edge endpoints resolve through the same mapping, mention
    # edges through ment_edges, episode refs are untouched (n_bad = 0)
    body = """
, canonu AS MATERIALIZED (
  SELECT e.group_id, c.canon_name AS name,
         min(md5('node|' || e.group_id || '|' || e.name)) AS uuid
  FROM ents e JOIN canon c ON c.group_id = e.group_id AND c.base = e.base
  GROUP BY 1, 2
),
kept AS MATERIALIZED (
  SELECT uuid FROM canonu WHERE substr(uuid, 1, 1) NOT IN ('0', '1', '2')
),
erefs AS MATERIALIZED (
  SELECT cs.uuid AS src_uuid, co.uuid AS dst_uuid
  FROM eds e
  JOIN canonu cs ON cs.group_id = e.group_id AND cs.name = e.subj
  JOIN canonu co ON co.group_id = e.group_id AND co.name = e.obj
),
ment AS MATERIALIZED (
  SELECT DISTINCT m.group_id,
         md5(m.url || '|' || m.para_idx) AS episode_uuid,
         cu.uuid AS entity_uuid
  FROM mentions_g m
  JOIN canon c ON c.group_id = m.group_id AND c.base = m.base
  JOIN canonu cu ON cu.group_id = m.group_id AND cu.name = c.canon_name
)
SELECT 'edge_src_missing' AS "check",
       CAST(sum(CASE WHEN k.uuid IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_bad,
       CAST(count(*) AS BIGINT) AS n_total
FROM erefs LEFT JOIN kept k ON k.uuid = erefs.src_uuid
UNION ALL
SELECT 'edge_dst_missing',
       CAST(sum(CASE WHEN k.uuid IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(count(*) AS BIGINT)
FROM erefs LEFT JOIN kept k ON k.uuid = erefs.dst_uuid
UNION ALL
SELECT 'mention_entity_missing',
       CAST(sum(CASE WHEN k.uuid IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(count(*) AS BIGINT)
FROM ment LEFT JOIN kept k ON k.uuid = ment.entity_uuid
UNION ALL
SELECT 'mention_episode_missing', CAST(0 AS BIGINT),
       CAST(count(*) AS BIGINT)
FROM ment"""
    return _kg_sql(body, with_eds=True)


def _sql_kg_fact_churn() -> str:
    body = f"""
, final AS ({_TRIPLES_SELECT}),
newf AS (
  SELECT group_id, strftime(valid_at, '%Y-%m-%d') AS day, count(*) AS n_new
  FROM final GROUP BY 1, 2
),
invf AS (
  SELECT group_id, strftime(invalid_at, '%Y-%m-%d') AS day, count(*) AS n_invalidated
  FROM final WHERE invalid_at IS NOT NULL GROUP BY 1, 2
)
SELECT coalesce(n.group_id, i.group_id) AS group_id,
       coalesce(n.day, i.day) AS day,
       CAST(coalesce(n.n_new, 0) AS BIGINT) AS n_new,
       CAST(coalesce(i.n_invalidated, 0) AS BIGINT) AS n_invalidated
FROM newf n
FULL JOIN invf i ON i.group_id = n.group_id AND i.day = n.day"""
    return _kg_sql(body, with_eds=True)


def _sql_kg_verbalize() -> str:
    from ..operators.export import SENTENCE_SQL

    body = f"""
, final AS ({_TRIPLES_SELECT}),
sents AS (
  SELECT group_id, subj, {SENTENCE_SQL} AS sentence FROM final
),
agg AS (
  SELECT group_id, subj,
         string_agg(sentence, ' ' ORDER BY sentence) AS passage,
         CAST(count(*) AS BIGINT) AS n_facts
  FROM sents GROUP BY 1, 2
)
SELECT group_id, subj, passage, n_facts,
       CAST(len(string_split(passage, ' ')) AS BIGINT) AS n_tokens
FROM agg"""
    return _kg_sql(body, with_eds=True)


def _sql_kg_qa_pairs() -> str:
    from ..operators.export import QUESTION_SQL

    body = f"""
, final AS ({_TRIPLES_SELECT})
SELECT group_id, pred, {QUESTION_SQL} AS question, obj AS answer,
       CAST(invalid_at IS NULL AS INT) AS currently_true,
       n_episodes AS support
FROM final"""
    return _kg_sql(body, with_eds=True)


def _sql_kg_ntriples() -> str:
    # escape chain written in DuckDB literal syntax (no backslash
    # escapes in standard SQL strings) — semantically identical to
    # export._nt_escape's DataFrame-function chain
    esc = (
        "replace(replace(replace(replace(fact,"
        " '\\', '\\\\'), '\"', '\\\"'),"
        " chr(10), '\\n'), chr(9), '\\t')"
    )
    xsd = "'\"^^<http://www.w3.org/2001/XMLSchema#date>'"
    body = f"""
, final AS ({_TRIPLES_SELECT}),
iri AS (
  SELECT group_id, fact, valid_at, invalid_at,
    '<urn:kg:' || group_id || ':e:' || md5(subj) || '>' AS s_iri,
    '<urn:kg:p:' || lower(pred) || '>' AS p_iri,
    '<urn:kg:' || group_id || ':e:' || md5(obj) || '>' AS o_iri
  FROM final
),
q AS (
  SELECT *, '<< ' || s_iri || ' ' || p_iri || ' ' || o_iri || ' >>' AS quoted
  FROM iri
)
SELECT group_id, 'spo' AS kind,
       s_iri || ' ' || p_iri || ' ' || o_iri || ' .' AS line FROM q
UNION ALL
SELECT group_id, 'fact',
       quoted || ' <urn:kg:p:fact> \"' || {esc} || '\" .' FROM q
UNION ALL
SELECT group_id, 'valid_from',
       quoted || ' <urn:kg:p:valid_from> \"'
       || substr(cast(valid_at as string), 1, 10) || {xsd} || ' .'
FROM q WHERE valid_at IS NOT NULL
UNION ALL
SELECT group_id, 'valid_until',
       quoted || ' <urn:kg:p:valid_until> \"'
       || substr(cast(invalid_at as string), 1, 10) || {xsd} || ' .'
FROM q WHERE invalid_at IS NOT NULL"""
    return _kg_sql(body, with_eds=True)


def _sql_kg_node_features() -> str:
    n = LPA_ORACLE_ROUNDS
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
base AS (
  SELECT e.group_id, c.canon_name AS name,
         string_agg(DISTINCT coalesce(al.label, 'Entity'), '/'
                    ORDER BY coalesce(al.label, 'Entity')) AS labels_str,
         CAST(count(DISTINCT e.name) AS BIGINT) AS n_aliases
  FROM ents e
  JOIN canon c ON c.group_id = e.group_id AND c.base = e.base
  LEFT JOIN alias_label al ON al.group_id = e.group_id AND al.name = e.name
  GROUP BY 1, 2
),"""
        + f"""
final AS ({_TRIPLES_SELECT}),
deg_legs AS (
  SELECT group_id, subj AS name, 1 AS as_subj, 0 AS as_obj, invalid_at FROM final
  UNION ALL
  SELECT group_id, obj, 0, 1, invalid_at FROM final
),
deg AS (
  SELECT group_id, name,
         CAST(sum(as_subj) AS BIGINT) AS out_facts,
         CAST(sum(as_obj) AS BIGINT) AS in_facts,
         CAST(sum(CASE WHEN invalid_at IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_valid
  FROM deg_legs GROUP BY 1, 2
)"""
        + communities_ctes()
        + f""",
csize AS (
  SELECT l.group_id, cn.canon_name AS name,
         CAST(a.n_members AS BIGINT) AS community_size
  FROM l{n} l
  JOIN canonu cn ON cn.group_id = l.group_id AND cn.uuid = l.uuid
  JOIN agg a ON a.group_id = l.group_id AND a.community = l.community
)
SELECT b.group_id, b.name, b.labels_str, b.n_aliases,
       CAST(coalesce(d.out_facts, 0) AS BIGINT) AS out_facts,
       CAST(coalesce(d.in_facts, 0) AS BIGINT) AS in_facts,
       CAST(coalesce(d.n_valid, 0) AS BIGINT) AS n_valid,
       CAST(coalesce(cs.community_size, 1) AS BIGINT) AS community_size
FROM base b
LEFT JOIN deg d ON d.group_id = b.group_id AND d.name = b.name
LEFT JOIN csize cs ON cs.group_id = b.group_id AND cs.name = b.name"""
    )
    return _kg_sql(body, with_eds=True)


def _sql_kg_global_entities() -> str:
    norm = norm_sql("canon_name", duck=True)
    body = f"""
, al AS (
  SELECT e.group_id, c.canon_name,
         CAST(count(DISTINCT e.name) AS BIGINT) AS n_aliases
  FROM ents e
  JOIN canon c ON c.group_id = e.group_id AND c.base = e.base
  GROUP BY 1, 2
),
keyed AS (
  SELECT group_id, canon_name, n_aliases, {norm} AS global_key FROM al
)
SELECT global_key,
       min(canon_name) AS canonical_name,
       CAST(count(DISTINCT group_id) AS BIGINT) AS n_groups,
       CAST(count(*) AS BIGINT) AS n_entities,
       CAST(sum(n_aliases) AS BIGINT) AS total_aliases,
       md5('global|' || global_key) AS global_uuid
FROM keyed GROUP BY global_key"""
    return _kg_sql(body)


def _sql_kg_global_triples() -> str:
    from ..ontology import DEFAULT

    def norm(col: str) -> str:
        return norm_sql(col, duck=True)

    body = f"""
, final AS ({_TRIPLES_SELECT}),
keyed AS (
  SELECT *, {norm('subj')} AS subj_key,
         {DEFAULT.synonym_class_sql('pred')} AS pred_class,
         {norm('obj')} AS obj_key
  FROM final
)
SELECT subj_key, pred_class, obj_key,
       min(subj) AS subj, min(obj) AS obj,
       CAST(count(DISTINCT group_id) AS BIGINT) AS n_groups,
       CAST(count(*) AS BIGINT) AS n_facts,
       CAST(sum(CASE WHEN invalid_at IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_valid,
       min(valid_at) AS first_valid_at,
       max(valid_at) AS last_valid_at,
       CAST(CASE WHEN count(DISTINCT group_id) >= 2 THEN 1 ELSE 0 END
            AS BIGINT) AS corroborated,
       md5('gfact|' || subj_key || '|' || pred_class || '|' || obj_key)
         AS global_fact_uuid
FROM keyed GROUP BY subj_key, pred_class, obj_key"""
    return _kg_sql(body, with_eds=True)


def _sql_kg_global_conflicts() -> str:
    from ..ontology import DEFAULT

    funcs = ", ".join(f"'{p}'" for p in sorted(DEFAULT.functional))
    # majority vote tiebreak mirrors the Spark min_by struct(-n_obs,
    # obj_key): encode as a fixed-width composite string (n_obs < 1e9 at
    # oracle scale)
    vote_key = "lpad(CAST(1000000000 - n_obs AS VARCHAR), 10, '0') || '|' || obj_key"
    body = f"""
, final AS ({_TRIPLES_SELECT}),
validf AS (
  SELECT {norm_sql('subj', duck=True)} AS subj_key,
         {DEFAULT.synonym_class_sql('pred')} AS pred_class,
         {norm_sql('obj', duck=True)} AS obj_key,
         subj, group_id
  FROM final
  WHERE invalid_at IS NULL
    AND ({DEFAULT.synonym_class_sql('pred')}) IN ({funcs})
),
per_obj AS (
  SELECT subj_key, pred_class, obj_key, min(subj) AS subj,
         count(*) AS n_obs
  FROM validf GROUP BY 1, 2, 3
),
vote AS (
  SELECT subj_key, pred_class, min(subj) AS subj,
         CAST(count(*) AS BIGINT) AS n_objs,
         array_to_string(list_sort(list(obj_key)), ',') AS objs,
         arg_min(obj_key, {vote_key}) AS majority_obj,
         CAST(max(n_obs) AS BIGINT) AS majority_support,
         CAST(sum(n_obs) AS BIGINT) AS total_support
  FROM per_obj GROUP BY 1, 2
),
spread AS (
  SELECT subj_key, pred_class,
         CAST(count(DISTINCT group_id) AS BIGINT) AS n_groups
  FROM validf GROUP BY 1, 2
)
SELECT v.subj_key, v.pred_class, v.subj, v.n_objs, s.n_groups, v.objs,
       v.majority_obj, v.majority_support, v.total_support
FROM vote v JOIN spread s
  ON s.subj_key = v.subj_key AND s.pred_class = v.pred_class
WHERE v.n_objs >= 2 AND s.n_groups >= 2"""
    return _kg_sql(body, with_eds=True)


def _sql_kg_source_trust() -> str:
    from ..ontology import DEFAULT

    funcs = ", ".join(f"'{p}'" for p in sorted(DEFAULT.functional))
    vote_key = "lpad(CAST(1000000000 - n_obs AS VARCHAR), 10, '0') || '|' || obj_key"
    body = f"""
, final AS ({_TRIPLES_SELECT}),
validf AS (
  SELECT {norm_sql('subj', duck=True)} AS subj_key,
         {DEFAULT.synonym_class_sql('pred')} AS pred_class,
         {norm_sql('obj', duck=True)} AS obj_key,
         group_id
  FROM final
  WHERE invalid_at IS NULL
    AND ({DEFAULT.synonym_class_sql('pred')}) IN ({funcs})
),
claims AS (
  SELECT DISTINCT group_id, subj_key, pred_class, obj_key FROM validf
),
per_obj AS (
  SELECT subj_key, pred_class, obj_key, count(*) AS n_obs
  FROM validf GROUP BY 1, 2, 3
),
majority AS (
  SELECT subj_key, pred_class, arg_min(obj_key, {vote_key}) AS majority_obj
  FROM per_obj GROUP BY 1, 2
),
scored AS (
  SELECT c.group_id,
         CASE WHEN c.obj_key = m.majority_obj THEN 1 ELSE 0 END AS agree
  FROM claims c
  JOIN majority m
    ON m.subj_key = c.subj_key AND m.pred_class = c.pred_class
)
SELECT group_id,
       CAST(count(*) AS BIGINT) AS n_claims,
       CAST(sum(agree) AS BIGINT) AS n_agree,
       CAST((1000 * sum(agree)) // count(*) AS BIGINT) AS trust_permille
FROM scored GROUP BY group_id"""
    return _kg_sql(body, with_eds=True)
