"""Batch search operators (SURVEY.md §2.9, Q1-Q12 + Q14/Q15): the read
side of the engine, re-expressed as query-DataFrame × corpus-DataFrame
column pipelines.

Reference semantics mirrored (file:line into /root/reference):
- fulltext search over (name, fact / name, summary), group-filtered,
  top-k: graphiti_core/search/search_utils.py:146-197, 332-381 (Lucene
  BM25 in Neo4j) -> from-scratch BM25 (token explode -> df/idf agg ->
  tf-weighted join-sum). Scores are emitted in integer micro-units so the
  DuckDB oracle matches exactly (integer sums are order-independent,
  float sums are not).
- cosine similarity search with min_score 0.6 and group filter:
  search_utils.py:200-274, 384-444; DEFAULT_MIN_SCORE search_utils.py:50.
- BFS expansion 1..3 hops from origin nodes: search_utils.py:277-329,
  447-493 (MAX_SEARCH_DEPTH=3 at :52).
- node-distance reranker (shortest path to center, center first,
  unreachable last): search_utils.py:758-795.
- episode-mentions reranker: search_utils.py:798-822.
- RRF fusion score[uuid] += 1/(k + rank): search_utils.py:744-755
  (DEFAULT_RRF_K-style constant k=1 per rank_const usage).
- MMR diversity rerank, lambda 0.5: search_utils.py:825-838.
- hybrid search = union of methods + fusion + limit: search/search.py:
  61-358, search_utils.py:582-658.

BM25 parameters: k1=1.2, b=0.75, idf = ln(1 + (N - df + 0.5)/(df + 0.5)).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..session import local_frame

WORD_PATTERN = "[a-z0-9]+"
BM25_K1 = 1.2
BM25_B = 0.75
DEFAULT_MIN_SCORE = 0.6  # search_utils.py:50
DEFAULT_SEARCH_LIMIT = 10  # search/search_config.py:29
MAX_SEARCH_DEPTH = 3  # search_utils.py:52
RRF_K = 1  # rank offset in search_utils.py:751 (1 / (rank + 1-based pos))
MMR_LAMBDA = 0.5  # search_utils.py:51


def tokens(col) -> F.Column:
    return F.expr(f"regexp_extract_all(lower({col}), '{WORD_PATTERN}', 0)")


def make_queries_df(spark: SparkSession, queries: list[str]) -> DataFrame:
    """(query_id, query) — MAX_QUERY_LENGTH=32-word guard applied
    (search_utils.py:56-73: overlong queries return no results)."""
    df = local_frame(
        spark, list(enumerate(queries)), "query_id long, query string"
    )
    return df.where(F.size(tokens("query")) < 32)


def bm25_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    text_col: str,
    k: int = DEFAULT_SEARCH_LIMIT,
) -> DataFrame:
    """Top-k BM25 (query_id, rank, <id_col>, score_u) — the batch
    re-expression of the Lucene fulltext indexes (Q1-Q3).

    Physical plan: one shuffle to build the postings table grouped by
    term, one broadcast of the (tiny) query-term table, one hash
    aggregation per (query, doc). The postings build is the classic
    inverted-index-as-DataFrame; at 100 TB the postings table is the
    thing you persist, not recompute per query batch.
    """
    tf, dfreq, stats = _postings(corpus, id_col, text_col)
    return _bm25_rank(tf, dfreq, stats, _query_terms(queries), k).withColumnRenamed(
        "doc", id_col
    )


def _postings(
    corpus: DataFrame, id_col: str, text_col: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The BM25 inverted index of `corpus`: postings (doc, dl, term, tf),
    document frequencies (term, df) and the one-row corpus stats (n,
    avgdl)."""
    docs = corpus.select(
        F.col(id_col).alias("doc"), tokens(text_col).alias("toks")
    ).withColumn("dl", F.size("toks"))
    stats = docs.agg(F.count(F.lit(1)).alias("n"), F.avg("dl").alias("avgdl"))
    tf = (
        docs.select("doc", "dl", F.explode("toks").alias("term"))
        .groupBy("doc", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    return tf, dfreq, stats


def _query_terms(queries: DataFrame) -> DataFrame:
    """(query_id, term): the distinct tokens of each query."""
    return queries.select(
        "query_id", F.explode(F.array_distinct(tokens("query"))).alias("term")
    )


def _idf() -> F.Column:
    """BM25 idf over joined `n` / `df` columns."""
    return F.log(F.lit(1.0) + (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5))


def _bm25_rank(
    tf: DataFrame, dfreq: DataFrame, stats: DataFrame, qterms: DataFrame, k: int
) -> DataFrame:
    """(query_id, rank, doc, score_u): the top-k docs per query of
    `qterms` (query_id, term) over the postings."""
    scored = (
        tf.join(F.broadcast(qterms), "term")
        # dfreq is vocabulary-scaled (no forced broadcast; AQE decides) —
        # after the qterms semi-restriction it is usually tiny at runtime
        .join(dfreq, "term")
        .crossJoin(F.broadcast(stats))
        .withColumn("idf", _idf())
        .withColumn(
            "w",
            F.col("idf")
            * (F.col("tf") * (BM25_K1 + 1))
            / (F.col("tf") + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))),
        )
        # integer micro-units per term BEFORE summing: order-independent
        .withColumn("w_u", F.floor(F.col("w") * 1000000).cast("long"))
        .groupBy("query_id", "doc")
        .agg(F.sum("w_u").alias("score_u"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score_u"), F.asc("doc"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", F.col("rank").cast("long").alias("rank"), "doc", "score_u")
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = DEFAULT_SEARCH_LIMIT,
    min_score: float = DEFAULT_MIN_SCORE,
) -> DataFrame:
    """Similarity search (Q4-Q6): cosine against every query vector
    (`queries`: query_id, qvec), min_score filter, top-k per query.
    Queries broadcast; scoring is a single vectorized numpy matmul per
    Arrow batch (the corpus side streams, the query matrix rides the
    broadcast)."""
    q = queries.select("query_id", "qvec").toPandas()
    qm = np.stack(q["qvec"].to_numpy())  # (nq, dim)
    qn = qm / np.maximum(np.linalg.norm(qm, axis=1, keepdims=True), 1e-12)
    qids = q["query_id"].to_numpy()
    spark = corpus.sparkSession
    bq = spark.sparkContext.broadcast((qids, qn))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids, qnorm = bq.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cm = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            cn = cm / np.maximum(np.linalg.norm(cm, axis=1, keepdims=True), 1e-12)
            scores = cn @ qnorm.T  # (nc, nq)
            nc, nq = scores.shape
            out = pd.DataFrame(
                {
                    "query_id": np.tile(ids, nc),
                    "id": np.repeat(pdf[id_col].to_numpy(), nq),
                    "score": scores.ravel(),
                }
            )
            yield out[out["score"] >= min_score]

    id_type = corpus.schema[id_col].dataType.simpleString()
    scored = corpus.select(F.col(id_col), F.col(vec_col)).mapInPandas(
        gen, schema=f"query_id long, id {id_type}, score double"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", F.col("rank").cast("long").alias("rank"),
                F.col("id").alias(id_col), "score")
    )


def bfs_nodes(
    edges: DataFrame,
    origins: DataFrame,
    max_depth: int = MAX_SEARCH_DEPTH,
) -> DataFrame:
    """Node BFS (Q8/Q9 core): frontier expansion over the undirected edge
    list, keeping the minimal hop distance. origins: (origin_uuid, uuid).
    Returns (origin_uuid, uuid, depth). Each hop is one join + min-agg;
    depth is bounded (<=3), so the loop unrolls to a fixed DAG — no
    iterative checkpointing needed."""
    bidir = edges.select(
        F.col("source_node_uuid").alias("src"), F.col("target_node_uuid").alias("dst")
    ).union(
        edges.select(
            F.col("target_node_uuid").alias("src"),
            F.col("source_node_uuid").alias("dst"),
        )
    ).distinct()
    # Iterative frontier expansion MUST truncate lineage per hop: the
    # adjacency list and each frontier are checkpointed so hop d's plan
    # joins two materialized tables instead of nesting hop d-1's whole
    # plan (which itself nests the full upstream lineage — over a derived
    # graph like triples_view the un-truncated plan grows ~2x per hop and
    # Catalyst optimization alone takes minutes by depth 3). Same pattern
    # as connected_components (operators/resolve.py).
    bidir = bidir.localCheckpoint(eager=False)

    visited = origins.select("origin_uuid", "uuid", F.lit(0).alias("depth"))
    frontier = visited
    for d in range(1, max_depth + 1):
        # per-hop dedup: one row per (origin, node), not one per path —
        # without it a dense graph multiplies frontier rows combinatorially
        # across hops (path explosion) before the final min-depth groupBy.
        # The anti-join against visited keeps the frontier to NEW nodes
        # only: already-settled nodes (which on a dense graph are most of
        # each hop's expansion) are not re-expanded next round.
        nxt = (
            frontier.join(bidir, frontier.uuid == bidir.src)
            .select("origin_uuid", F.col("dst").alias("uuid"), F.lit(d).alias("depth"))
            .dropDuplicates(["origin_uuid", "uuid"])
            .join(
                visited.select("origin_uuid", "uuid"),
                ["origin_uuid", "uuid"],
                "left_anti",
            )
        ).localCheckpoint(eager=False)
        visited = visited.union(nxt)
        frontier = nxt
    # frontiers are disjoint from visited by construction, so each (origin,
    # node) appears once at its minimal depth already; the groupBy stays as
    # a cheap safety net for duplicate origin rows
    return visited.groupBy("origin_uuid", "uuid").agg(F.min("depth").alias("depth"))


def bfs_edges(
    edges: DataFrame,
    origins: DataFrame,
    max_depth: int = MAX_SEARCH_DEPTH,
) -> DataFrame:
    """Edge BFS (Q7 proper, search_utils.py:277-329): the DISTINCT edges
    lying on any undirected path of <= max_depth hops from an origin —
    i.e. edges with at least one endpoint within distance max_depth - 1.
    Returns (origin_uuid, source_node_uuid, target_node_uuid, name).
    Distances come from the deduped node BFS, so the expansion is linear
    in reachable nodes."""
    cols = ["source_node_uuid", "target_node_uuid", "name"]
    dist = bfs_nodes(edges, origins, max_depth - 1).select(
        "origin_uuid", "uuid", "depth"
    )
    src_hit = dist.select(
        "origin_uuid", F.col("uuid").alias("source_node_uuid")
    )
    dst_hit = dist.select(
        "origin_uuid", F.col("uuid").alias("target_node_uuid")
    )
    by_src = edges.join(src_hit, "source_node_uuid")
    by_dst = edges.join(dst_hit, "target_node_uuid")
    return (
        by_src.select("origin_uuid", *cols)
        .unionByName(by_dst.select("origin_uuid", *cols))
        .dropDuplicates(["origin_uuid", *cols])
    )


def node_distance_rerank(
    results: DataFrame, edges: DataFrame, center_uuid: str
) -> DataFrame:
    """Q9: rank search results by BFS distance to a center node; center
    first, unreachable last (search_utils.py:758-795)."""
    spark = results.sparkSession
    origins = local_frame(
        spark, [(center_uuid, center_uuid)], "origin_uuid string, uuid string"
    )
    dist = bfs_nodes(edges, origins).select(
        F.col("uuid"), F.col("depth").alias("distance")
    )
    return (
        results.join(dist, "uuid", "left")
        .withColumn("distance", F.coalesce("distance", F.lit(2**31)))
        .orderBy("distance", "uuid")
    )


def episode_mentions_rerank(results: DataFrame, mention_edges: DataFrame) -> DataFrame:
    """Q10: rank by MENTIONS count (search_utils.py:798-822 + A2)."""
    counts = mention_edges.groupBy(F.col("entity_uuid").alias("uuid")).agg(
        F.count(F.lit(1)).alias("n_mentions")
    )
    return (
        results.join(counts, "uuid", "left")
        .withColumn("n_mentions", F.coalesce("n_mentions", F.lit(0)))
        .orderBy(F.desc("n_mentions"), "uuid")
    )


def rrf(ranked_lists: list[DataFrame], id_col: str) -> DataFrame:
    """Q11: reciprocal rank fusion — the reference scores
    1/(i + rank_const) with 0-based list position i (search_utils.py:
    744-755), so with our 1-based rank the contribution is
    1/(k + rank - 1) with k = RRF_K: the top hit of a list gets 1/k.
    Integer micro-units so the SQL oracle matches bit-for-bit. Input
    frames: (query_id, rank, <id_col>)."""
    u = ranked_lists[0]
    for nxt in ranked_lists[1:]:
        u = u.select("query_id", "rank", id_col).unionByName(
            nxt.select("query_id", "rank", id_col)
        )
    scored = u.withColumn(
        "c_u", F.expr(f"1000000 div ({RRF_K} + rank - 1)")
    ).groupBy("query_id", id_col).agg(F.sum("c_u").alias("rrf_u"))
    w = Window.partitionBy("query_id").orderBy(F.desc("rrf_u"), F.asc(id_col))
    return scored.withColumn("rank", F.row_number().over(w)).select(
        "query_id", F.col("rank").cast("long").alias("rank"), id_col, "rrf_u"
    )


def mmr_rerank(
    candidates: DataFrame,
    id_col: str,
    vec_col: str,
    qvec_col: str,
    k: int = DEFAULT_SEARCH_LIMIT,
) -> DataFrame:
    """Q12: maximal marginal relevance (lambda = MMR_LAMBDA) — greedy
    diversity rerank inside a grouped pandas UDF per query (the candidate
    set per query is already top-N small; the greedy loop is O(k * n)
    numpy)."""
    def pick(pdf: pd.DataFrame) -> pd.DataFrame:
        vecs = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
        vecs = vecs / np.maximum(np.linalg.norm(vecs, axis=1, keepdims=True), 1e-12)
        qv = np.asarray(pdf[qvec_col].iloc[0], dtype=np.float64)
        qv = qv / max(np.linalg.norm(qv), 1e-12)
        rel = vecs @ qv
        chosen: list[int] = []
        rest = list(range(len(pdf)))
        while rest and len(chosen) < k:
            if chosen:
                div = (vecs[rest] @ vecs[chosen].T).max(axis=1)
            else:
                div = np.zeros(len(rest))
            mmr = MMR_LAMBDA * rel[rest] - (1 - MMR_LAMBDA) * div
            best = rest[int(np.argmax(mmr))]
            chosen.append(best)
            rest.remove(best)
        out = pdf.iloc[chosen][["query_id", id_col]].copy()
        out["rank"] = np.arange(1, len(chosen) + 1, dtype=np.int64)
        return out

    return candidates.groupBy("query_id").applyInPandas(
        pick, schema=f"query_id long, {id_col} string, rank long"
    )


def hybrid_search(
    corpus: DataFrame,
    queries_text: DataFrame,
    queries_vec: DataFrame,
    id_col: str,
    text_col: str,
    vec_col: str,
    limit: int = DEFAULT_SEARCH_LIMIT,
) -> DataFrame:
    """Q14/Q15: fulltext ∪ cosine (each over-fetching 2x limit,
    search/search.py:151-165), RRF-fused, truncated to limit."""
    ft = bm25_topk(corpus, queries_text, id_col, text_col, k=2 * limit)
    cos = cosine_topk(corpus, queries_vec, id_col, vec_col, k=2 * limit)
    fused = rrf([ft, cos], id_col)
    return fused.where(F.col("rank") <= limit)


def retrieve_episodes(
    episodes: DataFrame,
    reference_time,
    last_n: int = 3,
    group_ids: list[str] | None = None,
) -> DataFrame:
    """S9/W1: last-n episodes per group with valid_at <= reference_time,
    returned chronologically (graph_data_operations.py:104-159,
    EPISODE_WINDOW_LEN=3 at :26)."""
    e = episodes.where(F.col("valid_at") <= F.lit(reference_time))
    if group_ids:
        e = e.where(F.col("group_id").isin(group_ids))
    w = Window.partitionBy("group_id").orderBy(F.desc("valid_at"), F.desc("uuid"))
    return (
        e.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= last_n)
        .drop("rn")
        .orderBy("group_id", "valid_at", "uuid")
    )


def node_label_filter(nodes: DataFrame, labels: list[str]) -> DataFrame:
    """P1 (search_filters.py:41-47 node_labels): keep nodes whose label
    set intersects the requested labels — arrays_overlap stays inside
    whole-stage codegen and pushes the scan down to the labels column."""
    return nodes.where(
        F.arrays_overlap(F.col("labels"), F.array(*[F.lit(x) for x in labels]))
    )


def edge_date_filter(
    edges: DataFrame, clauses: list[list[tuple[str, str, object]]]
) -> DataFrame:
    """P2: OR-of-ANDs date predicates over the four temporal columns with
    the six comparison operators (search_filters.py:25-31, 65-171)."""
    ops = {
        "=": lambda c, v: c == v, "<>": lambda c, v: c != v,
        ">": lambda c, v: c > v, "<": lambda c, v: c < v,
        ">=": lambda c, v: c >= v, "<=": lambda c, v: c <= v,
        "is_null": lambda c, v: c.isNull(),
        "is_not_null": lambda c, v: c.isNotNull(),
    }
    disj = None
    for clause in clauses:
        conj = None
        for col, op, val in clause:
            pred = ops[op](F.col(col), F.lit(val) if val is not None else None)
            conj = pred if conj is None else (conj & pred)
        disj = conj if disj is None else (disj | conj)
    return edges.where(disj) if disj is not None else edges


def entity_timeline(triples: DataFrame) -> DataFrame:
    """Per-entity time-ordered fact history — the entity 'biography'
    view (every fact the entity participates in, as subject or object,
    sequenced by valid_at). One window partitioned by (group, entity):
    the partition is an entity's OWN facts (bounded by entity degree,
    never corpus-scaled), so the sort is local and skew follows hub
    degree — the same AQE-handled skew as every other per-entity op.
    The order key (valid_at, pred, other, role) is total per entity, so
    seq is deterministic."""
    subj_leg = triples.select(
        "group_id",
        F.col("subj").alias("name"),
        F.lit("subject").alias("role"),
        "pred",
        F.col("obj").alias("other"),
        "valid_at",
        "invalid_at",
    )
    obj_leg = triples.select(
        "group_id",
        F.col("obj").alias("name"),
        F.lit("object").alias("role"),
        "pred",
        F.col("subj").alias("other"),
        "valid_at",
        "invalid_at",
    )
    w = Window.partitionBy("group_id", "name").orderBy(
        "valid_at", "pred", "other", "role"
    )
    return subj_leg.unionByName(obj_leg).select(
        "group_id",
        "name",
        F.row_number().over(w).cast("long").alias("seq"),
        "role",
        "pred",
        "other",
        "valid_at",
        "invalid_at",
    )


def shared_affiliation(triples: DataFrame) -> DataFrame:
    """Motif query (GraphFrames-style): (a)-[WORKS_AT]->(x)<-[WORKS_AT]-(b),
    a < b, over currently-valid edges only (invalid_at null — superseded
    affiliations don't pair). One self-equi-join co-partitioned on
    (group_id, x); hot-hub skew on x is the AQE skew-join case, never a
    cartesian."""
    aff = triples.where(
        (F.col("pred") == "WORKS_AT") & F.col("invalid_at").isNull()
    ).select("group_id", F.col("subj").alias("person"), F.col("obj").alias("org"))
    a, b = aff.alias("a"), aff.alias("b")
    return (
        a.join(b, ["group_id", "org"])
        .where(F.col("a.person") < F.col("b.person"))
        .select(
            "group_id",
            "org",
            F.col("a.person").alias("person_a"),
            F.col("b.person").alias("person_b"),
        )
    )


def asof_snapshot(edges: DataFrame, ts: str) -> DataFrame:
    """Bi-temporal point-in-time view: the facts the graph held true AT
    time `ts` — valid_at <= ts and not yet invalidated at ts (the
    valid-time axis of the reference's EntityEdge valid_at/invalid_at
    pair, edges.py:205-212; the special case of P2 the reference's
    callers build by hand). Edges with unknown (null) valid_at are
    excluded — their validity at ts is unknowable.

    Pure codegen'd filter over the canonical edge table: at scale this
    prunes at the parquet scan (valid_at is a min/max-indexed column),
    so a snapshot query never touches post-ts row groups.
    """
    t = F.to_timestamp(F.lit(ts))
    return edges.where(
        (F.col("valid_at") <= t)
        & (F.col("invalid_at").isNull() | (F.col("invalid_at") > t))
    )


def ir_eval(
    corpus: DataFrame,
    queries: DataFrame,
    ranking: DataFrame,
    id_col: str,
) -> DataFrame:
    """Retrieval-quality scorecard for a ranking over `corpus`
    (<id_col>, text), against a deterministic conjunctive qrel: a
    document is RELEVANT to a query
    iff it contains EVERY query term (the boolean-AND judgment — the
    strictest labeled set derivable from the corpus itself, no human
    labels needed; the standard self-supervised eval for lexical
    retrievers). Per query, integer-exact:

      n_rel          size of the relevant set in the whole corpus
      hits_at_5/10   relevant docs inside the ranking's top-5 / top-10
      first_rel_rank rank of the first relevant hit (0 = none in top-10)

    The float metrics a dashboard wants (MRR = mean 1/first_rel_rank,
    recall@10 = hits/n_rel) are one division away from these columns —
    the engine emits the exact integers, so the table hashes stably
    across engines and merges across eval shards.

    Plan: one distinct (doc, term) postings pass (the same shuffle
    family bm25_topk already builds), a broadcast of the tiny
    query-term table, one (query, doc) match count, and a semi-join of
    the top-10 ranking (DEFAULT_SEARCH_LIMIT) against the qrel — output is one row per query.
    """
    qterms = queries.select(
        "query_id",
        F.explode(F.array_distinct(tokens("query"))).alias("term"),
    )
    n_terms = qterms.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_terms")
    )
    posting = (
        corpus.select(
            F.col(id_col).alias("doc"),
            F.explode(F.array_distinct(tokens("text"))).alias("term"),
        )
    )
    n_match = (
        posting.join(F.broadcast(qterms), "term")
        .groupBy("query_id", "doc")
        .agg(F.count(F.lit(1)).alias("n_match"))
    )
    qrel = (
        n_match.join(F.broadcast(n_terms), "query_id")
        .where(F.col("n_match") == F.col("n_terms"))
        .select("query_id", "doc")
    )
    nrel = qrel.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_rel"))
    hits = (
        ranking.where(F.col("rank") <= DEFAULT_SEARCH_LIMIT)
        .select("query_id", "rank", F.col(id_col).alias("doc"))
        .join(qrel, ["query_id", "doc"], "semi")
    )
    agg = hits.groupBy("query_id").agg(
        F.sum(F.expr("CASE WHEN rank <= 5 THEN 1 ELSE 0 END")).alias(
            "hits_at_5"
        ),
        F.count(F.lit(1)).alias(f"hits_at_{DEFAULT_SEARCH_LIMIT}"),
        F.min("rank").alias("first_rel_rank"),
    )
    base = queries.select("query_id").distinct()
    return (
        base.join(nrel, "query_id", "left")
        .join(agg, "query_id", "left")
        .select(
            "query_id",
            *[
                F.coalesce(F.col(c), F.lit(0)).cast("long").alias(c)
                for c in ["n_rel", "hits_at_5", f"hits_at_{DEFAULT_SEARCH_LIMIT}",
                          "first_rel_rank"]
            ],
        )
    )


def bm25_prf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    text_col: str,
    fb_k: int = 5,
    n_exp: int = 3,
    k: int = DEFAULT_SEARCH_LIMIT,
) -> DataFrame:
    """Pseudo-relevance-feedback retrieval (Rocchio / RM3-lite): BM25
    pass 1 takes the top fb_k docs per query as assumed-relevant
    feedback, the n_exp highest-weighted non-query terms of those docs
    (weight = feedback term frequency x integer idf) expand the query,
    and BM25 pass 2 ranks with the expanded term set — the classic
    recall lever when query vocabulary and document vocabulary diverge
    (Lavrenko & Croft 2001; unit expansion weight, i.e. Rocchio with
    beta = 1).

    Determinism: idf_u = floor(ln(1 + (N - df + 0.5)/(df + 0.5)) * 1e6)
    — the identical float-then-floor recipe the BM25 oracle already
    proves engine-portable; expansion ties break on term asc.

    Scale plan: the postings (tf) and df tables are built ONCE and
    persisted — they are the inverted index both passes and the
    expansion read (at 100 TB this is the persisted index table, the
    whole point of PRF being cheap); pass-1/expansion/pass-2 each add
    only skinny query-keyed joins and bounded per-query top-k windows.
    """
    tf, dfreq, stats = _postings(corpus, id_col, text_col)
    tf, dfreq = tf.persist(), dfreq.persist()
    qterms = _query_terms(queries)

    fb = _bm25_rank(tf, dfreq, stats, qterms, fb_k).select("query_id", "doc")
    # expansion term weight: total feedback tf x integer idf, original
    # query terms excluded; deterministic top-n_exp per query
    exp = (
        tf.join(fb, "doc")
        .groupBy("query_id", "term")
        .agg(F.sum("tf").alias("tsum"))
        .join(dfreq, "term")
        .crossJoin(F.broadcast(stats))
        .withColumn("idf_u", F.floor(_idf() * 1000000).cast("long"))
        .withColumn("rel_u", F.col("tsum") * F.col("idf_u"))
        .join(qterms, ["query_id", "term"], "left_anti")
    )
    we = Window.partitionBy("query_id").orderBy(F.desc("rel_u"), F.asc("term"))
    exp_terms = (
        exp.withColumn("r", F.row_number().over(we))
        .where(F.col("r") <= n_exp)
        .select("query_id", "term")
    )
    q2 = qterms.unionByName(exp_terms).distinct()
    out = _bm25_rank(tf, dfreq, stats, q2, k).withColumnRenamed("doc", id_col)
    # materialize the skinny result (<= k rows per query) while the
    # postings index is still cached, then release it — otherwise each
    # invocation leaves tf/dfreq pinned in executor storage for the
    # session (they'd only go away via LRU pressure)
    out = out.localCheckpoint(eager=True)
    tf.unpersist()
    dfreq.unpersist()
    return out
