"""GraphitiSpark — the batch-native facade matching the reference's
public `Graphiti` surface (/root/reference/graphiti_core/graphiti.py:91-787)
so a user of the reference can run every operation they run today:

| reference (async, per-episode)             | here (batch DataFrames)        |
|--------------------------------------------|--------------------------------|
| add_episode / add_episode_bulk (:254,:493) | add_pages / build               |
| retrieve_episodes (:221)                   | retrieve_episodes               |
| search + recipes (:630; search_config_recipes.py) | search(config=...)      |
| get_nodes_and_edges_by_episode (:710)      | nodes_and_edges_by_episode      |
| add_triplet (:723)                         | add_triplet                     |
| build_communities (:606)                   | build_communities               |
| remove_episode (:758)                      | remove_episodes                 |
| build_indices_and_constraints (:186)       | no-op (Iceberg stats/pruning)   |

Search recipes mirror search_config_recipes.py:31-202: hybrid
fulltext+cosine with the configured reranker; `_CROSS_ENCODER` recipes
rerank with the deterministic cross-encoder scorer
(operators/cross_encoder.py) behind the reference client surface.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession, functions as F

from .functions.embed import embed_texts, with_embedding
from .operators import search as S
from .operators.communities import build_communities as _build_communities
from .operators.triplet import add_triplets
from .plans.pipeline import GraphTables, build_graph, triples_view
from .session import local_frame


@dataclass(frozen=True)
class SearchConfig:
    """search_config.py:95-99 analogue: scope + reranker + limit."""

    scope: str = "edges"  # edges | nodes | combined
    reranker: str = "rrf"  # rrf | mmr | node_distance | episode_mentions
    #                        | cross_encoder | cross_encoder_learned
    #                        | pagerank | closeness
    limit: int = S.DEFAULT_SEARCH_LIMIT


@dataclass(frozen=True)
class SearchFilters:
    """search_filters.py:41-62 analogue, threaded through every search
    method like the reference's `search(..., search_filter=...)`
    (search/search.py:68,91,103).

    node_labels: keep nodes carrying any of these labels (P1).
    edge_types: keep edges whose relation name is in this list.
    valid_at / invalid_at / created_at / expired_at: OR-of-ANDs clause
    lists over that temporal column — each inner list is a conjunction of
    (op, value) with op in =, <>, >, <, >=, <=, is_null, is_not_null
    (search_filters.py:25-38 DateFilter + ComparisonOperator). Fields are
    ANDed together, mirroring the reference's per-field query_and.
    """

    node_labels: list[str] | None = None
    edge_types: list[str] | None = None
    valid_at: list[list[tuple]] | None = None
    invalid_at: list[list[tuple]] | None = None
    created_at: list[list[tuple]] | None = None
    expired_at: list[list[tuple]] | None = None

    def edge_clauses(self) -> list[tuple[str, list[list[tuple]]]]:
        return [
            (col, cl)
            for col, cl in (
                ("valid_at", self.valid_at),
                ("invalid_at", self.invalid_at),
                ("created_at", self.created_at),
                ("expired_at", self.expired_at),
            )
            if cl
        ]


EDGE_HYBRID_SEARCH_RRF = SearchConfig("edges", "rrf")
EDGE_HYBRID_SEARCH_MMR = SearchConfig("edges", "mmr")
EDGE_HYBRID_SEARCH_NODE_DISTANCE = SearchConfig("edges", "node_distance")
EDGE_HYBRID_SEARCH_EPISODE_MENTIONS = SearchConfig("edges", "episode_mentions")
EDGE_HYBRID_SEARCH_CROSS_ENCODER = SearchConfig("edges", "cross_encoder")
EDGE_HYBRID_SEARCH_PAGERANK = SearchConfig("edges", "pagerank")
EDGE_HYBRID_SEARCH_CLOSENESS = SearchConfig("edges", "closeness")
NODE_HYBRID_SEARCH_RRF = SearchConfig("nodes", "rrf")
NODE_HYBRID_SEARCH_MMR = SearchConfig("nodes", "mmr")
NODE_HYBRID_SEARCH_NODE_DISTANCE = SearchConfig("nodes", "node_distance")
NODE_HYBRID_SEARCH_EPISODE_MENTIONS = SearchConfig("nodes", "episode_mentions")
NODE_HYBRID_SEARCH_CROSS_ENCODER = SearchConfig("nodes", "cross_encoder")
NODE_HYBRID_SEARCH_PAGERANK = SearchConfig("nodes", "pagerank")
NODE_HYBRID_SEARCH_CLOSENESS = SearchConfig("nodes", "closeness")
COMBINED_HYBRID_SEARCH_RRF = SearchConfig("combined", "rrf")
COMBINED_HYBRID_SEARCH_MMR = SearchConfig("combined", "mmr")
COMBINED_HYBRID_SEARCH_CROSS_ENCODER = SearchConfig("combined", "cross_encoder")
COMMUNITY_HYBRID_SEARCH_RRF = SearchConfig("communities", "rrf")
COMMUNITY_HYBRID_SEARCH_MMR = SearchConfig("communities", "mmr")
COMMUNITY_HYBRID_SEARCH_CROSS_ENCODER = SearchConfig("communities", "cross_encoder")


@contextmanager
def _side_leg(spark: SparkSession, fn):
    """Run `fn` on a side thread while the `with` body runs on this one;
    join on exit and re-raise the side thread's error. The side thread
    keeps the caller's Spark job group, description and job tags."""
    err: list[BaseException] = []

    def run() -> None:
        try:
            fn()
        except BaseException as e:  # re-raised on the calling thread
            err.append(e)

    th = threading.Thread(target=inheritable_thread_target(spark)(run), daemon=True)
    th.start()
    try:
        yield
    finally:
        th.join()
    if err:
        raise err[0]


class GraphitiSpark:
    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.tables: GraphTables | None = None
        self._comm: tuple[DataFrame, DataFrame] | None = None
        # non-page mutations (add_triplet / remove_episodes) recorded in
        # chronological order, replayed after any page-driven rebuild so
        # interleaved mutations converge to the same tables as the
        # equivalent one-shot build (the Iceberg pattern: base tables +
        # a mutation log MERGEd on top; uuids are deterministic so a
        # removal tombstones the same episode across rebuilds)
        self._mutation_log: list[tuple[str, tuple]] = []

    # -- ingestion ---------------------------------------------------------

    def build(self, sf_dir: str, **kwargs) -> GraphTables:
        """add_episode_bulk analogue: runs the full construction DAG and
        returns with every table committed: episodes, nodes, edges,
        mention_edges and both embedding indexes (nodes_emb / edges_emb,
        the reference's name/fact embeddings stored at ingest). The
        facade is a long-lived handle that serves many reads, so the
        construction lineage must not re-run per query (the production
        analogue: the DAG's outputs live as Iceberg tables, read not
        recomputed)."""
        t = build_graph(self.spark, sf_dir, **kwargs)
        self._replace_tables(t)
        # localCheckpoint truncates lineage: without it every search
        # re-optimizes the full construction plan (LSH band expressions
        # etc.) per action — measured 123s -> ~5s for a cross-encoder
        # search at sf0.001. nodes / edges are committed by GraphTables
        # when first read.
        t.episodes = t.episodes.localCheckpoint(eager=True)
        # uuid_map is the shared upstream of every leg below: force it
        # here, so no stage is ever built by two threads at once. Then the
        # legs off the critical path (mention_edges; the fact embeddings,
        # whose Python-worker start hides behind the node build) commit on
        # side threads while this thread commits edges -> nodes -> nodes_emb.
        t.uuid_map
        with _side_leg(self.spark, lambda: setattr(
                t, "mention_edges", t.mention_edges.localCheckpoint(eager=True))):
            t.edges
            with _side_leg(self.spark, lambda: t.edges_emb.count()):
                t.nodes_emb.count()
        self._comm = None
        self._drop_comm_emb()
        self._mutation_log = []
        return self.tables

    def _rerank_by_node_score(
        self, res: DataFrame, scope: str, scores: DataFrame
    ) -> DataFrame:
        """Order search results by a per-node score table `scores`
        (_n node uuid, score column): node results by their own score,
        edge results by their SOURCE node's (like node_distance). Unscored
        rows score 0; ties break on uuid."""
        col = scores.columns[1]
        key = "source_node_uuid" if scope == "edges" else "uuid"
        if scope == "edges":
            res = res.join(self._t().edges.select("uuid", key), "uuid", "left")
        out = res.join(scores.withColumnRenamed("_n", key), key, "left").withColumn(
            col, F.coalesce(col, F.lit(0))
        )
        if scope == "edges":
            out = out.drop(key)
        return out.orderBy(F.desc(col), "uuid")

    def _replace_tables(self, t: GraphTables) -> None:
        """Swap in a new graph, releasing the persisted embedding indexes
        of the one it replaces."""
        if self.tables is not None:
            self.tables.release()
        self.tables = t

    def _drop_comm_emb(self) -> None:
        stale = getattr(self, "_comm_emb", None)
        if stale is not None:
            stale.unpersist()
        self._comm_emb = None

    def add_pages(self, pages: DataFrame) -> GraphTables:
        """Incremental ingest (the reference's add_episode upsert,
        graphiti.py:254-490, re-expressed batch): an upsert keyed by url —
        re-ingesting a url replaces it — where the EXPENSIVE stages
        (clean+chunk, regex extraction over page text) run only on the
        NEW pages; the committed episode/extraction stage tables of the
        prior build are reused for every retained url (the Iceberg MERGE
        pattern: append to the stage table, never re-derive it). The
        skinny downstream — entity resolution over distinct names, edge
        grouping, invalidation — re-runs over the combined extraction,
        which is exactly what makes the result identical to a full
        rebuild: a new alias can bridge two old clusters, and a new
        contradicting fact can invalidate an old edge, so those stages
        are global by design (pytest pins incremental == full rebuild).
        """
        have = pages.columns
        if self.tables is None:
            self.tables = GraphTables(pages)
            return self.tables
        old = self.tables
        new_urls = pages.select("url").distinct()
        retained_pages = old.pages.select(*have).join(new_urls, "url", "left_anti")
        combined = retained_pages.unionByName(pages.select(*have))
        # the rebuild keeps the configuration the graph was built with
        t = GraphTables(combined, ontology=old.ontology)

        # stage reuse: episodes + extraction of retained urls come from
        # the prior build's committed tables; only new pages are cleaned,
        # chunked and extracted
        from .operators.episodes import build_episodes
        from .operators.extract import extract_all

        retained_eps = old.episodes.join(new_urls, "url", "left_anti")
        new_eps = build_episodes(pages)
        t.episodes = retained_eps.unionByName(new_eps)

        drop_eps = old.episodes.join(new_urls, "url", "left_semi").select(
            F.col("uuid").alias("episode_uuid")
        )
        retained_ex = old.extracted.join(drop_eps, "episode_uuid", "left_anti")
        t.extracted = t._commit(retained_ex.unionByName(extract_all(new_eps)))
        self._replace_tables(t)
        # communities (and their embedding index) describe the pre-ingest
        # graph: drop them so community search rebuilds over the new one
        self._comm = None
        self._drop_comm_emb()
        # the rebuild derived nodes/edges from pages alone; replay the
        # non-page mutation log in chronological order so earlier
        # add_triplet / remove_episodes survive the rebuild (convergence
        # with the equivalent one-shot build is pytest-pinned)
        for kind, args in self._mutation_log:
            if kind == "add_triplet":
                self._apply_add_triplet(*args)
            else:
                self._apply_remove_episodes(list(args))
        return t

    def triples(self) -> DataFrame:
        return triples_view(self._t())

    # -- reads -------------------------------------------------------------

    def retrieve_episodes(self, reference_time, last_n: int = 3,
                          group_ids: list[str] | None = None) -> DataFrame:
        return S.retrieve_episodes(
            self._t().episodes, reference_time, last_n, group_ids
        )

    def get_nodes_by_uuids(self, uuids: list[str]) -> DataFrame:
        """S6 (nodes.py:298-347): point/keyed entity lookup — a broadcast-
        able semi-join filter; Iceberg/parquet stats prune the scan."""
        return self._t().nodes.where(F.col("uuid").isin(uuids))

    def get_edges_by_uuids(self, uuids: list[str]) -> DataFrame:
        """S6 (edges.py:233-292): point/keyed fact-edge lookup."""
        return self._t().edges.where(F.col("uuid").isin(uuids))

    def get_episodes_by_uuids(self, uuids: list[str]) -> DataFrame:
        """S6 (nodes.py:162-211): point/keyed episode lookup — served
        from episode_facts so each row carries entity_edges (the
        reference's EpisodicNode.entity_edges, nodes.py:137-140, filled
        by graphiti.py:467 after edge resolution)."""
        return self._t().episode_facts.where(F.col("uuid").isin(uuids))

    def get_edges_by_node_uuid(self, node_uuid: str) -> DataFrame:
        """S8 (edges.py:342-365): all fact edges touching a node,
        direction-agnostic."""
        e = self._t().edges
        return e.where(
            (F.col("source_node_uuid") == node_uuid)
            | (F.col("target_node_uuid") == node_uuid)
        )

    def nodes_and_edges_by_episode(self, episode_uuids: list[str]):
        t = self._t()
        m = t.mention_edges.where(F.col("episode_uuid").isin(episode_uuids))
        nodes = t.nodes.join(
            m.select(F.col("entity_uuid").alias("uuid")).distinct(), "uuid"
        )
        edges = t.edges.where(
            F.arrays_overlap(F.col("episodes"), F.array(*[F.lit(u) for u in episode_uuids]))
        )
        return nodes, edges

    def _filter_corpus(
        self, emb: DataFrame, scope: str, filters: "SearchFilters"
    ) -> DataFrame:
        """Prune the embedded search corpus to rows passing SearchFilters —
        a key semi-join against the (small) allowed-uuid set, so the
        persisted embedding index itself is never rebuilt per filter."""
        t = self._t()
        allowed = None
        if scope in ("edges", "combined"):
            e = t.edges
            if filters.edge_types:
                e = e.where(F.col("name").isin(filters.edge_types))
            for col, clauses in filters.edge_clauses():
                e = S.edge_date_filter(
                    e, [[(col, op, val) for (op, val) in conj] for conj in clauses]
                )
            allowed = e.select("uuid")
        if scope in ("nodes", "combined"):
            n = t.nodes
            if filters.node_labels:
                n = S.node_label_filter(n, filters.node_labels)
            nn = n.select("uuid")
            allowed = nn if allowed is None else allowed.unionByName(nn)
        if allowed is None:
            return emb
        return emb.join(allowed, "uuid", "left_semi")

    def search(
        self,
        queries: list[str],
        config: SearchConfig = EDGE_HYBRID_SEARCH_RRF,
        center_node_uuid: str | None = None,
        filters: "SearchFilters | None" = None,
    ) -> DataFrame:
        """graphiti.py:630-687: hybrid fulltext ∪ cosine per scope, fused
        by the configured reranker, truncated to limit. With a center node
        and the node_distance reranker, results order by BFS distance
        (the reference's auto recipe switch at :669-672). `filters`
        (SearchFilters) prunes the corpus before scoring, like the
        reference threading search_filter into every method
        (search/search.py:68,91,103)."""
        t = self._t()
        qs = S.make_queries_df(self.spark, queries)
        qv = embed_texts(queries)
        qvec = local_frame(
            self.spark,
            [(i, [float(x) for x in qv[i]]) for i in range(len(queries))],
            "query_id long, qvec array<float>",
        )
        # embeddings are materialized at BUILD time (GraphTables.nodes_emb
        # / edges_emb — the reference stores name_embedding/fact_embedding
        # at ingest, nodes.py:262-269, edges.py:199-208); search reads the
        # persisted index table, so search latency is independent of the
        # corpus (re-)embedding cost after the first build
        if config.scope == "edges":
            emb = t.edges_emb
        elif config.scope == "nodes":
            emb = t.nodes_emb
        elif config.scope == "communities":
            # Q3/Q6: fulltext/similarity over community names
            # (search_utils.py:496-579)
            emb = self._communities_emb()
        else:  # combined
            emb = t.edges_emb.unionByName(t.nodes_emb)
        if filters is not None and config.scope != "communities":
            emb = self._filter_corpus(emb, config.scope, filters)
        fused = S.hybrid_search(
            emb, qs, qvec, "uuid", "text", "vec", limit=2 * config.limit
        )
        if config.reranker == "mmr":
            cands = fused.join(emb.select("uuid", "vec"), "uuid").join(qvec, "query_id")
            out = S.mmr_rerank(cands, "uuid", "vec", "qvec", k=config.limit)
        elif config.reranker == "node_distance" and center_node_uuid:
            pairs = t.edges.select("source_node_uuid", "target_node_uuid")
            res = fused.where(F.col("rank") <= config.limit)
            if config.scope == "edges":
                # edge results rank by the distance of their SOURCE node to
                # the center (reference search/search.py:203-222 maps edges
                # through edge.source_node_uuid before node_distance)
                src = t.edges.select("uuid", "source_node_uuid")  # edge-scaled: AQE decides
                origins = local_frame(
                    self.spark,
                    [(center_node_uuid, center_node_uuid)],
                    "origin_uuid string, uuid string",
                )
                dist = S.bfs_nodes(pairs, origins).select(
                    F.col("uuid").alias("source_node_uuid"),
                    F.col("depth").alias("distance"),
                )
                out = (
                    res.join(src, "uuid", "left")
                    .join(dist, "source_node_uuid", "left")
                    .withColumn(
                        "distance", F.coalesce("distance", F.lit(2**31))
                    )
                    .drop("source_node_uuid")
                    .orderBy("distance", "uuid")
                )
            else:
                out = S.node_distance_rerank(res, pairs, center_node_uuid)
        elif config.reranker == "episode_mentions":
            res = fused.where(F.col("rank") <= config.limit)
            if config.scope == "edges":
                # edges rank by their own provenance count len(episodes)
                # (reference search/search.py:225-226)
                nm = t.edges.select(
                    "uuid", F.size("episodes").alias("n_mentions")
                )  # edge-scaled: AQE decides
                out = (
                    res.join(nm, "uuid", "left")
                    .withColumn("n_mentions", F.coalesce("n_mentions", F.lit(0)))
                    .orderBy(F.desc("n_mentions"), "uuid")
                )
            else:
                out = S.episode_mentions_rerank(res, t.mention_edges)
        elif config.reranker == "pagerank":
            # beyond-reference reranker: global entity importance
            # (integer PageRank over the canonical edge graph) instead of
            # query-relative BFS distance — the batch centrality table a
            # web-scale KG would precompute per build.
            from .operators.centrality import pagerank

            g = t.edges.select(
                "group_id",
                F.col("source_node_uuid").alias("subj"),
                F.lit("E").alias("pred"),
                F.col("target_node_uuid").alias("obj"),
            )
            out = self._rerank_by_node_score(
                fused.where(F.col("rank") <= config.limit), config.scope,
                pagerank(g).select(F.col("name").alias("_n"), "rank_u"),
            )
        elif config.reranker == "closeness":
            # beyond-reference reranker: landmark harmonic closeness
            # (centrality.landmark_closeness) — "how central is this
            # entity in the graph", robust to disconnection.
            from .operators.centrality import landmark_closeness

            cl = landmark_closeness(
                t.edges.select("source_node_uuid", "target_node_uuid"),
                t.nodes.select("uuid"),
            )
            out = self._rerank_by_node_score(
                fused.where(F.col("rank") <= config.limit), config.scope,
                cl.select(F.col("node_key").alias("_n"), "harmonic_q"),
            )
        elif config.reranker in ("cross_encoder", "cross_encoder_learned"):
            # Q13/U5: cross-encoder rerank of the hybrid candidate set
            # (reference reranks only its candidates;
            # cross_encoder/client.py:28-40). "cross_encoder" = the
            # sanctioned deterministic idf-overlap scorer;
            # "cross_encoder_learned" = the integer averaged-perceptron
            # trained on the candidate corpus (operators/ce_learned.py,
            # the bge_reranker analogue) — same output surface.
            from .operators.cross_encoder import cross_encoder_rank
            from pyspark.sql import Window

            # persist the (tiny) candidate set: the scorer derives idf /
            # doc-count aggregates from it in separate subplans, which
            # would otherwise re-execute the whole hybrid-search lineage
            # (including the embedding pass) once per aggregate
            fused = fused.persist()
            cand_corpus = (
                fused.join(emb.select("uuid", "text"), "uuid")
                .select("uuid", "text")
                .dropDuplicates(["uuid"])
                .persist()
            )
            if config.reranker == "cross_encoder_learned":
                from .operators.ce_learned import (
                    learned_ce_rank,
                    sample_passages_df,
                    train_weights,
                )

                sample = sample_passages_df(cand_corpus, "uuid", "text")
                ce = learned_ce_rank(
                    cand_corpus, qs, "uuid", "text",
                    weights=train_weights(sample), k=10**9,
                )
            else:
                ce = cross_encoder_rank(cand_corpus, qs, "uuid", "text", k=10**9)
            own = ce.join(
                fused.select("query_id", "uuid"), ["query_id", "uuid"], "left_semi"
            )
            w = Window.partitionBy("query_id").orderBy(F.asc("rank"))
            out = (
                own.withColumn("r2", F.row_number().over(w))
                .where(F.col("r2") <= config.limit)
                .select(
                    "query_id", F.col("r2").cast("long").alias("rank"),
                    "uuid", "ce_score_u",
                )
            )
            # materialize the skinny (<= limit per query) result while
            # the candidate caches are hot, then release them — otherwise
            # every CE search pins two cached frames for the session
            out = out.localCheckpoint(eager=True)
            cand_corpus.unpersist()
            fused.unpersist()
        else:  # rrf
            out = fused.where(F.col("rank") <= config.limit)
        return out

    # -- mutation ----------------------------------------------------------

    def add_triplet(self, group_id: str, subj: str, pred: str, obj: str,
                    fact: str, valid_at, episode_uuid: str) -> None:
        self._apply_add_triplet(
            group_id, subj, pred, obj, fact, valid_at, episode_uuid
        )
        self._mutation_log.append(
            ("add_triplet",
             (group_id, subj, pred, obj, fact, valid_at, episode_uuid))
        )

    def _apply_add_triplet(self, group_id: str, subj: str, pred: str,
                           obj: str, fact: str, valid_at,
                           episode_uuid: str) -> None:
        t = self._t()
        trip = local_frame(
            self.spark,
            [(group_id, subj, pred, obj, fact, valid_at, episode_uuid)],
            "group_id string, subj_name string, pred string, obj_name string,"
            " fact string, valid_at timestamp, episode_uuid string",
        )
        nodes, edges = add_triplets(t.nodes, t.edges, trip, t.ontology)
        t.nodes, t.edges = nodes, edges

    def build_communities(self):
        t = self._t()
        self._comm = _build_communities(t.nodes, t.edges)
        self._drop_comm_emb()
        return self._comm

    def _communities(self) -> DataFrame:
        if getattr(self, "_comm", None) is None:
            self.build_communities()
        return self._comm[0]

    def _communities_emb(self) -> DataFrame:
        if getattr(self, "_comm_emb", None) is None:
            corpus = self._communities().select(
                "uuid", F.col("name").alias("text")
            )
            self._comm_emb = with_embedding(corpus, "text", "vec").persist()
        return self._comm_emb

    def remove_episodes(self, episode_uuids: list[str]) -> None:
        """graphiti.py:758-787: drop the episodes, their MENTIONS rows, and
        edges whose only provenance was those episodes; entity nodes
        mentioned nowhere else are removed.

        Set-wise (operators/maintenance.py): the list is lifted into a
        DataFrame so the 1-episode call and a domain-takedown bulk purge
        take the same distributed plan."""
        self._apply_remove_episodes(episode_uuids)
        self._mutation_log.append(("remove_episodes", tuple(episode_uuids)))

    def _apply_remove_episodes(self, episode_uuids: list[str]) -> None:
        from .operators.maintenance import remove_episodes_tables

        t = self._t()
        removed = local_frame(
            self.spark, [(u,) for u in episode_uuids], "uuid string"
        )
        eps, edges, mentions, nodes = remove_episodes_tables(
            t.episodes, t.edges, t.mention_edges, t.nodes, removed
        )
        t.episodes = eps
        t.edges = edges
        t.mention_edges = mentions
        t.nodes = nodes

    def build_indices_and_constraints(self) -> None:
        """No-op: parquet/Iceberg column stats + partition pruning replace
        the reference's 19 range + 3 fulltext indexes (SURVEY.md §4)."""

    def _t(self) -> GraphTables:
        if self.tables is None:
            raise RuntimeError("call build()/add_pages() first")
        return self.tables
