"""End-to-end KG-construction pipeline (the Spark re-expression of
Graphiti.add_episode_bulk, /root/reference/graphiti_core/graphiti.py:493-604
— see SURVEY.md §3.2):

pages -> clean+chunk -> episodes -> {mentions, triples} -> entity
resolution -> pointer resolution -> edge dedup -> temporal invalidation ->
{nodes, edges, mentions} tables.

Unlike the reference's bulk path, invalidation IS performed batch-wide
(graphiti.py:526-528 documents the reference skipping it; its unit tests
require the semantics, so we keep them).

GraphTables is LAZY: each stage table is computed on first attribute
access and cached on the instance, so a consumer executes only its own
lineage — an episodes-only query (scan + explode) never pays extraction,
MinHash-LSH resolution, or the connected-components cutover action. This
is the DAG-shape analogue of Iceberg stage tables: downstream stages read
the committed upstream output; nothing runs until a stage is consumed.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.episodes import build_episodes
from ..operators.extract import extract_all, attach_labels, split_extracted
from ..operators.materialize import (
    build_mention_edges,
    invalidate_edges,
    materialize_edges,
    resolve_edge_pointers,
)
from ..operators.resolve import (
    EntityIndex,
    canonical_name,
    distinct_entities,
    resolve_entities,
)
from ..session import local_frame
from ..sources.pages import build_pages

_PAIR = ["group_id", "source_node_uuid", "target_node_uuid"]


@dataclass
class GraphState(EntityIndex):
    """A standing graph: the entity index (ents, canon, bands, bucket_n)
    plus the edge side. GraphTables compacts a page batch onto one."""

    raw: DataFrame  # resolved raw triple log under current canon
    edges: DataFrame  # final canonical edge table (invalidated)

    @staticmethod
    def empty(spark) -> GraphState:
        """The state of an empty graph. Its triple log and edge table carry
        only the pair key; the stages take their other columns from the
        batch."""
        pairs = local_frame(spark, [], ", ".join(f"{c} string" for c in _PAIR))
        return GraphState(**vars(EntityIndex.empty(spark)), raw=pairs, edges=pairs)

    def names(self) -> DataFrame:
        """(uuid, name): canonical display name per canon uuid over the
        alias cluster (the same rule as the build's node table)."""
        return (
            self.ents.join(self.canon, "uuid")
            .groupBy(F.col("canon_uuid").alias("uuid"))
            .agg(canonical_name().alias("name"))
        )


class GraphTables:
    """Lazy stage container for the construction DAG.

    Attribute access materializes (and caches) the stage:

        pages -> episodes -> extracted -> {triples_raw, mentions_raw}
              -> entities -> {index, delta_map} -> {nodes, uuid_map}
              -> edges_raw -> edges -> mention_edges

    The stages compact the batch onto `prior`, the standing graph
    (GraphState; None is the empty graph). A build is the case of the
    empty prior: every prior term is an empty JVM-local relation that the
    optimizer prunes, so its plans read the batch alone. A merge
    (plans/incremental.merge_batch) passes the standing graph: `index`,
    `uuid_map`, `edges_raw` and `edges` then cover the whole graph, while
    `episodes`, `mentions_raw`, `nodes` and `mention_edges` cover only the
    batch (the gap an `add_pages` on the merge still has to close: node
    labels over the whole graph and the retraction of re-ingested urls).

    Assigning to a stage attribute overrides it: the API mutation paths
    (remove_episodes / add_triplet) rewrite tables in place, the staged
    entry paths (the resumable lineage job, the streaming ingest) hand in
    a committed `extracted` table with `pages=None`, and the merge hands
    in its committed `index`. Every entry path thus compacts through the
    same stage builders under the same ontology. Stages that are never
    read are never computed, so e.g. `t.episodes` runs one page scan, not
    the full resolution."""

    def __init__(
        self, pages: DataFrame | None, ontology=None, prior: GraphState | None = None
    ):
        from ..ontology import DEFAULT

        self.pages = pages
        self.ontology = ontology or DEFAULT
        if prior is not None:
            self.prior = prior  # else the `prior` stage is the empty graph

    # -- stage builders (each runs at most once per instance) --------------

    def _build_episodes(self) -> DataFrame:
        return build_episodes(self.pages)

    def _build_extracted(self) -> DataFrame:
        # Extraction runs ONCE as a combined pass (triples + mention spans
        # in a single whole-stage-codegen projection — episode content is
        # scanned one time). Its skinny output is the fan-out point of the
        # DAG, so it is committed: without a commit the multi-consumer lazy
        # DAG re-executes the extraction ~3x (measured 33s vs 13s at 2.25M
        # sentences on local[32]).
        return self._commit(extract_all(self.episodes))

    def _commit(self, df: DataFrame) -> DataFrame:
        """Stage commit for a fan-out table consumed by several downstream
        subplans — often more than once inside a single action (e.g.
        triples_view references `edges` directly AND through the node
        summaries/attributes derivations, ~5 subplan copies). An eager
        localCheckpoint writes the stage once and truncates its lineage:
        downstream stages read the committed rows, the in-session
        analogue of an Iceberg stage table. Round-5 measurements rejected
        the alternatives (no commit, relying on exchange reuse; or
        persist()) as 3-5x slower on the throughput probe."""
        return df.localCheckpoint(eager=True)

    def _build_triples_raw(self) -> DataFrame:
        return split_extracted(self.extracted)[0]

    def _build_mentions_raw(self) -> DataFrame:
        # committed: consumed by BOTH entity resolution and the MENTIONS
        # edge build — without a commit each consumer re-runs the
        # attach_labels projection over the 2x-exploded extraction
        # (measured ~3.5s per extra run at sf0.1 x20)
        triples_raw, spans = split_extracted(self.extracted)
        return self._commit(attach_labels(spans, triples_raw, self.ontology))

    def _build_prior(self) -> GraphState:
        return GraphState.empty(self.entities.sparkSession)

    def _build_entities(self) -> DataFrame:
        # the batch's distinct-entity table every resolution step reads;
        # cached (no job of its own) and released with the graph
        return distinct_entities(self.mentions_raw).cache()

    def _resolve(self) -> None:
        """Entity resolution — runs once; sets BOTH outputs. The batch's
        entities that the prior graph does not hold yet resolve against
        its index (a build's left-anti join against the empty prior
        returns the cached entities).

        index: the prior's entity index with the batch folded in.
        delta_map: (id, component) for each prior canon or new uuid whose
        canonical uuid is now `component` — O(merged clusters)."""
        ents, prior = self.entities, self.prior
        new = ents.join(prior.ents.select("uuid"), "uuid", "left_anti")
        self.index, self.delta_map = resolve_entities(prior, new)

    def _build_index(self) -> EntityIndex:
        self._resolve()
        return self.index

    def _build_delta_map(self) -> DataFrame:
        self._resolve()
        return self.delta_map

    def _build_uuid_map(self) -> DataFrame:
        # (group_id, name, norm_name, uuid, canon_uuid) for pointer
        # resolution over every entity of the graph, so a batch triple
        # whose endpoint was seen only in an earlier batch still resolves
        index = self.index
        return index.ents.join(index.canon, "uuid").select(
            "group_id", "name", "norm_name", "uuid", "canon_uuid"
        )

    def _build__base_nodes(self) -> DataFrame:
        # canonical entity table (group_id, uuid, name, labels, n_aliases)
        # of the batch's entities
        return (
            self.entities.join(self.index.canon, "uuid")
            .groupBy("group_id", "canon_uuid")
            .agg(
                canonical_name().alias("name"),
                F.array_sort(F.collect_set("label")).alias("labels"),
                F.count(F.lit(1)).alias("n_aliases"),
            )
            .withColumnRenamed("canon_uuid", "uuid")
        )

    def _remap(self, df: DataFrame) -> DataFrame:
        """`df` (a prior table) with its pair endpoints under the current
        canon: a prior canon that this batch merged into another cluster
        is replaced through delta_map (tiny, broadcast)."""
        remap = F.broadcast(self.delta_map)
        for col in ("source_node_uuid", "target_node_uuid"):
            df = (
                df.join(remap.withColumnRenamed("id", col), col, "left")
                .withColumn(col, F.coalesce("component", col))
                .drop("component")
            )
        return df

    def _build__batch_raw(self) -> DataFrame:
        # the batch's raw triples with canonical endpoint uuids
        return resolve_edge_pointers(self.triples_raw, self.uuid_map)

    def _build_edges_raw(self) -> DataFrame:
        # the resolved raw triple log: the batch's triples plus the prior
        # log under the current canon (a merge commits it as its state's
        # `raw`; a build never reads it: its edge stage reads the batch
        # half). allowMissingColumns: the empty graph's log carries only
        # the pair key
        return self._batch_raw.unionByName(
            self._remap(self.prior.raw), allowMissingColumns=True
        )

    def _build_edges(self) -> DataFrame:
        """Touched-pair recompaction. Edge dedup (materialize_edges) is a
        pure per-key fold and invalidation (invalidate_edges) is
        pair-local, so only pairs that receive batch triples or contain a
        canon this batch merged are recomputed, from the batch's rows plus
        the prior rows on those pairs. The prior's other edges pass
        through, with their invalid_at/expired_at intact. Over the empty
        prior every prior term is pruned: a build materializes and
        invalidates its batch triples.

        Two-step commit: invalidate_edges references its input THREE
        times (the contradiction self-join plus the final left join) and
        physical-plan exchange reuse does NOT dedup the aggregation under
        the differing filter/alias subtrees — uncommitted, the 425k-row
        materialize groupBy executed ~3x (measured 7.2s -> 3.7s at sf0.1
        x20 with the intermediate commit)."""
        batch, prior_raw = self._batch_raw, self._remap(self.prior.raw)
        # prior_raw endpoints are remapped, so a pair a cluster merge
        # affects is one whose CURRENT endpoint is a merged canon
        merged = F.broadcast(self.delta_map.select(F.col("component").alias("_c")).distinct())
        touched = (
            batch.select(*_PAIR)
            .union(
                prior_raw.join(
                    merged,
                    (F.col("source_node_uuid") == F.col("_c"))
                    | (F.col("target_node_uuid") == F.col("_c")),
                    "left_semi",
                ).select(*_PAIR)
            )
            .distinct()
        )
        raw = batch.unionByName(
            prior_raw.join(touched, _PAIR, "left_semi"), allowMissingColumns=True
        )
        mat = self._commit(materialize_edges(raw, self.ontology))
        kept = self._remap(self.prior.edges).join(touched, _PAIR, "left_anti")
        return self._commit(
            invalidate_edges(mat, self.ontology).unionByName(kept, allowMissingColumns=True)
        )

    def _build_nodes(self) -> DataFrame:
        # final node table: content-derived summary (X15 — identity
        # sentence + the node's earliest facts, deterministic analogue of
        # the <=500-word LLM summary, prompts/summarize_nodes.py:48-125)
        # + derived typed attributes (X2/F14, operators/attributes.py)
        from ..operators.attributes import with_attributes
        from ..operators.summaries import with_summaries

        base, edges = self._base_nodes, self.edges
        return self._commit(with_attributes(with_summaries(base, edges), edges))

    def _build_mention_edges(self) -> DataFrame:
        return build_mention_edges(self.mentions_raw, self.uuid_map)

    def _build_episode_facts(self) -> DataFrame:
        # episodes.entity_edges (reference nodes.py:137-140, set by
        # graphiti.py:467 after edge resolution): the per-episode list of
        # resolved fact-edge uuids, inverted from the edges' provenance
        # arrays. One explode of the skinny (uuid, episodes) projection +
        # one groupBy on episode_uuid (partial-agg'd), left-joined so
        # fact-free episodes keep an empty list.
        ef = (
            self.edges.select("uuid", F.explode("episodes").alias("episode_uuid"))
            .groupBy("episode_uuid")
            .agg(F.array_sort(F.collect_set("uuid")).alias("entity_edges"))
        )
        return (
            self.episodes.join(
                ef, self.episodes["uuid"] == ef["episode_uuid"], "left"
            )
            .drop("episode_uuid")
            .withColumn(
                "entity_edges",
                F.coalesce(
                    F.col("entity_edges"), F.array().cast("array<string>")
                ),
            )
        )

    def _build_nodes_emb(self) -> DataFrame:
        # name_embedding materialized at BUILD time, exactly once per
        # graph (reference stores node.name_embedding at ingest —
        # nodes.py:262-269): GraphitiSpark.build forces it as the last
        # step of its critical path. Search reads this table instead of
        # re-embedding the corpus per call. Persisted: it is a read-side
        # index, the Iceberg-embedding-table analogue.
        from ..functions.embed import with_embedding

        corpus = self.nodes.select(
            "uuid", F.concat_ws(" ", "name", "summary").alias("text")
        )
        return with_embedding(corpus, "text", "vec").persist()

    def _build_edges_emb(self) -> DataFrame:
        # fact_embedding at build time (reference edges.py:199-208):
        # GraphitiSpark.build forces it on a side thread while the node
        # table and its embeddings commit
        from ..functions.embed import with_embedding

        corpus = self.edges.select("uuid", F.col("fact").alias("text"))
        return with_embedding(corpus, "text", "vec").persist()

    _STAGES = frozenset(
        {
            "episodes",
            "extracted",
            "triples_raw",
            "mentions_raw",
            "prior",
            "entities",
            "index",
            "delta_map",
            "uuid_map",
            "_base_nodes",
            "_batch_raw",
            "edges_raw",
            "edges",
            "nodes",
            "mention_edges",
            "nodes_emb",
            "edges_emb",
            "episode_facts",
        }
    )

    # derived read-side indexes dropped when their base table is
    # overridden (API mutation paths assign t.nodes / t.edges directly)
    _DERIVED = {
        "nodes": ("nodes_emb",),
        "edges": ("edges_emb", "episode_facts"),
        "episodes": ("episode_facts",),
    }

    def __getattr__(self, name: str):
        # only reached when `name` is not in the instance dict: compute the
        # stage once, cache it as a plain attribute
        if name in GraphTables._STAGES:
            df = getattr(self, f"_build_{name}")()
            setattr(self, name, df)
            return df
        raise AttributeError(name)

    def __setattr__(self, name: str, value) -> None:
        self._drop(GraphTables._DERIVED.get(name, ()))
        object.__setattr__(self, name, value)

    def _drop(self, stages) -> None:
        for name in stages:
            stale = self.__dict__.pop(name, None)
            if stale is not None:
                stale.unpersist()

    def release(self) -> None:
        """Unpersist the cached entity table and the read-side embedding
        indexes once this graph is replaced (they are rebuilt on access if
        it is read again)."""
        self._drop(("entities", "nodes_emb", "edges_emb"))


def build_graph(
    spark: SparkSession,
    sf_dir: str,
    pages: DataFrame | None = None,
    replicate: int = 1,
    ontology=None,
) -> GraphTables:
    """Declare the construction DAG over the input pages. Returns
    immediately — stages run when their tables are consumed. `ontology`
    (ontology.Ontology) customizes entity labels, predicate synonym
    classes (edge dedup) and contradictions — the reference's
    entity_types extension point (graphiti.py:264)."""
    if pages is None:
        pages = build_pages(spark, sf_dir, replicate=replicate)
    return GraphTables(pages, ontology=ontology)


def named_triples(edges: DataFrame, names: DataFrame) -> DataFrame:
    """Canonical edges as (subj, pred, obj) with temporal validity: both
    endpoint uuids joined to their display names. `names`: (uuid, name).
    The name join is left to AQE: the name table is O(distinct entities) —
    small at test scale (AQE converts to broadcast at runtime), but
    billions of rows at 10^12 documents, where a forced broadcast would
    OOM and sort-merge on the uuid keys is the correct plan (SURVEY.md
    §2.3 J1)."""
    return (
        edges.join(
            names.select(
                F.col("uuid").alias("source_node_uuid"), F.col("name").alias("subj")
            ),
            "source_node_uuid",
        )
        .join(
            names.select(
                F.col("uuid").alias("target_node_uuid"), F.col("name").alias("obj")
            ),
            "target_node_uuid",
        )
        .select(
            "group_id",
            "subj",
            F.col("name").alias("pred"),
            "obj",
            "fact",
            "valid_at",
            "invalid_at",
            "episodes",
        )
    )


def kg_triples(edges: DataFrame, names: DataFrame) -> DataFrame:
    """The kg_triples deliverable: named_triples with the provenance
    array reduced to its size, n_episodes."""
    t = named_triples(edges, names)
    return t.select(
        *t.columns[:-1], F.size("episodes").cast("long").alias("n_episodes")
    )


def triples_view(tables: GraphTables) -> DataFrame:
    """The scored deliverable: the built graph's named triples, display
    names from the nodes table."""
    return named_triples(tables.edges, tables.nodes)
