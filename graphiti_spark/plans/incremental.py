"""Incremental batch merge — graphiti's `add_episode` re-expressed as
delta compaction at crawl scale.

The reference ingests one episode at a time: extract, resolve the new
mentions against the EXISTING graph (node_operations.py resolve /
dedupe_nodes.py), merge duplicate edges into existing edges
(edge_operations.py:151-192), and re-run temporal invalidation on the
touched pairs (temporal_operations.py). This module is the batch-scale
redesign: a new page batch merges into the standing graph state while
recomputing ONLY what the batch touches. The plan is the build's own:
`merge_batch` runs the stages of plans/pipeline.GraphTables with the
standing graph as their prior, and a one-shot build is the same stages
over the empty graph. So incremental == one-shot holds for every global
stage by construction, and `initial_state` is a merge into the empty
graph (pinned by the kg_incremental_build oracle, which is the
kg_triples oracle). The stages do:

1. **Delta entity resolution** (GraphTables._resolve, by the one
   resolver operators/resolve.resolve_entities): candidates are
   generated only for entities the batch introduces, joined against the
   standing block/band index (never a re-block of the full universe),
   and connected components run on endpoints contracted through the
   standing assignment — O(batch), not O(graph). The assignment equals a
   full re-resolution uuid for uuid.

2. **Touched-pair recompaction** (GraphTables edges): only pairs that
   receive new raw triples or contain a canon the batch merged are
   re-materialized and re-invalidated. Untouched edges — the
   overwhelming mass at 10^12 documents — pass through byte-identical,
   with previous invalid_at/expired_at intact. The canon-change remap
   table is O(merged clusters), broadcastable even when the graph is not.

State kept between batches (all skinny, all columnar): the entity index
(distinct entities, uuid->canon assignment, LSH band rows and bucket
populations), the resolved raw triple log (`edges_raw`), and the final
edge table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..operators.resolve import EntityIndex
from .pipeline import GraphState, GraphTables, kg_triples


def initial_state(pages: DataFrame, ontology=None) -> GraphState:
    """The state of the graph built from `pages`: a merge into the empty
    graph."""
    return merge_batch(GraphState.empty(pages.sparkSession), pages, ontology)


def merge_batch(
    state: GraphState, pages: DataFrame, ontology=None
) -> GraphState:
    """Merge one new page batch into the standing graph state: the build's
    stages over `state`. `ontology` must be the one the state was built
    with."""
    t = GraphTables(pages, ontology, prior=state)
    # the index commits first, so the edge stages read committed tables
    t.index = EntityIndex(
        **{f: df.localCheckpoint(eager=True) for f, df in vars(t.index).items()}
    )
    merged = GraphState(
        **vars(t.index), raw=t.edges_raw.localCheckpoint(eager=True), edges=t.edges
    )
    t.release()
    return merged


def incremental_triples(state: GraphState) -> DataFrame:
    """kg_triples-shaped projection of the merged state (the oracle for
    kg_incremental_build IS the kg_triples oracle — incremental == batch
    is the contract)."""
    return kg_triples(state.edges, state.names())
