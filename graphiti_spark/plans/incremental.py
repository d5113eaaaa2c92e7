"""Incremental batch merge — graphiti's `add_episode` re-expressed as
delta compaction at crawl scale.

The reference ingests one episode at a time: extract, resolve the new
mentions against the EXISTING graph (node_operations.py resolve /
dedupe_nodes.py), merge duplicate edges into existing edges
(edge_operations.py:151-192), and re-run temporal invalidation on the
touched pairs (temporal_operations.py). This module is the batch-scale
redesign: a new page batch merges into the standing graph state while
recomputing ONLY what the batch touches —

1. **Delta entity resolution** by the one resolver,
   operators/resolve.resolve_entities: candidates are generated only for
   entities the batch introduces, joined against the standing block/band
   index (never a re-block of the full universe), and connected
   components run on endpoints contracted through the standing
   assignment — O(batch), not O(graph). The assignment equals a full
   re-resolution uuid for uuid; a one-shot build is the same resolver
   over an empty index, and `initial_state` is a merge into the empty
   graph (pinned by the kg_incremental_build oracle, which is the
   kg_triples oracle).

2. **Touched-pair recompaction.** Edge dedup (materialize_edges) is a
   pure per-key fold and invalidation (invalidate_edges) is pair-local,
   so only pairs that (a) receive new raw triples or (b) contain an
   endpoint whose canonical uuid changed need recomputation. Untouched
   edges — the overwhelming mass at 10^12 documents — pass through
   byte-identical, with previous invalid_at/expired_at intact. The
   canon-change remap table is O(merged clusters), broadcastable even
   when the graph is not.

State kept between batches (all skinny, all columnar): the entity index
(distinct entities, uuid->canon assignment, LSH band rows and bucket
populations), the resolved raw triple log (the same staged extraction the
lineage layer commits per range), and the final edge table.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F

from ..operators.materialize import (
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
from .pipeline import GraphTables, kg_triples

_PAIR = ["group_id", "source_node_uuid", "target_node_uuid"]


@dataclass
class GraphState(EntityIndex):
    """The entity index (ents, canon, bands, bucket_n) plus the edge side."""

    raw: DataFrame  # resolved raw triple log under current canon
    edges: DataFrame  # final canonical edge table (invalidated)

    @staticmethod
    def empty(spark) -> GraphState:
        """The state of an empty graph. Its triple log and edge table carry
        only the pair key; a merge takes their other columns from the
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


def initial_state(pages: DataFrame, ontology=None) -> GraphState:
    """The state of the graph built from `pages`: a merge into the empty
    graph."""
    return merge_batch(GraphState.empty(pages.sparkSession), pages, ontology)


def merge_batch(
    state: GraphState, pages: DataFrame, ontology=None
) -> GraphState:
    """Merge one new page batch into the standing graph state. `ontology`
    must be the one the state was built with."""
    t = GraphTables(pages, ontology)

    # -- 1. delta entity resolution (operators/resolve.resolve_entities) --
    new_ents = (
        distinct_entities(t.mentions_raw)
        .select("group_id", "name", "norm_name", "uuid")
        .join(state.ents.select("uuid"), "uuid", "left_anti")
        .localCheckpoint(eager=True)
    )
    index, delta_map = resolve_entities(state, new_ents)
    canon_all = index.canon.localCheckpoint(eager=True)

    # -- 2. touched-pair recompaction ----------------------------------
    new_raw = resolve_edge_pointers(t.triples_raw, index.ents.join(canon_all, "uuid"))

    remap = F.broadcast(delta_map)  # old canon -> new canon, tiny

    def remap_endpoints(df: DataFrame) -> DataFrame:
        for col in ("source_node_uuid", "target_node_uuid"):
            df = (
                df.join(remap.withColumnRenamed("id", col), col, "left")
                .withColumn(col, F.coalesce("component", col))
                .drop("component")
            )
        return df

    # allowMissingColumns: the empty state's tables carry only the pair key
    prev_raw = remap_endpoints(state.raw)
    raw_all = new_raw.unionByName(prev_raw, allowMissingColumns=True).localCheckpoint(
        eager=True
    )

    # pairs touched by new rows, or containing a merge-target canon
    # (prev_raw endpoints are already remapped, so a pair affected by a
    # cluster merge is one whose CURRENT endpoint is a merged canon)
    merged_canons = F.broadcast(delta_map.select(F.col("component").alias("_c")).distinct())
    touched = (
        new_raw.select(*_PAIR)
        .union(
            prev_raw.join(
                merged_canons,
                (F.col("source_node_uuid") == F.col("_c"))
                | (F.col("target_node_uuid") == F.col("_c")),
                "left_semi",
            ).select(*_PAIR)
        )
        .distinct()
    )

    raw_touched = raw_all.join(touched, _PAIR, "left_semi")
    redone = invalidate_edges(materialize_edges(raw_touched, ontology), ontology)

    kept = remap_endpoints(state.edges).join(touched, _PAIR, "left_anti")
    edges = redone.unionByName(kept, allowMissingColumns=True).localCheckpoint(eager=True)

    return GraphState(
        ents=index.ents.localCheckpoint(eager=True),
        canon=canon_all,
        raw=raw_all,
        edges=edges,
        bands=index.bands.localCheckpoint(eager=True),
        bucket_n=index.bucket_n.localCheckpoint(eager=True),
    )


def incremental_triples(state: GraphState) -> DataFrame:
    """kg_triples-shaped projection of the merged state (the oracle for
    kg_incremental_build IS the kg_triples oracle — incremental == batch
    is the contract)."""
    return kg_triples(state.edges, state.names())
