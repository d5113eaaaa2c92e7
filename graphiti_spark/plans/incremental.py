"""Incremental batch merge — graphiti's `add_episode` re-expressed as
delta compaction at crawl scale.

The reference ingests one episode at a time: extract, resolve the new
mentions against the EXISTING graph (node_operations.py resolve /
dedupe_nodes.py), merge duplicate edges into existing edges
(edge_operations.py:151-192), and re-run temporal invalidation on the
touched pairs (temporal_operations.py). This module is the batch-scale
redesign: a new page batch merges into the standing graph state while
recomputing ONLY what the batch touches —

1. **Delta entity resolution by component contraction.** New match
   candidates are generated only for entities the batch introduces (the
   band/block tables of the standing graph are persisted state; a new
   name joins against them — never a re-block of the full universe).
   Each candidate endpoint is contracted through the previous canonical
   assignment, so connected components run on the contracted delta graph
   — whose size is O(batch), not O(graph). Because the previous canon id
   is the min uuid of its component, min-label CC over contracted nodes
   yields exactly the min uuid of each merged component: the incremental
   assignment is equal, uuid for uuid, to a full re-resolution (pinned by
   the kg_incremental_build oracle, which is the kg_triples oracle).

2. **Touched-pair recompaction.** Edge dedup (materialize_edges) is a
   pure per-key fold and invalidation (invalidate_edges) is pair-local,
   so only pairs that (a) receive new raw triples or (b) contain an
   endpoint whose canonical uuid changed need recomputation. Untouched
   edges — the overwhelming mass at 10^12 documents — pass through
   byte-identical, with previous invalid_at/expired_at intact. The
   canon-change remap table is O(merged clusters), broadcastable even
   when the graph is not.

State kept between batches (all skinny, all columnar): the distinct
entity table, the uuid->canon assignment, the resolved raw triple log
(the same staged extraction the lineage layer commits per range), and
the final edge table.
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
    BUCKET_KEY,
    bucket_sizes,
    canonical_name,
    capped_bands,
    connected_components,
    distinct_entities,
    lsh_band_rows,
    lsh_verify_pairs,
    match_edges_exact,
)
from .pipeline import GraphTables, kg_triples


@dataclass
class GraphState:
    ents: DataFrame  # (group_id, name, norm_name, uuid) distinct entities
    canon: DataFrame  # (uuid, canon_uuid) assignment
    raw: DataFrame  # resolved raw triple log under current canon
    edges: DataFrame  # final canonical edge table (invalidated)
    bands: DataFrame  # standing LSH index rows (lsh_band_rows shape)
    bucket_n: DataFrame  # (group_id, band, bkey, n) bucket populations

    def names(self) -> DataFrame:
        """(uuid, name): canonical display name per canon uuid over the
        alias cluster (the same rule as resolve_entities)."""
        return (
            self.ents.join(self.canon, "uuid")
            .groupBy(F.col("canon_uuid").alias("uuid"))
            .agg(canonical_name().alias("name"))
        )


def _uuid_map(ents: DataFrame, canon: DataFrame) -> DataFrame:
    return ents.join(canon, "uuid").select(
        "group_id", "name", "norm_name", "uuid", "canon_uuid"
    )


_PAIR = ["group_id", "source_node_uuid", "target_node_uuid"]


def initial_state(pages: DataFrame, ontology=None) -> GraphState:
    """Bootstrap from the batch pipeline's own stages (GraphTables):
    entities and their canonical assignment from its entity resolution,
    the raw triple log and the edge table from its edge build. The only
    state of its own is the standing LSH band index and its
    bucket-population counts, so later merges never re-block the
    standing universe."""
    t = GraphTables(pages, ontology)
    uuid_map = t.uuid_map
    ents = uuid_map.select("group_id", "name", "norm_name", "uuid").localCheckpoint(
        eager=True
    )
    canon = uuid_map.select("uuid", "canon_uuid").localCheckpoint(eager=True)
    # the staged triple log, committed before the edge build reads it
    t.edges_raw = t.edges_raw.localCheckpoint(eager=True)
    bands = lsh_band_rows(ents).localCheckpoint(eager=True)
    bucket_n = bucket_sizes(bands).localCheckpoint(eager=True)
    return GraphState(ents=ents, canon=canon, raw=t.edges_raw, edges=t.edges,
                      bands=bands, bucket_n=bucket_n)


def merge_batch(
    state: GraphState, pages: DataFrame, ontology=None
) -> GraphState:
    """Merge one new page batch into the standing graph state. `ontology`
    must be the one the state was built with."""
    t = GraphTables(pages, ontology)

    # -- 1. delta entity resolution ------------------------------------
    batch_ents = distinct_entities(t.mentions_raw).select(
        "group_id", "name", "norm_name", "uuid"
    )
    new_ents = batch_ents.join(
        state.ents.select("uuid"), "uuid", "left_anti"
    ).localCheckpoint(eager=True)
    ents_all = state.ents.unionByName(new_ents)

    # candidates must involve >= 1 NEW entity: the new side joins the
    # standing block/band tables (persisted state at scale); prev-prev
    # pairs are already connected by the previous assignment.
    exact_join = (
        new_ents.alias("n")
        .join(state.ents.alias("p"), ["group_id", "norm_name"])
        .groupBy(F.col("n.uuid").alias("src"))
        .agg(F.min(F.col("p.uuid")).alias("dst"))
    )
    exact_intra = match_edges_exact(new_ents)
    # LSH delta: band ONLY the new entities, fold their counts into the
    # standing bucket populations, and probe-join new bands against the
    # full (standing + new) index — the cap is enforced by excluding
    # over-populated buckets from the PROBE side, which suppresses every
    # pair from that bucket exactly like the batch path's bucket drop.
    new_bands = lsh_band_rows(new_ents).localCheckpoint(eager=True)
    bucket_n = (
        state.bucket_n.unionByName(bucket_sizes(new_bands))
        .groupBy(*BUCKET_KEY)
        .agg(F.sum("n").alias("n"))
        .localCheckpoint(eager=True)
    )
    bands_all = state.bands.unionByName(new_bands)
    lsh_delta = lsh_verify_pairs(
        capped_bands(new_bands, bucket_n), bands_all, symmetric=False
    )
    delta_edges = exact_join.union(exact_intra).union(lsh_delta)

    # contract endpoints through the previous assignment: CC then runs on
    # O(batch) supernodes. A missing assignment = the endpoint is new.
    prev = state.canon
    ce = (
        delta_edges.join(
            prev.withColumnRenamed("uuid", "src").withColumnRenamed(
                "canon_uuid", "csrc"
            ),
            "src",
            "left",
        )
        .join(
            prev.withColumnRenamed("uuid", "dst").withColumnRenamed(
                "canon_uuid", "cdst"
            ),
            "dst",
            "left",
        )
        .select(
            F.coalesce("csrc", "src").alias("src"),
            F.coalesce("cdst", "dst").alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
    )
    verts = ce.select(F.col("src").alias("id")).union(
        ce.select(F.col("dst").alias("id"))
    ).distinct()
    comp = connected_components(ce, verts)
    # contracted ids ARE min-of-part, so min-label CC over them is the
    # global min of each merged component == the full-recompute canon.
    delta_map = comp.where(F.col("id") != F.col("component")).localCheckpoint(
        eager=True
    )  # (old canon or new uuid) -> merged canon; O(merged clusters)

    canon_all = (
        ents_all.join(prev, "uuid", "left")
        .select("uuid", F.coalesce("canon_uuid", "uuid").alias("canon_uuid"))
        .join(delta_map.withColumnRenamed("id", "canon_uuid"), "canon_uuid", "left")
        .select("uuid", F.coalesce("component", "canon_uuid").alias("canon_uuid"))
    ).localCheckpoint(eager=True)

    # -- 2. touched-pair recompaction ----------------------------------
    new_raw = resolve_edge_pointers(t.triples_raw, _uuid_map(ents_all, canon_all))

    remap = F.broadcast(delta_map)  # old canon -> new canon, tiny

    def remap_endpoints(df: DataFrame) -> DataFrame:
        for col in ("source_node_uuid", "target_node_uuid"):
            df = (
                df.join(remap.withColumnRenamed("id", col), col, "left")
                .withColumn(col, F.coalesce("component", col))
                .drop("component")
            )
        return df

    prev_raw = remap_endpoints(state.raw)
    raw_all = prev_raw.unionByName(new_raw).localCheckpoint(eager=True)

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

    prev_edges = remap_endpoints(state.edges)
    kept = prev_edges.join(touched, _PAIR, "left_anti")
    edges = kept.unionByName(redone).localCheckpoint(eager=True)

    return GraphState(
        ents=ents_all.localCheckpoint(eager=True),
        canon=canon_all,
        raw=raw_all,
        edges=edges,
        bands=bands_all.localCheckpoint(eager=True),
        bucket_n=bucket_n,
    )


def incremental_triples(state: GraphState) -> DataFrame:
    """kg_triples-shaped projection of the merged state (the oracle for
    kg_incremental_build IS the kg_triples oracle — incremental == batch
    is the contract)."""
    return kg_triples(state.edges, state.names())
