"""add_triplet (X18): the direct triple-insert API —
/root/reference/graphiti_core/graphiti.py:723-756. Resolve both endpoint
names against the existing graph, reuse the canonical edge when the same
(pair, predicate) already exists (appending provenance), otherwise mint a
deterministic new edge; then re-run contradiction invalidation over the
touched pairs.

Batch-native: takes a DataFrame of triplets (so the 1-row API call and a
million-row backfill are the same code path), returns the updated
(nodes, edges) tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .extract import norm_sql
from .materialize import invalidate_edges


def _norm(col: str):
    # the build's exact-block normalization (extract.norm_sql), so a name
    # keys to the node the build made of it
    return F.expr(norm_sql(f"trim({col})"))


def add_triplets(
    nodes: DataFrame,
    edges: DataFrame,
    new_triplets: DataFrame,
    ontology=None,
) -> tuple[DataFrame, DataFrame]:
    """new_triplets: (group_id, subj_name, pred, obj_name, fact, valid_at,
    episode_uuid). Returns (nodes', edges'); invalidation reads the
    contradiction table of `ontology`, the one the graph was built with."""
    t = new_triplets.withColumn("subj_norm", _norm("subj_name")).withColumn(
        "obj_norm", _norm("obj_name")
    )

    # resolve endpoints against existing canonical nodes by normalized name
    existing = nodes.select(
        "group_id",
        F.col("uuid").alias("node_uuid"),
        F.col("name").alias("node_name"),
        _norm("name").alias("node_norm"),
    )

    def attach(side: str) -> DataFrame:
        nonlocal t
        # deterministic pick when two canonical nodes share a normalized
        # name (min uuid), instead of dropDuplicates' arbitrary row
        m = (
            existing.groupBy(
                "group_id", F.col("node_norm").alias(f"{side}_norm")
            ).agg(F.min("node_uuid").alias(f"{side}_uuid_existing"))
        )
        t2 = t.join(m, ["group_id", f"{side}_norm"], "left")  # entity-scaled: AQE decides
        return t2.withColumn(
            f"{side}_uuid",
            F.coalesce(
                f"{side}_uuid_existing",
                F.md5(F.concat_ws("|", F.lit("node"), "group_id", f"{side}_name")),
            ),
        )

    t = attach("subj")
    t = attach("obj")

    # new nodes for unresolved endpoints
    new_nodes = (
        t.where(F.col("subj_uuid_existing").isNull())
        .select("group_id", F.col("subj_name").alias("name"), F.col("subj_uuid").alias("uuid"))
        .unionByName(
            t.where(F.col("obj_uuid_existing").isNull()).select(
                "group_id", F.col("obj_name").alias("name"), F.col("obj_uuid").alias("uuid")
            )
        )
        .dropDuplicates(["group_id", "uuid"])
        .withColumn("labels", F.array(F.lit("Entity")))
        .withColumn("n_aliases", F.lit(1).cast("long"))
        .withColumn("summary", F.lit(""))
    )
    nodes_out = nodes.unionByName(new_nodes, allowMissingColumns=True)

    # edge dedup vs graph: same (group, src, dst, pred) reuses the edge,
    # provenance appended (edge_operations.py:151-192, episodes += :187)
    key = ["group_id", "source_node_uuid", "target_node_uuid", "name"]
    incoming = t.select(
        "group_id",
        F.col("subj_uuid").alias("source_node_uuid"),
        F.col("obj_uuid").alias("target_node_uuid"),
        F.col("pred").alias("name"),
        "fact",
        "valid_at",
        F.array("episode_uuid").alias("episodes"),
        F.col("valid_at").alias("created_at"),
    ).withColumn(
        "uuid",
        F.md5(F.concat_ws("|", F.lit("edge"), "group_id", "source_node_uuid",
                          "target_node_uuid", "name")),
    ).withColumn("invalid_at", F.lit(None).cast("timestamp")).withColumn(
        "expired_at", F.lit(None).cast("timestamp")
    )

    # existing edges win the uuid (and fact) on dedup — the reference
    # reuses the graph's edge, not a lexicographic minimum
    # (edge_operations.py:168-190)
    prio = F.concat(F.col("is_new").cast("string"), F.col("uuid"))
    merged = (
        edges.withColumn("is_new", F.lit(0))
        .unionByName(incoming.withColumn("is_new", F.lit(1)), allowMissingColumns=True)
        .groupBy(*key)
        .agg(
            F.min_by("uuid", prio).alias("uuid"),
            F.min_by("fact", prio).alias("fact"),
            F.array_sort(F.array_distinct(F.flatten(F.collect_list("episodes")))).alias(
                "episodes"
            ),
            F.min("valid_at").alias("valid_at"),
            F.min("invalid_at").alias("invalid_at"),
            F.min("created_at").alias("created_at"),
        )
    )
    edges_out = invalidate_edges(merged, ontology)
    return nodes_out, edges_out
