"""Provenance-aware episode removal (S11).

The reference's remove_episode (graphiti.py:758-787) deletes an episode,
then deletes edges whose ONLY provenance was that episode and entity
nodes mentioned nowhere else. The Spark re-expression is set-wise — the
removal set is a DataFrame, so the 1-episode API call and a
million-episode GDPR purge are the same plan:

  * episodes: anti-join on uuid,
  * edges: explode the provenance array, anti-join the removed set,
    regroup — an edge with no surviving provenance disappears; the
    regrouped array is sorted, matching the builder's
    array_sort(collect_set(...)) representation,
  * mentions: anti-join on episode_uuid,
  * nodes: delete only entities that were mentioned BY a removed episode
    AND have no surviving mention (graphiti.py:770-782 checks exactly the
    removed episode's mentioned nodes, not the whole table — a node
    created by add_triplet has no MENTIONS row and must survive).

Every step is a key join on a skinny projection (uuid / episode_uuid
only); nothing is collected, nothing is broadcast by hint — at crawl
scale the removed set may itself be huge (a whole domain takedown) and
AQE picks the join strategy from measured sizes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def remove_episodes_tables(
    episodes: DataFrame,
    edges: DataFrame,
    mention_edges: DataFrame,
    nodes: DataFrame,
    removed: DataFrame,
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """`removed`: a 1-column DataFrame of episode uuids to delete.
    Returns (episodes', edges', mention_edges', nodes')."""
    removed = removed.select(F.col(removed.columns[0]).alias("uuid")).distinct()

    episodes_out = episodes.join(removed, "uuid", "left_anti")

    # edge provenance: drop removed episodes from each array; edges left
    # with no provenance are deleted (graphiti.py:772-781)
    prov = edges.select("uuid", F.explode("episodes").alias("ep"))
    surviving = (
        prov.join(removed.select(F.col("uuid").alias("ep")), "ep", "left_anti")
        .groupBy("uuid")
        .agg(F.array_sort(F.collect_set("ep")).alias("episodes"))
    )
    edges_out = edges.drop("episodes").join(surviving, "uuid")

    mentions_out = mention_edges.join(
        removed.select(F.col("uuid").alias("episode_uuid")), "episode_uuid", "left_anti"
    )

    # deletion candidates: entities the REMOVED episodes mentioned
    # (reference scopes the check to these); of those, delete the ones
    # with no surviving mention anywhere else
    candidates = (
        mention_edges.join(
            removed.select(F.col("uuid").alias("episode_uuid")),
            "episode_uuid",
            "left_semi",
        )
        .select(F.col("entity_uuid").alias("uuid"))
        .distinct()
    )
    still_mentioned = mentions_out.select(
        F.col("entity_uuid").alias("uuid")
    ).distinct()
    to_delete = candidates.join(still_mentioned, "uuid", "left_anti")
    nodes_out = nodes.join(to_delete, "uuid", "left_anti")

    return episodes_out, edges_out, mentions_out, nodes_out


def snapshot_diff(new: DataFrame, old: DataFrame) -> DataFrame:
    """Graph diff between two crawl snapshots — the production daily-delta
    report over the canonical triple tables of consecutive builds. Inputs
    are two triples views (group_id, subj, pred, obj, ..., invalid_at,
    n_episodes); output is one row per edge key whose state differs:

      added        key absent in the old snapshot
      removed      key absent in the new one (alias canonicalization can
                   rename endpoints when new mentions shift the canon
                   pick, so removals happen even on a grow-only corpus)
      invalidated  a new page contradicted an old fact (invalid_at was
                   null, now set) — the bi-temporal delta
      provenance   episode support count changed

    One full-outer sort-merge join co-partitioned on the edge key; both
    sides are the skinny canonical tables (O(distinct facts), not corpus-
    scaled), and unchanged keys are filtered before any downstream
    consumer sees them."""
    key = ["group_id", "subj", "pred", "obj"]
    n = new.select(
        *key,
        F.col("invalid_at").alias("inv_new"),
        F.col("n_episodes").alias("n_eps_new"),
    )
    o = old.select(
        *key,
        F.col("invalid_at").alias("inv_old"),
        F.col("n_episodes").alias("n_eps_old"),
    )
    j = n.join(o, key, "full")
    status = (
        F.when(F.col("n_eps_old").isNull(), F.lit("added"))
        .when(F.col("n_eps_new").isNull(), F.lit("removed"))
        .when(
            F.col("inv_old").isNull() & F.col("inv_new").isNotNull(),
            F.lit("invalidated"),
        )
        .otherwise(F.lit("provenance"))
    )
    return j.where(
        F.col("n_eps_old").isNull()
        | F.col("n_eps_new").isNull()
        | (F.col("n_eps_old") != F.col("n_eps_new"))
        | (F.col("inv_old").isNull() != F.col("inv_new").isNull())
    ).select(
        *key,
        status.alias("status"),
        F.coalesce("n_eps_old", F.lit(0)).cast("long").alias("n_eps_old"),
        F.coalesce("n_eps_new", F.lit(0)).cast("long").alias("n_eps_new"),
    )


def integrity_audit(
    nodes: DataFrame,
    edges: DataFrame,
    mentions: DataFrame,
    episodes: DataFrame,
) -> DataFrame:
    """Referential-integrity audit of the stored graph: for every foreign
    key (edge endpoints -> nodes, mention -> entity, mention -> episode)
    report how many references dangle. A production KG runs this after
    every compaction / partial delete (the reference's remove_episode
    cleanup, graphiti.py:758-787, is exactly the operation that can
    orphan references when interrupted) — the audit is the resume-safety
    check for the maintenance paths.

    Returns (check, n_bad, n_total), one row per check. Every check is a
    skinny uuid projection + left join + one aggregate; at scale each is
    a single co-partitioned shuffle on the uuid key — no wide rows move.
    """
    node_ids = nodes.select("uuid").distinct()
    episode_ids = episodes.select("uuid").distinct()

    def _check(name: str, refs: DataFrame, ids: DataFrame) -> DataFrame:
        j = refs.join(
            ids.withColumnRenamed("uuid", "ref").withColumn(
                "ok", F.lit(1)
            ),
            "ref",
            "left",
        )
        return j.agg(
            F.lit(name).alias("check"),
            F.sum(F.when(F.col("ok").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_bad"),
            F.count(F.lit(1)).cast("long").alias("n_total"),
        )

    checks = [
        _check(
            "edge_src_missing",
            edges.select(F.col("source_node_uuid").alias("ref")),
            node_ids,
        ),
        _check(
            "edge_dst_missing",
            edges.select(F.col("target_node_uuid").alias("ref")),
            node_ids,
        ),
        _check(
            "mention_entity_missing",
            mentions.select(F.col("entity_uuid").alias("ref")),
            node_ids,
        ),
        _check(
            "mention_episode_missing",
            mentions.select(F.col("episode_uuid").alias("ref")),
            episode_ids,
        ),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out


def functional_violations(
    triples: DataFrame, functional_preds: tuple[str, ...]
) -> DataFrame:
    """Consistency audit for declared-functional predicates: subjects
    holding 2+ CONCURRENTLY-VALID objects under a predicate the ontology
    declares single-valued (a person 'works at' one employer at a time,
    an org is 'based in' one place). The reference resolves exactly this
    at write time through contradiction invalidation
    (edge_operations.py:234-305); this is the batch sweep that finds what
    slipped through — the KG-QA report a production graph reviews after
    every build.

    Output: (group_id, pred, subj, n_objects, objs) with the object set
    rendered sorted so the row is deterministic. One groupBy on
    (group, pred, subj) over the filtered skinny projection.
    """
    cur = triples.where(
        F.col("invalid_at").isNull() & F.col("pred").isin(*functional_preds)
    )
    return (
        cur.groupBy("group_id", "pred", "subj")
        .agg(
            F.countDistinct("obj").cast("long").alias("n_objects"),
            F.array_join(F.array_sort(F.collect_set("obj")), ",").alias(
                "objs"
            ),
        )
        .where(F.col("n_objects") >= 2)
    )


def domain_range_violations(triples: DataFrame, node_labels: DataFrame) -> DataFrame:
    """SHACL-lite domain/range validation sweep (the sh:class constraint
    of W3C SHACL, the standard KG quality gate): every canonical edge is
    checked against the default ontology's declared predicate roles — the
    subject must carry the domain label, the object the range label
    (reference analogue: the typed entity_types the extraction prompts
    enforce upstream; this operator audits them downstream, where bulk
    ingest and add_triplet can drift).

    triples: (group_id, subj, pred, obj) canonical edges. node_labels:
    (group_id, name, labels array). Returns per (group, pred): edge
    count + domain-violation and range-violation counts. A missing node
    or empty label set counts as a violation (dangling endpoints are
    the integrity_audit's job, but they fail validation here too).

    Plan shape: the required labels are ONE shared CASE projection
    (ontology.role_sql — the same string the DuckDB oracle embeds), two
    co-partitioned left joins against the skinny label table, one hash
    agg on (group, pred). Predicate-vocab-sized output."""
    from ..ontology import DEFAULT

    e = triples.select(
        "group_id",
        "subj",
        "pred",
        "obj",
        F.expr(DEFAULT.role_sql(0)).alias("subj_req"),
        F.expr(DEFAULT.role_sql(1)).alias("obj_req"),
    )
    s = node_labels.select(
        "group_id", F.col("name").alias("subj"), F.col("labels").alias("s_labels")
    )
    o = node_labels.select(
        "group_id", F.col("name").alias("obj"), F.col("labels").alias("o_labels")
    )
    return (
        e.join(s, ["group_id", "subj"], "left")
        .join(o, ["group_id", "obj"], "left")
        .groupBy("group_id", "pred")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_edges"),
            F.sum(
                F.expr(
                    "CASE WHEN subj_req IS NOT NULL AND (s_labels IS NULL"
                    " OR NOT array_contains(s_labels, subj_req))"
                    " THEN 1L ELSE 0L END"
                )
            ).cast("long").alias("n_subj_viol"),
            F.sum(
                F.expr(
                    "CASE WHEN obj_req IS NOT NULL AND (o_labels IS NULL"
                    " OR NOT array_contains(o_labels, obj_req))"
                    " THEN 1L ELSE 0L END"
                )
            ).cast("long").alias("n_obj_viol"),
        )
    )
