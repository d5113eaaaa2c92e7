"""Pointer resolution, edge dedup and final table materialization
(J1, J7, X8/X9, A8, X14) plus batch bi-temporal invalidation (X10-X12).

Reference semantics:
- resolve_edge_pointers: bulk_utils.py:367-374 — remap src/dst through the
  dedup uuid_map (here: two broadcast hash joins on (group_id, name)).
- edge dedup: duplicate facts on the same canonical pair collapse to one
  edge, reusing the earliest uuid and concatenating episode provenance
  (edge_operations.py:151-192, episodes list-merge at :187).
- final group-by: min created_at / merged episodes (A8, bulk persistence
  semantics of add_nodes_and_edges_bulk, bulk_utils.py:91-132).
- contradiction detection: deterministic antonym/negation table standing in
  for the invalidate_edges LLM prompt (temporal_operations.py:71-103;
  golden behaviour from tests/utils/maintenance/
  test_temporal_operations_int.py:97-331 — "dislikes" invalidates "likes",
  "no longer works at" invalidates "works at").
- interval update: an edge's invalid_at becomes the earliest later
  valid_at among opposite-polarity edges on the same canonical pair, and
  expired_at is stamped (edge_operations.py:234-305).
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import DataFrame, functions as F

from ..session import local_frame

# deterministic "now" for expired_at stamps: derived from data, not wall
# clock, so reruns are idempotent (reference uses utc_now() at
# edge_operations.py:259; our batch equivalent must be reproducible).
JOB_TS = datetime(2024, 12, 31, 0, 0, 0)


def resolve_edge_pointers(triples: DataFrame, uuid_map: DataFrame) -> DataFrame:
    """triples(subj_name/obj_name) -> src/dst canonical uuids (J1).

    No forced broadcast: uuid_map is O(distinct entities) — billions of
    rows at 10^12 documents, where SURVEY.md §2.3 J1 prescribes sort-merge
    on salted keys. AQE broadcasts at runtime when the measured size is
    under spark.sql.autoBroadcastJoinThreshold, so small builds still get
    the broadcast plan without the unbounded-hint OOM risk."""
    m = uuid_map.select("group_id", "name", F.col("canon_uuid"))
    out = (
        triples.join(
            m.withColumnRenamed("name", "subj_name").withColumnRenamed(
                "canon_uuid", "source_node_uuid"
            ),
            ["group_id", "subj_name"],
            "left",
        )
        .join(
            m.withColumnRenamed("name", "obj_name").withColumnRenamed(
                "canon_uuid", "target_node_uuid"
            ),
            ["group_id", "obj_name"],
            "left",
        )
    )
    # unknown names fall back to '' per edge_operations.py:84,128-134
    return out.withColumn(
        "source_node_uuid", F.coalesce("source_node_uuid", F.lit(""))
    ).withColumn("target_node_uuid", F.coalesce("target_node_uuid", F.lit("")))


def materialize_edges(
    resolved_triples: DataFrame, ontology=None
) -> DataFrame:
    """Collapse duplicate facts on the same canonical pair into one edge
    (X8/X9 + J4): earliest uuid wins, episodes merged, earliest validity
    kept.

    Dedup key = (group, src, dst, synonym class of pred) — NOT the raw
    predicate. With an open predicate vocabulary, the same fact surfaces
    under paraphrase relations ("works at" / "is employed at"); the
    reference fetches same-pair candidates (search_utils.py:702-740) and
    LLM-judges duplicate-of (edge_operations.py:151-192, keeping the
    existing edge). The deterministic judgment here is the ontology's
    synonym-class table (ontology.py), and 'existing edge wins' becomes
    order-free arg-min by (valid_at, raw_uuid): the earliest observation
    donates predicate name AND fact sentence. The cosine-over-fact-
    embeddings candidate view is `edge_dup_candidates` below (driver-
    gated by kg_edge_dedup_similar).

    Scale note: ONE shuffle on the class-aggregated key — merging
    paraphrases in the same aggregation instead of a second per-pair
    pass; no window, no self-join.
    """
    from ..ontology import DEFAULT

    ontology = ontology or DEFAULT
    t = resolved_triples.withColumn(
        "raw_uuid", F.md5(F.concat_ws("|", F.lit("edge"), "episode_uuid", "sent_idx"))
    )
    vkey = F.concat(
        F.coalesce(F.date_format("valid_at", "yyyy-MM-dd HH:mm:ss.SSSSSS"), F.lit("9999")),
        F.col("raw_uuid"),
    )
    return (
        t.withColumn("_vkey", vkey)
        .groupBy(
            "group_id",
            "source_node_uuid",
            "target_node_uuid",
            F.expr(ontology.synonym_class_sql("pred")).alias("_class"),
        )
        .agg(
            F.min_by("pred", F.col("_vkey")).alias("name"),
            F.min("raw_uuid").alias("uuid"),
            F.min_by("fact", F.col("_vkey")).alias("fact"),
            F.array_sort(F.collect_set("episode_uuid")).alias("episodes"),
            F.min("valid_at").alias("valid_at"),
            F.min("invalid_at").alias("invalid_at"),
            F.min("warc_ts").alias("created_at"),
            F.count(F.lit(1)).alias("n_obs"),
        )
        .drop("_class")
    )


def _contra_map(spark, ontology) -> DataFrame:
    """Broadcast (name, contra_class, polarity) table of the ontology's
    contradiction classes."""
    rows = [(p, c, pol) for p, (c, pol) in ontology.contra.items()]
    return F.broadcast(
        local_frame(spark, rows, "name string, contra_class string, polarity int")
    )


def edge_dup_candidates(
    edges: DataFrame,
    emb: DataFrame,
    min_score_q: int = 400_000,
) -> DataFrame:
    """J4 similarity verify (search_utils.py:702-740 +
    edge_operations.py:151-192): candidate duplicate edge pairs = edges on
    the SAME canonical (group, src, dst) pair whose quantized fact
    embeddings score >= min_score_q by exact integer dot product. Each
    candidate carries the deterministic duplicate judgment:
    is_dup = same default-ontology synonym class AND not an opposite-polarity
    contradiction pair (contradicting facts are the invalidation path,
    X10, never merge targets).

    emb: (uuid, emb array<bigint>) — milli-quantized fact embeddings (the
    persisted embedding-table pattern of queries/search.py). The join is
    blocked on the pair key, exactly the reference's candidate fetch
    "between the same nodes" — never an all-pairs similarity join; at
    crawl scale the per-pair block is tiny and the shuffle key is the
    (group, src, dst) pair, with AQE splitting hot pairs.
    """
    from ..ontology import DEFAULT

    cls = DEFAULT.synonym_class_sql("name")
    cmap = _contra_map(edges.sparkSession, DEFAULT)
    e = (
        edges.join(emb, "uuid")
        .join(cmap, "name", "left")
        .select(
            "group_id", "source_node_uuid", "target_node_uuid", "uuid",
            "name", "emb", "contra_class", "polarity",
            F.expr(cls).alias("dclass"),
        )
    )
    a, b = e.alias("a"), e.alias("b")
    dot = "aggregate(zip_with(a.emb, b.emb, (x, y) -> x * y), 0L, (s, x) -> s + x)"
    return (
        a.join(
            b,
            (F.col("a.group_id") == F.col("b.group_id"))
            & (F.col("a.source_node_uuid") == F.col("b.source_node_uuid"))
            & (F.col("a.target_node_uuid") == F.col("b.target_node_uuid"))
            & (F.col("a.uuid") < F.col("b.uuid")),
        )
        .withColumn("score_q", F.expr(dot))
        .where(F.col("score_q") >= min_score_q)
        .withColumn(
            "opposed",
            F.col("a.contra_class").isNotNull()
            & (F.col("a.contra_class") == F.col("b.contra_class"))
            & (F.col("a.polarity") != F.col("b.polarity")),
        )
        .select(
            F.col("a.group_id").alias("group_id"),
            F.col("a.uuid").alias("uuid_a"),
            F.col("b.uuid").alias("uuid_b"),
            F.col("a.name").alias("pred_a"),
            F.col("b.name").alias("pred_b"),
            F.col("score_q").cast("long").alias("score_q"),
            ((F.col("a.dclass") == F.col("b.dclass")) & ~F.col("opposed"))
            .alias("is_dup"),
        )
    )


def invalidate_edges(edges: DataFrame, ontology=None) -> DataFrame:
    """Batch bi-temporal invalidation over canonical edges.

    For each edge in a contradiction class of the ontology (`contra`),
    invalid_at := the earliest valid_at among opposite-polarity edges on
    the same canonical (group, src, dst) pair that became valid strictly
    later; expired_at is stamped when invalid_at is set. Edges outside any
    class pass through.
    """
    from ..ontology import DEFAULT

    ontology = ontology or DEFAULT
    cmap = _contra_map(edges.sparkSession, ontology)
    e = edges.join(cmap, "name", "left")

    classed = e.where(F.col("contra_class").isNotNull())
    opposing = (
        classed.alias("a")
        .join(
            classed.alias("b"),
            (F.col("a.group_id") == F.col("b.group_id"))
            & (F.col("a.source_node_uuid") == F.col("b.source_node_uuid"))
            & (F.col("a.target_node_uuid") == F.col("b.target_node_uuid"))
            & (F.col("a.contra_class") == F.col("b.contra_class"))
            & (F.col("a.polarity") != F.col("b.polarity"))
            & (F.col("b.valid_at") > F.col("a.valid_at")),
        )
        .groupBy(F.col("a.uuid").alias("uuid"))
        .agg(F.min(F.col("b.valid_at")).alias("contra_valid_at"))
    )
    out = (
        e.join(opposing, "uuid", "left")
        .withColumn("invalid_at", F.coalesce("invalid_at", "contra_valid_at"))
        .withColumn(
            "expired_at",
            F.when(F.col("invalid_at").isNotNull(), F.lit(JOB_TS)),
        )
        .drop("contra_valid_at", "contra_class", "polarity")
    )
    return out


def build_mention_edges(mentions: DataFrame, uuid_map: DataFrame) -> DataFrame:
    """MENTIONS episodic edges (X14, edge_operations.py:37-70): one row per
    (episode, canonical entity)."""
    # entity-scaled map: no forced broadcast (see resolve_edge_pointers)
    m = uuid_map.select("group_id", "name", "canon_uuid")
    return (
        mentions.join(m, ["group_id", "name"])
        .select(
            "group_id",
            "episode_uuid",
            F.col("canon_uuid").alias("entity_uuid"),
            F.col("valid_at").alias("created_at"),
        )
        .dropDuplicates(["episode_uuid", "entity_uuid"])
        .withColumn(
            "uuid", F.md5(F.concat_ws("|", F.lit("mention"), "episode_uuid", "entity_uuid"))
        )
        .select("uuid", "group_id", "episode_uuid", "entity_uuid", "created_at")
    )
