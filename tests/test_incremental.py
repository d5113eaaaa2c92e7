"""Incremental batch merge (plans/incremental.py) — graphiti's
add_episode semantics at batch scale: merging batch B into the graph
built from batch A must equal the one-shot build over A ∪ B, including
cross-batch alias merges, edge dedup, and temporal invalidation."""

from __future__ import annotations

from pyspark.sql import functions as F

from graphiti_spark.plans import incremental
from graphiti_spark.plans.pipeline import triples_view
from graphiti_spark.sources.pages import build_pages


def _triples_pdf(df):
    cols = ["group_id", "subj", "pred", "obj", "fact", "valid_at",
            "invalid_at", "n_episodes"]
    return df.select(*cols).toPandas().sort_values(cols[:6]).reset_index(drop=True)


def test_incremental_equals_batch(spark, sf_dir, graph):
    pages = build_pages(spark, sf_dir)
    st = incremental.initial_state(pages.where(F.col("doc_id") % 2 == 0))
    st = incremental.merge_batch(st, pages.where(F.col("doc_id") % 2 == 1))
    inc = _triples_pdf(incremental.incremental_triples(st))

    bat = _triples_pdf(
        triples_view(graph).withColumn(
            "n_episodes", F.size("episodes").cast("long")
        )
    )
    assert inc.equals(bat), (len(inc), len(bat))


def _mini_pages(spark, rows):
    df = spark.createDataFrame(
        rows, "doc_id long, url string, warc_ts timestamp, text string,"
        " lang string, group_id string"
    )
    return df.withColumn("html", F.lit(None).cast("binary"))


def test_merge_exercises_hard_paths(spark):
    """Controlled micro-corpus pinning every hard branch of the merge:
    a batch-B typo alias of a batch-A entity whose deterministic uuid is
    SMALLER than the A cluster's canon — so the standing canon must
    change (delta_map + remap of standing edges), the A pair becomes
    touched and is recompacted, and a batch-B contradiction invalidates
    a batch-A edge across the boundary. An unrelated A entity's edge
    must pass through untouched."""
    import hashlib
    from datetime import datetime

    base = "Alice Johnson"
    base_uuid = hashlib.md5(f"node|g1|{base}".encode()).hexdigest()
    typo = next(
        base + tail
        for tail in ["n" * k for k in range(1, 9)] + list("abcdefghij")
        if hashlib.md5(f"node|g1|{base + tail}".encode()).hexdigest()
        < base_uuid
    )  # e.g. 'Alice Johnsond': md5 01e7... < 0b40..., 3-gram Jaccard 0.92

    a_pages = _mini_pages(spark, [
        (0, "https://t/0", datetime(2024, 1, 1),
         "Alice Johnson works at Acme Corp.", "en", "g1"),
        (2, "https://t/2", datetime(2024, 1, 2),
         "Bob Stone works at Globex Inc.", "en", "g1"),
    ])
    b_pages = _mini_pages(spark, [
        (1, "https://t/1", datetime(2024, 2, 1),
         f"{typo} no longer works at Acme Corp.", "en", "g1"),
    ])

    st0 = incremental.initial_state(a_pages)
    assert st0.edges.count() == 2
    st1 = incremental.merge_batch(st0, b_pages)

    # the standing canon changed: batch-A 'Alice Johnson' now maps to the
    # typo's (smaller) uuid — exactly what a full re-resolution would pick
    changed = (
        st0.canon.withColumnRenamed("canon_uuid", "old")
        .join(st1.canon, "uuid")
        .where(F.col("old") != F.col("canon_uuid"))
        .count()
    )
    assert changed > 0, "no cross-batch canon change — hard path not hit"

    # cross-boundary invalidation: the batch-A WORKS_AT edge on the merged
    # pair is invalidated by the batch-B NO_LONGER_WORKS_AT fact
    final = incremental.incremental_triples(st1).toPandas()
    works = final[(final.pred == "WORKS_AT") & (final.obj == "Acme Corp")]
    assert len(works) == 1 and works.iloc[0].invalid_at is not None
    assert works.iloc[0].subj == base  # shortest display name survives

    # the untouched Bob Stone edge passed through byte-identical
    bob0 = st0.edges.where(F.col("fact").contains("Bob Stone")).collect()
    bob1 = st1.edges.where(F.col("fact").contains("Bob Stone")).collect()
    assert [r.asDict() for r in bob0] == [r.asDict() for r in bob1]

    # incremental == one-shot batch on the union
    both = a_pages.unionByName(b_pages)
    full = incremental.initial_state(both)
    cols = ["group_id", "subj", "pred", "obj", "fact", "valid_at",
            "invalid_at", "n_episodes"]
    inc_pdf = final[cols].sort_values(cols[:6]).reset_index(drop=True)
    full_pdf = (
        incremental.incremental_triples(full)
        .toPandas()[cols].sort_values(cols[:6]).reset_index(drop=True)
    )
    assert inc_pdf.equals(full_pdf)
