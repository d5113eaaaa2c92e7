"""IR eval scorecard (search.ir_eval): driver-gated via `search_eval`;
these pin the conjunctive-qrel semantics and the zero-fill paths on a
hand corpus."""

from __future__ import annotations

from graphiti_spark.operators.search import bm25_topk, ir_eval, make_queries_df


def _docs(spark):
    return spark.createDataFrame(
        [
            (1, "spark shuffle join"),
            (2, "spark join order optimizer"),
            (3, "python pandas"),
            (4, "join order"),
        ],
        "doc_id long, text string",
    )


def _eval(spark, queries):
    docs = _docs(spark)
    qs = make_queries_df(spark, queries)
    run = bm25_topk(docs, qs, "doc_id", "text", k=10)
    out = ir_eval(docs, qs, run, "doc_id").collect()
    return {r["query_id"]: r for r in out}

def test_conjunctive_qrel_and_hits(spark):
    """Query 'spark join': docs 1,2 contain both terms (doc 4 lacks
    spark) -> n_rel=2 and both are retrieved by BM25."""
    r = _eval(spark, ["spark join"])[0]
    assert r["n_rel"] == 2
    assert r["hits_at_10"] == 2
    assert 1 <= r["first_rel_rank"] <= 2


def test_no_relevant_zero_fill(spark):
    """A query whose terms co-occur nowhere: all metrics zero."""
    r = _eval(spark, ["pandas shuffle"])[0]
    assert (r["n_rel"], r["hits_at_5"], r["hits_at_10"]) == (0, 0, 0)
    assert r["first_rel_rank"] == 0


def test_single_term_query(spark):
    """'join' matches docs 1, 2, 4."""
    r = _eval(spark, ["join"])[0]
    assert r["n_rel"] == 3
    assert r["hits_at_10"] == 3
    assert r["first_rel_rank"] >= 1


def test_repeated_query_terms_dedup(spark):
    """'join join join' is the same qrel as 'join' (terms dedup)."""
    a = _eval(spark, ["join"])[0]
    b = _eval(spark, ["join join join"])[0]
    assert a["n_rel"] == b["n_rel"] == 3
