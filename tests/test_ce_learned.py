"""Learned cross-encoder (operators/ce_learned.py): bit-reproducible
training, reference client surface, learned-vs-unlearned quality, and
Spark/oracle weight agreement."""

from __future__ import annotations

import duckdb

from graphiti_spark.operators.ce_learned import (
    LearnedCrossEncoder,
    _pair_features,
    learned_ce_rank,
    sample_passages,
    train_weights,
)


def _passages():
    return [
        f"document {i} about {'spark pipelines' if i % 3 == 0 else 'graph theory'} "
        f"section {i % 7} with shared vocabulary tokens alpha beta"
        for i in range(40)
    ]


def test_training_is_deterministic():
    p = _passages()
    w1 = train_weights(list(p))
    w2 = train_weights(list(p))
    assert w1 == w2
    assert len(w1) == 5
    assert all(isinstance(x, int) for x in w1)


def test_learned_weights_rank_self_passage_first():
    """Pseudo-relevance quality: querying with a passage's own prefix
    should retrieve that passage at rank 1 for nearly all passages —
    the training objective, evaluated via the client surface."""
    p = [
        f"unique{i} topic{i} body text number {i} trailing shared words"
        for i in range(30)
    ]
    ce = LearnedCrossEncoder(train_weights(list(p)))
    hits = 0
    for i, passage in enumerate(p):
        q = " ".join(passage.split()[:5])
        top = ce.rank(q, list(p))[0][0]
        hits += top == passage
    assert hits >= 27  # >= 90% self-retrieval accuracy


def test_client_surface_sorted_desc():
    ce = LearnedCrossEncoder()
    out = ce.rank("alpha beta", ["alpha beta gamma", "unrelated words here"])
    assert len(out) == 2
    assert out[0][1] >= out[1][1]
    assert out[0][0] == "alpha beta gamma"


def test_features_integer_and_phrase_hit():
    f = _pair_features(
        ["alpha", "beta"], ["alpha", "beta", "gamma"],
        {"alpha": 1, "beta": 1, "gamma": 1}, 3,
        "alpha beta", "alpha beta gamma",
    )
    assert all(isinstance(x, int) for x in f)
    assert f[1] == 2      # two shared distinct terms
    assert f[4] == 1      # phrase hit
    f2 = _pair_features(
        ["alpha", "beta"], ["beta", "alpha"],
        {"alpha": 1, "beta": 1}, 2, "alpha beta", "beta alpha",
    )
    assert f2[4] == 0     # reordered -> no phrase hit


def test_sample_passages_deterministic_and_bounded():
    rows = [(i * 3, f"text {i}") for i in range(1000)]
    s1 = sample_passages(list(reversed(rows)))
    s2 = sample_passages(rows)
    assert s1 == s2
    assert len(s1) <= 200


def test_spark_rank_matches_duckdb_oracle(spark, sf_dir):
    """End-to-end engine parity at the test scale: the registry query and
    its oracle SQL (same trained weights) agree row-for-row."""
    import os

    from graphiti_spark.queries.search import (
        _sql_search_ce_learned,
        q_search_ce_learned,
    )

    os.environ["SPARK_GRAFT_ORACLE_SF"] = sf_dir
    got = (
        q_search_ce_learned(spark, sf_dir)
        .toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
    )
    want = (
        con.execute(_sql_search_ce_learned())
        .df()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    assert len(got) == len(want) > 0
    assert (got["doc_id"].astype(str).values == want["doc_id"].astype(str).values).all()
    assert (got["ce_score_u"].values == want["ce_score_u"].values).all()
