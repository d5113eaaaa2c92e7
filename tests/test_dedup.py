"""MinHash/LSH and SimHash document dedup — recall vs exact Jaccard,
precision of the verification gate, determinism."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from graphiti_spark.operators.dedup import (
    doc_jaccard,
    doc_minhash,
    doc_simhash,
    minhash_candidates,
    minhash_dedup_pairs,
    simhash_near_pairs,
    word_shingles,
)


def test_minhash_deterministic():
    a = doc_minhash("the quick brown fox jumps over the lazy dog")
    b = doc_minhash("the quick brown fox jumps over the lazy dog")
    assert (a == b).all()


def test_minhash_similarity_estimate():
    t1 = " ".join(f"w{i}" for i in range(100))
    t2 = " ".join(f"w{i}" for i in range(95)) + " x1 x2 x3 x4 x5"
    sim = (doc_minhash(t1) == doc_minhash(t2)).mean()
    true_j = doc_jaccard(t1, t2)
    assert abs(sim - true_j) < 0.25


def test_word_shingles():
    assert word_shingles("a b c d") == {"a b c", "b c d"}
    assert word_shingles("a b") == {"a b"}
    assert word_shingles("") == set()


@pytest.fixture(scope="module")
def dup_docs(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    ).where(F.col("doc_id") < 100)
    dups = docs.where(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 1000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" tail marker")).alias("text"),
    )
    return docs.unionByName(dups)


def test_minhash_finds_planted_dups(spark, dup_docs):
    pairs = minhash_dedup_pairs(dup_docs).toPandas()
    found = set(zip(pairs["doc_a"], pairs["doc_b"]))
    for d in range(20):
        assert (d, d + 1000) in found, f"planted dup {d} not found"
    # verification gate: every reported pair really is >= threshold
    texts = {r["doc_id"]: r["text"] for r in dup_docs.collect()}
    for a, b, ju in pairs.itertuples(index=False):
        assert doc_jaccard(texts[a], texts[b]) >= 0.5
        assert abs(doc_jaccard(texts[a], texts[b]) * 1e6 - ju) < 2


def test_minhash_candidate_recall(spark, dup_docs):
    """Every truly-similar pair (jaccard >= 0.7) must be an LSH candidate
    (16 bands x 4 rows: P(candidate) = 1-(1-j^4)^16 > 0.99 at j=0.7)."""
    cands = minhash_candidates(dup_docs).toPandas()
    cand_set = set(zip(cands["doc_a"], cands["doc_b"]))
    rows = dup_docs.collect()
    texts = [(r["doc_id"], r["text"]) for r in rows]
    for i in range(len(texts)):
        for j in range(i + 1, len(texts)):
            a, ta = texts[i]
            b, tb = texts[j]
            if a > b:
                a, b, ta, tb = b, a, tb, ta
            if doc_jaccard(ta, tb) >= 0.7:
                assert (a, b) in cand_set


def test_simhash_properties():
    h1 = doc_simhash("the quick brown fox jumps over the lazy dog")
    h2 = doc_simhash("the quick brown fox jumps over the lazy dog")
    assert h1 == h2
    h3 = doc_simhash("the quick brown fox jumps over the lazy cat")
    ham_near = bin((h1 ^ h3) & (2**64 - 1)).count("1")
    h4 = doc_simhash("completely different words entirely elsewhere")
    ham_far = bin((h1 ^ h4) & (2**64 - 1)).count("1")
    assert ham_near < ham_far


def test_simhash_finds_planted_dups(spark, dup_docs):
    pairs = simhash_near_pairs(dup_docs, max_hamming=6).toPandas()
    found = set(zip(pairs["doc_a"], pairs["doc_b"]))
    hits = sum((d, d + 1000) in found for d in range(20))
    assert hits >= 15  # simhash is approximate; most planted dups found
    # verify reported hamming distances
    texts = {r["doc_id"]: r["text"] for r in dup_docs.collect()}
    for a, b, ham in pairs.itertuples(index=False):
        true = bin((doc_simhash(texts[a]) ^ doc_simhash(texts[b])) & (2**64 - 1)).count("1")
        assert true == ham
