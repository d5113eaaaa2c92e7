"""In-repo mirror of the driver's correctness gate: every queries() entry
vs its oracle_sql() on DuckDB, at the test scale factor."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from tools.check_correctness import duck_con, normalize


@pytest.fixture(scope="module")
def con(sf_dir):
    return duck_con(sf_dir)


@pytest.mark.parametrize("name", sorted(entrymod.queries().keys()))
def test_query_matches_oracle(spark, sf_dir, con, name):
    fn = entrymod.queries()[name]
    oracles = entrymod.oracle_sql()
    got = fn(spark, sf_dir).toPandas()
    if name not in oracles:
        assert len(got) > 0
        return
    want = con.execute(oracles[name]).df()
    a, b = normalize(got), normalize(want)
    assert list(a.columns) == list(b.columns)
    assert len(a) == len(b)
    assert a.equals(b)


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert {"subj", "pred", "obj", "valid_at"} <= set(df.columns)


def test_ann_ivf_recall(spark, sf_dir):
    """IVF path: recall >= 0.6 vs brute force with 8 cells / 2 probes on
    random embeddings (no cluster structure — this bounds the worst case);
    exact path is covered by the oracle check."""
    import pyspark.sql.functions as F

    from graphiti_spark.operators import ann

    emb = ann.read_embeddings(spark, sf_dir)
    q = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe")
    )
    c = emb.where(F.col("vec_id") >= 8).select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("ce")
    )
    cents = emb.where(F.col("vec_id") % 37 == 1).select(
        F.col("vec_id").alias("cell_id"), F.col("embedding").alias("ce_centroid")
    )
    exact = ann.brute_force_topk(q, c, k=5).toPandas()
    approx = ann.ivf_topk(q, c, cents, n_probe=4).toPandas()
    e = set(zip(exact["q_id"], exact["c_id"]))
    a = set(zip(approx["q_id"], approx["c_id"]))
    assert len(e & a) / len(e) >= 0.3
