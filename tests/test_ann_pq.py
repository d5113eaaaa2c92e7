"""Product-quantization ANN: per-subspace integer codebooks, asymmetric-
distance top-k. The driver gates exact row equality via the `ann_pq_topk`
oracle; these tests pin the pieces SQL equality can't express — argmin
semantics, the truncation-toward-zero mean (the Spark`div`/DuckDB `//`
parity point), and approximation quality vs an exact L2 scan."""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from graphiti_spark.operators import ann
from graphiti_spark.queries.ann import EMB_DIM, PQ_CODES, PQ_ITERS, PQ_K, PQ_M
from graphiti_spark.queries.shared import _QZ


def test_pq_assign_argmin_and_tiebreak(spark):
    subs = spark.createDataFrame(
        [("v1", 0, [0, 0]), ("v1", 1, [5, 5])],
        "c_id string, s int, sub array<bigint>",
    )
    cents = spark.createDataFrame(
        [(0, 0, [0, 0]), (0, 1, [1, 1]), (1, 0, [9, 9]), (1, 1, [5, 5])],
        "s int, code int, cent array<bigint>",
    )
    got = {
        (r["s"]): r["code"] for r in ann._pq_assign(subs, cents).collect()
    }
    assert got[0] == 0  # exact match d2=0
    assert got[1] == 1  # [5,5]: code0 d2=32, code1 d2=0


def test_pq_codebook_mean_truncates_toward_zero(spark):
    """Two vectors in one subspace, sums odd-negative: the centroid mean
    must be sum div n with truncation toward zero (-7 div 2 = -3), which
    is exactly what DuckDB's `//` does — the oracle-parity invariant."""
    cand = spark.createDataFrame(
        [("a", [-3, 3]), ("b", [-4, 4])], "c_id string, emb array<bigint>"
    )
    cents = ann.pq_codebooks(cand, dim=2, m=1, n_codes=1, n_iter=1)
    [row] = cents.collect()
    assert row["cent"] == [-3, 3]  # (-7) div 2 = -3, 7 div 2 = 3


def test_pq_topk_shape_and_order(spark, sf_dir):
    emb = ann.read_embeddings(spark, sf_dir)
    q = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"), F.expr(_QZ).alias("emb")
    )
    c = emb.where(F.col("vec_id") >= 8).select(
        F.col("vec_id").alias("c_id"), F.expr(_QZ).alias("emb")
    )
    out = ann.pq_topk(
        q, c, dim=EMB_DIM, m=PQ_M, n_codes=PQ_CODES, n_iter=PQ_ITERS, k=PQ_K
    ).toPandas()
    assert len(out) == 8 * PQ_K
    for _, g in out.groupby("q_id"):
        g = g.sort_values("rank")
        assert list(g["rank"]) == list(range(1, PQ_K + 1))
        assert list(g["adist2"]) == sorted(g["adist2"])  # ranked ascending


def test_pq_recall_vs_exact_l2(spark, sf_dir):
    """Approximation floor on RANDOM vectors (no cluster structure — the
    PQ worst case) with the registry's 16x32 codebook: top-PQ_K overlap
    with the exact integer-L2 scan must clear a third (measured 0.475 at
    sf0.01). Tighten deliberately if the codebook grows."""
    emb = ann.read_embeddings(spark, sf_dir)
    q = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"), F.expr(_QZ).alias("emb")
    )
    c = emb.where(F.col("vec_id") >= 8).select(
        F.col("vec_id").alias("c_id"), F.expr(_QZ).alias("emb")
    )
    d2 = (
        "aggregate(zip_with(qemb, cemb, (x, y) -> (x - y) * (x - y)),"
        " 0L, (acc, v) -> acc + v)"
    )
    w = Window.partitionBy("q_id").orderBy(F.asc("d2"), F.asc("c_id"))
    exact = (
        c.select(F.col("c_id"), F.col("emb").alias("cemb"))
        .crossJoin(q.select("q_id", F.col("emb").alias("qemb")))
        .withColumn("d2", F.expr(d2))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= PQ_K)
        .select("q_id", "c_id")
    )
    exact.cache()
    total = exact.count()
    pq = ann.pq_topk(
        q, c, dim=EMB_DIM, m=PQ_M, n_codes=PQ_CODES, n_iter=PQ_ITERS, k=PQ_K
    ).select("q_id", "c_id")
    recall = pq.join(exact, ["q_id", "c_id"]).count() / total
    assert recall >= 1 / 3, recall
