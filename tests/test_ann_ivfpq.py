"""IVFADC (ivfpq_topk): coarse IVF pruning composed with residual
product quantization. The driver gates exact row equality via the
`ann_ivfpq_topk` oracle; these tests pin what SQL equality can't —
the residual-mean arithmetic (the Spark `div` / DuckDB `//` parity
point), result shape, and the two approximation floors: vs the
exact-scored IVF scan over the SAME probed cells (isolates the PQ
error) and vs full brute force (the end-to-end recall)."""

from __future__ import annotations

from pyspark.sql import functions as F

from graphiti_spark.operators import ann
from graphiti_spark.queries.ann import (
    EMB_DIM,
    IVFPQ_CODES,
    IVFPQ_ITERS,
    IVFPQ_K,
    IVFPQ_M,
)
from graphiti_spark.queries.shared import IVF_CELLS, IVF_ITERS, IVF_PROBE, _QZ


def _split(spark, sf_dir):
    emb = ann.read_embeddings(spark, sf_dir)
    q = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"), F.expr(_QZ).alias("emb")
    )
    c = emb.where(F.col("vec_id") >= 8).select(
        F.col("vec_id").alias("c_id"), F.expr(_QZ).alias("emb")
    )
    return q, c


def _ivfpq(q, c, k=IVFPQ_K):
    return ann.ivfpq_topk(
        q,
        c,
        dim=EMB_DIM,
        n_cells=IVF_CELLS,
        n_probe=IVF_PROBE,
        ivf_iter=IVF_ITERS,
        m=IVFPQ_M,
        n_codes=IVFPQ_CODES,
        pq_iter=IVFPQ_ITERS,
        k=k,
    )


def test_cell_means_truncate_toward_zero(spark):
    """Residual anchor: the per-cell mean is sum div count with
    truncation toward zero (-7 div 2 = -3) — what DuckDB's `//` does,
    the invariant the oracle's `cmean` CTE relies on."""
    assigned = spark.createDataFrame(
        [("a", [-3, 3], 0), ("b", [-4, 4], 0)],
        "c_id string, emb array<bigint>, cell_id int",
    )
    [row] = ann.cell_means(assigned).collect()
    assert row["cmean"] == [-3, 3]


def test_ivfpq_shape_and_order(spark, sf_dir):
    q, c = _split(spark, sf_dir)
    out = _ivfpq(q, c).toPandas()
    assert len(out) == 8 * IVFPQ_K
    for _, g in out.groupby("q_id"):
        g = g.sort_values("rank")
        assert list(g["rank"]) == list(range(1, IVFPQ_K + 1))
        assert list(g["adist2"]) == sorted(g["adist2"])


def test_ivfpq_recall(spark, sf_dir):
    """Two floors. (1) Against the exact-scored IVF scan over the SAME
    trained cells and probes — overlap isolates the PQ residual error
    from the pruning error. (2) Against full cosine brute force — the
    end-to-end recall, necessarily <= the probe recall (~0.475 at
    2/8 probes on random vectors, the IVF worst case). Measured at
    sf0.01: pq_overlap 0.40 — random vectors are the worst case for
    both stages (no cluster structure for IVF, full per-subspace
    residual variance for PQ); floors sit under the measurements."""
    q, c = _split(spark, sf_dir)
    ivf = ann.ivf_topk_trained(
        q, c, n_cells=IVF_CELLS, n_probe=IVF_PROBE, k=IVFPQ_K
    ).select("q_id", "c_id")
    ivf.cache()
    total = ivf.count()
    got = _ivfpq(q, c).select("q_id", "c_id")
    got.cache()
    pq_overlap = got.join(ivf, ["q_id", "c_id"]).count() / total
    assert pq_overlap >= 1 / 3, pq_overlap

    qf = q.select("q_id", F.expr("transform(emb, x -> cast(x as float))").alias("qe"))
    cf = c.select("c_id", F.expr("transform(emb, x -> cast(x as float))").alias("ce"))
    brute = ann.brute_force_topk(qf, cf, k=IVFPQ_K).select("q_id", "c_id")
    e2e = got.join(brute, ["q_id", "c_id"]).count() / total
    assert e2e >= 0.25, e2e
