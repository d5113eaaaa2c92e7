"""IVF scale path end-to-end: deterministic k-means centroid training
(integer sum-vector centroids — see operators/ann.py:train_centroids),
cell assignment, n_probe pruning, exact-integer in-cell scoring. The
driver gates exact row equality via the `ann_ivf_topk` oracle; this test
pins the APPROXIMATION quality — recall vs brute force — which SQL
equality alone can't express.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from graphiti_spark.operators import ann
from graphiti_spark.queries.shared import IVF_CELLS, IVF_K, IVF_PROBE, _QZ


def _split(spark, sf_dir):
    emb = ann.read_embeddings(spark, sf_dir)
    q = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"), F.expr(_QZ).alias("emb")
    )
    c = emb.where(F.col("vec_id") >= 8).select(
        F.col("vec_id").alias("c_id"), F.expr(_QZ).alias("emb")
    )
    return q, c


def test_ivf_trained_recall_vs_brute_force(spark, sf_dir):
    """Recall grows monotonically with probes and reaches 1.0 at full
    probe (every cell scanned == brute force). The testdata embeddings
    are RANDOM (no cluster structure), the worst case for IVF — measured
    recall with the min-k-by-hash seeding at 2/8 probes is 0.475 on
    sf0.001 (vs 0.25 for random cell pruning), 0.675 at 4, 1.0 at 8."""
    q, c = _split(spark, sf_dir)
    exact = ann.brute_force_topk(
        q.select("q_id", F.col("emb").alias("qe")),
        c.select("c_id", F.col("emb").alias("ce")),
        k=IVF_K,
    ).select("q_id", "c_id")
    exact.cache()
    total = exact.count()
    assert total == 8 * IVF_K

    def recall(n_probe: int) -> float:
        ivf = ann.ivf_topk_trained(
            q, c, n_cells=IVF_CELLS, n_probe=n_probe, k=IVF_K
        ).select("q_id", "c_id")
        return ivf.join(exact, ["q_id", "c_id"]).count() / total

    r2, r4, r8 = recall(IVF_PROBE), recall(4), recall(IVF_CELLS)
    assert r2 >= 0.45, f"2-probe recall {r2}"
    assert r4 >= r2 and r4 >= 0.65, f"4-probe recall {r4}"
    assert r8 == 1.0, f"full-probe must equal brute force, got {r8}"


def test_ivf_training_is_deterministic(spark, sf_dir):
    _, c = _split(spark, sf_dir)
    a = ann.train_centroids(c, n_cells=IVF_CELLS).collect()
    b = ann.train_centroids(c, n_cells=IVF_CELLS).collect()
    assert sorted(r["cell_id"] for r in a) == sorted(r["cell_id"] for r in b)
    ca = {r["cell_id"]: r["centroid"] for r in a}
    cb = {r["cell_id"]: r["centroid"] for r in b}
    assert ca == cb


def test_ivf_cells_partition_candidates(spark, sf_dir):
    _, c = _split(spark, sf_dir)
    cents = ann.train_centroids(c, n_cells=IVF_CELLS)
    assigned = ann.assign_cells(c, cents)
    # every candidate lands in exactly one cell
    assert assigned.count() == c.count()
    assert assigned.select("c_id").distinct().count() == c.count()
    n_cells = assigned.select("cell_id").distinct().count()
    assert 2 <= n_cells <= IVF_CELLS


def test_suggest_n_cells_sizing():
    """sqrt(N) rule with an expected-population floor: cells grow with
    the corpus so the per-cell self-join work stays bounded."""
    from graphiti_spark.operators.ann import suggest_n_cells

    assert suggest_n_cells(0) == 1
    assert suggest_n_cells(64) == 8  # the test-scale default
    assert suggest_n_cells(1_000_000) == 1000
    n = suggest_n_cells(10**9)
    assert 10**9 / n <= 100_000 * 1.01  # expected population under cap
    assert suggest_n_cells(10) <= 10


def test_cell_cap_bounds_degenerate_cell(spark):
    """Per-cell population cap (_cap_cells): a degenerate hot cell —
    40 near-identical vectors that all land in one cell — is DROPPED
    before the self-join when it exceeds max_cell, so the pair count is
    bounded by the surviving cells, never quadratic in the hot cell.
    This is the embedding-family analogue of minhash_candidates'
    max_bucket guard (operators/dedup.py)."""
    from graphiti_spark.operators.ann import contrastive_pairs, embcos_dedup_pairs

    # seed ids chosen against the min-md5(c_id) seeding: md5('363') =
    # '0041...' (global min -> the cool seed), md5('27') = '02e7...'
    # (min over the hot block -> the hot seed), so the two directions
    # each anchor a cell deterministically
    hot = [(i, [1_000_000 + i, 0]) for i in range(40)]  # one dense direction
    cool = [(363, [0, 1_000_000]), (365, [0, 999_000])]  # a small second cell
    vecs = spark.createDataFrame(hot + cool, "id long, emb array<bigint>")

    uncapped = embcos_dedup_pairs(vecs, n_cells=2, min_score_q=900_000,
                                  max_cell=100_000)
    assert uncapped.count() > 40 * 39 / 4  # hot cell dominates uncapped

    capped = embcos_dedup_pairs(vecs, n_cells=2, min_score_q=900_000,
                                max_cell=10)
    got = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert got == {(363, 365)}  # hot cell dropped, small cell survives

    capped_c = contrastive_pairs(vecs, n_cells=2, pos_q=900_000,
                                 neg_q=400_000, max_cell=10)
    ids = {r["id_a"] for r in capped_c.collect()} | {
        r["id_b"] for r in capped_c.collect()
    }
    assert ids <= {363, 365}  # no pair touches the dropped hot cell


def test_range_search_threshold_boundary(spark):
    """Exact integer threshold: score == min_score_q is included, one
    unit below is excluded — no float boundary flicker."""
    from graphiti_spark.operators.ann import range_search

    q = spark.createDataFrame(
        [(0, [1000, 0])], "q_id long, qemb array<bigint>"
    )
    c = spark.createDataFrame(
        [(10, [100, 0]), (11, [99, 0]), (12, [-100, 0])],
        "c_id long, emb array<bigint>",
    )
    got = {(r["q_id"], r["c_id"]): r["score_q"]
           for r in range_search(q, c, min_score_q=100_000).collect()}
    assert got == {(0, 10): 100000}


def test_contrastive_pairs_labels_and_midband(spark):
    """Positives at/above pos_q, negatives at/below neg_q, mid-band pairs
    dropped; all pairs come from the same cell (single cell here)."""
    from graphiti_spark.operators.ann import contrastive_pairs

    vecs = spark.createDataFrame(
        [
            (1, [1000, 0]),
            (2, [1000, 10]),   # ~ same direction -> pos vs 1
            (3, [0, 1000]),    # orthogonal -> neg vs 1 and 2
            (4, [700, 700]),   # mid-band vs 1 (700000): dropped
        ],
        "id long, emb array<bigint>",
    )
    out = {(r["id_a"], r["id_b"]): r["label"]
           for r in contrastive_pairs(vecs, n_cells=1,
                                      pos_q=900_000, neg_q=400_000).collect()}
    assert out[(1, 2)] == "pos"
    assert out[(1, 3)] == "neg" and out[(2, 3)] == "neg"
    assert (1, 4) not in out  # 700000 is mid-band


def test_norm_band_audit_bands(spark):
    from graphiti_spark.operators.ann import norm_band_audit

    # 10 vectors per label with strictly increasing norms: with bucket=1
    # each norm is its own bucket, so P10 = first vector, P90 = ninth;
    # exactly one 'low' impossible (b10 = min bucket) -> lows are empty,
    # highs = the 10th vector
    rows = [
        (i, "L", [i + 1])  # norm_sq = (i+1)^2: 1,4,9,...,100
        for i in range(10)
    ]
    df = spark.createDataFrame(
        rows, "c_id long, label string, emb array<bigint>"
    )
    out = {r["c_id"]: r.asDict() for r in norm_band_audit(df, bucket=1).collect()}
    assert out[0]["norm_sq"] == 1 and out[9]["norm_sq"] == 100
    # CDF>=10% at the first bucket -> nothing strictly below b10
    assert all(r["band"] != "low" for r in out.values() if r["c_id"] == 0)
    assert out[0]["band"] == "mid"
    # 9th vector (cum 9/10 = 90%) is b90; only the 10th exceeds it
    assert out[8]["band"] == "mid"
    assert out[9]["band"] == "high"


def test_norm_band_audit_zero_vector_flags_low(spark):
    from graphiti_spark.operators.ann import norm_band_audit

    rows = [(0, "L", [0])] + [(i, "L", [100]) for i in range(1, 20)]
    df = spark.createDataFrame(
        rows, "c_id long, label string, emb array<bigint>"
    )
    out = {r["c_id"]: r["band"] for r in norm_band_audit(df, bucket=100).collect()}
    # the broken zero vector sits below the P10 bucket of the healthy mass
    assert out[0] == "low"
    assert all(out[i] == "mid" for i in range(1, 20))
