"""GraphSAGE-style deterministic neighbor sampling
(operators/centrality.neighbor_sample)."""

from __future__ import annotations

from pyspark.sql import functions as F

from graphiti_spark.operators.centrality import neighbor_sample


def _star(spark, n=10):
    """hub 'h' connected to n spokes, plus a spoke-spoke edge."""
    rows = [("g", "h", f"s{i:02d}") for i in range(n)] + [("g", "s00", "s01")]
    return spark.createDataFrame(rows, "group_id string, subj string, obj string")


def test_fanout_bounds_and_determinism(spark):
    t = _star(spark, n=10)
    out = neighbor_sample(t, seed_mod=1).toPandas()

    # per-(seed) hop-1 fanout and per-(seed, frontier) hop-2 fanout bounds
    h1 = out[out.hop == 1]
    assert h1.groupby(["group_id", "seed"]).size().max() <= 4
    h2 = out[out.hop == 2]
    assert h2.groupby(["group_id", "seed", "src"]).size().max() <= 3
    # the hub has 10 neighbors -> exactly 4 sampled, a strict subsample
    assert len(h1[h1.seed == "h"]) == 4

    # hop-2 never walks straight back to the seed
    assert not (h2.dst == h2.seed).any()

    # deterministic: a second run is row-identical
    again = neighbor_sample(t, seed_mod=1).toPandas()
    cols = ["group_id", "seed", "hop", "src", "dst", "pos"]
    assert (
        out[cols].sort_values(cols).reset_index(drop=True)
        .equals(again[cols].sort_values(cols).reset_index(drop=True))
    )


def test_seed_subsampling(spark):
    t = _star(spark, n=40)
    all_nodes = 41
    sampled_seeds = (
        neighbor_sample(t, seed_mod=5)
        .select("seed").distinct().count()
    )
    # hash-mod seed selection: a strict, nonempty subset of the vertices
    assert 0 < sampled_seeds < all_nodes


def test_group_isolation(spark):
    rows = [("g1", "a", "b"), ("g2", "a", "c")]
    t = spark.createDataFrame(rows, "group_id string, subj string, obj string")
    out = neighbor_sample(t, seed_mod=1).toPandas()
    # no sampled edge crosses groups: every (src, dst) pair exists in its
    # own group's undirected edge set
    allowed = {("g1", "a", "b"), ("g1", "b", "a"), ("g2", "a", "c"), ("g2", "c", "a")}
    assert set(map(tuple, out[["group_id", "src", "dst"]].values)) <= allowed
