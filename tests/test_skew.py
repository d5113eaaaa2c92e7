"""Skew-handling utilities: salted joins/aggregations must be
row-identical to their plain counterparts, and the entity-LSH bucket cap
must drop only pathological buckets."""

from __future__ import annotations

from pyspark.sql import functions as F

from graphiti_spark.functions.skew import salted_join, salted_top1_by


def _skewed(spark):
    # one hot key (90% of rows) + a long tail, with a payload column
    rows = [(("hot" if i % 10 else f"k{i}"), i, f"p{i}") for i in range(1000)]
    return spark.createDataFrame(rows, "k string, v long, payload string")


def test_salted_join_matches_plain_inner(spark):
    big = _skewed(spark)
    small = spark.createDataFrame(
        [("hot", 1), ("k10", 2), ("k20", 3), ("missing", 4)], "k string, tag long"
    )
    plain = big.join(small, ["k"]).orderBy("v").collect()
    salted = salted_join(big, small, ["k"], n_salt=8).orderBy("v").collect()
    assert salted == plain
    assert len(plain) == 900 + 2  # hot rows + k10 + k20


def test_salted_join_matches_plain_left(spark):
    big = _skewed(spark)
    small = spark.createDataFrame([("hot", 1)], "k string, tag long")
    plain = big.join(small, ["k"], "left").orderBy("v").collect()
    salted = salted_join(big, small, ["k"], n_salt=4, how="left").orderBy(
        "v"
    ).collect()
    assert salted == plain


def test_salted_top1_matches_window_min(spark):
    df = _skewed(spark)
    got = {
        r["k"]: (r["v"], r["payload"])
        for r in salted_top1_by(df, ["k"], "v", ["payload"], n_salt=8).collect()
    }
    want = {
        r["k"]: (r["v"], r["payload"])
        for r in df.groupBy("k")
        .agg(F.min_by(F.struct("v", "payload"), "v").alias("b"))
        .select("k", "b.*")
        .collect()
    }
    assert got == want
    assert got["hot"] == (1, "p1")  # smallest hot-key v (i % 10 != 0 rows)


def test_flagship_dag_on_adversarial_skew_fixture(spark, sf_dir, tmp_path):
    """The north rule names hot-domain skew. Build the adversarial
    fixture (tools/make_skew_fixture.py: ~45% of docs on ONE domain, hot
    doc_ids pinned to a single residue class mod 96 so a handful of
    entity names reach extreme frequency) and run the flagship DAG on it:

    - the hot group must dominate (the skew actually exists),
    - raw extraction on hot docs must still equal the generative truth
      (P/R = 1.0 — skew cannot cost correctness),
    - typo'd surface forms of the flooded names must still resolve to the
      clean canonical (LSH under skew),
    - the hot template set includes the EMPLOYED_AT / NO_LONGER_WORKS_AT
      contradiction pair, so temporal invalidation must fire inside the
      hot group."""
    import sys

    sys.path.insert(0, str(__import__("pathlib").Path(__file__).parents[1]))
    from tools.make_skew_fixture import HOT_SOURCE, hot_doc_ids, make_fixture

    from graphiti_spark import corpus
    from graphiti_spark.plans.pipeline import build_graph

    dst = str(tmp_path / "skew")
    info = make_fixture(sf_dir, dst, 0.45)
    assert info["n_hot"] > 0

    t = build_graph(spark, dst)

    # 1. domain skew is real: hot group holds ~45%+ of episodes
    per_group = dict(
        t.episodes.groupBy("group_id").count().collect()
    )
    total = sum(n for _, n in per_group.items())
    assert per_group[HOT_SOURCE] / total > 0.4

    # 2. extraction == generative truth on a sample of hot docs
    hot_ids = hot_doc_ids(info["n_hot"])[::37]
    want = set()
    for d in hot_ids:
        for k in range(corpus.doc_sentence_count(d)):
            f = corpus.sentence_fields(d, k)
            trip = corpus.sentence_triple(f)
            if trip:  # trip[0] is already the extracted surface form
                want.add((trip[0], trip[1]))
    got = {
        (r["subj_name"], r["pred"])
        for r in t.triples_raw.where(F.col("group_id") == HOT_SOURCE)
        .select("subj_name", "pred").distinct().collect()
    }
    missing = {(s, p) for (s, p) in want if (s, p) not in got}
    assert not missing, f"extraction lost hot-doc truths: {sorted(missing)[:5]}"

    # 3. flooded names resolve: no typo'd form survives as a canonical
    #    person name (typo = final letter doubled)
    canon_names = [
        r["name"] for r in t.nodes.where(
            (F.col("group_id") == HOT_SOURCE)
            & F.array_contains("labels", "Person")
        ).collect()
    ]
    assert canon_names
    typo_forms = {p + p[-1] for p in corpus.PERSONS}
    assert not (set(canon_names) & typo_forms)

    # 4. invalidation fired inside the hot group
    assert (
        t.edges.where(
            (F.col("group_id") == HOT_SOURCE)
            & F.col("invalid_at").isNotNull()
        ).count()
        > 0
    )


def test_lsh_bucket_cap_drops_pathological_bucket(spark):
    """A template family of near-identical names (one hot LSH bucket) is
    dropped by the cap; a genuine small alias cluster still matches."""
    from graphiti_spark.operators.resolve import match_edges_lsh

    # 60 rows with the SAME norm name = one hot bucket in every band
    # (the exact-name case is exact-blocking's job anyway — resolve runs
    # match_edges_exact on it — so LSH dropping it loses nothing)
    rows = [
        ("g", "template page", "template page", "Place", f"u{i:05d}")
        for i in range(60)
    ] + [
        ("g", "alice johnson", "alice johnson", "Person", "ua"),
        ("g", "alice johnsonn", "alice johnsonn", "Person", "ub"),
    ]
    ents = spark.createDataFrame(
        rows, "group_id string, name string, norm_name string, label string, uuid string"
    )
    capped = match_edges_lsh(ents, max_bucket=10)
    pairs = {(r["src"], r["dst"]) for r in capped.collect()}
    assert ("ua", "ub") in pairs or ("ub", "ua") in pairs
    # every template pair is gone (their buckets exceed the cap)
    assert all(not (a.startswith("u0") and b.startswith("u0")) for a, b in pairs)
    # uncapped, the hot bucket floods the candidate set quadratically
    flood = match_edges_lsh(ents, max_bucket=100_000)
    assert flood.count() == capped.count() + 60 * 59 // 2


def test_lsh_bucket_cap_through_the_merge(spark, monkeypatch):
    """Bucket populations accumulate across batches: a hot template bucket
    split over a standing and a new batch is dropped by the merge as by
    the one-shot resolution, and the alias pair still merges. Each
    unordered pair is one delta candidate."""
    from pyspark.sql import functions as F

    from graphiti_spark.operators import resolve as R

    monkeypatch.setattr(R, "LSH_BUCKET_CAP", 10)
    # 16 distinct names with ONE shingle set {^la, 'la ', 'a l', ' la',
    # la$}: one hot bucket in every band that exact blocking never sees
    templates = [(" ".join(["la"] * k), f"t{k:02d}") for k in range(2, 18)]

    def ents(rows):
        return spark.createDataFrame(
            [("g", n, n, "Place", u) for n, u in rows],
            "group_id string, name string, norm_name string, label string, uuid string",
        )

    # 12 standing members are over the cap already; the 4 new ones alone
    # are not — only the accumulated count (16) drops them
    standing = ents(templates[:12] + [("alice johnson", "ua")])
    batch = ents(templates[12:] + [("alice johnsonn", "ub"),
                                   ("bob hartley", "uc"), ("bob hartleyy", "ud")])
    empty = R.EntityIndex.empty(spark)
    one_shot, _ = R.resolve_entities(empty, standing.unionByName(batch))
    index, _ = R.resolve_entities(empty, standing)
    merged, delta = R.resolve_entities(index, batch)

    canon = dict(merged.canon.collect())
    assert canon == dict(one_shot.canon.collect())
    assert all(canon[u] == u for _, u in templates)  # no template pair merged
    assert canon["ub"] == "ua" and canon["ud"] == "uc"
    assert dict(delta.collect()) == {"ub": "ua", "ud": "uc"}

    bands = index.bands.withColumn("_new", F.lit(False)).unionByName(
        R.lsh_band_rows(batch).withColumn("_new", F.lit(True))
    )
    pairs = [(r["src"], r["dst"]) for r in R.lsh_pairs(bands, merged.bucket_n, 10).collect()]
    assert sorted(pairs) == [("ub", "ua"), ("uc", "ud")]
