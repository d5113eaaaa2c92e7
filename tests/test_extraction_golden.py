"""Golden-triple end-to-end: the Spark extraction must reproduce the
generative ground truth (corpus.golden_triples) with P/R = 1.0 — the
north metric demands >= 0.95; this corpus is fully recoverable so we pin
exact equality. Mirrors the reference extraction semantics
(graphiti_core/utils/maintenance/node_operations.py:40-212,
edge_operations.py:73-148, temporal_operations.py:32-68)."""

from __future__ import annotations

import pandas as pd

from graphiti_spark import corpus


def _raw_key(df: pd.DataFrame, subj, pred, obj, valid) -> set:
    return set(
        zip(
            df["group_id"],
            df[subj],
            df[pred],
            df[obj],
            pd.to_datetime(df[valid]).astype("datetime64[us]"),
        )
    )


def test_raw_triples_match_golden_exactly(graph, docs_pdf):
    golden = corpus.golden_triples(docs_pdf)
    got = graph.triples_raw.toPandas()

    # per-sentence triple instances: compare multiset via per-episode keys
    golden["episode_uuid"] = [
        __import__("hashlib").md5(f"{u}|{p}".encode()).hexdigest()
        for u, p in zip(golden["url"], golden["para_idx"])
    ]
    gset = set(
        zip(golden["episode_uuid"], golden["subj"], golden["pred"], golden["obj"])
    )
    sset = set(zip(got["episode_uuid"], got["subj_name"], got["pred"], got["obj_name"]))
    missing = gset - sset
    spurious = sset - gset
    assert not missing, f"missed {len(missing)} golden triples, e.g. {list(missing)[:3]}"
    assert not spurious, f"{len(spurious)} spurious triples, e.g. {list(spurious)[:3]}"

    # temporal attribution: valid_at matches golden per instance
    gv = _raw_key(golden, "subj", "pred", "obj", "valid_at")
    sv = _raw_key(got.rename(columns={"subj_name": "subj", "obj_name": "obj"}),
                  "subj", "pred", "obj", "valid_at")
    assert gv == sv


def test_precision_recall_reported(graph, docs_pdf):
    golden = corpus.golden_triples(docs_pdf)
    got = graph.triples_raw.toPandas()
    g = set(zip(golden["group_id"], golden["subj"], golden["pred"], golden["obj"]))
    s = set(zip(got["group_id"], got["subj_name"], got["pred"], got["obj_name"]))
    precision = len(g & s) / len(s)
    recall = len(g & s) / len(g)
    assert precision >= 0.95 and recall >= 0.95, (precision, recall)


def test_mentions_cover_all_participants(graph, docs_pdf):
    golden = corpus.golden_triples(docs_pdf)
    ments = graph.mentions_raw.toPandas()
    names = set(zip(ments["group_id"], ments["name"]))
    for col in ("subj", "obj"):
        need = set(zip(golden["group_id"], golden[col]))
        assert need <= names


def test_relative_time_forms(spark):
    """X4 relative-time rules (temporal_operations.py:32-68): each
    surface form resolves as the reference prescribes — "N days ago" /
    "last week/month/year" against the episode reference timestamp
    (incl. end-of-month clamping: Mar 31 - 1 month = Feb 29), the
    explicit "since <month> <year>" anchor overriding it, and plain
    present tense keeping the reference time itself."""
    import datetime

    from graphiti_spark.operators.extract import extract_all, split_extracted

    ref = datetime.datetime(2024, 3, 31, 10, 30)
    sents = [
        "3 days ago, Alice Johnson visited Paris.",
        "Last week, Alice Johnson visited Berlin.",
        "Last month, Alice Johnson visited Oslo.",
        "Last year, Alice Johnson visited Lisbon.",
        "Alice Johnson has led Acme Corp since March 2021.",
        "Alice Johnson works at Acme Corp.",  # present tense -> ref time
    ]
    eps = spark.createDataFrame(
        [(f"e{i}", "g", s, ref, "text") for i, s in enumerate(sents)],
        "uuid string, group_id string, content string,"
        " valid_at timestamp, source string",
    )
    triples = split_extracted(extract_all(eps))[0]
    got = {r["fact"]: r["valid_at"] for r in triples.collect()}
    assert got[sents[0]] == ref - datetime.timedelta(days=3)
    assert got[sents[1]] == ref - datetime.timedelta(days=7)
    assert got[sents[2]] == datetime.datetime(2024, 2, 29, 10, 30)  # clamped
    assert got[sents[3]] == datetime.datetime(2023, 3, 31, 10, 30)
    assert got[sents[4]] == datetime.datetime(2021, 3, 1)
    assert got[sents[5]] == ref


def test_no_title_or_noise_mentions(graph):
    """Titles and the noise paragraph are all-lowercase: chunks 0 and 1
    must contribute zero mentions."""
    eps = graph.episodes.select("uuid", "chunk_idx").toPandas().set_index("uuid")
    ments = graph.mentions_raw.select("episode_uuid").toPandas()
    chunk = eps.loc[ments["episode_uuid"], "chunk_idx"]
    assert (chunk >= 2).all()
