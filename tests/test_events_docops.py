"""Semantics pins for the event-stream batch operators and the new
corpus-LM document operators (the oracle gate pins exactness at sf0.01;
these pin the *rules* on hand-built inputs)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from graphiti_spark.operators.docs import (
    substring_dup_stats,
    tfidf_terms,
    unigram_lm_scores,
)
from graphiti_spark.operators.events import sessionize, tumbling_windows

T0 = dt.datetime(2024, 1, 1, 0, 0, 0)


def _events(spark, rows):
    return spark.createDataFrame(
        [(i, ts, uid, et, val, "{}") for i, (ts, uid, et, val) in enumerate(rows)],
        "event_id long, ts timestamp_ntz, user_id long, event_type string,"
        " value double, props string",
    )


def test_sessionize_gap_boundary(spark):
    """Events exactly 30min apart stay in one session; 30min + 1us starts
    a new one."""
    rows = [
        (T0, 1, "view", 1.0),
        (T0 + dt.timedelta(minutes=30), 1, "click", 1.0),  # == gap: same
        (T0 + dt.timedelta(minutes=60, microseconds=1), 1, "view", 1.0),  # > gap
        (T0, 2, "view", 2.5),
    ]
    out = {
        (r["user_id"], r["session_idx"]): r
        for r in sessionize(_events(spark, rows)).collect()
    }
    assert out[(1, 0)]["n_events"] == 2
    assert out[(1, 1)]["n_events"] == 1
    assert out[(2, 0)]["n_events"] == 1
    assert out[(2, 0)]["sum_value_c"] == 250


def test_tumbling_windows_hour_buckets(spark):
    rows = [
        (T0 + dt.timedelta(minutes=m), 1, "view", 1.0) for m in (0, 59, 60, 61)
    ]
    out = tumbling_windows(_events(spark, rows)).orderBy("window_start").collect()
    assert [r["n_events"] for r in out] == [2, 2]
    assert out[0]["window_start"] == T0
    assert out[1]["window_start"] == T0 + dt.timedelta(hours=1)


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t, "en", "web", len(t)) for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )


def test_unigram_lm_rare_and_score(spark):
    docs = _docs(spark, ["common common rareword", "common common"])
    out = {r["doc_id"]: r for r in unigram_lm_scores(docs).collect()}
    # corpus: common cf=4, rareword cf=1, total=5
    assert out[0]["n_rare"] == 1 and out[1]["n_rare"] == 0
    # doc1: avg cf = 4 -> 4e6 exactly; score = 4e6 * 1000 // 5
    assert out[1]["avg_cf_u"] == 4_000_000
    assert out[1]["lm_score_n"] == 800_000_000
    # doc0: (2*4 + 1*1) * 1e6 // 3
    assert out[0]["avg_cf_u"] == 3_000_000


def test_tfidf_ranks_distinctive_terms_first(spark):
    docs = _docs(
        spark,
        ["shared shared unique alpha", "shared shared unique beta", "shared gamma"],
    )
    top = {
        r["doc_id"]: r["term"]
        for r in tfidf_terms(docs, k=1).collect()
    }
    # 'alpha'/'beta'/'gamma' are df=1 -> highest idf within each doc
    assert top == {0: "alpha", 1: "beta", 2: "gamma"}


def test_substring_dup_detects_shared_10gram(spark):
    shared = "one two three four five six seven eight nine ten"
    docs = _docs(
        spark,
        [
            shared + " eleven",  # grams: 2, one shared
            "zero " + shared,  # grams: 2, one shared
            "totally different words " + " ".join(f"w{i}" for i in range(10)),
            "short doc",  # < 10 words -> zero grams, still a row
        ],
    )
    out = {r["doc_id"]: r for r in substring_dup_stats(docs).collect()}
    assert out[0]["n_grams"] == 2 and out[0]["n_dup_grams"] == 1
    assert out[1]["n_grams"] == 2 and out[1]["n_dup_grams"] == 1
    assert out[0]["dup_frac_u"] == 500_000
    assert out[2]["n_dup_grams"] == 0
    assert out[3]["n_grams"] == 0 and out[3]["dup_frac_u"] == 0


def test_funnel_strict_ordering(spark):
    """Step k counts only events strictly after the user's step k-1 time;
    a user who clicks before ever viewing never reaches step 2."""
    from graphiti_spark.operators.events import funnel

    rows = [
        # user 1: full funnel in order
        (T0, 1, "view", 1.0),
        (T0 + dt.timedelta(minutes=1), 1, "click", 1.0),
        (T0 + dt.timedelta(minutes=2), 1, "purchase", 1.0),
        # user 2: click BEFORE first view -> funnel stops at step 1
        (T0, 2, "click", 1.0),
        (T0 + dt.timedelta(minutes=1), 2, "view", 1.0),
        # user 3: never views -> absent from the output entirely
        (T0, 3, "purchase", 1.0),
        # user 4: view then purchase (no click) -> steps_completed = 1
        (T0, 4, "view", 1.0),
        (T0 + dt.timedelta(minutes=1), 4, "purchase", 1.0),
    ]
    out = {
        r["user_id"]: r
        for r in funnel(
            _events(spark, rows), ["view", "click", "purchase"]
        ).collect()
    }
    assert set(out) == {1, 2, 4}
    assert out[1]["steps_completed"] == 3
    assert out[1]["t3"] == T0 + dt.timedelta(minutes=2)
    assert out[2]["steps_completed"] == 1 and out[2]["t2"] is None
    assert out[4]["steps_completed"] == 1


def test_length_deciles_exact_thresholds(spark):
    """10 docs of 1..10 tokens: decile d's threshold is exactly d tokens
    (cum*10 >= d*total first reached at n = d)."""
    from graphiti_spark.operators.docs import length_deciles

    texts = [" ".join(["w"] * n) for n in range(1, 11)]
    out = {
        (r["lang"], r["decile"]): r for r in length_deciles(_docs(spark, texts)).collect()
    }
    assert len(out) == 10
    for d in range(1, 11):
        assert out[("en", d)]["threshold_tokens"] == d
        assert out[("en", d)]["n_docs"] == 10


def test_asof_snapshot_boundaries(spark):
    """valid_at == ts is included; invalid_at == ts is excluded (the edge
    was already invalidated at ts); null valid_at is excluded."""
    from graphiti_spark.operators.search import asof_snapshot

    ts = "2024-06-01 00:00:00"
    t = dt.datetime(2024, 6, 1)
    rows = [
        ("a", t, None),                                  # valid exactly at ts
        ("b", t - dt.timedelta(days=1), t),              # invalidated AT ts
        ("c", t - dt.timedelta(days=1), t + dt.timedelta(days=1)),  # still valid
        ("d", t + dt.timedelta(seconds=1), None),        # not yet valid
        ("e", None, None),                               # unknown start
    ]
    df = spark.createDataFrame(
        rows, "uuid string, valid_at timestamp_ntz, invalid_at timestamp_ntz"
    )
    kept = {r["uuid"] for r in asof_snapshot(df, ts).collect()}
    assert kept == {"a", "c"}


def test_shared_affiliation_motif(spark):
    """Colleague pairs come only from currently-valid WORKS_AT edges at
    the same org; invalidated employment and other predicates don't pair."""
    from graphiti_spark.operators.search import shared_affiliation

    tv = spark.createDataFrame(
        [
            ("g", "Alice", "WORKS_AT", "Acme", None),
            ("g", "Bob", "WORKS_AT", "Acme", None),
            ("g", "Carol", "WORKS_AT", "Acme", dt.datetime(2024, 5, 1)),
            ("g", "Dave", "LIKES", "Acme", None),
            ("g", "Erin", "WORKS_AT", "Globex", None),
        ],
        "group_id string, subj string, pred string, obj string, invalid_at timestamp",
    )
    rows = {
        (r["org"], r["person_a"], r["person_b"])
        for r in shared_affiliation(tv).collect()
    }
    assert rows == {("Acme", "Alice", "Bob")}


def test_snapshot_diff_all_branches(spark):
    """added / removed / invalidated / provenance each fire exactly when
    they should; unchanged keys never appear."""
    from graphiti_spark.operators.maintenance import snapshot_diff

    schema = (
        "group_id string, subj string, pred string, obj string,"
        " invalid_at timestamp, n_episodes long"
    )
    t = dt.datetime(2024, 6, 1)
    old = spark.createDataFrame(
        [
            ("g", "A", "LIKES", "B", None, 2),      # unchanged
            ("g", "A", "WORKS_AT", "Acme", None, 1),  # -> invalidated
            ("g", "C", "LIKES", "D", None, 1),      # -> provenance (2 eps)
            ("g", "Old Name", "LEADS", "Org", None, 1),  # -> removed (canon rename)
        ],
        schema,
    )
    new = spark.createDataFrame(
        [
            ("g", "A", "LIKES", "B", None, 2),
            ("g", "A", "WORKS_AT", "Acme", t, 1),
            ("g", "C", "LIKES", "D", None, 2),
            ("g", "New Name", "LEADS", "Org", None, 1),  # added
        ],
        schema,
    )
    rows = {
        (r["subj"], r["pred"], r["obj"]): r.asDict()
        for r in snapshot_diff(new, old).collect()
    }
    assert ("A", "LIKES", "B") not in rows  # unchanged filtered
    assert rows[("A", "WORKS_AT", "Acme")]["status"] == "invalidated"
    assert rows[("C", "LIKES", "D")]["status"] == "provenance"
    assert rows[("C", "LIKES", "D")]["n_eps_old"] == 1
    assert rows[("C", "LIKES", "D")]["n_eps_new"] == 2
    assert rows[("Old Name", "LEADS", "Org")]["status"] == "removed"
    assert rows[("New Name", "LEADS", "Org")]["status"] == "added"
    assert rows[("New Name", "LEADS", "Org")]["n_eps_old"] == 0


def test_stats_rollup_levels(spark):
    """rollup emits cell, per-lang subtotal, and grand total rows whose
    counts/sums are exact."""
    from graphiti_spark.operators.docs import stats_rollup

    rows = [
        (0, "a b c", "en", "web", 5),
        (1, "d e", "en", "news", 3),
        (2, "f", "de", "web", 1),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = {
        (r["lang"], r["source"]): r.asDict()
        for r in stats_rollup(docs).collect()
    }
    assert out[("en", "web")]["n_docs"] == 1
    assert out[("en", None)]["n_docs"] == 2
    assert out[("en", None)]["total_tokens"] == 5
    assert out[(None, None)]["n_docs"] == 3
    assert out[(None, None)]["total_tokens"] == 6
    assert out[(None, None)]["max_tokens"] == 3
    assert len(out) == 3 + 2 + 1  # cells + lang subtotals + grand total


def test_entity_timeline_sequence(spark):
    """Both legs appear, ordered by valid_at with a total tiebreak."""
    from graphiti_spark.operators.search import entity_timeline

    t1, t2 = dt.datetime(2024, 1, 1), dt.datetime(2024, 2, 1)
    tv = spark.createDataFrame(
        [
            ("g", "A", "WORKS_AT", "Acme", "f1", t2, None),
            ("g", "A", "LIKES", "B", "f2", t1, None),
            ("g", "C", "ADMIRES", "A", "f3", t1, None),
        ],
        "group_id string, subj string, pred string, obj string, fact string,"
        " valid_at timestamp, invalid_at timestamp",
    )
    rows = [
        (r["seq"], r["role"], r["pred"], r["other"])
        for r in entity_timeline(tv).where("name = 'A'").orderBy("seq").collect()
    ]
    assert rows == [
        (1, "object", "ADMIRES", "C"),
        (2, "subject", "LIKES", "B"),
        (3, "subject", "WORKS_AT", "Acme"),
    ]


def test_curation_decision_reasons(spark):
    """Each curation stage fires in priority order: duplicate beats
    quality beats language beats sampling; survivors are kept."""
    from graphiti_spark.operators.docs import curation_decision

    good = "alpha bravo the and of " * 12  # 60 words, mean len 3.6, en stopwords
    gibberish = "zxqv wkjh plmn " * 20  # 60 words, no stopword/CJK hits
    rows = [
        (0, good, "en", "web"),            # kept (en rate = 1.0)
        (1, good, "en", "web"),            # exact dup of 0 -> duplicate
        (2, "tiny doc", "en", "web"),      # < 50 words -> quality
        (3, gibberish, "en", "web"),       # lang_guess 'und' -> language
        (4, good.replace("alpha", "delta"), "xx", "web"),  # rate 0 -> sampled_out
    ]
    docs = spark.createDataFrame(
        [(i, t, lg, s, len(t)) for i, t, lg, s in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = {
        r["doc_id"]: (r["keep"], r["reason"])
        for r in curation_decision(docs, {"en": 1_000_000, "xx": 0}).collect()
    }
    assert out[0] == (1, "kept")
    assert out[1] == (0, "duplicate")
    assert out[2] == (0, "quality")
    assert out[3] == (0, "language")
    assert out[4] == (0, "sampled_out")


def test_retention_matrix(spark):
    """Two users in the day-1 cohort, one returns on day 2 -> offsets
    (0: 2 users, 1e6) and (1: 1 user, 500000)."""
    from graphiti_spark.operators.events import retention

    rows = [
        (dt.datetime(2024, 1, 1, 9), 1, "view", 1.0),
        (dt.datetime(2024, 1, 1, 10), 2, "view", 1.0),
        (dt.datetime(2024, 1, 2, 11), 1, "view", 1.0),
        (dt.datetime(2024, 1, 2, 12), 1, "click", 1.0),  # same day, 1 user
    ]
    out = {
        r["day_offset"]: r.asDict()
        for r in retention(_events(spark, rows)).collect()
    }
    assert out[0]["n_users"] == 2 and out[0]["cohort_size"] == 2
    assert out[0]["retention_u"] == 1_000_000
    assert out[1]["n_users"] == 1 and out[1]["retention_u"] == 500_000
    assert len(out) == 2


def test_winnowing_guarantee(spark):
    """The MOSS guarantee: two docs sharing a token run of length
    >= w + k - 1 (= 8 here) share at least one selected fingerprint,
    wherever the run sits in each doc; disjoint docs share none."""
    from graphiti_spark.operators.docs import winnow_fingerprints

    passage = "quick brown foxes jump over seven lazy sleeping dogs today"
    texts = [
        "alpha beta gamma delta " * 6 + passage,
        passage + " omega psi chi phi " * 6,
        "one two three four five six seven eight nine ten " * 4,
    ]
    fps = winnow_fingerprints(_docs(spark, texts)).collect()
    by_doc: dict[int, set] = {}
    for r in fps:
        by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
    assert by_doc[0] & by_doc[1], "shared passage must leave a fingerprint"
    assert not (by_doc[0] & by_doc[2])
    assert not (by_doc[1] & by_doc[2])


def test_winnowing_selects_sparse_subset(spark):
    """Selected fingerprints are far fewer than gram count (~2/(w+1))
    but never zero for docs with >= 1 gram."""
    from graphiti_spark.operators.docs import WINNOW_K, winnow_fingerprints

    words = [f"w{i}" for i in range(200)]
    texts = [" ".join(words), "short doc here okay"]
    fps = winnow_fingerprints(_docs(spark, texts)).collect()
    by_doc: dict[int, set] = {}
    for r in fps:
        by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
    n_grams = 200 - WINNOW_K + 1
    assert 0 < len(by_doc[0]) < n_grams / 2
    assert len(by_doc[1]) == 1  # 4 tokens -> single gram -> single min


def test_attribution_asof_semantics(spark):
    """Last touch at-or-before the conversion wins; later touches never
    attribute backwards; conversions with no prior touch keep nulls."""
    from graphiti_spark.operators.events import last_touch_attribution

    m = dt.timedelta(minutes=1)
    rows = [
        (T0, 1, "view", 1.0),           # eid 0
        (T0 + m, 1, "view", 1.0),       # eid 1 <- last touch
        (T0 + 2 * m, 1, "purchase", 1.0),  # eid 2
        (T0 + 3 * m, 1, "view", 1.0),   # eid 3 (after: must not attribute)
        (T0, 2, "purchase", 1.0),       # eid 4: no prior view
        (T0 + m, 2, "view", 1.0),       # eid 5
        (T0 + 2 * m, 2, "purchase", 1.0),  # eid 6 <- attributes to 5
        (T0, 3, "view", 1.0),           # eid 7: same-ts touch...
        (T0, 3, "purchase", 1.0),       # eid 8: ...counts (at-or-before)
    ]
    out = {
        r["conversion_id"]: r.asDict()
        for r in last_touch_attribution(_events(spark, rows)).collect()
    }
    assert out[2]["touch_id"] == 1 and out[2]["touch_ts"] == T0 + m
    assert out[4]["touch_id"] is None and out[4]["touch_ts"] is None
    assert out[6]["touch_id"] == 5
    assert out[8]["touch_id"] == 7  # same-timestamp touch attributes
    assert set(out) == {2, 4, 6, 8}


def test_bpe_pair_counts_weighted(spark):
    """Pair totals are word-frequency weighted: 'abab' x3 contributes
    ab:6, ba:3; 'ab' x2 adds ab:2."""
    from graphiti_spark.operators.docs import bpe_pair_counts

    texts = ["abab abab abab ab ab"]
    out = {r["pair"]: r.asDict() for r in bpe_pair_counts(_docs(spark, texts)).collect()}
    assert out["ab"]["total"] == 3 * 2 + 2 * 1
    assert out["ba"]["total"] == 3
    assert out["ab"]["rank"] == 1


def test_lm_buckets_terciles(spark):
    """9 docs with strictly increasing LM scores split 3/3/3 into
    tail/middle/head; buckets are per-language."""
    from graphiti_spark.operators.docs import lm_buckets

    # score is driven by token corpus frequency: doc i repeats a token
    # shared by i+1 docs -> strictly increasing avg corpus frequency
    texts = [" ".join(["common"] * (i + 1) + [f"rare{i}"]) for i in range(9)]
    out = {r["doc_id"]: r["bucket"] for r in lm_buckets(_docs(spark, texts)).collect()}
    buckets = [out[i] for i in range(9)]
    assert buckets.count("tail") == 3
    assert buckets.count("middle") == 3
    assert buckets.count("head") == 3
    # more 'common' repeats -> higher score -> later docs are head
    assert buckets[8] == "head" and buckets[0] == "tail"


def _docs2(spark, rows):
    return spark.createDataFrame(
        [(i, t, lang, "s", len(t)) for i, (t, lang) in enumerate(rows)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )


def test_rag_chunks_spans(spark):
    from graphiti_spark.operators.docs import rag_chunks

    docs = _docs2(
        spark,
        [
            (" ".join(f"t{i}" for i in range(100)), "en"),  # 100 tokens
            (" ".join(f"t{i}" for i in range(64)), "en"),  # exactly 1 window
            ("", "en"),  # no tokens -> no chunks
        ],
    )
    rows = sorted(
        (r["doc_id"], r["chunk_idx"], r["start_tok"], r["end_tok"])
        for r in rag_chunks(docs).collect()
    )
    assert rows == [(0, 0, 0, 64), (0, 1, 48, 100), (1, 0, 0, 64)]


def test_rag_chunks_cover_and_overlap(spark):
    """Every token position is covered; consecutive chunks overlap by
    window - stride."""
    from graphiti_spark.operators.docs import RAG_STRIDE, RAG_WINDOW, rag_chunks

    docs = _docs2(spark, [(" ".join("x" * 1 for _ in range(333)), "en")])
    spans = sorted(
        (r["start_tok"], r["end_tok"]) for r in rag_chunks(docs).collect()
    )
    assert spans[0][0] == 0 and spans[-1][1] == 333
    for (s0, e0), (s1, e1) in zip(spans, spans[1:]):
        assert s1 == s0 + RAG_STRIDE and s1 < e0  # overlap, no gap


def test_dsir_weights_prefer_target_like(spark):
    """Docs sharing the target (en) vocabulary score above docs with
    disjoint off-target vocabulary."""
    from graphiti_spark.operators.docs import dsir_weights

    docs = _docs2(
        spark,
        [
            ("the quick brown fox jumps", "en"),
            ("the quick brown fox sleeps", "en"),
            ("der schnelle braune fuchs springt", "de"),
            ("the quick brown fox jumps", "de"),  # target-like non-en doc
        ],
    )
    w = {r["doc_id"]: r["weight_u"] for r in dsir_weights(docs).collect()}
    assert w[3] > w[2]  # target-like text outranks off-target text
    assert w[0] > w[2]
    assert all(r > 0 for r in w.values())


def test_type_transitions_counts(spark):
    from graphiti_spark.operators.events import type_transitions

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, t0, 10, "a", 0.0, ""),
        (2, t0 + dt.timedelta(minutes=1), 10, "b", 0.0, ""),
        (3, t0 + dt.timedelta(minutes=2), 10, "b", 0.0, ""),
        (4, t0, 20, "a", 0.0, ""),
        (5, t0 + dt.timedelta(minutes=1), 20, "c", 0.0, ""),
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    got = {
        (r["prev_type"], r["next_type"]): (r["n"], r["prob_u"])
        for r in type_transitions(ev).collect()
    }
    assert got == {
        ("a", "b"): (1, 500000),
        ("a", "c"): (1, 500000),
        ("b", "b"): (1, 1000000),
    }


def test_daily_anomalies_spike_flag(spark):
    from graphiti_spark.operators.events import daily_anomalies

    rows = []
    eid = 0
    for day, n in [(1, 1), (2, 1), (3, 6)]:
        for _ in range(n):
            eid += 1
            rows.append((eid, dt.datetime(2024, 1, day, 12), 1, "x", 0.0, ""))
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    got = {r["day"].day: (r["ratio_u"], r["is_spike"]) for r in daily_anomalies(ev).collect()}
    # total 8 over 3 days; day3: 1e6*6*3//8 = 2.25e6 -> spike
    assert got[3] == (2250000, True)
    assert got[1] == (375000, False)


def test_bigram_lm_heldout_unseen(spark):
    """LM trains on even doc_ids only: a bigram that appears solely in an
    odd doc is 'unseen' and gets the fully-smoothed probability; a
    train-frequent bigram scores strictly higher."""
    from graphiti_spark.operators.docs import bigram_lm_scores

    docs = _docs2(
        spark,
        [
            ("alpha beta alpha beta alpha beta", "en"),  # doc 0 (train)
            ("alpha beta gamma delta", "en"),  # doc 1 (held out)
            ("alpha beta", "en"),  # doc 2 (train)
        ],
    )
    rows = {r["doc_id"]: r.asDict() for r in bigram_lm_scores(docs).collect()}
    # doc 1 bigrams: (alpha,beta) seen, (beta,gamma) & (gamma,delta) unseen
    assert rows[1]["n_bigrams"] == 3 and rows[1]["n_unseen"] == 2
    assert rows[0]["n_unseen"] == 0
    assert rows[0]["avg_p_u"] > rows[1]["avg_p_u"]


def test_hopping_windows_fanout_and_counts(spark):
    from graphiti_spark.operators.events import hopping_windows

    ev = spark.createDataFrame(
        [
            (1, "2024-01-01 10:07:00", 7, "click", 1.0, ""),
            (2, "2024-01-01 10:20:00", 8, "click", 2.0, ""),
            (3, "2024-01-01 10:20:00", 7, "view", 0.5, ""),
        ],
        "event_id long, ts string, user_id long, event_type string,"
        " value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = hopping_windows(ev, window_s=3600, hop_s=900)
    rows = [r.asDict() for r in out.collect()]
    clicks = [r for r in rows if r["event_type"] == "click"]
    # every event lands in exactly 4 hop-aligned windows
    assert sum(r["n_events"] for r in clicks) == 8
    # the 10:00 window sees both clicks (10:07 and 10:20), distinct users 2
    w10 = {
        r["window_start"].strftime("%H:%M"): r for r in clicks
    }
    assert w10["10:00"]["n_events"] == 2 and w10["10:00"]["n_users"] == 2
    assert w10["10:00"]["sum_value_c"] == 300
    # 10:15 window covers [10:15, 11:15): only the 10:20 click
    assert w10["10:15"]["n_events"] == 1
    # earliest window containing 10:07 starts at 09:15
    assert min(w10) == "09:15"
    views = [r for r in rows if r["event_type"] == "view"]
    assert len(views) == 4 and all(r["n_events"] == 1 for r in views)


def test_session_baskets_support_conf_lift(spark):
    from graphiti_spark.operators.events import session_baskets

    # 4 sessions (distinct users, so gaps never split):
    #   u1: {click, view}   u2: {click, view}   u3: {click}   u4: {view, buy}
    rows = []
    eid = 0
    for u, types in [(1, ["click", "view"]), (2, ["click", "view"]),
                     (3, ["click"]), (4, ["view", "buy"])]:
        for i, t in enumerate(types):
            eid += 1
            rows.append((eid, f"2024-01-01 10:0{i}:00", u, t, 1.0, ""))
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string,"
        " value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = {(r["type_a"], r["type_b"]): r.asDict()
           for r in session_baskets(ev).collect()}
    cv = out[("click", "view")]
    # n_sessions=4, n_click=3, n_view=3, n_{click,view}=2
    assert (cv["n_ab"], cv["n_a"], cv["n_b"]) == (2, 3, 3)
    assert cv["support_u"] == 500_000
    assert cv["conf_ab_u"] == 666_666 and cv["conf_ba_u"] == 666_666
    assert cv["lift_u"] == (2 * 4 * 1_000_000) // 9  # 888888
    bv = out[("buy", "view")]
    assert bv["n_ab"] == 1 and bv["lift_u"] == (1 * 4 * 1_000_000) // 3
    assert ("buy", "click") not in out  # never co-occur


def test_session_baskets_presence_not_multiplicity(spark):
    from graphiti_spark.operators.events import session_baskets

    # one session with click x3 and view x1: the pair counts ONCE
    ev = spark.createDataFrame(
        [(i, f"2024-01-01 10:0{i}:00", 1,
          "click" if i < 3 else "view", 1.0, "") for i in range(4)],
        "event_id long, ts string, user_id long, event_type string,"
        " value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = session_baskets(ev).collect()
    assert len(out) == 1 and out[0]["n_ab"] == 1 and out[0]["support_u"] == 1_000_000
