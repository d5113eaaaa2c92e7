"""Semantics of the Gopher-rule and repetition operators on hand-built
documents (the oracle gate pins them corpus-wide; this pins the rule
boundaries and tie-breaks on crafted rows)."""

from __future__ import annotations

from graphiti_spark.operators.docs import gopher_rules, lang_id, repetition_stats


def _docs(spark, rows):
    return spark.createDataFrame(
        [(i, t, "en") for i, t in enumerate(rows)], "doc_id long, text string, lang string"
    )


def test_gopher_rules_boundaries(spark):
    good = "the quick brown fox jumps over a lazy dog and that is fine " * 5
    short = "too short to pass"
    symbolic = ("the and of " + "# " * 40) * 3
    df = gopher_rules(_docs(spark, [good, short, symbolic]))
    rows = {r["doc_id"]: r.asDict() for r in df.collect()}

    assert rows[0]["keep"] == 1
    assert rows[0]["stop_distinct"] >= 2
    # 17 words < 50 -> word-count rule rejects, others may pass
    assert rows[1]["r_word_count"] == 0 and rows[1]["keep"] == 0
    # symbol ratio 40/43 words per repeat >> 0.1 -> symbol rule rejects
    assert rows[2]["r_symbol"] == 0 and rows[2]["keep"] == 0
    # '#' is not a word, so frac_alpha stays 1.0 for all-letter words
    assert rows[2]["frac_alpha_words_u"] == 1_000_000


def test_repetition_stats_counts(spark):
    # "a b a b a" -> bigrams: (a b, b a, a b, b a) -> top "a b" x2 (tie
    # with "b a" x2 broken lexicographically), 5 words / 2 distinct
    df = repetition_stats(_docs(spark, ["a b a b a", "solo", ""]))
    rows = {r["doc_id"]: r.asDict() for r in df.collect()}

    r = rows[0]
    assert (r["n_words"], r["n_distinct_words"]) == (5, 2)
    assert r["dup_word_frac_u"] == (3 * 1_000_000) // 5
    assert (r["top_bigram"], r["top_bigram_n"]) == ("a b", 2)
    assert r["top_bigram_frac_u"] == (2 * 1_000_000) // 4
    # single-word and empty docs: no bigram, zero fractions
    for d in (1, 2):
        assert rows[d]["top_bigram"] == "" and rows[d]["top_bigram_n"] == 0
        assert rows[d]["top_bigram_frac_u"] == 0


def test_lang_id_legs(spark):
    """Char-trigram profile scorer: one natural sentence per supported
    language classifies correctly."""
    rows = [
        "the cat was sitting on the mat and the information is fine",
        "der hund ist nicht zu klein und das ist eine gute entscheidung",
        "le chat est dans les maisons et il était pour une nuit",
        "el perro que corre en un parque y los gatos del año pasado",
        "中文文本测试内容",
        "la organizzazione degli investimenti che sono stati fatti in italia",
        "a situação não vai mudar com uma decisão da administração",
        "het bedrijf van een zijn aandeelhouders is belangrijk voor ons",
        "och det är viktigt för att kunna se något som fungerar",
        "nie ma przyczyny żeby tych zmian nie wprowadzić do tego prawa",
        "bir şey söylemek istiyorum ve bunu yapacaklar diyor",
    ]
    df = lang_id(_docs(spark, rows))
    got = {r["doc_id"]: r["lang_guess"] for r in df.collect()}
    assert got == {0: "en", 1: "de", 2: "fr", 3: "es", 4: "zh", 5: "it",
                   6: "pt", 7: "nl", 8: "sv", 9: "pl", 10: "tr"}


def test_lang_id_mixed_short_ambiguous(spark):
    """Edge inputs: gibberish and empty -> 'und'; a SHORT fragment with
    one distinctive trigram still resolves; a MIXED document goes to the
    majority language; ties break on the fixed priority order (scores
    equal -> first of LANG_PRIORITY wins)."""
    rows = [
        "zzz qqq xxx",                                # no profile hits
        "",                                           # empty
        "the",                                        # short but distinctive
        # mixed de/en, German majority (2 German sentences, 1 English)
        "und der wagen ist schnell. und die entscheidung ist richtig. "
        "the cat is here.",
        "xyzzy klmno pqrst uvwxy",                    # letters, no trigram hits
    ]
    df = lang_id(_docs(spark, rows))
    got = {r["doc_id"]: r["lang_guess"] for r in df.collect()}
    assert got[0] == "und" and got[1] == "und" and got[4] == "und"
    assert got[2] == "en"
    assert got[3] == "de"
    # deterministic ordering contract: equal max scores pick the first
    # language in LANG_PRIORITY — pin with a crafted exact tie (one 'en'
    # trigram of weight 2, one 'de' trigram of weight 2)
    tie = lang_id(_docs(spark, ["xingxx xeinxx"])).collect()[0]
    assert tie["en_score"] == tie["de_score"] == 2
    assert tie["lang_guess"] == "en"  # en precedes de in LANG_PRIORITY


def test_decontaminate_semantics(spark):
    """A train doc sharing a full word-8-gram with a benchmark doc is
    flagged; a paraphrase that breaks every 8-gram is not; benchmark docs
    never appear in the output; short docs keep a zero-gram row."""
    from graphiti_spark.operators.docs import decontaminate

    bench_text = "alpha bravo charlie delta echo foxtrot golf hotel india"
    rows = [
        bench_text,                              # 0: the benchmark doc
        "intro words " + bench_text,             # 1: contains the 8-gram
        "alpha bravo charlie delta echo foxtrot golf kilo india",  # 2: broken
        "too short",                             # 3: < k words
    ]
    docs = _docs(spark, rows)
    out = decontaminate(docs, docs.where("doc_id = 0"), k=8)
    got = {r["doc_id"]: r.asDict() for r in out.collect()}

    assert set(got) == {1, 2, 3}  # benchmark doc excluded
    assert got[1]["contaminated"] == 1 and got[1]["n_hit_grams"] >= 1
    assert got[2]["contaminated"] == 0 and got[2]["n_hit_grams"] == 0
    assert got[3] == {"doc_id": 3, "n_grams": 0, "n_hit_grams": 0,
                      "contaminated": 0}


def test_mix_sample_deterministic_and_rate(spark):
    """keep is a pure function of doc_id (stable across runs) and the
    achieved per-stratum rate converges to the configured one."""
    from graphiti_spark.operators.docs import mix_sample

    docs = spark.range(0, 4000).selectExpr(
        "id as doc_id", "'x' as text",
        "CASE WHEN id % 2 = 0 THEN 'en' ELSE 'zh' END as lang")
    rates = {"en": 1_000_000, "zh": 250_000}
    a = {r["doc_id"]: r["keep"] for r in mix_sample(docs, rates).collect()}
    b = {r["doc_id"]: r["keep"] for r in mix_sample(docs, rates).collect()}
    assert a == b
    kept_en = sum(v for k, v in a.items() if k % 2 == 0)
    kept_zh = sum(v for k, v in a.items() if k % 2 == 1)
    assert kept_en == 2000            # rate 1.0 keeps everything
    assert 380 <= kept_zh <= 620      # ~25% of 2000, md5-uniform


def test_pack_blocks_contiguous_stream(spark):
    """Packing is a contiguous concat: each doc starts where the previous
    ended, block indices derive exactly from offsets."""
    from graphiti_spark.operators.docs import pack_blocks

    rows = ["one two three", "a b", "x " * 3000, "tail doc"]
    out = pack_blocks(_docs(spark, rows), block_tokens=16)
    got = sorted((r.asDict() for r in out.collect()),
                 key=lambda r: r["doc_id"])
    pos = 0
    for r in got:
        assert r["start_pos"] == pos
        assert r["start_block"] == pos // 16
        assert r["end_block"] == (pos + r["n_tokens"] - 1) // 16
        pos += r["n_tokens"]
    # the 3000-token doc spans many blocks
    big = got[2]
    assert big["end_block"] - big["start_block"] >= 180


def test_quality_classifier_separates_classes(spark):
    """holdout_pct=0 -> every doc trains; good/bad vocabularies are
    disjoint, so each class's tokens carry its own label weight and
    pred == label on both. The bad doc's score is exact: every token is
    (c1=0, c0=1) -> w = 1e6 // 3."""
    from graphiti_spark.operators.docs import quality_classifier

    good = "the quick brown fox jumps over a lazy dog and that is fine " * 5
    bad = "too short crummy snippet"
    out = quality_classifier(_docs(spark, [good, bad]), holdout_pct=0)
    rows = {r["doc_id"]: r.asDict() for r in out.collect()}
    assert rows[0]["label"] == 1 and rows[1]["label"] == 0
    assert rows[0]["pred"] == 1 and rows[0]["score_u"] > 500_000
    assert rows[1]["pred"] == 0
    assert rows[1]["score_u"] == 1_000_000 // 3
    assert rows[1]["n_tokens"] == 4


def test_quality_classifier_empty_doc_neutral(spark):
    from graphiti_spark.operators.docs import quality_classifier

    out = quality_classifier(_docs(spark, ["", "#!?"]), holdout_pct=0)
    for r in out.collect():
        assert r["n_tokens"] == 0 and r["score_u"] == 500_000
        assert r["pred"] == 1  # neutral score sits on the keep side


def test_lang_confusion_is_rowwise_consistent(spark, sf_dir):
    from graphiti_spark.queries.docs import q_doc_lang_confusion

    rows = q_doc_lang_confusion(spark, sf_dir).collect()
    by_true = {}
    for r in rows:
        by_true.setdefault(r["lang_declared"], []).append(r)
    for lang, cells in by_true.items():
        # recall shares are exact integer fractions of the per-language total
        n_true = sum(c["n_docs"] for c in cells)
        for c in cells:
            assert c["recall_u"] == (c["n_docs"] * 1_000_000) // n_true
    # cells partition the corpus exactly (the synthetic texts are
    # English-ish tokens whatever the DECLARED lang, so the matrix is
    # column-heavy on 'en' — that disagreement is what the table is for)
    total = sum(c["n_docs"] for cells in by_true.values() for c in cells)
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert total == n_docs


def test_clf_eval_held_out_generalizes(spark, sf_dir):
    from graphiti_spark.queries.docs import q_doc_clf_eval

    cells = {(r["label"], r["pred"]): r for r in q_doc_clf_eval(spark, sf_dir).collect()}
    # mixed-label corpus: both classes appear in the held-out set and the
    # trained classifier separates them (off-diagonal cells empty here)
    assert (0, 0) in cells and (1, 1) in cells
    assert (0, 1) not in cells and (1, 0) not in cells
    assert sum(r["share_u"] for r in cells.values()) >= 999_998
