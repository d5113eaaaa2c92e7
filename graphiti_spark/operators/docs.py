"""Training-data document operators over the `documents` table: token
counting, quality scoring, language-ID, fingerprinting, exact and n-gram
near-duplicate detection.

These are the large-scale-pipeline primitives the engine offers beyond the
reference's own operator set (the reference's text handling stops at
cleaning/chunking, /root/reference/graphiti_core/llm_client/client.py:63-83).
Everything is JVM-side built-ins (regexp_count / split / higher-order array
functions) so the whole stage is whole-stage-codegen'd; ratios are emitted
as exact integer micro-units (``x * 1_000_000 div y``) so the DuckDB oracle
matches bit-for-bit with no float drift.

Scale notes (100 TB): every operator here is a single narrow projection
except n-gram dedup, which shuffles once on the shingle key (skew-prone for
boilerplate shingles — hot shingles are dropped by a document-frequency cap
before the self-join, the standard LSH-free guard).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

WS_TOKEN = r"\S+"
WORD = "[a-z0-9]+"
WORD_CHAR = "[a-z0-9]"
BPE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"
PUNCT = r"[^A-Za-z0-9\s]"

EN_STOP = r"\b(the|and|of|is|in|to|a|for|on|with)\b"
CJK = r"[\x{4e00}-\x{9fff}]"

# Char-trigram language profiles (Cavnar & Trenkle 1994 "N-Gram-Based
# Text Categorization" — the fastText-free classic): per language, its
# most DISTINCTIVE frequent trigrams derived from top function words /
# morphology (public linguistic knowledge), weighted to favor
# language-unique trigrams over ones shared across Romance/Germanic
# neighbors. Scores accumulate per occurrence over the (lowercased,
# letter-only, space-padded) first LANGID_PREFIX chars; zh is scored on
# CJK character hits (no whitespace tokenization in CJK). The single
# source of truth for BOTH the Spark scorer (lang_id) and the DuckDB
# oracle mirror (sql_lang_id_cte).
LANG_TRIGRAMS: dict[str, list[tuple[str, int]]] = {
    "en": [("the", 3), (" th", 2), ("and", 2), ("ing", 2), (" of", 2),
           ("ion", 1), ("tio", 2), (" is", 1), ("ed ", 1), (" wa", 1)],
    "de": [("der", 2), ("die", 2), ("und", 3), ("ein", 2), ("ich", 2),
           ("sch", 2), ("cht", 2), ("ung", 3), (" zu", 2), ("gen", 1)],
    "fr": [(" le", 2), ("les", 2), ("ent", 1), ("que", 1), ("ais", 2),
           ("ons", 2), ("eur", 1), ("est", 1), (" ét", 3), ("aux", 2)],
    "es": [(" el", 2), ("los", 2), ("ado", 2), ("que", 1), ("ión", 3),
           ("nte", 1), ("una", 2), (" y ", 3), ("ar ", 1), ("año", 2)],
    "it": [(" di", 2), ("che", 2), ("zio", 3), ("ell", 2), ("are", 1),
           ("ato", 2), ("gli", 3), ("ità", 3), (" il", 3), ("non", 1)],
    "pt": [("ção", 3), ("ão ", 3), ("da ", 2), ("uma", 2), ("não", 3),
           ("com", 1), ("os ", 1), ("em ", 1), ("lho", 2), ("ões", 3)],
    "nl": [("het", 3), ("een", 2), ("van", 3), ("aar", 2), ("ijk", 3),
           ("ij ", 2), ("oor", 2), ("iet", 1), ("aat", 1), ("zij", 3)],
    "sv": [("och", 3), ("att", 2), ("det", 2), ("för", 3), ("som", 2),
           ("lig", 1), ("än ", 2), ("ång", 2), ("kt ", 1), ("js ", 1)],
    "pl": [("nie", 2), ("rze", 2), ("cze", 2), ("ych", 3), ("ego", 3),
           ("owa", 2), ("ści", 3), ("prz", 3), (" w ", 3), ("ać ", 2)],
    "tr": [("lar", 2), ("ler", 2), ("bir", 3), ("iyo", 3), ("ını", 3),
           ("ünü", 2), ("ğı ", 3), ("tır", 2), ("yor", 3), ("mek", 2)],
}
LANG_PRIORITY = ["zh"] + list(LANG_TRIGRAMS)  # deterministic tie-break
LANGID_PREFIX = 1000  # chars scored per doc (langid needs a prefix only)

# the Gopher "must contain >= 2 of" stopword set (Rae et al. 2021 §A1.1)
GOPHER_STOPS = ("the", "be", "to", "of", "and", "that", "have", "with")
# alphanumeric token that contains at least one letter (greedy, so each
# [a-z0-9]+ run is counted at most once — same count in Java and RE2)
WORD_ALPHA = "[0-9]*[a-z][a-z0-9]*"
SYMBOL = r"#|\.\.\.|…"


def read_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _udiv(num, den):
    """Exact micro-ratio: floor(num*1e6 / den) in pure integer arithmetic
    (same result in Spark `div` and DuckDB `//`)."""
    return F.expr(f"({num} * 1000000L) div greatest({den}, 1)")


def token_stats(docs: DataFrame) -> DataFrame:
    """Whitespace / word / BPE-ish token counts per document (F2-analogue
    analyzers; the BPE regex is the byte-pair pre-tokenizer split)."""
    low = F.lower("text")
    return docs.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        F.regexp_count("text", F.lit(WS_TOKEN)).alias("n_ws_tokens"),
        F.regexp_count(low, F.lit(WORD)).alias("n_words"),
        F.regexp_count("text", F.lit(BPE)).alias("n_bpe_tokens"),
        F.regexp_count("text", F.lit(PUNCT)).alias("n_punct"),
    )


def length_deciles(docs: DataFrame) -> DataFrame:
    """Exact per-language whitespace-token-count deciles via the
    histogram-CDF pattern: aggregate the corpus down to one row per
    (lang, token_count) FIRST (map-side partial agg; the distinct-length
    domain is bounded by max document size, not corpus size), then run
    the running-sum window over that tiny histogram. Never a
    corpus-wide per-row sort — the decile of a 10^12-doc corpus costs
    one narrow shuffle plus a window over ~10^4 histogram rows per lang.

    threshold_tokens for decile d = the smallest token count n whose
    cumulative doc count reaches d/10 of the language's corpus (exact,
    integer arithmetic: cum * 10 >= d * total).
    """
    toks = docs.select(
        "lang", F.regexp_count("text", F.lit(WS_TOKEN)).alias("n")
    )
    hist = toks.groupBy("lang", "n").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("lang").orderBy("n")
    cdf = hist.select(
        "lang",
        "n",
        F.sum("cnt")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("cum"),
    )
    totals = hist.groupBy("lang").agg(F.sum("cnt").alias("total"))
    deciles = totals.select(
        "lang",
        "total",
        F.explode(F.sequence(F.lit(1), F.lit(10))).alias("decile"),
    )
    return (
        deciles.join(cdf, "lang")
        .where(F.col("cum") * 10 >= F.col("decile") * F.col("total"))
        .groupBy("lang", "decile", "total")
        .agg(F.min("n").alias("threshold_tokens"))
        .select(
            "lang",
            F.col("decile").cast("long").alias("decile"),
            F.col("threshold_tokens").cast("long").alias("threshold_tokens"),
            F.col("total").cast("long").alias("n_docs"),
        )
    )


def stats_rollup(docs: DataFrame) -> DataFrame:
    """Dataset-card rollup: corpus statistics at every (lang, source)
    granularity in ONE pass — per cell, per lang, and grand total — via
    Spark's native `rollup` (a single shuffle producing all grouping
    sets; the partial aggregates are map-side combined once, not once
    per level, which is exactly why rollup beats three separate groupBys
    at 100 TB). NULL dimension = subtotal row (lang/source are never
    null in the corpus)."""
    return (
        docs.select(
            "lang",
            "source",
            F.regexp_count("text", F.lit(WS_TOKEN)).alias("n_toks"),
            "n_chars",
        )
        .rollup("lang", "source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_toks").cast("long").alias("total_tokens"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.min("n_toks").cast("long").alias("min_tokens"),
            F.max("n_toks").cast("long").alias("max_tokens"),
        )
    )


def quality_scores(docs: DataFrame) -> DataFrame:
    """Deterministic quality heuristics in integer micro-units: stopword
    ratio, punctuation ratio, mean word length, and a composite score."""
    low = F.lower("text")
    base = docs.select(
        "doc_id",
        F.regexp_count(low, F.lit(WORD)).alias("n_words"),
        F.regexp_count(low, F.lit(WORD_CHAR)).alias("n_word_chars"),
        F.regexp_count("text", F.lit(PUNCT)).alias("n_punct"),
        F.regexp_count(low, F.lit(EN_STOP)).alias("n_stop"),
        F.length("text").alias("n_chars"),
    )
    scored = base.select(
        "doc_id",
        "n_words",
        _udiv("n_stop", "n_words").alias("stop_ratio_u"),
        _udiv("n_punct", "n_chars").alias("punct_ratio_u"),
        _udiv("n_word_chars", "n_words").alias("mean_word_len_u"),
    )
    # composite: reward length up to 400 words, penalize punctuation
    return scored.withColumn(
        "quality_u",
        F.expr(
            "(least(n_words, 400) * 1000000L div 400) div 2"
            " + (1000000 - punct_ratio_u) div 2"
        ),
    )


_LANGID_NORM = (
    f"substr(' ' || regexp_replace(lower(text), '[^\\\\p{{L}}]+', ' '),"
    f" 1, {LANGID_PREFIX})"
)


def _trigram_score_expr(prof: list[tuple[str, int]]) -> str:
    """Spark SQL: accumulated profile weight over every overlapping char
    trigram of the normalized prefix `_t` — one aggregate-over-sequence
    inside whole-stage codegen (no explode, no shuffle; the CASE chain
    compiles to a jump table)."""
    whens = " ".join(f"WHEN '{g}' THEN {w}L" for g, w in prof)
    return (
        "IF(length(_t) < 3, 0L,"
        " aggregate(transform(sequence(1, length(_t) - 2),"
        f" i -> CASE substr(_t, i, 3) {whens} ELSE 0L END),"
        " 0L, (a, x) -> a + x))"
    )


def lang_id(docs: DataFrame) -> DataFrame:
    """Char-trigram-profile language ID (Cavnar & Trenkle 1994) over 10
    alphabetic languages + CJK char-class detection for zh, else 'und'.

    Each language scores the sum of its profile weights over every
    overlapping trigram of the normalized first {LANGID_PREFIX} chars
    (lowercased, non-letters collapsed to single spaces, space-padded so
    word-boundary trigrams like ' th' fire). zh is scored on CJK
    character hits. The winner is the max score with a fixed priority
    order breaking ties deterministically; all-zero -> 'und'. Everything
    is ONE narrow whole-stage-codegen'd projection: prefix-bounded
    per-row work, no shuffle, no UDF — the plan is a pure map at any
    corpus size."""
    h = docs.select(
        "doc_id",
        F.col("lang").alias("lang_declared"),
        F.expr(_LANGID_NORM).alias("_t"),
        F.regexp_count("text", F.lit(CJK)).alias("zh_score"),
    ).select(
        "doc_id",
        "lang_declared",
        "zh_score",
        *[
            F.expr(_trigram_score_expr(prof)).alias(f"{lg}_score")
            for lg, prof in LANG_TRIGRAMS.items()
        ],
    )
    all_scores = ", ".join(f"{lg}_score" for lg in LANG_PRIORITY)
    pick = " ".join(
        f"WHEN {lg}_score = _m THEN '{lg}'" for lg in LANG_PRIORITY
    )
    return h.withColumn("_m", F.expr(f"greatest({all_scores})")).withColumn(
        "lang_guess",
        F.expr(f"CASE WHEN _m = 0 THEN 'und' {pick} END"),
    ).drop("_m")


def sql_lang_id_cte() -> str:
    """DuckDB mirror of lang_id over the `documents` view — generated
    from the SAME LANG_TRIGRAMS table, so Spark and the oracle can never
    drift. Returns a full SELECT (doc_id, lang_declared, *_score,
    lang_guess)."""

    def case(prof):
        whens = " ".join(f"WHEN '{g}' THEN {w}" for g, w in prof)
        return f"CASE t[i:i+2] {whens} ELSE 0 END"

    score_cols = ",\n         ".join(
        f"CAST(coalesce(list_sum(list_transform(range(1, greatest(len(t) - 1, 1)),"
        f" i -> {case(prof)})), 0) AS BIGINT) AS {lg}_score"
        for lg, prof in LANG_TRIGRAMS.items()
    )
    all_scores = ", ".join(f"{lg}_score" for lg in LANG_PRIORITY)
    pick = " ".join(f"WHEN {lg}_score = m THEN '{lg}'" for lg in LANG_PRIORITY)
    return f"""
SELECT doc_id, lang_declared, zh_score, {", ".join(f"{lg}_score" for lg in LANG_TRIGRAMS)},
       CASE WHEN m = 0 THEN 'und' {pick} END AS lang_guess
FROM (
  SELECT *, greatest({all_scores}) AS m
  FROM (
    SELECT doc_id, lang AS lang_declared,
           substr(' ' || regexp_replace(lower(text), '[^\\p{{L}}]+', ' ', 'g'),
                  1, {LANGID_PREFIX}) AS t,
           len(regexp_extract_all(text, '{CJK}')) AS zh_score
    FROM documents
  ) n
  CROSS JOIN LATERAL (SELECT {score_cols}) s
) z"""


def gopher_rules(docs: DataFrame) -> DataFrame:
    """Gopher-style quality-filter signals and rule flags (Rae et al.
    2021 §A1.1, the standard web-corpus pre-training filter): word-count
    bounds, mean-word-length bounds, symbol-to-word ratio, fraction of
    words containing a letter, and the >=2-distinct-stopwords rule.
    Flags are 0/1 bigints; ratios are exact integer micro-units. One
    narrow projection — no shuffle, no UDF, survives any scale."""
    low = F.lower("text")
    stop_flags = [
        F.expr(
            f"CASE WHEN lower(text) RLIKE '\\\\b{w}\\\\b' THEN 1L ELSE 0L END"
        ).alias(f"has_{w}")
        for w in GOPHER_STOPS
    ]
    base = docs.select(
        "doc_id",
        F.regexp_count(low, F.lit(WORD)).alias("n_words"),
        F.regexp_count(low, F.lit(WORD_CHAR)).alias("n_word_chars"),
        F.regexp_count(low, F.lit(WORD_ALPHA)).alias("n_alpha_words"),
        F.regexp_count("text", F.lit(SYMBOL)).alias("n_symbols"),
        *stop_flags,
    )
    stops_sum = " + ".join(f"has_{w}" for w in GOPHER_STOPS)
    sig = base.select(
        "doc_id",
        "n_words",
        _udiv("n_word_chars", "n_words").alias("mean_word_len_u"),
        _udiv("n_alpha_words", "n_words").alias("frac_alpha_words_u"),
        _udiv("n_symbols", "n_words").alias("symbol_ratio_u"),
        F.expr(f"({stops_sum})").alias("stop_distinct"),
    )
    return sig.select(
        "*",
        F.expr("CASE WHEN n_words BETWEEN 50 AND 100000 THEN 1L ELSE 0L END").alias(
            "r_word_count"
        ),
        F.expr(
            "CASE WHEN mean_word_len_u BETWEEN 3000000 AND 10000000 THEN 1L ELSE 0L END"
        ).alias("r_mean_word_len"),
        F.expr("CASE WHEN symbol_ratio_u <= 100000 THEN 1L ELSE 0L END").alias(
            "r_symbol"
        ),
        F.expr("CASE WHEN frac_alpha_words_u >= 800000 THEN 1L ELSE 0L END").alias(
            "r_alpha"
        ),
        F.expr("CASE WHEN stop_distinct >= 2 THEN 1L ELSE 0L END").alias("r_stop"),
    ).withColumn(
        "keep",
        F.expr(
            "r_word_count * r_mean_word_len * r_symbol * r_alpha * r_stop"
        ),
    )


def repetition_stats(docs: DataFrame) -> DataFrame:
    """Repetition signals (Gopher §A1.1 / C4): duplicate-word fraction
    (narrow array arithmetic, no shuffle) and most-frequent-word-bigram
    fraction (explode -> two-level partial-aggregated groupBy; the only
    shuffle, keyed by (doc_id, gram) so it is perfectly spreadable —
    per-doc bigram counts, not corpus-global ones).

    Ties on the top bigram break to the lexicographically smallest gram
    so the result is deterministic on both engines."""
    toks = F.expr(f"regexp_extract_all(lower(text), '{WORD}', 0)")
    base = docs.select(
        "doc_id",
        toks.alias("toks"),
    ).select(
        "doc_id",
        F.size("toks").alias("n_words"),
        F.size(F.array_distinct("toks")).alias("n_distinct_words"),
        F.expr(
            "CASE WHEN size(toks) >= 2 THEN transform(sequence(1, size(toks) - 1),"
            " i -> concat_ws(' ', slice(toks, i, 2))) "
            "ELSE cast(array() AS array<string>) END"
        ).alias("grams"),
    )
    counts = (
        base.select("doc_id", F.explode("grams").alias("gram"))
        .groupBy("doc_id", "gram")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    top = (
        counts.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy(F.desc("n"), "gram")
            ),
        )
        .where(F.col("rn") == 1)
        .select("doc_id", F.col("gram").alias("top_bigram"), F.col("n").alias("top_bigram_n"))
    )
    return (
        base.drop("grams")
        .join(top, "doc_id", "left")
        .select(
            "doc_id",
            "n_words",
            "n_distinct_words",
            _udiv("(n_words - n_distinct_words)", "n_words").alias("dup_word_frac_u"),
            F.coalesce("top_bigram", F.lit("")).alias("top_bigram"),
            F.coalesce("top_bigram_n", F.lit(0)).cast("long").alias("top_bigram_n"),
            _udiv(
                "coalesce(top_bigram_n, 0)",
                "greatest(n_words - 1, 0)",
            ).alias("top_bigram_frac_u"),
        )
    )


def fingerprints(docs: DataFrame) -> DataFrame:
    """Content fingerprint: md5 of whitespace-collapsed lowercase text —
    the exact-dedup key (hash-groupBy dedup at any scale)."""
    norm = F.trim(F.regexp_replace(F.lower("text"), r"\s+", " "))
    return docs.select(
        "doc_id",
        F.md5(norm).alias("fingerprint"),
        F.length(norm).alias("n_norm_chars"),
    )


def exact_dup_groups(docs: DataFrame) -> DataFrame:
    """Exact-duplicate groups: fingerprint -> (n_docs, canonical doc_id).
    Returns every group (n_docs = 1 rows included) so the result is a
    total dedup assignment, not just the collisions."""
    fp = fingerprints(docs)
    return fp.groupBy("fingerprint").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("canonical_doc_id"),
    )


# Near-duplicate pair operators (ngram_jaccard_pairs, containment_pairs);
# their DuckDB oracles in queries/docs.py read the same constants.
NEAR_DUP_N = 3  # words per shingle
NEAR_DUP_TOP = 20  # pairs reported
# relative document-frequency cap on shingles (the self-join skew guard)
NEAR_DUP_MAX_DF_FRAC = 0.02


def _shingles(docs: DataFrame) -> DataFrame:
    """Distinct word NEAR_DUP_N-gram shingles per doc: (doc_id, shingle)."""
    toks = F.expr(f"regexp_extract_all(lower(text), '{WORD}', 0)")
    # guard: Spark sequence(1, 0) is the DESCENDING [1, 0], not empty
    sh = F.expr(
        "CASE WHEN size(toks) >= {n} THEN transform(sequence(1, size(toks) - {k}),"
        " i -> concat_ws(' ', slice(toks, i, {n}))) "
        "ELSE cast(array() AS array<string>) END".format(k=NEAR_DUP_N - 1, n=NEAR_DUP_N)
    )
    return (
        docs.select("doc_id", toks.alias("toks"))
        .select("doc_id", F.explode(F.array_distinct(sh)).alias("shingle"))
    )


def ngram_jaccard_pairs(docs: DataFrame) -> DataFrame:
    """Top NEAR_DUP_TOP near-duplicate pairs by word n-gram Jaccard
    similarity.

    Plan: shingle -> (drop shingles seen in more than
    NEAR_DUP_MAX_DF_FRAC of the corpus: the skew guard — a shingle with
    document frequency k contributes k(k-1)/2 rows to the self-join, so boilerplate shingles
    blow it up quadratically at ANY scale; a RELATIVE cap keeps the join
    linear in corpus size where a fixed absolute cap silently degrades to
    a no-op as the corpus grows) -> self-join on shingle -> count shared
    -> jaccard in integer micro-units -> global top-k. True near-dup
    pairs keep their low-df content shingles, which is what ranks them.
    """
    # shingles are 64-bit-hashed at creation: every downstream shuffle
    # (df count, size count, self-join) ships fixed-width bigint keys
    # instead of n-word strings — the same fixed-width-key discipline as
    # boilerplate_dedup/substring_dup (collisions are 2^-64-level noise
    # and the oracle compares final pair counts, not keys)
    sh = _shingles(docs).select("doc_id", F.xxhash64("shingle").alias("shingle"))
    nd = docs.select(F.countDistinct("doc_id").alias("nd"))
    thr = F.expr(f"greatest(2L, cast(floor(nd * {NEAR_DUP_MAX_DF_FRAC}) as bigint))")
    df_ok = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(nd))
        .where(F.col("df") <= thr)
        .select("shingle")
    )
    # the filtered shingle table is referenced three more times (sizes +
    # both self-join sides); committed once so the scan+shingle+filter
    # lineage doesn't re-execute per reference (measured 4.0s -> 3.0s at
    # sf0.1 — same stage-commit discipline as the KG pipeline)
    sh = sh.join(df_ok, "shingle").localCheckpoint(eager=True)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))

    a = sh.alias("a")
    b = sh.alias("b")
    shared = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    out = (
        shared.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("jaccard_u", F.expr("(shared * 1000000L) div (n_a + n_b - shared)"))
        .select("doc_a", "doc_b", "shared", "jaccard_u")
        .orderBy(F.desc("jaccard_u"), "doc_a", "doc_b")
        .limit(NEAR_DUP_TOP)
    )
    return out


# ---------------------------------------------------------------------------
# Cross-document boilerplate (paragraph) dedup and PII scrubbing.
# ---------------------------------------------------------------------------

PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE = r"\b555-[0-9]{3}-[0-9]{4}\b"
PII_IP = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"


def boilerplate_dedup(paras: DataFrame) -> DataFrame:
    """C4-style cross-document boilerplate removal (Raffel et al. 2020
    §2.2: spans occurring more than once in the corpus are dropped;
    CCNet applies the same rule per paragraph). Input is a paragraph
    table (url, chunk_idx, content); a paragraph whose exact text appears
    on >= 2 distinct urls is removed from EVERY document.

    Plan (the shape that holds at crawl scale): hash each paragraph to a
    32-hex digest FIRST, so the corpus-wide frequency shuffle and the
    membership join back ship fixed-width keys, never paragraph bodies;
    one partial-agg groupBy + one left-anti-style join, no self-join.
    Returns per url: n_paras, n_kept, md5 of the retained text (the
    deterministic stand-in for rewriting the document)."""
    p = paras.select(
        "url", F.col("chunk_idx").alias("pos"), F.col("content").alias("para")
    ).withColumn("ph", F.md5("para"))
    freq = p.groupBy("ph").agg(F.count_distinct("url").alias("n_urls"))
    boiler = freq.where(F.col("n_urls") >= 2).select(
        "ph", F.lit(1).alias("is_boiler")
    )
    flagged = p.join(boiler, "ph", "left")  # boiler is tiny vs corpus; AQE broadcasts
    kept_struct = F.when(F.col("is_boiler").isNull(), F.struct("pos", "para"))
    return (
        flagged.groupBy("url")
        .agg(
            F.count(F.lit(1)).alias("n_paras"),
            F.sum(F.when(F.col("is_boiler").isNull(), 1).otherwise(0)).alias("n_kept"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(kept_struct)),
                        lambda s: s["para"],
                    ),
                    "\n\n",
                )
            ).alias("kept_md5"),
        )
    )


def pii_scrub(docs: DataFrame) -> DataFrame:
    """PII detection + redaction (the CCNet/Dolma-style scrub pass every
    web-text pipeline runs before training): emails, NANP-style phone
    numbers and IPv4 literals are counted and replaced by typed
    placeholder tokens. One narrow whole-stage-codegen projection — the
    regexes live in the JVM, the 100 TB plan is a pure map with no
    shuffle. Patterns are written in the Java/RE2 common subset so the
    DuckDB oracle runs them verbatim. Returns (doc_id, n_emails,
    n_phones, n_ips, redacted_md5)."""
    t = F.col("text")
    red = F.regexp_replace(t, PII_EMAIL, "<EMAIL>")
    red = F.regexp_replace(red, PII_PHONE, "<PHONE>")
    red = F.regexp_replace(red, PII_IP, "<IP>")
    return docs.select(
        "doc_id",
        F.regexp_count(t, F.lit(PII_EMAIL)).alias("n_emails"),
        F.regexp_count(t, F.lit(PII_PHONE)).alias("n_phones"),
        F.regexp_count(
            F.regexp_replace(t, PII_EMAIL, "<EMAIL>"), F.lit(PII_IP)
        ).alias("n_ips"),
        F.md5(red).alias("redacted_md5"),
    )


def _doc_tokens(docs: DataFrame) -> DataFrame:
    """(doc_id, tok) exploded word stream — shared front of the corpus-LM
    operators below."""
    return docs.select(
        "doc_id",
        F.explode(
            F.expr(f"regexp_extract_all(lower(text), '{WORD}', 0)")
        ).alias("tok"),
    )


def unigram_lm_scores(docs: DataFrame) -> DataFrame:
    """Corpus-unigram-LM document scoring — the deterministic stand-in
    for perplexity filtering (CCNet/Gopher run a KenLM; the plan shape is
    identical: build the LM from the corpus itself, score each doc
    against it).

    Two aggregations: per-(doc, token) term frequency (map-side partial),
    then the token->corpus-frequency table joined back on the token key.
    The LM table is vocab-sized — orders of magnitude smaller than the
    corpus — and hot tokens ('the') are exactly the well-spread join keys,
    so AQE's broadcast/skew handling covers both ends at 100 TB.

    Scores are exact integers so the oracle matches bit-for-bit:
    avg_cf_u = mean corpus frequency of the doc's tokens (micro-units);
    lm_score_n = that, normalized by total corpus tokens (nano-units) —
    a rational-arithmetic avg token probability. (At crawl scale the
    score would move to log-space floats; the two-step integer floor is
    the oracle-exact formulation.) n_rare counts tokens with corpus
    frequency <= 2 — the hapax/OOV leg a quality filter thresholds on.
    """
    dt = _doc_tokens(docs).groupBy("doc_id", "tok").agg(
        F.count(F.lit(1)).alias("tf")
    )
    lm = dt.groupBy("tok").agg(F.sum("tf").alias("cf"))
    total = lm.agg(F.sum("cf").alias("total"))
    return (
        dt.join(lm, "tok")
        .crossJoin(F.broadcast(total))  # one-row scalar
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.sum(F.when(F.col("cf") <= 2, F.col("tf")).otherwise(0)).alias(
                "n_rare"
            ),
            F.expr(
                "(sum(tf * cf) * 1000000L) div greatest(sum(tf), 1)"
            ).alias("avg_cf_u"),
            F.expr(
                "((sum(tf * cf) * 1000000L) div greatest(sum(tf), 1))"
                " * 1000L div greatest(max(total), 1)"
            ).alias("lm_score_n"),
        )
    )


def lm_buckets(docs: DataFrame) -> DataFrame:
    """CCNet's head/middle/tail split (Wenzek et al. 2020): per language,
    documents are bucketed by LM score terciles — 'head' = most probable
    third (CCNet keeps head+middle for pre-training, tail is the noise).
    Thresholds are EXACT per-language terciles via the histogram-CDF
    pattern (the corpus collapses to one row per (lang, score) before any
    window — same plan as length_deciles, so the split of a 10^12-doc
    corpus costs one narrow shuffle plus a tiny histogram window).

    Boundary semantics: t1/t2 are the smallest scores whose cumulative
    count reaches 1/3 and 2/3; score <= t1 -> tail, <= t2 -> middle,
    else head. Pure integer comparisons, bit-identical in both engines."""
    scored = unigram_lm_scores(docs).select("doc_id", "lm_score_n")
    s = scored.join(docs.select("doc_id", "lang"), "doc_id")
    hist = s.groupBy("lang", "lm_score_n").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("lang").orderBy("lm_score_n")
    cdf = hist.select(
        "lang",
        "lm_score_n",
        F.sum("cnt")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("cum"),
    )
    totals = hist.groupBy("lang").agg(F.sum("cnt").alias("total"))
    ts = (
        totals.select(
            "lang", "total", F.explode(F.array(F.lit(1), F.lit(2))).alias("k")
        )
        .join(cdf, "lang")
        .where(F.col("cum") * 3 >= F.col("k") * F.col("total"))
        .groupBy("lang", "k")
        .agg(F.min("lm_score_n").alias("t"))
        .groupBy("lang")
        .pivot("k", [1, 2])
        .agg(F.min("t"))
        .select("lang", F.col("1").alias("t1"), F.col("2").alias("t2"))
    )
    return s.join(ts, "lang").select(
        "doc_id",
        "lang",
        F.col("lm_score_n").cast("long").alias("lm_score_n"),
        F.expr(
            "CASE WHEN lm_score_n <= t1 THEN 'tail'"
            " WHEN lm_score_n <= t2 THEN 'middle' ELSE 'head' END"
        ).alias("bucket"),
    )


def tfidf_terms(docs: DataFrame, k: int = 3) -> DataFrame:
    """Top-k TF-IDF keywords per document (the keyword-extraction /
    topic-tagging stage). Integer-exact weights:
    idf_u = N_docs * 1e6 div df;  weight_u = tf * idf_u div n_doc_tokens.
    Ties break on the term string, so top-k is fully deterministic.

    Plan: per-(doc, token) tf (one shuffle), document frequency over the
    same table (vocab-sized), count(docs) as a broadcast scalar, window
    top-k per doc. No raw text crosses a shuffle."""
    dt = _doc_tokens(docs).groupBy("doc_id", "tok").agg(
        F.count(F.lit(1)).alias("tf")
    )
    df_tab = dt.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    doc_len = dt.groupBy("doc_id").agg(F.sum("tf").alias("n_doc_tokens"))
    scored = (
        dt.join(df_tab, "tok")
        .join(doc_len, "doc_id")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("idf_u", F.expr("(n_docs * 1000000L) div df"))
        .withColumn("weight_u", F.expr("(tf * idf_u) div n_doc_tokens"))
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("weight_u"), F.asc("tok")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("doc_id", F.col("tok").alias("term"), "tf", "df",
                "weight_u", "rank")
    )


def _word_kgram_hashes(docs: DataFrame, k: int) -> DataFrame:
    """(doc_id, gh) — distinct md5-hashed word-k-grams per document, one
    codegen projection + explode. The md5 BEFORE any shuffle keeps every
    downstream key fixed-width (the boilerplate_dedup discipline)."""
    # NB: Spark's sequence(1, 0) is DESCENDING [1, 0], not empty — short
    # docs must take the empty-array branch explicitly
    return (
        docs.select(
            "doc_id",
            F.expr(f"regexp_extract_all(lower(text), '{WORD}', 0)").alias("ws"),
        )
        .select(
            "doc_id",
            F.expr(
                f"CASE WHEN size(ws) < {k} THEN array()"
                f" ELSE transform(sequence(1, size(ws) - {k - 1}),"
                f" i -> md5(array_join(slice(ws, i, {k}), ' '))) END"
            ).alias("ghs"),
        )
        .select("doc_id", F.explode("ghs").alias("gh"))
        .distinct()
    )


def decontaminate(docs: DataFrame, benchmark: DataFrame, k: int = 8) -> DataFrame:
    """Benchmark decontamination — the standard pre-training pass that
    drops training documents overlapping an evaluation set (the GPT-3
    appendix-C / PaLM 13-/8-gram rule; here word-k-grams, k=8).

    Per training doc (docs minus benchmark ids): distinct word k-grams,
    how many also occur in the benchmark set, and the drop decision
    (`contaminated` = any hit).

    Scale (100 TB): the benchmark side is eval-suite-sized — thousands of
    documents, millions of grams — BY DEFINITION, so its distinct gram-
    hash set is broadcast (a bloom-filter pre-pass at the extreme). The
    corpus side is then one narrow gram projection + broadcast hash join
    + per-doc agg with map-side combine: no corpus-wide shuffle at all,
    which is what makes this run as a cheap side-pass of any ingest job.
    """
    bench_ids = benchmark.select("doc_id").distinct()
    train = docs.join(bench_ids, "doc_id", "left_anti")
    bg = F.broadcast(
        _word_kgram_hashes(benchmark, k).select("gh").distinct()
    ).withColumn("hit", F.lit(1))
    flagged = _word_kgram_hashes(train, k).join(bg, "gh", "left")
    per_doc = flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.sum(F.coalesce("hit", F.lit(0))).alias("n_hit_grams"),
    )
    return (
        train.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
            F.coalesce("n_hit_grams", F.lit(0)).cast("long").alias("n_hit_grams"),
            F.expr(
                "CASE WHEN coalesce(n_hit_grams, 0) > 0 THEN 1 ELSE 0 END"
            )
            .cast("long")
            .alias("contaminated"),
        )
    )


# hex->int idiom shared with dedup.py: reproducible in DuckDB as
# ('0x' || substr(md5(x), 1, 8))::BIGINT
_MIX_HASH = (
    "cast(conv(substr(md5(concat('mix:', cast(doc_id as string))), 1, 8),"
    " 16, 10) as bigint) % 1000000"
)


MIX_DEFAULT_RATE_U = 100_000  # keep rate of a stratum missing from rates_u


def mix_sample(docs: DataFrame, rates_u: dict[str, int]) -> DataFrame:
    """Stratified data-mixing sample — the deterministic per-stratum
    downsampling step of a training-data mixing recipe (e.g. keep 100% of
    English, 50% of the mid-resource languages, 25% of zh). The keep
    decision is a pure function of doc_id (md5 -> uniform micro-unit in
    [0, 1e6) compared to the stratum's rate), so the sample is stable
    across runs, resumable, and needs NO shuffle: one codegen projection
    over the corpus, rates applied via a literal CASE (the rate table is
    config-sized). Emits the decision for every doc (keep in {0,1}) so
    downstream both filters and audits achieved rates."""
    branches = " ".join(
        f"WHEN lang = '{s}' THEN {int(r)}L" for s, r in sorted(rates_u.items())
    )
    return docs.select(
        "doc_id",
        F.col("lang").alias("stratum"),
        F.expr(_MIX_HASH).cast("long").alias("hash_u"),
        F.expr(
            f"CASE WHEN ({_MIX_HASH}) <"
            f" (CASE {branches} ELSE {MIX_DEFAULT_RATE_U}L END)"
            " THEN 1 ELSE 0 END"
        )
        .cast("long")
        .alias("keep"),
    )


def bpe_merges(docs: DataFrame, n_merges: int = 8) -> DataFrame:
    """Iterative BPE tokenizer TRAINING (Sennrich et al. 2016) — the
    full merge loop, not just one pair count: for each round, count
    corpus-weighted adjacent-symbol pairs over the distinct-word
    frequency table, pick the argmax pair, rewrite the vocabulary with
    the merged symbol, repeat. Returns the learned merge table
    (round, lhs, rhs, total) — the artifact a tokenizer ships.

    Scale shape: the corpus collapses to its VOCABULARY before any
    per-character work (one groupBy — production BPE trainers
    distribute exactly this way), so every round's pair count runs on
    vocab-sized data; the argmax is a TakeOrderedAndProject (bounded,
    never a global sort) broadcast back as a 1-row literal table.

    Symbols live as single space-delimited strings (' h e l l o ')
    and a merge round rewrites each word with a greedy LEFT FOLD over
    its symbols (struct-state `aggregate`): merge (cur, s) when they
    equal the round's pair, else emit cur — the leftmost
    non-overlapping application order reference BPE uses, correct on
    chained occurrences ('banana' -> b an an a, 'aaaa' -> aa aa) where
    a naive string replace() loses the shared boundary separator (it
    consumes the trailing space of one match that the next match needs
    as its leading space). The DuckDB oracle runs the same fold via
    list_reduce with encoded string state. Round count is fixed;
    per-round lineage is truncated."""
    vocab = (
        docs.select(
            F.explode(
                F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)")
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.expr("' ' || regexp_replace(word, '(.)', '$1 ')").alias("w"),
            "cnt",
        )
    )
    syms = "filter(split(w, ' '), x -> x <> '')"
    pair_expr = (
        f"transform(sequence(1, size({syms}) - 1),"
        f" i -> struct({syms}[i - 1] AS a, {syms}[i] AS b))"
    )
    rows = []
    for r in range(1, n_merges + 1):
        agg = (
            vocab.where(F.expr(f"size({syms}) >= 2"))
            .select(F.explode(F.expr(pair_expr)).alias("p"), "cnt")
            .groupBy("p.a", "p.b")
            .agg(F.sum("cnt").alias("total"))
        )
        best = (
            agg.orderBy(F.col("total").desc(), "a", "b")
            .limit(1)
            .select(F.lit(r).cast("long").alias("round"), "a", "b", "total")
            .localCheckpoint(eager=True)
        )
        rows.append(best)
        fold = f"""aggregate(
            {syms},
            named_struct('o', '', 'c', ''),
            (st, s) -> CASE
              WHEN st.c = a AND s = b
                THEN named_struct('o', st.o || ' ' || a || b, 'c', '')
              WHEN st.c = '' THEN named_struct('o', st.o, 'c', s)
              ELSE named_struct('o', st.o || ' ' || st.c, 'c', s) END,
            st -> st.o || CASE WHEN st.c = '' THEN '' ELSE ' ' || st.c END
                  || ' ')"""
        vocab = (
            vocab.crossJoin(F.broadcast(best.select("a", "b")))
            .select(F.expr(fold).alias("w"), "cnt")
            .localCheckpoint(eager=False)
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.select(
        "round",
        F.col("a").alias("lhs"),
        F.col("b").alias("rhs"),
        F.col("total").cast("long").alias("total"),
    )


BPE_TOP_N = 20


def bpe_pair_counts(docs: DataFrame) -> DataFrame:
    """The inner loop of distributed BPE tokenizer training (Sennrich et
    al. 2016): corpus-weighted adjacent-symbol-pair frequencies. The
    crucial scale move is counting over the DISTINCT-WORD frequency
    table — the corpus collapses to its vocabulary (one groupBy) before
    any per-character work, so the expensive pair explosion runs on
    vocab-sized data regardless of corpus size; production tokenizer
    trainers distribute exactly this way, re-running the count after
    each merge. Returns the BPE_TOP_N pairs with deterministic rank (the
    rank-1 row is the next BPE merge)."""
    words = docs.select(
        F.explode(
            F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)")
        ).alias("word")
    )
    wc = words.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))
    pairs = wc.where(F.length("word") >= 2).select(
        F.explode(
            F.expr(
                "transform(sequence(1, length(word) - 1),"
                " i -> substr(word, i, 2))"
            )
        ).alias("pair"),
        "cnt",
    )
    agg = pairs.groupBy("pair").agg(F.sum("cnt").alias("total"))
    # top-k via orderBy().limit() -> TakeOrderedAndProject (partition-
    # local heaps + tiny driver merge), then rank the <= BPE_TOP_N survivors
    # in one bounded collect_list — never a global single-partition
    # window sort over the pair table
    top = agg.orderBy(F.col("total").desc(), "pair").limit(BPE_TOP_N)
    return (
        top.agg(
            F.expr(
                "array_sort(collect_list(struct(-total AS nt, pair, total)))"
            ).alias("s")
        )
        .select(F.posexplode("s").alias("i", "x"))
        .select(
            F.col("x.pair").alias("pair"),
            F.col("x.total").cast("long").alias("total"),
            (F.col("i") + 1).cast("long").alias("rank"),
        )
    )


WINNOW_K = 4  # tokens per gram
WINNOW_W = 5  # grams per window
WINNOW_MIN_SHARED = 3  # shared fingerprints that make a candidate pair
# fingerprint document-frequency cap, micro-units of the corpus
WINNOW_MAX_DF_FRAC_U = 20_000


def winnow_fingerprints(docs: DataFrame) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken
    2003 — the MOSS local fingerprinting algorithm): hash every k-token
    gram (k = WINNOW_K), slide a w-gram window (w = WINNOW_W), keep each
    window's MINIMUM hash. The selected set is ~2/(w+1) of all gram
    hashes yet GUARANTEES any
    shared token run of length >= w + k - 1 leaves at least one common
    fingerprint — position-robust local dedup that exact fingerprints
    and doc-global MinHash both miss.

    Entirely JVM higher-order expressions (transform/slice/array_min)
    over the token array — one codegen projection, no shuffle until the
    explode; the md5-low32 hash family is the DuckDB-reproducible one
    used by MinHash/SimHash. Emits (doc_id, fp) distinct."""
    toks = F.expr(f"regexp_extract_all(lower(text), '{WORD}', 0)")
    base = docs.select("doc_id", toks.alias("toks")).select(
        "doc_id",
        F.expr(_winnow_prep()).alias("hashes"),
    )
    w = WINNOW_W
    return (
        base.withColumn("n_g", F.size("hashes"))
        .select(
            "doc_id",
            F.expr(
                f"""
                explode(array_distinct(CASE WHEN n_g >= {w} THEN
                  transform(sequence(1, n_g - {w} + 1),
                            j -> array_min(slice(hashes, j, {w})))
                ELSE CASE WHEN n_g >= 1 THEN array(array_min(hashes))
                     ELSE cast(array() as array<bigint>) END END))
                """
            ).alias("fp"),
        )
        .distinct()
    )


def _winnow_prep() -> str:
    # token array -> k-gram hash array (Spark sequence(1, 0) is the
    # DESCENDING [1, 0], not empty — guard short docs explicitly)
    k = WINNOW_K
    return f"""
    CASE WHEN size(toks) >= {k} THEN
      transform(
        sequence(1, size(toks) - {k} + 1),
        i -> cast(conv(substr(md5(concat_ws(' ', slice(toks, i, {k}))), 1, 8),
                  16, 10) as bigint))
    ELSE cast(array() as array<bigint>) END
    """


def winnow_pairs(docs: DataFrame) -> DataFrame:
    """Near-dup candidate pairs by shared winnowing fingerprints: docs
    sharing >= WINNOW_MIN_SHARED selected fingerprints, with the winnow-set
    Jaccard. Fingerprints appearing in more than WINNOW_MAX_DF_FRAC_U
    (micro) of the corpus are dropped first — the same relative document-
    frequency skew guard as the n-gram dedup (a corpus-wide boilerplate
    fingerprint would otherwise quadratically explode the self-join)."""
    fps = winnow_fingerprints(docs)
    n_docs = docs.select(F.count(F.lit(1)).alias("nd"))
    ok = (
        fps.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("df"))
        .join(F.broadcast(n_docs))
        .where(
            F.col("df")
            <= F.greatest(F.lit(2), F.expr(f"nd * {WINNOW_MAX_DF_FRAC_U} div 1000000"))
        )
        .select("fp")
    )
    kept = fps.join(ok, "fp")
    sizes = kept.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_fp"))
    a, b = kept.alias("a"), kept.alias("b")
    shared = (
        a.join(b, "fp")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("shared"))
        .where(F.col("shared") >= WINNOW_MIN_SHARED)
    )
    return (
        shared.join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_fp").alias("n_a")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_fp").alias("n_b")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.col("shared").cast("long").alias("shared"),
            F.expr("(1000000L * shared) div (n_a + n_b - shared)")
            .cast("long")
            .alias("winnow_jaccard_u"),
        )
    )


CURATION_RULES = ("r_word_count", "r_mean_word_len", "r_symbol", "r_alpha")


def curation_decision(docs: DataFrame, rates_u: dict[str, int]) -> DataFrame:
    """End-to-end curation decision per document, composing the standard
    stages in production order: exact dedup -> Gopher quality ->
    language-ID confidence -> stratified mixing. Emits keep plus the
    FIRST failing stage as the reason code — the audit table a curation
    run commits alongside the kept corpus (every drop is attributable,
    achieved rates are queryable per stage).

    CURATION_RULES selects which Gopher flags gate the run — thresholds
    and rule sets are corpus-calibrated config in any real curation
    (Rae et al. tune per source); here the four content rules. The
    language stage drops only docs whose guessed language is
    undetermined ('und') — the CCNet low-confidence rule — so declared
    strata still reach the mixing stage.

    Each stage is the already-oracle-gated operator; the composition adds
    exactly one fingerprint-keyed shuffle (dedup) — quality, language and
    mixing are shuffle-free projections joined back on doc_id, and at
    scale those joins collapse into one stage over the shared scan."""
    fp = fingerprints(docs).select("doc_id", "fingerprint")
    groups = exact_dup_groups(docs).select("fingerprint", "canonical_doc_id")
    dd = fp.join(groups, "fingerprint").select("doc_id", "canonical_doc_id")
    q_keep = F.expr(" * ".join(CURATION_RULES))
    g = gopher_rules(docs).select("doc_id", q_keep.alias("q_keep"))
    lid = lang_id(docs).select("doc_id", "lang_guess")
    m = mix_sample(docs, rates_u).select(
        "doc_id", F.col("keep").alias("mix_keep")
    )
    j = dd.join(g, "doc_id").join(lid, "doc_id").join(m, "doc_id")
    reason = (
        F.when(F.col("doc_id") != F.col("canonical_doc_id"), F.lit("duplicate"))
        .when(F.col("q_keep") == 0, F.lit("quality"))
        .when(F.col("lang_guess") == "und", F.lit("language"))
        .when(F.col("mix_keep") == 0, F.lit("sampled_out"))
        .otherwise(F.lit("kept"))
    )
    return j.select(
        "doc_id",
        F.expr(
            "CASE WHEN doc_id = canonical_doc_id AND q_keep = 1"
            " AND lang_guess <> 'und' AND mix_keep = 1"
            " THEN 1L ELSE 0L END"
        ).alias("keep"),
        reason.alias("reason"),
    )


PACK_CHUNK = 65_536  # docs per prefix-sum chunk (see pack_blocks)


def pack_blocks(docs: DataFrame, block_tokens: int = 2048) -> DataFrame:
    """Training-example packing (GPT-style concat-then-chunk): documents
    in doc_id order are concatenated into one token stream (each doc
    contributes its BPE-ish token count + 1 EOS) and the stream is split
    into fixed `block_tokens` blocks. Emits, per doc, its stream offset
    and the first/last block it lands in — the exact mapping a shard
    writer materializes.

    Scale: the global running offset is a distributed THREE-level prefix
    sum, NOT one giant single-partition window — docs prefix-sum within
    doc_id chunks of {PACK_CHUNK} (partitioned window), chunk totals
    prefix-sum within superchunks of {PACK_CHUNK} chunks (partitioned
    window), and only the superchunk totals — corpus/{PACK_CHUNK}^2 rows,
    ~233 rows at 1e12 docs — flow through the one unpartitioned window
    (allowed in tools/plan_audit.py ALLOWED_GLOBAL_WINDOW with this
    bound). The doc-level work stays fully parallel throughout."""
    n = (
        docs.select(
            "doc_id",
            (F.regexp_count("text", F.lit(BPE)) + F.lit(1))
            .cast("long")
            .alias("n_tokens"),
        )
        .withColumn("chunk", F.expr(f"doc_id div {PACK_CHUNK}"))
    )
    w_intra = Window.partitionBy("chunk").orderBy("doc_id")
    intra = n.withColumn(
        "intra", F.sum("n_tokens").over(w_intra) - F.col("n_tokens")
    )
    totals = n.groupBy("chunk").agg(F.sum("n_tokens").alias("tot")).withColumn(
        "sup", F.expr(f"chunk div {PACK_CHUNK}")
    )
    w_sup_intra = Window.partitionBy("sup").orderBy("chunk")
    chunk_in_sup = totals.withColumn(
        "sup_intra", F.sum("tot").over(w_sup_intra) - F.col("tot")
    )
    sup_totals = totals.groupBy("sup").agg(F.sum("tot").alias("stot"))
    w_sup = Window.orderBy("sup")
    sup_offs = sup_totals.withColumn(
        "sup_off", F.sum("stot").over(w_sup) - F.col("stot")
    ).select("sup", "sup_off")
    offs = (
        chunk_in_sup.join(sup_offs, "sup")
        .select(
            "chunk", (F.col("sup_off") + F.col("sup_intra")).alias("chunk_off")
        )
    )
    return (
        intra.join(offs, "chunk")
        .select(
            "doc_id",
            "n_tokens",
            (F.col("chunk_off") + F.col("intra")).alias("start_pos"),
            F.expr(f"(chunk_off + intra) div {block_tokens}").alias(
                "start_block"
            ),
            F.expr(
                f"(chunk_off + intra + n_tokens - 1) div {block_tokens}"
            ).alias("end_block"),
        )
    )


SUBSTRING_K = 10  # words per gram


def substring_dup_stats(docs: DataFrame) -> DataFrame:
    """Exact-substring duplication per document at word-k-gram granularity
    (k = SUBSTRING_K)
    (the fixed-window form of Lee et al. 2022's suffix-array exact
    substring dedup — the standard LM-training-data pass).

    Per doc: distinct word k-grams, how many of them also occur in some
    OTHER document, and the duplicated fraction (micro-units). Plan: the
    k-grams are md5-hashed BEFORE the corpus-wide frequency shuffle (the
    same fixed-width-key discipline as boilerplate_dedup), one groupBy on
    the hash + membership join back; short docs (< k words) keep a row
    with zero grams via the left join from the documents base."""
    grams = _word_kgram_hashes(docs, SUBSTRING_K)
    freq = grams.groupBy("gh").agg(F.count_distinct("doc_id").alias("n_docs"))
    flagged = grams.join(
        freq.where(F.col("n_docs") >= 2).select("gh", F.lit(1).alias("dup")),
        "gh",
        "left",
    )
    per_doc = flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.sum(F.coalesce("dup", F.lit(0))).alias("n_dup_grams"),
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce("n_dup_grams", F.lit(0)).alias("n_dup_grams"),
            F.expr(
                "coalesce(n_dup_grams, 0L) * 1000000L"
                " div greatest(coalesce(n_grams, 0L), 1)"
            ).alias("dup_frac_u"),
        )
    )


RAG_WINDOW = 64  # whitespace tokens per chunk
RAG_STRIDE = 48  # stride (=> 16-token overlap between neighbors)
DSIR_BUCKETS = 4096  # hashed-unigram feature space (Xie et al. 2023 use 10^4)
DSIR_TARGET_LANG = "en"  # the trusted slice the weights point toward


def rag_chunks(docs: DataFrame) -> DataFrame:
    """Sliding-window chunk spans for RAG / training-window export:
    fixed RAG_WINDOW-token chunks every RAG_STRIDE tokens (overlap =
    window - stride), last chunk clipped to the document end. Emits the
    SPAN TABLE (doc_id, chunk_idx, start_tok, end_tok, n_tok) rather than
    materialized text — at 100 TB the spans are the cheap, losslessly
    joinable artifact; slicing text is a single later projection.

    Plan: one codegen'd projection computing n_tok (regexp_count), then
    explode(sequence(...)) — per-doc fan-out is n_chunks (bounded by
    doc length / stride), no shuffle at all.
    """
    window, stride = RAG_WINDOW, RAG_STRIDE
    n_tok = F.regexp_count("text", F.lit(WS_TOKEN))
    base = docs.select(
        "doc_id", n_tok.cast("long").alias("n_tok"),
        F.expr(
            f"case when regexp_count(text, r'\\S+') <= 0 then 0L else "
            f"1L + (greatest(regexp_count(text, r'\\S+') - {window}, 0)"
            f" + {stride - 1}) div {stride} end"
        ).alias("n_chunks"),
    )
    return base.select(
        "doc_id",
        "n_tok",
        F.explode(
            F.sequence(F.lit(0), (F.col("n_chunks") - 1).cast("int"))
        ).alias("chunk_idx"),
    ).where(F.col("n_tok") > 0).select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        (F.col("chunk_idx") * stride).cast("long").alias("start_tok"),
        F.least(
            F.col("chunk_idx").cast("long") * stride + window, F.col("n_tok")
        ).alias("end_tok"),
        "n_tok",
    )


def dsir_weights(docs: DataFrame) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): score every document
    by how target-like its hashed-unigram distribution is, where the
    target is a trusted slice of the corpus itself (here: the
    DSIR_TARGET_LANG documents, the stand-in for Wikipedia/books in the
    paper). Deterministic integer quantization replaces the float
    log-ratio sum: each token contributes the micro-unit ratio

        ratio_u(b) = 1e6 * (c_target[b]+1) * (N_raw+B) div
                     ((c_raw[b]+1) * (N_target+B))

    (add-one smoothing on both sides, two-step quantization keeping every
    intermediate within int64 at corpus scale — a true 10^13-token run
    would widen to DECIMAL(38) here), and the document weight is the
    token-average of ratios — order-free, drift-free, DuckDB-checkable.
    weight_u > 1e6 means "more target-like than the average raw token".

    Scale shape: token counts collapse to the B-bucket LM table (tiny,
    broadcast); the normalizers are one 1-row aggregate cross-joined in
    (never a driver-side collect); the corpus side is one explode + two
    partial-agg groupBys; nothing corpus-scaled is ever sorted.
    """
    toks = docs.select(
        "doc_id",
        "lang",
        F.explode(F.expr(r"regexp_extract_all(lower(text), '[a-z0-9]+', 0)")).alias(
            "tok"
        ),
    ).withColumn(
        "bucket",
        F.expr(
            f"cast(conv(substr(md5(tok), 1, 8), 16, 10) as bigint) % {DSIR_BUCKETS}"
        ),
    )
    is_tgt = (F.col("lang") == DSIR_TARGET_LANG).cast("long")
    totals = toks.agg(
        F.count(F.lit(1)).alias("n_raw"), F.sum(is_tgt).alias("n_tgt")
    )
    counts = toks.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("c_raw"), F.sum(is_tgt).alias("c_tgt")
    )
    lm = counts.crossJoin(F.broadcast(totals)).select(
        "bucket",
        F.expr(
            f"(1000000L * (1000000L * (c_tgt + 1)"
            f" div (n_tgt + {DSIR_BUCKETS})))"
            f" div greatest(1000000L * (c_raw + 1) div (n_raw + {DSIR_BUCKETS}), 1L)"
        ).alias("ratio_u"),
    )
    return (
        toks.join(lm, "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_toks"),
            F.expr("sum(ratio_u) div count(1)").alias("weight_u"),
        )
    )


def bigram_lm_scores(docs: DataFrame) -> DataFrame:
    """Bigram-LM document scoring with a HELD-OUT split — one rung closer
    to the production perplexity filter than unigram_lm_scores: the LM
    (bigram + history counts, add-one smoothed over the train vocab) is
    trained on even doc_ids only, so odd documents genuinely contain
    unseen bigrams and the smoothing path is exercised, exactly like
    scoring a fresh crawl snapshot against last month's LM.

    Integer-exact per-bigram conditional probability:

        p_u(w2|w1) = 1e6 * (cb(w1,w2) + 1) div (cu(w1) + V)

    (cb/cu from the train slice, V = train vocab size); the doc score is
    the tf-weighted average of p_u and n_unseen counts bigram tokens the
    LM never saw. All arithmetic is long division — bit-identical in the
    DuckDB oracle.

    Plan shape: bigrams come from a zip_with over the token array (no
    window, no shuffle to form pairs); counts are two vocab-bounded
    groupBys; scoring joins the corpus bigram tf table to the LM on the
    bigram key (hot bigrams = well-spread keys; AQE skew join covers the
    'of the' head) and the V/1-row normalizer is a broadcast cross join.
    """
    toks = docs.select(
        "doc_id",
        F.expr(r"regexp_extract_all(lower(text), '[a-z0-9]+', 0)").alias("ts"),
    )
    bigs = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "zip_with(slice(ts, 1, greatest(size(ts) - 1, 0)),"
                " slice(ts, 2, greatest(size(ts) - 1, 0)),"
                " (a, b) -> struct(a as w1, b as w2))"
            )
        ).alias("bg"),
    ).select("doc_id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    train = bigs.where(F.col("doc_id") % 2 == 0)
    cb = train.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cb"))
    cu = (
        toks.where(F.col("doc_id") % 2 == 0)
        .select(F.explode("ts").alias("w1"))
        .groupBy("w1")
        .agg(F.count(F.lit(1)).alias("cu"))
    )
    v = cu.agg(F.count(F.lit(1)).alias("v"))
    dt = bigs.groupBy("doc_id", "w1", "w2").agg(F.count(F.lit(1)).alias("tf"))
    scored = (
        dt.join(cb, ["w1", "w2"], "left")
        .join(cu, "w1", "left")
        .crossJoin(F.broadcast(v))
        .select(
            "doc_id",
            "tf",
            F.col("cb").isNull().alias("unseen"),
            F.expr(
                "1000000L * (coalesce(cb, 0L) + 1)"
                " div (coalesce(cu, 0L) + v)"
            ).alias("p_u"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.sum("tf").cast("long").alias("n_bigrams"),
        F.sum(F.when(F.col("unseen"), F.col("tf")).otherwise(0))
        .cast("long")
        .alias("n_unseen"),
        F.expr("sum(tf * p_u) div greatest(sum(tf), 1L)").alias("avg_p_u"),
    )


def quality_classifier(docs: DataFrame, holdout_pct: int = 10) -> DataFrame:
    """Trained bag-of-words quality classifier — the deterministic,
    oracle-exact stand-in for the fastText/linear quality models real
    curation pipelines train (e.g. the GPT-3/LLaMA "looks like a
    reference page" filters): learn per-token class-association weights
    from a labeled subset, score every document with them.

    Labels come from the corpus itself (Gopher-rule keep/drop — the
    standard bootstrap when no human labels exist), the train set is the
    same stable md5(lang|doc_id) hash split `doc_split` uses (the first
    `holdout_pct` buckets are held OUT of training so val/test stay
    unseen), and the model is add-1-smoothed P(keep | token) in integer
    micro-units:

        w_u(tok)   = ((c1 + 1) * 1e6) div (c1 + c0 + 2)
        score_u(d) = sum_tok tf * w_u  div  n_tokens(d)   (unseen: 500000)
        pred       = score_u >= 500000

    Every step is exact integer arithmetic — bit-identical in Spark
    `div` and DuckDB `//`.

    Scale shape (100 TB): one (doc, tok) partial-agg shuffle, one
    vocab-sized groupBy(tok) for the class counts, the weight table
    joined back on the token key (vocab-sized — AQE broadcasts it or
    skew-splits hot stopword keys), one final groupBy(doc_id). The same
    plan family as `unigram_lm_scores`; no iteration, no driver state.
    """
    labels = gopher_rules(docs).select(
        "doc_id", F.col("keep").cast("long").alias("label")
    )
    bucket = F.expr(
        "cast(conv(substr(md5(lang || '|' || doc_id), 1, 15), 16, 10)"
        " as bigint) % 100"
    )
    train_ids = (
        docs.withColumn("_b", bucket)
        .where(F.col("_b") >= holdout_pct)
        .select("doc_id")
    )
    dt = _doc_tokens(docs).groupBy("doc_id", "tok").agg(
        F.count(F.lit(1)).alias("tf")
    )
    cls = (
        dt.join(train_ids, "doc_id")
        .join(labels, "doc_id")
        .groupBy("tok")
        .agg(
            F.sum(F.when(F.col("label") == 1, F.col("tf")).otherwise(0)).alias(
                "c1"
            ),
            F.sum(F.when(F.col("label") == 0, F.col("tf")).otherwise(0)).alias(
                "c0"
            ),
        )
    )
    w = cls.select(
        "tok", F.expr("(c1 + 1) * 1000000L div (c1 + c0 + 2)").alias("w_u")
    )
    scored = (
        dt.join(w, "tok", "left")
        .select(
            "doc_id",
            "tf",
            F.coalesce("w_u", F.lit(500_000)).alias("w_u"),
        )
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("long").alias("n_tokens"),
            F.expr("sum(tf * w_u) div sum(tf)").alias("score_u"),
        )
    )
    return (
        labels.join(scored, "doc_id", "left")
        .select(
            "doc_id",
            "label",
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce("score_u", F.lit(500_000)).cast("long").alias("score_u"),
            F.when(F.coalesce("score_u", F.lit(500_000)) >= 500_000, 1)
            .otherwise(0)
            .cast("long")
            .alias("pred"),
        )
    )


def cluster_topics(
    docs: DataFrame, assignments: DataFrame, k: int = 5
) -> DataFrame:
    """Distinctive topic terms per semantic cluster — the cluster-labeling
    stage of embedding-driven curation (the c-TF-IDF move of BERTopic,
    Grootendorst 2022), with an integer-exact keyness score instead of a
    float log: for term t in cluster c,

        lift_u = tf_c * T_corpus  -  tf_corpus * T_c

    (difference of cross products: positive iff the term's in-cluster
    rate tf_c/T_c beats its corpus rate tf_corpus/T_corpus; exact in
    int64 at bench scale — a 100-TB run rescales both token totals to
    per-million units before the product, same ordering, bounded
    magnitude). "Corpus" = every clustered document, so the score is a
    pure function of the assignment table.

    Plan: per-(doc, token) tf (one shuffle, map-side combined), one join
    to the skinny (doc, cell) assignment, per-(cell, token) partial-agg
    rollup; the cluster and corpus totals reuse that rollup (vocab-sized,
    no second pass over text); corpus total is a broadcast scalar; top-k
    is a window PARTITIONED by cell (never global). Ties break on the
    term string, so the table is fully deterministic."""
    dt = _doc_tokens(docs).groupBy("doc_id", "tok").agg(
        F.count(F.lit(1)).alias("tf")
    )
    a = assignments.select(F.col("vec_id").alias("doc_id"), "cell_id")
    ct = (
        dt.join(a, "doc_id")
        .groupBy("cell_id", "tok")
        .agg(F.sum("tf").alias("tf_c"))
    )
    corpus_t = ct.groupBy("tok").agg(F.sum("tf_c").alias("tf_all"))
    cell_tot = ct.groupBy("cell_id").agg(F.sum("tf_c").alias("toks_c"))
    tot = ct.agg(F.sum("tf_c").alias("toks_total"))
    scored = (
        ct.join(corpus_t, "tok")
        .join(cell_tot, "cell_id")
        .crossJoin(F.broadcast(tot))
        .withColumn(
            "lift_u", F.expr("tf_c * toks_total - tf_all * toks_c")
        )
    )
    w = Window.partitionBy("cell_id").orderBy(F.desc("lift_u"), F.asc("tok"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col("cell_id").cast("long").alias("cell_id"),
            F.col("tok").alias("term"),
            F.col("tf_c").cast("long").alias("tf_c"),
            F.col("lift_u").cast("long").alias("lift_u"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


DRIFT_VOCAB_K = 200  # global terms the drift score covers


def source_drift(docs: DataFrame) -> DataFrame:
    """Per-source distribution-shift audit: a chi-square-style drift
    score of each source's unigram distribution against the global
    corpus distribution over the top-DRIFT_VOCAB_K global terms — the
    mixture-QA gate a training-data pipeline runs before/after adding a
    new crawl or domain slice (detects a source whose token mix diverges
    from the corpus it is being blended into).

    Exact integer form (oracle-matchable): per term, both distributions
    quantize to micro-probabilities (p_u = count*1e6 div total), and the
    per-term contribution is (po_u - pg_u)^2 div pg_u, summed per
    source. Magnitudes stay < 1e12 by construction, so the arithmetic
    never leaves BIGINT on either engine.

    Scale: token counts collapse to (source, term) with map-side
    partials BEFORE any join; the vocab is a bounded global top-k
    (TakeOrderedAndProject, never a full sort) and joins broadcast-size;
    per-source totals are one more hash agg. Nothing is corpus-scaled
    after the first aggregation."""
    toks = docs.select(
        "source",
        F.explode(
            F.expr(f"regexp_extract_all(lower(text), '{WORD}', 0)")
        ).alias("tok"),
    )
    st = toks.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("o"))
    gt = st.groupBy("tok").agg(F.sum("o").alias("g"))
    vocab = gt.orderBy(F.desc("g"), F.asc("tok")).limit(DRIFT_VOCAB_K)
    g_total = vocab.agg(F.sum("g").alias("gt"))  # one-row scalar
    s_tot = (
        st.join(vocab.select("tok"), "tok", "left_semi")
        .groupBy("source")
        .agg(F.sum("o").alias("s_total"))
    )
    per_term = (
        s_tot.crossJoin(F.broadcast(vocab))
        .crossJoin(F.broadcast(g_total))
        .join(st, ["source", "tok"], "left")
        .na.fill(0, ["o"])
        .withColumn("po_u", F.expr("(o * 1000000) div s_total"))
        .withColumn("pg_u", F.expr("(g * 1000000) div gt"))
        .withColumn(
            "contrib",
            F.expr("((po_u - pg_u) * (po_u - pg_u)) div greatest(pg_u, 1)"),
        )
    )
    return (
        per_term.groupBy("source")
        .agg(
            F.max("s_total").alias("n_tokens"),
            F.sum("contrib").alias("drift_u"),
            F.count(F.when(F.col("o") == 0, 1)).alias("n_missing"),
        )
        .select(
            "source",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.col("drift_u").cast("long").alias("drift_u"),
            F.col("n_missing").cast("long").alias("n_missing"),
        )
    )


def c4_page_filters(cleaned_pages: DataFrame) -> DataFrame:
    """C4-style curation sweep (Raffel et al. 2020, §2.2) over cleaned
    pages, paragraph == C4 "line":

    - a line is KEPT iff it ends in terminal punctuation AND has >= 5
      words (the two C4 line rules);
    - a page is KEPT iff it has >= 3 surviving lines, >= 5 sentence
      terminators overall, and no '{' (C4 drops pages with code braces).

    One whole-stage-codegen projection per page — split + higher-order
    filter, no shuffle, no Python — so the sweep reads the crawl once
    and scales linearly. Counters are emitted (not just the boolean) so
    the curation dashboard can see WHY a page died.
    """
    kept = (
        "size(filter(split(text_clean, '\\n\\n'),"
        " x -> x rlike '[.!?\"]$' AND size(split(x, ' ')) >= 5))"
    )
    return cleaned_pages.select(
        "url",
        "group_id",
        F.expr("size(split(text_clean, '\\n\\n'))").cast("long").alias("n_lines"),
        F.expr(kept).cast("long").alias("n_kept_lines"),
        F.length(F.regexp_replace("text_clean", "[^.!?]", ""))
        .cast("long")
        .alias("n_sentences"),
        F.col("text_clean").contains("{").cast("int").alias("has_brace"),
    ).withColumn(
        "keep",
        (
            (F.col("n_kept_lines") >= 3)
            & (F.col("n_sentences") >= 5)
            & (F.col("has_brace") == 0)
        ).cast("int"),
    )


# RAKE candidate-phrase boundary stopwords (function words; fixed list so
# the DuckDB oracle can embed the identical set)
RAKE_STOPS = (
    "a", "about", "after", "all", "an", "and", "any", "are", "as", "at",
    "be", "but", "by", "can", "for", "from", "has", "have", "in", "into",
    "is", "it", "its", "of", "on", "or", "that", "the", "their", "this",
    "to", "was", "were", "which", "will", "with",
)


def rake_keyphrases(docs: DataFrame, top_k: int = 3) -> DataFrame:
    """RAKE keyphrase extraction (Rose et al. 2010): candidate phrases are
    maximal stopword-free token runs between punctuation boundaries;
    word score = degree/frequency over the document's own phrases
    (degree = summed length of every phrase the word appears in); a
    phrase scores the sum of its words' scores. Top-k per document by
    (score desc, phrase asc) in exact integer micro-units — the
    deterministic keyphrase facet of the text-analysis suite
    (doc_tfidf_terms is corpus-relative; RAKE is document-local and
    multi-word).

    Plan shape: two nested posexplodes (punctuation segments, then
    tokens) keep everything JVM-side; phrase assembly is the classic
    gaps-and-islands run id (pos - row_number) + one sorted-struct
    collect per phrase; scoring is two skinny (doc, token) aggs; top-k
    is a per-doc window, never global. Every shuffle is keyed by doc_id
    (+ segment/run), so the whole operator scales with documents, not
    with any corpus-global state.
    """
    segs = docs.select(
        "doc_id",
        F.posexplode(F.split(F.lower("text"), "[^a-z0-9 ]+")).alias(
            "seg_idx", "seg"
        ),
    )
    toks = segs.select(
        "doc_id",
        "seg_idx",
        F.posexplode(F.expr("regexp_extract_all(seg, '[a-z0-9]+', 0)")).alias(
            "pos", "tok"
        ),
    )
    ns = toks.where(~F.col("tok").isin(*RAKE_STOPS)).withColumn(
        "run",
        F.col("pos")
        - F.row_number().over(
            Window.partitionBy("doc_id", "seg_idx").orderBy("pos")
        ),
    )
    ph = ns.groupBy("doc_id", "seg_idx", "run").agg(
        F.concat_ws(
            " ",
            F.expr("transform(array_sort(collect_list(struct(pos, tok))), s -> s.tok)"),
        ).alias("phrase"),
        F.count(F.lit(1)).alias("plen"),
    )
    words = ns.join(ph, ["doc_id", "seg_idx", "run"])
    ws = words.groupBy("doc_id", "tok").agg(
        F.expr("(sum(plen) * 1000000) div count(1)").alias("wscore_u")
    )
    phsc = (
        words.join(ws, ["doc_id", "tok"])
        .groupBy("doc_id", "seg_idx", "run", "phrase")
        .agg(F.sum("wscore_u").alias("score_u"))
        .groupBy("doc_id", "phrase")
        .agg(F.max("score_u").alias("score_u"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score_u"), F.asc("phrase"))
    return (
        phsc.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_k)
        .select(
            "doc_id",
            F.col("rank").cast("long").alias("rank"),
            "phrase",
            F.col("score_u").cast("long").alias("score_u"),
        )
    )


def containment_pairs(
    docs: DataFrame, max_df_frac: float = NEAR_DUP_MAX_DF_FRAC
) -> DataFrame:
    """Top ASYMMETRIC near-duplicate pairs by shingle containment
    C(A,B) = |A∩B| / min(|A|,|B|) (Broder 1997's containment, the
    measure Jaccard misses when a short document is embedded inside a
    long one — quote extraction, boilerplate-wrapped syndication; a
    10-shingle quote inside a 1000-shingle page has J≈0.01 but C=1.0).

    Same plan family and skew guards as ngram_jaccard_pairs: hashed
    shingles, relative document-frequency cap before the self-join (the
    quadratic guard), one equi-join + pair groupBy, global top-k via
    TakeOrderedAndProject. Containment is computed over the df-kept
    shingle space on both engines identically. `contained` names the
    smaller-side doc (tie -> doc_a)."""
    sh = _shingles(docs).select("doc_id", F.xxhash64("shingle").alias("shingle"))
    nd = docs.select(F.countDistinct("doc_id").alias("nd"))
    thr = F.expr(f"greatest(2L, cast(floor(nd * {max_df_frac}) as bigint))")
    df_ok = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(nd))
        .where(F.col("df") <= thr)
        .select("shingle")
    )
    sh = sh.join(df_ok, "shingle").localCheckpoint(eager=True)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    return (
        shared.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "containment_u", F.expr("(shared * 1000000L) div least(n_a, n_b)")
        )
        .withColumn(
            "contained",
            F.expr("CASE WHEN n_b < n_a THEN doc_b ELSE doc_a END"),
        )
        .select("doc_a", "doc_b", "shared", "containment_u", "contained")
        .orderBy(F.desc("containment_u"), "doc_a", "doc_b")
        .limit(NEAR_DUP_TOP)
    )


TEXTRANK_DAMP = 85  # damping in integer percent
TEXTRANK_ITERS = 2
TEXTRANK_TOP = 2


def textrank_sentences(docs: DataFrame, top_k: int = TEXTRANK_TOP) -> DataFrame:
    """TextRank extractive summarization (Mihalcea & Tarau 2004): per
    document, sentences are nodes, edge weight = number of shared
    distinct tokens, and a fixed-iteration integer PageRank picks the
    top-k most central sentences after TEXTRANK_ITERS iterations — the classic deterministic
    summarization op for building seq2seq training pairs from web text.

        r_0(i)   = 1e6
        r_k+1(i) = (1e6 * (100-damp)) div 100        (damp = TEXTRANK_DAMP)
                   + damp * sum_j (r_k(j) * w_ij) div W_j div 100

    (W_j = total outgoing weight of sentence j; divide inside the sum,
    exact in Spark `div` and DuckDB `//`; sentences sharing no token
    keep the base mass — the standard dangling treatment.)

    Scale plan: every stage is keyed by doc_id — the sentence-pair
    similarity join is a (doc, token) equi-join whose fan-out is
    bounded by sentences-per-document (never corpus-wide), the
    iteration joins are (doc, sentence)-keyed skinny rows, and top-k is
    a per-doc window. Corpus-global state: none.
    """
    sents = (
        docs.select(
            "doc_id",
            F.posexplode(F.split("text", "[.!?]+")).alias("sidx", "sent"),
        )
        .withColumn("sent", F.trim("sent"))
        .where(F.length("sent") > 0)
        .select("doc_id", "sidx")
        .localCheckpoint(eager=True)
    )
    stoks = (
        docs.select(
            "doc_id",
            F.posexplode(F.split("text", "[.!?]+")).alias("sidx", "sent"),
        )
        .select(
            "doc_id",
            "sidx",
            F.explode(
                F.expr(
                    "array_distinct(regexp_extract_all(lower(sent), '[a-z0-9]+', 0))"
                )
            ).alias("tok"),
        )
    )
    a, b = stoks.alias("a"), stoks.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.sidx") != F.col("b.sidx")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_id"),
            F.col("a.sidx").alias("i"),
            F.col("b.sidx").alias("j"),
        )
        .agg(F.count(F.lit(1)).alias("w"))
        .localCheckpoint(eager=True)
    )
    wj = pairs.groupBy("doc_id", "j").agg(F.sum("w").alias("wj"))
    pw = pairs.join(wj, ["doc_id", "j"])
    base = (1_000_000 * (100 - TEXTRANK_DAMP)) // 100
    r = sents.select("doc_id", "sidx", F.lit(1_000_000).cast("long").alias("r_u"))
    for _ in range(TEXTRANK_ITERS):
        contrib = (
            pw.join(
                r.select("doc_id", F.col("sidx").alias("j"), "r_u"),
                ["doc_id", "j"],
            )
            .groupBy("doc_id", F.col("i").alias("sidx"))
            .agg(F.sum(F.expr("(r_u * w) div wj")).alias("s"))
        )
        r = (
            sents.join(contrib, ["doc_id", "sidx"], "left")
            .select(
                "doc_id",
                "sidx",
                F.expr(
                    f"{base}L + ({TEXTRANK_DAMP}L * coalesce(s, 0L)) div 100"
                ).alias("r_u"),
            )
            .localCheckpoint(eager=True)
        )
    w = Window.partitionBy("doc_id").orderBy(F.desc("r_u"), F.asc("sidx"))
    return (
        r.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_k)
        .select(
            "doc_id",
            F.col("rank").cast("long").alias("rank"),
            F.col("sidx").cast("long").alias("sent_idx"),
            F.col("r_u").cast("long").alias("score_u"),
        )
    )
