"""Learned cross-encoder (Q13/U5 stretch): a real trained model behind
the reference's `rank(query, passages)` surface
(/root/reference/graphiti_core/cross_encoder/client.py:28-40; the model
implementations bge_reranker_client.py:24-44 score with a learned
reranker), kept bit-reproducible so it sits under the exact DuckDB gate
like every other operator.

Design (no network, no floats in the decision path):

- **Features** per (query, passage) pair — all integer, all expressible
  identically in Spark SQL and DuckDB SQL:
    f0  idf_overlap_u   sum of floor(ln(1 + N/df)*1e6) over distinct
                        shared terms (the existing portable recipe)
    f1  n_overlap       count of distinct shared terms
    f2  tf_overlap      total passage occurrences of shared terms
    f3  len_ratio_u     1e6 * least(qlen, dl) div greatest(qlen, dl)
    f4  phrase_hit      1 if lower(passage) contains lower(query)
- **Training**: integer averaged perceptron on pseudo-relevance pairs
  derived deterministically from a bounded corpus sample: for sample
  passage i, the query is its first QUERY_TOKENS tokens; positive pair =
  (query_i, passage_i), negative pair = (query_i, passage_j) with
  j = (i * 7 + 3) mod n (skip self). Fixed traversal order, fixed
  EPOCHS, integer updates -> the weight vector is a pure function of the
  sample. Averaging (summed snapshots, integer division) gives the
  stability of the averaged perceptron without floats.
- **Inference**: score_u = w . f, rank desc, ties on doc id asc.

Scale: training reads a BOUNDED sample (driver-side, like fitting any
small reranker head); inference is one skinny join + hash agg per
(query, candidate) — identical plan family to the idf-overlap scorer it
upgrades. The sanctioned deterministic stand-in (operators/
cross_encoder.py) remains the default; this is the opt-in learned path.
"""

from __future__ import annotations

import math
import re

from pyspark.sql import DataFrame, Window, functions as F

TOKEN_PATTERN = "[a-z0-9]+"
QUERY_TOKENS = 5
EPOCHS = 3
N_FEATURES = 5
# training-sample bound, shared by the search reranker and the registry
# query's DuckDB-side sample
SAMPLE_CAP = 200
_TOK_RE = re.compile(TOKEN_PATTERN)


def _tokens(text: str) -> list[str]:
    return _TOK_RE.findall(text.lower())


def _pair_features(
    qtoks: list[str], ptoks: list[str], df: dict[str, int], n: int,
    qtext: str, ptext: str,
) -> list[int]:
    qset, pset = set(qtoks), set(ptoks)
    shared = qset & pset
    idf_u = sum(
        math.floor(math.log(1 + n / df.get(t, 1)) * 1_000_000) for t in shared
    )
    tf_overlap = sum(1 for t in ptoks if t in qset)
    qlen, dl = len(qtoks), len(ptoks)
    lo, hi = min(qlen, dl), max(qlen, dl)
    len_ratio_u = (1_000_000 * lo) // hi if hi else 0
    phrase = 1 if qtext.lower() in ptext.lower() else 0
    return [idf_u, len(shared), tf_overlap, len_ratio_u, phrase]


def train_weights(passages: list[str]) -> list[int]:
    """Integer averaged perceptron over deterministic pseudo-relevance
    pairs. Returns N_FEATURES integer weights (micro-scaled averages).
    A pure function of the passage list — the DuckDB oracle trains on the
    same sample and embeds the identical weights as literals."""
    n = len(passages)
    if n < 3:
        return [1, 0, 0, 0, 0]
    tok_lists = [_tokens(p) for p in passages]
    df: dict[str, int] = {}
    for toks in tok_lists:
        for t in set(toks):
            df[t] = df.get(t, 0) + 1

    # feature scaling to comparable integer ranges: idf_u and len_ratio_u
    # are micro-scaled already; counts are small. Normalize idf_u and
    # len_ratio_u down to "per-mille-ish" units so one weight unit means
    # roughly the same across features (integer div, still exact).
    def feats(i: int, j: int) -> list[int]:
        q = tok_lists[i][:QUERY_TOKENS]
        qtext = " ".join(q)
        f = _pair_features(q, tok_lists[j], df, n, qtext, passages[j])
        return [f[0] // 100_000, f[1], f[2], f[3] // 100_000, f[4]]

    w = [0] * N_FEATURES
    acc = [0] * N_FEATURES
    steps = 0
    for _ in range(EPOCHS):
        for i in range(n):
            j = (i * 7 + 3) % n
            if j == i:
                j = (j + 1) % n
            fp, fn_ = feats(i, i), feats(i, j)
            # pairwise perceptron: positive must outscore negative
            sp = sum(wi * fi for wi, fi in zip(w, fp))
            sn = sum(wi * fi for wi, fi in zip(w, fn_))
            if sp <= sn:
                w = [wi + (a - b) for wi, a, b in zip(w, fp, fn_)]
            acc = [ai + wi for ai, wi in zip(acc, w)]
            steps += 1
    return [a // steps for a in acc]


def sample_passages(rows: list[tuple[int, str]]) -> list[str]:
    """Deterministic bounded training sample from (doc_id, text) rows:
    sort by doc_id, stride so at most SAMPLE_CAP survive."""
    rows = sorted(rows)
    stride = max(1, len(rows) // SAMPLE_CAP)
    return [t for _, t in rows[::stride]][:SAMPLE_CAP]


def sample_passages_df(df: DataFrame, id_col: str, text_col: str) -> list[str]:
    """sample_passages over a DataFrame with unique ids, selected in Spark
    so only the <= SAMPLE_CAP sampled rows reach the driver: the rows at
    id rank i with i % stride == 0 and i < SAMPLE_CAP * stride are exactly
    the ones sample_passages keeps. The rank window is global, so `df`
    must be a bounded set (e.g. a search's candidates), not a corpus."""
    stride = max(1, df.count() // SAMPLE_CAP)
    i = F.row_number().over(Window.orderBy(id_col)) - 1
    rows = (
        df.select(id_col, text_col, i.alias("i"))
        .where((F.col("i") % stride == 0) & (F.col("i") < SAMPLE_CAP * stride))
        .collect()
    )
    return sample_passages([(r[id_col], r[text_col]) for r in rows])


def learned_ce_rank(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    text_col: str,
    weights: list[int],
    k: int = 10,
) -> DataFrame:
    """Batch rerank with trained integer weights: (query_id, rank,
    <id_col>, ce_score_u) top-k per query. Plan: df table (vocab-scaled)
    + one skinny term join + hash agg; the phrase/length features ride
    the same projection — no extra shuffle vs the unlearned scorer."""
    w0, w1, w2, w3, w4 = (int(x) for x in weights)
    docs = corpus.select(
        F.col(id_col).alias("doc"),
        F.col(text_col).alias("ptext"),
        F.expr(f"regexp_extract_all(lower({text_col}), '{TOKEN_PATTERN}', 0)").alias(
            "toks"
        ),
    ).withColumn("dl", F.size("toks"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n"))

    terms = docs.select(
        "doc", F.explode(F.array_distinct("toks")).alias("term")
    )
    dfreq = terms.groupBy("term").agg(F.count(F.lit(1)).alias("df"))

    qcols = queries.select(
        "query_id",
        F.col("query"),
        F.expr(f"regexp_extract_all(lower(query), '{TOKEN_PATTERN}', 0)").alias("qtoks"),
    ).withColumn("qlen", F.size("qtoks"))

    # distinct-shared-term aggregates (f0, f1) via the term join
    qterms = qcols.select(
        "query_id", F.explode(F.array_distinct("qtoks")).alias("term")
    )
    overlap = (
        terms.join(F.broadcast(qterms), "term")
        .join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "idf_u",
            F.floor(F.log(F.lit(1.0) + F.col("n") / F.col("df")) * 1000000).cast(
                "long"
            ),
        )
        .groupBy("query_id", "doc")
        .agg(
            F.sum("idf_u").alias("f0_raw"),
            F.count(F.lit(1)).cast("long").alias("f1"),
        )
    )
    # pairwise features needing both texts (f2 tf, f3 len ratio, f4
    # phrase): join the candidate pairs back to the two skinny text
    # tables — candidate-pair-scaled, not corpus x queries
    pairs = (
        overlap.join(docs.select("doc", "ptext", "toks", "dl"), "doc")
        .join(F.broadcast(qcols.select("query_id", "query", "qtoks", "qlen")), "query_id")
        .withColumn(
            "f2",
            F.expr("cast(size(filter(toks, t -> array_contains(qtoks, t))) as long)"),
        )
        .withColumn(
            "f3",
            F.expr("1000000 * least(qlen, dl) div greatest(qlen, dl)").cast("long"),
        )
        .withColumn(
            "f4",
            F.expr("case when contains(lower(ptext), lower(query)) then 1 else 0 end").cast(
                "long"
            ),
        )
        .withColumn(
            "ce_score_u",
            (
                F.lit(w0) * F.expr("f0_raw div 100000")
                + F.lit(w1) * F.col("f1")
                + F.lit(w2) * F.col("f2")
                + F.lit(w3) * F.expr("f3 div 100000")
                + F.lit(w4) * F.col("f4")
            ).cast("long"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("ce_score_u"), F.asc("doc"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("rank").cast("long").alias("rank"),
            F.col("doc").alias(id_col),
            "ce_score_u",
        )
    )


def sql_learned_ce(source_sql: str, queries_values: str, weights: list[int]) -> str:
    """DuckDB twin of learned_ce_rank with the trained weights embedded
    as literals (the oracle trains identically via train_weights on the
    same deterministic sample, so the literals match bit-for-bit)."""
    w0, w1, w2, w3, w4 = (int(x) for x in weights)
    return f"""
cd AS (
  SELECT doc, text AS ptext,
         regexp_extract_all(lower(text), '{TOKEN_PATTERN}') AS toks
  FROM ({source_sql})
),
cd2 AS (SELECT doc, ptext, toks, len(toks) AS dl FROM cd),
cn AS (SELECT count(*) AS n FROM cd2),
cterms AS (SELECT doc, unnest(list_distinct(toks)) AS term FROM cd2),
cdf AS (SELECT term, count(*) AS df FROM cterms GROUP BY 1),
cqs AS (
  SELECT query_id, query,
         regexp_extract_all(lower(query), '{TOKEN_PATTERN}') AS qtoks
  FROM {queries_values}
),
cqs2 AS (SELECT query_id, query, qtoks, len(qtoks) AS qlen FROM cqs),
cqterms AS (
  SELECT query_id, unnest(list_distinct(qtoks)) AS term FROM cqs2
),
coverlap AS (
  SELECT q.query_id, t.doc,
         CAST(sum(CAST(floor(ln(1 + cn.n / cdf.df) * 1000000) AS BIGINT)) AS BIGINT) AS f0_raw,
         CAST(count(*) AS BIGINT) AS f1
  FROM cterms t JOIN cqterms q USING (term) JOIN cdf USING (term)
  CROSS JOIN cn
  GROUP BY 1, 2
),
cpairs AS (
  SELECT o.query_id, o.doc, o.f0_raw, o.f1,
         CAST(len(list_filter(d.toks, t -> list_contains(q.qtoks, t))) AS BIGINT) AS f2,
         CAST(1000000 * least(q.qlen, d.dl) // greatest(q.qlen, d.dl) AS BIGINT) AS f3,
         CAST(CASE WHEN contains(lower(d.ptext), lower(q.query)) THEN 1 ELSE 0 END AS BIGINT) AS f4
  FROM coverlap o
  JOIN cd2 d USING (doc)
  JOIN cqs2 q USING (query_id)
),
cscored AS (
  SELECT query_id, doc,
         CAST({w0} * (f0_raw // 100000) + {w1} * f1 + {w2} * f2
              + {w3} * (f3 // 100000) + {w4} * f4 AS BIGINT) AS ce_score_u
  FROM cpairs
),
cranked AS (
  SELECT query_id, doc, ce_score_u,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY ce_score_u DESC, doc) AS rank
  FROM cscored
)"""


class LearnedCrossEncoder:
    """Single-process client with the reference surface
    (cross_encoder/client.py:28-40): rank(query, passages) ->
    [(passage, score)] sorted desc, scored by the trained weights.
    Trains on the passage list itself (bounded, deterministic) — the
    same self-corpus convention as DeterministicCrossEncoder."""

    def __init__(self, weights: list[int] | None = None):
        self._w = weights

    def rank(self, query: str, passages: list[str]) -> list[tuple[str, float]]:
        if not passages:
            return []
        w = self._w or train_weights(list(passages))
        tok_lists = [_tokens(p) for p in passages]
        n = len(passages)
        df: dict[str, int] = {}
        for toks in tok_lists:
            for t in set(toks):
                df[t] = df.get(t, 0) + 1
        qtoks = _tokens(query)
        out = []
        for p, ptoks in zip(passages, tok_lists):
            f = _pair_features(qtoks, ptoks, df, n, query, p)
            scaled = [f[0] // 100_000, f[1], f[2], f[3] // 100_000, f[4]]
            score = sum(wi * fi for wi, fi in zip(w, scaled))
            out.append((p, float(score)))
        order = {id(p): i for i, p in enumerate(passages)}
        return sorted(out, key=lambda x: (-x[1], order[id(x[0])]))
