"""Deterministic cross-encoder reranker (Q13/U5) — the engine's stand-in
for graphiti's model-based passage scorers behind the same surface:

- reference client interface: `CrossEncoderClient.rank(query, passages)
  -> list[(passage, score)]` sorted desc
  (/root/reference/graphiti_core/cross_encoder/client.py:28-40); model
  impls bge_reranker_client.py:24-44, openai_reranker_client.py.
- recipes ending `_CROSS_ENCODER` (search_config_recipes.py) rerank the
  hybrid candidate set with it.

The deterministic scorer is an idf-weighted distinct-term overlap with
symmetric length normalization:

    score_u = (sum of idf_u over DISTINCT query terms present in the
               passage) * 1000000 div (n_query_terms + n_passage_tokens)

Unlike BM25 (tf-weighted, passage-length-only normalization), this is a
pairwise (query, passage) interaction score — the decision structure a
cross-encoder provides — computed in exact integer micro-units so the
DuckDB oracle matches bit-for-bit. At 100 TB the idf table is the only
corpus-wide state (broadcast); scoring is one skinny join + hash agg.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window, functions as F

from ..functions.text import tokenize_words

TOKEN_PATTERN = "[a-z0-9]+"


def _toks(col: str) -> F.Column:
    return F.expr(f"regexp_extract_all(lower({col}), '{TOKEN_PATTERN}', 0)")


def cross_encoder_rank(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 10,
) -> DataFrame:
    """Batch rerank: (query_id, rank, <id_col>, ce_score_u) top-k per
    query. idf = ln(1 + N/df) over the passage corpus, floored to integer
    micro-units per term BEFORE summing (order-independent)."""
    docs = corpus.select(
        F.col(id_col).alias("doc"), _toks(text_col).alias("toks")
    ).withColumn("dl", F.size("toks"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n"))

    terms = docs.select("doc", "dl", F.explode(F.array_distinct("toks")).alias("term"))
    dfreq = terms.groupBy("term").agg(F.count(F.lit(1)).alias("df"))

    qterms = queries.select(
        "query_id",
        F.size(_toks("query")).alias("qlen"),
        F.explode(F.array_distinct(_toks("query"))).alias("term"),
    )

    scored = (
        terms.join(F.broadcast(qterms), "term")
        .join(dfreq, "term")  # vocabulary-scaled: AQE decides
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "idf_u",
            F.floor(F.log(F.lit(1.0) + F.col("n") / F.col("df")) * 1000000).cast("long"),
        )
        .groupBy("query_id", "qlen", "doc", "dl")
        .agg(F.sum("idf_u").alias("overlap_u"))
        .withColumn(
            "ce_score_u",
            F.expr("overlap_u * 1000000 div (qlen + dl)").cast("long"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("ce_score_u"), F.asc("doc"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("rank").cast("long").alias("rank"),
            F.col("doc").alias(id_col),
            "ce_score_u",
        )
    )


def sql_cross_encoder(source_sql: str, queries_values: str) -> str:
    """DuckDB twin of cross_encoder_rank over any (doc, text) source."""
    return f"""
cd AS (
  SELECT doc, regexp_extract_all(lower(text), '{TOKEN_PATTERN}') AS toks
  FROM ({source_sql})
),
cd2 AS (SELECT doc, len(toks) AS dl, toks FROM cd),
cn AS (SELECT count(*) AS n FROM cd2),
cterms AS (
  SELECT doc, dl, unnest(list_distinct(toks)) AS term FROM cd2
),
cdf AS (SELECT term, count(*) AS df FROM cterms GROUP BY 1),
cqs AS (SELECT query_id, query FROM {queries_values}),
cqterms AS (
  SELECT query_id,
         len(regexp_extract_all(lower(query), '{TOKEN_PATTERN}')) AS qlen,
         unnest(list_distinct(regexp_extract_all(lower(query), '{TOKEN_PATTERN}'))) AS term
  FROM cqs
),
cscored AS (
  SELECT q.query_id, q.qlen, t.doc, t.dl,
         CAST(sum(CAST(floor(ln(1 + cn.n / cdf.df) * 1000000) AS BIGINT)) AS BIGINT) AS overlap_u
  FROM cterms t
  JOIN cqterms q USING (term)
  JOIN cdf USING (term)
  CROSS JOIN cn
  GROUP BY 1, 2, 3, 4
),
cranked AS (
  SELECT query_id, doc,
         CAST((overlap_u * 1000000) // (qlen + dl) AS BIGINT) AS ce_score_u,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY (overlap_u * 1000000) // (qlen + dl) DESC, doc) AS rank
  FROM cscored
)"""


class DeterministicCrossEncoder:
    """Single-process client with the reference's surface
    (cross_encoder/client.py:28-40): rank(query, passages) ->
    [(passage, score)] sorted desc. Uses the passage list itself as the
    idf corpus — exactly what the batch operator does with corpus=passages."""

    def rank(self, query: str, passages: list[str]) -> list[tuple[str, float]]:
        if not passages:
            return []
        tok_lists = [tokenize_words(p) for p in passages]
        n = len(passages)
        df: dict[str, int] = {}
        for toks in tok_lists:
            for t in set(toks):
                df[t] = df.get(t, 0) + 1
        q = tokenize_words(query)
        qset, qlen = set(q), len(q)
        out = []
        for p, toks in zip(passages, tok_lists):
            overlap_u = sum(
                math.floor(math.log(1 + n / df[t]) * 1_000_000)
                for t in set(toks) & qset
            )
            score_u = (overlap_u * 1_000_000) // (qlen + len(toks)) if (qlen + len(toks)) else 0
            out.append((p, score_u / 1e6))
        return sorted(out, key=lambda x: (-x[1], passages.index(x[0])))
