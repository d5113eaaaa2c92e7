"""Document-corpus queries: token statistics, quality and language
filters, exact / near / fuzzy deduplication, sketches, tokenizer
training, language-model scoring, data mixing and keyphrase extraction."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .. import corpus
from ..operators import ann, docs
from ..operators import docs as docs_mod
from .shared import (
    EMBCOS_MAX_CELL,
    IVF_CELLS,
    IVF_ITERS,
    _DUCK_QZ,
    _QZ,
    _cell_cap_cte,
    _graph,
    _kmeans_sql_parts,
)


# ---------------------------------------------------------------------------
# Document-pipeline queries (training-data ops over `documents`).
# ---------------------------------------------------------------------------


def q_doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = docs.token_stats(docs.read_documents(spark, sf_dir))
    return out.select(
        "doc_id", *[F.col(c).cast("long").alias(c) for c in out.columns[1:]]
    )


def q_doc_length_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-language token-count deciles (histogram-CDF plan — no
    corpus-wide sort); the distribution profile curation thresholds are
    read from."""
    return docs.length_deciles(docs.read_documents(spark, sf_dir))


def q_doc_stats_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-card statistics at every (lang, source) granularity in one
    rollup pass (single shuffle for all grouping sets)."""
    return docs_mod.stats_rollup(docs.read_documents(spark, sf_dir))


def q_doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = docs.quality_scores(docs.read_documents(spark, sf_dir))
    return out.select(
        "doc_id", *[F.col(c).cast("long").alias(c) for c in out.columns[1:]]
    )


def q_doc_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-trigram-profile language ID (Cavnar & Trenkle) over 10
    alphabetic languages + CJK detection — the fastText-free classifier;
    per-language scores + the argmax guess, all one codegen projection."""
    out = docs.lang_id(docs.read_documents(spark, sf_dir))
    score_cols = ["zh_score"] + [f"{lg}_score" for lg in docs.LANG_TRIGRAMS]
    return out.select(
        "doc_id",
        "lang_declared",
        *[F.col(c).cast("long").alias(c) for c in score_cols],
        "lang_guess",
    )


def q_doc_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = docs.gopher_rules(docs.read_documents(spark, sf_dir))
    return out.select(
        "doc_id", *[F.col(c).cast("long").alias(c) for c in out.columns[1:]]
    )


def q_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = docs.repetition_stats(docs.read_documents(spark, sf_dir))
    longs = [
        "n_words",
        "n_distinct_words",
        "dup_word_frac_u",
        "top_bigram_n",
        "top_bigram_frac_u",
    ]
    return out.select(
        "doc_id",
        *[F.col(c).cast("long").alias(c) for c in longs[:3]],
        "top_bigram",
        *[F.col(c).cast("long").alias(c) for c in longs[3:]],
    )


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = docs.fingerprints(docs.read_documents(spark, sf_dir))
    return out.select(
        "doc_id", "fingerprint", F.col("n_norm_chars").cast("long").alias("n_norm_chars")
    )


def q_doc_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return docs.exact_dup_groups(docs.read_documents(spark, sf_dir)).select(
        "fingerprint",
        F.col("n_docs").cast("long").alias("n_docs"),
        "canonical_doc_id",
    )


def q_doc_ngram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return docs.ngram_jaccard_pairs(docs.read_documents(spark, sf_dir)).select(
        "doc_a",
        "doc_b",
        F.col("shared").cast("long").alias("shared"),
        "jaccard_u",
    )


def q_doc_para_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style cross-document boilerplate removal over the cleaned
    paragraph table (= the episodes stage: one row per non-empty
    paragraph with its position)."""
    t = _graph(spark, sf_dir)
    out = docs_mod.boilerplate_dedup(
        t.episodes.select("url", "chunk_idx", "content")
    )
    return out.select(
        "url",
        F.col("n_paras").cast("long").alias("n_paras"),
        F.col("n_kept").cast("long").alias("n_kept"),
        "kept_md5",
    )


def q_doc_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub over `documents`. The synthetic corpus carries no PII,
    so the query plants deterministic doc_id-derived emails / phone
    numbers / IPv4 literals first (both sides construct the identical
    augmented text), then counts + redacts them — the machinery under
    test is the detection/redaction projection, not the seeding."""
    d = docs.read_documents(spark, sf_dir)
    did = F.col("doc_id")
    aug = d.withColumn(
        "text",
        F.concat(
            "text",
            F.when(
                did % 3 == 0,
                F.concat(
                    F.lit(" contact user"),
                    did.cast("string"),
                    F.lit("@example.com today"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                did % 5 == 0,
                F.concat(
                    F.lit(" call 555-"),
                    F.lpad((did % 1000).cast("string"), 3, "0"),
                    F.lit("-"),
                    F.lpad((did % 10000).cast("string"), 4, "0"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                did % 7 == 0,
                F.concat(
                    F.lit(" from 10.0."),
                    (did % 256).cast("string"),
                    F.lit("."),
                    (did % 254 + 1).cast("string"),
                ),
            ).otherwise(F.lit("")),
        ),
    )
    out = docs_mod.pii_scrub(aug)
    return out.select(
        "doc_id",
        *[F.col(c).cast("long").alias(c) for c in ("n_emails", "n_phones", "n_ips")],
        "redacted_md5",
    )


_URL_VARIANTS_SQL = """
SELECT CAST(doc_id AS BIGINT) AS id,
       'https://' || source || '.example.com/doc/' || doc_id AS url
FROM documents
UNION ALL
SELECT doc_id + 1000000,
       'HTTPS://WWW.' || upper(source) || '.EXAMPLE.COM:443/doc/' || doc_id
         || '/?utm_source=feed&gclid=x123#frag'
FROM documents WHERE doc_id < 50
UNION ALL
SELECT doc_id + 2000000,
       'https://' || source || '.example.com/doc/' || doc_id || '?b=2&a=1'
FROM documents WHERE doc_id >= 50 AND doc_id < 60"""


def q_doc_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + url-level dedup (operators/urls.py) — the
    crawl-frontier first pass: scheme/host case, www, default ports,
    fragments, trailing slashes and tracking params collapse; surviving
    params sort. Fixture: every document's url ∪ a full-noise variant of
    the first 50 (case+www+:443+utm+fragment — canonicalizes INTO the
    base url's group) ∪ an unordered-params variant of the next 10
    (params survive sorted — its own group). One codegen projection +
    one skinny groupBy on the canonical string."""
    from ..operators import urls as urls_mod

    d = docs_mod.read_documents(spark, sf_dir).select("doc_id", "source")
    base = d.select(
        F.col("doc_id").cast("long").alias("id"),
        F.expr("'https://' || source || '.example.com/doc/' || doc_id").alias("url"),
    )
    var1 = d.where("doc_id < 50").select(
        (F.col("doc_id") + 1_000_000).cast("long").alias("id"),
        F.expr(
            "'HTTPS://WWW.' || upper(source) || '.EXAMPLE.COM:443/doc/'"
            " || doc_id || '/?utm_source=feed&gclid=x123#frag'"
        ).alias("url"),
    )
    var2 = d.where("doc_id >= 50 AND doc_id < 60").select(
        (F.col("doc_id") + 2_000_000).cast("long").alias("id"),
        F.expr(
            "'https://' || source || '.example.com/doc/' || doc_id || '?b=2&a=1'"
        ).alias("url"),
    )
    return urls_mod.url_dup_groups(
        base.unionByName(var1).unionByName(var2)
    )


def _sql_doc_url_dedup() -> str:
    from ..operators.urls import sql_url_dup_groups

    return sql_url_dup_groups(_URL_VARIANTS_SQL)


CMS_TOPK = 20


def q_doc_cms_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch frequency estimates for the corpus's top-20
    tokens (operators/sketches.cms_*): the 4x256-counter sketch is
    built from the full token stream (fixed size, sum-mergeable), the
    heavy hitters are point-queried against it, and the exact counts
    ride along so the guaranteed-overcount property is visible
    (cms_est >= exact always; collisions only inflate)."""
    from ..operators import sketches

    d = docs_mod.read_documents(spark, sf_dir)
    toks = d.select(
        F.explode(
            F.expr(f"regexp_extract_all(lower(text), '{docs_mod.WORD}', 0)")
        ).alias("tok")
    )
    counters = sketches.cms_counters(toks)
    top = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
        .orderBy(F.col("exact_cnt").desc(), "tok")
        .limit(CMS_TOPK)
    )
    est = sketches.cms_estimate(counters, top.select("tok"))
    return top.join(est, "tok").select(
        "tok",
        F.col("exact_cnt").cast("long").alias("exact_cnt"),
        "cms_est",
        (F.col("cms_est") - F.col("exact_cnt")).cast("long").alias("overcount"),
    )


def _sql_doc_cms_topk() -> str:
    from ..operators.sketches import CMS_D, CMS_W

    def pos(r: str, tok: str) -> str:
        return (
            f"CAST(('0x' || substr(md5({r} || ':' || {tok}), 1, 15))"
            f" AS BIGINT) % {CMS_W}"
        )

    return f"""
WITH toks AS (
  SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
  FROM documents
),
counters AS (
  SELECT r, pos, count(*) AS c FROM (
    SELECT rr.r AS r, {pos("rr.r", "tok")} AS pos
    FROM toks CROSS JOIN range({CMS_D}) rr(r)
  ) GROUP BY 1, 2
),
top AS (
  SELECT tok, count(*) AS exact_cnt FROM toks GROUP BY 1
  ORDER BY exact_cnt DESC, tok LIMIT {CMS_TOPK}
),
qpos AS (
  SELECT t.tok, t.exact_cnt, rr.r AS r, {pos("rr.r", "t.tok")} AS pos
  FROM top t CROSS JOIN range({CMS_D}) rr(r)
),
est AS (
  SELECT q.tok, q.exact_cnt, min(c.c) AS cms_est
  FROM qpos q JOIN counters c ON c.r = q.r AND c.pos = q.pos
  GROUP BY 1, 2
)
SELECT tok, CAST(exact_cnt AS BIGINT) AS exact_cnt,
       CAST(cms_est AS BIGINT) AS cms_est,
       CAST(cms_est - exact_cnt AS BIGINT) AS overcount
FROM est"""


N_BPE_MERGES = 8


def q_doc_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative BPE tokenizer training (operators/docs.bpe_merges):
    N_BPE_MERGES full count->argmax->rewrite rounds over the
    vocab-collapsed corpus; the output is the learned merge table."""
    from ..operators.docs import bpe_merges

    return bpe_merges(
        docs.read_documents(spark, sf_dir), n_merges=N_BPE_MERGES
    )


def _sql_doc_bpe_merges() -> str:
    parts = [
        r"""
w AS (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
      FROM documents),
wc AS (SELECT word, count(*) AS cnt FROM w GROUP BY 1),
v0 AS (SELECT ' ' || regexp_replace(word, '(.)', '\1 ', 'g') AS w, cnt
       FROM wc)"""
    ]
    for r in range(1, N_BPE_MERGES + 1):
        parts.append(f"""
p{r} AS (
  SELECT p[1] AS a, p[2] AS b, CAST(sum(cnt) AS BIGINT) AS total
  FROM (SELECT unnest(list_zip(ss[1:len(ss) - 1], ss[2:len(ss)])) AS p, cnt
        FROM (SELECT list_filter(string_split(w, ' '), x -> x <> '') AS ss,
                     cnt
              FROM v{r - 1})
        WHERE len(ss) >= 2)
  GROUP BY 1, 2
),
b{r} AS (
  SELECT CAST({r} AS BIGINT) AS round, a, b, total
  FROM p{r} ORDER BY total DESC, a, b LIMIT 1
)""")
        if r < N_BPE_MERGES:
            # greedy left-fold rewrite (mirror of the Spark aggregate):
            # state is 'out<US>cur' in one string, US = chr(31)
            parts.append(f"""
v{r} AS (
  SELECT fs[1] || CASE WHEN fs[2] = '' THEN '' ELSE ' ' || fs[2] END || ' '
           AS w, cnt
  FROM (
    SELECT string_split(
      list_reduce(
        [chr(31)] || list_filter(string_split(v.w, ' '), x -> x <> ''),
        (acc, x) -> CASE
          WHEN split_part(acc, chr(31), 2) = b.a AND x = b.b
            THEN split_part(acc, chr(31), 1) || ' ' || b.a || b.b || chr(31)
          WHEN split_part(acc, chr(31), 2) = ''
            THEN split_part(acc, chr(31), 1) || chr(31) || x
          ELSE split_part(acc, chr(31), 1) || ' '
               || split_part(acc, chr(31), 2) || chr(31) || x
        END), chr(31)) AS fs, v.cnt AS cnt
    FROM v{r - 1} v CROSS JOIN b{r} b
  )
)""")
    union = " UNION ALL ".join(
        f"SELECT * FROM b{r}" for r in range(1, N_BPE_MERGES + 1)
    )
    return (
        "WITH " + ",".join(p.strip() for p in parts)
        + f"""
SELECT round, a AS lhs, b AS rhs, total FROM ({union})"""
    )


def q_doc_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distinct-token cardinality via an engine-neutral
    HyperLogLog (operators/sketches.py): md5-hash map, 256 max-registers
    per source (partial-agg friendly, mergeable), exact-integer harmonic
    sum, one final float64 division. The exact count rides along for
    audit; at 100 TB only the registers move."""
    from ..operators import sketches

    d = docs_mod.read_documents(spark, sf_dir)
    toks = d.select(
        "source",
        F.explode(
            F.expr(f"regexp_extract_all(lower(text), '{docs_mod.WORD}', 0)")
        ).alias("tok"),
    )
    return sketches.hll_distinct(toks)


def _sql_doc_hll_distinct() -> str:
    from ..operators.sketches import HLL_M, RHO_MAX

    alpha = f"(0.7213e0 / (1 + 1.079e0 / {HLL_M}))"
    shift = f"(CAST(1 AS BIGINT) << {RHO_MAX})"
    return f"""
WITH toks AS (
  SELECT source, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
  FROM documents
),
hashed AS (
  SELECT source AS g,
         CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS h
  FROM toks
),
parts AS (SELECT g, h % {HLL_M} AS bucket, h // {HLL_M} AS w FROM hashed),
regs AS (
  SELECT g, bucket,
         max(CASE WHEN w = 0 THEN {RHO_MAX}
             ELSE {RHO_MAX} - length(bin(w)) END) AS M
  FROM parts GROUP BY 1, 2
),
perg AS (
  SELECT g,
         CAST(sum(CAST(1 AS BIGINT) << ({RHO_MAX} - M)) AS BIGINT) AS s_present,
         count(*) AS n_present,
         sum(CASE WHEN M = 0 THEN 1 ELSE 0 END) AS zero_present
  FROM regs GROUP BY 1
),
withraw AS (
  SELECT g,
         CAST(zero_present + ({HLL_M} - n_present) AS BIGINT) AS zeros,
         {alpha} * {HLL_M} * {HLL_M} * CAST({shift} AS DOUBLE)
           / CAST(s_present + ({HLL_M} - n_present) * {shift} AS DOUBLE) AS raw
  FROM perg
),
est AS (
  SELECT g, zeros,
         CAST(CASE WHEN raw <= 2.5e0 * {HLL_M} AND zeros > 0
              THEN floor({HLL_M} * ln({HLL_M} / CAST(zeros AS DOUBLE)))
              ELSE floor(raw) END AS BIGINT) AS hll_q
  FROM withraw
),
exact AS (
  SELECT source AS g, CAST(count(DISTINCT tok) AS BIGINT) AS exact_distinct
  FROM toks GROUP BY 1
)
SELECT e.g AS source, e.zeros, e.hll_q, x.exact_distinct
FROM est e JOIN exact x ON x.g = e.g"""


def q_doc_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Topic clustering over the embedding corpus — deterministic k-means
    (the exact-integer trainer of the IVF path) assigning every vector to
    a cell, with cluster sizes. This is the cluster stage of
    cluster-balanced curation / SemDeDup-style semantic dedup: downstream
    samples per-cluster or prunes within clusters. Scale: training
    touches the corpus n_iter+1 times but shuffles only n_cells sum
    vectors; assignment is one broadcast of the centroid table."""
    emb = ann.read_embeddings(spark, sf_dir)
    cand = emb.select(F.col("vec_id").alias("c_id"), F.expr(_QZ).alias("emb"))
    cents = ann.train_centroids(cand, n_cells=IVF_CELLS, n_iter=IVF_ITERS)
    asg = ann.assign_cells(cand, cents)
    sizes = asg.groupBy("cell_id").agg(F.count(F.lit(1)).alias("n"))
    return asg.join(sizes, "cell_id").select(
        F.col("c_id").cast("long").alias("vec_id"),
        F.col("cell_id").cast("long").alias("cell_id"),
        F.col("n").cast("long").alias("cluster_size"),
    )


def _sql_doc_clusters() -> str:
    parts = [f"cand AS (SELECT vec_id AS c_id, {_DUCK_QZ} AS emb FROM embeddings)"]
    km_parts, last_asg, _ = _kmeans_sql_parts(IVF_CELLS, IVF_ITERS)
    parts += km_parts
    parts.append(
        f"sizes AS (SELECT cell_id, count(*) AS n FROM {last_asg} GROUP BY 1)"
    )
    return (
        "WITH " + ",".join(p.strip() for p in parts)
        + f"""
SELECT a.c_id AS vec_id, CAST(a.cell_id AS BIGINT) AS cell_id,
       CAST(s.n AS BIGINT) AS cluster_size
FROM {last_asg} a JOIN sizes s USING (cell_id)"""
    )


EMBCOS_MIN_Q = 900_000  # 0.9 cosine at milli-quantization (~1e6 scale)


def q_doc_embcos_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup under the exact gate: the embeddings
    table ∪ deterministic perturbed twins (vec_id + 1_000_000, two
    coordinates nudged ±50 milli-units — the embedding analogue of
    _docs_with_near_dups), IVF-cell blocked, exact-integer verified.
    The base corpus has NO pair above 0.48 cosine, so every emitted pair
    is a planted twin caught by the blocking+verify path."""
    emb = ann.read_embeddings(spark, sf_dir)
    base = emb.select(
        F.col("vec_id").cast("long").alias("id"), F.expr(_QZ).alias("emb")
    )
    pert = base.select(
        (F.col("id") + 1_000_000).alias("id"),
        F.expr(
            "transform(emb, (x, i) -> x + CASE"
            " WHEN i = cast(id % 64 as int) THEN 50L"
            " WHEN i = cast((id * 7 + 3) % 64 as int) THEN -50L"
            " ELSE 0L END)"
        ).alias("emb"),
    )
    pairs = ann.embcos_dedup_pairs(
        base.unionByName(pert),
        n_cells=IVF_CELLS,
        min_score_q=EMBCOS_MIN_Q,
        max_cell=EMBCOS_MAX_CELL,
    )
    return pairs.select(
        "id_a", "id_b", F.col("score_q").cast("long").alias("score_q")
    )


def _sql_doc_embcos_dedup() -> str:
    parts = [f"""
base AS (SELECT CAST(vec_id AS BIGINT) AS id, {_DUCK_QZ} AS emb FROM embeddings),
pert AS (
  SELECT id + 1000000 AS id,
         list(CASE WHEN pos - 1 = id % 64 THEN v + 50
                   WHEN pos - 1 = (id * 7 + 3) % 64 THEN v - 50
                   ELSE v END ORDER BY pos) AS emb
  FROM (SELECT id, unnest(emb) AS v, generate_subscripts(emb, 1) AS pos FROM base)
  GROUP BY id
),
cand AS (SELECT id AS c_id, emb FROM base UNION ALL SELECT id AS c_id, emb FROM pert)"""]
    km_parts, last_asg, _ = _kmeans_sql_parts(IVF_CELLS, IVF_ITERS)
    parts += km_parts
    parts.append(_cell_cap_cte(last_asg))
    return (
        "WITH " + ",".join(p.strip() for p in parts)
        + f"""
SELECT a.c_id AS id_a, b.c_id AS id_b,
       CAST(list_inner_product(a.emb, b.emb) AS BIGINT) AS score_q
FROM {last_asg} a JOIN okcell USING (cell_id) JOIN {last_asg} b
  ON a.cell_id = b.cell_id AND a.c_id < b.c_id
WHERE CAST(list_inner_product(a.emb, b.emb) AS BIGINT) >= {EMBCOS_MIN_Q}"""
    )


def q_doc_embcos_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup DECISION for the EMBEDDING family (SemDeDup-style):
    verified embedding-cosine near-dup pairs close transitively
    (connected components, min-label survivor) and every affected vector
    gets a (canonical_id, keep) assignment — completing the
    pairs -> drop-list story that doc_dup_clusters provides for MinHash.
    The pair graph is tiny relative to the corpus (only planted twins
    pass the 0.9 gate), so the CC runs on the skinny edge list only."""
    from ..operators.resolve import component_map

    pairs = q_doc_embcos_dedup(spark, sf_dir)
    edges = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    comp = component_map(edges)
    return comp.select(
        F.col("id").cast("long").alias("vec_id"),
        F.col("component").cast("long").alias("canonical_id"),
        F.when(F.col("id") == F.col("component"), 1)
        .otherwise(0)
        .cast("long")
        .alias("keep"),
    )


def _sql_doc_embcos_clusters() -> str:
    base = _sql_doc_embcos_dedup()
    rounds = []
    for k in range(1, 7):  # 6 min-propagation rounds >= twin-graph diameter
        prev = f"c{k - 1}"
        rounds.append(f"""
c{k} AS MATERIALIZED (
  SELECT l.id, least(l.comp, coalesce(min(n.comp), l.comp)) AS comp
  FROM {prev} l
  LEFT JOIN e2 ON e2.a = l.id
  LEFT JOIN {prev} n ON n.id = e2.b
  GROUP BY l.id, l.comp
)""")
    return f"""
WITH pairs AS MATERIALIZED (SELECT id_a, id_b FROM ({base}) q),
e2 AS (SELECT id_a AS a, id_b AS b FROM pairs
       UNION ALL SELECT id_b, id_a FROM pairs),
v AS (SELECT DISTINCT a AS id FROM e2),
c0 AS (SELECT id, id AS comp FROM v),{",".join(rounds)}
SELECT id AS vec_id, comp AS canonical_id,
       CAST(CASE WHEN id = comp THEN 1 ELSE 0 END AS BIGINT) AS keep
FROM c6"""


SPLIT_VAL_PCT, SPLIT_TEST_PCT = 5, 5  # % of corpus per held-out split


def q_doc_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment — the LAST stage of every
    training-data pipeline: split by hash of the document identity (NOT
    by position, so the assignment is stable under corpus reshuffles /
    re-ingest), stratified per language so small strata keep their
    proportions. bucket = first 15 hex digits of md5(lang|doc_id) mod
    100 — pure projection, no shuffle, identical in any engine."""
    d = docs_mod.read_documents(spark, sf_dir)
    bucket = F.expr(
        "cast(conv(substr(md5(lang || '|' || doc_id), 1, 15), 16, 10)"
        " as bigint) % 100"
    )
    return d.withColumn("_b", bucket).select(
        "doc_id",
        "lang",
        F.col("_b").cast("long").alias("bucket"),
        F.when(F.col("_b") < SPLIT_VAL_PCT, F.lit("val"))
        .when(F.col("_b") < SPLIT_VAL_PCT + SPLIT_TEST_PCT, F.lit("test"))
        .otherwise(F.lit("train"))
        .alias("split"),
    )


def _sql_doc_split() -> str:
    return f"""
SELECT doc_id, lang, CAST(b AS BIGINT) AS bucket,
       CASE WHEN b < {SPLIT_VAL_PCT} THEN 'val'
            WHEN b < {SPLIT_VAL_PCT + SPLIT_TEST_PCT} THEN 'test'
            ELSE 'train' END AS split
FROM (
  SELECT doc_id, lang,
         ('0x' || substr(md5(lang || '|' || doc_id), 1, 15))::UBIGINT % 100 AS b
  FROM documents
)"""


def _docs_with_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ deterministic perturbed copies of the first 50 docs
    (doc_id + 1_000_000, one appended sentence) — the fixture that makes
    near-dup detection observable on an otherwise-unique corpus."""
    docs = docs_mod.read_documents(spark, sf_dir).select("doc_id", "text")
    dups = docs.where(F.col("doc_id") < 50).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" appended near duplicate marker")).alias("text"),
    )
    return docs.unionByName(dups)


_NEAR_DUP_SQL = """
SELECT doc_id, text FROM documents
UNION ALL
SELECT doc_id + 1000000 AS doc_id, text || ' appended near duplicate marker' AS text
FROM documents WHERE doc_id < 50"""


def q_doc_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs, exact-Jaccard-verified. The md5-derived
    hash family is bit-reproducible in DuckDB, so banding, bucket caps and
    verification all sit under the exact-match oracle gate."""
    from ..operators.dedup import minhash_dedup_pairs

    return minhash_dedup_pairs(_docs_with_near_dups(spark, sf_dir))


def _sql_doc_minhash_dedup() -> str:
    from ..operators.dedup import sql_minhash_pairs

    return sql_minhash_pairs(_NEAR_DUP_SQL)


def q_doc_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-estimator calibration audit: for every LSH candidate pair,
    the MinHash Jaccard ESTIMATE (matching signature positions / 64, the
    unbiased estimator the banding implicitly relies on) next to the
    EXACT shingle Jaccard, plus the signed error — all integer
    micro-units. This is the 'measure, don't guess' leg of the dedup
    stack: it quantifies how far the 64-hash sketch drifts from truth on
    the pairs the pipeline actually adjudicates. One signature join on
    the candidate list (signatures are 64 longs/doc), one skinny shingle
    join for truth — never all-pairs."""
    from ..operators.dedup import (
        N_HASHES,
        doc_shingle_rows,
        minhash_candidates,
        minhash_signatures,
    )

    docs = _docs_with_near_dups(spark, sf_dir)
    cands = minhash_candidates(docs)
    arr = minhash_signatures(docs).select(
        "doc_id",
        F.array(*[F.col(f"mh{i}") for i in range(N_HASHES)]).alias("sig"),
    )
    est = (
        cands.join(
            arr.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sa")),
            "doc_a",
        )
        .join(
            arr.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sb")),
            "doc_b",
        )
        .withColumn(
            "matches",
            F.expr(
                "aggregate(zip_with(sa, sb, (x, y) -> IF(x = y, 1L, 0L)),"
                " 0L, (s, x) -> s + x)"
            ),
        )
        .select("doc_a", "doc_b", "matches")
    )
    sh = doc_shingle_rows(docs)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    shared = (
        cands.join(sh.select(F.col("doc_id").alias("doc_a"), "shingle"), "doc_a")
        .join(sh.select(F.col("doc_id").alias("doc_b"), "shingle"), ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    return (
        est.join(shared, ["doc_a", "doc_b"], "left")
        .na.fill(0, ["shared"])
        .join(sizes.select(F.col("doc_id").alias("doc_a"),
                           F.col("n_sh").alias("na")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"),
                           F.col("n_sh").alias("nb")), "doc_b")
        .select(
            F.col("doc_a").cast("long").alias("doc_a"),
            F.col("doc_b").cast("long").alias("doc_b"),
            F.expr(f"(matches * 1000000) div {N_HASHES}").cast("long").alias("est_u"),
            F.expr("(shared * 1000000) div (na + nb - shared)")
            .cast("long").alias("jac_u"),
            (F.expr(f"(matches * 1000000) div {N_HASHES}")
             - F.expr("(shared * 1000000) div (na + nb - shared)"))
            .cast("long").alias("err_u"),
        )
    )


def _sql_doc_minhash_calibration() -> str:
    from ..operators.dedup import _A, _B, _P, LSH_ROWS, N_HASHES
    from ..operators.dedup import sql_shingles_cte

    consts = ", ".join(
        f"({i}, {int(_A[i])}, {int(_B[i])})" for i in range(N_HASHES)
    )
    return f"""
WITH {sql_shingles_cte(_NEAR_DUP_SQL).lstrip()},
hs AS (
  SELECT doc_id, ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS h FROM sh
),
consts(i, a, b) AS (VALUES {consts}),
mh AS (
  SELECT doc_id, c.i, min((c.a * (h % {_P}) + c.b) % {_P}) AS v
  FROM hs CROSS JOIN consts c GROUP BY 1, 2
),
bands AS (
  SELECT doc_id, i // {LSH_ROWS} AS band,
         string_agg(CAST(v AS VARCHAR), '|' ORDER BY i) AS bkey
  FROM mh GROUP BY 1, 2
),
ok AS (SELECT band, bkey FROM bands GROUP BY 1, 2 HAVING count(*) <= 1000),
b2 AS (SELECT bands.* FROM bands JOIN ok USING (band, bkey)),
cands AS (
  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
  FROM b2 l JOIN b2 r ON l.band = r.band AND l.bkey = r.bkey AND l.doc_id < r.doc_id
),
m AS (
  SELECT c.doc_a, c.doc_b,
         sum(CASE WHEN ma.v = mb.v THEN 1 ELSE 0 END) AS matches
  FROM cands c
  JOIN mh ma ON ma.doc_id = c.doc_a
  JOIN mh mb ON mb.doc_id = c.doc_b AND mb.i = ma.i
  GROUP BY 1, 2
),
shr AS (
  SELECT c.doc_a, c.doc_b, count(*) AS shared
  FROM cands c
  JOIN sh sa ON sa.doc_id = c.doc_a
  JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
  GROUP BY 1, 2
)
SELECT m.doc_a, m.doc_b,
       CAST((m.matches * 1000000) // {N_HASHES} AS BIGINT) AS est_u,
       CAST((coalesce(s.shared, 0) * 1000000)
         // (za.n_sh + zb.n_sh - coalesce(s.shared, 0)) AS BIGINT) AS jac_u,
       CAST((m.matches * 1000000) // {N_HASHES}
         - (coalesce(s.shared, 0) * 1000000)
           // (za.n_sh + zb.n_sh - coalesce(s.shared, 0)) AS BIGINT) AS err_u
FROM m
LEFT JOIN shr s ON s.doc_a = m.doc_a AND s.doc_b = m.doc_b
JOIN sizes za ON za.doc_id = m.doc_a
JOIN sizes zb ON zb.doc_id = m.doc_b"""


PFX_TAU_NUM, PFX_TAU_DEN = 4, 5


def q_doc_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT set-similarity self-join via prefix filtering
    (operators/dedup.prefix_filter_pairs) over the near-dup fixture:
    guaranteed-complete Jaccard >= 0.8 pairs — the deterministic
    counterpart to the probabilistic MinHash path on the same corpus."""
    from ..operators.dedup import prefix_filter_pairs

    return prefix_filter_pairs(
        _docs_with_near_dups(spark, sf_dir),
        tau_num=PFX_TAU_NUM,
        tau_den=PFX_TAU_DEN,
    )


def _sql_doc_prefix_join() -> str:
    n, d = PFX_TAU_NUM, PFX_TAU_DEN
    return f"""
WITH src AS ({_NEAR_DUP_SQL}),
dt AS (
  SELECT DISTINCT doc_id,
         unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
  FROM src
),
dfq AS (SELECT tok, count(*) AS df FROM dt GROUP BY 1),
r AS (
  SELECT t.doc_id, t.tok,
         row_number() OVER (PARTITION BY t.doc_id ORDER BY f.df, t.tok) AS rn,
         count(*) OVER (PARTITION BY t.doc_id) AS sz
  FROM dt t JOIN dfq f ON f.tok = t.tok
),
pre AS (
  SELECT doc_id, tok, sz FROM r
  WHERE rn <= sz - (({n} * sz + {d} - 1) // {d}) + 1
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.sz AS sz_a, b.sz AS sz_b
  FROM pre a JOIN pre b ON b.tok = a.tok AND b.doc_id > a.doc_id
  WHERE b.sz * {d} >= a.sz * {n} AND a.sz * {d} >= b.sz * {n}
),
inter AS (
  SELECT c.doc_a, c.doc_b, c.sz_a, c.sz_b, count(*) AS inter_sz
  FROM cand c
  JOIN dt x ON x.doc_id = c.doc_a
  JOIN dt y ON y.doc_id = c.doc_b AND y.tok = x.tok
  GROUP BY 1, 2, 3, 4
)
SELECT doc_a, doc_b, CAST(inter_sz AS BIGINT) AS inter_sz,
       CAST((1000000 * inter_sz) // (sz_a + sz_b - inter_sz) AS BIGINT)
         AS jaccard_u
FROM inter
WHERE (1000000 * inter_sz) // (sz_a + sz_b - inter_sz)
      >= (1000000 * {n}) // {d}"""


def q_doc_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup DECISION: verified MinHash near-dup pairs are closed
    transitively (connected components, min-label = canonical survivor)
    and every affected doc gets a (canonical_doc_id, keep) assignment —
    the step that turns pairwise similarity into the actual drop list a
    training-data pipeline executes. Reuses the engine's
    component_map (F16) over the pair list; at crawl scale the
    pair graph is tiny relative to the corpus (only near-dups appear)."""
    from ..operators.dedup import minhash_dedup_pairs
    from ..operators.resolve import component_map

    pairs = minhash_dedup_pairs(_docs_with_near_dups(spark, sf_dir))
    edges = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    comp = component_map(edges)
    return comp.select(
        F.col("id").cast("long").alias("doc_id"),
        F.col("component").cast("long").alias("canonical_doc_id"),
        F.when(F.col("id") == F.col("component"), 1)
        .otherwise(0)
        .cast("long")
        .alias("keep"),
    )


def _sql_doc_dup_clusters() -> str:
    from ..operators.dedup import sql_minhash_pairs

    base = sql_minhash_pairs(_NEAR_DUP_SQL)
    rounds = []
    for k in range(1, 7):  # 6 min-propagation rounds >= pair-graph diameter
        prev = f"c{k - 1}"
        rounds.append(f"""
c{k} AS MATERIALIZED (
  SELECT l.id, least(l.comp, coalesce(min(n.comp), l.comp)) AS comp
  FROM {prev} l
  LEFT JOIN e2 ON e2.a = l.id
  LEFT JOIN {prev} n ON n.id = e2.b
  GROUP BY l.id, l.comp
)""")
    return f"""
WITH pairs AS MATERIALIZED (SELECT doc_a, doc_b FROM ({base}) q),
e2 AS (SELECT doc_a AS a, doc_b AS b FROM pairs
       UNION ALL SELECT doc_b, doc_a FROM pairs),
v AS (SELECT DISTINCT a AS id FROM e2),
c0 AS (SELECT id, id AS comp FROM v),{",".join(rounds)}
SELECT id AS doc_id, comp AS canonical_doc_id,
       CAST(CASE WHEN id = comp THEN 1 ELSE 0 END AS BIGINT) AS keep
FROM c6"""


def q_doc_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs via 16-bit chunk blocking (pigeonhole) +
    full Hamming verify — oracle-gated like the MinHash path."""
    from ..operators.dedup import simhash_near_pairs

    return simhash_near_pairs(_docs_with_near_dups(spark, sf_dir), max_hamming=6)


def _sql_doc_simhash_pairs() -> str:
    from ..operators.dedup import sql_simhash_pairs

    return sql_simhash_pairs(_NEAR_DUP_SQL, max_hamming=6)


def q_doc_unigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-unigram-LM scoring (deterministic perplexity-filter
    stand-in): rare-token counts + integer-exact average token
    probability vs the corpus LM."""
    out = docs_mod.unigram_lm_scores(docs.read_documents(spark, sf_dir))
    return out.select(
        "doc_id", *[F.col(c).cast("long").alias(c) for c in out.columns[1:]]
    )


def q_doc_cluster_topics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Topic labels for the semantic clusters: top-5 distinctive terms
    per k-means cell by the integer cross-product keyness score
    (c-TF-IDF analogue) — the human-readable face of doc_clusters.
    Reuses the exact-integer IVF trainer for assignments; the term
    rollup is one (cell, token) shuffle; top-k window is partitioned
    by cell, never global."""
    emb = ann.read_embeddings(spark, sf_dir)
    cand = emb.select(F.col("vec_id").alias("c_id"), F.expr(_QZ).alias("emb"))
    cents = ann.train_centroids(cand, n_cells=IVF_CELLS, n_iter=IVF_ITERS)
    asg = ann.assign_cells(cand, cents).select(
        F.col("c_id").alias("vec_id"), "cell_id"
    )
    return docs_mod.cluster_topics(
        docs.read_documents(spark, sf_dir), asg, k=5
    )


def q_doc_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF keywords per document, integer weights, term-string
    tiebreak."""
    out = docs_mod.tfidf_terms(docs.read_documents(spark, sf_dir), k=3)
    longs = ["tf", "df", "weight_u", "rank"]
    return out.select(
        "doc_id", "term", *[F.col(c).cast("long").alias(c) for c in longs]
    )


def q_doc_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source unigram distribution-shift audit vs the global corpus
    (operators/docs.source_drift): chi-square-style drift score over the
    top-200 global terms, exact integer micro-probabilities."""
    return docs_mod.source_drift(docs.read_documents(spark, sf_dir))


def _sql_doc_source_drift() -> str:
    return f"""
WITH toks AS (
  SELECT source, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
  FROM documents
),
st AS (SELECT source, tok, count(*) AS o FROM toks GROUP BY 1, 2),
gt AS (SELECT tok, sum(o) AS g FROM st GROUP BY 1),
vocab AS (SELECT tok, g FROM gt ORDER BY g DESC, tok ASC LIMIT {docs_mod.DRIFT_VOCAB_K}),
gtot AS (SELECT sum(g) AS gt FROM vocab),
stot AS (
  SELECT s.source, sum(s.o) AS s_total
  FROM st s JOIN vocab v ON v.tok = s.tok GROUP BY 1
),
per AS (
  SELECT t.source, t.s_total, v.g, g2.gt, coalesce(s.o, 0) AS o
  FROM stot t CROSS JOIN vocab v CROSS JOIN gtot g2
  LEFT JOIN st s ON s.source = t.source AND s.tok = v.tok
),
x AS (
  SELECT source, s_total, o,
         (o * 1000000) // s_total AS po_u,
         (g * 1000000) // gt AS pg_u
  FROM per
)
SELECT source,
       CAST(max(s_total) AS BIGINT) AS n_tokens,
       CAST(sum(((po_u - pg_u) * (po_u - pg_u)) // greatest(pg_u, 1)) AS BIGINT)
         AS drift_u,
       CAST(count(CASE WHEN o = 0 THEN 1 END) AS BIGINT) AS n_missing
FROM x GROUP BY 1"""


def q_doc_substring_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-10-gram exact-substring duplication per document (Lee et al.
    2022 fixed-window form)."""
    out = docs_mod.substring_dup_stats(docs.read_documents(spark, sf_dir))
    return out.select(
        "doc_id", *[F.col(c).cast("long").alias(c) for c in out.columns[1:]]
    )


# data-mixing rates (micro-units) for the doc_mix_sample query: keep all
# English, half of the mid-resource languages, a quarter of zh
MIX_RATES_U = {"en": 1_000_000, "de": 500_000, "fr": 500_000, "es": 500_000,
               "zh": 250_000}
DECON_MOD = 7  # deterministic stand-in benchmark set: doc_id % 7 == 0
DECON_K = 8


def q_doc_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (GPT-3 appendix-C style word-8-gram
    overlap vs an eval set). The benchmark here is a deterministic subset
    of the corpus (doc_id % 7 == 0) standing in for a real eval suite;
    in production it is the actual benchmark table, broadcast."""
    d = docs.read_documents(spark, sf_dir)
    return docs_mod.decontaminate(
        d, d.where(F.col("doc_id") % DECON_MOD == 0), k=DECON_K
    )


def q_doc_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified data-mixing sample: deterministic md5-hash keep/drop per
    language stratum (keep-all en, 50% de/fr/es, 25% zh) — one shuffle-free
    codegen projection; emits the decision for every doc for auditing."""
    return docs_mod.mix_sample(docs.read_documents(spark, sf_dir), MIX_RATES_U)


def q_doc_lm_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail split: per-language exact LM-score terciles
    (histogram-CDF plan), bucket label per doc."""
    return docs_mod.lm_buckets(docs.read_documents(spark, sf_dir))


def q_doc_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-training inner loop: corpus-weighted adjacent-symbol-pair
    counts over the vocab-sized word-frequency table (rank-1 = the next
    merge)."""
    return docs_mod.bpe_pair_counts(docs.read_documents(spark, sf_dir))


def q_doc_rag_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunk spans (RAG / training-window export): 64-token
    chunks every 48 tokens, last chunk clipped; span table only —
    shuffle-free explode."""
    from ..operators.docs import rag_chunks

    return rag_chunks(docs.read_documents(spark, sf_dir))


def q_doc_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM perplexity-filter scoring with a held-out split (LM from
    even doc_ids, scored over all — unseen-bigram smoothing exercised)."""
    from ..operators.docs import bigram_lm_scores

    return bigram_lm_scores(docs.read_documents(spark, sf_dir))


def q_doc_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style hashed-unigram importance weights against the English
    slice as the target distribution (integer-quantized log-ratio
    stand-in; Xie et al. 2023)."""
    from ..operators.docs import dsir_weights

    return dsir_weights(docs.read_documents(spark, sf_dir))


def q_doc_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS) local-fingerprint near-dup pairs: shared
    window-minimum gram hashes with the winnow-set Jaccard (guaranteed
    detection of shared runs >= w+k-1 tokens at ~2/(w+1) storage)."""
    return docs_mod.winnow_pairs(docs.read_documents(spark, sf_dir))


def q_doc_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation audit: keep + first-failing-stage reason per
    doc (dedup -> Gopher -> language agreement -> stratified mixing)."""
    return docs_mod.curation_decision(docs.read_documents(spark, sf_dir), MIX_RATES_U)


def q_doc_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style sequence packing: concat docs (doc_id order, +1 EOS each)
    into 2048-token blocks; per doc its stream offset and block span,
    via a distributed two-level prefix sum (never one global window over
    the corpus)."""
    return docs_mod.pack_blocks(docs.read_documents(spark, sf_dir), 2048)


def q_doc_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained bag-of-words quality classifier: add-1-smoothed
    P(keep | token) weights learned on the Gopher-labeled train split
    (same md5 hash buckets as doc_split, val/test held out), every doc
    scored with them in integer micro-units."""
    return docs_mod.quality_classifier(
        docs.read_documents(spark, sf_dir),
        holdout_pct=SPLIT_VAL_PCT + SPLIT_TEST_PCT,
    )


def q_doc_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary head: top 50 terms by frequency with rank — the
    Zipf sanity table a curation run eyeballs. Explode shuffles once on
    the term key (map-side combined); ranking is a TakeOrderedAndProject
    top-50 plus a 50-row collect_list — never a window over the
    vocabulary."""
    d = docs.read_documents(spark, sf_dir)
    terms = d.select(
        F.explode(F.expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")).alias(
            "term"
        )
    )
    counts = terms.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
    # TakeOrderedAndProject top-50, then rank the 50 survivors in one
    # bounded collect_list — no global single-partition window over the
    # vocabulary
    top = counts.orderBy(F.col("cnt").desc(), "term").limit(50)
    return (
        top.agg(
            F.expr("array_sort(collect_list(struct(-cnt AS nc, term, cnt)))").alias(
                "s"
            )
        )
        .select(F.posexplode("s").alias("i", "x"))
        .select(
            F.col("x.term").alias("term"),
            F.col("x.cnt").cast("long").alias("cnt"),
            (F.col("i") + 1).cast("long").alias("rank"),
        )
    )


def _domain_url_cases() -> tuple[str, str]:
    """Shared url-fixture expressions (Spark dialect, DuckDB dialect):
    deterministic subdomain / TLD / tracking-suffix variation keyed on
    doc_id so registrable-domain extraction has real work to do."""
    sub = (
        "CASE WHEN doc_id % 3 = 0 THEN 'www.' "
        "WHEN doc_id % 3 = 1 THEN 'news.' ELSE '' END"
    )
    tld = "CASE WHEN doc_id % 5 = 0 THEN '.co.uk' ELSE '.com' END"
    q = "CASE WHEN doc_id % 2 = 1 THEN '?ref=rss' ELSE '' END"
    spark = (
        f"concat('https://', {sub}, source, '-', lang, {tld}, '/p/', "
        f"cast(doc_id as string), {q})"
    )
    duck = (
        f"concat('https://', {sub}, source, '-', lang, {tld}, '/p/', "
        f"CAST(doc_id AS VARCHAR), {q})"
    )
    return spark, duck


def q_doc_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-registrable-domain curation rollup (operators/urls.
    domain_stats) — the domain-reputation table (C4/RefinedWeb filter
    whole domains first): page count, languages, tokens, corpus-wide
    exact-dup pages, Gopher-keep pages. Fixture: every document gets a
    deterministic url (subdomain/TLD/tracking variation, co.uk public
    suffixes included) plus a cross-domain .net mirror of the first 40
    docs — the mirrors AND their originals must both count as dups."""
    from ..operators import urls as urls_mod

    d = docs_mod.read_documents(spark, sf_dir).select(
        "doc_id", "lang", "text", "source"
    )
    url_s, _ = _domain_url_cases()
    base = d.select(
        "doc_id", "lang", "text", F.expr(url_s).alias("url")
    )
    mirror = d.where("doc_id < 40").select(
        (F.col("doc_id") + 9_000_000).cast("long").alias("doc_id"),
        "lang",
        "text",
        F.expr(
            "concat('https://mirror.', source, '-', lang, '.net/p/',"
            " cast(doc_id as string))"
        ).alias("url"),
    )
    return urls_mod.domain_stats(base.unionByName(mirror))


def _sql_doc_domain_stats() -> str:
    from ..operators.urls import _domain_sql

    _, url_d = _domain_url_cases()
    gopher_d = _sql_doc_gopher().replace("FROM documents", "FROM d")
    return rf"""
WITH d AS (
  SELECT doc_id, lang, text, {url_d} AS url FROM documents
  UNION ALL
  SELECT doc_id + 9000000, lang, text,
         concat('https://mirror.', source, '-', lang, '.net/p/',
                CAST(doc_id AS VARCHAR))
  FROM documents WHERE doc_id < 40
),
dom AS (
  SELECT doc_id, lang, {_domain_sql(duck=True)} AS domain,
         len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_tokens
  FROM d
),
fp AS (
  SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
           AS fingerprint
  FROM d
),
fpc AS (SELECT fingerprint, count(*) AS n_same FROM fp GROUP BY 1),
dup AS (
  SELECT fp.doc_id, CASE WHEN n_same > 1 THEN 1 ELSE 0 END AS is_dup
  FROM fp JOIN fpc USING (fingerprint)
),
g AS (SELECT doc_id, keep FROM ({gopher_d}))
SELECT dom.domain,
       count(*) AS n_docs,
       CAST(count(DISTINCT dom.lang) AS BIGINT) AS n_langs,
       CAST(sum(dom.n_tokens) AS BIGINT) AS n_tokens,
       CAST(sum(dup.is_dup) AS BIGINT) AS n_dup_docs,
       CAST(sum(g.keep) AS BIGINT) AS n_gopher_keep
FROM dom
JOIN dup ON dup.doc_id = dom.doc_id
JOIN g ON g.doc_id = dom.doc_id
GROUP BY 1"""


def q_doc_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix (classifier QA): predicted vs
    declared language with per-declared-language recall in micro-units —
    the eval table a curation pipeline reads before trusting lang_id
    for mixing/filtering decisions."""
    out = docs.lang_id(docs.read_documents(spark, sf_dir)).select(
        "lang_declared", "lang_guess"
    )
    cm = out.groupBy("lang_declared", "lang_guess").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    tot = cm.groupBy("lang_declared").agg(F.sum("n_docs").alias("n_true"))
    return cm.join(tot, "lang_declared").select(
        "lang_declared",
        "lang_guess",
        "n_docs",
        F.expr("(n_docs * 1000000L) div n_true").cast("long").alias("recall_u"),
    )


def _sql_doc_lang_confusion() -> str:
    return f"""
WITH p AS (SELECT * FROM ({_sql_doc_langid()})),
cm AS (
  SELECT lang_declared, lang_guess, count(*) AS n_docs
  FROM p GROUP BY 1, 2
),
tot AS (SELECT lang_declared, sum(n_docs) AS n_true FROM cm GROUP BY 1)
SELECT cm.lang_declared, cm.lang_guess,
       CAST(cm.n_docs AS BIGINT) AS n_docs,
       CAST((cm.n_docs * 1000000) // t.n_true AS BIGINT) AS recall_u
FROM cm JOIN tot t USING (lang_declared)"""


CLF_EVAL_SUFFIX = (
    " the data have to be part of the scan and that with merge"
)


def _clf_eval_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval corpus for the classifier confusion gate: the raw documents
    (all Gopher-drop — too short, stopword-poor) plus a keep-class
    variant of every even doc_id (4x stopword-rich suffix pushes it past
    the word-count and distinct-stopword rules). Mixed labels make the
    held-out confusion matrix non-degenerate; the DuckDB oracle builds
    the identical corpus from the same constant."""
    base = docs.read_documents(spark, sf_dir).select(
        "doc_id", "lang", "source", "text", "n_chars"
    )
    aug = base.where("doc_id % 2 = 0").select(
        (F.col("doc_id") + 5_000_000).cast("long").alias("doc_id"),
        "lang",
        "source",
        F.expr(f"text || repeat('{CLF_EVAL_SUFFIX}', 4)").alias("text"),
        "n_chars",
    )
    return base.unionByName(aug)


def q_doc_clf_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out confusion matrix of the trained quality classifier
    (label = Gopher keep, pred = score >= 0.5): evaluated ONLY on the
    val/test hash buckets the trainer never saw — the honest
    generalization check, per (label, pred) cell with the cell's share
    of the held-out set in micro-units. Runs on the mixed-label eval
    corpus (see _clf_eval_corpus)."""
    holdout = SPLIT_VAL_PCT + SPLIT_TEST_PCT
    corpus_df = _clf_eval_corpus(spark, sf_dir)
    scored = docs_mod.quality_classifier(corpus_df, holdout_pct=holdout)
    held = (
        corpus_df.select(
            "doc_id",
            F.expr(
                "cast(conv(substr(md5(lang || '|' || doc_id), 1, 15),"
                " 16, 10) as bigint) % 100"
            ).alias("b"),
        )
        .where(F.col("b") < holdout)
        .select("doc_id")
    )
    cells = (
        scored.join(held, "doc_id")
        .groupBy("label", "pred")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )
    tot = cells.select(F.sum("n_docs").alias("n_held"))
    return cells.crossJoin(tot).select(
        F.col("label").cast("long").alias("label"),
        F.col("pred").cast("long").alias("pred"),
        "n_docs",
        F.expr("(n_docs * 1000000L) div n_held").cast("long").alias("share_u"),
    )


def _sql_doc_clf_eval() -> str:
    holdout = SPLIT_VAL_PCT + SPLIT_TEST_PCT
    clf_d = _sql_doc_quality_classifier().replace("FROM documents", "FROM d")
    return f"""
WITH d AS (
  SELECT doc_id, lang, source, text, n_chars FROM documents
  UNION ALL
  SELECT doc_id + 5000000, lang, source,
         text || repeat('{CLF_EVAL_SUFFIX}', 4), n_chars
  FROM documents WHERE doc_id % 2 = 0
),
scored AS (SELECT * FROM ({clf_d})),
held AS (
  SELECT doc_id FROM (
    SELECT doc_id,
           ('0x' || substr(md5(lang || '|' || doc_id), 1, 15))::UBIGINT % 100
             AS b
    FROM d
  ) WHERE b < {holdout}
),
cells AS (
  SELECT s.label, s.pred, count(*) AS n_docs
  FROM scored s JOIN held USING (doc_id)
  GROUP BY 1, 2
),
tot AS (SELECT sum(n_docs) AS n_held FROM cells)
SELECT CAST(label AS BIGINT) AS label, CAST(pred AS BIGINT) AS pred,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST((n_docs * 1000000) // t.n_held AS BIGINT) AS share_u
FROM cells, tot t"""


def q_doc_c4_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 curation sweep (terminal-punct + >=5-word line rules, >=3
    kept lines, >=5 sentences, no code braces) over the cleaned pages."""
    from ..operators.docs import c4_page_filters
    from ..operators.episodes import clean_pages
    from ..sources.pages import build_pages

    return c4_page_filters(
        clean_pages(build_pages(spark, sf_dir, with_html=False))
    )


def _sql_doc_para_dedup() -> str:
    ctes = corpus.sql_pages_cte()
    return (
        "WITH "
        + ctes.lstrip()
        + """,
paras AS (
  SELECT url,
         unnest(string_split(clean_text, chr(10) || chr(10))) AS para,
         generate_subscripts(string_split(clean_text, chr(10) || chr(10)), 1) AS pos
  FROM pages_g
),
pe AS (SELECT url, pos, para, md5(para) AS ph FROM paras WHERE length(para) > 0),
boiler AS (SELECT ph FROM pe GROUP BY ph HAVING count(DISTINCT url) >= 2),
flagged AS (
  SELECT pe.*, (b.ph IS NOT NULL) AS is_boiler
  FROM pe LEFT JOIN boiler b USING (ph)
)
SELECT url, count(*) AS n_paras,
       CAST(sum(CASE WHEN is_boiler THEN 0 ELSE 1 END) AS BIGINT) AS n_kept,
       md5(coalesce(string_agg(para, chr(10) || chr(10) ORDER BY pos)
                      FILTER (WHERE NOT is_boiler), '')) AS kept_md5
FROM flagged GROUP BY url"""
    )


_PII_EMAIL_SQL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_PHONE_SQL = r"\b555-[0-9]{3}-[0-9]{4}\b"
_PII_IP_SQL = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"


def _sql_doc_pii() -> str:
    return f"""
WITH aug AS (
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 3 = 0
                 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com today'
                 ELSE '' END
         || CASE WHEN doc_id % 5 = 0
                 THEN ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                      || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                 ELSE '' END
         || CASE WHEN doc_id % 7 = 0
                 THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                      || '.' || CAST(doc_id % 254 + 1 AS VARCHAR)
                 ELSE '' END AS text
  FROM documents
)
SELECT doc_id,
       len(regexp_extract_all(text, '{_PII_EMAIL_SQL}')) AS n_emails,
       len(regexp_extract_all(text, '{_PII_PHONE_SQL}')) AS n_phones,
       len(regexp_extract_all(regexp_replace(text, '{_PII_EMAIL_SQL}', '<EMAIL>', 'g'),
                              '{_PII_IP_SQL}')) AS n_ips,
       md5(regexp_replace(regexp_replace(regexp_replace(
             text, '{_PII_EMAIL_SQL}', '<EMAIL>', 'g'),
             '{_PII_PHONE_SQL}', '<PHONE>', 'g'),
             '{_PII_IP_SQL}', '<IP>', 'g')) AS redacted_md5
FROM aug"""


_BPE_SQL = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

_EN_SQL = r"\b(the|and|of|is|in|to|a|for|on|with)\b"


def _sql_doc_tokens() -> str:
    return rf"""
SELECT doc_id, length(text) AS n_chars,
       len(regexp_extract_all(text, '\S+')) AS n_ws_tokens,
       len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_words,
       len(regexp_extract_all(text, '{_BPE_SQL}')) AS n_bpe_tokens,
       len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS n_punct
FROM documents"""


def _sql_doc_length_deciles() -> str:
    return r"""
WITH toks AS (
  SELECT lang, len(regexp_extract_all(text, '\S+')) AS n FROM documents
),
hist AS (SELECT lang, n, count(*) AS cnt FROM toks GROUP BY 1, 2),
cdf AS (
  SELECT lang, n,
         sum(cnt) OVER (PARTITION BY lang ORDER BY n
                        ROWS UNBOUNDED PRECEDING) AS cum
  FROM hist
),
tot AS (SELECT lang, sum(cnt) AS total FROM hist GROUP BY 1),
dec AS (
  SELECT lang, total, unnest(generate_series(1, 10)) AS decile FROM tot
)
SELECT d.lang, CAST(d.decile AS BIGINT) AS decile,
       CAST(min(c.n) AS BIGINT) AS threshold_tokens,
       CAST(d.total AS BIGINT) AS n_docs
FROM dec d JOIN cdf c ON c.lang = d.lang AND c.cum * 10 >= d.decile * d.total
GROUP BY 1, 2, 4"""


def _sql_doc_stats_rollup() -> str:
    return r"""
SELECT lang, source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(len(regexp_extract_all(text, '\S+'))) AS BIGINT) AS total_tokens,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       CAST(min(len(regexp_extract_all(text, '\S+'))) AS BIGINT) AS min_tokens,
       CAST(max(len(regexp_extract_all(text, '\S+'))) AS BIGINT) AS max_tokens
FROM documents
GROUP BY ROLLUP (lang, source)"""


def _sql_doc_quality() -> str:
    return rf"""
WITH base AS (
  SELECT doc_id,
         len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_words,
         len(regexp_extract_all(lower(text), '[a-z0-9]')) AS n_word_chars,
         len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS n_punct,
         len(regexp_extract_all(lower(text), '{_EN_SQL}')) AS n_stop,
         length(text) AS n_chars
  FROM documents
),
scored AS (
  SELECT doc_id, n_words,
         (n_stop * 1000000) // greatest(n_words, 1) AS stop_ratio_u,
         (n_punct * 1000000) // greatest(n_chars, 1) AS punct_ratio_u,
         (n_word_chars * 1000000) // greatest(n_words, 1) AS mean_word_len_u
  FROM base
)
SELECT *,
       ((least(n_words, 400) * 1000000) // 400) // 2
         + (1000000 - punct_ratio_u) // 2 AS quality_u
FROM scored"""


def _sql_doc_langid() -> str:
    # generated from the same LANG_TRIGRAMS table as the Spark scorer
    from ..operators.docs import sql_lang_id_cte

    return sql_lang_id_cte()


_GOPHER_STOPS_SQL = " + ".join(
    rf"(CASE WHEN regexp_matches(lower(text), '\b{w}\b') THEN 1 ELSE 0 END)"
    for w in ("the", "be", "to", "of", "and", "that", "have", "with")
)


def _sql_doc_gopher() -> str:
    return rf"""
WITH base AS (
  SELECT doc_id,
         len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_words,
         len(regexp_extract_all(lower(text), '[a-z0-9]')) AS n_word_chars,
         len(regexp_extract_all(lower(text), '[0-9]*[a-z][a-z0-9]*')) AS n_alpha_words,
         len(regexp_extract_all(text, '#|\.\.\.|…')) AS n_symbols,
         {_GOPHER_STOPS_SQL} AS stop_distinct
  FROM documents
),
sig AS (
  SELECT doc_id, n_words,
         (n_word_chars * 1000000) // greatest(n_words, 1) AS mean_word_len_u,
         (n_alpha_words * 1000000) // greatest(n_words, 1) AS frac_alpha_words_u,
         (n_symbols * 1000000) // greatest(n_words, 1) AS symbol_ratio_u,
         stop_distinct
  FROM base
),
flagged AS (
  SELECT *,
         CASE WHEN n_words BETWEEN 50 AND 100000 THEN 1 ELSE 0 END AS r_word_count,
         CASE WHEN mean_word_len_u BETWEEN 3000000 AND 10000000 THEN 1 ELSE 0 END AS r_mean_word_len,
         CASE WHEN symbol_ratio_u <= 100000 THEN 1 ELSE 0 END AS r_symbol,
         CASE WHEN frac_alpha_words_u >= 800000 THEN 1 ELSE 0 END AS r_alpha,
         CASE WHEN stop_distinct >= 2 THEN 1 ELSE 0 END AS r_stop
  FROM sig
)
SELECT *, r_word_count * r_mean_word_len * r_symbol * r_alpha * r_stop AS keep
FROM flagged"""


def _sql_doc_repetition() -> str:
    return """
WITH tok AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks FROM documents
),
base AS (
  SELECT doc_id, len(toks) AS n_words, len(list_distinct(toks)) AS n_distinct_words, toks
  FROM tok
),
grams AS (
  SELECT doc_id,
         unnest(list_transform(range(1, greatest(len(toks) - 1, 0) + 1),
                i -> array_to_string(list_slice(toks, i, i + 1), ' '))) AS gram
  FROM base
),
counts AS (SELECT doc_id, gram, count(*) AS n FROM grams GROUP BY 1, 2),
top AS (
  SELECT doc_id, gram AS top_bigram, n AS top_bigram_n FROM (
    SELECT doc_id, gram, n,
           row_number() OVER (PARTITION BY doc_id ORDER BY n DESC, gram) AS rn
    FROM counts
  ) WHERE rn = 1
)
SELECT b.doc_id, b.n_words, b.n_distinct_words,
       ((b.n_words - b.n_distinct_words) * 1000000) // greatest(b.n_words, 1) AS dup_word_frac_u,
       coalesce(t.top_bigram, '') AS top_bigram,
       coalesce(t.top_bigram_n, 0) AS top_bigram_n,
       (coalesce(t.top_bigram_n, 0) * 1000000) // greatest(b.n_words - 1, 1) AS top_bigram_frac_u
FROM base b LEFT JOIN top t USING (doc_id)"""


_NORM_SQL = r"trim(regexp_replace(lower(text), '\s+', ' ', 'g'))"


def _sql_doc_fingerprint() -> str:
    return f"""
SELECT doc_id, md5({_NORM_SQL}) AS fingerprint, length({_NORM_SQL}) AS n_norm_chars
FROM documents"""


def _sql_doc_dedup_exact() -> str:
    return f"""
SELECT md5({_NORM_SQL}) AS fingerprint, count(*) AS n_docs, min(doc_id) AS canonical_doc_id
FROM documents GROUP BY 1"""


def _sql_doc_ngram_pairs() -> str:
    return f"""
WITH tok AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks FROM documents
),
sh AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           range(1, greatest(len(toks) - {docs_mod.NEAR_DUP_N - 1}, 0) + 1),
           i -> array_to_string(list_slice(toks, i, i + {docs_mod.NEAR_DUP_N - 1}), ' ')))) AS shingle
  FROM tok
),
ok AS (SELECT shingle FROM sh GROUP BY shingle
       HAVING count(*) <= (SELECT greatest(2, CAST(floor(count(DISTINCT doc_id) * {docs_mod.NEAR_DUP_MAX_DF_FRAC}) AS BIGINT))
                           FROM documents)),
sh2 AS (SELECT sh.* FROM sh JOIN ok USING (shingle)),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh2 GROUP BY 1),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
  FROM sh2 a JOIN sh2 b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT s.doc_a, s.doc_b, s.shared,
       (s.shared * 1000000) // (sa.n_sh + sb.n_sh - s.shared) AS jaccard_u
FROM shared s
JOIN sizes sa ON sa.doc_id = s.doc_a
JOIN sizes sb ON sb.doc_id = s.doc_b
ORDER BY jaccard_u DESC, s.doc_a, s.doc_b
LIMIT {docs_mod.NEAR_DUP_TOP}"""


def _sql_doc_unigram_lm() -> str:
    return """
WITH toks AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
  FROM documents
),
dt AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
lm AS (SELECT tok, sum(tf) AS cf FROM dt GROUP BY 1),
tot AS (SELECT sum(cf) AS total FROM lm)
SELECT d.doc_id,
       CAST(sum(d.tf) AS BIGINT) AS n_tokens,
       count(*) AS n_distinct,
       CAST(sum(CASE WHEN l.cf <= 2 THEN d.tf ELSE 0 END) AS BIGINT) AS n_rare,
       CAST((sum(d.tf * l.cf) * 1000000) // greatest(sum(d.tf), 1) AS BIGINT) AS avg_cf_u,
       CAST(((sum(d.tf * l.cf) * 1000000) // greatest(sum(d.tf), 1)) * 1000
         // greatest(max(t.total), 1) AS BIGINT) AS lm_score_n
FROM dt d JOIN lm l USING (tok) CROSS JOIN tot t
GROUP BY 1"""


def _sql_doc_tfidf_terms() -> str:
    return """
WITH toks AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
  FROM documents
),
dt AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
dftab AS (SELECT tok, count(*) AS df FROM dt GROUP BY 1),
nd AS (SELECT count(*) AS n_docs FROM documents),
dlen AS (SELECT doc_id, sum(tf) AS n_doc_tokens FROM dt GROUP BY 1),
scored AS (
  SELECT d.doc_id, d.tok, d.tf, f.df,
         (n.n_docs * 1000000) // f.df AS idf_u,
         (d.tf * ((n.n_docs * 1000000) // f.df)) // l.n_doc_tokens AS weight_u
  FROM dt d JOIN dftab f USING (tok) JOIN dlen l USING (doc_id) CROSS JOIN nd n
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY doc_id ORDER BY weight_u DESC, tok
  ) AS rank FROM scored
)
SELECT doc_id, tok AS term, tf, df, CAST(weight_u AS BIGINT) AS weight_u, rank
FROM ranked WHERE rank <= 3"""


def _sql_doc_cluster_topics() -> str:
    parts = [f"cand AS (SELECT vec_id AS c_id, {_DUCK_QZ} AS emb FROM embeddings)"]
    km_parts, last_asg, _ = _kmeans_sql_parts(IVF_CELLS, IVF_ITERS)
    parts += km_parts
    parts += [
        """toks AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
  FROM documents
)""",
        "dt AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2)",
        f"asg AS (SELECT c_id AS doc_id, cell_id FROM {last_asg})",
        """ct AS (
  SELECT a.cell_id, d.tok, sum(d.tf) AS tf_c
  FROM dt d JOIN asg a USING (doc_id) GROUP BY 1, 2
)""",
        "ca AS (SELECT tok, sum(tf_c) AS tf_all FROM ct GROUP BY 1)",
        "tc AS (SELECT cell_id, sum(tf_c) AS toks_c FROM ct GROUP BY 1)",
        "tt AS (SELECT sum(tf_c) AS toks_total FROM ct)",
        """scored AS (
  SELECT c.cell_id, c.tok, c.tf_c,
         c.tf_c * t.toks_total - a.tf_all * x.toks_c AS lift_u
  FROM ct c JOIN ca a USING (tok) JOIN tc x USING (cell_id) CROSS JOIN tt t
)""",
        """ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY cell_id ORDER BY lift_u DESC, tok
  ) AS rank FROM scored
)""",
    ]
    return (
        "WITH " + ",".join(p.strip() for p in parts)
        + """
SELECT CAST(cell_id AS BIGINT) AS cell_id, tok AS term,
       CAST(tf_c AS BIGINT) AS tf_c, CAST(lift_u AS BIGINT) AS lift_u,
       CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 5"""
    )


def _sql_doc_substring_dup() -> str:
    return f"""
WITH toks AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
  FROM documents
),
grams AS (
  SELECT DISTINCT doc_id,
         md5(array_to_string(list_slice(ws, i, i + {docs_mod.SUBSTRING_K - 1}), ' ')) AS gh
  FROM toks, unnest(range(1, greatest(len(ws) - {docs_mod.SUBSTRING_K - 1}, 0) + 1)) AS t(i)
),
freq AS (SELECT gh, count(DISTINCT doc_id) AS n_docs FROM grams GROUP BY 1),
per_doc AS (
  SELECT g.doc_id, count(*) AS n_grams,
         CAST(sum(CASE WHEN f.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_grams
  FROM grams g JOIN freq f USING (gh) GROUP BY 1
)
SELECT d.doc_id,
       coalesce(p.n_grams, 0) AS n_grams,
       coalesce(p.n_dup_grams, 0) AS n_dup_grams,
       CAST(coalesce(p.n_dup_grams, 0) * 1000000
         // greatest(coalesce(p.n_grams, 0), 1) AS BIGINT) AS dup_frac_u
FROM documents d LEFT JOIN per_doc p USING (doc_id)"""


def _sql_doc_decontaminate() -> str:
    k, mod = DECON_K, DECON_MOD
    return f"""
WITH toks AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
  FROM documents
),
grams AS (
  SELECT DISTINCT doc_id,
         md5(array_to_string(list_slice(ws, i, i + {k - 1}), ' ')) AS gh
  FROM toks, unnest(range(1, greatest(len(ws) - {k - 1}, 0) + 1)) AS t(i)
),
bg AS (SELECT DISTINCT gh FROM grams WHERE doc_id % {mod} = 0),
per_doc AS (
  SELECT g.doc_id, count(*) AS n_grams,
         CAST(sum(CASE WHEN b.gh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
  FROM grams g LEFT JOIN bg b USING (gh)
  WHERE g.doc_id % {mod} <> 0
  GROUP BY 1
)
SELECT d.doc_id,
       coalesce(p.n_grams, 0) AS n_grams,
       coalesce(p.n_hit, 0) AS n_hit_grams,
       CAST(CASE WHEN coalesce(p.n_hit, 0) > 0 THEN 1 ELSE 0 END AS BIGINT)
         AS contaminated
FROM (SELECT doc_id FROM documents WHERE doc_id % {mod} <> 0) d
LEFT JOIN per_doc p USING (doc_id)"""


def _sql_doc_mix_sample() -> str:
    branches = " ".join(
        f"WHEN '{s}' THEN {r}" for s, r in sorted(MIX_RATES_U.items())
    )
    hash_u = (
        "('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT"
        " % 1000000"
    )
    return f"""
SELECT doc_id, lang AS stratum,
       CAST({hash_u} AS BIGINT) AS hash_u,
       CAST(CASE WHEN {hash_u} <
         (CASE lang {branches} ELSE {docs_mod.MIX_DEFAULT_RATE_U} END)
         THEN 1 ELSE 0 END AS BIGINT) AS keep
FROM documents"""


def _sql_doc_lm_buckets() -> str:
    return f"""
WITH scored AS ({_sql_doc_unigram_lm()}),
s AS (
  SELECT sc.doc_id, d.lang, sc.lm_score_n
  FROM scored sc JOIN documents d USING (doc_id)
),
hist AS (SELECT lang, lm_score_n, count(*) AS cnt FROM s GROUP BY 1, 2),
cdf AS (
  SELECT lang, lm_score_n,
         sum(cnt) OVER (PARTITION BY lang ORDER BY lm_score_n
                        ROWS UNBOUNDED PRECEDING) AS cum
  FROM hist
),
tot AS (SELECT lang, sum(cnt) AS total FROM hist GROUP BY 1),
ts AS (
  SELECT c.lang,
         min(CASE WHEN c.cum * 3 >= 1 * t.total THEN c.lm_score_n END) AS t1,
         min(CASE WHEN c.cum * 3 >= 2 * t.total THEN c.lm_score_n END) AS t2
  FROM cdf c JOIN tot t USING (lang)
  GROUP BY 1
)
SELECT s.doc_id, s.lang, CAST(s.lm_score_n AS BIGINT) AS lm_score_n,
       CASE WHEN s.lm_score_n <= ts.t1 THEN 'tail'
            WHEN s.lm_score_n <= ts.t2 THEN 'middle'
            ELSE 'head' END AS bucket
FROM s JOIN ts USING (lang)"""


def _sql_doc_bpe_pairs() -> str:
    return f"""
WITH w AS (
  SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
  FROM documents
),
wc AS (SELECT word, count(*) AS cnt FROM w GROUP BY 1),
p AS (
  SELECT unnest(list_transform(range(1, length(word)),
                i -> substring(word, i, 2))) AS pair, cnt
  FROM wc WHERE length(word) >= 2
),
agg AS (SELECT pair, sum(cnt) AS total FROM p GROUP BY 1)
SELECT pair, CAST(total AS BIGINT) AS total,
       CAST(row_number() OVER (ORDER BY total DESC, pair) AS BIGINT) AS rank
FROM agg QUALIFY rank <= {docs_mod.BPE_TOP_N}"""


def _sql_doc_winnow() -> str:
    from ..operators.docs import WINNOW_K as k, WINNOW_W as w

    return f"""
WITH tok AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
  FROM documents
),
h AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= {k} THEN
           list_transform(range(1, len(toks) - {k} + 2),
             i -> ('0x' || substr(md5(array_to_string(
                    list_slice(toks, i, i + {k - 1}), ' ')), 1, 8))::BIGINT)
         ELSE CAST([] AS BIGINT[]) END AS hashes
  FROM tok
),
fps AS (
  SELECT DISTINCT doc_id, fp FROM (
    SELECT doc_id,
           unnest(list_distinct(
             CASE WHEN len(hashes) >= {w} THEN
               list_transform(range(1, len(hashes) - {w} + 2),
                 j -> list_min(list_slice(hashes, j, j + {w - 1})))
             WHEN len(hashes) >= 1 THEN [list_min(hashes)]
             ELSE CAST([] AS BIGINT[]) END)) AS fp
    FROM h
  )
),
ok AS (
  SELECT fp FROM fps GROUP BY fp
  HAVING count(*) <= (SELECT greatest(2, count(*) * {docs_mod.WINNOW_MAX_DF_FRAC_U} // 1000000)
                      FROM documents)
),
kept AS (SELECT fps.* FROM fps JOIN ok USING (fp)),
sizes AS (SELECT doc_id, count(*) AS n_fp FROM kept GROUP BY 1),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
  FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY 1, 2 HAVING count(*) >= {docs_mod.WINNOW_MIN_SHARED}
)
SELECT s.doc_a, s.doc_b, CAST(s.shared AS BIGINT) AS shared,
       CAST((1000000 * s.shared) // (sa.n_fp + sb.n_fp - s.shared) AS BIGINT)
         AS winnow_jaccard_u
FROM shared s
JOIN sizes sa ON sa.doc_id = s.doc_a
JOIN sizes sb ON sb.doc_id = s.doc_b"""


def _sql_doc_curation() -> str:
    # the composite reuses each stage's oracle verbatim as a CTE, so the
    # audit's semantics are definitionally those of the gated stages
    return f"""
WITH fp AS ({_sql_doc_fingerprint()}),
dd AS ({_sql_doc_dedup_exact()}),
g AS (SELECT doc_id,
        {" * ".join(docs_mod.CURATION_RULES)} AS q_keep
      FROM ({_sql_doc_gopher()})),
l AS ({_sql_doc_langid()}),
m AS ({_sql_doc_mix_sample()})
SELECT d.doc_id,
       CAST(CASE WHEN d.doc_id = dd.canonical_doc_id AND g.q_keep = 1
                  AND l.lang_guess <> 'und' AND m.keep = 1
            THEN 1 ELSE 0 END AS BIGINT) AS keep,
       CASE WHEN d.doc_id <> dd.canonical_doc_id THEN 'duplicate'
            WHEN g.q_keep = 0 THEN 'quality'
            WHEN l.lang_guess = 'und' THEN 'language'
            WHEN m.keep = 0 THEN 'sampled_out'
            ELSE 'kept' END AS reason
FROM documents d
JOIN fp ON fp.doc_id = d.doc_id
JOIN dd ON dd.fingerprint = fp.fingerprint
JOIN g ON g.doc_id = d.doc_id
JOIN l ON l.doc_id = d.doc_id
JOIN m ON m.doc_id = d.doc_id"""


def _sql_doc_pack() -> str:
    return rf"""
WITH n AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(text, '{_BPE_SQL}')) + 1 AS BIGINT)
           AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, n_tokens,
         sum(n_tokens) OVER (ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens
           AS start_pos
  FROM n
)
SELECT doc_id, n_tokens,
       CAST(start_pos AS BIGINT) AS start_pos,
       CAST(start_pos // 2048 AS BIGINT) AS start_block,
       CAST((start_pos + n_tokens - 1) // 2048 AS BIGINT) AS end_block
FROM c"""


def _sql_doc_quality_classifier() -> str:
    holdout = SPLIT_VAL_PCT + SPLIT_TEST_PCT
    gopher = _sql_doc_gopher()
    return f"""
WITH labels AS (
  SELECT doc_id, CAST(keep AS BIGINT) AS label FROM ({gopher}) g
),
train AS (
  SELECT doc_id FROM (
    SELECT doc_id,
           ('0x' || substr(md5(lang || '|' || doc_id), 1, 15))::UBIGINT % 100
             AS b
    FROM documents
  ) WHERE b >= {holdout}
),
toks AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
  FROM documents
),
dt AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
cls AS (
  SELECT tok,
         sum(CASE WHEN label = 1 THEN tf ELSE 0 END) AS c1,
         sum(CASE WHEN label = 0 THEN tf ELSE 0 END) AS c0
  FROM dt JOIN train USING (doc_id) JOIN labels USING (doc_id)
  GROUP BY 1
),
w AS (SELECT tok, (c1 + 1) * 1000000 // (c1 + c0 + 2) AS w_u FROM cls),
scored AS (
  SELECT dt.doc_id, sum(tf) AS n_tokens,
         sum(tf * coalesce(w.w_u, 500000)) // sum(tf) AS score_u
  FROM dt LEFT JOIN w USING (tok) GROUP BY 1
)
SELECT l.doc_id, l.label,
       CAST(coalesce(s.n_tokens, 0) AS BIGINT) AS n_tokens,
       CAST(coalesce(s.score_u, 500000) AS BIGINT) AS score_u,
       CAST(CASE WHEN coalesce(s.score_u, 500000) >= 500000
            THEN 1 ELSE 0 END AS BIGINT) AS pred
FROM labels l LEFT JOIN scored s USING (doc_id)"""


def _sql_doc_zipf() -> str:
    return """
WITH t AS (
  SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
  FROM documents
),
c AS (SELECT term, count(*) AS cnt FROM t GROUP BY 1)
SELECT term, CAST(cnt AS BIGINT) AS cnt,
       CAST(row_number() OVER (ORDER BY cnt DESC, term) AS BIGINT) AS rank
FROM c QUALIFY rank <= 50"""


def _sql_doc_rag_chunks() -> str:
    from ..operators.docs import RAG_STRIDE, RAG_WINDOW

    w, s = RAG_WINDOW, RAG_STRIDE
    return rf"""
WITH toks AS (
  SELECT doc_id, len(regexp_extract_all(text, '\S+')) AS n_tok FROM documents
),
base AS (
  SELECT doc_id, n_tok,
         CASE WHEN n_tok <= 0 THEN 0
              ELSE 1 + (greatest(n_tok - {w}, 0) + {s - 1}) // {s} END AS n_chunks
  FROM toks
)
SELECT doc_id, CAST(u AS BIGINT) AS chunk_idx,
       CAST(u * {s} AS BIGINT) AS start_tok,
       CAST(least(u * {s} + {w}, n_tok) AS BIGINT) AS end_tok,
       CAST(n_tok AS BIGINT) AS n_tok
FROM (SELECT doc_id, n_tok, unnest(range(n_chunks)) AS u
      FROM base WHERE n_tok > 0)"""


def _sql_doc_dsir() -> str:
    from ..operators.docs import DSIR_BUCKETS

    b = DSIR_BUCKETS
    return rf"""
WITH tb AS MATERIALIZED (
  SELECT doc_id, lang,
         ('0x' || substr(md5(tok), 1, 8))::BIGINT % {b} AS bucket
  FROM (SELECT doc_id, lang,
               unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
        FROM documents)
),
tot AS (
  SELECT count(*) AS n_raw,
         sum(CASE WHEN lang = '{docs_mod.DSIR_TARGET_LANG}' THEN 1 ELSE 0 END) AS n_tgt
  FROM tb
),
lm AS MATERIALIZED (
  SELECT bucket,
         (1000000 * (1000000 * (sum(CASE WHEN lang = '{docs_mod.DSIR_TARGET_LANG}' THEN 1 ELSE 0 END) + 1)
                     // (any_value(t.n_tgt) + {b})))
         // greatest(1000000 * (count(*) + 1) // (any_value(t.n_raw) + {b}), 1)
           AS ratio_u
  FROM tb CROSS JOIN tot t GROUP BY bucket
)
SELECT tb.doc_id, CAST(count(*) AS BIGINT) AS n_toks,
       CAST(sum(lm.ratio_u) // count(*) AS BIGINT) AS weight_u
FROM tb JOIN lm USING (bucket) GROUP BY 1"""


def _sql_doc_bigram_lm() -> str:
    return r"""
WITH toks AS MATERIALIZED (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts
  FROM documents
),
bigs AS MATERIALIZED (
  SELECT doc_id,
         unnest(ts[1 : len(ts) - 1]) AS w1,
         unnest(ts[2 : len(ts)]) AS w2
  FROM toks WHERE len(ts) >= 2
),
cb AS (SELECT w1, w2, count(*) AS cb FROM bigs WHERE doc_id % 2 = 0 GROUP BY 1, 2),
cu AS MATERIALIZED (
  SELECT w1, count(*) AS cu FROM (
    SELECT unnest(ts) AS w1 FROM toks WHERE doc_id % 2 = 0
  ) GROUP BY 1
),
v AS (SELECT count(*) AS v FROM cu),
dt AS (SELECT doc_id, w1, w2, count(*) AS tf FROM bigs GROUP BY 1, 2, 3),
scored AS (
  SELECT d.doc_id, d.tf, (c.cb IS NULL) AS unseen,
         (1000000 * (coalesce(c.cb, 0) + 1))
           // (coalesce(u.cu, 0) + v.v) AS p_u
  FROM dt d
  LEFT JOIN cb c ON c.w1 = d.w1 AND c.w2 = d.w2
  LEFT JOIN cu u ON u.w1 = d.w1
  CROSS JOIN v
)
SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
       CAST(sum(CASE WHEN unseen THEN tf ELSE 0 END) AS BIGINT) AS n_unseen,
       CAST(sum(tf * p_u) // greatest(sum(tf), 1) AS BIGINT) AS avg_p_u
FROM scored GROUP BY 1"""


def _sql_doc_c4_filters() -> str:
    ctes = corpus.sql_pages_cte()
    return (
        "WITH "
        + ctes.lstrip()
        + """,
lines AS (
  SELECT url, group_id, clean_text,
         string_split(clean_text, chr(10) || chr(10)) AS paras
  FROM pages_g
),
c AS (
  SELECT url, group_id,
         CAST(len(paras) AS BIGINT) AS n_lines,
         CAST(len(list_filter(paras,
              x -> regexp_matches(x, '[.!?"]$')
                   AND len(string_split(x, ' ')) >= 5)) AS BIGINT)
           AS n_kept_lines,
         CAST(length(regexp_replace(clean_text, '[^.!?]', '', 'g'))
              AS BIGINT) AS n_sentences,
         CAST(contains(clean_text, '{') AS INT) AS has_brace
  FROM lines
)
SELECT *,
       CAST(n_kept_lines >= 3 AND n_sentences >= 5 AND has_brace = 0
            AS INT) AS keep
FROM c"""
    )


RAKE_TOP_K = 3


def q_doc_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrases per document (degree/frequency word scores over
    stopword-delimited candidate phrases, integer micro-units, top-3) —
    the document-local multi-word counterpart of doc_tfidf_terms."""
    from ..operators.docs import rake_keyphrases

    return rake_keyphrases(docs.read_documents(spark, sf_dir), top_k=RAKE_TOP_K)


def _sql_doc_keyphrases() -> str:
    from ..operators.docs import RAKE_STOPS

    stops = ", ".join(f"'{s}'" for s in RAKE_STOPS)
    return f"""
WITH segs AS (
  SELECT doc_id, generate_subscripts(a, 1) AS seg_idx, unnest(a) AS seg
  FROM (SELECT doc_id,
               regexp_split_to_array(lower(text), '[^a-z0-9 ]+') AS a
        FROM documents)
),
toks AS (
  SELECT doc_id, seg_idx, generate_subscripts(t, 1) AS pos, unnest(t) AS tok
  FROM (SELECT doc_id, seg_idx,
               regexp_extract_all(seg, '[a-z0-9]+') AS t
        FROM segs)
),
ns AS (
  SELECT *,
         pos - row_number() OVER (PARTITION BY doc_id, seg_idx ORDER BY pos)
           AS run
  FROM toks WHERE tok NOT IN ({stops})
),
ph AS (
  SELECT doc_id, seg_idx, run,
         string_agg(tok, ' ' ORDER BY pos) AS phrase,
         count(*) AS plen
  FROM ns GROUP BY 1, 2, 3
),
words AS (
  SELECT n.doc_id, n.seg_idx, n.run, n.tok, p.plen, p.phrase
  FROM ns n JOIN ph p USING (doc_id, seg_idx, run)
),
ws AS (
  SELECT doc_id, tok, (sum(plen) * 1000000) // count(*) AS wscore_u
  FROM words GROUP BY 1, 2
),
phsc AS (
  SELECT doc_id, phrase, max(score_u) AS score_u FROM (
    SELECT w.doc_id, w.seg_idx, w.run, w.phrase,
           sum(s.wscore_u) AS score_u
    FROM words w
    JOIN ws s ON s.doc_id = w.doc_id AND s.tok = w.tok
    GROUP BY 1, 2, 3, 4
  ) GROUP BY 1, 2
),
rk AS (
  SELECT doc_id, phrase, score_u,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score_u DESC, phrase) AS rank
  FROM phsc
)
SELECT doc_id, CAST(rank AS BIGINT) AS rank, phrase,
       CAST(score_u AS BIGINT) AS score_u
FROM rk WHERE rank <= {RAKE_TOP_K}"""


def q_doc_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle-containment near-dup pairs (Broder 1997):
    catches a short doc embedded in a long one where Jaccard stays near
    zero — the quote/syndication case of the dedup suite."""
    from ..operators.docs import containment_pairs

    return containment_pairs(docs.read_documents(spark, sf_dir))


def _sql_doc_containment() -> str:
    return f"""
WITH tok AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks FROM documents
),
sh AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           range(1, greatest(len(toks) - {docs_mod.NEAR_DUP_N - 1}, 0) + 1),
           i -> array_to_string(list_slice(toks, i, i + {docs_mod.NEAR_DUP_N - 1}), ' ')))) AS shingle
  FROM tok
),
ok AS (SELECT shingle FROM sh GROUP BY shingle
       HAVING count(*) <= (SELECT greatest(2, CAST(floor(count(DISTINCT doc_id) * {docs_mod.NEAR_DUP_MAX_DF_FRAC}) AS BIGINT))
                           FROM documents)),
sh2 AS (SELECT sh.* FROM sh JOIN ok USING (shingle)),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh2 GROUP BY 1),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
  FROM sh2 a JOIN sh2 b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT s.doc_a, s.doc_b, s.shared,
       (s.shared * 1000000) // least(sa.n_sh, sb.n_sh) AS containment_u,
       CASE WHEN sb.n_sh < sa.n_sh THEN s.doc_b ELSE s.doc_a END AS contained
FROM shared s
JOIN sizes sa ON sa.doc_id = s.doc_a
JOIN sizes sb ON sb.doc_id = s.doc_b
ORDER BY containment_u DESC, s.doc_a, s.doc_b
LIMIT {docs_mod.NEAR_DUP_TOP}"""


def q_doc_textrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank extractive summaries: top-2 most central sentences per
    document by fixed-iteration integer PageRank over the shared-token
    sentence graph (Mihalcea & Tarau 2004) — the deterministic
    seq2seq-summarization-pair generator of the text suite."""
    from ..operators.docs import textrank_sentences

    return textrank_sentences(docs.read_documents(spark, sf_dir))


def _sql_doc_textrank() -> str:
    from ..operators.docs import TEXTRANK_DAMP, TEXTRANK_ITERS, TEXTRANK_TOP

    base = (1_000_000 * (100 - TEXTRANK_DAMP)) // 100
    rounds = []
    for k in range(1, TEXTRANK_ITERS + 1):
        prev = f"r{k - 1}"
        rounds.append(f"""
r{k} AS MATERIALIZED (
  SELECT s.doc_id, s.sidx,
         {base} + ({TEXTRANK_DAMP} * coalesce(c.s, 0)) // 100 AS r_u
  FROM sents s LEFT JOIN (
    SELECT p.doc_id, p.i AS sidx, sum((r.r_u * p.w) // p.wj) AS s
    FROM pw p JOIN {prev} r ON r.doc_id = p.doc_id AND r.sidx = p.j
    GROUP BY 1, 2
  ) c ON c.doc_id = s.doc_id AND c.sidx = s.sidx
)""")
    return f"""
WITH segs AS (
  SELECT doc_id, generate_subscripts(a, 1) - 1 AS sidx, unnest(a) AS sent
  FROM (SELECT doc_id, regexp_split_to_array(text, '[.!?]+') AS a
        FROM documents)
),
sents AS MATERIALIZED (
  SELECT doc_id, sidx FROM segs WHERE length(trim(sent)) > 0
),
stoks AS (
  SELECT DISTINCT doc_id, sidx, unnest(regexp_extract_all(lower(sent), '[a-z0-9]+')) AS tok
  FROM segs
),
prs AS (
  SELECT a.doc_id, a.sidx AS i, b.sidx AS j, count(*) AS w
  FROM stoks a JOIN stoks b
    ON b.doc_id = a.doc_id AND b.tok = a.tok AND b.sidx <> a.sidx
  GROUP BY 1, 2, 3
),
wj AS (SELECT doc_id, j, sum(w) AS wj FROM prs GROUP BY 1, 2),
pw AS MATERIALIZED (
  SELECT p.doc_id, p.i, p.j, p.w, t.wj
  FROM prs p JOIN wj t ON t.doc_id = p.doc_id AND t.j = p.j
),
r0 AS (SELECT doc_id, sidx, CAST(1000000 AS BIGINT) AS r_u FROM sents),
{",".join(rounds)},
rk AS (
  SELECT doc_id, sidx, r_u,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY r_u DESC, sidx) AS rank
  FROM r{TEXTRANK_ITERS}
)
SELECT doc_id, CAST(rank AS BIGINT) AS rank,
       CAST(sidx AS BIGINT) AS sent_idx, CAST(r_u AS BIGINT) AS score_u
FROM rk WHERE rank <= {TEXTRANK_TOP}"""
