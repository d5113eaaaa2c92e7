"""Vector queries over the embeddings table: brute-force, IVF, PQ and
IVF-PQ top-k, range search, contrastive pairs, norm audit and
hyperplane-LSH near-duplicates."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators import ann
from .shared import (
    EMBCOS_MAX_CELL,
    IVF_CELLS,
    IVF_ITERS,
    IVF_K,
    IVF_PROBE,
    _DUCK_QZ,
    _QZ,
    _cell_cap_cte,
    _duck_cos,
    _kmeans_sql_parts,
)


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = ann.read_embeddings(spark, sf_dir)
    q = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe")
    )
    c = emb.where(F.col("vec_id") >= 8).select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("ce")
    )
    return ann.brute_force_topk(q, c, k=5).select(
        "q_id", F.col("rank").cast("long").alias("rank"), "c_id"
    )


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN scale path end-to-end under the exact gate: deterministic
    k-means centroid TRAINING (integer sum-vector centroids — cosine is
    scale-invariant, so training never leaves exact arithmetic), IVF cell
    assignment, n_probe cell pruning, exact-integer scoring inside probed
    cells. Same query/candidate split as ann_topk, so recall is
    measurable against it (pytest pins recall >= 0.8)."""
    emb = ann.read_embeddings(spark, sf_dir)
    q = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"), F.expr(_QZ).alias("emb")
    )
    c = emb.where(F.col("vec_id") >= 8).select(
        F.col("vec_id").alias("c_id"), F.expr(_QZ).alias("emb")
    )
    out = ann.ivf_topk_trained(
        q, c, n_cells=IVF_CELLS, n_probe=IVF_PROBE, k=IVF_K
    )
    return out.select(
        "q_id", F.col("rank").cast("long").alias("rank"), "c_id",
        F.col("score_q").cast("long").alias("score_q"),
    )


def q_ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality audit, oracle-visible: per-query recall@k of the IVF
    path against the exact brute-force top-k (the number every ANN
    deployment must publish before trading exactness for cell pruning).
    pytest pins recall >= 0.8 in aggregate; this emits the per-query
    numbers under the exact gate."""
    ex = q_ann_topk(spark, sf_dir).select("q_id", "c_id")
    iv = q_ann_ivf_topk(spark, sf_dir).select("q_id", "c_id")
    k = ex.groupBy("q_id").agg(F.count(F.lit(1)).alias("k"))
    hits = (
        ex.join(iv, ["q_id", "c_id"], "left_semi")
        .groupBy("q_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    return (
        k.join(hits, "q_id", "left")
        .na.fill(0, ["n_hit"])
        .select(
            "q_id",
            F.col("k").cast("long").alias("k"),
            F.col("n_hit").cast("long").alias("n_hit"),
            F.expr("(n_hit * 1000000) div k").cast("long").alias("recall_u"),
        )
    )


def _sql_ann_ivf_recall() -> str:
    return f"""
SELECT ex.q_id,
       CAST(count(*) AS BIGINT) AS k,
       CAST(count(iv.c_id) AS BIGINT) AS n_hit,
       CAST((count(iv.c_id) * 1000000) // count(*) AS BIGINT) AS recall_u
FROM ({_sql_ann_topk()}) ex
LEFT JOIN ({_sql_ann_ivf_topk()}) iv
  ON iv.q_id = ex.q_id AND iv.c_id = ex.c_id
GROUP BY ex.q_id"""


PQ_M, PQ_CODES, PQ_ITERS, PQ_K = 16, 32, 2, 5
EMB_DIM = 64


def q_ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN end-to-end under the exact gate: per-
    subspace integer codebook training (one global TakeOrdered seed pass
    shared by all m subspaces), code assignment, asymmetric-distance
    top-k via per-query integer distance tables. The memory leg of the
    ANN scale story: candidates are scored from m codes, never their
    full vectors. Same query/candidate split as ann_topk so recall is
    measurable against it (pytest pins it)."""
    emb = ann.read_embeddings(spark, sf_dir)
    q = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"), F.expr(_QZ).alias("emb")
    )
    c = emb.where(F.col("vec_id") >= 8).select(
        F.col("vec_id").alias("c_id"), F.expr(_QZ).alias("emb")
    )
    out = ann.pq_topk(
        q, c, dim=EMB_DIM, m=PQ_M, n_codes=PQ_CODES, n_iter=PQ_ITERS, k=PQ_K
    )
    return out.select(
        "q_id",
        F.col("rank").cast("long").alias("rank"),
        "c_id",
        F.col("adist2").cast("long").alias("adist2"),
    )


def _duck_d2(a: str, b: str) -> str:
    """Exact integer squared-L2 via three inner products (SQL mirror of
    operators/ann._L2_INT)."""
    return (
        f"CAST(list_inner_product({a}, {a})"
        f" - 2 * list_inner_product({a}, {b})"
        f" + list_inner_product({b}, {b}) AS BIGINT)"
    )


def _pq_sql_parts(
    m: int, n_codes: int, iters: int, dim: int, src: str = "cand"
) -> tuple[list[str], str, str]:
    """SQL mirror of operators/ann.pq_codebooks + _pq_assign over an
    in-scope CTE `src`(c_id, emb): one md5-bounded seed pass shared by
    all m subspaces, `iters` exact integer-mean Lloyd rounds (sum //
    count — truncation division on both engines), final code
    assignment. Returns (cte_parts, last_assignment_cte,
    last_centroid_cte) — shared by the ann_pq_topk and ann_ivfpq_topk
    oracles."""
    ln = dim // m
    sub = f"emb[t.s * {ln} + 1 : t.s * {ln} + {ln}]"
    parts = [
        f"""
csub AS (SELECT c_id, t.s, {sub} AS sub FROM {src}, range({m}) t(s)),
seed AS (
  SELECT CAST(row_number() OVER (ORDER BY h) - 1 AS INT) AS code, emb
  FROM (SELECT md5(CAST(c_id AS VARCHAR)) AS h, emb FROM {src}
        ORDER BY h LIMIT {n_codes})
),
pc0 AS (SELECT code, t.s, {sub} AS cent FROM seed, range({m}) t(s))"""
    ]
    for i in range(1, iters + 2):
        parts.append(f"""
pa{i} AS (
  SELECT c_id, s, sub, code FROM (
    SELECT cs.c_id, cs.s, cs.sub, ct.code,
           row_number() OVER (PARTITION BY cs.c_id, cs.s
                              ORDER BY {_duck_d2("cs.sub", "ct.cent")} ASC, ct.code) AS rn
    FROM csub cs JOIN pc{i - 1} ct ON ct.s = cs.s
  ) WHERE rn = 1
)""")
        if i <= iters:
            parts.append(f"""
pc{i} AS (
  SELECT s, code, list(CAST(mv AS BIGINT) ORDER BY pos) AS cent FROM (
    SELECT s, code, pos, sum(v) // count(*) AS mv
    FROM (SELECT s, code, unnest(sub) AS v, generate_subscripts(sub, 1) AS pos
          FROM pa{i})
    GROUP BY 1, 2, 3
  ) GROUP BY 1, 2
)""")
    return parts, f"pa{iters + 1}", f"pc{iters}"


def _sql_ann_pq_topk() -> str:
    ln = EMB_DIM // PQ_M
    parts = [
        f"""
cand AS (SELECT vec_id AS c_id, {_DUCK_QZ} AS emb FROM embeddings WHERE vec_id >= 8),
qs AS (SELECT vec_id AS q_id, {_DUCK_QZ} AS emb FROM embeddings WHERE vec_id < 8)"""
    ]
    pq_parts, last_asg, last_cent = _pq_sql_parts(PQ_M, PQ_CODES, PQ_ITERS, EMB_DIM)
    parts += pq_parts
    parts.append(f"""
qsub AS (SELECT q_id, t.s, emb[t.s * {ln} + 1 : t.s * {ln} + {ln}] AS sub
         FROM qs, range({PQ_M}) t(s)),
dtab AS (
  SELECT q.q_id, ct.s, ct.code, {_duck_d2("q.sub", "ct.cent")} AS d2
  FROM qsub q JOIN {last_cent} ct ON ct.s = q.s
),
approx AS (
  SELECT d.q_id, a.c_id, CAST(sum(d.d2) AS BIGINT) AS adist2
  FROM {last_asg} a JOIN dtab d ON d.s = a.s AND d.code = a.code
  GROUP BY 1, 2
)""")
    return (
        "WITH " + ",".join(p.strip() for p in parts)
        + f"""
SELECT q_id, CAST(rank AS BIGINT) AS rank, c_id, adist2 FROM (
  SELECT q_id, c_id, adist2,
         row_number() OVER (PARTITION BY q_id ORDER BY adist2 ASC, c_id) AS rank
  FROM approx
) WHERE rank <= {PQ_K}"""
    )


IVFPQ_M, IVFPQ_CODES, IVFPQ_ITERS, IVFPQ_K = 16, 32, 1, 5


def q_ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC end-to-end under the exact gate (operators/ann.ivfpq_topk):
    coarse IVF training + n_probe cell pruning composed with product
    quantization of the RESIDUALS (vector minus its cell's integer mean
    centroid) and per-probed-cell asymmetric distance tables — the
    canonical FAISS IVFx,PQy billion-scale layout. Same query/candidate
    split as ann_topk so recall is measurable against it (pytest pins
    it)."""
    emb = ann.read_embeddings(spark, sf_dir)
    q = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"), F.expr(_QZ).alias("emb")
    )
    c = emb.where(F.col("vec_id") >= 8).select(
        F.col("vec_id").alias("c_id"), F.expr(_QZ).alias("emb")
    )
    out = ann.ivfpq_topk(
        q,
        c,
        dim=EMB_DIM,
        n_cells=IVF_CELLS,
        n_probe=IVF_PROBE,
        ivf_iter=IVF_ITERS,
        m=IVFPQ_M,
        n_codes=IVFPQ_CODES,
        pq_iter=IVFPQ_ITERS,
        k=IVFPQ_K,
    )
    return out.select(
        "q_id",
        F.col("rank").cast("long").alias("rank"),
        "c_id",
        F.col("adist2").cast("long").alias("adist2"),
    )


def _sql_ann_ivfpq_topk() -> str:
    cos = _duck_cos
    parts = [
        f"""
cand AS (SELECT vec_id AS c_id, {_DUCK_QZ} AS emb FROM embeddings WHERE vec_id >= 8),
qs AS (SELECT vec_id AS q_id, {_DUCK_QZ} AS emb FROM embeddings WHERE vec_id < 8)"""
    ]
    km_parts, last_asg, last_cent = _kmeans_sql_parts(IVF_CELLS, IVF_ITERS)
    parts += km_parts
    # residual encoding: integer mean centroid per cell (sum // count,
    # truncation division on both engines), residual = emb - mean
    parts.append(f"""
cmean AS (
  SELECT cell_id, pos, CAST(sum(v) // count(*) AS BIGINT) AS cv
  FROM (SELECT cell_id, unnest(emb) AS v, generate_subscripts(emb, 1) AS pos
        FROM {last_asg})
  GROUP BY 1, 2
),
res AS (
  SELECT x.c_id, x.cell_id, list(CAST(x.v - mn.cv AS BIGINT) ORDER BY x.pos) AS emb
  FROM (SELECT c_id, cell_id, unnest(emb) AS v, generate_subscripts(emb, 1) AS pos
        FROM {last_asg}) x
  JOIN cmean mn ON mn.cell_id = x.cell_id AND mn.pos = x.pos
  GROUP BY 1, 2
)""")
    pq_parts, pq_asg, pq_cent = _pq_sql_parts(
        IVFPQ_M, IVFPQ_CODES, IVFPQ_ITERS, EMB_DIM, src="res"
    )
    parts += pq_parts
    ln = EMB_DIM // IVFPQ_M
    parts.append(f"""
codesc AS (
  SELECT a.c_id, r.cell_id, a.s, a.code
  FROM {pq_asg} a JOIN (SELECT c_id, cell_id FROM res) r ON r.c_id = a.c_id
),
probe AS (
  SELECT q_id, emb AS qemb, cell_id FROM (
    SELECT q.q_id, q.emb, ct.cell_id,
           row_number() OVER (PARTITION BY q.q_id
                              ORDER BY {cos("q.emb", "ct.centroid")} DESC, ct.cell_id) AS rn
    FROM qs q CROSS JOIN {last_cent} ct
  ) WHERE rn <= {IVF_PROBE}
),
qres AS (
  SELECT x.q_id, x.cell_id, list(CAST(x.v - mn.cv AS BIGINT) ORDER BY x.pos) AS emb
  FROM (SELECT q_id, cell_id, unnest(qemb) AS v, generate_subscripts(qemb, 1) AS pos
        FROM probe) x
  JOIN cmean mn ON mn.cell_id = x.cell_id AND mn.pos = x.pos
  GROUP BY 1, 2
),
qsub AS (SELECT q_id, cell_id, t.s, emb[t.s * {ln} + 1 : t.s * {ln} + {ln}] AS sub
         FROM qres, range({IVFPQ_M}) t(s)),
dtab AS (
  SELECT q.q_id, q.cell_id, ct.s, ct.code, {_duck_d2("q.sub", "ct.cent")} AS d2
  FROM qsub q JOIN {pq_cent} ct ON ct.s = q.s
),
approx AS (
  SELECT d.q_id, c.c_id, CAST(sum(d.d2) AS BIGINT) AS adist2
  FROM codesc c
  JOIN dtab d ON d.cell_id = c.cell_id AND d.s = c.s AND d.code = c.code
  GROUP BY 1, 2
)""")
    return (
        "WITH " + ",".join(p.strip() for p in parts)
        + f"""
SELECT q_id, CAST(rank AS BIGINT) AS rank, c_id, adist2 FROM (
  SELECT q_id, c_id, adist2,
         row_number() OVER (PARTITION BY q_id ORDER BY adist2 ASC, c_id) AS rank
  FROM approx
) WHERE rank <= {IVFPQ_K}"""
    )


def _sql_ann_ivf_topk() -> str:
    cos = _duck_cos
    parts = [f"""
cand AS (SELECT vec_id AS c_id, {_DUCK_QZ} AS emb FROM embeddings WHERE vec_id >= 8),
qs AS (SELECT vec_id AS q_id, {_DUCK_QZ} AS emb FROM embeddings WHERE vec_id < 8)"""]
    km_parts, last_asg, last_cent = _kmeans_sql_parts(IVF_CELLS, IVF_ITERS)
    parts += km_parts
    parts.append(f"""
probe AS (
  SELECT q_id, emb AS qemb, cell_id FROM (
    SELECT q.q_id, q.emb, ct.cell_id,
           row_number() OVER (PARTITION BY q.q_id
                              ORDER BY {cos("q.emb", "ct.centroid")} DESC, ct.cell_id) AS rn
    FROM qs q CROSS JOIN {last_cent} ct
  ) WHERE rn <= {IVF_PROBE}
),
scored AS (
  SELECT p.q_id, a.c_id, CAST(list_inner_product(a.emb, p.qemb) AS BIGINT) AS score_q
  FROM {last_asg} a JOIN probe p ON p.cell_id = a.cell_id
)""")
    return (
        "WITH " + ",".join(p.strip() for p in parts)
        + f"""
SELECT q_id, CAST(rank AS BIGINT) AS rank, c_id, score_q FROM (
  SELECT q_id, c_id, score_q,
         row_number() OVER (PARTITION BY q_id ORDER BY score_q DESC, c_id) AS rank
  FROM scored
) WHERE rank <= {IVF_K}"""
    )


CONTRA_POS_Q, CONTRA_NEG_Q = 900_000, 400_000


def q_emb_contrastive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive pair export over the twin-planted embedding corpus:
    same-IVF-cell positives (score >= 0.9) and hard negatives
    (score <= 0.4), mid-band dropped — the training-data product of the
    dedup stack."""
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
    return ann.contrastive_pairs(
        base.unionByName(pert),
        n_cells=IVF_CELLS,
        pos_q=CONTRA_POS_Q,
        neg_q=CONTRA_NEG_Q,
        max_cell=EMBCOS_MAX_CELL,
    )


def _sql_emb_contrastive() -> str:
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
SELECT id_a, id_b, score_q,
       CASE WHEN score_q >= {CONTRA_POS_Q} THEN 'pos' ELSE 'neg' END AS label
FROM (
  SELECT a.c_id AS id_a, b.c_id AS id_b,
         CAST(list_inner_product(a.emb, b.emb) AS BIGINT) AS score_q
  FROM {last_asg} a JOIN okcell USING (cell_id) JOIN {last_asg} b
    ON a.cell_id = b.cell_id AND a.c_id < b.c_id
)
WHERE score_q >= {CONTRA_POS_Q} OR score_q <= {CONTRA_NEG_Q}"""
    )


def q_ann_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius similarity search: all (query, candidate) pairs whose exact
    integer inner product over milli-quantized vectors reaches the score
    floor — the fixed-score dual of ann_topk."""
    emb = ann.read_embeddings(spark, sf_dir)
    q = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"), F.expr(_QZ).alias("qemb")
    )
    c = emb.where(F.col("vec_id") >= 8).select(
        F.col("vec_id").alias("c_id"), F.expr(_QZ).alias("emb")
    )
    return ann.range_search(q, c, min_score_q=ANN_RANGE_MIN_Q)


ANN_RANGE_MIN_Q = 100_000  # cosine 0.1 in milli-quantized dot units


NORM_BUCKET = 500


def q_emb_norm_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-table QA gate (operators/ann.norm_band_audit): per-label
    exact P10/P90 norm bands over fixed-width integer norm buckets —
    low/high flags for the vectors a cosine index should quarantine."""
    from ..operators.ann import norm_band_audit, read_embeddings

    emb = read_embeddings(spark, sf_dir).select(
        F.col("vec_id").alias("c_id"),
        F.col("label").cast("long").alias("label"),
        F.expr(_QZ).alias("emb"),
    )
    return norm_band_audit(emb, bucket=NORM_BUCKET)


def _sql_emb_norm_audit() -> str:
    return f"""
WITH norms AS (
  SELECT vec_id AS c_id, CAST(label AS BIGINT) AS label,
         CAST(list_sum(list_transform({_DUCK_QZ}, v -> v * v)) AS BIGINT)
           AS norm_sq
  FROM embeddings
),
nb AS (SELECT *, norm_sq // {NORM_BUCKET} AS b FROM norms),
hist AS (SELECT label, b, count(*) AS c FROM nb GROUP BY 1, 2),
cdf AS (
  SELECT label, b,
         sum(c) OVER (PARTITION BY label ORDER BY b
                      ROWS UNBOUNDED PRECEDING) AS cum,
         sum(c) OVER (PARTITION BY label) AS n
  FROM hist
),
th AS (
  SELECT label,
         min(CASE WHEN cum * 10 >= n THEN b END) AS b10,
         min(CASE WHEN cum * 10 >= 9 * n THEN b END) AS b90
  FROM cdf GROUP BY 1
)
SELECT nb.c_id, nb.label, nb.norm_sq,
       CASE WHEN nb.b < th.b10 THEN 'low' WHEN nb.b > th.b90 THEN 'high'
            ELSE 'mid' END AS band
FROM nb JOIN th USING (label)"""


def _sql_ann_topk() -> str:
    return """
WITH q AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings WHERE vec_id < 8),
c AS (SELECT vec_id AS c_id, embedding AS ce FROM embeddings WHERE vec_id >= 8),
scored AS (
  SELECT q.q_id, c.c_id, list_cosine_similarity(c.ce, q.qe) AS score FROM c, q
),
ranked AS (
  SELECT q_id, c_id,
         row_number() OVER (PARTITION BY q_id ORDER BY score DESC, c_id) AS rank
  FROM scored
)
SELECT q_id, rank, c_id FROM ranked WHERE rank <= 5"""


def _sql_ann_range() -> str:
    return f"""
WITH q AS (SELECT vec_id AS q_id, {_DUCK_QZ} AS qemb
           FROM embeddings WHERE vec_id < 8),
c AS (SELECT vec_id AS c_id, {_DUCK_QZ} AS emb
      FROM embeddings WHERE vec_id >= 8)
SELECT q.q_id, c.c_id,
       CAST(list_inner_product(c.emb, q.qemb) AS BIGINT) AS score_q
FROM c, q
WHERE CAST(list_inner_product(c.emb, q.qemb) AS BIGINT) >= {ANN_RANGE_MIN_Q}"""


SH_BITS, SH_BANDS, SH_MAX_HAM, SH_MAX_BUCKET = 48, 6, 10, 1000


def q_emb_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH (SimHash) near-duplicate candidate pairs over the
    embeddings table with exact integer squared-cosine verification —
    the trainer-free embedding-dedup scale path (vs the IVF cell
    blocking of doc_embcos_dedup)."""
    from ..operators.ann import simhash_pairs

    emb = ann.read_embeddings(spark, sf_dir)
    return simhash_pairs(
        emb, dim=EMB_DIM, n_bits=SH_BITS, n_bands=SH_BANDS,
        max_ham=SH_MAX_HAM, max_bucket=SH_MAX_BUCKET,
    )


def _sql_emb_simhash() -> str:
    bpb = SH_BITS // SH_BANDS
    mask = (1 << bpb) - 1
    return f"""
WITH planes AS (
  SELECT j.j, i.i,
         CASE WHEN substr(md5('hp|' || j.j || '|' || i.i), 1, 1)
                   IN ('1','3','5','7','9','b','d','f')
              THEN -1 ELSE 1 END AS s
  FROM range({SH_BITS}) j(j), range({EMB_DIM}) i(i)
),
qv AS MATERIALIZED (
  SELECT vec_id AS id, i.i AS i,
         CAST(floor(CAST(embedding[i.i + 1] AS DOUBLE) * 100) AS BIGINT) AS x
  FROM embeddings, range({EMB_DIM}) i(i)
),
bits AS (
  SELECT q.id, p.j,
         CASE WHEN sum(q.x * p.s) >= 0
              THEN CAST(1 AS BIGINT) << p.j ELSE 0 END AS bitv
  FROM qv q JOIN planes p ON p.i = q.i
  GROUP BY q.id, p.j
),
sigs AS MATERIALIZED (SELECT id, CAST(sum(bitv) AS BIGINT) AS sig FROM bits GROUP BY 1),
norms AS (SELECT id, CAST(sum(x * x) AS BIGINT) AS n2 FROM qv GROUP BY 1),
bands AS (
  SELECT s.id, s.sig, b.b, (s.sig >> (b.b * {bpb})) & {mask} AS v
  FROM sigs s, range({SH_BANDS}) b(b)
),
ok AS (SELECT b, v FROM bands GROUP BY 1, 2 HAVING count(*) <= {SH_MAX_BUCKET}),
bandsok AS (SELECT bands.* FROM bands JOIN ok USING (b, v)),
cand AS (
  SELECT DISTINCT a.id AS id_a, c.id AS id_b, a.sig AS sig_a, c.sig AS sig_b
  FROM bandsok a JOIN bandsok c
    ON c.b = a.b AND c.v = a.v AND a.id < c.id
),
ham AS (
  SELECT id_a, id_b, bit_count(xor(sig_a, sig_b)) AS hamming
  FROM cand WHERE bit_count(xor(sig_a, sig_b)) <= {SH_MAX_HAM}
),
dots AS (
  SELECT h.id_a, h.id_b, h.hamming,
         CAST(sum(qa.x * qb.x) AS BIGINT) AS dot,
         max(na.n2) AS na2, max(nb.n2) AS nb2
  FROM ham h
  JOIN qv qa ON qa.id = h.id_a
  JOIN qv qb ON qb.id = h.id_b AND qb.i = qa.i
  JOIN norms na ON na.id = h.id_a
  JOIN norms nb ON nb.id = h.id_b
  GROUP BY 1, 2, 3
)
SELECT id_a, id_b, CAST(hamming AS BIGINT) AS hamming,
       CAST((CASE WHEN dot < 0 THEN -1 ELSE 1 END)
            * ((dot * dot * 1000000) // (na2 * nb2)) AS BIGINT) AS cos2s_u
FROM dots
WHERE na2 > 0 AND nb2 > 0"""
