"""Similarity search over an embedding column (`array<float>`).

Two paths, mirroring the engine's entity-resolution scoring needs
(reference cosine scoring: /root/reference/graphiti_core/utils/
bulk_utils.py:269-272, search_utils.py:832-833 and the Cypher
`vector.similarity.cosine` calls at search_utils.py:239,415,558):

- `brute_force_topk`: exact cosine top-k — broadcast the (small) query set
  against the candidate table; dot product via `zip_with`/`aggregate`
  higher-order functions so the whole scoring stage stays JVM-side.
- `ivf_topk`: the scale path — a one-level IVF index: candidates are
  assigned to their nearest of `n_cells` deterministic centroid rows, the
  query probes its `n_probe` nearest cells, and scoring only touches those
  partitions. At 100 TB the cell assignment is the partition key, so each
  probe is a partition-pruned scan instead of a full pass.

Cosine here is dot/(|a|*|b|) accumulated left-to-right in float64, which
is bit-identical to DuckDB's list_cosine_similarity on the same input —
that equivalence is what the driver's oracle check exercises.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F


def read_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _dot(a: str, b: str):
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * cast(y as double)),"
        " cast(0.0 as double), (acc, v) -> acc + v)"
    )


def _norm(a: str):
    return F.expr(
        f"sqrt(aggregate({a}, cast(0.0 as double),"
        " (acc, v) -> acc + cast(v as double) * cast(v as double)))"
    )


def with_cosine(pairs: DataFrame) -> DataFrame:
    return pairs.withColumn("score", _dot("qe", "ce") / (_norm("qe") * _norm("ce")))


def brute_force_topk(
    queries: DataFrame, candidates: DataFrame, k: int = 5
) -> DataFrame:
    """Exact top-k cosine neighbors. queries: (q_id, qe). candidates:
    (c_id, ce). Queries are broadcast (the small dim side)."""
    pairs = candidates.crossJoin(F.broadcast(queries))
    scored = with_cosine(pairs)
    w = Window.partitionBy("q_id").orderBy(F.desc("score"), F.asc("c_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("q_id", "rank", "c_id", "score")
    )


def ivf_assign(candidates: DataFrame, centroids: DataFrame) -> DataFrame:
    """Assign each candidate to its nearest centroid (cell). centroids:
    (cell_id, ce_centroid) — always broadcast-small."""
    pairs = candidates.crossJoin(F.broadcast(centroids))
    scored = pairs.withColumn(
        "cscore", _dot("ce", "ce_centroid") / (_norm("ce") * _norm("ce_centroid"))
    )
    w = Window.partitionBy("c_id").orderBy(F.desc("cscore"), F.asc("cell_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("c_id", "ce", "cell_id")
    )


def suggest_n_cells(n_vectors: int) -> int:
    """IVF cell-count sizing for a corpus of `n_vectors`: the classic
    sqrt(N) rule (balances probe cost ~N/cells against centroid-table
    cost ~cells), floored so the EXPECTED cell population stays under
    100_000 (the _cap_cells bound — cells should rarely trip the
    cap under a balanced trainer). The test-scale default n_cells=8 is
    simply suggest_n_cells at the oracle corpus size; at 1e9 vectors
    this returns ~31623 cells (~31.6k vectors/cell expected). Pure
    driver-side arithmetic — callers pass the result in, keeping
    train_centroids free of count() actions."""
    import math

    if n_vectors <= 0:
        return 1
    by_sqrt = int(math.isqrt(n_vectors)) or 1
    by_cap = -(-n_vectors // 100_000)  # ceil
    return max(1, min(n_vectors, max(by_sqrt, by_cap)))


def train_centroids(
    cand_q: DataFrame, n_cells: int = 8, n_iter: int = 2
) -> DataFrame:
    """Deterministic k-means trainer over QUANTIZED candidate vectors —
    the missing piece that makes the IVF path standable end-to-end (no
    externally-supplied centroids).

    cand_q: (c_id, emb array<bigint>) — integer milli-quantized vectors.
    Returns (cell_id, centroid array<bigint>): the centroid is the exact
    integer SUM vector of its members — cosine is scale-invariant, so the
    un-normalized sum carries the same direction as the mean WITHOUT any
    float division. Every training step is therefore exact integer
    arithmetic (order-free sums); only the final cosine comparison
    evaluates in float64 over exact ints — a deterministic function of
    the data on any engine, which is what puts IVF under the exact-match
    DuckDB oracle gate instead of a recall-only pytest.

    Seeds: the n_cells candidates with the SMALLEST md5(c_id) — a bounded
    deterministic sample. `orderBy(hash).limit(n_cells)` compiles to
    TakeOrderedAndProject: each partition keeps its local top-n_cells and
    the driver merges n_partitions * n_cells tiny rows — no global sort,
    no unpartitioned window, no count() pre-pass; the seed stage costs one
    scan at any corpus size. cell_id = rank in hash order, assigned by a
    one-row collect_list over the already-bounded n_cells seeds. The
    iteration itself is a broadcast-centroids scan + an n_cells x dim
    integer aggregation, both trivially scalable.
    """
    seeds = (
        cand_q.select(
            F.md5(F.col("c_id").cast("string")).alias("h"), F.col("emb")
        )
        .orderBy("h")
        .limit(n_cells)
    )
    cents = (
        seeds.agg(
            F.expr("array_sort(collect_list(struct(h, emb)))").alias("s")
        )
        .select(F.posexplode("s").alias("cell_id", "x"))
        .select(
            F.col("cell_id").cast("int").alias("cell_id"),
            F.col("x.emb").alias("centroid"),
        )
    )
    for _ in range(n_iter):
        assigned = assign_cells(cand_q, cents)
        cents = (
            assigned.select("cell_id", F.posexplode("emb").alias("pos", "v"))
            .groupBy("cell_id", "pos")
            .agg(F.sum("v").alias("sv"))
            .groupBy("cell_id")
            .agg(
                F.expr(
                    "transform(array_sort(collect_list(struct(pos, sv))), x -> x.sv)"
                ).alias("centroid")
            )
        )
        cents = cents.localCheckpoint(eager=False)  # truncate per-iteration lineage
    return cents


_COS_INT = (
    "aggregate(zip_with(emb, centroid, (x, y) -> cast(x as double) * cast(y as double)),"
    " cast(0.0 as double), (acc, v) -> acc + v)"
    " / (sqrt(aggregate(emb, cast(0.0 as double),"
    "          (acc, v) -> acc + cast(v as double) * cast(v as double)))"
    "    * sqrt(aggregate(centroid, cast(0.0 as double),"
    "          (acc, v) -> acc + cast(v as double) * cast(v as double))))"
)


def assign_cells(cand_q: DataFrame, cents: DataFrame) -> DataFrame:
    """Nearest-centroid assignment: cosine of exact-int candidate against
    exact-int centroid sum — float64 over exact integers, identical on
    any IEEE engine (ties break on cell_id)."""
    scored = cand_q.crossJoin(F.broadcast(cents)).withColumn(
        "cscore", F.expr(_COS_INT)
    )
    w = Window.partitionBy("c_id").orderBy(F.desc("cscore"), F.asc("cell_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("c_id", "emb", "cell_id")
    )


def ivf_topk_trained(
    q_q: DataFrame,
    cand_q: DataFrame,
    n_cells: int = 8,
    n_probe: int = 2,
    k: int = 5,
) -> DataFrame:
    """End-to-end IVF over quantized vectors: train -> assign -> probe ->
    exact-integer scoring inside probed cells. Approximate by design
    (recall < 1 vs brute force); every step is deterministic, so the
    result row set is oracle-checkable. q_q: (q_id, emb), cand_q:
    (c_id, emb) — both array<bigint>."""
    cents = train_centroids(cand_q, n_cells=n_cells)
    assigned = assign_cells(cand_q, cents)
    qcells = (
        q_q.crossJoin(F.broadcast(cents))
        .withColumn("cscore", F.expr(_COS_INT))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("q_id").orderBy(F.desc("cscore"), F.asc("cell_id"))
            ),
        )
        .where(F.col("rn") <= n_probe)
        .select("q_id", F.col("emb").alias("qemb"), "cell_id")
    )
    score_q = F.expr(
        "aggregate(zip_with(emb, qemb, (x, y) -> x * y), 0L, (acc, v) -> acc + v)"
    )
    scored = assigned.join(qcells, "cell_id").withColumn("score_q", score_q)
    w = Window.partitionBy("q_id").orderBy(F.desc("score_q"), F.asc("c_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("q_id", "rank", "c_id", "score_q")
    )


def _cap_cells(assigned: DataFrame, max_cell: int) -> DataFrame:
    """Drop cells whose population exceeds max_cell BEFORE any same-cell
    self-join forms — the quadratic-blowup guard, mirroring max_bucket in
    operators/dedup.minhash_candidates. A degenerate cell (boilerplate
    embeddings, a hot centroid) would otherwise contribute O(n^2) pairs;
    capping bounds every cell's pair count at max_cell^2 / 2 regardless
    of corpus size. The size pass is one skinny groupBy on the join key
    already being shuffled."""
    ok = (
        assigned.groupBy("cell_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") <= max_cell)
        .select("cell_id")
    )
    return assigned.join(ok, "cell_id")


def embcos_dedup_pairs(
    vectors: DataFrame,
    n_cells: int = 8,
    min_score_q: int = 900_000,
    max_cell: int = 100_000,
) -> DataFrame:
    """Embedding-cosine near-duplicate detection, the ANN-blocked dedup
    family of the training-data pipeline (alongside MinHash/SimHash/
    n-gram Jaccard): vectors are clustered by the deterministic integer
    k-means (train_centroids), and only SAME-CELL pairs are verified by
    exact integer dot product >= min_score_q — never an all-pairs join.
    At 100 TB the cell id is the partition key: each verification
    self-join is partition-local after one shuffle on cell_id, and cell
    population is hard-bounded by max_cell (_cap_cells) exactly like the
    LSH bucket caps in operators/dedup.py — a degenerate hot cell is
    dropped, never joined.

    vectors: (id long, emb array<bigint>) milli-quantized.
    Returns (id_a, id_b, score_q), id_a < id_b."""
    cand = vectors.select(F.col("id").alias("c_id"), "emb")
    cents = train_centroids(cand, n_cells=n_cells)
    assigned = _cap_cells(assign_cells(cand, cents), max_cell)
    a = assigned.select(
        "cell_id", F.col("c_id").alias("id_a"), F.col("emb").alias("emb_a")
    )
    b = assigned.select(
        "cell_id", F.col("c_id").alias("id_b"), F.col("emb").alias("emb_b")
    )
    dot = F.expr(
        "aggregate(zip_with(emb_a, emb_b, (x, y) -> x * y), 0L, (acc, v) -> acc + v)"
    )
    return (
        a.join(b, "cell_id")
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("score_q", dot)
        .where(F.col("score_q") >= min_score_q)
        .select("id_a", "id_b", "score_q")
    )


def ivf_topk(
    queries: DataFrame,
    candidates: DataFrame,
    centroids: DataFrame,
    n_probe: int = 2,
) -> DataFrame:
    """IVF-pruned approximate top-5: score only candidates living in the
    query's `n_probe` nearest cells. Recall < 1 by design; the pytest
    harness checks recall vs `brute_force_topk` instead of an SQL oracle."""
    assigned = ivf_assign(candidates, centroids)
    qcells = (
        queries.crossJoin(F.broadcast(centroids))
        .withColumn(
            "cscore", _dot("qe", "ce_centroid") / (_norm("qe") * _norm("ce_centroid"))
        )
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("q_id").orderBy(F.desc("cscore"), F.asc("cell_id"))
            ),
        )
        .where(F.col("rn") <= n_probe)
        .select("q_id", "qe", "cell_id")
    )
    pairs = assigned.join(qcells, "cell_id")
    scored = with_cosine(pairs)
    w = Window.partitionBy("q_id").orderBy(F.desc("score"), F.asc("c_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .select("q_id", "rank", "c_id", "score")
    )


def range_search(
    queries: DataFrame, candidates: DataFrame, min_score_q: int
) -> DataFrame:
    """Radius (range) similarity search: every candidate whose exact
    integer inner product with the query reaches `min_score_q` — the
    dual of top-k for workloads where the SCORE bar, not the result
    count, is the contract (dedup sweeps, retrieval floors, semantic
    filters). queries: (q_id, qemb array<bigint>), candidates:
    (c_id, emb array<bigint>), both milli-quantized — integer dot keeps
    the threshold comparison bit-exact across engines (no float boundary
    flicker at score == tau).

    The query table is the broadcast side (queries are few, candidates
    are the corpus); the scan stays one codegen'd projection + filter —
    no shuffle at all, and column pruning reaches the parquet scan. For
    query sets too big to broadcast, block both sides by IVF cell first
    (embcos_dedup_pairs shape).
    """
    dot = F.expr(
        "aggregate(zip_with(emb, qemb, (x, y) -> x * y), 0L, (acc, v) -> acc + v)"
    )
    return (
        candidates.crossJoin(F.broadcast(queries))
        .withColumn("score_q", dot)
        .where(F.col("score_q") >= min_score_q)
        .select("q_id", "c_id", "score_q")
    )


def contrastive_pairs(
    vectors: DataFrame,
    n_cells: int = 8,
    pos_q: int = 900_000,
    neg_q: int = 400_000,
    max_cell: int = 100_000,
) -> DataFrame:
    """Contrastive training-pair export for embedding-model finetuning:
    within each IVF cell, pairs scoring >= pos_q are positives (near
    duplicates / paraphrases) and pairs scoring <= neg_q are HARD
    negatives — same coarse region of the space (the model cannot
    separate them by cluster alone), which is precisely what makes a
    negative worth training on. Mid-band pairs are dropped (ambiguous
    labels poison contrastive losses).

    Same scale shape as embcos_dedup_pairs: cluster -> cap hot cells
    (_cap_cells, max_cell population bound) -> same-cell self-join ->
    exact integer verification; the cell id is the shuffle key, no
    all-pairs join ever forms. vectors: (id, emb array<bigint>)
    milli-quantized. Returns (id_a, id_b, score_q, label)."""
    cand = vectors.select(F.col("id").alias("c_id"), "emb")
    cents = train_centroids(cand, n_cells=n_cells)
    assigned = _cap_cells(assign_cells(cand, cents), max_cell)
    a = assigned.select(
        "cell_id", F.col("c_id").alias("id_a"), F.col("emb").alias("emb_a")
    )
    b = assigned.select(
        "cell_id", F.col("c_id").alias("id_b"), F.col("emb").alias("emb_b")
    )
    dot = F.expr(
        "aggregate(zip_with(emb_a, emb_b, (x, y) -> x * y), 0L, (acc, v) -> acc + v)"
    )
    scored = (
        a.join(b, "cell_id")
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("score_q", dot)
    )
    return scored.where(
        (F.col("score_q") >= pos_q) | (F.col("score_q") <= neg_q)
    ).select(
        "id_a",
        "id_b",
        "score_q",
        F.when(F.col("score_q") >= pos_q, F.lit("pos"))
        .otherwise(F.lit("neg"))
        .alias("label"),
    )


_L2_INT = (
    "aggregate(zip_with(sub, cent, (x, y) -> (x - y) * (x - y)),"
    " 0L, (acc, v) -> acc + v)"
)


def _pq_subsplit(df: DataFrame, id_col: str, dim: int, m: int) -> DataFrame:
    """Split each quantized vector into m contiguous subvectors:
    (id, s, sub) with s in [0, m)."""
    ln = dim // m
    slices = F.expr(
        f"transform(sequence(0, {m - 1}), s -> slice(emb, s * {ln} + 1, {ln}))"
    )
    return df.select(id_col, F.posexplode(slices).alias("s", "sub"))


def _pq_assign(subs: DataFrame, cents: DataFrame) -> DataFrame:
    """Nearest-code assignment per (vector, subspace) by EXACT integer
    squared-L2 (ties break on code). The codebook is m * n_codes rows —
    always broadcast."""
    scored = subs.join(F.broadcast(cents), "s").withColumn(
        "d2", F.expr(_L2_INT)
    )
    w = Window.partitionBy(subs.columns[0], "s").orderBy(
        F.asc("d2"), F.asc("code")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn", "d2", "cent")
    )


def pq_codebooks(
    cand_q: DataFrame, dim: int, m: int = 4, n_codes: int = 4, n_iter: int = 1
) -> DataFrame:
    """Deterministic product-quantization codebook trainer — the memory
    side of the ANN scale story (IVF prunes WHICH vectors are scanned;
    PQ shrinks WHAT is scanned: dim floats -> m one-byte codes, the
    standard Jegou et al. 2011 compression every billion-vector index
    uses).

    cand_q: (c_id, emb array<bigint>) — integer milli-quantized vectors.
    Returns (s, code, cent): per-subspace codebooks of exact integer
    MEAN centroids (sum div count — truncation-toward-zero division,
    identical in Spark `div` and DuckDB `//` including negatives).

    Seeding reuses the train_centroids discipline: the n_codes
    candidates with the smallest md5(c_id) — ONE TakeOrderedAndProject
    over the full table, never a per-subspace global sort; because the
    hash ignores the subspace, the same seed rows serve all m codebooks.
    Each Lloyd round is a broadcast-codebook scan + an
    (m * n_codes * dim) integer aggregation — constant-size shuffle
    regardless of corpus size.
    """
    ln = dim // m
    seeds = (
        cand_q.select(
            F.md5(F.col("c_id").cast("string")).alias("h"), F.col("emb")
        )
        .orderBy("h")
        .limit(n_codes)
    )
    cents = (
        seeds.agg(F.expr("array_sort(collect_list(struct(h, emb)))").alias("x"))
        .select(F.posexplode("x").alias("code", "r"))
        .select(
            F.col("code").cast("int").alias("code"),
            F.posexplode(
                F.expr(
                    f"transform(sequence(0, {m - 1}),"
                    f" s -> slice(r.emb, s * {ln} + 1, {ln}))"
                )
            ).alias("s", "cent"),
        )
    )
    subs = _pq_subsplit(cand_q, "c_id", dim, m)
    for _ in range(n_iter):
        asg = _pq_assign(subs, cents)
        cents = (
            asg.select("s", "code", F.posexplode("sub").alias("pos", "v"))
            .groupBy("s", "code", "pos")
            .agg(F.sum("v").alias("sv"), F.count(F.lit(1)).alias("n"))
            .groupBy("s", "code")
            .agg(
                F.expr(
                    "transform(array_sort(collect_list("
                    "named_struct('pos', pos, 'mv', sv div n))), x -> x.mv)"
                ).alias("cent")
            )
        )
        cents = cents.localCheckpoint(eager=False)
    return cents


def cell_means(assigned: DataFrame) -> DataFrame:
    """Exact integer MEAN centroid per IVF cell (sum div count —
    truncation division, identical in Spark `div` and DuckDB `//`),
    from an assign_cells output. The residual-encoding anchor of the
    IVFADC path: train_centroids' sum-vectors carry direction (enough
    for cosine assignment) but residuals need a point in the same
    coordinate scale as the vectors themselves. One skinny
    (cell, pos) aggregation — shuffles n_cells * dim longs total."""
    return (
        assigned.select("cell_id", F.posexplode("emb").alias("pos", "v"))
        .groupBy("cell_id", "pos")
        .agg(F.sum("v").alias("sv"), F.count(F.lit(1)).alias("n"))
        .groupBy("cell_id")
        .agg(
            F.expr(
                "transform(array_sort(collect_list("
                "named_struct('pos', pos, 'mv', sv div n))), x -> x.mv)"
            ).alias("cmean")
        )
    )


_RESID = "zip_with(emb, cmean, (x, y) -> x - y)"


def ivfpq_topk(
    q_q: DataFrame,
    cand_q: DataFrame,
    dim: int,
    n_cells: int = 8,
    n_probe: int = 2,
    ivf_iter: int = 2,
    m: int = 4,
    n_codes: int = 4,
    pq_iter: int = 1,
    k: int = 5,
) -> DataFrame:
    """IVFADC — the canonical billion-scale ANN recipe (Jegou et al.
    2011, the index family behind FAISS IVFx,PQy): IVF coarse
    quantization prunes WHICH vectors are scanned (n_probe of n_cells
    inverted lists), and product quantization of the RESIDUAL
    (vector minus its cell's mean centroid) shrinks WHAT is scanned
    (dim ints -> m codes). Residual encoding is what makes the
    composition better than either part: within a cell the residuals
    are small and centered, so a shared m-subspace codebook covers
    them far more finely than it covers raw vectors.

    Scale shape at 1e9+ vectors: the corpus is represented by
    (cell_id, m codes) — the inverted-list layout where cell_id is the
    partition key, so each probe is a partition-pruned scan; scoring a
    probed cell is a broadcast-hash join of the (q_id, cell_id, s,
    code) distance tables (n_q * n_probe * m * n_codes tiny rows)
    against the code lists, then a (q_id, c_id) sum-agg shuffling only
    skinny longs. Training shuffles n_cells * dim + m * n_codes * dim
    integers per round regardless of corpus size; seeds are bounded
    TakeOrderedAndProject samples (never a global sort).

    Everything is exact integer arithmetic (assignment cosine and
    squared-L2 evaluate float64 over exact ints, deterministically),
    so the full IVF+PQ composition sits under the DuckDB value-hash
    oracle gate; recall vs brute force is pinned separately in pytest.
    q_q: (q_id, emb), cand_q: (c_id, emb) — milli-quantized
    array<bigint>. Returns (q_id, rank, c_id, adist2)."""
    cents = train_centroids(cand_q, n_cells=n_cells, n_iter=ivf_iter)
    assigned = assign_cells(cand_q, cents)
    means = cell_means(assigned)
    res = assigned.join(means, "cell_id").select(
        "c_id", "cell_id", F.expr(_RESID).alias("emb")
    )
    res = res.localCheckpoint(eager=False)
    cents_pq = pq_codebooks(
        res.select("c_id", "emb"), dim, m=m, n_codes=n_codes, n_iter=pq_iter
    )
    codes = (
        _pq_assign(_pq_subsplit(res, "c_id", dim, m), cents_pq)
        .select("c_id", "s", "code")
        .join(res.select("c_id", "cell_id"), "c_id")
    )
    qcells = (
        q_q.crossJoin(F.broadcast(cents))
        .withColumn("cscore", F.expr(_COS_INT))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("q_id").orderBy(
                    F.desc("cscore"), F.asc("cell_id")
                )
            ),
        )
        .where(F.col("rn") <= n_probe)
        .select("q_id", "emb", "cell_id")
    )
    qres = qcells.join(means, "cell_id").select(
        "q_id", "cell_id", F.expr(_RESID).alias("emb")
    )
    ln = dim // m
    slices = F.expr(
        f"transform(sequence(0, {m - 1}), s -> slice(emb, s * {ln} + 1, {ln}))"
    )
    qsubs = qres.select("q_id", "cell_id", F.posexplode(slices).alias("s", "sub"))
    dtab = (
        qsubs.join(F.broadcast(cents_pq), "s")
        .withColumn("d2", F.expr(_L2_INT))
        .select("q_id", "cell_id", "s", "code", "d2")
    )
    approx = (
        codes.join(F.broadcast(dtab), ["cell_id", "s", "code"])
        .groupBy("q_id", "c_id")
        .agg(F.sum("d2").alias("adist2"))
    )
    w = Window.partitionBy("q_id").orderBy(F.asc("adist2"), F.asc("c_id"))
    return (
        approx.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("q_id", "rank", "c_id", "adist2")
    )


def pq_topk(
    q_q: DataFrame,
    cand_q: DataFrame,
    dim: int,
    m: int = 4,
    n_codes: int = 4,
    n_iter: int = 1,
    k: int = 5,
) -> DataFrame:
    """Asymmetric-distance PQ top-k (smallest approximate squared-L2):
    candidates are represented ONLY by their m codes; each query
    precomputes an (m x n_codes) integer distance table against the
    codebooks, and a candidate's approximate distance is the sum of m
    table lookups — never a full-vector scan.

    Scale shape (1e9+ vectors): the code table is m skinny ints per
    candidate (the 256x memory reduction that makes the corpus fit in
    executor memory at all); the per-query distance tables are
    m * n_codes rows — broadcast — so scoring is one broadcast-hash
    join + a (q_id, c_id) sum-agg, shuffling only (q, c, long) rows.
    Every quantity is exact integer, so the result is oracle-checkable
    bit-for-bit; recall vs brute force is pinned separately in pytest.
    """
    cents = pq_codebooks(cand_q, dim, m=m, n_codes=n_codes, n_iter=n_iter)
    codes = _pq_assign(_pq_subsplit(cand_q, "c_id", dim, m), cents).select(
        "c_id", "s", "code"
    )
    qsubs = _pq_subsplit(q_q, "q_id", dim, m)
    dtab = (
        qsubs.join(F.broadcast(cents), "s")
        .withColumn("d2", F.expr(_L2_INT))
        .select("q_id", "s", "code", "d2")
    )
    approx = (
        codes.join(F.broadcast(dtab), ["s", "code"])
        .groupBy("q_id", "c_id")
        .agg(F.sum("d2").alias("adist2"))
    )
    w = Window.partitionBy("q_id").orderBy(F.asc("adist2"), F.asc("c_id"))
    return (
        approx.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("q_id", "rank", "c_id", "adist2")
    )


def norm_band_audit(
    cand_q: DataFrame, bucket: int = 1_000_000
) -> DataFrame:
    """Embedding-table QA gate: flag vectors whose squared L2 norm falls
    outside the per-label [P10, P90] band — the standard pre-index
    screen for broken embeddings (zero vectors from failed encoder
    calls, exploded norms from fp overflow) before they poison a cosine
    index or a k-means trainer.

    cand_q: (c_id, label, emb array<bigint>) milli-quantized. Returns
    (c_id, label, norm_sq, band) with band in low/mid/high.

    Percentiles are EXACT over fixed-width norm buckets (norm_sq div
    bucket), the histogram-CDF discipline of length_deciles: the
    corpus collapses to per-(label, bucket) counts BEFORE any window,
    so the only sort is over the bounded bucket vocabulary, never the
    vectors; thresholds join back label-keyed (label vocab is
    broadcastable by definition). Integer throughout: a vector is low
    iff its bucket < the first bucket with CDF >= 10% (cum*10 >= n),
    high iff bucket > the first with CDF >= 90% (cum*10 >= 9n)."""
    norms = cand_q.select(
        "c_id",
        "label",
        F.expr(
            "aggregate(emb, 0L, (acc, v) -> acc + v * v)"
        ).alias("norm_sq"),
    ).withColumn("b", F.expr(f"norm_sq div {bucket}"))
    hist = norms.groupBy("label", "b").agg(F.count(F.lit(1)).alias("c"))
    w = (
        Window.partitionBy("label")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cdf = hist.withColumn("cum", F.sum("c").over(w)).withColumn(
        "n", F.sum("c").over(Window.partitionBy("label"))
    )
    th = cdf.groupBy("label").agg(
        F.min(F.expr("CASE WHEN cum * 10 >= n THEN b END")).alias("b10"),
        F.min(F.expr("CASE WHEN cum * 10 >= 9 * n THEN b END")).alias("b90"),
    )
    return norms.join(th, "label").select(
        "c_id",
        "label",
        F.col("norm_sq").cast("long").alias("norm_sq"),
        F.expr(
            "CASE WHEN b < b10 THEN 'low' WHEN b > b90 THEN 'high'"
            " ELSE 'mid' END"
        ).alias("band"),
    )


# --- Hyperplane LSH (SimHash over embeddings) ------------------------------
# Sign matrix is derived from md5 hex-digit parity so BOTH engines (and the
# driver's DuckDB oracle) can regenerate it independently: plane j applies
# sign +1 to dimension i iff the first hex digit of md5("hp|j|i") is even.
_ODD_HEX = "13579bdf"


def _plane_sign(j: int, i: int) -> int:
    import hashlib

    return -1 if hashlib.md5(f"hp|{j}|{i}".encode()).hexdigest()[0] in _ODD_HEX else 1


def simhash_pairs(
    emb: DataFrame,
    dim: int = 64,
    n_bits: int = 16,
    n_bands: int = 4,
    max_ham: int = 6,
    max_bucket: int = 1000,
) -> DataFrame:
    """Random-hyperplane LSH near-duplicate pairs over an embedding
    column (Charikar, STOC 2002) — the third leg of the embedding-dedup
    scale story next to the IVF cell blocking (embcos_dedup) and the
    shingle MinHash (doc_minhash_dedup): no trainer, no centroids, one
    all-JVM projection computes a n_bits sign signature per vector, and
    banding over the signature blocks candidates exactly like the
    MinHash band join. P[bit collision] = 1 - theta/pi, so Hamming
    distance on the signature is a calibrated cosine proxy; candidates
    within max_ham are verified with the exact integer squared-cosine.

    Engine-portable determinism: hyperplane signs come from md5 parity
    (see _plane_sign), quantization is floor(x*100) in float64 — both
    reproducible in DuckDB SQL, so the whole path sits under the exact
    oracle gate.

    Scale plan: the signature stage is one narrow projection (zip_with/
    aggregate over literal plane arrays — whole-stage codegen, no
    shuffle, no Python); banding explodes n_bands skinny rows per
    vector; the band join is an equi-join with per-bucket population
    caps (max_bucket, same guard as dedup.py's MinHash bands) so a
    degenerate signature distribution cannot go quadratic; the verify
    touches candidate pairs only.
    """
    planes = [[_plane_sign(j, i) for i in range(dim)] for j in range(n_bits)]
    q = emb.select(
        F.col("vec_id").alias("id"),
        F.expr(
            "transform(embedding, x -> cast(floor(cast(x as double) * 100) as bigint))"
        ).alias("q"),
    )
    bit_terms = []
    for j, row in enumerate(planes):
        arr = f"array({','.join(f'{s}L' for s in row)})"
        dot = f"aggregate(zip_with(q, {arr}, (x, s) -> x * s), 0L, (a, y) -> a + y)"
        bit_terms.append(f"(CASE WHEN {dot} >= 0 THEN {1 << j}L ELSE 0L END)")
    sig = q.select(
        "id",
        "q",
        F.expr(" + ".join(bit_terms)).alias("sig"),
        F.expr("aggregate(q, 0L, (a, x) -> a + x * x)").alias("n2"),
    )
    bpb = n_bits // n_bands
    mask = (1 << bpb) - 1
    bands = sig.select(
        "id",
        "sig",
        "n2",
        "q",
        F.explode(
            F.array(*[
                F.expr(f"named_struct('b', {b}, 'v', shiftright(sig, {b * bpb}) & {mask}L)")
                for b in range(n_bands)
            ])
        ).alias("bv"),
    ).select("id", "sig", "n2", "q", F.col("bv.b").alias("b"), F.col("bv.v").alias("v"))
    # population cap per (band, value) bucket — quadratic-blowup guard
    ok = (
        bands.groupBy("b", "v")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") <= max_bucket)
        .select("b", "v")
    )
    bands = bands.join(ok, ["b", "v"])
    a, c = bands.alias("a"), bands.alias("c")
    pairs = (
        a.join(c, ["b", "v"])
        .where(F.col("a.id") < F.col("c.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("c.id").alias("id_b"),
            F.col("a.sig").alias("sig_a"),
            F.col("c.sig").alias("sig_b"),
            F.col("a.q").alias("qa"),
            F.col("c.q").alias("qb"),
            F.col("a.n2").alias("na2"),
            F.col("c.n2").alias("nb2"),
        )
        .dropDuplicates(["id_a", "id_b"])
        .withColumn("hamming", F.expr("bit_count(sig_a ^ sig_b)"))
        .where(F.col("hamming") <= max_ham)
        # degenerate-embedding guard: a vector whose components all
        # quantize to 0 has n2=0 (and an all-ones signature, so two such
        # vectors always band-collide at hamming 0); the cosine verify
        # would then divide by zero — NULL in Spark, an error in the
        # DuckDB oracle. Such vectors carry no direction: drop the pair.
        .where((F.col("na2") > 0) & (F.col("nb2") > 0))
    )
    dot = "aggregate(zip_with(qa, qb, (x, y) -> x * y), 0L, (a, y) -> a + y)"
    return pairs.select(
        "id_a",
        "id_b",
        F.col("hamming").cast("long").alias("hamming"),
        F.expr(
            f"CASE WHEN {dot} < 0 THEN -1L ELSE 1L END"
            f" * (({dot}) * ({dot}) * 1000000L div (na2 * nb2))"
        ).cast("long").alias("cos2s_u"),
    )
