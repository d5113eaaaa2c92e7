"""Near-duplicate detection for the documents table at crawl scale:
MinHash + LSH banding and SimHash — the sub-quadratic paths that replace
the exact n-gram Jaccard self-join (docs.ngram_jaccard_pairs) when the
corpus no longer fits a shingle-key shuffle.

ALL-JVM: shingling (higher-order functions over the token array), the
md5-derived 32-bit hash family, the 64 min-hash aggregates, band keys,
candidate self-joins, and the exact-Jaccard / Hamming verification are
Spark SQL expressions inside whole-stage codegen — no Python in the hot
path. The hash family (first/second 8 hex chars of md5, Carter-Wegman
(a*(h mod p)+b) mod p over p = 2^31-1 so every product stays in int64)
is chosen to be bit-reproducible in DuckDB, so both dedup paths run under
the driver's exact-match oracle gate instead of rows-only checks.

Candidate generation is banded LSH (16 bands x 4 rows over 64 hashes) —
the band/bucket key is the shuffle key of the dedup job at crawl scale;
hot buckets (boilerplate) are capped before the pair join, and the
verification join ships only (doc_id, shingle) pairs for candidates,
never all-pairs text.

The doc_minhash / doc_simhash / doc_jaccard Python twins at the bottom
are single-process test oracles (pytest parity), not execution paths.
"""

from __future__ import annotations

import hashlib

import numpy as np

from pyspark.sql import DataFrame, functions as F

N_HASHES = 64
LSH_BANDS = 16          # 16 bands x 4 rows -> ~0.47 jaccard 50% threshold
LSH_ROWS = N_HASHES // LSH_BANDS
# Carter-Wegman family over Z_p with p = 2^31 - 1: h is reduced mod p
# first, so a*h < 2^62 never overflows int64 (Spark) and never overflows
# DuckDB's checked BIGINT multiply, while the multiplication wraps the
# modulus ~2^31 times (a near-2^61 modulus with small multipliers would
# be order-preserving and break the min-hash uniformity).
_P = (1 << 31) - 1
_RNG = np.random.RandomState(7)
_A = _RNG.randint(1, _P, size=N_HASHES).astype(np.int64)
_B = _RNG.randint(0, _P, size=N_HASHES).astype(np.int64)

SIMHASH_BITS = 64
# Shared by the Spark operators, their DuckDB twins (sql_*) and the
# single-process twins below.
SHINGLE_N = 3  # words per shingle
MINHASH_THRESHOLD = 0.5  # verified Jaccard gate
MINHASH_BUCKET_CAP = 1000  # band-bucket population cap (boilerplate guard)

_TOKS = "regexp_extract_all(lower(text), '[a-z0-9]+', 0)"
_SHINGLES = (
    "CASE WHEN size(_toks) = 0 THEN array()"
    f" WHEN size(_toks) < {SHINGLE_N} THEN array(concat_ws(' ', _toks))"
    f" ELSE array_distinct(transform(sequence(0, size(_toks) - {SHINGLE_N}),"
    f" i -> concat_ws(' ', slice(_toks, i + 1, {SHINGLE_N})))) END"
)
# first / second 8 hex chars of md5 as independent 32-bit hashes —
# reproducible in DuckDB as ('0x' || substr(md5(x), ...))::BIGINT
_H32_LO = "cast(conv(substr(md5({x}), 1, 8), 16, 10) as bigint)"
_H32_HI = "cast(conv(substr(md5({x}), 9, 8), 16, 10) as bigint)"


def doc_shingle_rows(docs: DataFrame) -> DataFrame:
    """(doc_id, shingle) — distinct word-3-gram shingles, JVM-side."""
    return (
        docs.withColumn("_toks", F.expr(_TOKS))
        .withColumn("_sh", F.expr(_SHINGLES))
        .select("doc_id", F.explode("_sh").alias("shingle"))
    )


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, mh0..mh63) — 64 Carter-Wegman min-hashes per doc as one
    hash-aggregate with map-side combine (shuffle = 64 longs per doc)."""
    sh = doc_shingle_rows(docs).withColumn(
        "h", F.expr(_H32_LO.format(x="shingle"))
    )
    aggs = [
        F.min(F.expr(f"({int(_A[i])} * (h % {_P}) + {int(_B[i])}) % {_P}")).alias(f"mh{i}")
        for i in range(N_HASHES)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def minhash_bands(docs: DataFrame) -> DataFrame:
    """(doc_id, band, bkey) — LSH banding of the signature; bkey is the
    band's row values joined with '|' (a plain grouping key — at crawl
    scale hash it to shrink shuffle bytes; the join semantics are
    identical)."""
    sig = minhash_signatures(docs)
    structs = ", ".join(
        "struct({b} as band, concat_ws('|', {cols}) as bkey)".format(
            b=b,
            cols=", ".join(f"mh{b * LSH_ROWS + r}" for r in range(LSH_ROWS)),
        )
        for b in range(LSH_BANDS)
    )
    return (
        sig.select("doc_id", F.explode(F.expr(f"array({structs})")).alias("x"))
        .select("doc_id", F.col("x.band").alias("band"), F.col("x.bkey").alias("bkey"))
    )


def minhash_candidates(docs: DataFrame) -> DataFrame:
    """Candidate near-dup pairs: same (band, bkey); buckets larger than
    MINHASH_BUCKET_CAP dropped (boilerplate guard — the quadratic blowup
    cap)."""
    bands = minhash_bands(docs)
    ok = (
        bands.groupBy("band", "bkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") <= MINHASH_BUCKET_CAP)
        .select("band", "bkey")
    )
    b = bands.join(ok, ["band", "bkey"])
    l, r = b.alias("l"), b.alias("r")
    return (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bkey") == F.col("r.bkey"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b"))
        .distinct()
    )


def minhash_dedup_pairs(docs: DataFrame) -> DataFrame:
    """Verified near-dup pairs: LSH candidates -> exact Jaccard gate
    (>= MINHASH_THRESHOLD) via a skinny (doc_id, shingle) join restricted
    to the candidate list — never an all-pairs comparison, never full
    text through the shuffle."""
    thr_u = int(MINHASH_THRESHOLD * 1_000_000)
    sh = doc_shingle_rows(docs)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    cands = minhash_candidates(docs)
    shared = (
        cands.join(sh.select(F.col("doc_id").alias("doc_a"), "shingle"), "doc_a")
        .join(sh.select(F.col("doc_id").alias("doc_b"), "shingle"), ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    return (
        shared.join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb")),
            "doc_b",
        )
        .withColumn(
            "jaccard_u",
            F.expr("shared * 1000000 div (na + nb - shared)"),
        )
        .where(F.col("jaccard_u") >= thr_u)
        .select("doc_a", "doc_b", F.col("jaccard_u").cast("long").alias("jaccard_u"))
    )


def _bit_sum_aggs() -> list:
    """64 per-bit sign sums: bit b of the token's 64-bit hash (two md5
    words) contributes +1/-1."""
    aggs = []
    for b in range(SIMHASH_BITS):
        col, shift = ("hlo", b) if b < 32 else ("hhi", b - 32)
        aggs.append(
            F.sum(F.expr(f"(({col} >> {shift}) & 1) * 2 - 1")).alias(f"s{b}")
        )
    return aggs


_CHUNK_EXPRS = [
    " + ".join(f"IF(s{16 * c + j} > 0, {1 << j}, 0)" for j in range(16))
    for c in range(4)
]


def _simhash_chunks(docs: DataFrame) -> DataFrame:
    """(doc_id, c0..c3) — the four 16-bit chunk values of the SimHash."""
    toks = docs.select(
        "doc_id", F.explode(F.expr(_TOKS)).alias("token")
    ).select(
        "doc_id",
        F.expr(_H32_LO.format(x="token")).alias("hlo"),
        F.expr(_H32_HI.format(x="token")).alias("hhi"),
    )
    sums = toks.groupBy("doc_id").agg(*_bit_sum_aggs())
    return sums.select(
        "doc_id",
        *[F.expr(_CHUNK_EXPRS[c]).cast("long").alias(f"c{c}") for c in range(4)],
    )


def simhash_near_pairs(docs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """SimHash near-dup pairs: block on 4 x 16-bit chunks (any pair within
    Hamming distance 3 must agree on at least one chunk — pigeonhole), then
    verify the full Hamming distance JVM-side (bit_count over the four
    chunk xors; chunk values are non-negative so the arithmetic is
    identical in the DuckDB oracle)."""
    fp = _simhash_chunks(docs)
    chunk_structs = ", ".join(
        f"struct({c} as chunk, c{c} as val)" for c in range(4)
    )
    chunks = fp.select(
        "doc_id", "c0", "c1", "c2", "c3",
        F.explode(F.expr(f"array({chunk_structs})")).alias("x"),
    ).select(
        "doc_id", "c0", "c1", "c2", "c3",
        F.col("x.chunk").alias("chunk"), F.col("x.val").alias("val"),
    )
    l, r = chunks.alias("l"), chunks.alias("r")
    hamming = " + ".join(
        f"bit_count(l.c{c} ^ r.c{c})" for c in range(4)
    )
    return (
        l.join(
            r,
            (F.col("l.chunk") == F.col("r.chunk"))
            & (F.col("l.val") == F.col("r.val"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("doc_a"),
            F.col("r.doc_id").alias("doc_b"),
            F.expr(hamming).cast("long").alias("hamming"),
        )
        .distinct()
        .where(F.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------------------------------
# DuckDB oracle SQL builders — term-for-term mirrors of the JVM plans.
# ---------------------------------------------------------------------------


def sql_shingles_cte(source_sql: str) -> str:
    """CTE chain `sh` (doc_id, shingle) + `sizes` over any (doc_id, text)
    source — DuckDB twin of doc_shingle_rows."""
    return f"""
dtok AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
  FROM ({source_sql})
),
sh AS (
  SELECT doc_id, unnest(
    CASE WHEN len(toks) = 0 THEN []
         WHEN len(toks) < {SHINGLE_N} THEN [array_to_string(toks, ' ')]
         ELSE list_distinct(list_transform(range(1, len(toks) - {SHINGLE_N - 2}),
              i -> array_to_string(list_slice(toks, i, i + {SHINGLE_N - 1}), ' ')))
    END) AS shingle
  FROM dtok
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1)"""


def sql_minhash_pairs(source_sql: str) -> str:
    thr_u = int(MINHASH_THRESHOLD * 1_000_000)
    consts = ", ".join(
        f"({i}, {int(_A[i])}, {int(_B[i])})" for i in range(N_HASHES)
    )
    return f"""
WITH {sql_shingles_cte(source_sql).lstrip()},
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
ok AS (SELECT band, bkey FROM bands GROUP BY 1, 2 HAVING count(*) <= {MINHASH_BUCKET_CAP}),
b2 AS (SELECT bands.* FROM bands JOIN ok USING (band, bkey)),
cands AS (
  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
  FROM b2 l JOIN b2 r ON l.band = r.band AND l.bkey = r.bkey AND l.doc_id < r.doc_id
),
shared AS (
  SELECT c.doc_a, c.doc_b, count(*) AS shared
  FROM cands c
  JOIN sh sa ON sa.doc_id = c.doc_a
  JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
  GROUP BY 1, 2
)
SELECT s.doc_a, s.doc_b,
       (s.shared * 1000000) // (za.n_sh + zb.n_sh - s.shared) AS jaccard_u
FROM shared s
JOIN sizes za ON za.doc_id = s.doc_a
JOIN sizes zb ON zb.doc_id = s.doc_b
WHERE (s.shared * 1000000) // (za.n_sh + zb.n_sh - s.shared) >= {thr_u}"""


def sql_simhash_pairs(source_sql: str, max_hamming: int = 3) -> str:
    sum_cols = ", ".join(
        "sum(((({col} >> {sh}) & 1) * 2 - 1)) AS s{b}".format(
            col="hlo" if b < 32 else "hhi", sh=b if b < 32 else b - 32, b=b
        )
        for b in range(SIMHASH_BITS)
    )
    chunk_cols = ", ".join(
        " + ".join(f"(CASE WHEN s{16 * c + j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(16))
        + f" AS c{c}"
        for c in range(4)
    )
    hamming = " + ".join(f"bit_count(xor(l.c{c}, r.c{c}))" for c in range(4))
    chunk_union = " UNION ALL ".join(
        f"SELECT doc_id, c0, c1, c2, c3, {c} AS chunk, c{c} AS val FROM fp"
        for c in range(4)
    )
    return f"""
WITH dtok AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
  FROM ({source_sql})
),
tk AS (SELECT doc_id, unnest(toks) AS token FROM dtok),
th AS (
  SELECT doc_id,
         ('0x' || substr(md5(token), 1, 8))::BIGINT AS hlo,
         ('0x' || substr(md5(token), 9, 8))::BIGINT AS hhi
  FROM tk
),
sums AS (SELECT doc_id, {sum_cols} FROM th GROUP BY 1),
fp AS (SELECT doc_id, {chunk_cols} FROM sums),
chunks AS ({chunk_union}),
pairs AS (
  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b,
         {hamming} AS hamming
  FROM chunks l JOIN chunks r
    ON l.chunk = r.chunk AND l.val = r.val AND l.doc_id < r.doc_id
)
SELECT doc_a, doc_b, hamming FROM pairs WHERE hamming <= {max_hamming}"""


# ---------------------------------------------------------------------------
# Single-process twins (pytest parity oracles only — not execution paths).
# ---------------------------------------------------------------------------


def word_shingles(text: str) -> set[str]:
    import re

    n = SHINGLE_N
    toks = re.findall(r"[a-z0-9]+", text.lower())
    if len(toks) < n:
        return {" ".join(toks)} if toks else set()
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def _h32(s: str, hi: bool = False) -> int:
    d = hashlib.md5(s.encode("utf-8")).hexdigest()
    return int(d[8:16] if hi else d[:8], 16)


def doc_minhash(text: str) -> np.ndarray:
    h = np.array([_h32(s) for s in word_shingles(text)], dtype=np.int64)
    if len(h) == 0:
        return np.zeros(N_HASHES, dtype=np.int64)
    return ((_A[None, :] * (h[:, None] % _P) + _B[None, :]) % _P).min(axis=0)


def doc_jaccard(a: str, b: str) -> float:
    sa, sb = word_shingles(a), word_shingles(b)
    u = sa | sb
    return len(sa & sb) / len(u) if u else 0.0


def doc_simhash(text: str) -> int:
    import re

    acc = np.zeros(SIMHASH_BITS, dtype=np.int64)
    for t in re.findall(r"[a-z0-9]+", text.lower()):
        h = (_h32(t, hi=True) << 32) | _h32(t)
        for bit in range(SIMHASH_BITS):
            acc[bit] += 1 if (h >> bit) & 1 else -1
    out = sum(1 << b for b in range(63) if acc[b] > 0)
    return out - (1 << 63 if acc[63] > 0 else 0)


def prefix_filter_pairs(
    docs: DataFrame, tau_num: int = 4, tau_den: int = 5
) -> DataFrame:
    """Prefix-filtering set-similarity self-join (Chaudhuri et al.
    SSJoin 2006 / Bayardo All-Pairs 2007) — the THIRD classic dedup
    blocking family alongside MinHash-LSH (probabilistic) and sorted
    neighborhood (sort-order locality), and unlike LSH it is EXACT:
    every pair with token-set Jaccard >= tau is guaranteed emitted.

    The trick: order each document's distinct tokens by ascending
    corpus frequency (rarest first; ties on the token string) and
    index only the PREFIX of length |d| - ceil(tau*|d|) + 1 — two sets
    can reach Jaccard tau only if their prefixes share a token, so the
    candidate join runs on the rare end of the vocabulary (the
    frequency ordering is what keeps the inverted index's posting
    lists short). Candidates then pass the length filter
    (tau*|a| <= |b| <= |a|/tau, integer cross-multiplied) before the
    exact intersection verify, which is restricted to candidates only.

    Plan shape at 100 TB: one distinct (doc, tok) shuffle; a
    vocab-sized df table joined back (hot tokens are well-spread
    keys); prefix rank is a per-doc window (co-partitioned, skinny);
    the candidate join shuffles on the token key with posting lists
    frequency-bounded by construction; verification is one
    candidate-restricted equi-join + count. All arithmetic integer
    (tau as a fraction, micro-unit Jaccard), so the whole operator is
    value-hash exact under the DuckDB gate.

    docs: (doc_id, text). Returns (doc_a, doc_b, inter_sz, jaccard_u)
    with jaccard_u = 1e6 * |A∩B| div |A∪B| >= 1e6 * tau_num/tau_den.
    """
    from pyspark.sql import Window

    dt = docs.select(
        "doc_id",
        F.explode(
            F.expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")
        ).alias("tok"),
    ).distinct()
    dt = dt.localCheckpoint(eager=False)
    dfq = dt.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy("df", "tok")
    ws = Window.partitionBy("doc_id")
    r = (
        dt.join(dfq, "tok")
        .withColumn("rn", F.row_number().over(w))
        .withColumn("sz", F.count(F.lit(1)).over(ws))
    )
    pre = r.where(
        F.col("rn")
        <= F.col("sz")
        - F.expr(f"({tau_num} * sz + {tau_den} - 1) div {tau_den}")
        + 1
    ).select("doc_id", "tok", "sz")
    a = pre.select(
        F.col("doc_id").alias("doc_a"), "tok", F.col("sz").alias("sz_a")
    )
    b = pre.select(
        F.col("doc_id").alias("doc_b"), "tok", F.col("sz").alias("sz_b")
    )
    cand = (
        a.join(b, "tok")
        .where(F.col("doc_a") < F.col("doc_b"))
        .where(
            (F.col("sz_b") * tau_den >= F.col("sz_a") * tau_num)
            & (F.col("sz_a") * tau_den >= F.col("sz_b") * tau_num)
        )
        .select("doc_a", "doc_b", "sz_a", "sz_b")
        .distinct()
    )
    x = dt.select(F.col("doc_id").alias("doc_a"), "tok")
    y = dt.select(F.col("doc_id").alias("doc_b"), "tok")
    inter = (
        cand.join(x, "doc_a")
        .join(y, ["doc_b", "tok"])
        .groupBy("doc_a", "doc_b", "sz_a", "sz_b")
        .agg(F.count(F.lit(1)).alias("inter_sz"))
    )
    jac = F.expr("(1000000 * inter_sz) div (sz_a + sz_b - inter_sz)")
    return (
        inter.withColumn("jaccard_u", jac)
        .where(F.col("jaccard_u") >= 1_000_000 * tau_num // tau_den)
        .select(
            "doc_a",
            "doc_b",
            F.col("inter_sz").cast("long").alias("inter_sz"),
            F.col("jaccard_u").cast("long").alias("jaccard_u"),
        )
    )
