"""Streaming-summary sketches over the document corpus: HyperLogLog
(cardinality) and count-min (frequency).

At 100 TB you cannot afford `COUNT(DISTINCT token)` per slice — the
distinct set itself is the shuffle. HyperLogLog (Flajolet et al. 2007)
is the standard answer: hash every item once (a pure map), keep only
2^p max-of-leading-zero registers per group (a bounded, partial-agg
friendly groupBy), and estimate cardinality from the registers. The
registers are MERGEABLE (elementwise max), which is what lets daily /
per-partition sketches roll up without touching raw data — the same
reason every warehouse exposes approx_count_distinct.

Spark's built-in `approx_count_distinct` is exactly this, but its
HLL++ bias tables are engine-specific — useless under a cross-engine
exact gate. This implementation is engine-neutral by construction:

- hash = first 15 hex chars of md5 (60 bits; the repo-wide pattern,
  operators/dedup.py:57) — identical on any engine;
- rho (leading-zero rank) via `length(bin(w))` — integer-only, both
  Spark and DuckDB ship `bin`;
- the harmonic denominator is computed as the EXACT INTEGER sum of
  `1 << (RHO_MAX - M)` per register (never a float sum, so it is
  order-independent — float accumulation order would differ between
  engines), and only the final alpha * m^2 * 2^RHO_MAX / S division
  runs in float64 — one deterministic IEEE operation chain.

The standard small-range correction (linear counting, est =
m * ln(m / zeros) when the raw estimate <= 2.5m) IS applied — its
`ln` is libm-dependent, but the branch's entire input domain is
zeros in [1, 256], and floor(m * ln(m / zeros)) was verified EQUAL
on Spark/JVM and DuckDB/libm for all 256 possible inputs (the raw
doubles differ in 18/256 cases; every floored value agrees), so the
correction is exhaustively parity-safe at m=256. The branch
condition compares only libm-free deterministic-IEEE quantities.
No large-range correction: at 60 hash bits collisions are
negligible (the usual 64-bit-hash argument). Error ~1.04/sqrt(m)
≈ 6.5% at m=256 — pinned against exact distincts in pytest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

HLL_P = 8  # 2^8 = 256 registers per group
HLL_M = 1 << HLL_P
RHO_MAX = 53  # hash is 60 bits; 60 - p = 52 payload bits, rho in [1, 53]

_H60 = "cast(conv(substr(md5({x}), 1, 15), 16, 10) as bigint)"

# Every sketch here reads an item table (source, tok): tokens, grouped by
# their source.


def hll_registers(items: DataFrame) -> DataFrame:
    """(g, bucket, M): the 2^p HLL registers per source. One pure-map
    hash projection, one (group, bucket) max-agg — partial aggregation
    does almost all the work map-side, the shuffle carries at most
    groups * 256 skinny rows. Absent buckets are absent rows (M=0 is
    implied); hll_estimate fills them in."""
    h = F.expr(_H60.format(x="tok"))
    return (
        items.select(F.col("source").alias("g"), h.alias("h"))
        .select(
            "g",
            (F.col("h") % HLL_M).alias("bucket"),
            F.expr(f"h div {HLL_M}").alias("w"),
        )
        .withColumn(
            "rho",
            F.when(F.col("w") == 0, F.lit(RHO_MAX)).otherwise(
                F.lit(RHO_MAX) - F.expr("length(bin(w))")
            ),
        )
        .groupBy("g", "bucket")
        .agg(F.max("rho").alias("M"))
    )


def hll_estimate(regs: DataFrame) -> DataFrame:
    """Registers -> (g, zeros, hll_q). Mergeable: to combine sketches,
    union register tables and re-run (max per bucket folds in the
    groupBy here). S is the exact integer sum over all 256 buckets of
    2^(RHO_MAX - M) (missing buckets contribute the full 2^RHO_MAX);
    the estimate is floor(alpha_m * m^2 * 2^RHO_MAX / S)."""
    folded = regs.groupBy("g", "bucket").agg(F.max("M").alias("M"))
    per_g = folded.groupBy("g").agg(
        F.sum(F.expr(f"shiftleft(1L, {RHO_MAX} - M)")).alias("s_present"),
        F.count(F.lit(1)).alias("n_present"),
        F.sum(F.when(F.col("M") == 0, 1).otherwise(0)).alias("zero_present"),
    )
    # absent buckets: M = 0 -> each contributes 2^RHO_MAX and one zero
    s_total = F.expr(
        f"s_present + ({HLL_M} - n_present) * shiftleft(1L, {RHO_MAX})"
    )
    zeros = F.expr(f"zero_present + ({HLL_M} - n_present)")
    # e-notation literals parse as DOUBLE on both engines (bare decimals
    # would be DECIMAL with engine-specific scale rules — a parity trap)
    alpha = f"(0.7213e0 / (1 + 1.079e0 / {HLL_M}))"
    raw = (
        f"{alpha} * {HLL_M} * {HLL_M}"
        f" * cast(shiftleft(1L, {RHO_MAX}) as double)"
        f" / cast(s_total as double)"
    )
    est = F.expr(
        f"cast(CASE WHEN ({raw}) <= 2.5e0 * {HLL_M} AND zeros > 0"
        f" THEN floor({HLL_M} * ln({HLL_M} / cast(zeros as double)))"
        f" ELSE floor({raw}) END as bigint)"
    )
    return (
        per_g.withColumn("s_total", s_total)
        .withColumn("zeros", zeros.cast("long"))
        .withColumn("hll_q", est)
        .select("g", "zeros", "hll_q")
    )


def hll_distinct(items: DataFrame) -> DataFrame:
    """End-to-end: (source, zeros, hll_q, exact_distinct). The exact
    count rides along for test-scale audit — at 100 TB you would emit
    only the sketch (the exact leg is the expensive thing HLL exists
    to avoid)."""
    est = hll_estimate(hll_registers(items))
    exact = (
        items.groupBy(F.col("source").alias("g"))
        .agg(F.countDistinct("tok").alias("exact_distinct"))
    )
    return (
        est.join(exact, "g")
        .select(
            F.col("g").alias("source"),
            "zeros",
            "hll_q",
            F.col("exact_distinct").cast("long").alias("exact_distinct"),
        )
    )


CMS_D = 4  # hash rows
CMS_W = 256  # counters per row


# CMS row hash of the `tok` column: d positions per item
_CMS_POS = (
    "cast(conv(substr(md5(concat(r, ':', tok)), 1, 15), 16, 10)"
    f" as bigint) % {CMS_W}"
)


def cms_counters(items: DataFrame) -> DataFrame:
    """Count-min sketch counters (Cormode & Muthukrishnan 2005) — the
    FREQUENCY leg of the sketch pair (hll_* is the cardinality leg).
    At 100 TB you cannot groupBy the full token stream per slice just
    to ask "how often does X appear, roughly"; CMS folds the stream
    into d x w integer counters (here 4 x 256 — fixed size regardless
    of corpus), updatable by partial aggregation and MERGEABLE by
    elementwise SUM (unlike HLL's max — both sketches roll up across
    partitions/days, by different monoids).

    One pure-map projection (d hash positions per item, the repo-wide
    md5 pattern so DuckDB reproduces every position bit-for-bit) and
    one (row, pos) count — the shuffle carries at most d*w skinny
    rows. Returns (r, pos, c)."""
    rows = F.explode(F.expr(f"sequence(0, {CMS_D - 1})")).alias("r")
    return (
        items.select("tok", rows)
        .withColumn("pos", F.expr(_CMS_POS))
        .groupBy("r", "pos")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def cms_estimate(counters: DataFrame, keys: DataFrame) -> DataFrame:
    """Point-query the sketch for `keys` (tok): estimate(key) = min over
    the d rows of the counter its hash lands in — an upper bound on the true count
    (collisions only ever inflate), within eps*N with probability
    1-delta for w = e/eps, d = ln(1/delta). The counter table is
    d*w rows — always broadcast; querying K keys is one projection +
    broadcast join + min-agg."""
    rows = F.explode(F.expr(f"sequence(0, {CMS_D - 1})")).alias("r")
    return (
        keys.select("tok", rows)
        .withColumn("pos", F.expr(_CMS_POS))
        .join(F.broadcast(counters), ["r", "pos"])
        .groupBy("tok")
        .agg(F.min("c").cast("long").alias("cms_est"))
    )
