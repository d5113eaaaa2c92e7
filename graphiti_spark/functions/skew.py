"""Explicit skew handling for hot keys (the north rule's "salted keys
for hot-domain skew").

The engine's DEFAULT posture is AQE: `spark.sql.adaptive.skewJoin`
splits oversized sort-merge partitions at runtime (session.py), which is
the right tool for the common case and needs no plan changes. This
module is the EXPLICIT fallback for the cases AQE does not cover:

* `salted_join` — AQE skew-join only applies to sort-merge joins of two
  shuffled sides; when the skewed side feeds other operators that pin
  the partitioning, or when running on engines/configs without AQE, the
  classic salt is still the answer. The big (skewed) side is salted by
  a deterministic hash of the whole row into `n_salt` sub-keys; the
  small side is replicated once per salt value (an explode, NOT a
  broadcast — the small side can be entity-scaled). Result is
  row-identical to the plain join (pytest-pinned).

* `salted_top1_by` — a skew-proof argmin/argmax per key: two-phase
  (key, salt) partial -> key final aggregation, replacing a
  `row_number().over(partitionBy(key))` window whose hot key would
  otherwise land on one task. groupBy aggregations already partial-
  aggregate map-side, so this is only needed when the per-key REDUCTION
  itself must carry heavy payloads.

Reference anchor: graphiti has no distributed layer (every query is one
Neo4j round-trip); skew discipline is part of the Spark re-architecture
(SURVEY.md §2.3 J1, §4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: list[str],
    n_salt: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Join `big` (skewed on `on`) with `small`, salting the hot keys
    across `n_salt` sub-partitions. Row-identical to big.join(small, on,
    how); `how` may be 'inner' or 'left'. Columns of the result match
    the plain join (salt columns are dropped)."""
    if how not in ("inner", "left"):
        raise ValueError("salted_join supports inner/left")
    salt_expr = F.pmod(F.xxhash64(*[F.col(c) for c in big.columns]), F.lit(n_salt))
    b = big.withColumn("_salt", salt_expr)
    s = small.withColumn(
        "_salt", F.explode(F.expr(f"sequence(0, {n_salt - 1})"))
    )
    return b.join(s, [*on, "_salt"], how).drop("_salt")


def salted_top1_by(
    df: DataFrame, keys: list[str], order: str, payload: list[str],
    n_salt: int = 16,
) -> DataFrame:
    """Per-key arg-min of `order`, carrying `payload` columns, as a
    two-phase salted aggregation: phase 1 reduces each (key, salt) slice,
    phase 2 reduces the <= n_salt survivors per key — no single task ever
    sees more than a salt-slice of a hot key."""
    agg_fn = F.min_by
    struct = F.struct(*[F.col(c) for c in [order, *payload]])
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(n_salt))
    phase1 = (
        df.withColumn("_salt", salt)
        .groupBy(*keys, "_salt")
        .agg(agg_fn(struct, F.col(order)).alias("_best"))
        .select(*keys, "_salt", "_best.*")
    )
    return (
        phase1.groupBy(*keys)
        .agg(agg_fn(struct, F.col(order)).alias("_best"))
        .select(*keys, "_best.*")
    )
