"""Entity resolution at scale (X5/X6/X7 + F16 + J1).

graphiti resolves each extracted node against LSH-free LLM-judged candidate
lists, one episode at a time (/root/reference/graphiti_core/utils/
maintenance/node_operations.py:298-412; bulk_utils.py:243-327 for the
recursive sqrt-chunk batch variant). The distributed redesign (per the
north rule) is ONE resolver, `resolve_entities`, which resolves new
entities against a standing index (EntityIndex); a batch build is the
case of an empty index (full resolution is the delta over an empty
index, as in dynamic-data ER):

1. **blocking** — exact key: normalized entity name (lowercase, honorific
   and corporate-suffix stripped); fuzzy key: MinHash-LSH bands over char
   3-gram shingles of the normalized name;
2. **match-edge list** — candidate pairs involving >= 1 new entity
   (exact-norm pairs are matches by definition; LSH pairs verified by
   exact shingle Jaccard >= threshold, JVM-side in the band join);
3. **connected components** over the match edges with standing endpoints
   contracted to their canonical uuid (iterative min-label propagation —
   GraphFrames-free), canonical uuid = min(uuid) per component. This
   reproduces graphiti's order-dependent "first wins"
   (bulk_utils.py:246-249) with a deterministic total order;
4. **uuid_map broadcast join** to remap edge pointers
   (resolve_edge_pointers, bulk_utils.py:367-374 → J1).

Skew note (100 TB): blocking keys are salted only for the *candidate
verification* stage; the CC edge list is tiny relative to the corpus
(only names that collide), and AQE skew-join handles hot names like
"John Smith" at crawl scale.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from pyspark.sql import DataFrame, Window, functions as F

from ..session import local_frame

# --- MinHash parameters (deterministic hash family) -----------------------
# 16 bands x 2 rows: candidate recall at the verification threshold is
# effectively 1 (P(miss) = (1 - J^2)^16 ~ 2e-6 at J=0.75) — required
# because the driver's oracle gate treats fuzzy resolution as exact truth.
# The wider banding admits more low-J candidates than 8x4 would; the
# Jaccard verification step is the precision guard (and the corpus's
# cross-entity ceiling is J=0.2, far under threshold).
N_HASHES = 32
# shingle width: the Python signature (char_shingles) and the JVM band
# rows (_SHINGLE_ARR) must agree
SHINGLE_N = 3
LSH_BANDS = 16
LSH_ROWS = N_HASHES // LSH_BANDS
# Carter-Wegman family over Z_p, p = 2^31 - 1: hashes reduced mod p first
# so products never overflow int64 and the multiplication wraps the
# modulus ~2^31 times (proper min-hash mixing) — same family shape as
# operators/dedup.py
_MERSENNE31 = (1 << 31) - 1
_RNG = np.random.RandomState(42)
_A_NM = _RNG.randint(1, _MERSENNE31, size=N_HASHES).astype(np.int64)
_B_NM = _RNG.randint(0, _MERSENNE31, size=N_HASHES).astype(np.int64)


def char_shingles(name: str) -> set[str]:
    s = f"^{name}$"
    return {s[i : i + SHINGLE_N] for i in range(max(1, len(s) - SHINGLE_N + 1))}


def _shingle_hashes(name: str) -> np.ndarray:
    import hashlib

    return np.array(
        [
            int(hashlib.md5(sh.encode("utf-8")).hexdigest()[:8], 16) % _MERSENNE31
            for sh in char_shingles(name)
        ],
        dtype=np.int64,
    )


def minhash_signature(name: str) -> np.ndarray:
    """Single-process twin of the JVM banding expressions (pytest parity)."""
    h = _shingle_hashes(name)
    sig = ((_A_NM[None, :] * h[:, None] + _B_NM[None, :]) % _MERSENNE31).min(axis=0)
    return sig


def jaccard(a: str, b: str) -> float:
    sa, sb = char_shingles(a), char_shingles(b)
    return len(sa & sb) / len(sa | sb) if sa | sb else 0.0


def distinct_entities(mentions: DataFrame) -> DataFrame:
    """Distinct (group_id, name) with deterministic display uuid and the
    label chosen by global plurality vote (count desc, label asc)."""
    votes = (
        mentions.groupBy("group_id", "name", "norm_name", "label")
        .count()
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("group_id", "name").orderBy(
                    F.desc("count"), F.asc("label")
                )
            ),
        )
        .where(F.col("rn") == 1)
        .drop("rn", "count")
    )
    return votes.withColumn(
        "uuid", F.md5(F.concat_ws("|", F.lit("node"), "group_id", "name"))
    )


def match_edges_exact(entities: DataFrame) -> DataFrame:
    """Match edges from the exact normalized-name block: every member links
    to the block minimum (star edges — enough for CC correctness)."""
    w = Window.partitionBy("group_id", "norm_name")
    return (
        entities.withColumn("dst", F.min("uuid").over(w))
        .where(F.col("uuid") != F.col("dst"))
        .select(F.col("uuid").alias("src"), "dst")
    )


def sorted_neighborhood_pairs(
    nodes: DataFrame, window: int = 3, max_lev: int = 2
) -> DataFrame:
    """Sorted-neighborhood (merge/purge) blocking — Hernandez & Stolfo
    1995, the OTHER classic entity-resolution candidate generator,
    complementary to the MinHash-LSH path (match_edges_lsh): sort
    entities by a normalized key and compare only records within a
    sliding window of the sort order. LSH catches shared-shingle
    typos anywhere in the string; sorted neighborhood catches
    same-prefix variants (truncations, suffix noise) that can fall
    below a Jaccard threshold, which is why production ER stacks run
    both and union the candidate sets.

    Scale shape: the sort is per group_id (independent KGs — the
    partitionBy key), so ranking is a co-partitioned window, never a
    global single-partition sort; pair generation is an EQUI-join of
    the rank table against itself on (group, rn + off) for off in
    [1, window-1] — no range join, no cross join, fan-out exactly
    window-1 rows per entity. Verification is JVM `levenshtein`
    (identical DP metric in DuckDB — integer, oracle-exact).

    nodes: (group_id, name). Returns (group_id, name_a, name_b, lev)
    with name_a before name_b in sort order, lev <= max_lev."""
    key = F.expr("regexp_replace(lower(name), '[^a-z0-9]', '')")
    w = Window.partitionBy("group_id").orderBy("sort_key", "name")
    ranked = (
        nodes.select("group_id", "name", key.alias("sort_key"))
        .withColumn("rn", F.row_number().over(w))
    )
    right = ranked.select(
        "group_id",
        F.col("rn").alias("rn_b"),
        F.col("name").alias("name_b"),
    )
    return (
        ranked.select(
            "group_id", "rn", F.col("name").alias("name_a"),
            F.explode(F.expr(f"sequence(1, {window - 1})")).alias("off"),
        )
        .withColumn("rn_b", F.col("rn") + F.col("off"))
        .join(right, ["group_id", "rn_b"])
        .withColumn("lev", F.expr("levenshtein(name_a, name_b)"))
        .where(F.col("lev") <= max_lev)
        .select("group_id", "name_a", "name_b", F.col("lev").cast("long").alias("lev"))
    )


# char-3-gram shingle array of '^'||norm_name||'$' as a JVM expression
_SHINGLE_ARR = (
    "array_distinct(transform("
    f"sequence(0, greatest(length('^' || norm_name || '$') - {SHINGLE_N}, 0)),"
    f" i -> substr('^' || norm_name || '$', i + 1, {SHINGLE_N})))"
)
# md5-derived 32-bit hash + Carter-Wegman family over Z_(2^31-1) — the
# same overflow-free, DuckDB-reproducible family as operators/dedup.py
_H32 = "cast(conv(substr(md5({x}), 1, 8), 16, 10) as bigint) % 2147483647"


# one definition of the fuzzy-match configuration, read by the one
# resolver (resolve_entities) when it runs: a build and every merge verify
# at the same Jaccard threshold and drop the same over-populated buckets
LSH_THRESHOLD = 0.6
LSH_BUCKET_CAP = 1000
BUCKET_KEY = ["group_id", "band", "bkey"]


def bucket_sizes(bands: DataFrame) -> DataFrame:
    """(group_id, band, bkey, n) population of each LSH bucket."""
    return bands.groupBy(*BUCKET_KEY).agg(F.count(F.lit(1)).alias("n"))


def match_edges_lsh(
    entities: DataFrame,
    max_bucket: int = LSH_BUCKET_CAP,
) -> DataFrame:
    """Fuzzy match edges among `entities`: the resolver's candidate
    function (lsh_pairs) with every row new, i.e. no standing index."""
    bands = lsh_band_rows(entities).withColumn("_new", F.lit(True))
    return lsh_pairs(bands, bucket_sizes(bands), max_bucket)


def lsh_band_rows(entities: DataFrame) -> DataFrame:
    """(uuid, group_id, _sh, band, bkey) — the LSH index rows of the
    distinct-entity table: the `bands` of an EntityIndex (standing state,
    persisted and appended per batch)."""
    # each shingle is hashed ONCE into _hs; the 32 signature minima reuse
    # it (Catalyst does not share subexpressions across lambda bodies, so
    # hashing inside each signature lambda costs 32 md5 calls per shingle)
    sig = lambda i: (  # noqa: E731
        f"array_min(transform(_hs, h -> ({int(_A_NM[i])} * h"
        f" + {int(_B_NM[i])}) % {_MERSENNE31}))"
    )
    band_structs = ", ".join(
        "struct({b} as band, concat_ws('|', {cols}) as bkey)".format(
            b=b,
            cols=", ".join(sig(b * LSH_ROWS + r) for r in range(LSH_ROWS)),
        )
        for b in range(LSH_BANDS)
    )
    return (
        entities.select("uuid", "group_id", "norm_name")
        .withColumn("_sh", F.expr(_SHINGLE_ARR))
        .withColumn("_hs", F.expr(f"transform(_sh, s -> {_H32.format(x='s')})"))
        .select(
            "uuid",
            "group_id",
            "_sh",
            F.explode(F.expr(f"array({band_structs})")).alias("x"),
        )
        .select("uuid", "group_id", "_sh", F.col("x.band").alias("band"),
                F.col("x.bkey").alias("bkey"))
    )


def lsh_pairs(bands: DataFrame, bucket_n: DataFrame, max_bucket: int) -> DataFrame:
    """Verified fuzzy match pairs involving >= 1 new entity, ALL-JVM.

    `bands` are lsh_band_rows with a boolean `_new` marker: false on the
    standing index, true on the entities being resolved. The new rows
    whose bucket holds at most `max_bucket` members (`bucket_n`, standing
    + new) probe every row of their bucket: dropping a hot bucket from the
    probe side drops every pair in it (a bucket of k members would make
    k(k-1)/2 join rows; hot buckets are template/boilerplate name
    families, not alias clusters — the cap discipline of
    operators/dedup.minhash_candidates). `a.uuid < b.uuid OR NOT b._new`
    emits each unordered pair once (new-new in uuid order, new-standing
    with the new uuid first); pairs sharing several bands are deduplicated.
    Exact Jaccard verification (>= LSH_THRESHOLD) runs inline in the band
    join via array_intersect/array_union on the carried shingle arrays
    (names are short, so the arrays ride the shuffle cheaply).

    The band/bucket key is the shuffle key; AQE skew-join splits the
    surviving hot buckets ('john smith')."""
    ok = bucket_n.where(F.col("n") <= max_bucket).select(*BUCKET_KEY)
    a = bands.where("_new").join(ok, BUCKET_KEY).alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.group_id") == F.col("b.group_id"))  # group is a hard partition (nodes.py:81)
            & (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & ((F.col("a.uuid") < F.col("b.uuid")) | ~F.col("b._new")),
        )
        .where(
            F.expr(
                "size(array_intersect(a._sh, b._sh)) >="
                f" {float(LSH_THRESHOLD)} * size(array_union(a._sh, b._sh))"
            )
        )
        .select(F.col("a.uuid").alias("src"), F.col("b.uuid").alias("dst"))
        .dropDuplicates(["src", "dst"])
    )


def _local_components(spark, pairs, id_type: str) -> DataFrame:
    """Driver-side union-find over a SMALL collected match-edge list. The
    alias graph is orders of magnitude smaller than the corpus (only
    colliding distinct names appear), so below the threshold the iterative
    distributed fixpoint — whose cost is per-round scheduling latency, not
    data — is replaced by union-find over the already-collected pairs +
    broadcast-back, the same small-graph cutover GraphX-style CC
    implementations use. Returns (id, component=min member id) for ids
    touched by any edge. `id_type` is the SQL type of the ids (uuid
    strings for entity resolution, longs for document clusters)."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        while parent.get(x, x) != x:
            parent[x] = parent.get(parent[x], parent[x])
            x = parent[x]
        return x

    for r in pairs:
        a, b = find(r["src"]), find(r["dst"])
        if a != b:
            parent[max(a, b)] = min(a, b)
    roots: dict[str, str] = {}
    comp: dict[str, str] = {}
    for x in set(parent) | {r["src"] for r in pairs} | {r["dst"] for r in pairs}:
        root = find(x)
        comp[x] = min(roots.get(root, x), x)
        roots[root] = comp[x]
    rows = [(x, roots[find(x)]) for x in comp]
    return local_frame(spark, rows, f"id {id_type}, component {id_type}")


LOCAL_CC_THRESHOLD = 100_000


def component_map(edges: DataFrame) -> DataFrame:
    """(id, component) for every endpoint of the undirected `edges` (src,
    dst): component = min id of its connected component. Min-label
    propagation to fixpoint; iterations are bounded by graph diameter;
    alias-resolution graphs are star-shaped so this converges in 1-2
    rounds; checkpointing via localCheckpoint truncates lineage."""
    # adaptive small-graph cutover: the match-edge list is tiny relative
    # to the corpus (distinct colliding names only). ONE bounded action
    # probes it: collect at most LOCAL_CC_THRESHOLD + 1 pairs. If the
    # probe comes back short, it IS the whole edge list and union-find
    # runs over it on the driver; the persisted list is not needed again.
    # Otherwise the distributed fixpoint below runs, and the persist keeps
    # the candidate-join plan above it from executing once per iteration
    # (the probe fills only the partitions it read; the first iteration
    # fills the rest).
    edges = edges.select("src", "dst").persist()
    probe = edges.limit(LOCAL_CC_THRESHOLD + 1).collect()
    if len(probe) <= LOCAL_CC_THRESHOLD:
        edges.unpersist()
        return _local_components(
            edges.sparkSession, probe, edges.schema["src"].dataType.simpleString()
        )

    bidir = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    labels = bidir.select(F.col("src").alias("id")).distinct().select(
        "id", F.col("id").alias("component")
    )
    for _ in range(25):
        nbr = (
            bidir.join(labels, bidir.src == labels.id)
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("component").alias("nbr_min"))
        )
        new_labels = (
            labels.join(nbr, "id", "left")
            .select(
                "id",
                F.least(
                    F.col("component"), F.coalesce("nbr_min", "component")
                ).alias("component"),
            )
        )
        new_labels = new_labels.localCheckpoint(eager=True)
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .where(F.col("n.component") != F.col("o.component"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    edges.unpersist()  # labels is checkpointed; the edge lineage is done
    return labels


def connected_components(edges: DataFrame, vertices: DataFrame) -> DataFrame:
    """(id, component) for every vertex (id) of the undirected `edges`
    graph (component_map); vertices on no edge keep themselves."""
    return vertices.join(component_map(edges), "id", "left").select(
        "id", F.coalesce("component", "id").alias("component")
    )


def canonical_name():
    """Aggregate picking an alias cluster's canonical display name from its
    `name` column: shortest, then lexicographic (deterministic analogue of
    the LLM "pick the best full name" in dedupe_nodes.py:47-91). The
    one-shot build and the incremental merge both name nodes with it."""
    return F.min_by("name", F.concat(F.lpad(F.length("name"), 4, "0"), F.col("name")))


@dataclass
class EntityIndex:
    """The standing state of entity resolution, all skinny and columnar:
    what new entities resolve against, so no resolution re-blocks the
    entities already resolved."""

    ents: DataFrame  # (group_id, name, norm_name, uuid) distinct entities
    canon: DataFrame  # (uuid, canon_uuid): min uuid of its alias cluster
    bands: DataFrame  # LSH index rows (lsh_band_rows shape)
    bucket_n: DataFrame  # (group_id, band, bkey, n) bucket populations

    @staticmethod
    def empty(spark) -> EntityIndex:
        """The index of an empty graph: JVM-local relations without rows,
        which the optimizer prunes from every plan that reads them (a
        build's resolution plan has no join against them)."""
        return EntityIndex(
            ents=local_frame(
                spark, [], "group_id string, name string, norm_name string, uuid string"
            ),
            canon=local_frame(spark, [], "uuid string, canon_uuid string"),
            bands=local_frame(
                spark, [],
                "uuid string, group_id string, _sh array<string>, band int, bkey string",
            ),
            bucket_n=local_frame(spark, [], "group_id string, band int, bkey string, n bigint"),
        )


def resolve_entities(
    index: EntityIndex, new: DataFrame
) -> tuple[EntityIndex, DataFrame]:
    """The one entity resolver: resolve `new` — distinct entities
    (distinct_entities shape) none of which is in `index` — against the
    standing index. A build passes EntityIndex.empty; a merge passes the
    standing graph. `new` is read by the exact block, the LSH bands and
    the assignment, so callers pass it cached or committed.

    Candidates must involve >= 1 new entity: standing pairs are already
    connected by the standing assignment. Each candidate endpoint is
    contracted through that assignment, so connected components run on
    O(new) supernodes. A standing canon id is the min uuid of its
    cluster, so min-label CC over contracted ids yields the min uuid of
    each merged cluster: the assignment equals a resolution of all
    entities at once, uuid for uuid.

    Returns (index', delta_map): the index with `new` folded in, and
    (id, component) for each contracted id (a standing canon uuid or a new
    uuid) whose canonical uuid is now `component` — O(merged clusters)."""
    new = new.select("group_id", "name", "norm_name", "uuid")
    exact = (
        new.alias("n")
        .join(index.ents.alias("p"), ["group_id", "norm_name"])
        .groupBy(F.col("n.uuid").alias("src"))
        .agg(F.min(F.col("p.uuid")).alias("dst"))
        .union(match_edges_exact(new))
    )
    # bucket populations accumulate across batches: the cap sees the
    # standing members of a bucket as well as the new ones
    new_bands = lsh_band_rows(new)
    bucket_n = (
        index.bucket_n.unionByName(bucket_sizes(new_bands))
        .groupBy(*BUCKET_KEY)
        .agg(F.sum("n").alias("n"))
    )
    bands = index.bands.withColumn("_new", F.lit(False)).unionByName(
        new_bands.withColumn("_new", F.lit(True))
    )
    pairs = exact.union(lsh_pairs(bands, bucket_n, LSH_BUCKET_CAP))

    def canon_of(col: str) -> DataFrame:
        return index.canon.select(
            F.col("uuid").alias(col), F.col("canon_uuid").alias(f"c{col}")
        )

    # a missing assignment = the endpoint is new
    contracted = (
        pairs.join(canon_of("src"), "src", "left")
        .join(canon_of("dst"), "dst", "left")
        .select(
            F.coalesce("csrc", "src").alias("src"),
            F.coalesce("cdst", "dst").alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
    )
    delta_map = component_map(contracted).where(F.col("id") != F.col("component"))
    canon = (
        new.select("uuid", F.col("uuid").alias("canon_uuid"))
        .unionByName(index.canon)
        .join(delta_map.withColumnRenamed("id", "canon_uuid"), "canon_uuid", "left")
        .select("uuid", F.coalesce("component", "canon_uuid").alias("canon_uuid"))
    )
    return (
        EntityIndex(
            ents=index.ents.unionByName(new),
            canon=canon,
            bands=index.bands.unionByName(new_bands),
            bucket_n=bucket_n,
        ),
        delta_map,
    )


def er_pair_metrics(truth: DataFrame, engine: DataFrame) -> DataFrame:
    """Pairwise entity-resolution metrics (Menestrina et al. 2010): given
    TRUTH membership (group_id, name, base) and ENGINE membership
    (group_id, name, cluster), enumerate same-cluster name pairs on both
    sides and roll up per-group tp/fp/fn with integer-exact
    precision/recall/F1 in micro-units. Pair enumeration self-joins
    within (group, cluster key) — bounded by cluster size; the rollup is
    one hash agg."""

    def _pairs(df: DataFrame, key: str, flag: str) -> DataFrame:
        a, b = df.alias("a"), df.alias("b")
        return (
            a.join(b, ["group_id", key])
            .where(F.col("a.name") < F.col("b.name"))
            .select(
                "group_id",
                F.col("a.name").alias("na"),
                F.col("b.name").alias("nb"),
            )
            .distinct()
            .withColumn(flag, F.lit(1))
        )

    joined = _pairs(truth, "base", "t").join(
        _pairs(engine, "cluster", "e"), ["group_id", "na", "nb"], "full_outer"
    ).select(
        "group_id",
        F.coalesce("t", F.lit(0)).alias("t"),
        F.coalesce("e", F.lit(0)).alias("e"),
    )
    return joined.groupBy("group_id").agg(
        F.sum("t").cast("long").alias("n_truth_pairs"),
        F.sum("e").cast("long").alias("n_engine_pairs"),
        F.sum(F.expr("t * e")).cast("long").alias("tp"),
        F.sum(F.expr("e * (1 - t)")).cast("long").alias("fp"),
        F.sum(F.expr("t * (1 - e)")).cast("long").alias("fn"),
    ).select(
        "group_id",
        "n_truth_pairs",
        "n_engine_pairs",
        "tp",
        "fp",
        "fn",
        F.expr("(tp * 1000000L) div greatest(tp + fp, 1L)")
        .cast("long")
        .alias("precision_u"),
        F.expr("(tp * 1000000L) div greatest(tp + fn, 1L)")
        .cast("long")
        .alias("recall_u"),
        F.expr("(2L * tp * 1000000L) div greatest(2L * tp + fp + fn, 1L)")
        .cast("long")
        .alias("f1_u"),
    )
