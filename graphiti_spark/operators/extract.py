"""Deterministic, vectorized mention detection (X1/X2) and triple
extraction (X3/X4) — the replacement for graphiti's per-episode LLM calls.

Reference decision structure mirrored:
- extract_nodes: entity-name list per episode, dispatched by EpisodeType
  (message / json / text, /root/reference/graphiti_core/nodes.py:42-75);
  "full explicit names", no relation/temporal nodes
  (utils/maintenance/node_operations.py:40-212; prompts/extract_nodes.py:
  63-140; json guidance at :93-116; speaker-first rule for messages at
  :143-164).
- extract_edges: triples only between extracted entities, relation name
  ALL-CAPS, natural-language fact sentence, episodes=[episode.uuid]
  (utils/maintenance/edge_operations.py:73-148; prompts/extract_edges.py:50-110).
- extract_edge_dates: valid_at resolved relative to the episode's
  reference timestamp (= warc_ts for crawl pages); explicit years/dates in
  the fact override; ISO-8601 (utils/maintenance/temporal_operations.py:32-68;
  prompts/extract_edge_dates.py:43-87).

The hot path is ALL-JVM: sentence split, per-source pattern dispatch,
group extraction, span scan, json parse (from_json) and name
normalization are Spark SQL expressions inside whole-stage codegen — no
Python workers and no Arrow transfer anywhere in the flagship pipeline.
Correctness is pinned against the generative golden truth
(corpus.golden_triples / golden_mentions) in tests/test_extraction_golden.py.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, Window, functions as F

from ..ontology import DEFAULT as DEFAULT_ONTOLOGY, Ontology

NAME = r"(?:Professor |Dr\. )?[A-Z][a-z]+(?: [A-Z][a-z]+)*"
NAME_G = f"({NAME})"
SENT_SPLIT = r"(?<=\.)\s+"

# sentence-initial function words a capitalized-span detector must drop
STOP_SPANS = frozenset(
    {"Since", "Last", "The", "A", "An", "On", "In", "At", "By", "From", "To",
     "He", "She", "They", "It", "We", "However", "Meanwhile", "January",
     "February", "March", "April", "May", "June", "July", "August",
     "September", "October", "November", "December"}
)


def _sql_lit(pat: str) -> str:
    """Python regex -> Spark SQL string literal (backslashes doubled)."""
    return pat.replace("\\", "\\\\")


SENT_SPLIT_SQL = _sql_lit(SENT_SPLIT)
NAME_SQL = _sql_lit(NAME)
_HONORIFIC_SQL = _sql_lit(r"^(?:Professor |Dr\. )")

# Text-episode pattern bank: (sql_pattern, pred, subj_group, obj_group,
# valid_expr). valid_expr reads the match's capture groups as
# element_at(g, N) and the episode reference time as valid_at (see
# _fused_results_expr). Priority order matters — the negated form must be
# tried before its positive substring twin; anchors (^...$) make hedged
# phrasings like "It is unclear whether X works at Y." non-matches.
_TEXT_PATTERNS: list[tuple[str, str, int, int, str | None]] = [
    (_sql_lit(rf"^{NAME_G} no longer works at {NAME_G}\.$"), "NO_LONGER_WORKS_AT", 1, 2, None),
    (_sql_lit(rf"^{NAME_G} works at {NAME_G}\.$"), "WORKS_AT", 1, 2, None),
    # paraphrase predicate: extraction emits the surface relation verbatim
    # (open predicate vocabulary, prompts/extract_edges.py:25-30 puts no
    # closed list on relation names); the same-pair similarity dedup
    # (operators/materialize.py, J4/X8) collapses it onto WORKS_AT edges
    (_sql_lit(rf"^{NAME_G} is employed at {NAME_G}\.$"), "EMPLOYED_AT", 1, 2, None),
    (_sql_lit(rf"^{NAME_G} likes {NAME_G}\.$"), "LIKES", 1, 2, None),
    (_sql_lit(rf"^{NAME_G} dislikes {NAME_G}\.$"), "DISLIKES", 1, 2, None),
    (_sql_lit(rf"^{NAME_G} admires {NAME_G}\.$"), "ADMIRES", 1, 2, None),
    (_sql_lit(rf"^{NAME_G} is based in {NAME_G}\.$"), "BASED_IN", 1, 2, None),
    (_sql_lit(rf"^{NAME_G} moved to {NAME_G}\.$"), "MOVED_TO", 1, 2, None),
    (
        _sql_lit(rf"^Since (\d{{4}}), {NAME_G} has led {NAME_G}\.$"),
        "LEADS", 2, 3,
        "to_timestamp(element_at(g, 1) || '-01-01', 'yyyy-MM-dd')",
    ),
    (
        _sql_lit(rf"^{NAME_G} visited {NAME_G} on (\d{{4}}-\d{{2}}-\d{{2}})\.$"),
        "VISITED", 1, 2,
        "to_timestamp(element_at(g, 3), 'yyyy-MM-dd')",
    ),
    (
        # X4 relative-time rules (temporal_operations.py:32-68,
        # prompts/extract_edge_dates.py:66-81): relative expressions ("N
        # days ago", "last week/month/year") resolve against the
        # episode's reference timestamp (valid_at = warc_ts for crawl
        # pages) — explicit dates override, present-tense facts keep the
        # reference time itself (the no-valid-expr patterns above)
        _sql_lit(rf"^(\d+) days ago, {NAME_G} visited {NAME_G}\.$"),
        "VISITED", 2, 3,
        "valid_at - make_interval(0, 0, 0, cast(element_at(g, 1) as int))",
    ),
    (
        _sql_lit(rf"^Last week, {NAME_G} visited {NAME_G}\.$"),
        "VISITED", 1, 2,
        "valid_at - make_interval(0, 0, 1)",
    ),
    (
        # month/year subtraction clamps to the target month's end —
        # identical on Spark and DuckDB (2024-03-31 - 1 month ==
        # 2024-02-29 on both; pinned in tests/test_extraction_golden.py)
        _sql_lit(rf"^Last month, {NAME_G} visited {NAME_G}\.$"),
        "VISITED", 1, 2,
        "valid_at - make_interval(0, 1)",
    ),
    (
        _sql_lit(rf"^Last year, {NAME_G} visited {NAME_G}\.$"),
        "VISITED", 1, 2,
        "valid_at - make_interval(1)",
    ),
    (
        # explicit "since <month-name> <year>" anchor: overrides the
        # reference time entirely (month name mapped via array_position —
        # no locale-dependent datetime parsing in the oracle path)
        _sql_lit(rf"^{NAME_G} has led {NAME_G} since ([A-Z][a-z]+) (\d{{4}})\.$"),
        "LEADS", 1, 2,
        "make_timestamp(cast(element_at(g, 4) as int),"
        " cast(array_position(array('January', 'February', 'March', 'April',"
        " 'May', 'June', 'July', 'August', 'September', 'October',"
        " 'November', 'December'), element_at(g, 3)) as int),"
        " 1, 0, 0, 0)",
    ),
]

# Message-episode patterns (speaker-first rule: the subject is the name
# before the colon — prompts/extract_nodes.py:143-164).
_MSG_PATTERNS: list[tuple[str, str, int, int, str | None]] = [
    (_sql_lit(rf"^{NAME_G}: relocation to {NAME_G} is complete\.$"), "MOVED_TO", 1, 2, None),
]

_JSON_SCHEMA = "entity string, relation string, target string, as_of string"

# normalize_entity_name (functions/text.py) as one SQL expression chain:
# lowercase -> strip one honorific prefix -> strip trailing corporate
# suffix tokens (never emptying a single-token name)
def norm_sql(col: str = "name", duck: bool = False) -> str:
    """The X5 exact-block normalization as one SQL expression over an
    arbitrary column (reference utils/maintenance/node_operations.py name
    normalization before dedup candidate generation). `duck` switches the
    string-literal escaping for DuckDB (backslashes kept verbatim), NOT
    the semantics — the same generator feeds the Spark plans and the
    DuckDB oracle builders so the two sides cannot drift. Assumes
    single-spaced input (canonical names are); both regexes are anchored
    so first-match-only vs replace-all is equivalent."""
    bs = "\\" if duck else "\\\\"
    return (
        f"coalesce(nullif(regexp_replace(regexp_replace(lower({col}),"
        f" '^(professor |dr{bs}. |dr |mr{bs}. |ms{bs}. |mrs{bs}. )', ''),"
        f" '( (inc|llc|ltd))+$', ''), ''), lower({col}))"
    )


def _all_patterns() -> list[tuple[str, tuple]]:
    return [("text", pat) for pat in _TEXT_PATTERNS] + [
        ("message", pat) for pat in _MSG_PATTERNS
    ]


def _result_struct(kind: str, sent_idx: str, subj: str, pred: str, obj: str,
                   fact: str, valid: str, name: str, norm: str) -> str:
    return (
        f"named_struct('kind', {kind}, 'sent_idx', {sent_idx},"
        f" 'subj_name', {subj}, 'pred', {pred}, 'obj_name', {obj},"
        f" 'fact', {fact}, 'valid_at', {valid}, 'name', {name},"
        f" 'norm_name', {norm})"
    )


def _fused_results_expr() -> str:
    """One array<struct> of extraction results per episode row — triples
    AND deduped mention spans — so the whole extraction is a single
    whole-stage-codegen projection: one episode scan, no per-extractor
    re-reads, and the per-episode mention dedup happens in-array
    (array_distinct) instead of a dropDuplicates shuffle."""
    strip = lambda e: f"regexp_replace({e}, '{_HONORIFIC_SQL}', '')"  # noqa: E731
    SEP = "\x01"  # never occurs in page text (clean_text strips controls)

    def trip_branch(src: str, pat: tuple) -> str:
        # ONE regex evaluation on the matched branch: regexp_replace
        # rewrites the (anchored) sentence into all its capture groups
        # joined by SEP, and a single-element transform() binds the split
        # group array as `g` — instead of one regexp_extract per group
        # (each a full re-match of the sentence).
        p, name, sg, og, v = pat
        repl = SEP.join(f"${i}" for i in range(1, re.compile(p).groups + 1))
        st = _result_struct(
            "'t'", "CAST(i AS INT)",
            strip(f"element_at(g, {sg})"), f"'{name}'",
            strip(f"element_at(g, {og})"), "s",
            v or "CAST(NULL AS TIMESTAMP)",
            "CAST(NULL AS STRING)", "CAST(NULL AS STRING)",
        )
        return (
            f"WHEN source = '{src}' AND s RLIKE '{p}' THEN "
            f"transform(array(split(regexp_replace(s, '{p}', '{repl}'), '{SEP}')),"
            f" g -> {st})"
        )

    trip_case = (
        "CASE "
        + " ".join(trip_branch(src, pat) for src, pat in _all_patterns())
        + " ELSE array() END"
    )
    norm_of = norm_sql("nm")
    stop_list = ", ".join(f"'{w}'" for w in sorted(STOP_SPANS))
    span_struct = _result_struct(
        "'m'", "0", "CAST(NULL AS STRING)", "CAST(NULL AS STRING)",
        "CAST(NULL AS STRING)", "CAST(NULL AS STRING)",
        "CAST(NULL AS TIMESTAMP)", "nm", norm_of,
    )
    json_trip = _result_struct(
        "'t'", "0", "_j.entity", "_j.relation", "_j.target", "content",
        "to_timestamp(_j.as_of, 'yyyy-MM-dd')",
        "CAST(NULL AS STRING)", "CAST(NULL AS STRING)",
    )
    json_ment = _result_struct(
        "'m'", "0", "CAST(NULL AS STRING)", "CAST(NULL AS STRING)",
        "CAST(NULL AS STRING)", "CAST(NULL AS STRING)",
        "CAST(NULL AS TIMESTAMP)", "nm", norm_of,
    )
    return f"""
CASE WHEN source = 'json' THEN
  CASE WHEN _j.entity IS NOT NULL AND _j.target IS NOT NULL THEN
     concat(array({json_trip}),
            transform(array_distinct(array(_j.entity, _j.target)), nm -> {json_ment}))
  ELSE array() END
ELSE
  concat(
    flatten(transform(_sents, (s, i) -> {trip_case})),
    transform(
      filter(
        array_distinct(transform(
          flatten(transform(_sents, s -> regexp_extract_all(s, '{NAME_SQL}', 0))),
          sp -> {strip('sp')})),
        nm -> NOT nm IN ({stop_list})),
      nm -> {span_struct}))
END"""


def extract_all(episodes: DataFrame) -> DataFrame:
    """Extraction stage, all-JVM, dispatched by episode source
    (text/message sentences through the pattern banks; json through
    from_json). The whole stage is ONE projection over one episode scan:
    per-episode results (triples + deduped mention spans) are built as an
    array inside whole-stage codegen, then exploded. Downstream: filter
    kind='t' for triples, kind='m' for mentions. Persist/materialize this
    output — it is the skinny fan-out point of the whole pipeline (no
    page/episode content strings)."""
    exploded = (
        episodes.select(
            F.col("uuid").alias("episode_uuid"),
            "group_id",
            "valid_at",
            "source",
            "content",
        )
        .withColumn(
            "_sents",
            F.expr(f"filter(split(content, '{SENT_SPLIT_SQL}'), s -> s != '')"),
        )
        .withColumn("_j", F.from_json("content", _JSON_SCHEMA))
        .withColumn("_res", F.explode(F.expr(_fused_results_expr())))
    )
    return exploded.select(
        F.col("_res.kind").alias("kind"),
        "episode_uuid",
        "group_id",
        F.col("_res.sent_idx").alias("sent_idx"),
        F.col("_res.subj_name").alias("subj_name"),
        F.col("_res.pred").alias("pred"),
        F.col("_res.obj_name").alias("obj_name"),
        F.col("_res.fact").alias("fact"),
        F.when(F.col("_res.kind") == "t",
               F.coalesce(F.col("_res.valid_at"), F.col("valid_at")))
        .otherwise(F.col("valid_at")).alias("valid_at"),
        F.lit(None).cast("timestamp").alias("invalid_at"),
        F.when(F.col("_res.kind") == "t", F.col("valid_at")).alias("warc_ts"),
        F.col("_res.name").alias("name"),
        F.col("_res.norm_name").alias("norm_name"),
    )


def split_extracted(all_df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(triples_raw, mentions_raw-without-labels) views of extract_all."""
    triples = all_df.where(F.col("kind") == "t").select(
        "episode_uuid", "group_id", "sent_idx", "subj_name", "pred",
        "obj_name", "fact", "valid_at", "invalid_at", "warc_ts",
    )
    spans = all_df.where(F.col("kind") == "m").select(
        "episode_uuid", "group_id", "name", "norm_name", "valid_at"
    )
    return triples, spans


def mention_labels(
    triples: DataFrame, ontology: Ontology = DEFAULT_ONTOLOGY
) -> DataFrame:
    """Global role vote per (group_id, name) from the triples the mention
    participates in (X2 typing): plurality with label-name tie-break —
    deterministic regardless of batch/partition layout (unlike a per-batch
    vote). The predicate->role table comes from the user-extensible
    Ontology (reference entity_types, graphiti.py:264)."""
    roles = (
        triples.selectExpr(
            "group_id", "subj_name AS name",
            f"{ontology.role_sql(0)} AS label",
        )
        .unionAll(
            triples.selectExpr(
                "group_id", "obj_name AS name",
                f"{ontology.role_sql(1)} AS label",
            )
        )
        # predicates outside the role ontology (e.g. pass-through json
        # relations) contribute no vote
        .where(F.col("label").isNotNull())
    )
    w = Window.partitionBy("group_id", "name").orderBy(
        F.desc("n"), F.asc("label")
    )
    return (
        roles.groupBy("group_id", "name", "label")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("group_id", "name", "label")
    )


def attach_labels(
    spans: DataFrame, triples: DataFrame,
    ontology: Ontology = DEFAULT_ONTOLOGY,
) -> DataFrame:
    """Mention rows = spans + globally-voted labels (X2). Unmatched spans
    get the bare 'Entity' label (node_operations.py:191-209 drops unknown
    types to Entity)."""
    labels = mention_labels(triples, ontology)
    return (
        spans.join(labels, ["group_id", "name"], "left")  # entity-scaled: AQE decides
        .withColumn("label", F.coalesce("label", F.lit("Entity")))
        .select("episode_uuid", "group_id", "name", "norm_name", "label", "valid_at")
    )
