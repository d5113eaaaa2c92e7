"""Pages source: the Common-Crawl-style input table (url, warc_ts, html,
text, lang) per BASELINE.json input_hint.

At production scale this table is simply `spark.read.table('pages')` /
`spark.read.parquet(...)` over the crawl dump, partitioned by domain
(group_id). For tests and benchmarks we *synthesize* it deterministically
from the driver-provided documents.parquet — entirely JVM-side: the
per-doc sentence bank is built with higher-order functions
(transform/sequence over array literals), so the whole source stage is
whole-stage-codegen'd with zero Python workers and zero shuffle after the
initial small repartition of the base rows. The same content is
reproducible by `corpus.golden_pages` (pytest oracle) and by
`corpus.sql_pages_cte()` (DuckDB oracle); byte-identity per url is pinned
by tests/test_pages_parity.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .. import corpus


def _arr(values: list[str]) -> str:
    return "array(" + ", ".join(f"'{v}'" for v in values) + ")"


def _fields_expr() -> str:
    """array<struct> of per-sentence generative fields for one doc row
    (columns in scope: doc_id, text=noise, lang, source). Mirrors
    corpus.sentence_fields term-for-term (incl. the typo'd alias surface
    form of the person slot: last letter doubled when the typo flag hits)."""
    P, O, L = _arr(corpus.PERSONS), _arr(corpus.ORGS), _arr(corpus.PLACES)
    np_, no_, nl_ = len(corpus.PERSONS), len(corpus.ORGS), len(corpus.PLACES)
    nt = corpus.N_TEMPLATES
    person = f"element_at({P}, cast(1 + ((doc_id*7 + k*13) div 2) % {np_} as int))"
    person_x = (
        f"IF((doc_id*2 + 3*k) % 13 = 0, {person} || right({person}, 1), {person})"
    )
    return f"""
transform(sequence(0, cast(2 + doc_id % 4 as int)), k -> named_struct(
  't', (doc_id*3 + k*5) % {nt},
  'pdisp', IF((doc_id + 3*k) % 7 = 0, '{corpus.HONORIFIC}', '') || {person_x},
  'odisp', element_at({O}, cast(1 + (((doc_id*7 + k*13) div 2) % {np_} * 3 + doc_id % 2) % {no_} as int))
           || IF((doc_id + 2*k) % 5 = 0, '{corpus.ORG_SUFFIX}', ''),
  'person2', element_at({P}, cast(1 + (((doc_id*7 + k*13) div 2) % {np_} + 1 + doc_id % 3) % {np_} as int)),
  'place', element_at({L}, cast(1 + (doc_id*5 + k*7) % {nl_} as int)),
  'year_s', cast(2015 + (doc_id + k) % 9 as string),
  'date_iso', date_format(date_add(date'2024-01-01', cast((doc_id*13 + k*29) % 365 as int)), 'yyyy-MM-dd')
))"""


def _sents_expr() -> str:
    """Rendered sentence per field struct (corpus.render_sentence)."""
    return """
transform(_fields, f -> CASE f.t
  WHEN 0 THEN f.pdisp || ' works at ' || f.odisp || '.'
  WHEN 1 THEN f.pdisp || ' no longer works at ' || f.odisp || '.'
  WHEN 2 THEN f.pdisp || ' likes ' || f.person2 || '.'
  WHEN 3 THEN f.pdisp || ' dislikes ' || f.person2 || '.'
  WHEN 4 THEN f.odisp || ' is based in ' || f.place || '.'
  WHEN 5 THEN f.pdisp || ' moved to ' || f.place || '.'
  WHEN 6 THEN 'Since ' || f.year_s || ', ' || f.pdisp || ' has led ' || f.odisp || '.'
  WHEN 7 THEN f.pdisp || ' visited ' || f.place || ' on ' || f.date_iso || '.'
  WHEN 8 THEN f.pdisp || ' is employed at ' || f.odisp || '.'
  WHEN 9 THEN f.pdisp || ' and ' || f.odisp || ' were mentioned in the same report.'
  WHEN 10 THEN f.pdisp || ' admires ' || f.person2 || '.'
  ELSE 'It is unclear whether ' || f.pdisp || ' works at ' || f.odisp || '.' END)"""


def _extra_paras_expr() -> str:
    """Message ('Speaker: ...') and json episode paragraphs appended to
    eligible docs (corpus.has_message / has_json arithmetic)."""
    P, O, L = _arr(corpus.PERSONS), _arr(corpus.ORGS), _arr(corpus.PLACES)
    np_, no_, nl_ = len(corpus.PERSONS), len(corpus.ORGS), len(corpus.PLACES)
    msg = (
        f"element_at({P}, cast(1 + (doc_id*5 + 1) % {np_} as int))"
        " || ': relocation to '"
        f" || element_at({L}, cast(1 + (doc_id*3 + 2) % {nl_} as int))"
        " || ' is complete.'"
    )
    jsn = (
        "'{\"entity\": \"'"
        f" || element_at({O}, cast(1 + (doc_id*7) % {no_} as int))"
        " || '\", \"relation\": \"BASED_IN\", \"target\": \"'"
        f" || element_at({L}, cast(1 + (doc_id*11) % {nl_} as int))"
        " || '\", \"as_of\": \"'"
        " || date_format(date_add(date'2024-01-01', cast((doc_id*17) % 365 as int)), 'yyyy-MM-dd')"
        " || '\"}'"
    )
    M = _arr(corpus.MONTHS)
    relp = f"element_at({P}, cast(1 + (doc_id*11 + 3) % {np_} as int))"
    rell = f"element_at({L}, cast(1 + (doc_id*7 + 1) % {nl_} as int))"
    relo = f"element_at({O}, cast(1 + (doc_id*5 + 2) % {no_} as int))"
    rel = (
        "CASE doc_id % 5"
        f" WHEN 1 THEN 'Last week, ' || {relp} || ' visited ' || {rell} || '.'"
        f" WHEN 2 THEN 'Last month, ' || {relp} || ' visited ' || {rell} || '.'"
        f" WHEN 3 THEN 'Last year, ' || {relp} || ' visited ' || {rell} || '.'"
        f" WHEN 4 THEN {relp} || ' has led ' || {relo} || ' since '"
        f" || element_at({M}, cast(1 + doc_id % 12 as int))"
        " || ' ' || cast(2016 + doc_id % 8 as string) || '.'"
        f" ELSE cast(1 + doc_id % 5 as string) || ' days ago, ' || {relp}"
        f" || ' visited ' || {rell} || '.'"
        " END"
    )
    return (
        f"IF(doc_id % 5 = 2, '\\n\\n' || {msg}, '')"
        f" || IF(doc_id % 7 = 3, '\\n\\n' || {jsn}, '')"
        f" || IF(doc_id % 6 = 1, '\\n\\n' || {rel}, '')"
    )


def build_pages(
    spark: SparkSession,
    sf_dir: str,
    replicate: int = 1,
    with_html: bool = True,
) -> DataFrame:
    """documents.parquet -> pages DataFrame, all-JVM synthesis.

    The driver testdata arrives as one small file (one input split), so
    the base rows are repartitioned BEFORE replication/synthesis: the
    shuffle moves only the n_docs base rows, and the replicate-fold
    explosion happens in place on the spread partitions. Replica ids
    derive from the REAL doc_id column (doc_id * replicate + r), so
    gapped or offset doc_id spaces replicate faithfully instead of being
    silently dropped by a dense-range assumption. replicate=1 is the
    identity used by all correctness paths.
    """
    # explicit schema: skips the footer-read schema-inference job (one
    # job + ~0.5s driver gap per build_graph on this substrate; at crawl
    # scale the schema comes from the Iceberg catalog anyway)
    base = (
        spark.read.schema(
            "doc_id bigint, text string, lang string, source string"
        )
        .parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text", "lang", "source")
    )
    docs = base.repartition(spark.sparkContext.defaultParallelism)
    if replicate > 1:
        docs = docs.withColumn(
            "r", F.explode(F.expr(f"sequence(0, {int(replicate) - 1})"))
        ).select(
            (F.col("doc_id") * replicate + F.col("r")).alias("doc_id"),
            "text",
            "lang",
            "source",
        )

    step = corpus.WARC_STEP_MINUTES
    pages = (
        docs.withColumn("_fields", F.expr(_fields_expr()))
        .withColumn("_sents", F.expr(_sents_expr()))
        .withColumn(
            "_body",
            F.expr(
                "array_join(transform(sequence(0, cast((size(_sents) - 1) div 2 as int)),"
                " p -> concat_ws(' ', slice(_sents, 2*p + 1, 2))), '\\n\\n')"
            ),
        )
        .withColumn(
            "_title",
            F.expr(
                "'web digest ' || doc_id || ' - ' || source || ' daily notes'"
                f" || IF(doc_id % 3 = 0, '{corpus.ZWSP}', '')"
            ),
        )
        .withColumn(
            "page_text",
            F.expr(
                "_title || '\\n\\n' || substr(text, 1, 120) || '\\n\\n' || _body || "
                + _extra_paras_expr()
            ),
        )
        .withColumn(
            "html",
            F.expr(
                "encode('<html><body><p>' || replace(page_text, '\\n\\n', '</p><p>')"
                " || '</p></body></html>', 'UTF-8')"
            )
            if with_html
            else F.lit(None).cast("binary"),
        )
        .select(
            F.expr("'https://' || source || '.example.com/doc/' || doc_id").alias("url"),
            F.expr(
                f"timestampadd(MINUTE, cast({step} * doc_id as int), timestamp'2024-01-01 00:00:00')"
            ).alias("warc_ts"),
            "html",
            F.col("page_text").alias("text"),
            "lang",
            F.col("source").alias("group_id"),
            "doc_id",
        )
    )
    return pages
