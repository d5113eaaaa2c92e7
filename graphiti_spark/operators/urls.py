"""URL canonicalization + URL-level deduplication — the first dedup
pass of every Common-Crawl-scale ingest (the same page is re-crawled
under scheme/case/tracking-parameter variants long before its text is
compared). Reference scope: the engine ingests pages keyed by url
(BASELINE input_hint; episodes are chunked per url), so url identity IS
document identity upstream of everything else.

Canonical form (the standard crawl-frontier normalization, RFC 3986 §6
syntax-based normalization + the de-facto tracking-param strip):

- scheme and host lowercased; a leading ``www.`` stripped
- default ports dropped (``:80`` for http, ``:443`` for https)
- fragment dropped
- trailing slashes collapsed off the path (root stays ``/`` conceptually;
  an empty path renders as no path, matching the raw-url convention here)
- tracking query parameters removed (utm_*, gclid, fbclid, ref, mc_cid,
  mc_eid); surviving parameters sorted byte-wise so param order is
  identity-irrelevant

Everything is ONE whole-stage-codegen'd projection (regexp extracts +
higher-order array functions — no UDF, no shuffle); the dedup groupBy
shuffles only the skinny (canonical_url, id) projection. The DuckDB
mirror is generated from the SAME constants below, so the Spark side and
the oracle cannot drift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# tracking parameters stripped during canonicalization (shared by the
# Spark expression and the DuckDB mirror)
TRACKING_PARAM_RE = "^(utm_[a-z]+|gclid|fbclid|ref|mc_cid|mc_eid)="


def _canon_sql(url: str, *, duck: bool) -> str:
    """Canonicalization as one SQL expression over column `url` —
    engine-portable: only regexp_extract / regexp_replace, split/
    string_split, filter/list_filter, array_sort/list_sort and concat.
    `duck` switches the function dialect, NOT the semantics."""
    if duck:
        split_f, filt, srt, join_f = (
            "string_split", "list_filter", "list_sort", "array_to_string")
        rlike = "regexp_matches(p, '{re}')"
        bs = "\\"  # DuckDB string literals keep backslashes verbatim
    else:
        split_f, filt, srt, join_f = ("split", "filter", "array_sort",
                                      "array_join")
        rlike = "p RLIKE '{re}'"
        bs = "\\\\"  # Spark SQL literals unescape one level
    not_tracking = "NOT " + rlike.format(re=TRACKING_PARAM_RE)
    scheme = f"lower(regexp_extract({url}, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))"
    after = f"regexp_replace({url}, '^[A-Za-z][A-Za-z0-9+.-]*://', '')"
    hostport = f"lower(regexp_extract({after}, '^([^/?#]*)', 1))"
    host = (
        f"regexp_replace(regexp_replace(regexp_replace("
        f"{hostport}, '^www{bs}.', ''),"
        f" CASE WHEN {scheme} = 'http' THEN ':80$' ELSE ':~NEVER$' END, ''),"
        f" CASE WHEN {scheme} = 'https' THEN ':443$' ELSE ':~NEVER$' END, '')"
    )
    pathqf = f"regexp_replace({after}, '^[^/?#]*', '')"
    path = (
        f"regexp_replace(regexp_extract({pathqf}, '^([^?#]*)', 1), '/+$', '')"
    )
    query = f"regexp_extract({pathqf}, '{bs}?([^#]*)', 1)"
    kept = (
        f"{join_f}({srt}({filt}({split_f}({query}, '&'),"
        f" p -> p != '' AND {not_tracking})), '&')"
    )
    return (
        f"{scheme} || '://' || {host} || {path}"
        f" || (CASE WHEN {kept} != '' THEN '?' || {kept} ELSE '' END)"
    )


def with_canonical_url(df: DataFrame) -> DataFrame:
    return df.withColumn("canonical_url", F.expr(_canon_sql("url", duck=False)))


def url_dup_groups(urls: DataFrame) -> DataFrame:
    """urls: (id long, url string). Returns one row per input with its
    canonical form, the group's surviving id (min id — the crawl keeps
    the first fetch) and a keep flag. The groupBy key is the canonical
    url string — at crawl scale hash-partitioned and skew-safe (a single
    url's variant count is bounded by the crawler, not the corpus)."""
    canon = with_canonical_url(urls)
    groups = canon.groupBy("canonical_url").agg(
        F.min("id").alias("canonical_id"),
        F.count(F.lit(1)).alias("n_variants"),
    )
    return (
        canon.join(groups, "canonical_url")
        .select(
            "id",
            "url",
            "canonical_url",
            "canonical_id",
            F.col("n_variants").cast("long").alias("n_variants"),
            F.when(F.col("id") == F.col("canonical_id"), 1)
            .otherwise(0)
            .cast("long")
            .alias("keep"),
        )
    )


def sql_url_dup_groups(urls_cte: str) -> str:
    """DuckDB mirror over a CTE body `urls_cte` yielding (id, url)."""
    canon = _canon_sql("url", duck=True)
    return f"""
WITH urls AS ({urls_cte}),
canon AS (SELECT id, url, {canon} AS canonical_url FROM urls),
grp AS (
  SELECT canonical_url, min(id) AS canonical_id, count(*) AS n_variants
  FROM canon GROUP BY 1
)
SELECT c.id, c.url, c.canonical_url, g.canonical_id,
       CAST(g.n_variants AS BIGINT) AS n_variants,
       CAST(CASE WHEN c.id = g.canonical_id THEN 1 ELSE 0 END AS BIGINT) AS keep
FROM canon c JOIN grp g USING (canonical_url)"""


# effective-TLD exception list for registrable-domain extraction (the
# public-suffix idea, bounded to the common second-level suffixes so the
# Spark expression and the DuckDB mirror share one constant)
SECOND_LEVEL_SUFFIXES = (
    "co.uk", "org.uk", "ac.uk", "com.au", "co.jp", "com.br", "co.in",
)

_HOST_RE = "^[a-zA-Z][a-zA-Z0-9+.-]*://([^/@]*@)?([^/:?#]+)"


def _domain_sql(*, duck: bool) -> str:
    """Registrable-domain extraction as one SQL expression over column
    `url` — host = authority minus userinfo/port, lowercased; domain =
    last two host labels, or last three when the last two are a known
    second-level public suffix (co.uk and friends). Engine-portable:
    regexp_extract + split + negative element indexing; `duck` switches
    dialect, not semantics."""
    if duck:
        host = f"lower(regexp_extract(url, '{_HOST_RE}', 2))"
        labels = f"string_split({host}, '.')"
        l1, l2, l3 = (f"list_extract({labels}, {i})" for i in (-1, -2, -3))
    else:
        host = f"lower(regexp_extract(url, '{_HOST_RE}', 2))"
        labels = f"split({host}, '\\\\.')"
        l1, l2, l3 = (f"element_at({labels}, {i})" for i in (-1, -2, -3))
    last2 = f"concat({l2}, '.', {l1})"
    last3 = f"concat({l3}, '.', {l2}, '.', {l1})"
    slds = ", ".join(f"'{s}'" for s in SECOND_LEVEL_SUFFIXES)
    return (
        f"CASE WHEN size({labels}) >= 3 AND {last2} IN ({slds}) THEN {last3} "
        f"WHEN size({labels}) >= 2 THEN {last2} ELSE {host} END"
        if not duck
        else f"CASE WHEN len({labels}) >= 3 AND {last2} IN ({slds}) THEN {last3} "
        f"WHEN len({labels}) >= 2 THEN {last2} ELSE {host} END"
    )


def domain_stats(docs_with_url: DataFrame) -> DataFrame:
    """Per-registrable-domain curation rollup — the domain-reputation
    table every web-corpus pipeline keeps (C4/RefinedWeb filter whole
    domains before looking at documents; a domain whose pages are mostly
    duplicates or Gopher rejects gets blocklisted wholesale).

    Input: (doc_id, url, lang, text). Output per domain: page count,
    distinct languages, total word tokens, pages whose exact content
    fingerprint appears >1 ANYWHERE in the corpus (cross-domain mirrors
    count on both sides — that is the point of the signal), and pages
    passing the Gopher quality rules.

    Plan shape: domain + token count are one codegen projection; the
    dup flag is the skinny (fingerprint) count-groupBy joined back on
    fingerprint (the exact-dedup plan reused); Gopher flags are a
    shuffle-free projection joined on doc_id; the final rollup is one
    hash aggregate keyed on domain. No UDFs, no windows, nothing
    corpus-wide single-partition — survives any scale; hot domains are
    just big agg groups (partial map-side agg absorbs them)."""
    from .docs import fingerprints, gopher_rules

    base = docs_with_url.select(
        "doc_id",
        "lang",
        "text",
        F.expr(_domain_sql(duck=False)).alias("domain"),
        F.expr(
            "size(regexp_extract_all(lower(text), '[a-z0-9]+', 0))"
        ).cast("long").alias("n_tokens"),
    )
    fp = fingerprints(docs_with_url).select("doc_id", "fingerprint")
    fp_counts = fp.groupBy("fingerprint").agg(
        F.count(F.lit(1)).alias("n_same")
    )
    dup = fp.join(fp_counts, "fingerprint").select(
        "doc_id", (F.col("n_same") > 1).cast("long").alias("is_dup")
    )
    keep = gopher_rules(docs_with_url).select("doc_id", "keep")
    return (
        base.join(dup, "doc_id")
        .join(keep, "doc_id")
        .groupBy("domain")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.countDistinct("lang").cast("long").alias("n_langs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.sum("is_dup").cast("long").alias("n_dup_docs"),
            F.sum("keep").cast("long").alias("n_gopher_keep"),
        )
    )
