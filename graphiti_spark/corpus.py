"""Deterministic synthetic web-page corpus shared by the Spark pipeline,
the pure-pandas golden oracle, and the DuckDB oracle-SQL builder.

The north rule requires an input Iceberg table of Common-Crawl-style pages
``(url, warc_ts, html, text, lang)``. This module derives such a table
*deterministically* from the driver-provided ``documents.parquet``
(``doc_id, text, lang, source, n_chars``): every page's text is a pure
function of ``(doc_id, source, documents.text)``, so the exact same corpus
can be reconstructed in three independent ways:

1. the Spark source job (`graphiti_spark.sources.pages`) via JVM
   higher-order-function expressions,
2. the single-process pandas golden generator (`golden_pages`), and
3. plain ANSI SQL emitted by `sql_*` builders, runnable by DuckDB —
   which is what the driver's oracle-correctness gate consumes.

Sentences are rendered from closed template banks so the downstream
*extraction* ground truth (mentions, (subj, pred, obj) triples, temporal
validity) is generatively known. The extraction pipeline never sees this
module's generative knowledge — it runs real regex/gazetteer extraction on
the text — and must reproduce the generative truth exactly (the P/R >= 0.95
north metric; we target 1.0 on this corpus).

Corpus v2 exercises the full reference surface:
- **fuzzy aliases**: a deterministic typo form (last letter doubled) of the
  person display recurs, so MinHash-LSH entity resolution (X5/X7) is
  load-bearing in the driver-checked path, not just pytest;
- **distractor templates** (t9/t11): capitalized entities with NO relation,
  and a hedged "works at" phrasing the anchored patterns must reject —
  extraction precision is a real measurement;
- **paraphrase templates** (t8/t10): second surface form for WORKS_AT and a
  new ADMIRES predicate;
- **message episodes** (speaker-first rule, EpisodeType.message,
  /root/reference/graphiti_core/nodes.py:42-75): "Speaker: ..." paragraphs;
- **json episodes** (EpisodeType.json, prompts/extract_nodes.py:93-116):
  a JSON object paragraph parsed with from_json (F13).

Reference semantics mirrored here (file:line into /root/reference):
- episode construction: graphiti_core/nodes.py:130-141 (EpisodicNode)
- "full explicit names" extraction guideline: prompts/extract_nodes.py:63-140
- triple schema (relation ALL-CAPS + fact sentence): prompts/extract_edges.py:25-30
- temporal attribution relative to reference_timestamp:
  utils/maintenance/temporal_operations.py:32-68
"""

from __future__ import annotations

from datetime import datetime, timedelta

from .contradictions import CONTRA_CLASS  # noqa: F401  (re-export; engine owns it)

# --------------------------------------------------------------------------
# Entity banks. All display forms are sequences of capitalized words so a
# capitalized-span detector recovers them exactly. Persons are 2 words,
# orgs are 2 words (optionally + " Inc"), places 1 word.
# --------------------------------------------------------------------------

PERSONS = [
    "Alice Johnson", "Bob Hartley", "Carol Mendes", "David Okafor",
    "Emma Larsen", "Frank Moreau", "Grace Kimura", "Henry Walsh",
    "Irene Castillo", "James Whitfield", "Karen Sobol", "Liam Novak",
    "Mona Farid", "Noah Bergman", "Olga Petrova", "Paul Duarte",
]
ORGS = [
    "Acme Corp", "Globex Systems", "Initech Labs", "Umbrella Holdings",
    "Vantage Analytics", "Nimbus Software", "Quantum Forge", "Helios Energy",
    "Cobalt Partners", "Zephyr Logistics", "Orchid Biotech", "Pinnacle Media",
]
PLACES = [
    "Paris", "Berlin", "Oslo", "Lisbon", "Madrid",
    "Vienna", "Prague", "Dublin", "Zurich", "Athens",
]
MONTHS = [
    "January", "February", "March", "April", "May", "June", "July",
    "August", "September", "October", "November", "December",
]

HONORIFIC = "Professor "
ORG_SUFFIX = " Inc"
ZWSP = "​"  # injected into every 3rd page title; cleaning must strip it

N_TEMPLATES = 12
EPOCH = datetime(2024, 1, 1)          # warc_ts base
WARC_STEP_MINUTES = 7                 # warc_ts = EPOCH + doc_id * 7 min


# --------------------------------------------------------------------------
# Pure index arithmetic (must stay expressible in ANSI SQL: + * % div).
# --------------------------------------------------------------------------

def doc_sentence_count(d: int) -> int:
    return 3 + d % 4


def has_message(d: int) -> bool:
    return d % 5 == 2


def has_json(d: int) -> bool:
    return d % 7 == 3


def has_rel(d: int) -> bool:
    """Docs carrying a relative-time paragraph ("N days ago, ...") — the
    X4 fixture: temporal attribution resolved AGAINST the episode's
    reference timestamp (temporal_operations.py:32-68), not an explicit
    date in the text."""
    return d % 6 == 1


def sentence_fields(d: int, k: int) -> dict:
    """All generative choices for sentence k of doc d."""
    t = (d * 3 + k * 5) % N_TEMPLATES
    # halving decorrelates pi's parity from t's (both d*odd+k*odd would be
    # ≡ d+k mod 2, making contradicting templates hit disjoint persons)
    pi = ((d * 7 + k * 13) // 2) % len(PERSONS)
    # org/person2 are tied to the person (2-3 variants) so the same
    # canonical pair recurs across documents — this is what makes
    # WORKS_AT vs NO_LONGER_WORKS_AT / LIKES vs DISLIKES contradictions
    # (and edge dedup) actually occur in the corpus
    pj = (pi + 1 + d % 3) % len(PERSONS)
    oi = (pi * 3 + d % 2) % len(ORGS)
    li = (d * 5 + k * 7) % len(PLACES)
    year = 2015 + (d + k) % 9
    date = EPOCH + timedelta(days=(d * 13 + k * 29) % 365)
    honor = (d + 3 * k) % 7 == 0
    typo = (d * 2 + 3 * k) % 13 == 0
    org_inc = (d + 2 * k) % 5 == 0
    person = PERSONS[pi]
    person2 = PERSONS[pj]
    org = ORGS[oi]
    place = PLACES[li]
    # the extracted surface form of the person slot: typo'd aliases double
    # the final letter ("Alice Johnsonn"); honorifics are stripped by
    # extraction so they never reach the name, but the typo does
    person_x = (person + person[-1]) if typo else person
    return {
        "t": t,
        "person": person,
        "person2": person2,
        "org": org,
        "place": place,
        "year": year,
        "date_iso": date.strftime("%Y-%m-%d"),
        "person_x": person_x,
        "person_display": (HONORIFIC + person_x) if honor else person_x,
        "org_display": (org + ORG_SUFFIX) if org_inc else org,
    }


def render_sentence(f: dict) -> str:
    t = f["t"]
    if t == 0:
        return f"{f['person_display']} works at {f['org_display']}."
    if t == 1:
        return f"{f['person_display']} no longer works at {f['org_display']}."
    if t == 2:
        return f"{f['person_display']} likes {f['person2']}."
    if t == 3:
        return f"{f['person_display']} dislikes {f['person2']}."
    if t == 4:
        return f"{f['org_display']} is based in {f['place']}."
    if t == 5:
        return f"{f['person_display']} moved to {f['place']}."
    if t == 6:
        return f"Since {f['year']}, {f['person_display']} has led {f['org_display']}."
    if t == 7:
        return f"{f['person_display']} visited {f['place']} on {f['date_iso']}."
    if t == 8:
        return f"{f['person_display']} is employed at {f['org_display']}."
    if t == 9:
        return (
            f"{f['person_display']} and {f['org_display']} were mentioned"
            " in the same report."
        )
    if t == 10:
        return f"{f['person_display']} admires {f['person2']}."
    return f"It is unclear whether {f['person_display']} works at {f['org_display']}."


def sentence_triple(f: dict) -> tuple[str, str, str, str] | None:
    """(subj, pred, obj, valid_kind) ground truth for a sentence, or None
    for distractor templates (t9/t11: mentions, no relation).

    valid_kind: 'ref' -> episode warc_ts; 'year' -> Jan 1 of f['year'];
    'date' -> f['date_iso'] midnight. Honorifics are not part of names
    (extraction strips them); the typo'd surface form and the org ' Inc'
    suffix ARE part of the extracted display name (alias-resolved later).
    """
    t = f["t"]
    if t == 0:
        return f["person_x"], "WORKS_AT", f["org_display"], "ref"
    if t == 8:
        # paraphrase surface ("is employed at"): extracted as its own
        # predicate EMPLOYED_AT; the engine's same-pair similarity dedup
        # (synonym class, operators/materialize.py) merges it with
        # WORKS_AT edges on the same canonical pair
        return f["person_x"], "EMPLOYED_AT", f["org_display"], "ref"
    if t == 1:
        return f["person_x"], "NO_LONGER_WORKS_AT", f["org_display"], "ref"
    if t == 2:
        return f["person_x"], "LIKES", f["person2"], "ref"
    if t == 3:
        return f["person_x"], "DISLIKES", f["person2"], "ref"
    if t == 4:
        return f["org_display"], "BASED_IN", f["place"], "ref"
    if t == 5:
        return f["person_x"], "MOVED_TO", f["place"], "ref"
    if t == 6:
        return f["person_x"], "LEADS", f["org_display"], "year"
    if t == 7:
        return f["person_x"], "VISITED", f["place"], "date"
    if t == 10:
        return f["person_x"], "ADMIRES", f["person2"], "ref"
    return None


def sentence_mentions(f: dict) -> list[tuple[str, str]]:
    """[(display_name, base_key)] mention ground truth for a sentence —
    every capitalized entity surface form, including distractors'."""
    t = f["t"]
    if t in (2, 3, 10):
        return [(f["person_x"], f["person"]), (f["person2"], f["person2"])]
    if t == 4:
        return [(f["org_display"], f["org"]), (f["place"], f["place"])]
    if t in (5, 7):
        return [(f["person_x"], f["person"]), (f["place"], f["place"])]
    # t0, t1, t6, t8, t9, t11: person + org
    return [(f["person_x"], f["person"]), (f["org_display"], f["org"])]


# --- message / json episode paragraphs ------------------------------------

def message_fields(d: int) -> dict:
    return {
        "person": PERSONS[(d * 5 + 1) % len(PERSONS)],
        "place": PLACES[(d * 3 + 2) % len(PLACES)],
    }


def render_message(d: int) -> str:
    m = message_fields(d)
    return f"{m['person']}: relocation to {m['place']} is complete."


def json_fields(d: int) -> dict:
    date = EPOCH + timedelta(days=(d * 17) % 365)
    return {
        "org": ORGS[(d * 7) % len(ORGS)],
        "place": PLACES[(d * 11) % len(PLACES)],
        "as_of": date.strftime("%Y-%m-%d"),
    }


def render_json(d: int) -> str:
    j = json_fields(d)
    return (
        '{"entity": "' + j["org"] + '", "relation": "BASED_IN", "target": "'
        + j["place"] + '", "as_of": "' + j["as_of"] + '"}'
    )


def rel_fields(d: int) -> dict:
    """Relative-time paragraph fields. `form` cycles through the X4
    relative-expression surface forms the reference's date-extraction
    prompt enumerates (temporal_operations.py:32-68 +
    prompts/extract_edge_dates.py:66-81): "N days ago", "last
    week/month/year" (all resolved AGAINST the episode reference
    timestamp) and an explicit "since <month> <year>" anchor."""
    return {
        "person": PERSONS[(d * 11 + 3) % len(PERSONS)],
        "place": PLACES[(d * 7 + 1) % len(PLACES)],
        "org": ORGS[(d * 5 + 2) % len(ORGS)],
        "days": 1 + d % 5,
        "form": d % 5,
        "month": 1 + d % 12,
        "myear": 2016 + d % 8,
    }


def render_rel(d: int) -> str:
    r = rel_fields(d)
    f = r["form"]
    if f == 1:
        return f"Last week, {r['person']} visited {r['place']}."
    if f == 2:
        return f"Last month, {r['person']} visited {r['place']}."
    if f == 3:
        return f"Last year, {r['person']} visited {r['place']}."
    if f == 4:
        return (
            f"{r['person']} has led {r['org']} since "
            f"{MONTHS[r['month'] - 1]} {r['myear']}."
        )
    return f"{r['days']} days ago, {r['person']} visited {r['place']}."


def minus_months(ts: datetime, n: int) -> datetime:
    """Month subtraction with end-of-month clamping — bit-identical to
    Spark's `ts - make_interval(0, n)` and DuckDB's `ts - INTERVAL n
    MONTH` (both clamp the day to the target month's length; verified
    2024-03-31 - 1 month == 2024-02-29 on both engines)."""
    import calendar

    m = ts.year * 12 + (ts.month - 1) - n
    y, mo = divmod(m, 12)
    mo += 1
    return ts.replace(year=y, month=mo,
                      day=min(ts.day, calendar.monthrange(y, mo)[1]))


def rel_valid_at(d: int, warc: datetime) -> datetime:
    """Ground-truth valid_at of the relative-time paragraph's triple."""
    r = rel_fields(d)
    f = r["form"]
    if f == 1:
        return warc - timedelta(days=7)
    if f == 2:
        return minus_months(warc, 1)
    if f == 3:
        return minus_months(warc, 12)
    if f == 4:
        return datetime(r["myear"], r["month"], 1)
    return warc - timedelta(days=r["days"])


# --------------------------------------------------------------------------
# Page assembly.
# --------------------------------------------------------------------------

def page_url(d: int, source: str) -> str:
    return f"https://{source}.example.com/doc/{d}"


def page_warc_ts(d: int) -> datetime:
    return EPOCH + timedelta(minutes=WARC_STEP_MINUTES * d)


def page_title(d: int, source: str) -> str:
    # all-lowercase on purpose: must contribute zero entity mentions
    return f"web digest {d} - {source} daily notes"


def page_sentences(d: int) -> list[str]:
    return [render_sentence(sentence_fields(d, k)) for k in range(doc_sentence_count(d))]


def n_body_paras(d: int) -> int:
    return (doc_sentence_count(d) + 1) // 2


def message_para_idx(d: int) -> int:
    return 2 + n_body_paras(d)


def json_para_idx(d: int) -> int:
    return 2 + n_body_paras(d) + (1 if has_message(d) else 0)


def rel_para_idx(d: int) -> int:
    return (
        2 + n_body_paras(d) + (1 if has_message(d) else 0)
        + (1 if has_json(d) else 0)
    )


def page_text(d: int, source: str, noise: str) -> str:
    """Raw page text (pre-clean). Pure function of (d, source, noise)."""
    title = page_title(d, source)
    if d % 3 == 0:
        title += ZWSP
    sents = page_sentences(d)
    paras = [" ".join(sents[i : i + 2]) for i in range(0, len(sents), 2)]
    if has_message(d):
        paras.append(render_message(d))
    if has_json(d):
        paras.append(render_json(d))
    if has_rel(d):
        paras.append(render_rel(d))
    return title + "\n\n" + noise[:120] + "\n\n" + "\n\n".join(paras)


def page_html(text: str) -> bytes:
    return ("<html><body><p>" + text.replace("\n\n", "</p><p>") + "</p></body></html>").encode("utf-8")


# --------------------------------------------------------------------------
# SQL builders (DuckDB oracle). Emit CTE bodies over the pre-registered
# `documents` view. DuckDB arrays are 1-indexed; all arithmetic mirrors the
# Python above term-for-term.
# --------------------------------------------------------------------------

def _sql_array(name: str, values: list[str]) -> str:
    items = ", ".join("'" + v.replace("'", "''") + "'" for v in values)
    return f"[{items}]"


def sql_pages_cte() -> str:
    """CTE `pages_g`: (doc_id, url, group_id, lang, warc_ts, clean_text).

    clean_text is the post-clean text (ZWSP removed), i.e. what the engine's
    byte-identical cleaned text must equal per url. Also emits the shared
    `sent` CTE (per-sentence generative fields + rendering) that
    sql_triples_cte / sql_mentions_cte build on.
    """
    persons = _sql_array("p", PERSONS)
    orgs = _sql_array("o", ORGS)
    places = _sql_array("l", PLACES)
    months = _sql_array("m", MONTHS)
    np, no, nl = len(PERSONS), len(ORGS), len(PLACES)
    return f"""
sent_g AS (
  SELECT d.doc_id, d.source, d.lang, d.text AS noise, k.k,
         (d.doc_id*3 + k.k*5) % {N_TEMPLATES} AS t,
         ({persons})[1 + ((d.doc_id*7 + k.k*13) // 2) % {np}] AS person,
         ({persons})[1 + ((((d.doc_id*7 + k.k*13) // 2) % {np}) + 1 + d.doc_id % 3) % {np}] AS person2,
         ({orgs})[1 + ((((d.doc_id*7 + k.k*13) // 2) % {np}) * 3 + d.doc_id % 2) % {no}] AS org,
         ({places})[1 + (d.doc_id*5 + k.k*7) % {nl}] AS place,
         2015 + (d.doc_id + k.k) % 9 AS yr,
         strftime(TIMESTAMP '2024-01-01' + INTERVAL 1 DAY * ((d.doc_id*13 + k.k*29) % 365), '%Y-%m-%d') AS date_iso,
         ((d.doc_id + 3*k.k) % 7 = 0) AS honor,
         ((d.doc_id*2 + 3*k.k) % 13 = 0) AS typo,
         ((d.doc_id + 2*k.k) % 5 = 0) AS org_inc
  FROM documents d
  JOIN (SELECT unnest(range(0, 6)) AS k) k
    ON k.k < 3 + d.doc_id % 4
),
sent_r AS (
  SELECT *,
         CASE WHEN typo THEN person || right(person, 1) ELSE person END AS person_x,
         CASE WHEN honor THEN '{HONORIFIC}' || (CASE WHEN typo THEN person || right(person, 1) ELSE person END)
              ELSE (CASE WHEN typo THEN person || right(person, 1) ELSE person END) END AS person_display,
         CASE WHEN org_inc THEN org || '{ORG_SUFFIX}' ELSE org END AS org_display
  FROM sent_g
),
sent AS MATERIALIZED (
  SELECT doc_id, source, lang, noise, k, t, person, person2, org, place, yr, date_iso,
         person_x, person_display, org_display,
         CASE t
           WHEN 0 THEN person_display || ' works at ' || org_display || '.'
           WHEN 1 THEN person_display || ' no longer works at ' || org_display || '.'
           WHEN 2 THEN person_display || ' likes ' || person2 || '.'
           WHEN 3 THEN person_display || ' dislikes ' || person2 || '.'
           WHEN 4 THEN org_display || ' is based in ' || place || '.'
           WHEN 5 THEN person_display || ' moved to ' || place || '.'
           WHEN 6 THEN 'Since ' || yr || ', ' || person_display || ' has led ' || org_display || '.'
           WHEN 7 THEN person_display || ' visited ' || place || ' on ' || date_iso || '.'
           WHEN 8 THEN person_display || ' is employed at ' || org_display || '.'
           WHEN 9 THEN person_display || ' and ' || org_display || ' were mentioned in the same report.'
           WHEN 10 THEN person_display || ' admires ' || person2 || '.'
           ELSE 'It is unclear whether ' || person_display || ' works at ' || org_display || '.'
         END AS sentence
  FROM sent_r
),
mfields AS (
  SELECT d.doc_id,
         ({persons})[1 + (d.doc_id*5 + 1) % {np}] AS mperson,
         ({places})[1 + (d.doc_id*3 + 2) % {nl}] AS mplace
  FROM documents d WHERE d.doc_id % 5 = 2
),
jfields AS (
  SELECT d.doc_id,
         ({orgs})[1 + (d.doc_id*7) % {no}] AS jorg,
         ({places})[1 + (d.doc_id*11) % {nl}] AS jplace,
         strftime(TIMESTAMP '2024-01-01' + INTERVAL 1 DAY * ((d.doc_id*17) % 365), '%Y-%m-%d') AS jdate
  FROM documents d WHERE d.doc_id % 7 = 3
),
mpara AS (
  SELECT doc_id, mperson || ': relocation to ' || mplace || ' is complete.' AS para
  FROM mfields
),
jpara AS (
  SELECT doc_id,
         '{{"entity": "' || jorg || '", "relation": "BASED_IN", "target": "'
           || jplace || '", "as_of": "' || jdate || '"}}' AS para
  FROM jfields
),
rfields AS (
  SELECT d.doc_id,
         ({persons})[1 + (d.doc_id*11 + 3) % {np}] AS rperson,
         ({places})[1 + (d.doc_id*7 + 1) % {nl}] AS rplace,
         ({orgs})[1 + (d.doc_id*5 + 2) % {no}] AS rorg,
         1 + d.doc_id % 5 AS rdays,
         d.doc_id % 5 AS rform,
         1 + d.doc_id % 12 AS rmonth,
         2016 + d.doc_id % 8 AS ryear
  FROM documents d WHERE d.doc_id % 6 = 1
),
rpara AS (
  SELECT doc_id,
         CASE rform
           WHEN 1 THEN 'Last week, ' || rperson || ' visited ' || rplace || '.'
           WHEN 2 THEN 'Last month, ' || rperson || ' visited ' || rplace || '.'
           WHEN 3 THEN 'Last year, ' || rperson || ' visited ' || rplace || '.'
           WHEN 4 THEN rperson || ' has led ' || rorg || ' since '
                       || ({months})[rmonth] || ' ' || ryear || '.'
           ELSE CAST(rdays AS VARCHAR) || ' days ago, ' || rperson || ' visited ' || rplace || '.'
         END AS para
  FROM rfields
),
pages_g AS MATERIALIZED (
  SELECT d.doc_id,
         'https://' || d.source || '.example.com/doc/' || d.doc_id AS url,
         d.source AS group_id, d.lang,
         TIMESTAMP '2024-01-01' + INTERVAL {WARC_STEP_MINUTES} MINUTE * d.doc_id AS warc_ts,
         'web digest ' || d.doc_id || ' - ' || d.source || ' daily notes'
           || chr(10) || chr(10) || substr(d.text, 1, 120) || chr(10) || chr(10)
           || (SELECT string_agg(pp.para, chr(10) || chr(10) ORDER BY pp.pk)
               FROM (SELECT s.doc_id AS sdoc, s.k // 2 AS pk,
                            string_agg(s.sentence, ' ' ORDER BY s.k) AS para
                     FROM sent s GROUP BY s.doc_id, s.k // 2) pp
               WHERE pp.sdoc = d.doc_id)
           || coalesce((SELECT chr(10) || chr(10) || m.para FROM mpara m WHERE m.doc_id = d.doc_id), '')
           || coalesce((SELECT chr(10) || chr(10) || j.para FROM jpara j WHERE j.doc_id = d.doc_id), '')
           || coalesce((SELECT chr(10) || chr(10) || r.para FROM rpara r WHERE r.doc_id = d.doc_id), '')
           AS clean_text
  FROM documents d
)"""


def sql_triples_cte() -> str:
    """CTE `triples_g` (requires sql_pages_cte() first): ground-truth
    triples per instance: subj/pred/obj display names + valid_at + fact +
    paragraph (chunk) index + sent_idx within the chunk + base canon keys.
    Distractor templates (t9/t11) emit no triple; message and json
    paragraphs emit theirs.
    """
    return """
ttrip AS (
  SELECT s.doc_id, s.k % 2 AS sent_idx, s.k // 2 + 2 AS para_idx, s.sentence AS fact,
         CASE WHEN s.t = 4 THEN s.org_display ELSE s.person_x END AS subj,
         CASE WHEN s.t = 4 THEN s.org ELSE s.person END AS subj_base,
         CASE s.t
           WHEN 0 THEN 'WORKS_AT' WHEN 1 THEN 'NO_LONGER_WORKS_AT'
           WHEN 2 THEN 'LIKES' WHEN 3 THEN 'DISLIKES' WHEN 4 THEN 'BASED_IN'
           WHEN 5 THEN 'MOVED_TO' WHEN 6 THEN 'LEADS' WHEN 7 THEN 'VISITED'
           WHEN 8 THEN 'EMPLOYED_AT' WHEN 10 THEN 'ADMIRES' END AS pred,
         CASE s.t
           WHEN 0 THEN s.org_display WHEN 1 THEN s.org_display
           WHEN 2 THEN s.person2 WHEN 3 THEN s.person2 WHEN 4 THEN s.place
           WHEN 5 THEN s.place WHEN 6 THEN s.org_display WHEN 7 THEN s.place
           WHEN 8 THEN s.org_display WHEN 10 THEN s.person2 END AS obj,
         CASE s.t
           WHEN 0 THEN s.org WHEN 1 THEN s.org
           WHEN 2 THEN s.person2 WHEN 3 THEN s.person2 WHEN 4 THEN s.place
           WHEN 5 THEN s.place WHEN 6 THEN s.org WHEN 7 THEN s.place
           WHEN 8 THEN s.org WHEN 10 THEN s.person2 END AS obj_base,
         CASE s.t
           WHEN 6 THEN (s.yr || '-01-01')::TIMESTAMP
           WHEN 7 THEN s.date_iso::TIMESTAMP
           ELSE NULL END AS explicit_valid
  FROM sent s WHERE s.t NOT IN (9, 11)
),
triples_g AS MATERIALIZED (
  SELECT t.doc_id, t.sent_idx, t.para_idx, t.fact, t.subj, t.subj_base, t.pred,
         t.obj, t.obj_base,
         coalesce(t.explicit_valid, p.warc_ts) AS valid_at,
         p.url, p.group_id, p.warc_ts
  FROM ttrip t JOIN pages_g p ON p.doc_id = t.doc_id
  UNION ALL
  SELECT m.doc_id, 0 AS sent_idx,
         2 + (4 + m.doc_id % 4) // 2 AS para_idx,
         mp.para AS fact,
         m.mperson AS subj, m.mperson AS subj_base, 'MOVED_TO' AS pred,
         m.mplace AS obj, m.mplace AS obj_base,
         p.warc_ts AS valid_at, p.url, p.group_id, p.warc_ts
  FROM mfields m JOIN mpara mp ON mp.doc_id = m.doc_id
  JOIN pages_g p ON p.doc_id = m.doc_id
  UNION ALL
  SELECT j.doc_id, 0 AS sent_idx,
         2 + (4 + j.doc_id % 4) // 2 + (CASE WHEN j.doc_id % 5 = 2 THEN 1 ELSE 0 END) AS para_idx,
         jp.para AS fact,
         j.jorg AS subj, j.jorg AS subj_base, 'BASED_IN' AS pred,
         j.jplace AS obj, j.jplace AS obj_base,
         j.jdate::TIMESTAMP AS valid_at, p.url, p.group_id, p.warc_ts
  FROM jfields j JOIN jpara jp ON jp.doc_id = j.doc_id
  JOIN pages_g p ON p.doc_id = j.doc_id
  UNION ALL
  SELECT r.doc_id, 0 AS sent_idx,
         2 + (4 + r.doc_id % 4) // 2
           + (CASE WHEN r.doc_id % 5 = 2 THEN 1 ELSE 0 END)
           + (CASE WHEN r.doc_id % 7 = 3 THEN 1 ELSE 0 END) AS para_idx,
         rp.para AS fact,
         r.rperson AS subj, r.rperson AS subj_base,
         CASE WHEN r.rform = 4 THEN 'LEADS' ELSE 'VISITED' END AS pred,
         CASE WHEN r.rform = 4 THEN r.rorg ELSE r.rplace END AS obj,
         CASE WHEN r.rform = 4 THEN r.rorg ELSE r.rplace END AS obj_base,
         CASE r.rform
           WHEN 1 THEN p.warc_ts - INTERVAL 1 WEEK
           WHEN 2 THEN p.warc_ts - INTERVAL 1 MONTH
           WHEN 3 THEN p.warc_ts - INTERVAL 1 YEAR
           WHEN 4 THEN make_timestamp(r.ryear, r.rmonth, 1, 0, 0, 0)
           ELSE p.warc_ts - INTERVAL 1 DAY * r.rdays
         END AS valid_at,
         p.url, p.group_id, p.warc_ts
  FROM rfields r JOIN rpara rp ON rp.doc_id = r.doc_id
  JOIN pages_g p ON p.doc_id = r.doc_id
)"""


def sql_mentions_cte() -> str:
    """CTE `mentions_g` (requires sql_pages_cte() first): every mention
    instance (group_id, url, para_idx, display name, base canon key) —
    including distractor sentences' participants, message speakers and
    json fields. This is the generative node universe (the engine's node
    table is mention-derived, not triple-derived)."""
    return """
tment AS (
  SELECT s.doc_id, s.k // 2 + 2 AS para_idx, u.name, u.base
  FROM sent s,
  LATERAL (
    SELECT * FROM (VALUES
      (CASE WHEN s.t = 4 THEN s.org_display ELSE s.person_x END,
       CASE WHEN s.t = 4 THEN s.org ELSE s.person END),
      (CASE WHEN s.t IN (2, 3, 10) THEN s.person2
            WHEN s.t IN (4, 5, 7) THEN s.place
            ELSE s.org_display END,
       CASE WHEN s.t IN (2, 3, 10) THEN s.person2
            WHEN s.t IN (4, 5, 7) THEN s.place
            ELSE s.org END)
    ) AS v(name, base)
  ) u
),
mentions_g AS MATERIALIZED (
  SELECT t.doc_id, p.url, p.group_id, t.para_idx, t.name, t.base
  FROM tment t JOIN pages_g p ON p.doc_id = t.doc_id
  UNION ALL
  SELECT m.doc_id, p.url, p.group_id, 2 + (4 + m.doc_id % 4) // 2 AS para_idx,
         v.name, v.base
  FROM mfields m JOIN pages_g p ON p.doc_id = m.doc_id,
  LATERAL (SELECT * FROM (VALUES (m.mperson, m.mperson), (m.mplace, m.mplace)) AS x(name, base)) v
  UNION ALL
  SELECT j.doc_id, p.url, p.group_id,
         2 + (4 + j.doc_id % 4) // 2 + (CASE WHEN j.doc_id % 5 = 2 THEN 1 ELSE 0 END) AS para_idx,
         v.name, v.base
  FROM jfields j JOIN pages_g p ON p.doc_id = j.doc_id,
  LATERAL (SELECT * FROM (VALUES (j.jorg, j.jorg), (j.jplace, j.jplace)) AS x(name, base)) v
  UNION ALL
  SELECT r.doc_id, p.url, p.group_id,
         2 + (4 + r.doc_id % 4) // 2
           + (CASE WHEN r.doc_id % 5 = 2 THEN 1 ELSE 0 END)
           + (CASE WHEN r.doc_id % 7 = 3 THEN 1 ELSE 0 END) AS para_idx,
         v.name, v.base
  FROM rfields r JOIN pages_g p ON p.doc_id = r.doc_id,
  LATERAL (SELECT * FROM (VALUES
    (r.rperson, r.rperson),
    (CASE WHEN r.rform = 4 THEN r.rorg ELSE r.rplace END,
     CASE WHEN r.rform = 4 THEN r.rorg ELSE r.rplace END)) AS x(name, base)) v
)"""


# --------------------------------------------------------------------------
# Pure-pandas golden generator (single-process oracle used by pytest).
# --------------------------------------------------------------------------

def golden_pages(documents) -> "pandas.DataFrame":  # noqa: F821
    """documents: pandas DF with doc_id, text, lang, source.
    Returns pages DF (url, warc_ts, html, text, lang, doc_id, group_id)."""
    import pandas as pd

    rows = []
    for r in documents.itertuples(index=False):
        d = int(r.doc_id)
        text = page_text(d, r.source, r.text)
        rows.append(
            {
                "url": page_url(d, r.source),
                "warc_ts": page_warc_ts(d),
                "html": page_html(text),
                "text": text,
                "lang": r.lang,
                "doc_id": d,
                "group_id": r.source,
            }
        )
    return pd.DataFrame(rows)


def golden_triples(documents) -> "pandas.DataFrame":  # noqa: F821
    """Generative ground-truth triples (the 'reference golden triples' the
    north metric scores against). Includes message/json episode triples;
    excludes distractor templates by construction."""
    import pandas as pd

    rows = []
    for r in documents.itertuples(index=False):
        d = int(r.doc_id)
        warc = page_warc_ts(d)
        for k in range(doc_sentence_count(d)):
            f = sentence_fields(d, k)
            trip = sentence_triple(f)
            if trip is None:
                continue
            subj, pred, obj, kind = trip
            if kind == "year":
                valid = datetime(f["year"], 1, 1)
            elif kind == "date":
                valid = datetime.strptime(f["date_iso"], "%Y-%m-%d")
            else:
                valid = warc
            rows.append(
                {
                    "doc_id": d,
                    "k": k,
                    "sent_idx": k % 2,
                    "para_idx": k // 2 + 2,
                    "url": page_url(d, r.source),
                    "group_id": r.source,
                    "subj": subj,
                    "pred": pred,
                    "obj": obj,
                    "fact": render_sentence(f),
                    "valid_at": valid,
                    "warc_ts": warc,
                }
            )
        if has_message(d):
            m = message_fields(d)
            rows.append(
                {
                    "doc_id": d, "k": -1, "sent_idx": 0,
                    "para_idx": message_para_idx(d),
                    "url": page_url(d, r.source), "group_id": r.source,
                    "subj": m["person"], "pred": "MOVED_TO", "obj": m["place"],
                    "fact": render_message(d), "valid_at": warc, "warc_ts": warc,
                }
            )
        if has_json(d):
            j = json_fields(d)
            rows.append(
                {
                    "doc_id": d, "k": -2, "sent_idx": 0,
                    "para_idx": json_para_idx(d),
                    "url": page_url(d, r.source), "group_id": r.source,
                    "subj": j["org"], "pred": "BASED_IN", "obj": j["place"],
                    "fact": render_json(d),
                    "valid_at": datetime.strptime(j["as_of"], "%Y-%m-%d"),
                    "warc_ts": warc,
                }
            )
        if has_rel(d):
            rel = rel_fields(d)
            rows.append(
                {
                    "doc_id": d, "k": -3, "sent_idx": 0,
                    "para_idx": rel_para_idx(d),
                    "url": page_url(d, r.source), "group_id": r.source,
                    "subj": rel["person"],
                    "pred": "LEADS" if rel["form"] == 4 else "VISITED",
                    "obj": rel["org"] if rel["form"] == 4 else rel["place"],
                    "fact": render_rel(d),
                    # X4: relative expressions ("N days ago", "last
                    # week/month/year") resolved against the episode's
                    # reference time (warc_ts); the explicit "since
                    # <month> <year>" anchor overrides
                    # (temporal_operations.py:32-68)
                    "valid_at": rel_valid_at(d, warc),
                    "warc_ts": warc,
                }
            )
    return pd.DataFrame(rows)


def golden_mentions(documents) -> "pandas.DataFrame":  # noqa: F821
    """Generative mention ground truth: one row per (doc, para, display
    name) with the base canon key — includes distractor participants."""
    import pandas as pd

    rows = []
    for r in documents.itertuples(index=False):
        d = int(r.doc_id)
        for k in range(doc_sentence_count(d)):
            f = sentence_fields(d, k)
            for name, base in sentence_mentions(f):
                rows.append(
                    {
                        "doc_id": d, "para_idx": k // 2 + 2,
                        "url": page_url(d, r.source), "group_id": r.source,
                        "name": name, "base": base,
                    }
                )
        if has_message(d):
            m = message_fields(d)
            for name in (m["person"], m["place"]):
                rows.append(
                    {
                        "doc_id": d, "para_idx": message_para_idx(d),
                        "url": page_url(d, r.source), "group_id": r.source,
                        "name": name, "base": name,
                    }
                )
        if has_json(d):
            j = json_fields(d)
            for name in (j["org"], j["place"]):
                rows.append(
                    {
                        "doc_id": d, "para_idx": json_para_idx(d),
                        "url": page_url(d, r.source), "group_id": r.source,
                        "name": name, "base": name,
                    }
                )
        if has_rel(d):
            rel = rel_fields(d)
            second = rel["org"] if rel["form"] == 4 else rel["place"]
            for name in (rel["person"], second):
                rows.append(
                    {
                        "doc_id": d, "para_idx": rel_para_idx(d),
                        "url": page_url(d, r.source), "group_id": r.source,
                        "name": name, "base": name,
                    }
                )
    return pd.DataFrame(rows)
