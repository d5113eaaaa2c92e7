"""The benchmark workloads and the layer probes of the traced run.

Every workload times one kind of operation ("op") in a closed loop with a
single client:
  - bulk_build: one full construction in a fresh session, as a batch
    build job pays it (codegen and worker start-up included);
  - small_build: the same construction on a handful of pages, so its
    wall is the fixed cost of a build job rather than its data;
  - incremental_merge: one `merge_batch` of a 1% page batch into a
    standing graph;
  - search_serve: one `GraphitiSpark.search` call of 8 queries.

A traced run reports every per-layer metric on every workload. Layers a
workload's op goes through are measured on the op itself; the others are
probed once, after the timed part, on the same generated inputs:
construction stages on a stage-by-stage build, the search layer on that
build's indexes, and the merge layer on a small standing graph.
"""

from __future__ import annotations

import statistics
import sys
import time
import traceback

import numpy as np

import gen
from eventlog import read_jobs
from trace import Tracer

SIZES = {
    "full": {
        "bulk_docs": 2000,
        "small_docs": 150,
        "inc_docs": 100,
        "inc_batches": 2,
        "inc_batch": 1,
        "search_docs": 2000,
        "probe_docs": 120,
        "probe_batch": 5,
    },
    "tiny": {
        "bulk_docs": 150,
        "small_docs": 60,
        "inc_docs": 60,
        "inc_batches": 2,
        "inc_batch": 1,
        "search_docs": 150,
        "probe_docs": 40,
        "probe_batch": 2,
    },
}
SEARCH_CONFIGS = [
    "EDGE_HYBRID_SEARCH_RRF",
    "NODE_HYBRID_SEARCH_RRF",
    "COMBINED_HYBRID_SEARCH_RRF",
    "EDGE_HYBRID_SEARCH_MMR",
    "EDGE_HYBRID_SEARCH_CROSS_ENCODER",
]
QUERIES_PER_CALL = 8
TRIPLE_COLS = ["group_id", "subj", "pred", "obj", "fact", "valid_at", "invalid_at", "n_episodes"]

# construction stages in DAG order: (layer name, GraphTables stage forced)
STAGES = [
    ("episodes", "episodes"),
    ("extract", "extracted"),
    ("mentions", "mentions_raw"),
    ("resolve", "uuid_map"),
    ("materialize", "edges"),
    ("summaries", "nodes"),
    ("mention_edges", "mention_edges"),
    ("embed", "nodes_emb"),
]


class Run:
    """State of one benchmark run: session, tracer, inputs, results."""

    def __init__(self, spark, args, work_dir: str, session_s: float):
        self.spark = spark
        self.args = args
        self.work = work_dir
        self.session_s = session_s
        self.setup_s: float | None = None
        self._setup_t0 = time.perf_counter()
        self.size = SIZES[args.scale]
        self.tracer = Tracer(spark, args.trace == 1)
        self.op_walls: list[float] = []
        self.op_work: list[int] = []
        self.attempted = 0
        self.failed = 0
        self.report: dict = {}
        self.per_merge: list[dict] = []
        self.deadline = time.monotonic() + args.seconds

    # -- helpers -----------------------------------------------------------

    def inputs_ready(self) -> None:
        """Inputs are generated: the workload's own set-up starts now."""
        self._setup_t0 = time.perf_counter()

    def setup_done(self) -> None:
        """Set-up ends; the measuring window of --seconds starts now."""
        self.setup_s = self.session_s + (time.perf_counter() - self._setup_t0)
        self.deadline = time.monotonic() + self.args.seconds

    def fail(self, what: str, n: int = 1) -> None:
        self.failed += n
        print(f"FAILED {what}", file=sys.stderr)
        traceback.print_exc(file=sys.stderr)

    def pages(self, docs_dir: str):
        from graphiti_spark.sources.pages import build_pages

        return build_pages(self.spark, docs_dir)

    def time_left(self) -> bool:
        return time.monotonic() < self.deadline


def _triples_frame(df):
    import pandas as pd

    pdf = df.select(*TRIPLE_COLS).toPandas() if not isinstance(df, pd.DataFrame) else df
    pdf = pdf[TRIPLE_COLS].copy()
    for c in ("valid_at", "invalid_at"):
        pdf[c] = pd.to_datetime(pdf[c]).dt.tz_localize(None).astype("datetime64[us]")
    for c in ("group_id", "subj", "pred", "obj", "fact"):
        pdf[c] = pdf[c].astype(str)
    pdf["n_episodes"] = pdf["n_episodes"].astype("int64")
    return pdf.sort_values(TRIPLE_COLS).reset_index(drop=True)


def _engine_triples(tables):
    from pyspark.sql import functions as F

    from graphiti_spark.plans.pipeline import triples_view

    return triples_view(tables).withColumn("n_episodes", F.size("episodes").cast("long"))


def _oracle_triples(docs_dir: str):
    import duckdb

    from graphiti_spark import registry

    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW documents AS SELECT * FROM '{docs_dir}/documents.parquet'")
        return con.execute(registry.ORACLES["kg_triples"]()).df()
    finally:
        con.close()


# -- bulk_build, small_build ------------------------------------------------


def bulk_build(run: Run) -> None:
    build(run, run.size["bulk_docs"])


def small_build(run: Run) -> None:
    build(run, run.size["small_docs"])


def build(run: Run, n_docs: int) -> None:
    """One cold `GraphitiSpark.build` of `n_docs` sampled pages, with its
    search indexes forced, checked against the kg_triples oracle."""
    from graphiti_spark.api import GraphitiSpark

    ids = gen.sample_ids(run.args.seed, n_docs)
    docs = gen.write_documents(f"{run.work}/bulk", ids)
    run.report["inputs"] = {"docs": len(ids)}
    run.inputs_ready()
    run.setup_done()

    g = GraphitiSpark(run.spark)
    t0 = time.perf_counter()
    run.attempted += 1
    try:
        with run.tracer.span("op") as op:
            if op is None:
                tables = g.build(docs)
                tables.nodes_emb.count()
                tables.edges_emb.count()
            else:
                tables = walk_build(run, docs)
                g.tables = tables
    except Exception:
        run.fail("build")
        return
    run.op_walls.append(time.perf_counter() - t0)
    tables = g.tables
    run.op_work.append(len(ids))
    run.report["raw_triples_per_s"] = tables.triples_raw.count() / run.op_walls[-1]

    try:
        got = _triples_frame(_engine_triples(tables))
        want = _triples_frame(_oracle_triples(docs))
        if not got.equals(want):
            raise AssertionError(f"kg_triples != oracle ({len(got)} vs {len(want)} rows)")
        run.report["canonical_triples"] = len(got)
    except Exception:
        run.fail("bulk_build output check")

    if run.tracer.enabled:
        stage_rows(run, tables)
        search_probe(run, tables, gen.make_queries(run.args.seed, 1, QUERIES_PER_CALL)[0])
        merge_probe(run, docs, ids)


# -- incremental_merge -----------------------------------------------------


def incremental_merge(run: Run) -> None:
    from pyspark.sql import functions as F

    from graphiti_spark.plans import incremental

    s = run.size
    ids = gen.sample_ids(run.args.seed, s["inc_docs"])
    standing, batches = gen.split_batches(ids, run.args.merges or s["inc_batches"], s["inc_batch"])
    docs = gen.write_documents(f"{run.work}/inc", ids)
    gen.write_manifest(
        docs,
        {"seed": run.args.seed, "standing": standing.tolist(),
         "batches": [b.tolist() for b in batches]},
    )
    run.report["inputs"] = {"docs": len(ids), "standing": len(standing),
                            "batch_docs": s["inc_batch"], "batches": len(batches)}
    run.inputs_ready()
    pages = run.pages(docs)

    def sel(id_list):
        return pages.where(F.col("doc_id").isin([int(x) for x in id_list]))

    state = incremental.initial_state(sel(standing))
    ents = state.ents.count() if run.tracer.enabled else 0
    run.setup_done()

    # closed loop: the next merge starts when the previous one returned;
    # at least one merge, then merges while the measuring window lasts
    merged = [standing]
    for i, batch in enumerate(batches):
        if i and not run.time_left():
            break
        run.attempted += 1
        t0 = time.perf_counter()
        try:
            with run.tracer.span(f"merge:{i}"):
                state = incremental.merge_batch(state, sel(batch))
        except Exception:
            run.fail(f"merge {i}")
            return
        run.op_walls.append(time.perf_counter() - t0)
        merged.append(batch)
        run.op_work.append(len(batch))
        if run.tracer.enabled:
            ents = _merge_state(run, i, state, state.raw.count(), ents)
    run.report["merges"] = len(run.op_walls)

    merged_ids = np.concatenate(merged)
    merged_docs = gen.write_documents(f"{run.work}/inc_merged", merged_ids)
    try:
        # kg_incremental_build's contract: the merged state equals the
        # one-shot build over the same pages, whose oracle is kg_triples'
        got = _triples_frame(incremental.incremental_triples(state))
        want = _triples_frame(_oracle_triples(merged_docs))
        if not got.equals(want):
            raise AssertionError(f"incremental != one-shot ({len(got)} vs {len(want)} rows)")
        run.report["canonical_triples"] = len(got)
    except Exception:
        run.fail("incremental_merge output check", n=len(run.op_walls))

    if run.tracer.enabled:
        tables = walk_build(run, merged_docs)
        stage_rows(run, tables)
        search_probe(run, tables, gen.make_queries(run.args.seed, 1, QUERIES_PER_CALL)[0])


def _merge_state(run: Run, i: int, state, raw_rows: int, ents_before: int) -> int:
    """Record the standing state after merge `i`; returns its entity count."""
    ents = state.ents.count()
    run.per_merge.append({
        "index": i,
        "state_raw_rows": raw_rows,
        "state_partitions": sum(
            getattr(state, f).rdd.getNumPartitions()
            for f in ("ents", "canon", "raw", "edges", "bands", "bucket_n")
        ),
        "new_entities": ents - ents_before,
    })
    return ents


# -- search_serve ----------------------------------------------------------


def search_serve(run: Run) -> None:
    from graphiti_spark import api

    ids = gen.sample_ids(run.args.seed, run.size["search_docs"])
    docs = gen.write_documents(f"{run.work}/search", ids)
    calls = gen.make_queries(run.args.seed, len(SEARCH_CONFIGS), QUERIES_PER_CALL)
    gen.write_manifest(docs, {"seed": run.args.seed, "queries": calls})
    configs = [getattr(api, name) for name in SEARCH_CONFIGS]
    run.report["inputs"] = {"docs": len(ids), "calls_per_pass": len(calls),
                            "queries_per_call": QUERIES_PER_CALL}
    run.inputs_ready()

    g = api.GraphitiSpark(run.spark)
    tables = g.build(docs)
    tables.nodes_emb.count()
    tables.edges_emb.count()

    def call(i: int):
        k = i % len(calls)
        rows = g.search(calls[k], configs[k]).collect()
        return sorted(tuple(r) for r in rows)

    # first pass: warms every config's plans and fixes the expected results
    expected = [call(i) for i in range(len(calls))]
    run.setup_done()

    # whole passes, so every run times the same mix of configs
    results = []
    i = 0
    while i == 0 or i % len(calls) or run.time_left():
        run.attempted += 1
        t0 = time.perf_counter()
        try:
            with run.tracer.span(f"call:{i}"):
                results.append((i, call(i)))
        except Exception:
            run.fail(f"search call {i}")
            return
        run.op_walls.append(time.perf_counter() - t0)
        run.op_work.append(QUERIES_PER_CALL)
        i += 1
    bad = sum(1 for i, r in results if r != expected[i % len(calls)])
    if bad:
        run.failed += bad
        print(f"FAILED {bad} search calls differ from the first pass", file=sys.stderr)
    run.report["calls"] = len(results)

    if run.tracer.enabled:
        tables = walk_build(run, docs)
        stage_rows(run, tables)
        search_probe(run, tables, calls[0])
        merge_probe(run, docs, ids)


WORKLOADS = {
    "bulk_build": bulk_build,
    "small_build": small_build,
    "incremental_merge": incremental_merge,
    "search_serve": search_serve,
}


# -- layer probes (traced runs only) ---------------------------------------


def walk_build(run: Run, docs_dir: str):
    """Build the graph forcing each construction stage in DAG order, one
    span per stage inside a "build" span, committing the tables the
    facade's `build` commits; returns the GraphTables."""
    from graphiti_spark.plans.pipeline import build_graph

    tr = run.tracer
    t = build_graph(run.spark, docs_dir)
    with tr.span("build"):
        for layer, stage in STAGES:
            with tr.span(f"stage:{layer}"):
                df = getattr(t, stage)
                if stage == "episodes":
                    t.episodes = df.localCheckpoint(eager=True)
                elif stage in ("extracted", "uuid_map"):
                    df.count()
                elif stage == "mention_edges":
                    t.mention_edges = df.localCheckpoint(eager=True)
                elif stage == "nodes_emb":
                    df.count()
                    t.edges_emb.count()
    return t


def stage_rows(run: Run, t) -> None:
    """Row counts per stage, taken after the timed build."""
    from pyspark.sql import functions as F

    rows = {
        "episodes.rows": t.episodes.count(),
        "extract.rows": t.extracted.count(),
        "mentions.rows": t.mentions_raw.count(),
        "resolve.entities": t.uuid_map.count(),
        "resolve.merged_aliases": t.uuid_map.where(F.col("uuid") != F.col("canon_uuid")).count(),
        "resolve.nodes": t._base_nodes.count(),
        "materialize.rows_in": t.triples_raw.count(),
        "materialize.rows_out": t.edges.count(),
        "mention_edges.rows": t.mention_edges.count(),
        "embed.rows": t.nodes_emb.count() + t.edges_emb.count(),
    }
    run.report.setdefault("layer_counts", {}).update(rows)


def search_probe(run: Run, t, queries: list[str]) -> None:
    """Each search layer called directly on the built indexes, one span
    each, plus one facade call for per-call job counts."""
    from pyspark.sql import functions as F

    from graphiti_spark import api
    from graphiti_spark.functions.embed import embed_texts
    from graphiti_spark.operators import search as S
    from graphiti_spark.operators.cross_encoder import cross_encoder_rank

    tr, spark = run.tracer, run.spark
    emb = t.edges_emb
    reps = []
    for _ in range(5):
        t0 = time.perf_counter()
        qv = embed_texts(queries)
        reps.append(time.perf_counter() - t0)
    run.report["search.embed_query_s"] = statistics.median(reps)

    qs = S.make_queries_df(spark, queries)
    qvec = spark.createDataFrame(
        [(i, [float(x) for x in qv[i]]) for i in range(len(queries))],
        "query_id long, qvec array<float>",
    )
    k = 2 * S.DEFAULT_SEARCH_LIMIT
    with tr.span("search:bm25"):
        ft = S.bm25_topk(emb, qs, "uuid", "text", k=k).localCheckpoint(eager=True)
    with tr.span("search:cosine"):
        cos = S.cosine_topk(emb, qvec, "uuid", "vec", k=k).localCheckpoint(eager=True)
    with tr.span("search:rrf"):
        fused = S.rrf([ft, cos], "uuid").where(F.col("rank") <= k).localCheckpoint(eager=True)
    with tr.span("search:mmr"):
        cands = fused.join(emb.select("uuid", "vec"), "uuid").join(qvec, "query_id")
        S.mmr_rerank(cands, "uuid", "vec", "qvec").collect()
    with tr.span("search:cross_encoder"):
        corpus = fused.join(emb.select("uuid", "text"), "uuid").select("uuid", "text")
        cross_encoder_rank(corpus.dropDuplicates(["uuid"]), qs, "uuid", "text").collect()
    g = api.GraphitiSpark(spark)
    g.tables = t
    with tr.span("search:call"):
        g.search(queries).collect()


def merge_probe(run: Run, docs_dir: str, ids) -> None:
    """One merge into a small standing graph cut from the workload's own
    documents, for the merge-layer numbers of workloads whose op is not a
    merge."""
    from pyspark.sql import functions as F

    from graphiti_spark.plans import incremental

    s = run.size
    standing, batches = gen.split_batches(ids[: s["probe_docs"]], 1, s["probe_batch"])
    pages = run.pages(docs_dir)

    def sel(id_list):
        return pages.where(F.col("doc_id").isin([int(x) for x in id_list]))

    state = incremental.initial_state(sel(standing))
    ents = state.ents.count()
    for i, batch in enumerate(batches):
        with run.tracer.span(f"merge:{i}"):
            state = incremental.merge_batch(state, sel(batch))
        ents = _merge_state(run, i, state, state.raw.count(), ents)


# -- per-layer metrics from the event log ----------------------------------

MERGE_PHASES = {
    "new_ents": "extract",
    "new_bands": "resolve",
    "bucket_n": "resolve",
    "delta_map": "resolve",
    "canon_all": "resolve",
    "raw_all": "materialize",
    "edges": "materialize",
    "ents": "checkpoint",
    "bands": "checkpoint",
}


def merge_phase(description: str | None) -> str:
    """Phase of a merge job from its call-site tag: resolve.py jobs are
    resolution; incremental.py jobs by the state table they commit, named
    by the assignment (`new_ents = ...`) or keyword (`ents=...`) that
    holds the action."""
    if not description:
        return "other"
    site, _, source = description.partition(": ")
    if "operators/resolve.py" in site:
        return "resolve"
    if "plans/incremental.py" not in site:
        return "other"
    head, _, line = source.partition(" | ")
    for text in (line, head):
        name = text.split("=")[0].strip()
        if "=" in text and name in MERGE_PHASES:
            return MERGE_PHASES[name]
    return "other"


def phase_times(span: dict, jobs) -> dict[str, float]:
    """Seconds per merge phase: each job's wall plus the driver time since
    the previous job ended (planning the job), so phases tile the span."""
    out = {"extract": 0.0, "resolve": 0.0, "materialize": 0.0, "checkpoint": 0.0, "other": 0.0}
    prev = span["t0"]
    for j in sorted(jobs, key=lambda j: j.submit):
        out[merge_phase(j.description)] += max(j.end - prev, 0) / 1000
        prev = max(prev, j.end)
    return out


def layer_metrics(run: Run, evdir: str) -> dict:
    """Every per-layer metric, from the spans of this run and its event log."""
    tr = run.tracer
    jobs = read_jobs(evdir)
    m: dict[str, float] = {}

    def one(name: str) -> dict:
        spans = tr.named(name)
        if not spans:
            raise RuntimeError(f"traced run recorded no '{name}' span")
        return tr.summary(spans[-1], jobs)

    b = one("build")
    covered = 0.0
    for layer, _ in STAGES:
        s = one(f"stage:{layer}")
        m[f"{layer}.wall_s"] = s["wall_s"]
        covered += s["exec_s"] + s["sched_delay_s"] + s["driver_gap_s"]
        if layer == "extract":
            m["extract.shuffle_write_mb"] = s["shuffle_write_mb"]
            m["extract.task_skew"] = s["task_skew"]
        if layer == "resolve":
            m["resolve.jobs"] = s["jobs"]
        if layer == "materialize":
            m["materialize.shuffle_write_mb"] = s["shuffle_write_mb"]
    m.update(run.report.get("layer_counts", {}))
    for k in ("jobs", "tasks", "exec_s", "sched_delay_s", "driver_gap_s",
              "shuffle_write_mb", "spill_mb"):
        m[f"spark.{k}"] = b[k]
    m["build.coverage"] = covered / b["wall_s"]

    # merges: every merge span of the run (the op, or the probe)
    rows = []
    for rec in tr.spans:
        if not rec["name"].startswith("merge:"):
            continue
        s = tr.summary(rec, jobs)
        phases = phase_times(rec, tr.span_jobs(rec, jobs))
        rows.append({**s, **{f"{p}_s": v for p, v in phases.items()}})
    for row, info in zip(rows, run.per_merge):
        row.update(info)
    run.report["per_merge"] = rows
    def med(key: str) -> float:
        return statistics.median(r[key] for r in rows)

    m["merge.count"] = len(rows)
    for key in ("wall_s", "jobs", "exec_s", "sched_delay_s", "driver_gap_s", "extract_s",
                "resolve_s", "materialize_s", "checkpoint_s", "state_partitions"):
        m[f"merge.{key}"] = med(key)
    m["merge.state_raw_rows"] = rows[-1]["state_raw_rows"]
    m["merge.new_entities"] = med("new_entities")

    # search layer
    for layer in ("bm25", "cosine", "rrf", "mmr", "cross_encoder"):
        m[f"search.{layer}_s"] = one(f"search:{layer}")["wall_s"]
    m["search.embed_query_s"] = run.report["search.embed_query_s"]
    calls = [tr.summary(r, jobs) for r in tr.spans if r["name"].startswith("call:")]
    if not calls:
        calls = [one("search:call")]
    m["search.jobs_per_call"] = statistics.median(c["jobs"] for c in calls)
    m["search.driver_gap_s"] = statistics.median(c["driver_gap_s"] for c in calls)
    return m
