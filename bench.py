"""Benchmark harness.

Default mode: run the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ..., "n_triples": ..., "triples_per_sec": ...}

Scaling mode (`--scaling`): run the flagship KG-construction job in two
fresh subprocesses at local[lo] and local[hi] on the same input (the
sandbox proxy for the north rule's N -> 4N executor criterion), compute
throughput scaling efficiency = (T_lo/T_hi)/(hi/lo), and append the
measured table to BENCH.md. The defaults fit the host (scaling_defaults):
hi = the CPUs this process may use, lo = hi/4, driver heap = half the
available memory (8 -> 32 CPUs and 48g on a 32-core / 128 GB host).
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

DEFAULT_SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

HEADLINE = [
    "kg_pipeline_throughput",
    "kg_build",
    "kg_triples",
    "kg_episodes",
    "kg_nodes",
    "kg_mentions",
    "doc_tokens",
    "doc_quality",
    "doc_fingerprint",
    "doc_ngram_pairs",
    "ann_topk",
]


def run_bench(sf_dir: str, cpus: int, names: list[str]) -> dict:
    from graphiti_spark import registry
    from graphiti_spark.queries import shared
    from graphiti_spark.session import get_spark

    host_state = _host_state()  # captured BEFORE any work starts
    spark = get_spark(
        app_name=f"bench-{cpus}", master=f"local[{cpus}]", shuffle_partitions=cpus
    )
    spark.sparkContext.setLogLevel("ERROR")

    # JIT/codegen warm-up on the tiny scale: the fused extraction and
    # synthesis expressions compile to large generated classes whose
    # first-compile cost (~15s) would otherwise be billed to the first
    # timed query; Janino caches compiled classes per plan shape
    from graphiti_spark.plans.pipeline import build_graph as _bg, triples_view as _tv

    _tv(_bg(spark, "/root/testdata/sf0.001")).count()
    shared._GRAPH_CACHE.clear()
    spark.catalog.clearCache()

    timings: dict[str, float] = {}
    n_triples = 0
    tput = {}
    for name in names:
        if name == "kg_pipeline_throughput":
            # meaningful end-to-end throughput: the corpus at replicate=1
            # is overhead-dominated, so the throughput probe runs the full
            # construction DAG on a 20x deterministic replication and
            # reports raw extracted triples per second
            from graphiti_spark.plans.pipeline import build_graph, triples_view

            # min-of-2: single-shot probes on this substrate swing
            # 1.3-1.6x with minute-scale neighbor interference invisible
            # to loadavg (see BENCH.md round-4 continuation); each
            # attempt rebuilds from cleared caches, so both runs execute
            # the full DAG honestly and the min is the window-robust
            # reading
            attempts = []
            raw = 0
            for _ in range(2):
                shared._GRAPH_CACHE.clear()
                spark.catalog.clearCache()
                t0 = time.perf_counter()
                t = build_graph(spark, sf_dir, replicate=20)
                triples_view(t).count()
                attempts.append(round(time.perf_counter() - t0, 3))
                raw = t.triples_raw.count()
            dt = min(attempts)
            timings[name] = dt
            tput = {
                "n_raw_triples": raw,
                "raw_triples_per_sec": round(raw / dt, 1),
                "throughput_attempts": attempts,
            }
            shared._GRAPH_CACHE.clear()
            spark.catalog.clearCache()
            continue
        if name == "kg_build":
            # the WRITE path, timed once: construction runs when the graph
            # is built, and the kg_* queries that follow READ the committed
            # stage tables — the production split (Iceberg stage tables are
            # written by the build job, never recomputed per query). The
            # driver's own correctness runner shares the built graph across
            # queries the same way.
            t0 = time.perf_counter()
            t = shared._graph(spark, sf_dir)
            t.edges.count(), t.nodes.count(), t.mention_edges.count()
            timings[name] = round(time.perf_counter() - t0, 3)
            continue
        fn = registry.QUERIES[name]
        t0 = time.perf_counter()
        n = fn(spark, sf_dir).count()
        timings[name] = round(time.perf_counter() - t0, 3)
        if name == "kg_triples":
            n_triples = n
    total = round(sum(timings.values()), 3)
    out = {
        "metric": "headline_queries_total_runtime",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_dir,
        "cpus": cpus,
        "n_triples": n_triples,
        "host_state": host_state,
        **tput,
    }
    spark.stop()
    return out


def _host_state() -> dict:
    """Host-noise provenance recorded with every bench artifact: a run
    started while another job's caches are hot (e.g. seconds after the
    10-minute correctness gate) reads up to 2.5x slower purely from
    cache/LLC pressure. load1 at bench START makes round-over-round
    numbers interpretable — compare runs at similar load, or re-run on a
    quiet host (load1 < ~2) before citing a regression."""
    state: dict = {}
    try:
        state["load1"] = round(os.getloadavg()[0], 2)
    except OSError:
        pass
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemAvailable:"):
                    state["mem_available_mb"] = int(line.split()[1]) // 1024
                    break
    except OSError:
        pass
    return state


SCALING_SNIPPET = """
import json, time, sys
from graphiti_spark.session import get_spark
from graphiti_spark.plans.pipeline import build_graph, triples_view
cpus, sf_dir, R = int(sys.argv[1]), sys.argv[2], int(sys.argv[3])
spark = get_spark(master=f"local[{cpus}]", shuffle_partitions=cpus)
spark.sparkContext.setLogLevel("ERROR")
# warm-up at full size (python worker spawn, JIT, codegen), then honest
# timed runs with the DataFrame cache cleared between them
t = build_graph(spark, sf_dir, replicate=R); triples_view(t).count()
n_raw = t.triples_raw.count()
spark.catalog.clearCache()
times = []
for i in range(3):
    t0 = time.perf_counter()
    t = build_graph(spark, sf_dir, replicate=R)
    n = triples_view(t).count()
    times.append(round(time.perf_counter() - t0, 3))
    spark.catalog.clearCache()
print(json.dumps({"cpus": cpus, "times": times, "n_raw": n_raw, "n_canonical": n}))
"""

CALIBRATION_SNIPPET = """
import json, multiprocessing as mp, sys, time
import numpy as np
lo, hi = int(sys.argv[1]), int(sys.argv[2])
def spin(_):
    t0 = time.perf_counter(); x = 0
    for i in range(30_000_000): x += i
    return time.perf_counter() - t0
def stream(_):
    # STREAM-like triad over a buffer far larger than LLC: the memory-
    # bandwidth ceiling, which on this single-bus VM saturates by ~2 cores
    a = np.random.rand(8_000_000); b = np.random.rand(8_000_000)
    t0 = time.perf_counter()
    for _ in range(10): c = a * 2.0 + b
    return time.perf_counter() - t0
out = {}
for name, fn in (("cpu", spin), ("bw", stream)):
    th = {}
    for n in (lo, hi):
        with mp.Pool(n) as pool:
            t0 = time.perf_counter(); pool.map(fn, range(n))
            th[n] = n / (time.perf_counter() - t0)
    out[name] = round(th[hi] / th[lo] / (hi // lo), 3)
print(json.dumps(out))
"""


def _calibrate(lo: int, hi: int) -> dict:
    cal = subprocess.run(
        [sys.executable, "-c", CALIBRATION_SNIPPET, str(lo), str(hi)],
        capture_output=True, text=True,
    )
    return json.loads(cal.stdout.splitlines()[-1])


def scaling_defaults(cpus: int | None = None, mem_available_kb: int | None = None) -> dict:
    """Host-aware defaults of --scaling: the lo -> hi = N -> 4N pair ends at
    the CPUs this process may use, and the driver heap takes half the
    memory available now (capped at the 48g a 128 GB host gets)."""
    if cpus is None:
        cpus = len(os.sched_getaffinity(0))
    if mem_available_kb is None:
        with open("/proc/meminfo") as f:
            mem_available_kb = next(
                int(line.split()[1]) for line in f if line.startswith("MemAvailable:")
            )
    mem_gb = min(48, max(1, mem_available_kb // (2 * 1024 * 1024)))
    return {"cpus_lo": max(1, cpus // 4), "cpus_hi": cpus, "driver_mem": f"{mem_gb}g"}


def run_scaling(sf_dir: str, lo: int, hi: int, driver_mem: str,
                replicate: int = 400, runs: int = 3) -> dict:
    """The north-rule N -> 4N evidence, sandbox proxy: the same flagship
    KG-construction job at local[lo] vs local[hi] on the same input, warm
    (workers spawned, JIT done), min of `runs`. The replicate default is
    sized so per-run fixed latency (stage scheduling, eager resolution
    actions) is amortized — at x100 the fixed ~15s dominates T_hi and
    understates scaling. The MACHINE's own lo->hi ceilings — pure-CPU and
    STREAM-like memory bandwidth — are measured BEFORE, BETWEEN and AFTER
    the timed blocks (this shared single-bus VM delivers neither 4x CPU
    nor any bandwidth growth past ~2 cores, and drifts), and job
    efficiency is reported against both: a KG-construction pass is a
    compute/bandwidth blend, so its honest ceiling lies between them."""
    env = {**os.environ, "SPARK_GRAFT_DRIVER_MEM": driver_mem}
    cals = [_calibrate(lo, hi)]
    results = {}
    for cpus in (lo, hi):
        proc = subprocess.run(
            [sys.executable, "-c",
             SCALING_SNIPPET.replace("range(3)", f"range({runs})"),
             str(cpus), sf_dir, str(replicate)],
            capture_output=True, text=True, cwd=REPO, env=env,
        )
        line = [l for l in proc.stdout.splitlines() if l.startswith("{")][-1]
        results[cpus] = json.loads(line)
        cals.append(_calibrate(lo, hi))
    cpu_eff = round(sum(c["cpu"] for c in cals) / len(cals), 3)
    bw_eff = round(sum(c["bw"] for c in cals) / len(cals), 3)

    t_lo = min(results[lo]["times"])
    t_hi = min(results[hi]["times"])
    n = results[lo]["n_raw"]
    factor = hi // lo
    eff = round((t_lo / t_hi) / factor, 3)
    summary = {
        "metric": f"kg_construct_scaling_efficiency_{lo}_to_{hi}",
        "value": eff,
        "unit": "ratio",
        "sf": sf_dir,
        "replicate": replicate,
        "n_raw_triples": n,
        "n_canonical_edges": results[lo]["n_canonical"],
        "cpus_lo": lo,
        "cpus_hi": hi,
        "sec_lo": t_lo,
        "sec_hi": t_hi,
        "times_lo": results[lo]["times"],
        "times_hi": results[hi]["times"],
        "triples_per_sec_lo": round(n / t_lo, 1),
        "triples_per_sec_hi": round(n / t_hi, 1),
        "hw_cpu_ceiling": cpu_eff,
        "hw_bw_ceiling": bw_eff,
        "hw_ceiling_samples": cals,
        "efficiency_vs_cpu_ceiling": round(eff / cpu_eff, 3) if cpu_eff else None,
    }
    _append_bench_md(summary)
    return summary


def _append_bench_md(s: dict) -> None:
    path = os.path.join(REPO, "BENCH.md")
    header = not os.path.exists(path)
    with open(path, "a") as f:
        if header:
            f.write(
                "# BENCH — measured KG-construction throughput & scaling\n\n"
                "North rule: throughput scaling efficiency >= 0.8 from N to 4N\n"
                "parallelism; sandbox proxy = local[N] vs local[4N], same input.\n"
                "Efficiency = (T_N / T_4N) / 4.\n\n"
            )
        f.write(
            f"| {s['sf']} x{s['replicate']} | {s['cpus_lo']}->{s['cpus_hi']} "
            f"| {s['n_raw_triples']} | {s['sec_lo']} "
            f"| {s['sec_hi']} | {s['triples_per_sec_lo']} "
            f"| {s['triples_per_sec_hi']} | {s['value']} "
            f"| cpu {s['hw_cpu_ceiling']} / bw {s['hw_bw_ceiling']} "
            f"| {s['efficiency_vs_cpu_ceiling']} |\n"
        )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=DEFAULT_SF)
    ap.add_argument("--cpus", type=int, default=DEFAULT_CPUS)
    ap.add_argument("--queries", default=",".join(HEADLINE))
    ap.add_argument("--scaling", action="store_true")
    ap.add_argument("--replicate", type=int, default=400)
    ap.add_argument("--cpus-lo", type=int, default=None)
    ap.add_argument("--cpus-hi", type=int, default=None)
    ap.add_argument("--runs", type=int, default=3)
    args = ap.parse_args()

    if args.scaling:
        host = scaling_defaults()
        out = run_scaling(args.sf_dir, lo=args.cpus_lo or host["cpus_lo"],
                          hi=args.cpus_hi or host["cpus_hi"],
                          driver_mem=host["driver_mem"],
                          replicate=args.replicate, runs=args.runs)
    else:
        out = run_bench(args.sf_dir, args.cpus, args.queries.split(","))
    print(json.dumps(out))


if __name__ == "__main__":
    main()
