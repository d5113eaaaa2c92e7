"""Profile the throughput probe's fixed latency (VERDICT r4 #6): run ONE
flagship-DAG probe attempt (build_graph at sf0.1 x20 + triples_view count)
with the event log on, then decompose the wall time into

  - execution time (first task launch -> job end, over all jobs),
  - job scheduling latency (job submit -> first task launch),
  - driver gaps (time when no job is running — Python/driver-side
    planning, createDataFrame, analysis),

and print the top contributors. The event log is read by
perfbench/eventlog.py, which maps each task to its job through the job's
stage ids. This is the measurement tool behind the
"chase the ~8-12s fixed latency" item:

  python tools/probe_profile.py [sf_dir]   # default: bench.py's DEFAULT_SF

(runs in-process; invoke in a separate shell for a clean JVM).
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    from bench import DEFAULT_SF

    sys.path.insert(0, os.path.join(REPO, "perfbench"))
    from eventlog import read_jobs, summarize
    from trace import tag_call_sites

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else DEFAULT_SF
    evdir = "/tmp/probe-profile"
    import shutil

    shutil.rmtree(evdir, ignore_errors=True)
    os.makedirs(evdir, exist_ok=True)
    os.environ["SPARK_GRAFT_EVENTLOG"] = evdir

    from graphiti_spark.session import get_spark
    from graphiti_spark.plans.pipeline import build_graph, triples_view

    spark = get_spark(app_name="probe-profile")
    spark.sparkContext.setLogLevel("ERROR")
    # each job's description names the package line whose action ran it
    tag_call_sites(spark, os.path.join(REPO, "graphiti_spark"))
    # warm-up exactly like bench.py
    triples_view(build_graph(spark, "/root/testdata/sf0.001")).count()
    spark.catalog.clearCache()

    wall_start_ms = int(time.time() * 1000)
    t0 = time.perf_counter()
    t = build_graph(spark, sf_dir, replicate=20)
    n = triples_view(t).count()
    wall = time.perf_counter() - t0
    wall_end_ms = int(time.time() * 1000)
    raw = t.triples_raw.count()
    spark.stop()

    seq = [j for j in read_jobs(evdir) if wall_start_ms <= j.submit <= wall_end_ms]
    span = summarize(seq, wall_start_ms, wall_end_ms)
    gaps = sorted(
        ((b.submit - a.end, i) for i, (a, b) in enumerate(zip(seq, seq[1:]))
         if b.submit > a.end),
        reverse=True,
    )
    by_dur = sorted(seq, key=lambda j: j.submit - j.end)
    print(json.dumps({
        "wall_sec": round(wall, 3), "n_canonical": n,
        "n_raw": raw, "n_jobs": span["jobs"],
        "exec_sec_all_jobs": round(span["exec_s"], 3),
        "sched_sec": round(span["sched_delay_s"], 3),
        "driver_gap_sec": round(span["driver_gap_s"], 3),
        "top_gaps_ms": [g for g, _ in gaps[:10]],
        "top_gap_after_job": [
            {"desc": seq[i].description, "gap_ms": g} for g, i in gaps[:5]
        ],
        "top_jobs_ms": [
            {"desc": j.description, "ms": j.end - j.submit,
             "n_stages": len(j.stage_ids)}
            for j in by_dur[:12]
        ],
    }))


if __name__ == "__main__":
    main()
