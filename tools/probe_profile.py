"""Profile the throughput probe's fixed latency (VERDICT r4 #6): run ONE
flagship-DAG probe attempt (build_graph at sf0.1 x20 + triples_view count)
with the event log on, then decompose the wall time into

  - per-job execution time (first task launch -> job end),
  - job scheduling latency (job submit -> first task launch),
  - driver gaps (time between one job's end and the next job's submit —
    Python/driver-side planning, createDataFrame, analysis),

and print the top contributors. This is the measurement tool behind the
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

    # Spark 4 event logs are rolling DIRECTORIES (eventlog_v2_*) of
    # events_* files; walk recursively and read regular files only
    paths = [
        os.path.join(r, f)
        for r, _, fs in os.walk(evdir)
        for f in fs
        if not f.startswith("appstatus")
    ]
    jobs: dict[int, dict] = {}
    for path in paths:
        with open(path) as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except ValueError:
                    continue
                e = ev.get("Event")
                if e == "SparkListenerJobStart":
                    props = ev.get("Properties", {}) or {}
                    infos = ev.get("Stage Infos", [])
                    names = [si.get("Stage Name", "") for si in infos]
                    jobs[ev["Job ID"]] = {
                        "submit": ev["Submission Time"], "first_task": None,
                        "end": None, "n_stages": len(ev.get("Stage IDs", [])),
                        "desc": (props.get("spark.job.description")
                                 or props.get("callSite.short")
                                 or (names[-1] if names else ""))[:90],
                    }
                elif e == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
                elif e == "SparkListenerTaskEnd":
                    # attribute by time: earliest task launch inside each
                    # job's [submit, end] window (an approximation when
                    # jobs overlap)
                    lt = ev.get("Task Info", {}).get("Launch Time")
                    for j in jobs.values():
                        if j["submit"] is not None and lt is not None and \
                                lt >= j["submit"] and (
                                    j["end"] is None or lt <= j["end"]):
                            if j["first_task"] is None or lt < j["first_task"]:
                                j["first_task"] = lt

    seq = sorted(
        (j for j in jobs.values()
         if j["end"] and wall_start_ms <= j["submit"] <= wall_end_ms),
        key=lambda j: j["submit"],
    )
    exec_ms = sched_ms = gap_ms = 0
    gaps = []
    for i, j in enumerate(seq):
        if j["first_task"]:
            sched_ms += j["first_task"] - j["submit"]
            exec_ms += j["end"] - j["first_task"]
        else:
            exec_ms += j["end"] - j["submit"]
        if i + 1 < len(seq):
            g = seq[i + 1]["submit"] - j["end"]
            if g > 0:
                gap_ms += g
                gaps.append((g, i))
    gaps.sort(reverse=True)
    by_dur = sorted(seq, key=lambda j: -(j["end"] - j["submit"]))
    print(json.dumps({
        "wall_sec": round(wall, 3), "n_canonical": n,
        "n_raw": raw, "n_jobs": len(seq),
        "exec_sec_all_jobs": round(exec_ms / 1000, 3),
        "sched_sec": round(sched_ms / 1000, 3),
        "driver_gap_sec": round(gap_ms / 1000, 3),
        "top_gaps_ms": [g for g, _ in gaps[:10]],
        "top_gap_after_job": [
            {"desc": seq[i]["desc"], "gap_ms": g} for g, i in gaps[:5]
        ],
        "top_jobs_ms": [
            {"desc": j["desc"], "ms": j["end"] - j["submit"],
             "n_stages": j["n_stages"]}
            for j in by_dur[:12]
        ],
    }))


if __name__ == "__main__":
    main()
