"""graphiti_spark benchmark: one command for every workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from anywhere; the repository root is the parent of this directory.
With `--trace 0` the last stdout line carries the end-to-end metrics named
in BENCHMARK.json; with `--trace 1` it carries the per-layer metrics, read
from the Spark event log of the run. Lines before it are a readable
report. Workloads, metrics and the layer map: perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = os.path.join(ROOT, "graphiti_spark")
WORK = os.path.join(ROOT, ".perfbench-work")
RUN_LIMIT_S = 170  # hard stop: a run must end within 180 s


def host_state() -> dict:
    state = {"nproc": len(os.sched_getaffinity(0)), "load1": os.getloadavg()[0]}
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemAvailable:"):
                state["mem_available_mb"] = int(line.split()[1]) // 1024
    return state


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def configure_env(work: str, cpus: int, trace: bool) -> None:
    """Point every file Spark and its Python workers write into `work`,
    and let workers import the package from this checkout."""
    for d in ("local", "tmp", "eventlog"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--driver-java-options -Djava.io.tmpdir={os.path.join(work, 'tmp')} pyspark-shell"
    )
    if trace:
        os.environ["SPARK_GRAFT_EVENTLOG"] = os.path.join(work, "eventlog")
    else:
        os.environ.pop("SPARK_GRAFT_EVENTLOG", None)


class Session:
    """The Spark session of one run and the JVM process behind it."""

    def __init__(self, cpus: int):
        from graphiti_spark.session import get_spark
        from pyspark import SparkContext

        self.spark = get_spark(
            app_name="perfbench", master=f"local[{cpus}]", shuffle_partitions=cpus
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.gateway = SparkContext._gateway
        self.jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())

    def kill(self) -> None:
        proc = getattr(self.gateway, "proc", None)
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()

    def stop(self) -> None:
        self.spark.stop()
        proc = getattr(self.gateway, "proc", None)
        self.gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                self.kill()


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def end_to_end(run) -> dict:
    walls = run.op_walls
    return {
        "setup_s": run.setup_s,
        "op_p50_s": statistics.median(walls),
        "op_max_s": max(walls),
        "items_per_s": sum(run.op_work) / sum(walls),
    }


def trace_overhead(workload: str, traced_p50: float) -> float:
    """Traced op median minus the median op_p50_s of the untraced runs of
    this workload stored in this checkout."""
    path = os.path.join(WORK, "results", f"{workload}.jsonl")
    try:
        with open(path) as fh:
            past = [json.loads(line)["op_p50_s"] for line in fh if line.strip()]
    except FileNotFoundError:
        past = []
    if not past:
        print("note: no untraced result stored yet; trace.overhead_s is 0", file=sys.stderr)
        return 0.0
    return traced_p50 - statistics.median(past)


def store_untraced(workload: str, seed: int, e2e: dict) -> None:
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", f"{workload}.jsonl"), "a") as fh:
        fh.write(json.dumps({"seed": seed, **e2e}) + "\n")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="input size; tiny is for the smoke test")
    ap.add_argument("--merges", type=int, default=0,
                    help="incremental_merge: number of 1%% batches generated (default: size table)")
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(PKG, "__init__.py")):
        print(f"error: no graphiti_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"error: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    spec = load_spec()
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    wanted = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]

    work = os.path.join(WORK, f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    cpus = len(os.sched_getaffinity(0))
    configure_env(work, cpus, bool(args.trace))
    host_start = host_state()

    session = None

    def hard_stop() -> None:
        print(f"error: run exceeded {limit:.0f}s", file=sys.stderr)
        if session is not None:
            session.kill()
        os._exit(3)

    # runs longer than the benchmark's own window (analysis runs) get the
    # extra seconds they asked for
    limit = RUN_LIMIT_S + max(0.0, args.seconds - spec["run_seconds"])
    watchdog = threading.Timer(limit, hard_stop)
    watchdog.daemon = True
    watchdog.start()

    t0 = time.perf_counter()
    session = Session(cpus)
    session_s = time.perf_counter() - t0
    spark = session.spark
    if args.trace:
        from trace import tag_call_sites

        tag_call_sites(spark, PKG)
    run = workloads.Run(spark, args, work, session_s)
    try:
        workloads.WORKLOADS[args.workload](run)
    except Exception:
        run.fail(f"workload {args.workload}")
    rss_mb = vm_hwm_mb(session.jvm_pid)
    session.stop()
    watchdog.cancel()
    host_end = host_state()

    if not run.op_walls:
        print("error: no operation completed", file=sys.stderr)
        return 1
    e2e = end_to_end(run)
    if args.trace:
        metrics = workloads.layer_metrics(run, os.path.join(work, "eventlog"))
        metrics["trace.op_wall_s"] = e2e["op_p50_s"]
        metrics["spark.peak_rss_mb"] = rss_mb
        metrics["trace.overhead_s"] = trace_overhead(args.workload, e2e["op_p50_s"])
    else:
        metrics = e2e
        store_untraced(args.workload, args.seed, e2e)
    missing = [n for n in wanted if n not in metrics]
    if missing:
        print(f"error: metrics not measured: {missing}", file=sys.stderr)
        return 1

    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "scale": args.scale, "cpus": cpus,
        "host_start": host_start, "host_end": host_end,
        "ops": len(run.op_walls), "op_walls_s": run.op_walls,
        "end_to_end": e2e, "peak_rss_mb": rss_mb,
        "error_rate": run.failed / max(run.attempted, 1),
        **run.report,
    }
    if args.trace:
        report["per_layer"] = metrics
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", f"last-{args.workload}-t{args.trace}.json"), "w") as fh:
        json.dump(report, fh, indent=1, default=float)
    shutil.rmtree(work, ignore_errors=True)

    for key, value in report.items():
        print(f"# {key}: {json.dumps(value, default=float)}")
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {n: {"value": float(metrics[n]), "unit": units[n]} for n in wanted},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
