"""Smoke test of the benchmark at a tiny generated scale.

    python3 perfbench/smoke.py

Runs every workload (the ones in BENCHMARK.json and the ones runnable
only by name) untraced and traced with `--scale tiny`, and checks that
the last stdout line is the result object with every metric BENCHMARK.json
names, correct outputs, and numbers as values. Exits 1 on any failure.
Takes about ten minutes on 4 cores.
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def check(workload: str, trace: int, spec: dict) -> list[str]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--scale", "tiny"],
        capture_output=True, text=True, timeout=600,
    )
    where = f"{workload} --trace {trace}"
    if proc.returncode != 0:
        return [f"{where}: exit {proc.returncode}\n{proc.stderr[-3000:]}"]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    errors = []
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        errors.append(f"{where}: result keys {sorted(result)}")
    if result["correct"] is not True or result["failed"] != 0 or result["attempted"] < 1:
        errors.append(f"{where}: correct={result['correct']} failed={result['failed']}")
    section = spec["per_layer" if trace else "end_to_end"]
    names = [m["name"] for m in section]
    if sorted(result["metrics"]) != sorted(names):
        missing = sorted(set(names) - set(result["metrics"]))
        extra = sorted(set(result["metrics"]) - set(names))
        errors.append(f"{where}: missing {missing}, unexpected {extra}")
    for m in section:
        got = result["metrics"].get(m["name"])
        if got is None:
            continue
        if got["unit"] != m["unit"] or not isinstance(got["value"], (int, float)) \
                or not math.isfinite(got["value"]):
            errors.append(f"{where}: {m['name']} = {got}")
    return errors


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS

    errors = []
    for workload in WORKLOADS:
        for trace in (0, 1):
            found = check(workload, trace, spec)
            print(f"{workload} --trace {trace}: {'ok' if not found else 'FAILED'}", flush=True)
            errors += found
    for e in errors:
        print(e, file=sys.stderr)
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
