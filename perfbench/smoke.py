"""Smoke test of the benchmark itself.

    python3 perfbench/smoke.py

Runs every workload of BENCHMARK.json at tiny input sizes, untraced and
traced, in one Spark session, and fails unless every run is correct,
no operation failed, and the reported metric names and units are
exactly the ``end_to_end`` / ``per_layer`` lists of BENCHMARK.json.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys

import run


def validate(spec: dict, trace: int, result: dict) -> list[str]:
    wanted = spec["per_layer" if trace else "end_to_end"]
    units = {m["name"]: m["unit"] for m in wanted}
    got = result["metrics"]
    problems = []
    if not result["correct"] or result["failed"] or result["attempted"] < 1:
        problems.append(f"correct={result['correct']} attempted={result['attempted']} "
                        f"failed={result['failed']}")
    if set(got) != set(units):
        problems.append(f"metric names differ: missing {sorted(set(units) - set(got))}, "
                        f"extra {sorted(set(got) - set(units))}")
    for name, m in got.items():
        if name in units and m["unit"] != units[name]:
            problems.append(f"{name}: unit {m['unit']} != {units[name]}")
        if not math.isfinite(m["value"]) or (not trace and m["value"] <= 0):
            problems.append(f"{name}: value {m['value']}")
    return problems


def main() -> int:
    error = run.prepare_process()
    if error:
        print(f"smoke: {error}", file=sys.stderr)
        return 2
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    run_dir = os.path.join(run.ROOT, ".perfbench", f"smoke-{os.getpid()}")
    os.makedirs(run_dir)
    failures = 0
    try:
        with run.session(run_dir, traced=True) as (spark, engine, session_s, nproc):
            for workload in (w["name"] for w in spec["workloads"]):
                for trace in (0, 1):
                    args = argparse.Namespace(workload=workload, seed=1, seconds=1.0,
                                              trace=trace, size="smoke")
                    work_dir = os.path.join(run_dir, f"{workload}-{trace}")
                    os.makedirs(work_dir)
                    result, errors, _ = run.measure(spark, engine, args, work_dir,
                                                    session_s, nproc)
                    problems = validate(spec, trace, result) + errors
                    failures += bool(problems)
                    status = "FAIL" if problems else "ok"
                    print(f"{status:4s} {workload} trace={trace} "
                          f"attempted={result['attempted']} metrics={len(result['metrics'])}")
                    for p in problems:
                        print(f"     {p}")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(f"{failures} failing runs")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
