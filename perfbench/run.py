"""Resync lifecycle benchmark: one workload, one JSON result line.

    python3 perfbench/run.py --workload upsert_batches --seed 1 --seconds 10 --trace 0

Run from the repository root. The program under test is imported from
the checkout (``etl_complete_with_spark_spark``); every input is
generated from ``--seed`` under ``.perfbench/`` and removed at exit.

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json;
``--trace 1`` reports the per-layer metrics: it runs untraced passes for
the first half of ``--seconds`` and traced passes for the second half,
and writes the spans to ``.perfbench/traces/``. The last stdout line is
``{"correct", "attempted", "failed", "metrics"}``; a wrong output makes
``correct`` false and counts the pass's operations as failed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from contextlib import contextmanager

from procstat import Engine, now

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
# Passes before the JIT's plateau are set-up (see JIT_OPTIONS).
WARMUP_PASSES = 4
# The inputs are MBs: a 1 GB heap fits them with room to spare on a
# shared 15 GB machine. A fixed-size heap and the parallel collector
# keep RSS and CPU from drifting with G1's heap resizing between runs.
DRIVER_MEMORY = "1g"
JVM_OPTIONS = f"-Xms{DRIVER_MEMORY} -XX:+UseParallelGC -XX:-UsePerfData -Duser.timezone=UTC"
# JIT per workload. resume_jdbc is mostly control plane: under the default
# tiered compiler its pass wall was still falling after 60 s of passes
# (2.7 s -> 1.75 s), so a run measured how far C2 had got on a shared
# host. With C1 alone it is flat from the third pass on. upsert_batches
# runs generated code over 120k rows; with C1 alone its passes took 4.7 s
# instead of 3.1 s and spread wider, so it keeps the default.
JIT_OPTIONS = {"upsert_batches": "", "resume_jdbc": "-XX:TieredStopAtLevel=1"}


def start_spark(run_dir: str, nproc: int, traced: bool, jit: str = ""):
    from etl_complete_with_spark_spark.session import get_spark

    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(run_dir, "spark-local")
    os.environ["TMPDIR"] = tmp
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.driver.extraJavaOptions": (
            f"{JVM_OPTIONS} {jit} -Djava.io.tmpdir={tmp} "
            f"-Dderby.stream.error.file={os.path.join(run_dir, 'derby.log')}"
        ),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }
    if traced:
        conf.update({
            "spark.ui.enabled": "true",
            "spark.ui.port": "0",
            "spark.ui.retainedStages": "100000",
            "spark.ui.retainedJobs": "100000",
        })
    return get_spark(app_name="perfbench", master=f"local[{nproc}]",
                     shuffle_partitions=nproc, extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


class Runner:
    """Drives one workload: set-up, warm-up, closed-loop passes, checks."""

    def __init__(self, workload, engine, run_dir: str):
        self.wl = workload
        self.engine = engine
        self.run_dir = run_dir
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.n = 0

    def one_pass(self, tracer=None, count=True):
        self.n += 1
        root = os.path.join(self.run_dir, f"pass{self.n}")
        self.wl.prepare(root)
        if tracer is not None:
            tracer.pass_id = self.n
        rec = None
        try:
            self.engine.reset_peak()
            c0, t0 = self.engine.cpu_s(), now()
            rec = self.wl.run_pass(root, tracer)
            rec.wall_s = now() - t0
            rec.cpu_s = self.engine.cpu_s() - c0
            rec.peak_rss_mb = self.engine.peak_rss_mb
            if tracer is not None:
                tracer.pass_id = None  # the check is not part of the pass
            errors = self.wl.check(root, rec)
        except Exception:
            errors = [traceback.format_exc()]
        finally:
            shutil.rmtree(root, ignore_errors=True)
        ops = self.wl.ops_per_pass()
        if count:
            self.attempted += ops
        if errors:
            self.errors.extend(f"pass {self.n}: {e}" for e in errors)
            if count:
                self.failed += ops
            return None
        return rec

    def loop(self, seconds: float, tracer=None) -> list:
        """Passes back to back until ``seconds`` have passed (at least
        one); ``(pass number, record)`` for each correct pass."""
        out = []
        deadline = now() + seconds
        while True:
            rec = self.one_pass(tracer)
            if rec is not None:
                out.append((self.n, rec))
            if now() >= deadline:
                return out


def end_to_end(setup_s: float, passes: list) -> tuple[dict, list[str]]:
    commits = [c for p in passes for c in p.commits]
    slices = [s for p in passes for s in p.slices]
    values = {
        "setup_s": (setup_s, "s"),
        "wall_s": (statistics.median(p.wall_s for p in passes), "s"),
        "cpu_s": (statistics.median(p.cpu_s for p in passes), "s"),
        "peak_rss_mb": (statistics.median(p.peak_rss_mb for p in passes), "MB"),
        "write_amp": (statistics.median(p.lake_bytes / p.work_bytes for p in passes), "ratio"),
        "batch_commit_s_p50": (statistics.median(commits), "s"),
        "slice_s_p50": (statistics.median(slices), "s"),
    }
    notes = [
        f"passes={len(passes)} batch_commits={len(commits)} slices={len(slices)}",
        "pass wall_s=" + " ".join(f"{p.wall_s:.3f}" for p in passes),
        "pass cpu_s=" + " ".join(f"{p.cpu_s:.2f}" for p in passes),
        "pass peak_rss_mb=" + " ".join(f"{p.peak_rss_mb:.0f}" for p in passes),
    ]
    return values, notes


def per_layer(tracer, traced: list, untraced: list, session_s: float) -> dict:
    from spans import COUNTERS, SPAN_FIELDS, SPAN_LAYERS

    n = len(traced)
    sums = {f"{layer}.{f}": 0.0 for layer in SPAN_LAYERS for f, _, _ in SPAN_FIELDS}
    uncovered = instrument = 0.0
    for p, rec in traced:
        totals, covered, inst = tracer.layer_totals(p)
        for layer, fields in totals.items():
            for f, v in fields.items():
                sums[f"{layer}.{f}"] += v
        uncovered += rec.wall_s - covered
        instrument += inst
    c = [rec.counters for _, rec in traced]
    tc = [tracer.counters.get(p, {}) for p, _ in traced]

    def total(key, src=c):
        return sum(x.get(key, 0.0) for x in src)

    attempts = total("attempts")
    rows_in = total("transform_rows_in", tc)
    src_keys = total("merge_source_keys", tc)
    traced_wall = statistics.median(rec.wall_s for _, rec in traced)
    untraced_wall = statistics.median(rec.wall_s for rec in untraced)
    counters = {
        "pipeline.slices": total("slices") / n,
        "pipeline.attempts": attempts / n,
        "pipeline.skipped": total("skipped") / n,
        "pipeline.useful_attempt_ratio": (attempts - total("failed_attempts")) / attempts,
        "lake.work_files": total("work_files") / n,
        "lake.work_mb_written": sum(rec.work_bytes for _, rec in traced) / n / 1e6,
        "lake.trusted_mb_written": total("trusted_bytes") / n / 1e6,
        "operators.transforms.dedup_drop_ratio":
            1 - total("transform_rows_out", tc) / rows_in if rows_in else 0.0,
        "operators.merge.matched_ratio":
            total("merge_matched_keys", tc) / src_keys if src_keys else 0.0,
        "session.start_s": session_s,
        "trace.wall_s": traced_wall,
        "trace.uncovered_s": uncovered / n,
        "trace.instrument_s": instrument / n,
        "trace.overhead_s": traced_wall - untraced_wall,
    }
    field_units = {f: unit for f, unit, _ in SPAN_FIELDS}
    counter_units = {name: unit for name, unit, _ in COUNTERS}
    out = {k: (v / n, field_units[k.rsplit(".", 1)[1]]) for k, v in sums.items()}
    out.update({k: (v, counter_units[k]) for k, v in counters.items()})
    return out


def measure(spark, engine, args, run_dir: str, session_s: float, nproc: int):
    """Set up, warm up and measure one workload on a running session.

    Returns the result object, the errors found and human-readable
    notes."""
    from lifecycle import SIZES, WORKLOADS

    wl = WORKLOADS[args.workload](spark, args.seed, SIZES[args.size][args.workload], nproc)
    runner = Runner(wl, engine, run_dir)
    try:
        setups = []
        for r in range(SETUP_REPS):
            d = os.path.join(run_dir, f"setup{r}")
            os.makedirs(d)
            t = now()
            wl.build(d)
            setups.append(now() - t)
        t = now()
        for _ in range(WARMUP_PASSES):  # JIT, codegen, page cache
            runner.one_pass(count=False)
        setup_s = statistics.median(setups) + now() - t

        if not args.trace:
            passes = [rec for _, rec in runner.loop(args.seconds)]
            if not passes:
                raise RuntimeError("no pass completed:\n" + "\n".join(runner.errors))
            metrics, notes = end_to_end(setup_s, passes)
        else:
            from spans import Tracer, install

            untraced = [rec for _, rec in runner.loop(args.seconds / 2)]
            tracer = Tracer(spark, engine)
            with install(tracer):
                traced = runner.loop(args.seconds / 2, tracer)
            if not untraced or not traced:
                raise RuntimeError("no pass completed:\n" + "\n".join(runner.errors))
            traces = os.path.join(ROOT, ".perfbench", "traces")
            os.makedirs(traces, exist_ok=True)
            tracer.dump(os.path.join(traces, f"{args.workload}-seed{args.seed}.json"))
            metrics = per_layer(tracer, traced, untraced, session_s)
            notes = [f"untraced passes={len(untraced)} traced passes={len(traced)}"]
        notes.append(f"setup reps={[round(s, 3) for s in setups]} "
                     f"inputs={json.dumps(wl.properties())}")
    finally:
        wl.close()
    result = {
        "correct": not runner.errors,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return result, runner.errors, notes


def report(result: dict, errors: list[str], notes: list[str]) -> None:
    for e in errors:
        print(f"ERROR {e}", file=sys.stderr)
    for line in notes:
        print(f"# {line}")
    for name, m in result["metrics"].items():
        print(f"{name:48s} {m['value']:14.6f} {m['unit']}")


@contextmanager
def session(run_dir: str, traced: bool, jit: str = ""):
    """Yield (spark, engine, session start seconds, nproc); stop at exit."""
    nproc = len(os.sched_getaffinity(0))
    t = now()
    spark = start_spark(run_dir, nproc, traced, jit)
    session_s = now() - t
    try:
        jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
        with Engine(jvm_pid) as engine:
            yield spark, engine, session_s, nproc
    finally:
        stop_spark(spark)


def prepare_process() -> str | None:
    """Make the program importable and pin the timezone; an error message
    when the program is not in the checkout."""
    sys.path.insert(0, ROOT)
    try:
        import etl_complete_with_spark_spark  # noqa: F401
    except ImportError as exc:
        return f"cannot import the program from {ROOT}: {exc}"
    os.environ["TZ"] = "UTC"
    time.tzset()
    return None


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=sorted(JIT_OPTIONS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)
    args.size = "bench"
    return args


def main(argv=None) -> int:
    args = parse_args(argv)
    error = prepare_process()
    if error:
        print(f"perfbench: {error}", file=sys.stderr)
        return 2
    run_dir = os.path.join(ROOT, ".perfbench", f"run-{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(run_dir)
    try:
        jit = JIT_OPTIONS[args.workload]
        with session(run_dir, bool(args.trace), jit) as (spark, engine, session_s, nproc):
            result, errors, notes = measure(spark, engine, args, run_dir, session_s, nproc)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    report(result, errors, notes)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
