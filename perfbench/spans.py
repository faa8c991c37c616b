"""Span tracer for the traced benchmark run.

Spans are opened from the benchmark's own code around calls into the
program's layers: :func:`install` replaces the public methods of
``Lake`` and ``ResyncPipeline`` and the module-level names that
``lake.py`` and ``pipeline.py`` bind (``merge_upsert``,
``work_to_trusted_transform``) with wrappers for the duration of the
traced passes; sources are wrapped by ``lifecycle.ObservedSource``.

A span records name, start, end, parent, pass id, CPU seconds of the
engine (``procstat.Engine``) and the Spark work attributed by
``observability.measure_jobs``. Before each measure_jobs reading the
listener bus is drained, so the UI store has seen every stage that
finished inside the span. Spans stay in memory and are written once, at
exit.
"""

from __future__ import annotations

import functools
import json
from contextlib import contextmanager

from etl_complete_with_spark_spark import lake as lake_module
from etl_complete_with_spark_spark import pipeline as pipeline_module
from etl_complete_with_spark_spark.lake import Lake
from etl_complete_with_spark_spark.observability import measure_jobs
from etl_complete_with_spark_spark.pipeline import ResyncPipeline

from procstat import now

INSTRUMENT = "trace.instrument"

# Layer spans, in report order. Each yields six per-layer metrics.
SPAN_LAYERS = [
    "pipeline.plan",
    "pipeline.run",
    "pipeline.transform_and_merge",
    "sources.probe",
    "sources.read",
    "lake.write_work",
    "lake.read_work",
    "lake.clear_work",
    "operators.transforms",
    "operators.merge.merge_upsert",
    "lake.merge_trusted",
    "lake.read_trusted",
    "lake.vacuum_trusted",
]
SPAN_FIELDS = [
    ("s", "s", "lower"),
    ("calls", "count", "lower"),
    ("cpu_s", "s", "lower"),
    ("stages", "count", "lower"),
    ("shuffle_write_mb", "MB", "lower"),
    ("output_mb", "MB", "lower"),
]
# Counters recorded at layer boundaries, per pass.
COUNTERS = [
    ("pipeline.slices", "count", "lower"),
    ("pipeline.attempts", "count", "lower"),
    ("pipeline.skipped", "count", "higher"),
    ("pipeline.useful_attempt_ratio", "ratio", "higher"),
    ("lake.work_files", "count", "lower"),
    ("lake.work_mb_written", "MB", "lower"),
    ("lake.trusted_mb_written", "MB", "lower"),
    ("operators.transforms.dedup_drop_ratio", "ratio", "lower"),
    ("operators.merge.matched_ratio", "ratio", "lower"),
    ("session.start_s", "s", "lower"),
    ("trace.wall_s", "s", "lower"),
    ("trace.uncovered_s", "s", "lower"),
    ("trace.instrument_s", "s", "lower"),
    ("trace.overhead_s", "s", "lower"),
]


def per_layer_names() -> list[tuple[str, str, str]]:
    out = [(f"{layer}.{f}", unit, better)
           for layer in SPAN_LAYERS for f, unit, better in SPAN_FIELDS]
    return out + COUNTERS


class Tracer:
    def __init__(self, spark, engine):
        self.spark = spark
        self.engine = engine
        self.spans: list[dict] = []
        self.pass_id: int | None = None
        self.counters: dict[int, dict[str, float]] = {}
        self._stack: list[dict] = []
        self._bus = spark.sparkContext._jsc.sc().listenerBus()

    def _quiesce(self) -> None:
        self._bus.waitUntilEmpty()

    def count(self, name: str, value: float) -> None:
        c = self.counters.setdefault(self.pass_id, {})
        c[name] = c.get(name, 0.0) + value

    @contextmanager
    def span(self, name: str):
        """Open a span. ``t0``/``t1`` bracket the tracer's own work
        (listener drain, UI REST reads); ``start``/``end`` bracket the
        traced call. A parent's self time excludes its children's whole
        ``t0``..``t1`` envelope."""
        parent = self._stack[-1]["id"] if self._stack else None
        rec = {"id": len(self.spans), "name": name, "parent": parent,
               "pass": self.pass_id, "t0": now(), "cpu0": self.engine.cpu_s()}
        self.spans.append(rec)
        self._stack.append(rec)
        jobs = None
        try:
            self._quiesce()
            with measure_jobs(self.spark) as jobs:
                rec["start"], rec["cpu_start"] = now(), self.engine.cpu_s()
                try:
                    yield rec
                finally:
                    rec["end"], rec["cpu_end"] = now(), self.engine.cpu_s()
                    self._quiesce()
        finally:
            # measure_jobs fills ``jobs`` on exit, also when the call raised
            if jobs is not None:
                rec.update(stages=jobs.stages, shuffle_write_bytes=jobs.shuffle_write_bytes,
                           output_bytes=jobs.output_bytes)
            self._stack.pop()
            rec["t1"], rec["cpu1"] = now(), self.engine.cpu_s()

    def instrument(self):
        """A span for the tracer's own extra Spark work (ratio counts); it
        is subtracted from its parent and reported as trace.instrument_s."""
        return self.span(INSTRUMENT)

    # -- reduction ----------------------------------------------------------

    def layer_totals(self, pass_id: int) -> tuple[dict[str, dict[str, float]], float, float]:
        """Per-layer self totals for one pass, the summed envelope of the
        pass's top-level spans and the tracer's own time."""
        spans = [s for s in self.spans if s["pass"] == pass_id and "t1" in s]
        children: dict[int, list[dict]] = {}
        for s in spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        totals: dict[str, dict[str, float]] = {}
        covered = 0.0
        instrument = 0.0
        for s in spans:
            kids = children.get(s["id"], [])
            outer = s["t1"] - s["t0"]
            inner = s["end"] - s["start"]
            if s["parent"] is None:
                covered += outer
            if s["name"] == INSTRUMENT:
                instrument += outer
                continue
            instrument += outer - inner
            t = totals.setdefault(s["name"], {f: 0.0 for f, _, _ in SPAN_FIELDS})
            t["s"] += inner - sum(k["t1"] - k["t0"] for k in kids)
            t["calls"] += 1
            t["cpu_s"] += (s["cpu_end"] - s["cpu_start"]) - sum(
                k["cpu1"] - k["cpu0"] for k in kids)
            for f, unit in (("stages", 1), ("shuffle_write_bytes", 1e6), ("output_bytes", 1e6)):
                own = s.get(f, 0) - sum(k.get(f, 0) for k in kids)
                t[f.replace("_bytes", "_mb")] += own / unit
        return totals, covered, instrument

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "counters": self.counters}, fh)


@contextmanager
def install(tracer: Tracer):
    """Wrap the program's layer entry points in spans; undo on exit."""
    patches = []

    def wrap(owner, attr, name, after=None):
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with tracer.span(name):
                out = orig(*args, **kwargs)
            if after is not None:
                after(args, kwargs, out)
            return out

        setattr(owner, attr, traced)
        patches.append((owner, attr, orig))

    def after_transform(args, kwargs, out):
        with tracer.instrument():
            rows_in, rows_out = args[0].count(), out.count()
        tracer.count("transform_rows_in", rows_in)
        tracer.count("transform_rows_out", rows_out)

    def after_merge(args, kwargs, out):
        target, source = args[0], args[1]
        key = kwargs.get("key", "sk")
        with tracer.instrument():
            keys = source.select(key).distinct()
            total = keys.count()
            matched = keys.join(target.select(key), key, "left_semi").count()
        tracer.count("merge_source_keys", total)
        tracer.count("merge_matched_keys", matched)

    for attr in ("write_work", "read_work", "clear_work", "merge_trusted",
                 "read_trusted", "vacuum_trusted"):
        wrap(Lake, attr, f"lake.{attr}")
    for attr in ("plan", "run", "transform_and_merge"):
        wrap(ResyncPipeline, attr, f"pipeline.{attr}")
    wrap(lake_module, "merge_upsert", "operators.merge.merge_upsert", after_merge)
    wrap(pipeline_module, "work_to_trusted_transform", "operators.transforms",
         after_transform)
    try:
        yield tracer
    finally:
        for owner, attr, orig in reversed(patches):
            setattr(owner, attr, orig)
