"""The benchmark's workloads: two runs of the resync lifecycle.

Each workload drives only the public API (``ResyncPipeline.plan/run/
transform_and_merge``, ``Lake``, ``sources``) over inputs generated from
the seed, in a closed loop: a batch or slice starts when the previous one
has finished. A workload has

- ``build(dir)``: one set-up (inputs, seeded stores, DuckDB expectations);
- ``prepare(root)``: per-pass state that is not timed (a fresh lake root);
- ``run_pass(root, tracer)``: one timed pass, returning a :class:`Pass`;
- ``check(root, record)``: the output check, outside the timed region.
"""

from __future__ import annotations

import datetime as dt
import os
import re
import shutil
from contextlib import nullcontext
from dataclasses import dataclass, field

import duckdb
import numpy as np
import pyarrow as pa
from pyspark.sql import SparkSession

from etl_complete_with_spark_spark.lake import Lake
from etl_complete_with_spark_spark.pipeline import ResyncConfig, ResyncPipeline
from etl_complete_with_spark_spark.sources import JdbcSource, ParquetSource
from etl_complete_with_spark_spark.sources.jdbc import (
    DERBY_DRIVER,
    derby_url,
    seed_jdbc_table,
)

import inputs
from procstat import data_files, dir_bytes, now

NS = "bench"
BATCH_TS0 = dt.datetime(2024, 1, 1)

# Per-workload input sizes. "bench" is the measured size; "smoke"
# runs every workload, metric and check in seconds (see smoke.py).
SIZES = {
    "bench": {
        "upsert_batches": {"n_keys": 120_000, "batch_rows": 1_200, "n_batches": 2},
        "resume_jdbc": {"n_rows": 6_000, "n_slices": 12, "fault_share": 0.05},
    },
    "smoke": {
        "upsert_batches": {"n_keys": 6_000, "batch_rows": 60, "n_batches": 2},
        "resume_jdbc": {"n_rows": 1_500, "n_slices": 4, "fault_share": 0.05},
    },
}


def batch_ts(i: int) -> str:
    return (BATCH_TS0 + dt.timedelta(minutes=i)).strftime("%Y-%m-%d %H:%M:%S")


class TransientSourceError(Exception):
    """An injected, retryable source failure (dropped connection)."""


class SimulatedCrash(BaseException):
    """An injected driver death: not an ``Exception``, so the pipeline's
    retry loop does not catch it and the run ends mid-window."""


@dataclass
class Pass:
    commits: list[float] = field(default_factory=list)  # batch start -> swap
    slices: list[float] = field(default_factory=list)  # one extract step
    work_bytes: int = 0
    lake_bytes: int = 0
    counters: dict[str, float] = field(default_factory=dict)
    wall_s: float = 0.0
    cpu_s: float = 0.0
    peak_rss_mb: float = 0.0


class ObservedSource:
    """Delegates the source protocol to a real source.

    It times extract steps (a step runs from one read call for a new
    interval to the next, so it covers the read, the WORK write and the
    manifest append), counts attempts, injects faults at the given slice
    positions and opens ``sources.*`` spans when traced."""

    def __init__(self, inner, tracer=None, positions=None, faults=(), crash_at=None):
        self.inner = inner
        self.tracer = tracer
        self.positions = positions or {}
        self.faults = set(faults)
        self.crash_at = crash_at
        self.crashed = False
        self.attempts = 0
        self.failed_attempts = 0
        self.steps: dict[object, float] = {}
        self._seen: set = set()
        self._current = None
        self._since = 0.0

    def _span(self, name):
        return self.tracer.span(name) if self.tracer else nullcontext()

    def _step(self, key) -> None:
        t = now()
        if self._current is not None:
            self.steps[self._current] = self.steps.get(self._current, 0.0) + t - self._since
        self._current, self._since = key, t

    def end_run(self) -> None:
        self._step(None)

    def probe_min(self, spark):
        with self._span("sources.probe"):
            return self.inner.probe_min(spark)

    def probe_max(self, spark):
        with self._span("sources.probe"):
            return self.inner.probe_max(spark)

    def read_range(self, spark, intervals):
        self._step(("range", intervals[0].start, intervals[-1].end))
        self.attempts += 1
        with self._span("sources.read"):
            return self.inner.read_range(spark, intervals)

    def read_slice(self, spark, interval):
        if interval != self._current:
            self._step(interval)
        self.attempts += 1
        pos = self.positions.get(interval)
        first = interval not in self._seen
        self._seen.add(interval)
        with self._span("sources.read"):
            if first and pos == self.crash_at and not self.crashed:
                self.crashed = True
                self.failed_attempts += 1
                raise SimulatedCrash(f"driver lost at slice {pos}")
            if first and pos in self.faults:
                self.failed_attempts += 1
                raise TransientSourceError(f"connection reset at slice {pos}")
            return self.inner.read_slice(spark, interval)


def _latest_version_dir(base: str) -> str:
    versions = [int(n[1:]) for n in os.listdir(base) if re.fullmatch(r"v\d+", n)]
    return os.path.join(base, f"v{max(versions)}")


def _sql_list(paths: list[str]) -> str:
    return "[" + ", ".join(f"'{p}'" for p in paths) + "]"


def _row_string(columns: list[tuple[str, str]]) -> str:
    """One VARCHAR per row that both sides of a check render alike:
    timestamps as UTC wall-clock text, everything else by plain cast."""
    parts = []
    for name, kind in columns:
        if kind == "ts":
            parts.append(f"strftime(CAST({name} AS TIMESTAMP), '%Y-%m-%d %H:%M:%S.%f')")
        else:
            parts.append(f"CAST({name} AS VARCHAR)")
    return "concat_ws('|', " + ", ".join(parts) + ")"


def fingerprint(con, relation: str, columns: list[tuple[str, str]]) -> tuple:
    """(rows, distinct sk, order-independent sum of row hashes)."""
    return con.execute(
        f"SELECT count(*), count(DISTINCT sk), sum(hash({_row_string(columns)})) "
        f"FROM {relation}"
    ).fetchone()


LINEITEM_COLS = [
    ("l_orderkey", "v"), ("l_partkey", "v"), ("l_suppkey", "v"), ("l_linenumber", "v"),
    ("l_quantity", "v"), ("l_extendedprice", "v"), ("l_discount", "v"), ("l_tax", "v"),
    ("l_returnflag", "v"), ("l_linestatus", "v"), ("l_shipdate", "ts"),
]
SK_LINEITEM = "md5(concat_ws('-', CAST(l_orderkey AS VARCHAR), CAST(l_linenumber AS VARCHAR)))"


class Workload:
    name: str

    def __init__(self, spark: SparkSession, seed: int, size: dict, nproc: int):
        self.spark = spark
        self.seed = seed
        self.size = size
        self.nproc = nproc
        self.con = duckdb.connect()
        self.con.execute("SET TimeZone = 'UTC'")
        self.con.execute(f"SET threads = {nproc}")

    def rng(self) -> np.random.Generator:
        return np.random.default_rng(self.seed)

    def prepare(self, root: str) -> None:
        os.makedirs(root, exist_ok=True)

    def trusted_files(self, lake: Lake, dataset: str) -> list[str]:
        df = lake.read_trusted(self.spark, NS, dataset)
        return [f.removeprefix("file:") for f in df.inputFiles()]

    def close(self) -> None:
        self.con.close()


class UpsertBatches(Workload):
    """K small upsert batches into a seeded TRUSTED snapshot; each pass
    starts from the same snapshot. Per batch: clear WORK, windowed
    run(parallel=True), transform_and_merge, vacuum_trusted(keep=2)."""

    name = "upsert_batches"

    def build(self, d: str) -> None:
        s = self.size
        base, batches = inputs.upsert_inputs(
            self.rng(), s["n_keys"], s["batch_rows"], s["n_batches"])
        self.base = inputs.write(base, os.path.join(d, "base.parquet"))
        self.batches = inputs.write(
            pa.concat_tables(batches), os.path.join(d, "batches.parquet"),
            row_group_rows=s["batch_rows"])
        # Seed TRUSTED with the snapshot a first resync would have written:
        # the base rows keyed and stamped (DuckDB), landed by merge_trusted.
        keyed = os.path.join(d, "base_keyed.parquet")
        self.con.execute(
            f"COPY (SELECT *, {SK_LINEITEM} AS sk, "
            f"TIMESTAMPTZ '{batch_ts(0)}+00' AS timestamp_kafka "
            f"FROM read_parquet('{self.base}')) TO '{keyed}' (FORMAT parquet)"
        )
        self.template = os.path.join(d, "template")
        Lake(self.template).merge_trusted(
            self.spark, self.spark.read.parquet(keyed), NS, "lineitem")
        self.expected = fingerprint(self.con, f"({self._expected_sql()})", self._columns())
        self.matched = self.con.execute(
            f"SELECT avg(m) FROM (SELECT l_batch, avg(CASE WHEN l_orderkey <= "
            f"(SELECT max(l_orderkey) FROM read_parquet('{self.base}')) THEN 1 ELSE 0 END) m "
            f"FROM read_parquet('{self.batches}') GROUP BY l_batch)"
        ).fetchone()[0]

    @staticmethod
    def _columns():
        return LINEITEM_COLS + [("l_batch", "v"), ("sk", "v"), ("timestamp_kafka", "ts")]

    def _expected_sql(self) -> str:
        """Latest batch wins per key; base rows carry batch 0."""
        return (
            f"SELECT * EXCLUDE (rn) FROM ("
            f"SELECT *, {SK_LINEITEM} AS sk, "
            f"TIMESTAMP '{batch_ts(0)}' + to_minutes(l_batch) AS timestamp_kafka, "
            f"row_number() OVER (PARTITION BY l_orderkey, l_linenumber ORDER BY l_batch DESC) rn "
            f"FROM read_parquet(['{self.base}', '{self.batches}'])) WHERE rn = 1"
        )

    def ops_per_pass(self) -> int:
        return self.size["n_batches"]

    def prepare(self, root: str) -> None:
        shutil.copytree(self.template, root)

    def run_pass(self, root: str, tracer=None) -> Pass:
        s = self.size
        rec = Pass()
        lake = Lake(root)
        src = ObservedSource(ParquetSource(self.batches, "l_batch"), tracer)
        work = lake.path("work", NS, "lineitem")
        trusted = lake.path("trusted", NS, "lineitem")
        written = 0
        work_files = 0
        for b in range(1, s["n_batches"] + 1):
            t0 = now()
            lake.clear_work(self.spark, NS, "lineitem")
            cfg = ResyncConfig(NS, "lineitem", "l_batch", "int", start=b, end=b + 1,
                               amount=s["batch_rows"])
            pipe = ResyncPipeline(src, lake, cfg)
            t1 = now()
            pipe.run(self.spark, parallel=True)
            src.end_run()
            rec.slices.append(now() - t1)
            pipe.transform_and_merge(self.spark, inputs.LINEITEM_KEYS, batch_ts=batch_ts(b))
            rec.commits.append(now() - t0)
            landed = dir_bytes(work)
            work_files += len(data_files(work))
            rec.work_bytes += landed
            written += landed + dir_bytes(_latest_version_dir(trusted))
            lake.vacuum_trusted(self.spark, NS, "lineitem", keep=2)
        rec.lake_bytes = written
        rec.counters.update(
            slices=s["n_batches"], attempts=src.attempts, skipped=0,
            failed_attempts=src.failed_attempts, work_files=work_files,
            trusted_bytes=written - rec.work_bytes,
        )
        return rec

    def check(self, root: str, rec: Pass) -> list[str]:
        files = _sql_list(self.trusted_files(Lake(root), "lineitem"))
        got = fingerprint(self.con, f"read_parquet({files})", self._columns())
        if got != self.expected:
            return [f"TRUSTED fingerprint {got} != expected {self.expected}"]
        return []

    def properties(self) -> dict:
        s = self.size
        return {"trusted_keys": s["n_keys"], "batch_rows": s["batch_rows"],
                "batches_per_pass": s["n_batches"],
                "trusted_to_batch_ratio": round(s["n_keys"] / s["batch_rows"], 1),
                "matched_key_share_per_batch": round(self.matched, 4)}


ORDERS_COLS = [
    ("o_orderkey", "v"), ("o_custkey", "v"), ("o_orderstatus", "v"),
    ("o_totalprice", "v"), ("o_orderdate", "ts"), ("o_orderpriority", "v"),
    ("sk", "v"), ("timestamp_kafka", "ts"),
]


class ResumeJdbc(Workload):
    """The reference's carga_date path against embedded Derby: sequential
    date slices with injected transient faults, a simulated driver crash
    midway, a resumed run from the slice manifest, then the merge."""

    name = "resume_jdbc"
    SLICE_DAYS = 15  # chunk_days_for_rowcount tier for < 100k rows

    def build(self, d: str) -> None:
        s = self.size
        rng = self.rng()
        span = s["n_slices"] * self.SLICE_DAYS
        table = inputs.orders_table(rng, s["n_rows"], span)
        path = inputs.write(table, os.path.join(d, "orders.parquet"))
        self.url = derby_url(os.path.join(d, "derby"))
        self.opts = {"driver": DERBY_DRIVER}
        seed_jdbc_table(
            self.spark.read.parquet(path), self.url, "ORDERS",
            options={**self.opts, "numPartitions": str(self.nproc),
                     "createTableColumnTypes": "O_ORDERSTATUS VARCHAR(1), "
                     "O_ORDERPRIORITY VARCHAR(15)"},
        )
        self._sql("CREATE INDEX ORDERS_DATE ON ORDERS (O_ORDERDATE)")
        self.end = (inputs.EPOCH.astype(dt.datetime) + dt.timedelta(days=span)).date()
        probe = ResyncPipeline(self._source(), Lake(d), self._config())
        intervals = probe.plan(self.spark)
        self.positions = {iv: i for i, iv in enumerate(intervals)}
        n = len(intervals)
        self.crash_at = int(rng.integers(n // 3, max(n // 3 + 1, 2 * n // 3)))
        n_faults = max(1, round(s["fault_share"] * n))
        candidates = [i for i in range(n) if i != self.crash_at]
        self.faults = sorted(int(i) for i in rng.choice(candidates, n_faults, replace=False))
        self.n_slices = n
        self.expected = fingerprint(self.con, (
            f"(SELECT *, md5(CAST(o_orderkey AS VARCHAR)) AS sk, "
            f"TIMESTAMP '{batch_ts(0)}' AS timestamp_kafka FROM read_parquet('{path}'))"
        ), ORDERS_COLS)

    def ops_per_pass(self) -> int:
        return self.n_slices + 1  # every slice, and the batch that merges them

    def _sql(self, statement: str) -> None:
        jvm = self.spark.sparkContext._jvm
        conn = jvm.java.sql.DriverManager.getConnection(self.url)
        try:
            stmt = conn.createStatement()
            stmt.execute(statement)
            stmt.close()
        finally:
            conn.close()

    def _source(self) -> JdbcSource:
        return JdbcSource(self.url, "ORDERS", "O_ORDERDATE", options=self.opts)

    def _config(self) -> ResyncConfig:
        return ResyncConfig(NS, "orders", "O_ORDERDATE", "date", end=self.end,
                            amount=self.size["n_rows"], retry_sleep_s=0.0)

    def run_pass(self, root: str, tracer=None) -> Pass:
        rec = Pass()
        lake = Lake(root)
        src = ObservedSource(self._source(), tracer, self.positions, self.faults, self.crash_at)
        t0 = now()
        try:
            ResyncPipeline(src, lake, self._config()).run(self.spark, parallel=False)
            raise RuntimeError("the injected crash did not fire")
        except SimulatedCrash:
            src.end_run()
        # A restarted driver: a new pipeline object over the same lake.
        pipe = ResyncPipeline(src, lake, self._config())
        result = pipe.run(self.spark, parallel=False)
        src.end_run()
        pipe.transform_and_merge(self.spark, ["O_ORDERKEY"], batch_ts=batch_ts(0))
        rec.commits.append(now() - t0)
        rec.slices.extend(src.steps.values())
        work = lake.path("work", NS, "orders")
        rec.work_bytes = dir_bytes(work)
        rec.lake_bytes = dir_bytes(root)
        rec.counters.update(
            slices=self.n_slices, attempts=src.attempts, skipped=len(result.skipped),
            failed_attempts=src.failed_attempts, work_files=len(data_files(work)),
            trusted_bytes=dir_bytes(lake.path("trusted", NS, "orders")),
        )
        return rec

    def check(self, root: str, rec: Pass) -> list[str]:
        errors = []
        if rec.counters["skipped"] != self.crash_at:
            errors.append(f"resume skipped {rec.counters['skipped']} slices, "
                          f"expected the {self.crash_at} landed before the crash")
        if len(rec.slices) != self.n_slices:
            errors.append(f"{len(rec.slices)} slices landed, expected {self.n_slices}")
        files = _sql_list(self.trusted_files(Lake(root), "orders"))
        got = fingerprint(self.con, f"read_parquet({files})", ORDERS_COLS)
        if got != self.expected:
            errors.append(f"TRUSTED fingerprint {got} != expected {self.expected}")
        return errors

    def properties(self) -> dict:
        return {"rows": self.size["n_rows"], "slices": self.n_slices,
                "transient_fault_slices": self.faults, "crash_slice": self.crash_at}


WORKLOADS = {w.name: w for w in (UpsertBatches, ResumeJdbc)}
