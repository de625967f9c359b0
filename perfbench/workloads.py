"""The benchmark's workloads: set-up, the timed closed loop, output checks.

Each workload is one client in one process issuing its next operation only
after the previous one returned (a closed loop). Operations are timed with
``time.perf_counter``; output checks run between operations, outside the
timed region. The traced run executes the same calls wrapped in spans.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path
from statistics import median

from checks import (
    check_refresh,
    check_rows,
    check_stream_dedup,
    check_stream_windows,
    expected_refresh_failures,
)
from spans import Tracer, cpu_s, descendant_pids

# events_live's dashboard queries: a fixed, named list (never the catalog's
# rotating order or its headline flags), each with a DuckDB oracle and an
# output small enough to collect and compare inside one run.
QUERIES = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q13_order_count_distribution",
    "events_hourly_rollup",
)
# One landing file per day of event time: ~3,300 events, the micro-batch
# size at which the two stream jobs were observed at 3.2 s and 1.7 s per
# batch (~950 and ~1,800 events/s).
LANDING_HOURS = 24
# A dashboard refreshes at most once a second. The default trigger would
# instead poll the landing directory every 10 ms, which costs two idle
# queries ~0.4 cores: CPU that grows with wall time, not with the work.
TRIGGER = "1 second"
QUIET_S = 1.5  # a tick ends once both jobs' last batch ended this long ago (> one trigger)
DRAIN_TIMEOUT_S = 120.0


@dataclass
class Run:
    spark: object
    tracer: Tracer
    work: Path
    seed: int
    seconds: float
    excluded_s: float = 0.0  # time spent on the benchmark's own inputs, oracles and checks
    first_op_at: float | None = None
    excluded_before_first_op: float = 0.0
    op_times: list[float] = field(default_factory=list)
    op_cpu: list[float] = field(default_factory=list)  # process-tree CPU seconds per op
    op_windows: list[tuple[float, float]] = field(default_factory=list)
    parts: dict[str, list[tuple[float, float]]] = field(default_factory=dict)  # name → (wall, cpu) per op
    rows: int = 0
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    layer: dict = field(default_factory=dict)  # per-layer counts the workload adds itself
    notes: dict = field(default_factory=dict)

    def excluded(self, fn, *args):
        t = time.perf_counter()
        try:
            return fn(*args)
        finally:
            self.excluded_s += time.perf_counter() - t

    def count(self, key: str, v: float) -> None:
        self.layer[key] = self.layer.get(key, 0) + v

    def record(self, problems: list[str], what: str) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems.extend(f"{what}: {p}" for p in problems)


def timed_loop(run: Run, step) -> None:
    """Call ``step()``, which times one op with :func:`timed_op`, at least
    once; another op starts only while it is expected to end nearer
    ``run.seconds`` of timed work than stopping now would."""
    while True:
        step()
        if sum(run.op_times) + median(run.op_times) / 2 >= run.seconds:
            return


def timed_op(run: Run, fn):
    cpu0 = cpu_s(descendant_pids(os.getpid()))
    t = time.perf_counter()
    if run.first_op_at is None:
        run.first_op_at = t
        run.excluded_before_first_op = run.excluded_s
    out = fn()
    end = time.perf_counter()
    run.op_cpu.append(cpu_s(descendant_pids(os.getpid())) - cpu0)
    run.op_times.append(end - t)
    run.op_windows.append((t, end))
    return out


@contextmanager
def timed_part(run: Run, name: str):
    """Wall and process-tree CPU seconds of one part of an operation."""
    cpu0 = cpu_s(descendant_pids(os.getpid()))
    t = time.perf_counter()
    yield
    run.parts.setdefault(name, []).append(
        (time.perf_counter() - t, cpu_s(descendant_pids(os.getpid())) - cpu0)
    )


def warm_python_workers(spark) -> None:
    spark.sparkContext.parallelize(range(8), 4).map(lambda x: x + 1).count()


# -- live_refresh -------------------------------------------------------------


def _tree_files(path: Path) -> tuple[int, int]:
    n = size = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                n += 1
                size += os.path.getsize(os.path.join(dirpath, f))
    return n, size


def live_refresh(run: Run) -> None:
    from live_data_spark.bikeshop import pipeline as pipeline_mod
    from live_data_spark.bikeshop.models import build_project
    from live_data_spark.plans import testing

    tr = run.tracer
    root = run.work / "bikeshop"
    pipe = pipeline_mod.BikeShopPipeline(run.spark, str(root), seed=run.seed)
    if tr.enabled:
        _trace_refresh(run, pipe, pipeline_mod, testing)
    with tr.span("bikeshop.pipeline", "run"):
        counts = pipe.run()
    project = build_project(run.spark, str(root / "warehouse"), str(pipe.raw_dir))
    with tr.span("plans.registry", "run"):
        project.run()
    if tr.enabled:
        _trace_project(run, project)
    run.record(check_refresh({t: 0 for t in counts}, counts, project.metrics.get("fct_order_products"),
                             None, cycle=1), "seed load")

    def cycle() -> None:
        nonlocal counts
        prev = counts

        def op():
            with timed_part(run, "ingest"), tr.span("bikeshop.pipeline", "run"):
                c = pipe.run()
            with timed_part(run, "build"), tr.span("plans.registry", "run"):
                project.invalidate()
                project.run()
            with timed_part(run, "tests"), tr.span("plans.testing", "run_tests"):
                results = project.run_tests()
            return c, results

        counts, results = timed_op(run, op)
        appended = sum(counts[t] - prev.get(t, 0) for t in counts)
        run.rows += appended
        run.count("bikeshop.rows_generated", appended)
        run.count("testing.violations", sum(r.n_violations for r in results))
        if tr.enabled:
            run.count("bikeshop.raw_files", _tree_files(pipe.raw_dir)[0])
            run.count("registry.files_written", _tree_files(project.warehouse_dir)[0])
        run.record(
            check_refresh(prev, counts, project.metrics.get("fct_order_products"),
                          results, cycle=pipe.runs_completed),
            f"cycle {pipe.runs_completed}",
        )
        run.notes["expected_failing_tests"] = sorted(expected_refresh_failures(pipe.runs_completed))
        run.notes["unique_customer_id_violations"] = [
            r.n_violations for r in results if r.test_name == "unique_customer_id"
        ]

    timed_loop(run, cycle)


def _trace_refresh(run: Run, pipe, pipeline_mod, testing) -> None:
    """Wrap the pipeline's steps and the data tests in spans (traced run only)."""
    tr = run.tracer
    gen, copy = pipe.generate, pipe.copy_into

    def generate(initial):
        with tr.span("bikeshop.generator", "generate"):
            return gen(initial)

    def copy_into(table):
        with tr.span("bikeshop.pipeline", f"copy_into:{table}"):
            return copy(table)

    stage, clean = pipeline_mod.stage_files, pipeline_mod.clean_dir

    def stage_files(generated_dir, stage_dir, *a, **k):
        with tr.span("sources.files", "stage_files") as sp:
            out = stage(generated_dir, stage_dir, *a, **k)
            sp.counts["staged_bytes"] = _tree_files(Path(stage_dir))[1]
            return out

    def clean_dir(path):
        with tr.span("sources.files", "clean_dir"):
            return clean(path)

    test_run = testing.GenericTest.run

    def run_test(self, project, store_failures_dir=None):
        with tr.span("plans.testing", f"{self.test_name}[{self.model}]"):
            return test_run(self, project, store_failures_dir=store_failures_dir)

    pipe.generate, pipe.copy_into = generate, copy_into
    pipeline_mod.stage_files, pipeline_mod.clean_dir = stage_files, clean_dir
    testing.GenericTest.run = run_test


def _trace_project(run: Run, project) -> None:
    build = project.build

    def traced_build(name):
        with run.tracer.span("plans.registry", f"build:{name}"):
            return build(name)

    project.build = traced_build


# -- events_live --------------------------------------------------------------


def oracle_rows(sf_dir: Path, names) -> dict[str, tuple[list[str], list[tuple]]]:
    import duckdb

    from live_data_spark.catalog import catalog

    cat = catalog()
    con = duckdb.connect()
    try:
        for t in "region nation customer supplier part orders lineitem events".split():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        out = {}
        for n in names:
            res = con.execute(cat[n].oracle)
            out[n] = ([d[0] for d in res.description], [tuple(r) for r in res.fetchall()])
        return out
    finally:
        con.close()


def write_landing_files(events, out: Path) -> list[Path]:
    """Split ``events`` by time into one parquet file per LANDING_HOURS of
    event time."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    out.mkdir(parents=True)
    hours = np.asarray(events.column("ts")).astype("datetime64[h]").astype(np.int64)
    bucket = (hours - hours.min()) // LANDING_HOURS
    paths = []
    for b in np.unique(bucket):
        p = out / f"events-{int(b):04d}.parquet"
        pq.write_table(events.filter(pa.array(bucket == b)), p)
        paths.append(p)
    return paths


_LOG_OFFSET = re.compile(r"(\d+)")


def _end_offset(q) -> int:
    p = q.lastProgress
    if not p or not p.get("sources"):
        return -1
    m = _LOG_OFFSET.search(str(p["sources"][0].get("endOffset")))
    return int(m.group(1)) if m else -1


def _wait_quiet(q, deadline: float) -> None:
    """Let the trailing no-data batch that a watermark advance triggers
    finish: wait until the last reported batch ended QUIET_S seconds ago
    and no trigger is active."""
    while time.perf_counter() < deadline:
        p = q.lastProgress
        if p and not q.status.get("isTriggerActive"):
            start = dt.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
            if time.time() - start - p["durationMs"].get("triggerExecution", 0) / 1e3 >= QUIET_S:
                return
        time.sleep(0.02)


class EventStreams:
    """The two streaming jobs, draining one shared landing directory."""

    def __init__(self, run: Run, files: list[Path]):
        from live_data_spark.streaming import jobs

        self.run, self.files, self.landed = run, files, []
        self.warm_batch: dict[str, int] = {}  # job → last batch id of the untimed first tick
        self.landing = run.work / "landing"
        self.landing.mkdir()
        self.queries = {}
        for job, fn in (("hourly_rollup", jobs.hourly_rollup), ("dedup_events", jobs.dedup_events)):
            stream = jobs.read_events_stream(run.spark, str(self.landing), max_files_per_trigger=1)
            self.queries[job] = (
                fn(stream)
                .writeStream.format("parquet")
                .option("path", str(run.work / job / "out"))
                .option("checkpointLocation", str(run.work / job / "checkpoint"))
                .outputMode("append")
                .trigger(processingTime=TRIGGER)
                .start()
            )

    def tick(self) -> int:
        """Land the next file; both jobs drain it as one micro-batch each,
        concurrently. Returns once both have committed it and run the
        no-data batch its watermark advance triggers (which emits the
        windows it closed)."""
        i = len(self.landed)
        if i >= len(self.files):
            raise RuntimeError("landing files exhausted")
        os.utime(self.files[i], (1_000_000_000 + i, 1_000_000_000 + i))  # file-source order
        dest = self.landing / self.files[i].name
        os.replace(self.files[i], dest)  # atomic: the source never lists a partial file
        self.landed.append(dest)
        deadline = time.perf_counter() + DRAIN_TIMEOUT_S
        for job, q in self.queries.items():
            with self.run.tracer.span("streaming.jobs", job) as sp:
                while _end_offset(q) < i:
                    if q.exception() is not None:
                        raise RuntimeError(f"{job}: {q.exception()}")
                    if time.perf_counter() > deadline:
                        raise RuntimeError(f"{job} did not drain {dest.name}")
                    time.sleep(0.005)
                _wait_quiet(q, deadline)
                if sp is not None:
                    self.run.tracer.read_group(str(q.runId), sp.counts)
        return i

    def warm_up(self) -> None:
        """Drain the first file untimed: the cold first micro-batch of each
        job (state-store creation, first planning) belongs to set-up."""
        self.tick()
        self.warm_batch = {job: q.lastProgress["batchId"] for job, q in self.queries.items()}

    def stop_and_check(self) -> None:
        from live_data_spark.streaming import jobs

        run, spark = self.run, self.run.spark
        progress = {}
        for job, q in self.queries.items():
            q.stop()
            progress[job] = q.recentProgress
        run.notes["stream_progress"] = {
            j: [p for p in ps if p.get("numInputRows", 0) > 0 and p["batchId"] > self.warm_batch[j]]
            for j, ps in progress.items()
        }
        consumed = spark.read.parquet(*[str(p) for p in self.landed])
        emitted = spark.read.parquet(str(run.work / "hourly_rollup" / "out"))
        want = jobs.hourly_rollup(consumed)
        run.record(
            check_stream_windows(
                emitted.columns, [tuple(r) for r in emitted.collect()],
                want.columns, [tuple(r) for r in want.collect()],
                progress["hourly_rollup"][-1]["eventTime"].get("watermark"),
            ),
            "hourly_rollup windows",
        )
        out = spark.read.parquet(str(run.work / "dedup_events" / "out"))
        ids = [r[0] for r in out.select("event_id").collect()]
        want_ids = [r[0] for r in consumed.select("event_id").distinct().collect()]
        run.record(check_stream_dedup(ids, want_ids), "dedup_events ids")


def events_live(run: Run) -> None:
    import datagen
    import pyarrow.parquet as pq

    from live_data_spark.catalog import catalog

    data = run.work / "data"
    run.excluded(datagen.write_tables, data, run.seed)
    oracle = run.excluded(oracle_rows, data, QUERIES)
    files = run.excluded(
        lambda: write_landing_files(pq.read_table(data / "events.parquet"), run.work / "staged")
    )
    file_rows = [pq.ParquetFile(p).metadata.num_rows for p in files]
    streams = EventStreams(run, files)
    streams.warm_up()
    cat = catalog()
    rng = random.Random(run.seed)

    def tick() -> None:
        order = list(QUERIES)
        rng.shuffle(order)

        def op():
            with timed_part(run, "stream"):
                run.rows += file_rows[streams.tick()]
            out = {}
            with timed_part(run, "queries"):
                for name in order:
                    with run.tracer.span("catalog", name):
                        df = cat[name].spark(run.spark, str(data))
                    with run.tracer.span("exec", name):
                        out[name] = (df.columns, [tuple(r) for r in df.collect()])
            return out

        for name, (cols, got) in timed_op(run, op).items():
            run.record(run.excluded(check_rows, cols, got, *oracle[name]), name)

    timed_loop(run, tick)
    streams.stop_and_check()


WORKLOADS = {
    "live_refresh": live_refresh,
    "events_live": events_live,
}
