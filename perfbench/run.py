"""Benchmark entry point: one workload, one seed, one process.

    python3 perfbench/run.py --workload live_refresh --seed 1 --seconds 10 --trace 0

Run from the repository root. Prints a human-readable report (lines
starting with ``#``) and, as the last line of standard output, one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
Exits non-zero, without a result, when the program cannot be imported or a
workload raises. See README.md for the workloads and metric definitions.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from statistics import median  # noqa: E402
from pathlib import Path  # noqa: E402

REPO = Path(__file__).resolve().parents[1]

# name → unit; BENCHMARK.json lists the same (test_perfbench pins it). The
# report prints the wall-time metrics too (op_s_p50, ops_per_s, ...); they
# are not gated because on a shared host they move by a quarter between
# identical runs (see README.md).
END_TO_END = {
    "setup_s": "s",
    "op_cpu_s": "s",
}
PER_LAYER = {
    "session.start_s": "s",
    "bikeshop.rows_generated": "rows",
    "bikeshop.generate_jobs": "count",
    "sources.staged_bytes": "bytes",
    "bikeshop.copy_jobs": "count",
    "bikeshop.raw_files": "count",
    "registry.jobs": "count",
    "registry.files_written": "count",
    "registry.rows_written": "rows",
    "testing.jobs": "count",
    "testing.violations": "count",
    "catalog.plan_jobs": "count",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.failed_tasks": "count",
    "exec.executor_cpu_s": "s",
    "exec.executor_run_s": "s",
    "exec.cpu_share": "fraction",
    "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_records": "rows",
    "exec.input_records": "rows",
    "exec.spill_bytes": "bytes",
    "stream.state_rows": "rows",
    "stream.state_memory_bytes": "bytes",
    "stream.state_partitions": "count",
    "stream.rows_dropped_late": "rows",
    "stream.input_rows": "rows",
    "host.steal_pct": "%",
    "host.loadavg_pre": "load",
    "trace.op_s_p50": "s",
    "trace.uncovered_s": "s",
}
# Times of layers only one workload exercises: printed with --trace 1, kept
# out of the JSON, where they would read exactly 0.0 on every run of the
# other workload.
LAYER_TIMES = {
    "bikeshop.generate_s": "s",
    "sources.stage_s": "s",
    "sources.clean_s": "s",
    "bikeshop.copy_s": "s",
    "registry.build_s": "s",
    "testing.run_s": "s",
    "catalog.plan_s": "s",
    "stream.trigger_ms": "ms",
    "stream.add_batch_ms": "ms",
    "stream.planning_ms": "ms",
    "stream.wal_commit_ms": "ms",
    "stream.commit_ms": "ms",
    "stream.state_commit_ms": "ms",
}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def launch_env(work: Path) -> None:
    """Pin cores, give the run its own scratch dirs inside the checkout,
    and let Python workers import the package from any working directory."""
    cpus = str(len(os.sched_getaffinity(0)))
    for d in ("spark-local", "tmp"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = cpus
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work / 'tmp'}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(REPO), os.environ.get("PYTHONPATH", "")) if p
    )


def stream_metrics(progress: dict, n_ops: int) -> dict:
    """Per-operation sums over both jobs of their timed data batches."""
    dur = {"stream.trigger_ms": "triggerExecution", "stream.add_batch_ms": "addBatch",
           "stream.planning_ms": "queryPlanning", "stream.wal_commit_ms": "walCommit",
           "stream.commit_ms": "commitOffsets"}
    state = {"stream.state_rows": "numRowsTotal", "stream.state_memory_bytes": "memoryUsedBytes",
             "stream.state_commit_ms": "commitTimeMs", "stream.state_partitions": "numShufflePartitions",
             "stream.rows_dropped_late": "numRowsDroppedByWatermark"}
    out = dict.fromkeys([*dur, *state, "stream.input_rows"], 0.0)
    for batches in progress.values():
        for p in batches:
            for k, key in dur.items():
                out[k] += p.get("durationMs", {}).get(key, 0)
            for op in p.get("stateOperators", []):
                for k, key in state.items():
                    out[k] += op.get(key, 0)
            out["stream.input_rows"] += p.get("numInputRows", 0)
    return {k: v / n_ops for k, v in out.items()}


def layer_metrics(run, tracer, session_s: float, host: dict) -> dict:
    from spans import STAGE_COUNTERS, covered, self_times

    n = len(run.op_times)
    in_op = [sp for sp in tracer.spans if any(a <= sp.start < b for a, b in run.op_windows)]
    selft = self_times(tracer.spans)

    def pick(layer, prefix=""):
        return [sp for sp in in_op if sp.layer == layer and sp.name.startswith(prefix)]

    def dur(spans):
        return sum(sp.duration for sp in spans) / n

    def cnt(spans, key):
        return sum(sp.counts.get(key, 0) for sp in spans) / n

    tests = [sp for sp in pick("plans.testing") if sp.name != "run_tests"]
    registry = pick("plans.registry")
    m = {
        "session.start_s": session_s,
        "bikeshop.generate_s": dur(pick("bikeshop.generator")),
        "bikeshop.rows_generated": run.layer.get("bikeshop.rows_generated", 0) / n,
        "bikeshop.generate_jobs": cnt(pick("bikeshop.generator"), "jobs"),
        "sources.stage_s": dur(pick("sources.files", "stage_files")),
        "sources.staged_bytes": cnt(pick("sources.files", "stage_files"), "staged_bytes"),
        "sources.clean_s": dur(pick("sources.files", "clean_dir")),
        "bikeshop.copy_s": dur(pick("bikeshop.pipeline", "copy_into")),
        "bikeshop.copy_jobs": cnt(pick("bikeshop.pipeline", "copy_into"), "jobs"),
        "bikeshop.raw_files": run.layer.get("bikeshop.raw_files", 0) / n,
        "registry.build_s": sum(selft[sp.sid] for sp in pick("plans.registry", "build:")) / n,
        "registry.jobs": cnt(registry, "jobs"),
        "registry.files_written": run.layer.get("registry.files_written", 0) / n,
        "registry.rows_written": cnt(registry, "output_records"),
        "testing.run_s": dur(tests),
        "testing.jobs": cnt(pick("plans.testing"), "jobs"),
        "testing.violations": run.layer.get("testing.violations", 0) / n,
        "catalog.plan_s": dur(pick("catalog")),
        "catalog.plan_jobs": cnt(pick("catalog"), "jobs"),
        "exec.jobs": cnt(in_op, "jobs"),
    }
    for k in STAGE_COUNTERS:
        if k != "output_records":
            m[f"exec.{k}"] = cnt(in_op, k)
    m["exec.cpu_share"] = m["exec.executor_cpu_s"] / m["exec.executor_run_s"] if m["exec.executor_run_s"] else 0.0
    m.update(stream_metrics(run.notes.get("stream_progress", {}), n))
    m["host.steal_pct"] = host["steal_pct"]
    m["host.loadavg_pre"] = host["loadavg_pre"]
    m["trace.op_s_p50"] = median(run.op_times)
    m["trace.uncovered_s"] = sum(
        (b - a) - covered([(sp.start, sp.end) for sp in in_op if sp.parent is None and a <= sp.start < b])
        for a, b in run.op_windows
    ) / n
    return m


def end_to_end(run, peak_rss_mb: float) -> dict[str, tuple[float, str, int]]:
    """Every end-to-end metric defined for this run: name → (value, unit, n)."""
    from spans import tail

    n, wall = len(run.op_times), sum(run.op_times)
    out = {
        "setup_s": (run.first_op_at - T0 - run.excluded_before_first_op, "s", 1),
        "op_cpu_s": (median(run.op_cpu), "s", n),
        "op_s_p50": (median(run.op_times), "s", n),
        "ops_per_s": (n / wall, "1/s", n),
        "peak_rss_mb": (peak_rss_mb, "MB", 1),
        "failed_ops_frac": (run.failed / run.attempted, "fraction", run.attempted),
    }
    t = tail(run.op_times)
    if t is not None:
        out[f"op_s_tail (p{t[0]:g})"] = (t[1], "s", n)
    if run.rows:
        out["rows_per_s"] = (run.rows / wall, "rows/s", n)
    return out


def is_correct(run, tracer) -> bool:
    """Every output check passed and, in a traced run, every job and stage
    of every span was read from the status store."""
    return run.failed == 0 and not tracer.unread


def report_lines(run, tracer, e2e: dict, host: dict, session_s: float) -> list[str]:
    from spans import self_times

    lines = [f"ops={len(run.op_times)} timed_wall_s={sum(run.op_times):.3f} checks attempted={run.attempted} failed={run.failed}"]
    for k, (v, unit, n) in e2e.items():
        lines.append(f"{k} = {v:.6g} {unit} (n={n})")
    lines.append(f"setup_s of which session = {session_s:.3f} s, workload set-up = {e2e['setup_s'][0] - session_s:.3f} s")
    for name, xs in run.parts.items():
        lines.append(
            f"part {name}: wall median = {median(w for w, _ in xs):.3f} s, "
            f"cpu median = {median(c for _, c in xs):.3f} s (n={len(xs)})"
        )
    if len(run.op_times) < 20:
        lines.append(f"op_s_tail omitted (n={len(run.op_times)} < 20)")
    lines.append("op_s each = " + " ".join(f"{x:.3f}" for x in run.op_times))
    lines.append("op_cpu_s each = " + " ".join(f"{x:.3f}" for x in run.op_cpu))
    lines.append(f"host steal_pct = {host['steal_pct']:.2f} loadavg_pre = {host['loadavg_pre']:.2f}")
    for k, v in run.notes.items():
        if k != "stream_progress":
            lines.append(f"note {k} = {v}")
    for p in run.problems[:20]:
        lines.append(f"FAILED CHECK {p}")
    if tracer.enabled:
        lines.append(f"trace jobs read={tracer.jobs_read} stages read={tracer.stages_read} unread={len(tracer.unread)}")
        lines += [f"UNREAD {u}" for u in tracer.unread[:20]]
        selft = self_times(tracer.spans)
        by: dict[str, list] = {}
        for sp in tracer.spans:
            if any(a <= sp.start < b for a, b in run.op_windows):
                by.setdefault(f"{sp.layer} {sp.name}", []).append(sp)
        for key, ss in sorted(by.items(), key=lambda kv: -sum(selft[sp.sid] for sp in kv[1])):
            xs = [selft[sp.sid] for sp in ss]
            jobs = sum(sp.counts.get("jobs", 0) for sp in ss)
            stages = sum(sp.counts.get("stages", 0) for sp in ss)
            lines.append(
                f"span {key}: self_s median={median(xs):.4f} total={sum(xs):.4f} n={len(xs)} jobs={jobs} stages={stages}"
            )
    return lines


def main(argv=None) -> int:
    args = parse_args(argv)
    from workloads import WORKLOADS, Run, warm_python_workers

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    host = {"loadavg_pre": os.getloadavg()[0]}
    sys.path.insert(0, str(REPO))
    from bench import _proc_stat_snapshot, _steal_pct  # host helpers shared with bench.py

    from live_data_spark.session import get_spark

    from spans import RssSampler, Tracer

    work = REPO / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    stat_pre = _proc_stat_snapshot()
    launch_env(work)
    os.chdir(work)  # Spark's default warehouse and any relative scratch land here
    spark = proc = None
    try:
        with RssSampler() as rss:
            t = time.perf_counter()
            spark = get_spark()
            spark.sparkContext.setLogLevel("ERROR")
            proc = getattr(spark.sparkContext._gateway, "proc", None)
            warm_python_workers(spark)
            session_s = time.perf_counter() - t
            tracer = Tracer(spark, enabled=bool(args.trace))
            run = Run(spark, tracer, work, args.seed, args.seconds)
            WORKLOADS[args.workload](run)
        host["steal_pct"] = _steal_pct(stat_pre, _proc_stat_snapshot()) or 0.0
        e2e = end_to_end(run, rss.peak_mb)
        lines = report_lines(run, tracer, e2e, host, session_s)
        if args.trace:
            metrics = layer_metrics(run, tracer, session_s, host)
            lines += [f"{k} = {metrics[k]:.6g} {u}" for k, u in {**PER_LAYER, **LAYER_TIMES}.items()]
            units = PER_LAYER
        else:
            metrics = {k: e2e[k][0] for k in END_TO_END}
            units = END_TO_END
        correct = is_correct(run, tracer)
    except Exception:  # noqa: BLE001 - report and exit non-zero without a result
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            spark.stop()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        os.chdir(REPO)
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()  # only when no other run is using it
        except OSError:
            pass
    for line in lines:
        print(f"# {args.workload} seed={args.seed} trace={args.trace} {line}")
    print(json.dumps({
        "correct": correct,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
