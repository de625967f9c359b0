"""Spans, Spark counters and small statistics for the benchmark.

Tracing lives in the benchmark's own files: the traced run wraps the same
public calls the untraced run makes in :meth:`Tracer.span`. Each span gets
its own Spark job group (``SparkContext.setJobGroup``), so every job the
call launches is attributed to the innermost open span; when the span
closes, the stage data of its group's jobs is read from Spark's status
store straight away, before the default retention of 1,000 jobs/stages can
evict it (a ``live_refresh`` cycle alone executes ~85 stages). Spans stay in
memory until the run ends.
"""

from __future__ import annotations

import os
import re
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")

# engine counters summed per span, read from v1.StageData
STAGE_COUNTERS = (
    "stages",
    "tasks",
    "failed_tasks",
    "executor_cpu_s",
    "executor_run_s",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "shuffle_records",
    "input_records",
    "output_records",
    "spill_bytes",
)


def tail(xs: list[float]) -> tuple[float, float] | None:
    """(percentile, value): the highest of p50/p90/p95/p99/p99.9 that has at
    least ten samples beyond it (nearest rank), or None when n < 20."""
    n = len(xs)
    if n < 20:
        return None
    s = sorted(xs)
    best = None
    for p10 in (500, 900, 950, 990, 999):  # percentile × 10, exact integer ranks
        rank = -(-p10 * n // 1000)
        if n - rank >= 10:
            best = (p10 / 10.0, s[rank - 1])
    return best


@dataclass
class Span:
    sid: int
    parent: int | None
    layer: str
    name: str
    start: float
    end: float = 0.0
    counts: dict = field(default_factory=dict)  # explicit counts + own-group engine counters

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id → duration minus the part of it its child spans cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for sp in spans:
        if sp.parent is not None:
            kids.setdefault(sp.parent, []).append((sp.start, sp.end))
    return {sp.sid: sp.duration - covered(kids.get(sp.sid, [])) for sp in spans}


class Tracer:
    """In-memory spans with per-span Spark job attribution.

    With ``enabled=False``, :meth:`span` yields None and records nothing,
    so workloads run the same code in both modes and only the traced run
    pays for counters.
    """

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._sc = spark.sparkContext
        self._seen_jobs: set[int] = set()
        self._seen_stages: set[int] = set()
        self.jobs_read = 0
        self.stages_read = 0
        self.unread: list[str] = []  # jobs/stages whose counters could not be read

    @contextmanager
    def span(self, layer: str, name: str = ""):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), parent.sid if parent else None, layer, name, time.perf_counter())
        self.spans.append(sp)
        self._stack.append(sp)
        self._sc.setJobGroup(self._group(sp), f"{layer} {name}".strip())
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self._sc.setJobGroup(self._group(parent), parent.layer)
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
            self.read_group(self._group(sp), sp.counts)

    @staticmethod
    def _group(sp: Span) -> str:
        return f"perfbench-span-{sp.sid}"

    def read_group(self, group: str, into: dict) -> None:
        """Add the counters of every job in ``group`` not read before to
        ``into``. Stages are counted once per run: a stage that a later job
        skips (its shuffle output reused) is not counted again. A job or
        stage whose data the store no longer holds (or whose counters are
        not final) is recorded in :attr:`unread`; a stage is exempt only
        when the status tracker reports it was never submitted."""
        from py4j.protocol import Py4JJavaError

        sc = self._sc
        sc._jsc.sc().listenerBus().waitUntilEmpty()  # the store is fed asynchronously
        st = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        for jid in st.getJobIdsForGroup(group):
            if jid in self._seen_jobs:
                continue
            self._seen_jobs.add(jid)
            info = st.getJobInfo(jid)
            if info is None:
                self.unread.append(f"job {jid}")
                continue
            self.jobs_read += 1
            into["jobs"] = into.get("jobs", 0) + 1
            for sid in info.stageIds:
                if sid in self._seen_stages:
                    continue
                try:
                    attempts = store.stageData(sid, False, sc._jvm.java.util.ArrayList(), False, no_quantiles)
                except Py4JJavaError:
                    stage = st._jtracker.getStageInfo(sid)  # the Java tracker reports submission
                    if stage is None or stage.submissionTime() > 0:
                        self.unread.append(f"stage {sid} of job {jid}")
                    continue
                ran = False
                for i in range(attempts.size()):
                    sd = attempts.apply(i)
                    status = sd.status().toString()
                    if status == "SKIPPED":
                        continue
                    if status in ("ACTIVE", "PENDING"):
                        self.unread.append(f"stage {sid} of job {jid} is {status}")
                        continue
                    ran = True
                    for k, v in (
                        ("tasks", sd.numTasks()),
                        ("failed_tasks", sd.numFailedTasks()),
                        ("executor_cpu_s", sd.executorCpuTime() / 1e9),
                        ("executor_run_s", sd.executorRunTime() / 1e3),
                        ("shuffle_write_bytes", sd.shuffleWriteBytes()),
                        ("shuffle_read_bytes", sd.shuffleReadBytes()),
                        ("shuffle_records", sd.shuffleWriteRecords()),
                        ("input_records", sd.inputRecords()),
                        ("output_records", sd.outputRecords()),
                        ("spill_bytes", sd.memoryBytesSpilled() + sd.diskBytesSpilled()),
                    ):
                        into[k] = into.get(k, 0) + v
                if ran:
                    self._seen_stages.add(sid)
                    self.stages_read += 1
                    into["stages"] = into.get("stages", 0) + 1


def descendant_pids(root: int) -> list[int]:
    """``root`` and every process below it, from /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def cpu_s(pids: list[int]) -> float:
    """CPU seconds (user + system, own and reaped children) of ``pids``.
    A process is counted either alive (own fields) or reaped (in its
    parent's children fields), never both."""
    ticks = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def rss_mb(pids: list[int]) -> float:
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


RSS_INTERVAL_S = 0.25


class RssSampler:
    """Samples the summed resident memory of this process tree (driver,
    JVM, Python workers) every RSS_INTERVAL_S seconds on a daemon thread."""

    def __init__(self):
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(RSS_INTERVAL_S)

    def sample(self) -> None:
        self.peak_mb = max(self.peak_mb, rss_mb(descendant_pids(os.getpid())))

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()
