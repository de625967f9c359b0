"""Self-tests of the benchmark (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import string
from pathlib import Path
from types import SimpleNamespace

import pytest

import checks
import run
import workloads
from spans import NAME_RE, Span, Tracer, covered, self_times, tail

BENCHMARK = json.loads((Path(__file__).resolve().parents[1] / "BENCHMARK.json").read_text())


# -- tail percentile rule ------------------------------------------------------


def test_no_tail_below_twenty_samples():
    assert tail([1.0] * 19) is None


@pytest.mark.parametrize("n, p", [(20, 50.0), (99, 50.0), (100, 90.0), (200, 95.0), (1000, 99.0), (10_000, 99.9)])
def test_tail_is_highest_percentile_with_ten_beyond(n, p):
    xs = [float(i) for i in range(n)]
    got_p, value = tail(xs)
    assert got_p == p
    assert sum(x > value for x in xs) >= 10


# -- span self-time arithmetic -------------------------------------------------


def test_self_time_subtracts_union_of_children():
    spans = [
        Span(0, None, "a", "", 0.0, 10.0),
        Span(1, 0, "b", "", 1.0, 4.0),
        Span(2, 0, "b", "", 3.0, 6.0),  # overlaps span 1: covered once
        Span(3, 2, "c", "", 3.5, 5.0),  # grandchild: counts against span 2 only
        Span(4, None, "d", "", 12.0, 13.0),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0)
    assert st[1] == pytest.approx(3.0)
    assert st[2] == pytest.approx(3.0 - 1.5)
    assert st[3] == pytest.approx(1.5)
    assert st[4] == pytest.approx(1.0)
    assert covered([(0, 1), (2, 3), (0.5, 2.5)]) == pytest.approx(3.0)


# -- status-store reading -------------------------------------------------------


class _Seq:  # a Scala Seq as py4j exposes it
    def __init__(self, items):
        self.items = items

    def size(self):
        return len(self.items)

    def apply(self, i):
        return self.items[i]


def _stage_data(status="COMPLETE"):
    value = lambda v: (lambda: v)  # noqa: E731
    return SimpleNamespace(
        status=value(SimpleNamespace(toString=value(status))),
        numTasks=value(4), numFailedTasks=value(0), executorCpuTime=value(2e9), executorRunTime=value(3000),
        shuffleWriteBytes=value(10), shuffleReadBytes=value(10), shuffleWriteRecords=value(1),
        inputRecords=value(100), outputRecords=value(0), memoryBytesSpilled=value(0), diskBytesSpilled=value(0),
    )


def _fake_spark(jobs: dict, stages: dict, submitted: dict):
    """A SparkContext whose status store holds ``stages`` (stage id → list of
    attempts); ``jobs`` maps job id → stage ids (None: job evicted) and
    ``submitted`` stage id → submission time the status tracker reports."""
    from py4j.protocol import Py4JJavaError

    def stage_data(sid, *_):
        if sid not in stages:
            raise Py4JJavaError.__new__(Py4JJavaError)
        return _Seq(stages[sid])

    tracker = SimpleNamespace(
        getJobIdsForGroup=lambda group: list(jobs),
        getJobInfo=lambda jid: None if jobs[jid] is None else SimpleNamespace(stageIds=jobs[jid]),
        _jtracker=SimpleNamespace(
            getStageInfo=lambda sid: SimpleNamespace(submissionTime=lambda: submitted[sid]) if sid in submitted else None
        ),
    )
    jsc_sc = SimpleNamespace(
        listenerBus=lambda: SimpleNamespace(waitUntilEmpty=lambda: None),
        statusStore=lambda: SimpleNamespace(stageData=stage_data),
    )
    sc = SimpleNamespace(
        statusTracker=lambda: tracker,
        _jsc=SimpleNamespace(sc=lambda: jsc_sc),
        _jvm=SimpleNamespace(double=float, java=SimpleNamespace(util=SimpleNamespace(ArrayList=list))),
        _gateway=SimpleNamespace(new_array=lambda t, n: []),
    )
    return SimpleNamespace(sparkContext=sc)


def test_read_group_counts_each_job_and_stage_once():
    spark = _fake_spark({0: [1, 2], 1: [2, 3]}, {1: [_stage_data()], 2: [_stage_data()], 3: [_stage_data("SKIPPED")]}, {})
    tr = Tracer(spark, enabled=True)
    into = {}
    tr.read_group("g", into)
    tr.read_group("g", into)  # a later read of the same group adds nothing
    assert into["jobs"] == 2 and into["stages"] == 2 and into["tasks"] == 8
    assert into["executor_cpu_s"] == pytest.approx(4.0) and into["executor_run_s"] == pytest.approx(6.0)
    assert tr.unread == []


@pytest.mark.parametrize(
    "jobs, stages, submitted",
    [
        ({0: [1, 2]}, {1: [_stage_data()]}, {}),  # stage 2 evicted from the store
        ({0: [1, 2]}, {1: [_stage_data()]}, {2: 1_700_000_000_000}),  # submitted, yet no data
        ({0: [1], 1: None}, {1: [_stage_data()]}, {}),  # job 1 evicted
        ({0: [1]}, {1: [_stage_data("ACTIVE")]}, {}),  # counters not final
    ],
)
def test_a_lost_counter_flags_the_run(jobs, stages, submitted):
    tr = Tracer(_fake_spark(jobs, stages, submitted), enabled=True)
    tr.read_group("g", {})
    assert tr.unread
    assert not run.is_correct(SimpleNamespace(failed=0), tr)


def test_a_never_submitted_stage_is_not_a_lost_counter():
    tr = Tracer(_fake_spark({0: [1, 2]}, {1: [_stage_data()]}, {2: 0}), enabled=True)
    tr.read_group("g", {})
    assert tr.unread == []
    assert run.is_correct(SimpleNamespace(failed=0), tr)
    assert not run.is_correct(SimpleNamespace(failed=1), tr)


# -- names, units and BENCHMARK.json ------------------------------------------

UNIT_CHARS = set(string.ascii_letters + string.digits + "_/%.-")


def test_metric_and_workload_names_use_the_charset():
    names = [*run.END_TO_END, *run.PER_LAYER, *run.LAYER_TIMES, *workloads.WORKLOADS]
    assert all(NAME_RE.match(n) for n in names), [n for n in names if not NAME_RE.match(n)]
    assert len(names) == len(set(names))
    assert not NAME_RE.match("bad name") and not NAME_RE.match("_x") and not NAME_RE.match("a" * 65)
    units = [*run.END_TO_END.values(), *run.PER_LAYER.values(), *run.LAYER_TIMES.values()]
    assert all(0 < len(u) <= 16 and set(u) <= UNIT_CHARS for u in units)


def test_benchmark_json_schema():
    b = BENCHMARK
    assert set(b) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert b["command"] == ["python3", "perfbench/run.py"]
    assert b["paths"] == ["perfbench"]
    assert isinstance(b["run_seconds"], int) and 1 <= b["run_seconds"] <= 60
    assert 2 <= len(b["workloads"]) <= 8
    for w in b["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200 and "\n" not in w["why"]
    assert [w["name"] for w in b["workloads"]] == list(workloads.WORKLOADS)
    for m in b["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert m["better"] in ("lower", "higher") and 0 < m["bound"] <= 0.25
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == run.END_TO_END
    setup = next(m for m in b["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in b["end_to_end"])
    for m in b["per_layer"]:
        assert set(m) == {"name", "unit", "better"} and m["better"] in ("lower", "higher")
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == run.PER_LAYER
    assert len(json.dumps(b)) <= 64 * 1024


# -- planted wrong rows make every check fail ----------------------------------


def test_check_rows_catches_a_planted_wrong_row():
    cols, rows = ["k", "v"], [(1, 0.5), (2, 1.25)]
    assert checks.check_rows(cols, rows, ["v", "k"], [(1.25, 2), (0.5, 1)]) == []
    assert checks.check_rows(cols, [(1, 0.5), (2, 1.26)], cols, rows)
    assert checks.check_rows(cols, rows + [(3, 0.0)], cols, rows)
    assert checks.check_rows(["k", "w"], rows, cols, rows)


def _results(cycle: int, violations: int = 21):
    from live_data_spark.plans.testing import TestResult

    out = [TestResult(f"t{i}", "m", True, 0) for i in range(checks.N_TESTS - 1)]
    quirk = cycle >= 2
    out.append(TestResult("unique_customer_id", "source:bike_shop.orders", not quirk, violations if quirk else 0))
    return out


def test_check_refresh_catches_planted_wrong_rows():
    prev = {"customers": 1000, "orders": 1000, "order_products": 1500}
    counts = {"customers": 2000, "orders": 2000, "order_products": 3000}
    fct = {"n_rows": 3000, "n_orphan_products": 0, "n_orphan_orders": 0}
    assert checks.check_refresh(prev, counts, fct, _results(2), cycle=2) == []
    # one planted extra fact row, one orphan, one extra raw row
    assert checks.check_refresh(prev, counts, {**fct, "n_rows": 3001}, _results(2), cycle=2)
    assert checks.check_refresh(prev, counts, {**fct, "n_orphan_orders": 1}, _results(2), cycle=2)
    assert checks.check_refresh(prev, {**counts, "customers": 2001}, fct, _results(2), cycle=2)
    # the §8.1 quirk must fail from cycle 2 on, with the truncated count
    assert checks.check_refresh(prev, counts, fct, _results(1), cycle=2)
    assert checks.check_refresh(prev, counts, fct, _results(2, violations=3), cycle=2)
    seed = {"customers": 1000, "orders": 1000, "order_products": 1500, "products": 97}
    zero = dict.fromkeys(seed, 0)
    assert checks.check_refresh(zero, seed, {**fct, "n_rows": 1500}, None, cycle=1) == []
    assert checks.check_refresh(zero, {**seed, "products": 98}, {**fct, "n_rows": 1500}, None, cycle=1)


def test_check_stream_windows_catches_a_planted_wrong_window():
    cols = ["window_start", "event_type", "n_events", "total_value", "approx_users"]
    batch = [
        ("2024-01-01 00:00:00", "click", 3, 1.5, 2),
        ("2024-01-01 01:00:00", "click", 1, 0.5, 1),
        ("2024-01-01 05:00:00", "view", 2, 2.0, 2),  # still open at the watermark
    ]
    wm = "2024-01-01T02:30:00.000Z"
    assert checks.check_stream_windows(cols, batch[:2], cols, batch, wm) == []
    wrong = [batch[0], ("2024-01-01 01:00:00", "click", 2, 0.5, 1)]
    assert checks.check_stream_windows(cols, wrong, cols, batch, wm)
    assert checks.check_stream_windows(cols, batch[:1], cols, batch, wm)  # a closed window missing
    assert checks.check_stream_windows(cols, batch[:2] + batch[:1], cols, batch, wm)  # emitted twice


def test_check_stream_dedup_catches_planted_duplicates_and_losses():
    assert checks.check_stream_dedup([3, 1, 2], [1, 2, 3]) == []
    assert checks.check_stream_dedup([1, 2, 3, 3], [1, 2, 3])
    assert checks.check_stream_dedup([1, 2], [1, 2, 3])
