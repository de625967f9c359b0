"""Shared fixtures: one SparkSession per test run, driver testdata paths."""

from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

SF_SMOKE = "/root/testdata/sf0.001"

def canon_rows(rows, columns):
    """THE order-insensitive canonical row form the driver's value hash
    sees (column-name-sorted tuples, %.10g floats with -0.0 collapsed,
    None sentinel, bools as ints) — one definition shared by every
    result-comparing sweep (oracle parity, partition-layout invariance,
    broadcast-gate-closed) so a float-format or NaN-handling tweak can
    never desynchronize them. scripts/preflight.py carries the same
    logic as a standalone driver replica."""
    import math

    order = sorted(range(len(columns)), key=lambda i: columns[i])

    def canon(v):
        if v is None:
            return "∅"
        if isinstance(v, float):
            if math.isnan(v):
                return "nan"
            return f"{v + 0.0:.10g}"
        if isinstance(v, bool):
            return str(int(v))
        return str(v)

    return sorted(tuple(canon(row[i]) for i in order) for row in rows)


def run_in_job_group(spark, fn):
    """Run ``fn()`` (build AND action) under a fresh job group and return
    (executed stages, input records) of every job it launched, read from
    Spark's status store. Stage attempts the scheduler SKIPPED (shuffle
    output reused) are not counted, and a stage shared by two jobs of
    the group is counted once."""
    import uuid

    sc = spark.sparkContext
    group = f"work-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # the store is fed asynchronously
    store = sc._jsc.sc().statusStore()
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    tracker = sc.statusTracker()
    sids = {s for j in tracker.getJobIdsForGroup(group) for s in tracker.getJobInfo(j).stageIds}
    stages = records = 0
    for sid in sids:
        attempts = store.stageData(sid, False, sc._jvm.java.util.ArrayList(), False, no_quantiles)
        for i in range(attempts.size()):
            sd = attempts.apply(i)
            if sd.status().toString() != "SKIPPED":
                stages += 1
                records += sd.inputRecords()
    return stages, records


# Non-catalog hardening helpers (implemented swap-ins documented in
# SCALE.md): the default-deny sweeps (plan hygiene, empty input) can't
# discover them through the catalog, so they enumerate ONE shared list.
# Since r11 that list lives beside the catalog (append new swap-ins
# THERE) so tools like scripts/scale_replay.py resolve the same names
# via resolve_runnable.
from live_data_spark.catalog import NON_CATALOG_HELPERS  # noqa: E402, F401


@pytest.fixture(scope="session")
def spark():
    from live_data_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    spark = get_spark(app_name="live_data_spark-tests", shuffle_partitions=4)
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE
