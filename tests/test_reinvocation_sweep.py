"""Catalog-wide re-invocation sweep: call N does call 1's work.

The default-deny form of tests/test_reinvocation.py: EVERY catalog
entry and every non-catalog helper runs twice at sf0.001 in the shared
session, each call (plan build AND action) under its own job group, and
the executed stages and input records read from Spark's status store
must match. A new operator that memoizes a frame, a fitted model or a
persisted subtree across calls fails here without anyone having to
remember to add it to the default-lane list.
"""

from __future__ import annotations

import pytest

# catalog-wide sweep: slow lane (`-m slow`); excluded from the default
# verify lane by pytest.ini.
pytestmark = pytest.mark.slow

from conftest import NON_CATALOG_HELPERS, run_in_job_group
from live_data_spark.catalog import catalog, resolve_runnable


@pytest.mark.parametrize(
    "name", sorted(catalog()) + [fn for fn, _ in NON_CATALOG_HELPERS]
)
def test_entry_reinvocation_does_identical_work(spark, sf_dir, name):
    spec = resolve_runnable(name)
    calls = [
        run_in_job_group(spark, lambda: spec.spark(spark, sf_dir).collect())
        for _ in range(2)
    ]
    assert calls[1] == calls[0], (
        f"{name}: (stages, input records) {calls[0]} on call 1 vs {calls[1]} on call 2"
    )
