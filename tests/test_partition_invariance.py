"""Catalog-wide partition-layout invariance sweep.

Runs EVERY catalog entry twice at sf0.001 — once under the session's
default shuffle partitioning (4, parallel partial aggregates) and once
with one batch shuffle partition (one sequential fold) — and asserts the
canonicalized results are identical. Batch exchanges take their count
from ``spark.sql.adaptive.coalescePartitions.initialPartitionNum`` (AQE
is on), so that is the conf that forces the fold, and the sweep checks
the planner really sees 1. It also sets ``spark.sql.shuffle.partitions``
to 1, which sizes the state of the streaming entries' drains.

Motivation: the oracle-parity suite proves Spark ≡ DuckDB at ONE
partition layout. A result that depends on HOW rows were split across
partitions (IEEE partial-sum association, per-partition state order,
first/any_value grabs, collect_list order feeding an unsorted fold)
can hash-match the oracle at 4 partitions and still produce different
values on a 1000-executor cluster, where layouts are never the same
twice. The repo's determinism discipline (integer quantization before
cross-row sums, ``array_sort`` before folds, explicit tie-breaks on
every rank/limit) exists precisely to make results layout-free; this
sweep is the default-deny guard that a NEW operator can't quietly skip
the discipline — the same posture as tests/test_plan_hygiene.py and
tests/test_empty_input.py.

1-vs-4 is the strongest cheap contrast: a single partition executes
every fold in one sequential pass, so any dependence on partial-merge
association or partition boundaries shows up as a value diff here.
"""

from __future__ import annotations

import pytest

# r13 lane split (VERDICT item 2): catalog-wide strategy/hygiene sweep —
# slow lane (`-m slow`); excluded from the default verify lane by pytest.ini.
pytestmark = pytest.mark.slow

from conftest import canon_rows as _canon
from live_data_spark.catalog import catalog

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.mark.parametrize("name", sorted(catalog()))
def test_catalog_entry_is_partition_layout_invariant(spark, name):
    spec = catalog()[name]

    def run():
        df = spec.spark(spark, SF_SMOKE)
        return _canon([tuple(r) for r in df.collect()], df.columns)

    base = run()
    keys = (
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        "spark.sql.shuffle.partitions",
    )
    old = {k: spark.conf.get(k) for k in keys}
    try:
        for k in keys:
            spark.conf.set(k, "1")
        assert spark._jsparkSession.sessionState().conf().numShufflePartitions() == 1
        solo = run()
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
    assert solo == base, f"{name}: result depends on shuffle partition layout"
