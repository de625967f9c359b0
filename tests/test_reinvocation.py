"""Re-invoking an entry must do the work of its first call.

A live pipeline re-runs the same plans every refresh, so call N of an
entry has to cost what call 1 cost: no process-global memo, persisted
frame or trained state may carry over from one call to the next and
turn a later call into a cache hit. Each entry below runs twice in the
shared session, each call (plan build AND action) under its own job
group, and the executed stages and input records read from Spark's
status store must match. The entries are the ones whose operators
once kept cross-call state (the pair-plan cache, the hash-rate counts
memo, the BPE merge and logreg weight memos); ``dedup_exact`` is the
control. tests/test_reinvocation_sweep.py (slow lane) runs the same
invariant over the whole catalog.
"""

from __future__ import annotations

import pytest

from conftest import run_in_job_group
from live_data_spark.catalog import resolve_runnable

ENTRIES = (
    "dedup_simhash",
    "text_sparse_cosine_topk",
    "bpe_train_merges",
    "bpe_encode_stats",
    "embedding_logreg_eval",
    "embedding_logreg_calibration",
    "source_cap_hash_rate",
    "dedup_exact",
)


@pytest.mark.parametrize("name", ENTRIES)
def test_second_call_does_first_calls_work(spark, sf_dir, name):
    spec = resolve_runnable(name)
    calls = [
        run_in_job_group(spark, lambda: spec.spark(spark, sf_dir).collect())
        for _ in range(2)
    ]
    assert calls[0][0] > 0, f"{name}: first call ran no stage"
    assert calls[1] == calls[0], (
        f"{name}: (stages, input records) {calls[0]} on call 1 vs {calls[1]} on call 2"
    )
