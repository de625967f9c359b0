"""Output checks. Each returns a list of problems; an empty list passes.

They are pure functions of what an operation returned and what it should
have returned, so test_perfbench.py can plant a wrong row in each.
"""

from __future__ import annotations

import datetime as dt
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]

BATCH_CUSTOMERS = 1000  # reference batch size (mock_data.py:40, :56)
BATCH_ORDERS = 1000
PRODUCTS = 97
N_TESTS = 22
# the reference's per-batch `unique` test on orders.customer_id: returning
# customers order again from the first refresh (cycle 2) on (SURVEY §8.1)
QUIRK_TEST = "unique_customer_id[source:bike_shop.orders]"


def canon_rows(rows, columns):
    """The repository's canonical row form (tests/conftest.py), shared with
    the oracle-parity tests."""
    if str(REPO / "tests") not in sys.path:
        sys.path.append(str(REPO / "tests"))
    from conftest import canon_rows as canon

    return canon(rows, columns)


def check_rows(cols, rows, want_cols, want_rows) -> list[str]:
    if sorted(cols) != sorted(want_cols):
        return [f"columns {sorted(cols)} != oracle {sorted(want_cols)}"]
    if len(rows) != len(want_rows):
        return [f"{len(rows)} rows, oracle has {len(want_rows)}"]
    got, want = canon_rows(rows, cols), canon_rows(want_rows, want_cols)
    bad = [i for i, (a, b) in enumerate(zip(got, want)) if a != b]
    return [f"{len(bad)} rows differ from the oracle, first {got[bad[0]]} != {want[bad[0]]}"] if bad else []


def expected_refresh_failures(cycle: int) -> set[str]:
    return {QUIRK_TEST} if cycle >= 2 else set()


def check_refresh(prev: dict, counts: dict, fct_metrics, results, cycle: int) -> list[str]:
    """One DAG run plus build (and, from cycle 2, the data tests)."""
    from live_data_spark.plans.testing import MAX_FAILURE_SAMPLE

    out = []
    for table, batch in (("customers", BATCH_CUSTOMERS), ("orders", BATCH_ORDERS)):
        if counts.get(table, 0) - prev.get(table, 0) != batch:
            out.append(f"raw {table} grew by {counts.get(table, 0) - prev.get(table, 0)}, not {batch}")
    if cycle == 1 and counts.get("products") != PRODUCTS:
        out.append(f"raw products holds {counts.get('products')}, not {PRODUCTS}")
    lines = counts.get("order_products", 0) - prev.get("order_products", 0)
    if not BATCH_ORDERS <= lines <= 3 * BATCH_ORDERS:
        out.append(f"raw order_products grew by {lines}: each order has 1-3 lines")
    fct = fct_metrics or {}
    if fct.get("n_rows") != counts.get("order_products"):
        out.append(f"fct_order_products n_rows {fct.get('n_rows')} != raw order_products {counts.get('order_products')}")
    for k in ("n_orphan_products", "n_orphan_orders"):
        if fct.get(k) != 0:
            out.append(f"fct_order_products {k} = {fct.get(k)}")
    if results is not None:
        if len(results) != N_TESTS:
            out.append(f"{len(results)} data tests ran, not {N_TESTS}")
        failing = {f"{r.test_name}[{r.model}]": r.n_violations for r in results if not r.passed}
        want = expected_refresh_failures(cycle)
        if set(failing) != want:
            out.append(f"failing tests {sorted(failing)} != expected {sorted(want)}")
        if QUIRK_TEST in want and failing.get(QUIRK_TEST) != MAX_FAILURE_SAMPLE + 1:
            out.append(f"{QUIRK_TEST} reported {failing.get(QUIRK_TEST)} violations, not {MAX_FAILURE_SAMPLE + 1}")
    return out


def _window_end(start: str) -> dt.datetime:
    return dt.datetime.strptime(start, "%Y-%m-%d %H:%M:%S") + dt.timedelta(hours=1)


def check_stream_windows(cols, rows, want_cols, want_rows, watermark: str | None) -> list[str]:
    """Every window the stream emitted equals the batch computation over the
    same rows, and every batch window the watermark has closed was emitted."""
    if watermark is None:
        return ["no watermark was reported"]
    wm = dt.datetime.fromisoformat(watermark.replace("Z", "")).replace(tzinfo=None)
    i = want_cols.index("window_start")
    closed = [r for r in want_rows if _window_end(r[i]) <= wm]
    keys = [(r[cols.index("window_start")], r[cols.index("event_type")]) for r in rows]
    out = []
    if len(keys) != len(set(keys)):
        out.append(f"{len(keys) - len(set(keys))} windows emitted twice")
    if not closed:
        out.append("no closed window to compare")
    return out + check_rows(cols, rows, want_cols, closed)


def check_stream_dedup(ids, want_ids) -> list[str]:
    out = []
    if len(ids) != len(set(ids)):
        out.append(f"{len(ids) - len(set(ids))} duplicate event ids emitted")
    if sorted(set(ids)) != sorted(want_ids):
        out.append(f"{len(set(ids))} distinct ids emitted, {len(want_ids)} consumed")
    return out
