"""Pin the r13 two-lane suite split (VERDICT r12 item 2).

The full suite outgrew the external driver's verify window (31-43 min;
the r12 driver run timed out at ~80% with zero failures, leaving the
round without independent confirmation). pytest.ini's default lane
excludes the catalog-wide strategy/hygiene sweeps; this module
pins the mechanics so the split cannot silently rot:

- pytest.ini carries the `-m "not slow"` addopts and registers the
  marker (an unregistered marker plus `--strict-markers` someday, or a
  deleted addopts line, would silently re-inflate the default lane);
- every sweep module that must be in the slow lane really carries the
  module-level mark;
- no NEW catalog-wide sweep module sneaks into the default lane: any
  test module parametrizing over the whole catalog belongs to one lane
  deliberately.
"""

from __future__ import annotations

import re
from pathlib import Path

TESTS = Path(__file__).resolve().parent
REPO = TESTS.parent

SLOW_MODULES = (
    "test_broadcast_gate_closed.py",
    "test_partition_invariance.py",
    "test_count_smoke.py",
    "test_empty_input.py",
    "test_plan_hygiene.py",
    "test_reinvocation_sweep.py",
)


def test_pytest_ini_defines_the_lanes():
    ini = (REPO / "pytest.ini").read_text()
    assert re.search(r'addopts\s*=.*-m "not slow"', ini)
    assert re.search(r"markers\s*=", ini)
    assert "slow:" in ini


def test_sweep_modules_carry_the_slow_mark():
    for name in SLOW_MODULES:
        src = (TESTS / name).read_text()
        assert re.search(
            r"^pytestmark = pytest\.mark\.slow", src, re.MULTILINE
        ), f"{name} lost its slow mark"


def test_no_unmarked_catalog_wide_sweep():
    """A module that parametrizes tests over the ENTIRE catalog() is a
    sweep; it must either carry the slow mark or be one of the known
    default-lane exceptions (oracle parity — the value-correctness
    replay stays in the verify lane on purpose)."""
    allowed_fast = {"test_oracle_parity.py"}
    for f in TESTS.glob("test_*.py"):
        src = f.read_text()
        sweeps_catalog = re.search(
            r"parametrize\([^)]*catalog\(\)", src, re.DOTALL
        ) or re.search(r'parametrize\(\s*"name",\s*sorted\(catalog\(\)', src)
        if not sweeps_catalog:
            continue
        marked = re.search(r"^pytestmark = pytest\.mark\.slow", src, re.MULTILINE)
        assert marked or f.name in allowed_fast, (
            f"{f.name} parametrizes over the whole catalog but is in the "
            "default lane — mark it slow or allow it here deliberately"
        )
