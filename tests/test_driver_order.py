"""Driver-budget ordering gate (r4 verdict #1): the driver's correctness
check covers only the first ~50 entries of ``queries()`` in dict-insertion
order. These tests pin the priority reorder so the previously-unchecked
queries sit inside the budget and nothing silently falls off again.
"""

from __future__ import annotations

import pathlib
import sys

REPO = pathlib.Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

import __spark_entry__ as entrymod

DRIVER_BUDGET = 50


def test_priority_queries_inside_driver_budget():
    names = list(entrymod.queries())
    pos = {n: i for i, n in enumerate(names)}
    for n in entrymod._CHECK_FIRST:
        assert pos[n] < DRIVER_BUDGET, f"{n} at position {pos[n]} — outside driver budget"
    # the flagship always inside the budget, whatever the ordering policy
    assert pos["image_near_dup_clusters"] < DRIVER_BUDGET


def test_only_demoted_queries_fall_past_budget():
    names = list(entrymod.queries())
    tail = set(names[DRIVER_BUDGET:])
    assert tail <= set(entrymod._CHECK_LAST), (
        f"non-demoted queries past the driver budget: {tail - set(entrymod._CHECK_LAST)}"
    )


def test_order_lists_reference_real_queries():
    names = set(entrymod.queries())
    assert set(entrymod._CHECK_FIRST) <= names
    assert set(entrymod._CHECK_LAST) <= names
    assert not set(entrymod._CHECK_FIRST) & set(entrymod._CHECK_LAST)
    # every query keeps exactly one entry after the reorder
    assert len(list(entrymod.queries())) == len(names)


def test_never_driver_checked_queries_sit_inside_budget():
    """Data-driven from the CORRECTNESS_r*.json artifacts themselves: any
    query with NO driver row in ANY past round must be inside the first-50
    budget, so it gets its first hard check next round — the self-
    maintaining form of the r4 verdict's rotation rule."""
    import json

    checked: set[str] = set()
    for p in sorted(REPO.glob("CORRECTNESS_r*.json")):
        d = json.loads(p.read_text())
        qs = d.get("queries", d)
        if isinstance(qs, dict):
            checked |= set(qs)
    names = list(entrymod.queries())
    never = [n for n in names if n not in checked]
    pos = {n: i for i, n in enumerate(names)}
    offenders = [n for n in never if pos[n] >= DRIVER_BUDGET]
    assert not offenders, f"never-driver-checked queries outside budget: {offenders}"
