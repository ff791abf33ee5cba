"""Invariants of the derived registry order for the 50-slot driver window.

The grading driver checks only the FIRST 50 entries of
``__spark_entry__.queries()`` each round. The order is derived from the
``CORRECTNESS_r*.json`` artifacts (``user_sessions`` first, then
never-checked queries, then least recently checked), so these tests
pin what that order must guarantee rather than how it is kept:

1. the order is a permutation of the merged registry;
2. nothing ships unchecked: every query no artifact has checked sits
   inside the window;
3. the incident-prone events.ts lineage (``user_sessions``) is in the
   window every round;
4. bounded staleness: every query outside the window was checked in
   one of the last three artifacts;
5. capacity: a 50-slot window with one pinned slot sustains the
   three-artifact bound for at most 4×50 − 3 queries.
"""

from __future__ import annotations

import glob
import json
import os
import re

import __spark_entry__ as entry_mod

WINDOW = 50
_HERE = os.path.dirname(os.path.abspath(entry_mod.__file__))


def _registry():
    return entry_mod.queries()


def _artifacts():
    """(round_number, {checked query names}) sorted ascending.

    Backfilled artifacts (self-attested, driver-equivalent harness —
    e.g. CORRECTNESS_r11.json) carry a ``_provenance`` key. Surface it:
    consumers of the driver-owned namespace must keep self-attested
    rounds visibly distinct from driver-attested ones."""
    out = []
    for f in glob.glob(os.path.join(_HERE, "CORRECTNESS_r*.json")):
        m = re.search(r"_r(\d+)\.json$", f)
        if m:
            with open(f) as fh:
                data = json.load(fh)
            prov = data.get("_provenance")
            if prov is not None:
                print(
                    f"NOTE: {os.path.basename(f)} is backfilled/"
                    f"self-attested, not driver-written: {str(prov)[:200]}"
                )
            names = {k for k in data if not k.startswith("_")}
            out.append((int(m.group(1)), names))
    return sorted(out)


def test_queries_is_permutation_of_registry():
    merged = {}
    for mod in entry_mod._MODULES:
        merged.update(mod.QUERIES)
    reg = _registry()
    assert sorted(reg) == sorted(merged)
    assert all(reg[n] is merged[n] for n in reg)


def test_never_checked_queries_are_in_window():
    reg = list(_registry())
    window = set(reg[:WINDOW])
    checked = set()
    for _, names in _artifacts():
        checked |= names
    never = [n for n in reg if n not in checked]
    outside = [n for n in never if n not in window]
    assert not outside, (
        f"never driver-checked and outside the first {WINDOW}: {outside}"
    )


def test_user_sessions_is_in_window():
    assert "user_sessions" in list(_registry())[:WINDOW]


def test_no_query_stale_beyond_three_artifacts():
    arts = _artifacts()
    if len(arts) < 3:
        return
    reg = list(_registry())
    window = set(reg[:WINDOW])
    recent = arts[-1][1] | arts[-2][1] | arts[-3][1]
    stale = [n for n in reg if n not in window and n not in recent]
    assert not stale, (
        f"outside the window and unchecked in the last three artifacts: {stale}"
    )


def test_registry_within_window_capacity():
    """The three-artifact bound sustains 4×WINDOW − 3 queries (the
    pinned query takes one slot per round); growing past that silently
    breaks the staleness bound, so make the ceiling executable."""
    assert len(_registry()) <= 4 * WINDOW - 3
