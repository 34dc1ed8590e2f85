"""Registry verification discipline, codified (round-8).

The r5-r8 drain taught a rule worth enforcing mechanically: a query may
be registered only if it either already HAS a driver CORRECTNESS row
(from some past round) or is scheduled in the upcoming driver window
(PRIORITY_QUERIES' first WINDOW slots). Without this, registry growth
can silently outrun verification — the exact debt that took three
rounds (58 → 18 → 0 unverified) to drain.

These tests read the driver-written CORRECTNESS_r*.json artifacts from
the repo root; they are inputs to the discipline, not test fixtures.
"""

from __future__ import annotations

import glob
import json
import os

import pytest

from cooler_mapreduce_spark import registry
from cooler_mapreduce_spark.registry import PRIORITY_QUERIES, load_all

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: the driver checks this many queries per round (observed r1-r7).
WINDOW = 50


def _driver_checked() -> set[str]:
    names: set[str] = set()
    for f in glob.glob(os.path.join(_REPO, "CORRECTNESS_r*.json")):
        try:
            names |= set(json.load(open(f)))
        except (OSError, ValueError):
            continue
    return names


def test_every_registered_query_is_verified_or_windowed():
    specs = load_all()
    checked = _driver_checked()
    window = set(PRIORITY_QUERIES[:WINDOW])
    unscheduled = [n for n in specs if n not in checked and n not in window]
    assert not unscheduled, (
        f"{len(unscheduled)} registered queries have no driver CORRECTNESS "
        f"row and no slot in the upcoming {WINDOW}-query window: "
        f"{sorted(unscheduled)[:10]}... — either add them to "
        f"PRIORITY_QUERIES (displacing re-anchors, never first-timers) or "
        f"defer their registration; unverified registry growth is the debt "
        f"the r5-r8 drain existed to pay off"
    )


def test_priority_queries_fit_the_driver_window():
    """Entries beyond the window get no row this round — listing them
    there is self-deception about coverage."""
    assert len(PRIORITY_QUERIES) <= WINDOW, (
        f"PRIORITY_QUERIES has {len(PRIORITY_QUERIES)} entries but the "
        f"driver checks only {WINDOW} per round; trim to what will run"
    )
    assert len(set(PRIORITY_QUERIES)) == len(PRIORITY_QUERIES), "duplicates"


def test_window_names_are_registered():
    specs = load_all()
    missing = [n for n in PRIORITY_QUERIES if n not in specs]
    assert not missing, f"PRIORITY_QUERIES lists unregistered names: {missing}"


def test_load_all_leads_with_the_priority_window():
    """The driver checks the first WINDOW names in ``load_all`` order."""
    assert list(load_all())[:WINDOW] == list(PRIORITY_QUERIES)


def test_load_all_fails_loudly_on_a_missing_query_module(monkeypatch):
    missing = "cooler_mapreduce_spark.operators.no_such_module"
    monkeypatch.setattr(registry, "_QUERY_MODULES", (*registry._QUERY_MODULES, missing))
    with pytest.raises(ModuleNotFoundError, match="no_such_module"):
        load_all()
