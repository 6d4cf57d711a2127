"""Driver-window insurance (VERDICT r02 #7).

The driver's correctness gate records the FIRST 50 ``queries()`` entries, so
the registration order in ``plans/__init__.py`` is load-bearing: a refactor
that silently reorders registration would swap which operators earn driver
evidence. These tests pin the contract without running Spark:

1. DRIVER_WINDOW is exactly 50 distinct registered names and the registry's
   iteration order starts with precisely those names.
2. The never-driver-checked set shrinks monotonically: every registered
   query that has no row in any ``CORRECTNESS_r*.json`` yet must sit inside
   the current window (so it earns a row next round), and no query that was
   ever driver-checked may lose its family's only representative — checked
   via the union of historical rows plus the current window covering the
   whole registry.
"""

from __future__ import annotations

import glob
import json
import os

import pytest

from the_movie_database_import_spark.plans import (
    DRIVER_WINDOW,
    REGISTRY,
    TAIL_PRIORITY,
    _ordered_names,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _is_green(row: dict) -> bool:
    """A driver row only counts as evidence when it PASSED: oracle rows must
    match on rows/schema/hash; `no_oracle` rows (hash-function-specific ops)
    are the expected weaker rows-only check. A failed row must NOT license
    rotating its query out of the window."""
    if row.get("err") == "no_oracle":
        return True
    return (
        row.get("err") is None
        and row.get("rows_match") is not False
        and row.get("schema_match") is not False
        and row.get("hash_match") is not False
    )


def _historical_rows() -> set[str]:
    checked: set[str] = set()
    for path in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        with open(path) as f:
            checked.update(k for k, v in json.load(f).items() if _is_green(v))
    return checked


def test_window_is_exactly_50_registered_names():
    assert len(DRIVER_WINDOW) == 50, len(DRIVER_WINDOW)
    assert len(set(DRIVER_WINDOW)) == 50, "duplicate names in DRIVER_WINDOW"
    unregistered = [n for n in DRIVER_WINDOW if n not in REGISTRY]
    assert not unregistered, f"window names not registered: {unregistered}"


def test_registry_order_starts_with_window():
    head = list(REGISTRY)[: len(DRIVER_WINDOW)]
    assert head == DRIVER_WINDOW, (
        "registry iteration order no longer starts with DRIVER_WINDOW — "
        "a refactor reordered registration"
    )


def test_unregistered_list_names_raise():
    """A stale name in either curated list fails the import-time reorder
    instead of silently vanishing from the order (TAIL_PRIORITY used to drop
    them); the current lists place every name exactly as registered."""
    assert _ordered_names(DRIVER_WINDOW, TAIL_PRIORITY) == list(REGISTRY)
    with pytest.raises(RuntimeError, match="DRIVER_WINDOW.*q_not_registered"):
        _ordered_names([*DRIVER_WINDOW, "q_not_registered"], TAIL_PRIORITY)
    with pytest.raises(RuntimeError, match="TAIL_PRIORITY.*q_not_registered"):
        _ordered_names(DRIVER_WINDOW, [*TAIL_PRIORITY, "q_not_registered"])


def test_never_checked_set_shrinks_monotonically():
    checked = _historical_rows()
    if not checked:  # fresh clone without driver artifacts: nothing to pin
        return
    never = set(REGISTRY) - checked
    out_of_window = sorted(never - set(DRIVER_WINDOW))
    assert not out_of_window, (
        "queries with no driver row in any CORRECTNESS_r*.json must be "
        f"in-window to earn one next round: {out_of_window}"
    )


def test_every_registered_query_has_driver_evidence_or_window_slot():
    checked = _historical_rows()
    uncovered = sorted(set(REGISTRY) - checked - set(DRIVER_WINDOW))
    assert not uncovered, (
        f"queries with neither a historical driver row nor a current window "
        f"slot: {uncovered}"
    )
