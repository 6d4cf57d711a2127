"""Driver-window rule (VERDICT r02 #7, r14 #6).

The driver's correctness gate records the FIRST 50 ``queries()`` entries.
``__spark_entry__.driver_order`` computes that order from the
``CORRECTNESS_r*.json`` evidence: never-checked queries first, then
``RECHECK``, then oldest green evidence, ties by name. These tests pin the
rule on synthetic evidence and its invariants on the real evidence, without
running Spark.
"""

from __future__ import annotations

import json

import pytest

from __spark_entry__ import (
    RECHECK,
    driver_order,
    is_green,
    last_green,
    oracle_sql,
    queries,
)
from the_movie_database_import_spark.plans import REGISTRY

WINDOW = 50
GREEN = {"rows_match": True, "schema_match": True, "hash_match": True, "err": None}


def _evidence(tmp_path, rounds: dict[int, dict[str, dict]]):
    for n, rows in rounds.items():
        (tmp_path / f"CORRECTNESS_r{n:02d}.json").write_text(json.dumps(rows))
    return tmp_path


def test_order_never_checked_then_recheck_then_oldest(tmp_path):
    ev = _evidence(
        tmp_path,
        {
            1: {"q_old_b": GREEN, "q_old_a": GREEN, "q_touched": GREEN},
            2: {"q_new": GREEN, "q_old_a": GREEN},
            3: {"q_touched": GREEN, "q_mid": GREEN},
        },
    )
    names = ["q_new", "q_mid", "q_old_b", "q_touched", "q_old_a", "q_z_never", "q_a_never"]
    expected = [
        "q_a_never", "q_z_never",  # never checked, by name
        "q_touched",  # RECHECK, despite its r03 evidence
        "q_old_b",  # newest green r01
        "q_new", "q_old_a",  # newest green r02, by name
        "q_mid",  # newest green r03
    ]
    assert driver_order(names, ev, recheck=("q_touched",)) == expected
    assert driver_order(reversed(names), ev, recheck=("q_touched",)) == expected


def test_failed_rows_are_not_evidence(tmp_path):
    ev = _evidence(
        tmp_path,
        {
            1: {"q_err": GREEN, "q_hash": GREEN, "q_rows_only": GREEN},
            2: {
                "q_err": {**GREEN, "err": "Py4JJavaError"},
                "q_hash": {**GREEN, "hash_match": False},
                "q_rows_only": {"rows_match": None, "hash_match": None, "err": "no_oracle"},
            },
        },
    )
    assert not is_green({**GREEN, "err": "Py4JJavaError"})
    assert not is_green({**GREEN, "hash_match": False})
    assert is_green({"rows_match": None, "err": "no_oracle"})
    assert last_green(ev) == {"q_err": 1, "q_hash": 1, "q_rows_only": 2}
    assert driver_order(["q_rows_only", "q_hash", "q_err"], ev, recheck=()) == [
        "q_err", "q_hash", "q_rows_only",
    ]


def test_unregistered_names_ignored_or_raise(tmp_path):
    ev = _evidence(tmp_path, {1: {"q_gone": GREEN, "q_b": GREEN}})
    assert driver_order(["q_b", "q_a"], ev, recheck=()) == ["q_a", "q_b"]
    with pytest.raises(RuntimeError, match="RECHECK.*q_not_registered"):
        driver_order(["q_b", "q_a"], ev, recheck=("q_b", "q_not_registered"))


def test_empty_evidence_dir_sorts_by_name(tmp_path):
    assert last_green(tmp_path) == {}
    assert driver_order(["q_c", "q_a", "q_b"], tmp_path, recheck=()) == [
        "q_a", "q_b", "q_c",
    ]


def test_queries_is_the_registry_reordered():
    qs = queries()
    assert set(qs) == set(REGISTRY)
    assert all(fn is REGISTRY[n].spark_fn for n, fn in qs.items())
    assert oracle_sql() == {n: s.oracle for n, s in REGISTRY.items() if s.oracle}


def test_never_checked_set_shrinks_monotonically():
    """Every registered query with no green row in any CORRECTNESS_r*.json
    sits inside the window, so it earns one next round."""
    never = set(REGISTRY) - set(last_green())
    out_of_window = sorted(never - set(list(queries())[:WINDOW]))
    assert not out_of_window, out_of_window


def test_every_registered_query_has_driver_evidence_or_window_slot():
    """A RECHECK query's green rows predate its change, so only a window
    slot covers it."""
    current = set(last_green()) - set(RECHECK)
    uncovered = sorted(set(REGISTRY) - current - set(list(queries())[:WINDOW]))
    assert not uncovered, uncovered


def test_window_holds_the_oldest_evidence():
    """No query outside the window has older green evidence than a
    non-RECHECK query inside it."""
    newest, names = last_green(), list(queries())
    inside = [newest[n] for n in names[:WINDOW] if n in newest and n not in RECHECK]
    outside = [newest[n] for n in names[WINDOW:]]
    if inside and outside:
        assert max(inside) <= min(outside), (max(inside), min(outside))
