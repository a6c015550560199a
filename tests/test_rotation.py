"""Unit tests for the driver-window rotation ordering in
__spark_entry__._rotated (round-13 VERDICT item 5).

The ordering contract (normative in the _rotated docstring):
  (a) keys without a passing driver row first, in registry order;
  (b) driver greens sorted by (latest green round, registry index) —
      oldest-green-first with a deterministic registry tie-break;
  (c) the ordering is total over the registry — no key dropped.

These tests inject a synthetic green map so they are independent of
the CORRECTNESS_r*.json artifacts on disk.
"""
import importlib.util
import os
import sys

import pytest

_HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _entry_module():
    spec = importlib.util.spec_from_file_location(
        "spark_entry_under_test", os.path.join(_HERE, "__spark_entry__.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture(scope="module")
def entry_mod():
    return _entry_module()


def test_total_over_registry(entry_mod):
    """Every registry key appears exactly once, with any green map."""
    from engine import registry
    registry.load_all()
    keys = list(registry.QUERIES)
    for green in ({}, {keys[0]: 3}, {k: 5 for k in keys}):
        out = entry_mod._rotated(registry.QUERIES, green=green or None) \
            if green else entry_mod._rotated(registry.QUERIES,
                                             green={keys[0]: 99})
        assert sorted(out) == sorted(keys)
        assert len(out) == len(set(out))


def test_waiting_lead_greens_follow(entry_mod):
    """Keys absent from the green map precede every green key."""
    keys = {f"k{i}": None for i in range(10)}
    green = {"k0": 2, "k3": 5, "k7": 1}
    out = entry_mod._rotated(keys, green=green)
    waiting = [k for k in out if k not in green]
    assert out[: len(waiting)] == waiting


def test_greens_oldest_round_first_registry_tiebreak(entry_mod):
    """Greens sort by (round, registry index) — provably oldest-first,
    ties broken by registry declaration order."""
    keys = {k: None for k in ["a", "b", "c", "d", "e"]}
    green = {"a": 9, "b": 3, "c": 3, "d": 7, "e": 3}
    out = entry_mod._rotated(keys, green=green)
    assert out == ["b", "c", "e", "d", "a"]


def test_failed_latest_row_rotates_to_front(entry_mod):
    """A key whose latest driver row failed has no green entry and so
    re-enters the waiting tier at the front."""
    keys = {k: None for k in ["x", "y", "z"]}
    out = entry_mod._rotated(keys, green={"x": 4, "z": 4})
    assert out[0] == "y"
