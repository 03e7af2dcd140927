"""Registry invariants: the external driver verifies only the first
_DRIVER_WINDOW queries() keys (the first rows of REGISTRY), and every
SURVEY §2 / LLM-pipeline operator family (the `family` field of a row)
must stay driver-FRESH: at least one representative either sits in
the current window (verified this round) or was driver-green within
the last 2 completed rounds (CORRECTNESS_r*.json ledger). The window
ROTATES each round (COVERAGE.md is the cumulative ledger;
tools/plan_window.py computes the rotation), and the forced set
(never-green + 2-rounds stale) can fill all 50 slots — so the
invariant is ledger freshness, not per-window coverage. Pinning exact
keys, or even per-window family coverage, would make a correct forced
rotation a failure."""

from __future__ import annotations

from collections import Counter

import __spark_entry__ as entry_mod

from tools.plan_window import WINDOW_FAMILIES, load_ledger


def test_every_family_is_driver_fresh():
    """Each family has a rep in the current window (verified next
    driver run) OR driver-green within the last 2 completed rounds.
    This is the rotation-safe form of per-window family coverage."""
    keys, last_green, cur = load_ledger()
    window = set(keys[: entry_mod._DRIVER_WINDOW])
    stale_floor = cur - 1  # green in round cur or cur-1 counts as fresh
    families: dict[str, list[str]] = {}
    for q in entry_mod.REGISTRY:
        if q.family is not None:
            families.setdefault(q.family, []).append(q.name)
    missing = [
        fam for fam, reps in families.items()
        if not any(
            k in window or last_green.get(k, -10) >= stale_floor
            for k in reps
        )
    ]
    assert not missing, f"families with no fresh driver rep: {missing}"
    # ... and the planner must plan over exactly these families of
    # registered keys
    assert WINDOW_FAMILIES == families
    assert {k for reps in families.values() for k in reps} <= set(keys)


def test_oracle_keys_are_queries():
    qs = set(entry_mod.queries())
    extra = set(entry_mod.oracle_sql()) - qs
    assert not extra, f"oracle_sql keys without queries entry: {extra}"


def test_no_duplicate_names_in_table():
    # queries() and oracle_sql() are dicts built from the table: a
    # repeated name would silently drop its first row
    dup = [n for n, c in Counter(q.name for q in entry_mod.REGISTRY).items()
           if c > 1]
    assert not dup, f"names registered twice: {dup}"
