#!/usr/bin/env python
"""Compute the NEXT round's driver-window rotation from the
cumulative ledger: forced slots = never-driver-green keys + keys
whose last green would be >= 3 rounds behind the NEXT round (i.e.
already 2+ rounds stale today); any free slots are filled with the
STALEST remaining greens first, so freshness debt never accumulates
silently.

Usage: python tools/plan_window.py [next_round_number]
Prints the proposed 50-key window in order plus the spill list if
the forced set overflows. Purely advisory — tools/apply_window.py
applies it by reordering the rows of __spark_entry__.REGISTRY.

`load_ledger()` is importable (tests/test_registry.py uses it to
assert the family-freshness invariant across rotations).
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry  # noqa: E402

WINDOW = entry._DRIVER_WINDOW

# Operator family -> the registry keys that can represent it (the
# `family` field of each REGISTRY row). The rotation must keep every
# family driver-FRESH: >= 1 rep in the next window OR driver-green
# within the last 2 completed rounds (tests/test_registry.py).
WINDOW_FAMILIES: dict[str, list[str]] = {}
for _q in entry.REGISTRY:
    if _q.family:
        WINDOW_FAMILIES.setdefault(_q.family, []).append(_q.name)


def load_ledger() -> tuple[list[str], dict[str, int], int]:
    """Return (registry keys, key -> last driver-green round, latest
    round number seen in CORRECTNESS_r*.json)."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    keys = list(entry.queries().keys())
    last_green: dict[str, int] = {}
    rounds = []
    for path in sorted(glob.glob(os.path.join(repo, "CORRECTNESS_r*.json"))):
        rnum = int(re.search(r"_r(\d+)", path).group(1))
        rounds.append(rnum)
        try:
            rec = json.load(open(path))
        except Exception:
            continue
        items = rec.items() if isinstance(rec, dict) else []
        for name, row in items:
            if not isinstance(row, dict):
                continue
            ok = (
                row.get("rows_match")
                and row.get("schema_match") is not False
                and row.get("hash_match") is not False
                and not row.get("err")
            )
            if name in keys and ok:
                last_green[name] = max(last_green.get(name, 0), rnum)
    cur = max(rounds) if rounds else 0
    return keys, last_green, cur


def compute_window(
    keys: list[str], last_green: dict[str, int], nxt: int
) -> tuple[list[str], list[str], list[str]]:
    """(window, spill, never) for round ``nxt`` — THE rotation policy,
    shared by the advisory printer below and tools/apply_window.py so
    plan and rewrite can never disagree (code review r12)."""
    never = [k for k in keys if k not in last_green]
    stale = sorted(
        (k for k in keys if k in last_green and nxt - last_green[k] >= 3),
        key=lambda k: last_green[k],
    )
    forced = never + stale
    # free slots: stalest greens first (ascending last_green), so the
    # next-due cohort starts rotating back in early.
    fresh = sorted(
        (k for k in keys if k in last_green and nxt - last_green[k] < 3),
        key=lambda k: (last_green[k], k),
    )
    window = forced[:WINDOW]
    spill = forced[WINDOW:]
    window = window + fresh[: WINDOW - len(window)]
    if spill:
        window, spill = _repair_families(window, spill, never, last_green, nxt)
    return window, spill, never


def _repair_families(
    window: list[str],
    spill: list[str],
    never: list[str],
    last_green: dict[str, int],
    nxt: int,
) -> tuple[list[str], list[str]]:
    """If the forced overflow spilled the ONLY fresh rep of a family
    past its freshness horizon, swap it back into the window in place
    of a tail key whose families stay covered. After round ``nxt``
    lands the freshness test sees cur=nxt and stale_floor=nxt-1, so a
    family is fresh iff a rep is in-window or green at >= nxt-1."""
    fam_of: dict[str, list[str]] = {}
    for fam, reps in WINDOW_FAMILIES.items():
        for k in reps:
            fam_of.setdefault(k, []).append(fam)

    def fresh_after(fam: str, win: set[str]) -> bool:
        return any(
            k in win or last_green.get(k, -(10**9)) >= nxt - 1
            for k in WINDOW_FAMILIES[fam]
        )

    win_set = set(window)
    for fam in WINDOW_FAMILIES:
        if fresh_after(fam, win_set):
            continue
        rep = next((k for k in spill if fam in fam_of.get(k, [])), None)
        if rep is None:
            continue  # family has no forced key at all; nothing to do
        # victim: scan the window tail for a non-never key whose own
        # families survive its removal (given rep joins the window).
        for i in range(len(window) - 1, -1, -1):
            v = window[i]
            if v in never:
                continue
            trial = (win_set - {v}) | {rep}
            if all(fresh_after(f, trial) for f in fam_of.get(v, [])):
                j = spill.index(rep)
                window[i], spill[j] = rep, v
                win_set = trial
                break
    return window, spill


def main() -> None:
    keys, last_green, cur = load_ledger()
    nxt = int(sys.argv[1]) if len(sys.argv) > 1 else cur + 1
    window, spill, never = compute_window(keys, last_green, nxt)
    stale = [
        k for k in keys if k in last_green and nxt - last_green[k] >= 3
    ]

    print(f"# proposed r{nxt} window ({len(window)} slots; "
          f"{len(never)} never-green, {len(stale)} stale-forced)")
    for k in window:
        tag = "never" if k in never else f"last r{last_green[k]}"
        print(f"  {k}  [{tag}]")
    if spill:
        print(f"# OVERFLOW — {len(spill)} forced keys spill to r{nxt + 1}:")
        for k in spill:
            print(f"  {k}")


if __name__ == "__main__":
    main()
