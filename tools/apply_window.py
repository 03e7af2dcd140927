#!/usr/bin/env python
"""Apply the rotation tools/plan_window.py computed: reorder the rows
of ``REGISTRY`` in __spark_entry__.py so the first ``_DRIVER_WINDOW``
rows are exactly the planned window (in order), followed by the
spilled forced keys (they head the NEXT round's window), then every
other row in its current order.

Usage:
  python tools/apply_window.py            # dry run: print the plan
  python tools/apply_window.py --write    # rewrite __spark_entry__.py

The rewrite only moves whole rows inside the one ``REGISTRY = (``
... ``)`` block; each row's text is kept byte for byte, and the tool
verifies that the reimported module exposes the same key -> (builder,
oracle SQL, family) table before declaring success.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from plan_window import compute_window, load_ledger  # noqa: E402

_BLOCK = re.compile(r"^REGISTRY: tuple\[Query, \.\.\.\] = \(\n(.*?)^\)\n", re.S | re.M)
_MARKER = "    # ---- end of the driver window (first _DRIVER_WINDOW rows) ----\n"


def split_rows(body: str) -> dict[str, str]:
    """Row text by key, in table order. A row starts at a line
    ``    Query("<key>", ...`` and runs to the next row; comment lines
    between rows are dropped (the window marker is rewritten)."""
    rows: dict[str, str] = {}
    key = None
    for line in body.splitlines(keepends=True):
        m = re.match(r'    Query\("([a-z0-9_]+)"', line)
        if m:
            key = m.group(1)
            rows[key] = line
        elif line.startswith("    #"):
            continue
        else:
            rows[key] += line
    return rows


def main() -> None:
    write = "--write" in sys.argv
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "__spark_entry__.py",
    )
    src = open(path).read()
    m = _BLOCK.search(src)
    if not m:
        raise SystemExit(f"cannot locate the REGISTRY table in {path}")
    rows = split_rows(m.group(1))

    keys_all, last_green, cur = load_ledger()
    window, spill, _never = compute_window(keys_all, last_green, cur + 1)
    missing = [k for k in window if k not in rows]
    if missing:
        raise SystemExit(f"planned keys missing from registry: {missing}")
    rest = [k for k in rows if k not in window and k not in spill]

    print(f"# window ({len(window)}), spill ({len(spill)}), "
          f"rest ({len(rest)})")
    for k in window:
        tag = f"r{last_green[k]}" if k in last_green else "never"
        print(f"  {k}  [{tag}]")
    if not write:
        print("# dry run — pass --write to rewrite __spark_entry__.py")
        return

    import __spark_entry__ as entry

    before = {q.name: (q.builder.__name__, q.sql, q.family) for q in entry.REGISTRY}
    body = "".join(rows[k] for k in window) + _MARKER
    body += "".join(rows[k] for k in spill + rest)
    open(path, "w").write(src[: m.start(1)] + body + src[m.end(1):])

    # verify: same key -> row table, window applied
    import importlib

    importlib.reload(entry)
    after = {q.name: (q.builder.__name__, q.sql, q.family) for q in entry.REGISTRY}
    assert list(after)[: len(window)] == window, "window order not applied"
    assert after == before, "registry rows changed"
    print(f"rewrote {path}: {len(after)} keys, window applied")


if __name__ == "__main__":
    main()
