#!/usr/bin/env python
"""Mechanize the driver-window rotation for ``__spark_entry__.queries()``.

The build driver's per-round correctness sweep hashes only the FIRST
``WINDOW`` (50) entries of ``queries()``; everything after rides on a
prior round's hash.  To keep every query's driver-hash evidence fresh,
each round must front-load:

1. queries that have NEVER been hashed (new this round),
2. queries whose most recent hash was RED (``hash_match`` false or
   ``err`` set) — they need re-verification after a fix,
3. then least-recently-hashed first, until the window is full.

``queries()`` applies that order itself at call time
(``__spark_entry__.priority_order`` over ``load_hash_history()``, read
from every ``CORRECTNESS_r*.json`` at the repo root), so a new sweep
needs no hand reordering. This tool either

* prints the window with each query's last-hashed round and verdict
  (default), or
* ``--check`` exits non-zero unless the registry order front-loads the
  top-``WINDOW`` priority set (the invariant ``tests/test_rotation.py``
  pins).

Priority never reorders *within* a tier: ties keep the registry's dict
order.
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

WINDOW = 50
REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

import __spark_entry__ as spark_entry  # noqa: E402
from __spark_entry__ import load_hash_history, priority_order  # noqa: E402,F401


def check_window(
    registry_order: list[str],
    history: dict[str, tuple[int, bool]],
    window: int = WINDOW,
) -> list[str]:
    """Return the list of violations (empty = invariant holds): every
    query in the top-``window`` priority set must sit inside the first
    ``window`` registry positions."""
    want = set(priority_order(registry_order, history)[:window])
    have = set(registry_order[:window])
    missing = sorted(want - have)
    return [
        f"{name}: priority-window query at registry position "
        f"{registry_order.index(name) + 1} (> {window})"
        for name in missing
    ]


def _registry_order() -> list[str]:
    return list(spark_entry.queries().keys())


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--check", action="store_true", help="verify, don't print")
    ap.add_argument("--window", type=int, default=WINDOW)
    args = ap.parse_args()

    order = _registry_order()
    history = load_hash_history()
    if args.check:
        violations = check_window(order, history, args.window)
        for v in violations:
            print(f"VIOLATION {v}")
        print("ROTATION OK" if not violations else f"{len(violations)} violations")
        return 1 if violations else 0

    for name in priority_order(order, history):
        entry = history.get(name)
        if entry is None:
            tag = "never-hashed"
        elif not entry[1]:
            tag = f"RED in r{entry[0]:02d}"
        else:
            tag = f"green r{entry[0]:02d}"
        print(f"{name:28s} {tag}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
