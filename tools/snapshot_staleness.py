"""Standing snapshot-staleness guard (VERDICT r4 item 3).

The driver's CORRECTNESS_r{N}.json snapshot covers only the first ~50
``queries()`` entries, so registry entries can silently go rounds
without any driver verification (rounds 3 and 4 each found a 20-40
entry backlog by hand). This tool automates that audit: it reads every
CORRECTNESS_r*.json at the repo root plus the live registry ordering
and reports, for each registry entry,

- ``last_round``: the most recent round whose snapshot contains it
  (None = never driver-checked), and
- ``scheduled``: whether the entry sits inside the first
  ``SNAPSHOT_CAP`` positions of the CURRENT ``queries()`` ordering,
  i.e. whether the NEXT driver snapshot will cover it.

The invariant enforced by tests/test_snapshot_staleness.py: any entry
whose staleness (latest_round - last_round, or "never") is >= 2 rounds
MUST be scheduled for the next snapshot. ``queries()`` derives its order
from the same snapshots (never-checked, then stalest first —
plans/queries.py ``_snapshot_ordered``), so the invariant holds by
construction until stale entries outnumber the snapshot slots.
"""

from __future__ import annotations

import glob
import json
import os
import re
from dataclasses import dataclass

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SNAPSHOT_CAP = 50  # observed driver cap, stable across r01-r04
MAX_STALENESS = 2  # rounds an entry may go unchecked before it must rotate in


@dataclass
class Entry:
    name: str
    position: int  # 0-based position in the current queries() ordering
    last_round: int | None
    scheduled: bool
    stale: bool


def _snapshot_rounds() -> dict[int, set[str]]:
    out: dict[int, set[str]] = {}
    for path in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        with open(path) as f:
            out[int(m.group(1))] = set(json.load(f))
    return out


def audit(ordering: list[str] | None = None) -> tuple[int, list[Entry]]:
    """Return (latest_round, entries). ``ordering`` defaults to the live
    registry ordering (imports the package; pass explicitly in tests
    that already hold it)."""
    import sys

    if REPO not in sys.path:
        sys.path.insert(0, REPO)
    from webcollector_spark.plans.queries import Q, _snapshot_ordered

    if ordering is None:
        ordering = list(_snapshot_ordered(Q))
    rounds = _snapshot_rounds()
    latest = max(rounds) if rounds else 0
    entries = []
    for pos, name in enumerate(ordering):
        last = max((r for r, keys in rounds.items() if name in keys), default=None)
        # never driver-checked counts as stale
        staleness = MAX_STALENESS if last is None else latest - last
        scheduled = pos < SNAPSHOT_CAP
        entries.append(
            Entry(name, pos, last, scheduled, staleness >= MAX_STALENESS)
        )
    return latest, entries


def main() -> int:
    latest, entries = audit()
    never = [e for e in entries if e.last_round is None]
    stale = [e for e in entries if e.stale]
    violations = [e for e in stale if not e.scheduled]
    print(f"latest driver round: r{latest:02d}")
    print(f"registry entries:    {len(entries)}")
    print(f"never driver-checked: {len(never)}")
    print(f"stale (>= {MAX_STALENESS} rounds unchecked): {len(stale)}")
    print(f"stale AND not scheduled in next top-{SNAPSHOT_CAP}: {len(violations)}")
    for e in violations:
        print(f"  VIOLATION {e.name} (pos {e.position}, last r{e.last_round})")
    return 1 if violations else 0


if __name__ == "__main__":
    raise SystemExit(main())
