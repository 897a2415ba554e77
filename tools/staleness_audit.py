#!/usr/bin/env python
"""Full-history correctness-staleness audit (VERDICT r12 item 1's
standing instruction, automated): every round's window rotation must
be computed against ALL CORRECTNESS_r*.json files, not the previous
round's note — the r10 session discovered 39 entries silently
standing on r02 rows because the r02 greens never got a named tier.

Reads every CORRECTNESS file in the repo root through the registry's
own evidence functions (``corpus.latest_green`` / ``corpus.is_green``,
the ones ``queries()`` orders the window by, so the audit and the
window cannot disagree) and prints:

  1. the staleness histogram (entries per latest-green round);
  2. the oldest tranches, entry by entry, in window order;
  3. never-checked entries (must lead the window);
  4. entries whose latest row was RED or errored (must be
     investigated, not rotated);
  5. the first 50 names queries() currently emits, annotated with
     their evidence age (the ``corpus.CHANGED`` front tier is fresh
     yet first by design).

No Spark session is started — the registry import is metadata-only.

Run: python tools/staleness_audit.py [--json]
"""

from __future__ import annotations

import json
import os
import sys
from collections import Counter

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def audit() -> dict:
    """The audit report as a dict (``--json`` prints it as is)."""
    from eco_pulse_lakehouse_spark import corpus

    qs = list(corpus.queries())  # live window order
    registered = set(qs)
    oracle_names = set(corpus.oracle_sql())
    latest_green = {
        n: r
        for n, r in corpus.latest_green(oracle_names, REPO).items()
        if n in registered
    }

    latest_row: dict[str, tuple[int, dict]] = {}
    for rnd, name, row in corpus.correctness_rows(REPO):
        if rnd >= latest_row.get(name, (0, None))[0]:
            latest_row[name] = (rnd, row)
    latest_red: dict[str, tuple[int, str]] = {}
    for name in qs:
        if name not in latest_row:
            continue
        rnd, row = latest_row[name]
        if not corpus.is_green(row, name in oracle_names):
            latest_red[name] = (
                rnd,
                str(row.get("err"))[:80] if row.get("err") else
                "rows/schema/hash mismatch",
            )

    never = [n for n in qs if n not in latest_green and n not in latest_red]
    histo = Counter(latest_green.values())

    # tranches, oldest first, window order within
    tranches: dict[int, list[str]] = {}
    for n in qs:
        if n in latest_green:
            tranches.setdefault(latest_green[n], []).append(n)

    window = qs[:50]
    ages = [latest_green.get(n) for n in window]
    flags = []
    oldest_rounds = sorted(tranches)[:2]
    stale_set = {
        n for r in oldest_rounds for n in tranches[r]
    }
    tail_has_stale = any(n in stale_set for n in qs[50:])
    out = {
        "n_entries": len(qs),
        "never_checked": never,
        "latest_red": latest_red,
        "staleness_histogram": {
            str(k): histo[k] for k in sorted(histo)
        },
        "oldest_tranches": {
            str(r): tranches[r] for r in sorted(tranches)[:3]
        },
        "window_first50_ages": dict(zip(window, ages)),
        "stale_entries_beyond_window": sorted(
            n for n in qs[50:] if n in stale_set
        ),
    }

    if tail_has_stale:
        flags.append(
            "entries from the two oldest tranches sit BEYOND the "
            "50-slot window — they carry to next round; verify the "
            "count is expected"
        )
    if never:
        nf = [n for n in window if n in set(never)]
        if set(never) - set(nf):
            flags.append(
                "never-checked entries ordered outside the window: "
                f"{sorted(set(never) - set(nf))}"
            )
    if latest_red:
        flags.append(
            f"{len(latest_red)} entries' LATEST row is red/errored — "
            "investigate before rotating them out"
        )
    out["flags"] = flags
    return out


def main() -> None:
    out = audit()
    if "--json" in sys.argv:
        print(json.dumps(out, indent=1))
        return
    never, latest_red = out["never_checked"], out["latest_red"]
    print(f"registry entries: {out['n_entries']}")
    print(f"never checked: {len(never)}" + (f" — {never}" if never else ""))
    print("latest row red/errored:", len(latest_red))
    for n, (rnd, why) in sorted(latest_red.items()):
        print(f"  r{rnd:02d} {n}: {why}")
    print("staleness histogram (latest green round -> entries):")
    for rnd, count in out["staleness_histogram"].items():
        print(f"  r{int(rnd):02d}: {count}")
    print("oldest tranches:")
    for rnd, names in out["oldest_tranches"].items():
        print(f"  r{int(rnd):02d} ({len(names)}): {names}")
    print("first-50 window evidence ages (None = never checked):")
    for n, a in out["window_first50_ages"].items():
        print(f"  {('r%02d' % a) if a else '----'} {n}")
    n_beyond = len(out["stale_entries_beyond_window"])
    print(f"oldest-tranche entries beyond the window: {n_beyond}")
    for f in out["flags"]:
        print("FLAG:", f)


if __name__ == "__main__":
    main()
