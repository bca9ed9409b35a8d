#!/usr/bin/env python
"""Mechanically derive the driver-prefix composition for the round
notes (VERDICT r4 item 7: the r4 notes hand-wrote "50 never-checked"
when the actual sample was 46+4 — numbers in notes must be derivable
from committed files, not prose memory).

Reads the registry ordering (`ordered_queries`), the committed
CORRECTNESS_r*.json rows, and the registry's own rewritten-since-
sampled carve-out, then prints a markdown block: prefix size, how many
slots are first-time (no hash row in any committed round), and every
re-entry with the round(s) it previously sampled in. Paste (or pipe)
into ROUND{N}_NOTES.md:

    python tools/gen_prefix_report.py [--prefix 50]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
from pathlib import Path


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--prefix", type=int, default=50)
    args = ap.parse_args()

    root = Path(__file__).resolve().parents[1]
    sys.path.insert(0, str(root))
    from sql_database_engine_spark import operators
    operators.load_all()

    # Raw per-round history (no carve-outs): name -> [rounds sampled],
    # plus which of those rows were rows-only ("no_oracle") — an
    # upgraded query's old rows-only row is a different carve-out
    # than a code rewrite and the reason line must say which.
    history: dict[str, list[str]] = {}
    rows_only_history: dict[str, list[str]] = {}
    for p in sorted(root.glob("CORRECTNESS_r*.json")):
        rnd = p.stem.replace("CORRECTNESS_", "")
        try:
            rows = json.loads(p.read_text())
        except (OSError, ValueError):
            continue
        if isinstance(rows, dict):
            for name, row in rows.items():
                history.setdefault(name, []).append(rnd)
                if isinstance(row, dict) and row.get("err") == "no_oracle":
                    rows_only_history.setdefault(name, []).append(rnd)

    ordered = list(operators.ordered_queries())
    prefix = ordered[:args.prefix]
    first_time = [n for n in prefix if n not in history]
    reentries = [n for n in prefix if n in history]
    # Reasons: an unchecked name re-entering lost its driver row to a
    # carve-out (fingerprint drift, the manual rewritten-since-sampled
    # set, or an oracle upgrade); a checked one is a staleness-rotation
    # slot re-verifying an old green row once the never-sampled
    # backlog no longer fills the window.
    seen_now = operators._driver_checked()
    rounds_now = operators._sampled_rounds()
    print(f"Prefix composition (mechanical, `tools/gen_prefix_report.py`):")
    print(f"- prefix size audited: {args.prefix}")
    print(f"- first-time slots (no row in any committed CORRECTNESS file): "
          f"{len(first_time)}")
    print(f"- re-entries: {len(reentries)}")
    for n in reentries:
        if n not in seen_now:
            if rows_only_history.get(n) == history[n]:
                why = ("oracle-upgrade carve-out: every prior row was "
                       "rows-only, first hash check pending")
            else:
                why = "rewritten-since-sampled carve-out"
        else:
            why = (f"staleness-rotation slot (last sampled "
                   f"r{rounds_now.get(n, 0):02d}, oldest-first re-verify)")
        print(f"  - `{n}` (previously sampled {', '.join(history[n])}; {why})")
    rows_only = [n for n in prefix if n not in operators.ORACLES]
    print(f"- rows-only queries in prefix: {len(rows_only)}"
          + (f" ({', '.join(rows_only)})" if rows_only else ""))
    never_total = sum(1 for n in operators.QUERIES if n not in history)
    print(f"- registry {len(operators.QUERIES)} queries; "
          f"{never_total} still have no driver row before this round")
    # Rotation health (VERDICT r9 item 5): with the drain complete,
    # verification FRESHNESS is the scarce resource — one line a judge
    # can read without recomputing. `slots consumed by growth` =
    # first-time slots (new registrations take tier-1 precedence and
    # eat rotation slots one-for-one).
    sampled = [rounds_now.get(n, 0) for n in operators.QUERIES
               if n in history]
    if sampled:
        sampled.sort()
        newest = max(int(r) for r in
                     (p.stem.replace("CORRECTNESS_r", "")
                      for p in root.glob("CORRECTNESS_r*.json"))
                     if r.isdigit())
        med = sampled[len(sampled) // 2]
        period = (len(operators.QUERIES)
                  / max(1, args.prefix - len(first_time)))
        print(f"- rotation health: oldest last-sampled round "
              f"r{sampled[0]:02d}, median last-sampled r{med:02d} "
              f"(staleness {newest - med} rounds vs newest committed "
              f"r{newest:02d}); {len(first_time)} slots consumed by "
              f"growth; full re-verify period ~{period:.1f} rounds")


if __name__ == "__main__":
    main()
