#!/usr/bin/env python
"""Result-cardinality vacuity audit over certification-sweep artifacts.

The differential gate compares Spark against DuckDB, but a query whose
result is EMPTY at the test SF hash-matches vacuously in the direction
that matters most: an operator that silently DROPS rows still produces
empty-vs-empty green. (Spurious extra rows are still caught.) This is
the round-4 vacuous-CDC-branch lesson applied to result cardinality —
and it found a real instance: `join_anti` ("customers with no orders")
is empty at sf0.001/sf0.01, so its driver-green r1 row never verified
the anti join's retention direction. Rewritten in round 5.

Usage:
    python tools/vacuity_audit.py SWEEPS/r5_final_gate_sf001.jsonl [...]

Reads one or more tools/sweep.py per-query artifact files (jsonl), takes
the LAST row count seen per query, and exits nonzero if any query
outside the allowlist returned zero rows. One-row results are listed
informationally — scalar contracts and global statistics are one row
by design, but a query that is SUPPOSED to enumerate entities and
returns one row deserves a look.
"""

from __future__ import annotations

import json
import sys

#: Queries whose empty result at small SFs is the documented point —
#: currently none. If a data-quality query is ever registered whose
#: contract is "this relation is empty on clean data", it belongs
#: here with a justification (better: emit a census row instead, the
#: way dq_* queries already do).
ALLOWED_EMPTY: set[str] = set()


def main() -> None:
    paths = sys.argv[1:]
    if not paths:
        sys.exit("usage: vacuity_audit.py <sweep.jsonl> [...]")
    rows: dict[str, int] = {}
    for p in paths:
        with open(p) as fh:
            for line in fh:
                try:
                    d = json.loads(line)
                except ValueError:
                    continue
                if "query" in d and "spark_rows" in d:
                    rows[d["query"]] = d["spark_rows"]
    empty = sorted(q for q, n in rows.items()
                   if n == 0 and q not in ALLOWED_EMPTY)
    single = sorted(q for q, n in rows.items() if n == 1)
    print(f"{len(rows)} queries audited from {len(paths)} artifact file(s)")
    print(f"one-row results ({len(single)}, informational): "
          + ", ".join(single))
    if empty:
        print(f"EMPTY results ({len(empty)}) — hash checks are vacuous "
              f"for dropped rows: " + ", ".join(empty))
        sys.exit(1)
    print("0 empty-result queries outside the allowlist")


if __name__ == "__main__":
    main()
