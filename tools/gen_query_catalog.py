#!/usr/bin/env python
"""Regenerate QUERIES.md — the auto-derived registry inventory.

SURVEY.md §2B narrates the operator surface; this file is the
machine-derived ground truth (name, family, oracle status, first
docstring sentence) so the narrative can be audited against the
registry at any commit:  python tools/gen_query_catalog.py
"""

from __future__ import annotations

import os
import sys


def first_sentence(doc: str | None) -> str:
    if not doc:
        return ""
    text = " ".join(doc.strip().split())
    for stop in (". ", " — the", " - the"):
        if stop in text:
            return text.split(stop)[0].rstrip(".") + "."
    return text[:140]


def main() -> None:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from sql_database_engine_spark import operators as ops
    ops.load_all()
    fams: dict[str, list[str]] = {}
    for name, fn in ops.QUERIES.items():
        fams.setdefault(fn.__module__.rsplit(".", 1)[-1], []).append(name)
    n_oracle = sum(1 for n in ops.QUERIES if n in ops.ORACLES)
    lines = [
        "# Query registry (auto-generated — do not edit)",
        "",
        f"Regenerate with `python tools/gen_query_catalog.py`.",
        "",
        f"**{len(ops.QUERIES)} registered queries, {n_oracle} with DuckDB "
        f"oracles, {len(ops.QUERIES) - n_oracle} rows-only.**",
        "",
        "`operators.query` requires an oracle, so there is no rows-only",
        "tier. Capabilities whose raw output is not oracle-checkable",
        "(sketch-value internals, probabilistic index contents,",
        "watermark-buffered stream state) are driver-verified through an",
        "oracle-checked contract twin (e.g. `cms_error_contract`,",
        "`sketch_percentile_drift`, the `_settled` stream joins).",
        "",
    ]
    for fam in sorted(fams):
        names = sorted(fams[fam])
        n_f = sum(1 for n in names if n in ops.ORACLES)
        lines.append(f"## {fam} ({len(names)} queries, {n_f} oracle-checked)")
        lines.append("")
        lines.append("| query | oracle | summary |")
        lines.append("|---|---|---|")
        for n in names:
            mark = "yes" if n in ops.ORACLES else "rows-only"
            lines.append(f"| `{n}` | {mark} | "
                         f"{first_sentence(ops.QUERIES[n].__doc__)} |")
        lines.append("")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = os.path.join(root, "QUERIES.md")
    with open(out, "w") as fh:
        fh.write("\n".join(lines))
    print(f"wrote {out}: {len(ops.QUERIES)} queries")

    # SURVEY §8's narrated totals must match the registry mechanically
    # (VERDICT r6 item 4: the counts drifted by one when a mid-round
    # addition was invisible in the notes). The newest "Registry
    # **...**" line in SURVEY.md must state exactly the live counts.
    import re

    with open(os.path.join(root, "SURVEY.md")) as fh:
        survey = fh.read()
    claims = re.findall(
        r"Registry \*\*(?:\d+ → )?(\d+) queries \((\d+) oracle-checked, "
        r"(\d+) rows-only\)\*\*", survey)
    assert claims, "SURVEY.md §8 has no machine-checkable Registry line"
    got = tuple(int(x) for x in claims[-1])
    want = (len(ops.QUERIES), n_oracle, len(ops.QUERIES) - n_oracle)
    assert got == want, (
        f"SURVEY.md §8 registry counts {got} != live registry {want} — "
        "update the newest 'Registry **N queries (...)**' line")
    print(f"SURVEY §8 registry line verified: {want}")


if __name__ == "__main__":
    main()
