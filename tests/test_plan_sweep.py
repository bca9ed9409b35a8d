"""Whole-registry physical-plan sweep.

Every registered batch query's physical plan (planning only — nothing
executes) is audited against the two anti-patterns that are never
acceptable at 100 TB:

- ``CartesianProduct`` — an unkeyed all-pairs join. Deliberate 1-row
  scalar broadcasts plan as BroadcastNestedLoopJoin, which is allowed.
- ``BatchEvalPython`` — row-at-a-time Python UDF serde. The sanctioned
  Python tiers are Arrow-batched (``ArrowEvalPython``,
  ``FlatMapGroupsInPandas``, ``MapInPandas``), which are allowed; the
  one deliberate row-Python demo is the UDTF (whitelisted, its codegen
  twin is the production path).

Streaming drains and layout-staging queries skip those two checks:
building their "plan" executes work (availableNow drains / ensure-*
writes), and their shapes are pinned by their own dedicated tests.

The plans come from the session's one registry planning pass (the
``registry_plans`` fixture), which ``test_scan_audit`` reads too for
the same-table scan count. A query that cannot be planned is not
audited at all, so it fails the sweep.
"""

from __future__ import annotations

#: Queries whose invocation executes work instead of just planning.
_EXECUTES_ON_BUILD = {
    "clustered_range_scan",      # stages the Hilbert layout
    "join_bucketed_colocated",   # stages the bucketed layout
    "binaryfile_wav_ingest",     # stages the media dir (cheap, but IO)
}

#: Deliberate row-Python: the UDTF tier demo (codegen twin exists).
_ROW_PYTHON_OK = {"udtf_doc_chunks"}


def test_registry_plans_free_of_scale_antipatterns(registry_plans):
    """Both anti-pattern audits over the one registry planning pass."""
    plans, skipped = registry_plans
    cartesian, row_python = [], []
    for name, plan in plans.items():
        if name.startswith("stream_") or name in _EXECUTES_ON_BUILD:
            continue
        if "CartesianProduct" in plan:
            cartesian.append(name)
        if name not in _ROW_PYTHON_OK:
            # BatchEvalPythonExec is the row-serde operator; the Arrow
            # tiers plan as ArrowEvalPython / MapInPandas /
            # FlatMapGroupsInPandas and are allowed.
            for line in plan.splitlines():
                if "BatchEvalPython" in line and "UDTF" not in line:
                    row_python.append(name)
                    break
    assert not cartesian, f"unkeyed all-pairs joins in: {cartesian}"
    assert not row_python, f"row-at-a-time Python in: {row_python}"
    assert skipped == []
