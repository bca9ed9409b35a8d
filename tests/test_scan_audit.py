"""The registry-wide scan-count audit (``tools/scan_audit.py``) as a
test: no query's plan scans one parquet table more than the audit's
threshold, outside its documented allowlist. A plan that references a
derived relation twice re-derives it, and re-scans its tables, once
per reference; rows stay right, so only the plan shows it.

It reads the session's one registry planning pass (the
``registry_plans`` fixture, shared with ``test_plan_sweep``) and
covers every query, streaming and layout-staging ones included."""

from __future__ import annotations

import scan_audit

from .conftest import SF_SMOKE


def test_no_query_rescans_a_table_above_threshold(registry_plans):
    plans, skipped = registry_plans
    offenders = [o for name, plan in plans.items()
                 for o in scan_audit.over_threshold(name, plan, SF_SMOKE)]
    assert offenders == []
    # a query that cannot be planned is not audited at all
    assert skipped == []
