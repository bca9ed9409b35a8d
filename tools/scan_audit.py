#!/usr/bin/env python
"""Registry-wide same-table scan-count audit.

Counts how many times each physical plan scans the SAME parquet table
(a plan that re-references an expensive derived relation re-derives
it once per reference — results stay identical, small-scale timings
barely move, and at 100 TB the repeated fact join is catastrophic).
Round 4's run found the BFS plan scanning lineitem 188 times; the fix
is a lazy localCheckpoint on the reused relation.

Usage: python tools/scan_audit.py [--threshold 3]

``tests/test_scan_audit.py`` runs :func:`over_threshold` on the plans
of the test session's one :func:`registry_plans` pass (shared with
``tests/test_plan_sweep.py``), so a scan regression fails the test
suite.

Exit 0 when nothing exceeds the threshold outside the documented
allowlist (multi-stage index builds whose scans are distinct
algorithmic passes — see PERF.md "Round-4 scan-count audit").
"""

from __future__ import annotations

import argparse
import os
import re
import sys
from collections import Counter

#: (query, table) pairs allowed above the default threshold: each
#: scan is a distinct algorithmic pass (index-build stages, composed
#: eval pipelines), not lineage re-derivation. Justifications in
#: PERF.md.
ALLOWED = {
    # ann_ivf_topk / ann_pq_topk left this list in r5: their integer-
    # lane conversion added lazy localCheckpoints at the build/probe
    # boundary, so the probe plan no longer re-derives the build.
    ("ann_lsh_topk", "embeddings"),
    ("ann_lsh_multiprobe_topk", "embeddings"),
    ("ann_recall_contract", "embeddings"),
    ("centroid_cosine_matrix", "embeddings"),
    ("minhash_quality_eval", "documents"),
    ("setsim_prefix_join", "documents"),
    ("bm25_keyword_topk", "documents"),
    ("boolean_and_search", "documents"),
    ("hybrid_rrf_retrieval", "documents"),
    ("curation_gate_report", "documents"),
    ("importance_resample_weights", "documents"),
    ("length_dist_match_resample", "documents"),
    ("sample_allocation_largest_remainder", "documents"),
    ("generalize_to_k_anonymity", "documents"),
    ("source_tvd_shift", "documents"),
    ("growth_accounting_weekly", "events"),
    ("theil_sen_trend", "events"),
    ("event_value_mad_outliers", "events"),
    ("mad_outlier_census", "events"),
    ("bitmap_retention_churn", "events"),
}


#: flag same-table scan counts above this
THRESHOLD = 3


def over_threshold(name: str, plan: str, sf: str,
                   threshold: int = THRESHOLD) -> list[tuple[str, str, int]]:
    """The ``(query, table, scans)`` triples of one physical plan
    string that scan a table of ``sf`` more than ``threshold`` times,
    outside :data:`ALLOWED`."""
    tag = re.escape(os.path.basename(sf.rstrip("/")))
    tables = re.findall(rf"{tag}/(\w+)\.parquet", plan)
    return [(name, t, c) for t, c in Counter(tables).items()
            if c > threshold and (name, t) not in ALLOWED]


def registry_plans(spark, sf: str):
    """Plan every registered query over ``sf``. Returns its executed
    physical plan string by query name, and the ``(query, error)``
    pairs that could not be planned."""
    from sql_database_engine_spark import operators as ops

    ops.load_all()
    plans, skipped = {}, []
    for name, fn in ops.QUERIES.items():
        try:
            df = fn(spark, sf)
            plans[name] = df._jdf.queryExecution().executedPlan().toString()
        except Exception as e:  # staging/streaming machinery quirks
            skipped.append((name, str(e)[:60]))
    return plans, skipped


def audit(spark, sf: str, threshold: int = THRESHOLD):
    """Plan every registered query over ``sf``. Returns the
    ``(query, table, scans)`` triples above ``threshold`` outside
    :data:`ALLOWED`, and the ``(query, error)`` pairs that could not
    be planned."""
    plans, skipped = registry_plans(spark, sf)
    offenders = [o for name, plan in plans.items()
                 for o in over_threshold(name, plan, sf, threshold)]
    return offenders, skipped


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--threshold", type=int, default=THRESHOLD,
                    help="flag same-table scan counts above this")
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    args = ap.parse_args()

    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    from sql_database_engine_spark.session import get_spark

    spark = get_spark("scan-audit", cpus=8)
    offenders, skipped = audit(spark, args.sf, args.threshold)
    spark.stop()
    for name, err in skipped:
        print(f"{name}: SKIP ({err})")
    for name, t, c in offenders:
        print(f"{name}: {t} x{c}")
    print(f"\n{len(offenders)} offender(s) above threshold "
          f"{args.threshold} outside the allowlist")
    return 1 if offenders else 0


if __name__ == "__main__":
    raise SystemExit(main())
