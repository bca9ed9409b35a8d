"""Spark jobs started while a query is BUILT (before any action).

A lazy ``localCheckpoint(eager=False)`` is not job-free under AQE:
checkpointing asks for the plan's RDD, and the adaptive plan runs
every shuffle and broadcast stage under the checkpoint to get it. So
the iterated graph queries, which checkpoint each round, run most of
their work at construction. These counts are the baseline for one
shared iteration helper; a change that moves work out of the build
lowers them, and this pin must then be lowered with it.
"""

from __future__ import annotations

import pytest

from .conftest import SF_SMOKE, jobs_started


@pytest.mark.parametrize("name, jobs", [
    ("sssp_weighted_brands", 23),
    ("bfs_brand_distances", 22),
    ("mmr_diversified_topk", 1),
    ("embedding_neardup_pairs", 0),
    ("minhash_lsh_neardup", 0),
    ("lsh_banding_tradeoff_sweep", 1),
])
def test_build_job_count(spark, name, jobs):
    from sql_database_engine_spark import operators
    operators.load_all()
    _, started = jobs_started(
        spark, f"build-{name}",
        lambda: operators.QUERIES[name](spark, SF_SMOKE))
    assert started == jobs
