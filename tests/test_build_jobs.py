"""Spark jobs started while a query is BUILT (before any action).

A lazy ``localCheckpoint(eager=False)`` is not job-free under AQE:
checkpointing asks for the plan's RDD, and the adaptive plan runs
every shuffle and broadcast stage under the checkpoint to get it. A
loop that checkpoints each round therefore runs its rounds at
construction. BFS, SSSP and eccentricity compose their rounds lazily
through ``graph._relax`` and checkpoint only the edge relation, whose
stages are all that is left of their build. A change that moves work
out of the build lowers these counts, and the pin must then be
lowered with it.
"""

from __future__ import annotations

import pytest

from .conftest import SF_SMOKE, jobs_started


@pytest.mark.parametrize("name, jobs", [
    ("sssp_weighted_brands", 7),
    ("bfs_brand_distances", 7),
    ("graph_eccentricity_diameter", 7),
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
