from __future__ import annotations

import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# tools/sweep.py holds the one Spark-vs-DuckDB comparator the tests share.
sys.path.insert(0, os.path.join(ROOT, "tools"))

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from sql_database_engine_spark.session import get_spark
    s = get_spark("engine-tests", cpus=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    """DuckDB connection with the same views the driver pre-registers."""
    import duckdb

    from sql_database_engine_spark.catalog import register_duck_views
    con = duckdb.connect()
    register_duck_views(con, SF_ORACLE)
    yield con
    con.close()


@pytest.fixture(scope="session")
def registry_plans(spark):
    """Every registered query's executed plan over ``SF_SMOKE`` by
    name, and the ``(query, error)`` pairs that could not be planned:
    one planning pass that every registry-wide plan audit reads."""
    import scan_audit
    return scan_audit.registry_plans(spark, SF_SMOKE)


def jobs_started(spark, group: str, call):
    """Run ``call`` under job group ``group``; its result and the
    number of Spark jobs it started."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        result = call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # Job records reach the status store through the listener bus.
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return result, len(sc.statusTracker().getJobIdsForGroup(group))
