"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query at sf0.001 (smoke).
``queries()`` exposes every implemented operator from SURVEY.md §2 as
``(spark, sf_dir) -> DataFrame`` callables; ``oracle_sql()`` gives the
DuckDB-dialect SQL twin for every one of them (same column names,
bit-identical values — see
``sql_database_engine_spark/functions/exact.py`` for how float
aggregates are made order-independent and engine-reproducible).
There are no rows-only queries: ``operators.query`` requires an
oracle. The streaming twins (availableNow drains of the incremental
engine) are the ``streaming`` family, oracle-checked like the rest.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from sql_database_engine_spark import operators
from sql_database_engine_spark.operators import QUERIES, ORACLES


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    operators.load_all()
    return QUERIES["flagship_revenue_by_region"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2.

    Ordered family-interleaved (see ``operators.ordered_queries``) so a
    driver sampling any prefix exercises every operator family.
    """
    operators.load_all()
    return operators.ordered_queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB twin SQL for every registered query."""
    operators.load_all()
    return dict(ORACLES)
