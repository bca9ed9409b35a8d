"""Result hashes for the output check: Spark rows and DuckDB oracle rows
reduced to the same canonical form (columns sorted by name, every
value rendered exactly, rows sorted) and hashed."""

from __future__ import annotations

import hashlib
import math


def _canon(v) -> str:
    if v is None:
        return "<NULL>"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    return str(v)


def digest(columns, rows) -> str:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = sorted(tuple(_canon(r[i]) for i in order) for r in rows)
    return hashlib.sha256(repr(canon).encode()).hexdigest()


def spark_digest(df) -> str:
    return digest(df.columns, df.collect())


class DuckOracle:
    """DuckDB over the same parquet inputs, with the engine's oracle
    views registered."""

    def __init__(self, sf_dir: str, threads: int) -> None:
        import duckdb

        from sql_database_engine_spark.tables import register_duck_views

        self.con = duckdb.connect()
        self.con.execute(f"SET threads={threads}")
        register_duck_views(self.con, sf_dir)

    def digest(self, sql: str) -> str:
        res = self.con.sql(sql)
        return digest(res.columns, res.fetchall())

    def close(self) -> None:
        self.con.close()
