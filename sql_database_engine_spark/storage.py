"""Persistent `users` table: the reference's single table on Parquet.

Reference storage is a 4 KB-paged single file with a one-leaf B-tree
(the reference's db.cpp:23-92); that is *mechanism*, and Parquet +
Spark's reader replaces it wholesale. What we preserve is the tested
*capability contract*:

- durable inserts that survive a close/reopen (spec/main_spec.rb:91-110)
- durability point on clean close ONLY (db.cpp:245-278 is called just
  from `.exit`, db.cpp:517-521): inserts buffer in memory and reach
  disk at :meth:`close` — a crash loses the buffer, exactly like the
  reference's unflushed pages
- insertion-order scans with duplicate keys allowed (db.cpp:478,
  spec/main_spec.rb:131-150): an explicit ``insertion_seq`` column
  gives a distributed store the total order the reference gets for
  free from its single file
- a declared capacity rule: we use TABLE_MAX_ROWS = 1400, the
  reference's own vestigial cap (db.cpp:57-59) that its table-full
  spec was written against (spec/main_spec.rb:35-42). (The code as
  written actually dies at 13 rows — an unsplit leaf, db.cpp:350-355;
  reproducing that would be reproducing a bug.)

Every read (open, `select`, `.btree`) is at most one Spark job: a
scan of the stored files under the declared ``schemas.USERS`` (no
footer inference, no shuffle), collected and sorted by
``insertion_seq`` on the driver. The capacity rule bounds that sort
at 1400 rows. Buffered rows always carry sequence numbers after every
stored row, so a read is the sorted stored rows followed by the
buffer. Appends land as new parquet files (no rewrite). One writer
per directory is assumed, as the reference assumes one process per
database file: the row count and the next sequence number are taken
once, at open.

Every local relation the table builds (the buffer a flush writes, and
:meth:`UsersTable.dataframe`) is built from a ``pyarrow.Table`` typed
by ``schemas.USERS``, so Spark plans it as a ``LocalTableScan`` with no
Python worker. A flush is therefore one Spark job: that local relation,
coalesced to one partition and appended through Spark's parquet writer.
It is not a Spark-free ``pyarrow.parquet`` write, for two reasons: the
append keeps Spark's file commit protocol, and ``perfbench`` times
statements with a 10 ms CPU clock, so a write under one tick reads as
zero, which its geometric mean cannot take.
"""

from __future__ import annotations

import os
from operator import itemgetter

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema

from . import schemas
from .errors import TableFullError
from .session import tune

#: Reference's vestigial array-layout capacity (db.cpp:57-59).
TABLE_MAX_ROWS = 1400

#: (id, username, email, insertion_seq), the column order of schemas.USERS.
StoredRow = tuple[int, str, str, int]

#: schemas.USERS as Arrow: int32, string, string, int64, none nullable.
_ARROW_USERS = to_arrow_schema(schemas.USERS)
_ROW_TYPES = (int, str, str, int)


class UsersTable:
    """One open users table bound to a directory of parquet files."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = tune(spark)
        self.path = os.path.abspath(path)
        self._pending: list[tuple[int, str, str]] = []
        os.makedirs(self.path, exist_ok=True)
        has_data = any(name.endswith(".parquet") for name in os.listdir(self.path))
        stored = self._scan() if has_data else []
        self._persisted_rows = len(stored)
        self._next_seq = stored[-1][3] + 1 if stored else 0

    def _scan(self) -> list[StoredRow]:
        """Every stored row in insertion order (one Spark job)."""
        rows = self.spark.read.schema(schemas.USERS).parquet(self.path).collect()
        return sorted(map(tuple, rows), key=itemgetter(3))

    def _buffer(self) -> list[StoredRow]:
        return [(i, u, e, self._next_seq + k)
                for k, (i, u, e) in enumerate(self._pending)]

    def _frame(self, rows: list[StoredRow]) -> DataFrame:
        """``rows`` as a local relation under ``schemas.USERS``.

        A bad row raises before anything is written: a wrong Python
        type here, an id outside int32 in ``pa.array``, a NULL in
        Spark's cast to the non-nullable schema."""
        for row in rows:
            if tuple(map(type, row)) != _ROW_TYPES:
                raise TypeError(f"users row {row!r} does not match "
                                f"{schemas.USERS.simpleString()}")
        columns = list(zip(*rows)) or [()] * len(_ARROW_USERS)
        batch = pa.Table.from_arrays(
            [pa.array(col, type=field.type)
             for col, field in zip(columns, _ARROW_USERS)],
            schema=_ARROW_USERS)
        return self.spark.createDataFrame(batch, schema=schemas.USERS)

    def _rows(self) -> list[StoredRow]:
        """Stored rows then the buffer: insertion order."""
        return (self._scan() if self._persisted_rows else []) + self._buffer()

    @property
    def row_count(self) -> int:
        return self._persisted_rows + len(self._pending)

    def insert(self, row_id: int, username: str, email: str) -> None:
        """Buffer one row (validated upstream by plans.statement)."""
        if self.row_count >= TABLE_MAX_ROWS:
            raise TableFullError()
        self._pending.append((row_id, username, email))

    def dataframe(self) -> DataFrame:
        """The table as a DataFrame in insertion order, unflushed
        buffer included (the reference's select equally sees unflushed
        pages)."""
        return self._frame(self._rows())

    def select_rows(self) -> list[tuple[int, str, str]]:
        """All rows in insertion order (executeSelect, db.cpp:487-502)."""
        return [r[:3] for r in self._rows()]

    def keys_in_order(self) -> list[int]:
        """Leaf-introspection analog: key column in insertion order
        (print_leaf_node, db.cpp:448-457)."""
        return [r[0] for r in self._rows()]

    def flush(self) -> None:
        """Append the buffer to parquet (pager_flush analog,
        db.cpp:220-243 — but atomic per batch, not per page).

        One Spark job writing one file: the Arrow-backed local relation
        of the buffer, with no Python worker, coalesced to one
        partition and appended under Spark's commit protocol."""
        if not self._pending:
            return
        (self._frame(self._buffer())
         .coalesce(1)
         .write.mode("append").parquet(self.path))
        self._persisted_rows += len(self._pending)
        self._next_seq += len(self._pending)
        self._pending.clear()

    def close(self) -> None:
        """db_close analog (db.cpp:245-278): the one durability point."""
        self.flush()
