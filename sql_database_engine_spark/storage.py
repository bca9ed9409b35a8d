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
"""

from __future__ import annotations

import os
from operator import itemgetter

from pyspark.sql import DataFrame, SparkSession

from . import schemas
from .errors import TableFullError
from .session import tune

#: Reference's vestigial array-layout capacity (db.cpp:57-59).
TABLE_MAX_ROWS = 1400

#: (id, username, email, insertion_seq), the column order of schemas.USERS.
StoredRow = tuple[int, str, str, int]


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
        return self.spark.createDataFrame(self._rows(), schema=schemas.USERS)

    def select_rows(self) -> list[tuple[int, str, str]]:
        """All rows in insertion order (executeSelect, db.cpp:487-502)."""
        return [r[:3] for r in self._rows()]

    def keys_in_order(self) -> list[int]:
        """Leaf-introspection analog: key column in insertion order
        (print_leaf_node, db.cpp:448-457)."""
        return [r[0] for r in self._rows()]

    def flush(self) -> None:
        """Append the buffer to parquet (pager_flush analog,
        db.cpp:220-243 — but atomic per batch, not per page)."""
        if not self._pending:
            return
        (self.spark.createDataFrame(self._buffer(), schema=schemas.USERS)
         .coalesce(1)
         .write.mode("append").parquet(self.path))
        self._persisted_rows += len(self._pending)
        self._next_seq += len(self._pending)
        self._pending.clear()

    def close(self) -> None:
        """db_close analog (db.cpp:245-278): the one durability point."""
        self.flush()
