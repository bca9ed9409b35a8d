"""Reference-parity REPL: byte-identical surface over the Spark engine.

Mirrors /root/reference/db.cpp:538-601: the ``db > `` prompt, the
two-statement grammar, the meta-commands, and every tested output
line (spec/main_spec.rb). Run with:

    python -m sql_database_engine_spark.repl /path/to/users.db

Deviations (documented, all in untested reference behavior):
- non-integer id → syntax error instead of an uncaught-exception
  crash (plans/statement.py).
- id outside the `id` column's INT range → syntax error instead of the
  reference's uncaught std::out_of_range from stoi (plans/statement.py).
- EOF on stdin closes the table and exits cleanly; the reference
  spins on a failed getline.
- `.constants` reports THIS engine's metadata under "Constants:" —
  the reference's six values are 4 KB-page layout facts
  (db.cpp:459-467) that have no truthful analog over Parquet.
"""

from __future__ import annotations

import sys

from pyspark.sql import SparkSession

from .errors import (EXECUTED, PROMPT, TABLE_FULL, PrepareError,
                     TableFullError, unrecognized_command)
from .plans.statement import Statement, StatementType, prepare
from .schemas import COLUMN_EMAIL_SIZE, COLUMN_USERNAME_SIZE
from .session import get_spark
from .storage import TABLE_MAX_ROWS, UsersTable

#: Our `.constants` analog: schema metadata instead of page layout.
#: ROW_SIZE matches the reference's 293 because the logical row is the
#: same (4-byte id + 33-byte username + 256-byte email, db.cpp:48-54).
CONSTANTS = (
    ("ROW_SIZE", 4 + (COLUMN_USERNAME_SIZE + 1) + (COLUMN_EMAIL_SIZE + 1)),
    ("COLUMN_USERNAME_SIZE", COLUMN_USERNAME_SIZE),
    ("COLUMN_EMAIL_SIZE", COLUMN_EMAIL_SIZE),
    ("TABLE_MAX_ROWS", TABLE_MAX_ROWS),
    ("STORAGE_FORMAT", "parquet"),
)


class Repl:
    """One REPL session over one open users table."""

    def __init__(self, spark: SparkSession, db_path: str,
                 out=sys.stdout):
        self.table = UsersTable(spark, db_path)
        self.out = out
        self.running = True

    def _emit(self, line: str) -> None:
        print(line, file=self.out)

    # --- meta-commands (metaCommand, db.cpp:515-536) ---

    def _meta(self, command: str) -> None:
        if command == ".exit":
            self.table.close()
            self.running = False
        elif command == ".constants":
            self._emit("Constants:")
            for name, value in CONSTANTS:
                self._emit(f"{name}: {value}")
        elif command == ".btree":
            self._emit("Tree:")
            keys = self.table.keys_in_order()
            self._emit(f"leaf (size {len(keys)})")
            for i, key in enumerate(keys):
                self._emit(f"  - {i} : {key}")
        else:
            self._emit(unrecognized_command(command))

    # --- statements (executeStatement, db.cpp:504-513) ---

    def _execute(self, stmt: Statement) -> None:
        if stmt.type is StatementType.INSERT:
            try:
                self.table.insert(stmt.id, stmt.username, stmt.email)
            except TableFullError:
                self._emit(TABLE_FULL)
                return
            self._emit(EXECUTED)
        else:
            for row_id, username, email in self.table.select_rows():
                self._emit(f"({row_id}, {username}, {email})")
            self._emit(EXECUTED)

    def handle_line(self, line: str) -> None:
        if line[:1] == ".":
            self._meta(line)
            return
        try:
            stmt = prepare(line)
        except PrepareError as err:
            self._emit(err.message)
            return
        self._execute(stmt)

    def run(self, lines) -> None:
        """Drive the REPL from an iterable of input lines."""
        for line in lines:
            if not self.running:
                break
            print(PROMPT, end="", file=self.out)
            self.handle_line(line.rstrip("\n"))
        if self.running:
            # EOF: close cleanly (documented deviation).
            print(PROMPT, end="", file=self.out)
            self.table.close()
            self.running = False
        self.out.flush()


def main(argv: list[str] | None = None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    if not argv:
        print("Must supply a database filename.")  # db.cpp:540-543
        return 1
    spark = get_spark("users-repl", cpus=4)
    Repl(spark, argv[0]).run(sys.stdin)
    return 0


if __name__ == "__main__":
    sys.exit(main())
