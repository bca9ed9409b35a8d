"""Statement IR + prepare: the engine's tiny front-end for the
reference-parity surface.

The reference's IR is ``Statement{type, Row}`` filled by
``prepareStatement`` (/root/reference/db.cpp:106-110, 428-441); ours
is a frozen dataclass produced by :func:`prepare`. Semantics match
the reference exactly where tested, including its quirks
(SURVEY.md §2C):

- ``insert`` is a PREFIX match on the first 6 chars (db.cpp:430), so
  ``insertXYZ ...`` still enters the insert path; ``select`` is a
  WHOLE-string match (db.cpp:434), so ``select *`` is unrecognized.
- tokenization is whitespace-based; exactly 3 tokens consumed, extras
  silently ignored (db.cpp:400-402); fewer → syntax error.
- the id is parsed stoi-style: a leading integer prefix counts
  (``12abc`` → 12). DOCUMENTED DEVIATION: a token with no integer
  prefix crashes the reference's REPL (uncaught std::invalid_argument,
  db.cpp:409); we return the syntax error instead. The same deviation
  covers ids outside the ``id`` column's INT range, where the
  reference's ``stoi`` throws ``std::out_of_range``.
- the negative check runs after parse (db.cpp:411-414), length checks
  after that (db.cpp:416-419) — error precedence preserved.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from enum import Enum, auto

from ..errors import (NEGATIVE_ID, STRING_TOO_LONG, SYNTAX_ERROR,
                      PrepareError, unrecognized_keyword)
from ..schemas import COLUMN_EMAIL_SIZE, COLUMN_USERNAME_SIZE

_INT_PREFIX = re.compile(r"^[+-]?\d+")
#: Range of the ``id`` column (IntegerType in schemas.USERS) and of stoi.
_INT_MIN, _INT_MAX = -2**31, 2**31 - 1


class StatementType(Enum):
    INSERT = auto()
    SELECT = auto()


@dataclass(frozen=True)
class Statement:
    type: StatementType
    id: int | None = None
    username: str | None = None
    email: str | None = None


def prepare(line: str) -> Statement:
    """Parse one REPL line into a Statement or raise PrepareError."""
    if line[:6] == "insert":
        return _prepare_insert(line)
    if line == "select":
        return Statement(StatementType.SELECT)
    raise PrepareError(unrecognized_keyword(line))


def _prepare_insert(line: str) -> Statement:
    tokens = line[6:].split()
    if len(tokens) < 3:
        raise PrepareError(SYNTAX_ERROR)
    id_string, username, email = tokens[0], tokens[1], tokens[2]
    m = _INT_PREFIX.match(id_string)
    if not m:
        raise PrepareError(SYNTAX_ERROR)  # deviation: reference crashes here
    row_id = int(m.group())
    if not _INT_MIN <= row_id <= _INT_MAX:
        raise PrepareError(SYNTAX_ERROR)  # deviation: reference crashes here
    if row_id < 0:
        raise PrepareError(NEGATIVE_ID)
    if len(username) > COLUMN_USERNAME_SIZE or len(email) > COLUMN_EMAIL_SIZE:
        raise PrepareError(STRING_TOO_LONG)
    return Statement(StatementType.INSERT, row_id, username, email)
