"""REPL-parity golden tests: the reference's 8 RSpec cases ported 1:1
(/root/reference/spec/main_spec.rb), with the two documented swaps
(SURVEY.md §5.2): `.constants` pins OUR engine metadata, and the
table-full case uses our declared TABLE_MAX_ROWS=1400 capacity rule
(which the reference's own 1401-insert spec was written against).

Unlike the RSpec `match_array` (order-insensitive — an upstream
sloppiness), these compare output lines IN ORDER.
"""

from __future__ import annotations

import io

import pytest

from sql_database_engine_spark.repl import Repl


@pytest.fixture()
def run_script(spark, tmp_path):
    db = str(tmp_path / "test.db")

    def run(commands):
        out = io.StringIO()
        Repl(spark, db, out=out).run(commands)
        return out.getvalue().split("\n")

    return run


def test_inserts_and_retrieves_a_row(run_script):
    assert run_script([
        "insert 1 user1 person1@example.com",
        "select",
        ".exit",
    ]) == [
        "db > Executed.",
        "db > (1, user1, person1@example.com)",
        "Executed.",
        "db > ",
    ]


def test_table_full(run_script):
    script = [f"insert {i} user{i} person{i}@example.com"
              for i in range(1, 1402)]
    script.append(".exit")
    result = run_script(script)
    assert result[-2] == "db > Error: Table full"


def test_max_length_strings(run_script):
    long_username = "a" * 32
    long_email = "a" * 255
    assert run_script([
        f"insert 1 {long_username} {long_email}",
        "select",
        ".exit",
    ]) == [
        "db > Executed.",
        f"db > (1, {long_username}, {long_email})",
        "Executed.",
        "db > ",
    ]


def test_too_long_strings_rejected(run_script):
    long_username = "a" * 33
    long_email = "a" * 256
    assert run_script([
        f"insert 1 {long_username} {long_email}",
        "select",
        ".exit",
    ]) == [
        "db > String is too long.",
        "db > Executed.",
        "db > ",
    ]


def test_negative_id_rejected(run_script):
    assert run_script([
        "insert -1 test test@test.com",
        "select",
        ".exit",
    ]) == [
        "db > ID must be positive.",
        "db > Executed.",
        "db > ",
    ]


def test_keeps_data_after_closing(run_script):
    assert run_script([
        "insert 1 user1 person1@example.com",
        ".exit",
    ]) == [
        "db > Executed.",
        "db > ",
    ]
    assert run_script([
        "select",
        ".exit",
    ]) == [
        "db > (1, user1, person1@example.com)",
        "Executed.",
        "db > ",
    ]


def test_prints_constants(run_script):
    # Our engine's metadata analog of db.cpp's layout constants
    # (golden values pinned here, SURVEY.md §5.2 swap #2).
    assert run_script([
        ".constants",
        ".exit",
    ]) == [
        "db > Constants:",
        "ROW_SIZE: 293",
        "COLUMN_USERNAME_SIZE: 32",
        "COLUMN_EMAIL_SIZE: 255",
        "TABLE_MAX_ROWS: 1400",
        "STORAGE_FORMAT: parquet",
        "db > ",
    ]


def test_btree_structure(run_script):
    # Insertion order preserved, duplicate/unordered keys untouched
    # (spec/main_spec.rb:131-150 pins keys [3,1,2] in that order).
    assert run_script([
        "insert 3 user3 person3@example.com",
        "insert 1 user1 person1@example.com",
        "insert 2 user2 person2@example.com",
        ".btree",
        ".exit",
    ]) == [
        "db > Executed.",
        "db > Executed.",
        "db > Executed.",
        "db > Tree:",
        "leaf (size 3)",
        "  - 0 : 3",
        "  - 1 : 1",
        "  - 2 : 2",
        "db > ",
    ]


# --- beyond the golden 8: reference quirks pinned (SURVEY.md §2C) ---

def test_insert_prefix_match_quirk(run_script):
    # 'insert' matches by PREFIX (db.cpp:430): insertXYZ enters insert.
    assert run_script(["insertXYZ", ".exit"]) == [
        "db > Syntax error. Could not parse statement",
        "db > ",
    ]


def test_select_whole_string_match_quirk(run_script):
    # 'select' must match the whole line (db.cpp:434).
    assert run_script(["select *", ".exit"]) == [
        "db > Unrecognized keyword at start of 'select *'",
        "db > ",
    ]


def test_extra_insert_tokens_ignored(run_script):
    # ss >> reads exactly 3 tokens; extras ignored (db.cpp:400-402).
    assert run_script(["insert 1 u e@x extra tokens", "select", ".exit"]) == [
        "db > Executed.",
        "db > (1, u, e@x)",
        "Executed.",
        "db > ",
    ]


def test_stoi_prefix_parse(run_script):
    # stoi takes the integer prefix: '12abc' → 12 (db.cpp:409).
    assert run_script(["insert 12abc u e@x", "select", ".exit"]) == [
        "db > Executed.",
        "db > (12, u, e@x)",
        "Executed.",
        "db > ",
    ]


def test_nonnumeric_id_is_syntax_error_not_crash(run_script):
    # DOCUMENTED DEVIATION: reference crashes (uncaught stoi).
    assert run_script(["insert abc u e@x", ".exit"]) == [
        "db > Syntax error. Could not parse statement",
        "db > ",
    ]


def test_unrecognized_meta_command(run_script):
    assert run_script([".foo", ".exit"]) == [
        "db > Unrecognized command '.foo'",
        "db > ",
    ]


def test_duplicate_keys_allowed(run_script):
    assert run_script([
        "insert 5 a a@x",
        "insert 5 b b@x",
        "select",
        ".exit",
    ]) == [
        "db > Executed.",
        "db > Executed.",
        "db > (5, a, a@x)",
        "(5, b, b@x)",
        "Executed.",
        "db > ",
    ]


def test_id_outside_int_range_is_syntax_error_not_crash(run_script):
    # DOCUMENTED DEVIATION: the reference's stoi throws out_of_range on
    # ids that do not fit the INT `id` column; the bounds themselves fit.
    assert run_script([
        "insert 3000000000 u e@x",
        "insert -2147483649 u e@x",
        "insert 2147483647 max max@x",
        "select",
        ".exit",
    ]) == [
        "db > Syntax error. Could not parse statement",
        "db > Syntax error. Could not parse statement",
        "db > Executed.",
        "db > (2147483647, max, max@x)",
        "Executed.",
        "db > ",
    ]
