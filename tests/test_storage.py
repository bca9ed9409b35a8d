"""The users-table storage contract (storage.UsersTable): insertion
order across flushed files and the buffer, reopen, the capacity rule,
durability only at close, type checks before any write, and the number
of Spark jobs per read and per flush."""

from __future__ import annotations

import os

import pytest

from sql_database_engine_spark.errors import TableFullError
from sql_database_engine_spark.storage import TABLE_MAX_ROWS, UsersTable


def _row(k: int) -> tuple[int, str, str]:
    # Keys descend, so insertion order is never key order.
    return (1000 - k, f"user{k}", f"user{k}@example.com")


def _session(spark, path, rows) -> None:
    """Open ``path``, insert ``rows`` and close (one flushed file)."""
    table = UsersTable(spark, path)
    for r in rows:
        table.insert(*r)
    table.close()


def test_read_back_across_flushed_files_with_buffer(spark, tmp_path):
    path = str(tmp_path / "t.db")
    rows = [_row(k) for k in range(9)]
    for start in (0, 3, 6):
        _session(spark, path, rows[start:start + 3])
    assert sum(f.endswith(".parquet") for f in os.listdir(path)) == 3
    table = UsersTable(spark, path)
    buffered = [_row(k) for k in range(9, 12)]
    for r in buffered:
        table.insert(*r)
    assert table.select_rows() == rows + buffered
    assert table.keys_in_order() == [r[0] for r in rows + buffered]


def test_btree_keys_after_reopen(spark, tmp_path):
    path = str(tmp_path / "t.db")
    _session(spark, path, [(3, "a", "a@x"), (1, "b", "b@x"), (3, "c", "c@x")])
    _session(spark, path, [(2, "d", "d@x")])
    assert UsersTable(spark, path).keys_in_order() == [3, 1, 3, 2]


def test_single_row_sessions_keep_insertion_order(spark, tmp_path):
    # A stored maximum insertion_seq of 0 must not read as "no rows":
    # every one-row session gets the next sequence number.
    path = str(tmp_path / "t.db")
    rows = [_row(k) for k in range(4)]
    for r in rows:
        _session(spark, path, [r])
    assert UsersTable(spark, path).select_rows() == rows
    seqs = [r["insertion_seq"] for r in spark.read.parquet(path).collect()]
    assert sorted(seqs) == [0, 1, 2, 3]


def test_capacity_counts_stored_rows_across_sessions(spark, tmp_path):
    path = str(tmp_path / "t.db")
    first = TABLE_MAX_ROWS - 100
    _session(spark, path, [_row(k) for k in range(first)])
    table = UsersTable(spark, path)
    assert table.row_count == first
    for k in range(first, TABLE_MAX_ROWS):
        table.insert(*_row(k))
    with pytest.raises(TableFullError):
        table.insert(*_row(TABLE_MAX_ROWS))
    table.close()
    assert len(UsersTable(spark, path).select_rows()) == TABLE_MAX_ROWS


def test_buffer_lost_without_close(spark, tmp_path):
    path = str(tmp_path / "t.db")
    _session(spark, path, [_row(0)])
    table = UsersTable(spark, path)
    table.insert(*_row(1))
    assert table.select_rows() == [_row(0), _row(1)]
    del table
    assert UsersTable(spark, path).select_rows() == [_row(0)]


def test_dataframe_matches_select_rows(spark, tmp_path):
    path = str(tmp_path / "t.db")
    _session(spark, path, [_row(0), _row(1)])
    _session(spark, path, [_row(2)])
    table = UsersTable(spark, path)
    table.insert(*_row(3))
    got = [(r["id"], r["username"], r["email"]) for r in table.dataframe().collect()]
    assert got == table.select_rows() == [_row(k) for k in range(4)]
    assert UsersTable(spark, str(tmp_path / "empty.db")).dataframe().count() == 0


@pytest.mark.parametrize("bad", [
    (1, None, "e@x"),         # NULL in a non-nullable column
    (2 ** 31, "u", "e@x"),    # outside int32
    ("1", "u", "e@x"),        # id of the wrong type
    (1.5, "u", "e@x"),        # a float id is refused, not truncated
], ids=["null-username", "id-2^31", "str-id", "float-id"])
def test_bad_row_raises_before_any_write(spark, tmp_path, bad):
    path = str(tmp_path / "t.db")
    table = UsersTable(spark, path)
    with pytest.raises((TypeError, ValueError)):
        table.insert(*bad)
        table.close()
    assert not [f for f in os.listdir(path) if f.endswith(".parquet")]
    assert UsersTable(spark, path).select_rows() == []


# --- Spark jobs per storage call -------------------------------------

def _jobs(spark, group: str, call):
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


def test_open_empty_directory_runs_no_job(spark, tmp_path):
    _, jobs = _jobs(spark, "storage-open-empty",
                    lambda: UsersTable(spark, str(tmp_path / "t.db")))
    assert jobs == 0


def test_reads_of_buffered_rows_run_no_job(spark, tmp_path):
    table = UsersTable(spark, str(tmp_path / "t.db"))
    table.insert(*_row(0))
    rows, jobs = _jobs(spark, "storage-select-buffered", table.select_rows)
    assert (rows, jobs) == ([_row(0)], 0)
    keys, jobs = _jobs(spark, "storage-keys-buffered", table.keys_in_order)
    assert (keys, jobs) == ([_row(0)[0]], 0)


def test_reads_of_stored_rows_run_one_job(spark, tmp_path):
    path = str(tmp_path / "t.db")
    for k in range(3):
        _session(spark, path, [_row(k)])
    table, jobs = _jobs(spark, "storage-open-stored", lambda: UsersTable(spark, path))
    assert jobs == 1
    table.insert(*_row(3))
    rows, jobs = _jobs(spark, "storage-select-stored", table.select_rows)
    assert (rows, jobs) == ([_row(k) for k in range(4)], 1)
    keys, jobs = _jobs(spark, "storage-keys-stored", table.keys_in_order)
    assert (keys, jobs) == ([_row(k)[0] for k in range(4)], 1)


def test_flush_runs_one_job(spark, tmp_path):
    table = UsersTable(spark, str(tmp_path / "t.db"))
    for k in range(3):
        table.insert(*_row(k))
    _, jobs = _jobs(spark, "storage-flush", table.flush)
    assert jobs == 1


def test_dataframe_is_a_local_relation(spark, tmp_path):
    # Built from an in-process Arrow table, not a pickled Python RDD.
    path = str(tmp_path / "t.db")
    _session(spark, path, [_row(0)])
    table = UsersTable(spark, path)
    table.insert(*_row(1))
    plan = table.dataframe()._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan
    assert "ExistingRDD" not in plan
