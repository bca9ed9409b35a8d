"""Custom stateful streaming operator via applyInPandasWithState.

Demonstrates the engine's escape hatch for operators the built-in
stateful set (window agg / session_window / dropDuplicates) cannot
express: arbitrary per-key state machines. The example operator is a
per-user running profile — cumulative event count, exact cumulative
value cents, and last-seen timestamp — emitted once per micro-batch
per updated user.

Scale properties: state lives in the state store sharded by the
group-by key (user_id), so memory is O(active users / executors);
the pandas kernel sees one key's rows per call, Arrow-batched. A
GroupStateTimeout would evict idle users in a live deployment; the
availableNow test path never times out.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql import types as T

STATE_SCHEMA = T.StructType([
    T.StructField("n_events", T.LongType()),
    T.StructField("value_cents", T.LongType()),
    T.StructField("last_ts_micros", T.LongType()),
    # Count of OBSERVED (non-null) values: SQL SUM over zero
    # observations is NULL, not 0, and the kernel must reproduce
    # that (null_sweep audit) — a bare running cents of 0 cannot
    # distinguish "no values seen" from "values summing to zero".
    T.StructField("n_vals", T.LongType()),
])

OUTPUT_SCHEMA = T.StructType([
    T.StructField("user_id", T.LongType()),
    T.StructField("n_events", T.LongType()),
    T.StructField("total_value", T.DoubleType()),
    T.StructField("last_ts_micros", T.LongType()),
])


def _update_profile(key: tuple, pdfs: Iterable[pd.DataFrame],
                    state: GroupState) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    n, cents, last_us, n_vals = state.get if state.exists else (0, 0, 0, 0)
    for pdf in pdfs:
        n += len(pdf)
        # Match the engine-wide exact-money policy: per-row rounding to
        # integer cents, then integer accumulation. Half-away-from-zero
        # explicitly — pandas .round() is banker's (half-to-even), which
        # would diverge from Spark's F.round and the DuckDB oracle on an
        # exact .5 tie in value*100. Null values arrive as NaN — they
        # are no observation (SQL SUM skips them; int(NaN) crashes).
        vals = pdf["value"].dropna()
        n_vals += len(vals)
        v100 = vals.mul(100)
        away = np.sign(v100) * np.floor(np.abs(v100) + 0.5)
        cents += int(away.astype("int64").sum())
        ts_us = (pdf["ts"].astype("int64") // 1000).max()
        last_us = max(last_us, int(ts_us))
    state.update((n, cents, last_us, n_vals))
    yield pd.DataFrame({
        "user_id": [user_id],
        "n_events": [n],
        # SUM over zero observations is NULL, matching the oracle.
        "total_value": [cents / 100.0 if n_vals else None],
        "last_ts_micros": [last_us],
    })


def user_profiles(events: DataFrame) -> DataFrame:
    """Per-user running profile as an update-mode stateful stream."""
    return (
        events.select("user_id", "ts", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _update_profile,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


TYPES_OUTPUT_SCHEMA = T.StructType([
    T.StructField("user_id", T.LongType()),
    T.StructField("n_event_types", T.LongType()),
    T.StructField("event_types_csv", T.StringType()),
])


_TYPES_STATE_SCHEMA = T.StructType([T.StructField("types", T.StringType())])


def _update_type_set(key: tuple, pdfs: Iterable[pd.DataFrame],
                     state: GroupState) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    seen: set = set()
    if state.exists and state.get[0]:
        seen.update(state.get[0].split(","))
    for pdf in pdfs:
        # A null event_type is no observation: COUNT(DISTINCT) and
        # string_agg skip nulls in SQL, and a None in the set would
        # crash sorted() against strings (null_sweep audit).
        seen.update(pdf["event_type"].dropna().tolist())
    csv = ",".join(sorted(seen))
    state.update((csv,))
    yield pd.DataFrame({
        "user_id": [user_id],
        "n_event_types": [len(seen)],
        # string_agg over zero observed types is NULL, not ''.
        "event_types_csv": [csv if seen else None],
    })


def user_event_type_sets(events: DataFrame) -> DataFrame:
    """Per-user set of distinct event types as custom stateful
    streaming state (applyInPandasWithState): the set is carried as a
    sorted CSV — order-insensitive, deterministic output."""
    return (
        events.select("user_id", "event_type")
        .groupBy("user_id")
        .applyInPandasWithState(
            _update_type_set,
            outputStructType=TYPES_OUTPUT_SCHEMA,
            stateStructType=_TYPES_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
