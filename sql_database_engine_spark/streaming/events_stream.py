"""Structured Streaming over the `events` table.

The batch operators in ``operators/events.py`` have streaming twins
here: same logical aggregation, incremental execution with watermarks
bounding state. Tests (tests/test_streaming.py) prove *batch
equivalence*: the streaming query drained with
``trigger(availableNow=True)`` over the static parquet produces
exactly the batch result — the Dataflow-model property that makes a
backfill and a live pipeline interchangeable.

State-at-scale notes:
- every stateful op (window agg, session window, dedup) carries a
  watermark so state is evicted; an unbounded-state streaming query
  is a memory leak with a schedule.
- keys are user_id/event_type — real entity keys, so state shards
  across executors with the shuffle; nothing accumulates per-driver.
- the parquet file source is the test stand-in; a production deploy
  swaps in Kafka by changing only ``events_stream``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from ..session import tune

#: The file stream source needs an explicit schema: the catalog's read
#: schema (catalog._read_schema), whose ``ts`` type follows the
#: events.parquet footer, normalized afterwards by the same rule as the
#: batch path (catalog._canonicalize).


def _stream_dir(sf_dir: str) -> str:
    """The file stream source requires a *directory* to monitor; the
    testdata ships single files. Stage a symlink dir under /tmp
    (read-only testdata must not be touched). A directory-shaped
    events.parquet (the production layout) is monitored directly —
    symlinking a directory as if it were a file would list zero
    files and silently stream nothing."""
    import os

    from ..scratch import scratch_dir
    src = os.path.join(os.path.abspath(sf_dir), "events.parquet")
    if os.path.isdir(src):
        return src
    d = scratch_dir("stream", sf_dir)
    link = os.path.join(d, "events.parquet")
    if not os.path.exists(link):
        os.symlink(src, link)
    return d


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table as an unbounded stream (file source)."""
    from ..catalog import _canonicalize, _read_schema
    tune(spark)
    raw = (spark.readStream.schema(_read_schema(sf_dir, "events"))
           .parquet(_stream_dir(sf_dir)))
    return _canonicalize("events", raw)


def tumbling_counts(events: DataFrame) -> DataFrame:
    """1-hour tumbling windows per event type; 2-hour watermark admits
    late data up to 2h behind the max seen event time, then the
    window's state is dropped. Streaming twin of
    ``events_tumbling_window``."""
    from ..functions.exact import cents
    return (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"),
             (F.sum(cents(F.col("value"))).cast("double") / 100.0)
             .alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type",
                "n", "total_value")
    )


def ohlc_hourly(events: DataFrame) -> DataFrame:
    """1-hour tumbling OHLC bars per event type — the downsampling
    aggregate a metrics store maintains incrementally: open/close via
    min_by/max_by over the (ts, event_id) total order (deterministic
    under any micro-batch split — the orderable key, not arrival
    order, picks the bar ends), high/low/count as plain aggregates,
    all money in exact cents. Streaming twin of the batch
    ``events_ohlc_hourly`` shape at event-type grain."""
    from ..functions.exact import cents
    ord_key = F.struct(F.col("ts"), F.col("event_id"))
    c = cents(F.col("value"))
    return (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.min_by(c, ord_key).alias("open_cents"),
             F.max_by(c, ord_key).alias("close_cents"),
             F.max(c).alias("high_cents"),
             F.min(c).alias("low_cents"),
             F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type",
                "open_cents", "close_cents", "high_cents", "low_cents",
                "n_events")
    )


def sliding_counts(events: DataFrame) -> DataFrame:
    """2-hour windows sliding every hour per event type — each event
    lands in exactly two overlapping windows; the engine maintains
    both windows' state concurrently and closes each as the watermark
    passes its end. Streaming twin of ``events_sliding_window``."""
    from ..functions.exact import cents
    return (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "2 hours", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"),
             (F.sum(cents(F.col("value"))).cast("double") / 100.0)
             .alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type",
                "n", "total_value")
    )


def session_windows(events: DataFrame) -> DataFrame:
    """Native session windows (30-minute gap) per user — the streaming
    engine merges/extends sessions as events arrive; state closes once
    the watermark passes a session's end."""
    return (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id",
                F.col("sw.start").alias("session_start"),
                F.col("sw.end").alias("session_end"),
                "n_events")
    )


def session_intent(events: DataFrame) -> DataFrame:
    """Per-session intent flags as a STREAMING aggregate: the same
    30-minute session windows, with has_click / has_purchase
    conditional-max flags maintained incrementally — the streaming
    half of the cart-abandonment KPI (the drained relation aggregates
    to the daily rate as a cheap batch pass)."""
    return (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", "30 minutes").alias("sw"),
                 "user_id")
        .agg(F.max(F.when(F.col("event_type") == "click", 1).otherwise(0))
             .alias("has_click"),
             F.max(F.when(F.col("event_type") == "purchase", 1)
                   .otherwise(0)).alias("has_purchase"),
             F.count(F.lit(1)).alias("n_events"))
        .select("user_id",
                F.col("sw.start").alias("session_start"),
                F.col("has_click").cast("long").alias("has_click"),
                F.col("has_purchase").cast("long").alias("has_purchase"),
                "n_events")
    )


def dedup_stream(events: DataFrame) -> DataFrame:
    """Stateful exactly-once-per-key dedup on event_id within the
    watermark horizon (dropDuplicatesWithinWatermark keeps state only
    for the 2-hour window instead of forever)."""
    return (events.withWatermark("ts", "2 hours")
            .dropDuplicatesWithinWatermark(["event_id"]))


def backlog_state_partitions(sf_dir: str) -> int:
    """State-partition count for a scratch drain, sized to the backlog.

    A stateful streaming shuffle cannot be AQE-coalesced and its
    partition count is pinned by the first checkpoint commit, so it
    must be chosen *upfront* — and the right input is the backlog
    volume, not the core count. Every micro-batch commits one
    state-store version per partition (a stream-stream join keeps 4
    stores per partition), so oversharding is pure commit overhead:
    measured at sf0.1 the click⋈purchase drain is 5.7 s at 32
    partitions vs 1.9 s at 4 — same 371 rows (layout invariance is
    proven registry-wide by tools/sweep.py --replica layout). Rule:
    ~8 MB of backlog per state partition, clamped to [2, cores] —
    at a 100 TB backlog the clamp lands at cluster parallelism, at
    test SFs it stops paying for empty state stores.
    """
    import os

    from ..session import default_parallelism
    path = os.path.join(sf_dir, "events.parquet")
    try:
        if os.path.isdir(path):  # directory-shaped parquet table
            size = sum(os.path.getsize(os.path.join(root, f))
                       for root, _, files in os.walk(path) for f in files)
        else:
            size = os.path.getsize(path)
    except OSError:
        return default_parallelism()
    return max(2, min(default_parallelism(), -(-size // (8 << 20))))


def run_available_now(stream_df: DataFrame, query_name: str,
                      output_mode: str = "append",
                      state_partitions: int | None = None) -> DataFrame:
    """Drain everything currently available through the streaming
    engine into an in-memory table; return it as a DataFrame.

    availableNow processes the full backlog with real incremental
    state machinery then stops — the batch-equivalence test harness
    and also the production backfill pattern.

    ``state_partitions`` (see :func:`backlog_state_partitions`) sets
    the stateful shuffle parallelism for this drain only — applied
    around ``start()`` because the stream pins the value at its first
    checkpoint commit — then the session conf is restored for
    whatever batch work runs next.
    """
    import os
    import shutil
    import tempfile

    spark = stream_df.sparkSession
    prev_parts = None
    if state_partitions is not None:
        prev_parts = spark.conf.get("spark.sql.shuffle.partitions", None)
        spark.conf.set("spark.sql.shuffle.partitions",
                       str(state_partitions))
    # The drain's checkpoint is scratch (discarded below), so it goes
    # on the fastest local medium available — tmpfs when present.
    # Stateful micro-batches commit one state-store version per
    # shuffle partition per batch; on disk-backed /tmp those fsyncs
    # dominate the drain at small scale. A durable deployment points
    # this at object storage instead (the restartable rollup store in
    # streaming/rollup.py keeps its checkpoint with its data).
    scratch_root = "/dev/shm" if os.path.isdir("/dev/shm") else None
    ckpt = tempfile.mkdtemp(prefix=f"ckpt-{query_name}-", dir=scratch_root)
    try:
        q = (stream_df.writeStream
             .outputMode(output_mode)
             .format("memory")
             .queryName(query_name)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True)
             .start())
        if prev_parts is not None:
            # The stream captured the conf at start; restore the
            # session value immediately so concurrent/subsequent batch
            # plans in the same session are unaffected.
            spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
            prev_parts = None
        q.awaitTermination()
    finally:
        if prev_parts is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        shutil.rmtree(ckpt, ignore_errors=True)
        # Unload the drain's state-store providers and stop their
        # maintenance thread pool: the scratch checkpoint is gone, so
        # keeping providers cached only pins state maps on the heap
        # and leaves maintenance threads spinning against deleted
        # directories — measurable contention for whatever batch job
        # runs next in the same JVM. The next streaming query
        # re-starts the machinery on demand.
        try:
            (spark._jvm.org.apache.spark.sql.execution
             .streaming.state.StateStore.stop())
        except Exception:
            pass  # never fail a drain over post-run hygiene
    return spark.table(query_name)


def click_purchase_join(events: DataFrame) -> DataFrame:
    """Stream-stream inner join: each click matched to the same
    user's purchases within the following hour.

    Both sides carry a watermark AND the join condition bounds
    purchase time relative to click time — together they let the
    engine compute how long a buffered click can still match (1h join
    range + 2h lateness) and evict state past that horizon. A
    stream-stream join without both is unbounded state. The join key
    includes user_id, so state shards across executors."""
    # The join is keyed by user; anonymous events cannot correlate.
    # This must be EXPLICIT for streaming outer joins: Spark's batch
    # planner infers isnotnull on inner equi-join keys, but an outer
    # stream-stream join keeps null-keyed rows in the state store,
    # where the binary key lookup treats NULL = NULL and "matches"
    # two anonymous events the SQL join condition never would
    # (null_sweep audit, visible only at SFs dense enough to put two
    # null-keyed events inside one join window).
    clicks = (events.filter((F.col("event_type") == "click")
                            & F.col("user_id").isNotNull())
              .select(F.col("user_id").alias("c_user"),
                      F.col("event_id").alias("click_id"),
                      F.col("ts").alias("click_ts"))
              .withWatermark("click_ts", "2 hours"))
    purchases = (events.filter((F.col("event_type") == "purchase")
                               & F.col("user_id").isNotNull())
                 .select(F.col("user_id").alias("p_user"),
                         F.col("event_id").alias("purchase_id"),
                         F.col("ts").alias("purchase_ts"))
                 .withWatermark("purchase_ts", "2 hours"))
    return (
        clicks.join(
            purchases,
            (F.col("c_user") == F.col("p_user"))
            & (F.col("purchase_ts") >= F.col("click_ts"))
            & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")))
        .select(F.col("c_user").alias("user_id"), "click_id", "click_ts",
                "purchase_id", "purchase_ts")
    )


def click_purchase_left_join(events: DataFrame) -> DataFrame:
    """LEFT OUTER stream-stream join: every click, with its purchases
    within the following hour or NULLs if none.

    Outer semantics on two streams is watermark-driven: a click can
    only be declared purchase-less once the watermark passes its whole
    match window (1h range + 2h lateness), so null-extended rows emit
    *late by design*. Consequence under ``availableNow`` drains: the
    watermark ends at max(event_time) − 2h, so clicks younger than
    watermark − 1h remain buffered in state and never emit their null
    row in that run — the batch-equivalence test pins exactly this
    horizon. A live pipeline keeps the state and emits them as the
    watermark advances; that is correct streaming behavior, not loss."""
    # The join is keyed by user; anonymous events cannot correlate.
    # This must be EXPLICIT for streaming outer joins: Spark's batch
    # planner infers isnotnull on inner equi-join keys, but an outer
    # stream-stream join keeps null-keyed rows in the state store,
    # where the binary key lookup treats NULL = NULL and "matches"
    # two anonymous events the SQL join condition never would
    # (null_sweep audit, visible only at SFs dense enough to put two
    # null-keyed events inside one join window).
    clicks = (events.filter((F.col("event_type") == "click")
                            & F.col("user_id").isNotNull())
              .select(F.col("user_id").alias("c_user"),
                      F.col("event_id").alias("click_id"),
                      F.col("ts").alias("click_ts"))
              .withWatermark("click_ts", "2 hours"))
    purchases = (events.filter((F.col("event_type") == "purchase")
                               & F.col("user_id").isNotNull())
                 .select(F.col("user_id").alias("p_user"),
                         F.col("event_id").alias("purchase_id"),
                         F.col("ts").alias("purchase_ts"))
                 .withWatermark("purchase_ts", "2 hours"))
    return (
        clicks.join(
            purchases,
            (F.col("c_user") == F.col("p_user"))
            & (F.col("purchase_ts") >= F.col("click_ts"))
            & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
            "left_outer")
        .select(F.col("c_user").alias("user_id"), "click_id", "click_ts",
                "purchase_id", "purchase_ts")
    )


def click_purchase_full_join(events: DataFrame) -> DataFrame:
    """FULL OUTER stream-stream join: every click with its purchases
    in the following hour, every purchase with its clicks in the
    preceding hour — unmatched rows on EITHER side null-extend once
    the watermark clears their whole match window.

    Same state/eviction mechanics as the left-outer variant, applied
    symmetrically: a click is declared purchase-less after
    watermark > click_ts + 1h, a purchase click-less after
    watermark > purchase_ts (its candidate clicks live in
    [purchase_ts - 1h, purchase_ts]). Under availableNow the rows
    younger than those horizons stay buffered — correct streaming
    behavior; the settled-region query restricts to the provably
    emitted region for its oracle."""
    # The join is keyed by user; anonymous events cannot correlate.
    # This must be EXPLICIT for streaming outer joins: Spark's batch
    # planner infers isnotnull on inner equi-join keys, but an outer
    # stream-stream join keeps null-keyed rows in the state store,
    # where the binary key lookup treats NULL = NULL and "matches"
    # two anonymous events the SQL join condition never would
    # (null_sweep audit, visible only at SFs dense enough to put two
    # null-keyed events inside one join window).
    clicks = (events.filter((F.col("event_type") == "click")
                            & F.col("user_id").isNotNull())
              .select(F.col("user_id").alias("c_user"),
                      F.col("event_id").alias("click_id"),
                      F.col("ts").alias("click_ts"))
              .withWatermark("click_ts", "2 hours"))
    purchases = (events.filter((F.col("event_type") == "purchase")
                               & F.col("user_id").isNotNull())
                 .select(F.col("user_id").alias("p_user"),
                         F.col("event_id").alias("purchase_id"),
                         F.col("ts").alias("purchase_ts"))
                 .withWatermark("purchase_ts", "2 hours"))
    return (
        clicks.join(
            purchases,
            (F.col("c_user") == F.col("p_user"))
            & (F.col("purchase_ts") >= F.col("click_ts"))
            & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
            "full_outer")
        .select(F.coalesce(F.col("c_user"), F.col("p_user")).alias("user_id"),
                "click_id", "click_ts", "purchase_id", "purchase_ts")
    )


def distinct_users_hourly(events: DataFrame) -> DataFrame:
    """EXACT distinct users per hour in a stream, by CHAINING two
    stateful operators: watermark-scoped dedup on (user_id, hour)
    first — so each user costs one state row per hour, dropped when
    the watermark passes — then an ordinary windowed COUNT of the
    survivors. This is the streaming answer to "COUNT(DISTINCT) is
    not incremental": dedup + count IS, and the state is bounded by
    (distinct users per hour) x (watermark horizon / 1h), not by the
    stream's history. (The approximate alternative at higher
    cardinalities is the HLL rollup — ``hll_rollup_distinct_contract``
    — with sketches as the window state; this operator is the exact
    tier below it.)

    Anonymous events (null user_id) are excluded — COUNT(DISTINCT)
    skips nulls in SQL, but dropDuplicates treats NULL as one more
    distinct key and would count a phantom user per hour
    (null_sweep audit class).

    Oracle premise: the fixture source is a single staged file, so the
    availableNow drain is ONE micro-batch and the watermark cannot
    advance mid-drain — dropDuplicatesWithinWatermark (which, unlike a
    complete-mode aggregation, actively DROPS late rows) therefore
    never drops anything and the unrestricted batch COUNT(DISTINCT)
    oracle holds exactly. A live multi-batch deployment admits
    watermark drops in the dedup stage; its check would carry a
    settled-region oracle instead (the
    ``stream_click_purchase_left_join_settled`` pattern)."""
    hourly = (events.filter(F.col("user_id").isNotNull())
              .withColumn("hour", F.date_trunc("hour", "ts")))
    deduped = (hourly.withWatermark("ts", "2 hours")
               .dropDuplicatesWithinWatermark(["user_id", "hour"]))
    return (deduped.groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count(F.lit(1)).alias("n_distinct_users"))
            .select(F.col("w.start").alias("window_start"),
                    "n_distinct_users"))


def run_merge_into_snapshot(events: DataFrame, table_path: str) -> None:
    """Drain the event stream into a SNAPSHOT TABLE via foreachBatch —
    the CDC-to-lakehouse sink pattern: each micro-batch reduces to its
    per-user newest row, unions with the current snapshot, and
    commits the per-user argmax as a new version (newest-wins by the
    (ts, event_id) total order, so the FINAL state is the global
    per-user latest REGARDLESS of how the engine splits batches —
    that invariant is what the oracle checks). VACUUM keep=1 runs
    after the drain: intermediate versions were only commit points.

    At scale foreachBatch+MERGE is exactly how streams land in
    Delta/Iceberg; here the snapshot module's manifest commits play
    the table format's role, and the whole-snapshot rewrite per batch
    is the baseline semantics a partition-restricted MERGE optimizes.
    """
    import os
    import shutil
    import tempfile

    from pyspark.sql import Window as W

    from ..sources.snapshots import read_snapshot, vacuum, write_snapshot

    spark = events.sparkSession

    def _latest_per_user(df):
        w = (W.partitionBy("user_id")
             .orderBy(F.col("ts").desc(), F.col("event_id").desc()))
        return (df.withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") == 1).drop("rn"))

    def apply_batch(batch_df, _batch_id):
        latest_in_batch = _latest_per_user(batch_df.select(
            "user_id", "event_id", "ts", "event_type", "value"))
        try:
            current = read_snapshot(spark, table_path)
            merged = current.unionByName(latest_in_batch)
        except FileNotFoundError:
            merged = latest_in_batch
        write_snapshot(_latest_per_user(merged), table_path)

    scratch_root = "/dev/shm" if os.path.isdir("/dev/shm") else None
    ckpt = tempfile.mkdtemp(prefix="ckpt-snapmerge-", dir=scratch_root)
    try:
        q = (events.writeStream
             .foreachBatch(apply_batch)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True)
             .start())
        q.awaitTermination()
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
        try:
            (spark._jvm.org.apache.spark.sql.execution
             .streaming.state.StateStore.stop())
        except Exception:
            pass
    vacuum(table_path, keep=1)
