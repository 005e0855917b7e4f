"""Structured Streaming pack: the reference's online consumer loop
(``main.py:44-46``, ``eventstream.py:429-432``) as a file-source replay
of the events fixture with event-time windows, watermarks and state
(SURVEY §3 EP3).

Every replay is ``io.stream_events``: the fixture read in place with
``load_table``'s schema and timestamp normalization, so each streaming
query answers what its batch twin does and carries a DuckDB oracle
(``streaming_pattern_state``'s is a recursive CTE; ``tests/
test_streaming.py`` also replays it offline). Aggregates land in memory
sinks whose views are dropped once read; the two ``foreachBatch``
queries write into a wiped scratch directory; ``streaming_rate_replay``
is paced by the ``rate-micro-batch`` source instead of a file backlog;
``session_window_agg`` is the batch twin of the streaming session
windows. The fixture stream is in order, like the reference (§1.2), so
late-data drops are tested on synthetic lateness in
``tests/test_streaming.py``.
"""

from __future__ import annotations

import os
import shutil
import time
import uuid
from contextlib import contextmanager

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from eventstream_benchmark_spark.io import load_table, stream_events
from eventstream_benchmark_spark.operators._util import bigint, money_sum, scratch_path

SESSION_GAP = "30 minutes"
PATTERN_SEQ = ("view", "click", "purchase")


@contextmanager
def _state_shuffle(spark: SparkSession):
    """Set ``spark.sql.shuffle.partitions`` to the session's
    ``defaultParallelism`` for the duration of a streaming run, then
    restore the previous value. Stateful streaming shuffles bypass AQE,
    so the number is fixed: it is the state-store shard count, and each
    shard is one task of every micro-batch. A vanilla session's 200
    means 200 tasks per batch regardless of data volume; one shard per
    core runs each stateful batch in one wave of tasks, where any more
    shards start a second wave (about 0.25 s for Python state-function
    tasks on a 4-core host) for no added parallelism. Restoring on exit
    keeps the setting from leaking into later batch queries (which
    would skew bench timings depending on execution order)."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions", str(spark.sparkContext.defaultParallelism)
    )
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def _fresh_sink(sf_dir: str, name: str) -> str:
    """The query's fixed scratch sink (``scratch_path``), wiped with its
    checkpoint on every invocation. Streaming sinks must start empty —
    the rollup bootstraps on sink existence and a stale checkpoint would
    no-op the replay — and one stable path keeps disk bounded across
    runs."""
    root = scratch_path(sf_dir, name)
    for p in (root, root + "_ckpt"):
        shutil.rmtree(p, ignore_errors=True)
    return root


def _run_to_memory(stream_df: DataFrame, output_mode: str) -> DataFrame:
    """Execute a streaming DataFrame to completion (availableNow) into a
    memory sink; return the sink's rows. The frame keeps reading them
    after the sink's view is dropped, so the session keeps no table."""
    name = f"esb_sink_{uuid.uuid4().hex[:8]}"
    query = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    spark = stream_df.sparkSession
    result = spark.table(name)
    spark.catalog.dropTempView(name)
    return result


def _run_to_files(stream_df: DataFrame, out: str, write_batch) -> DataFrame:
    """Execute a streaming DataFrame to completion (availableNow)
    through the ``foreachBatch`` function ``write_batch``, which writes
    parquet into ``out``; checkpoint next to it. Return what landed."""
    query = (
        stream_df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", out + "_ckpt")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return stream_df.sparkSession.read.parquet(out)


def streaming_replay_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B36 — file-source replay → watermark → 1-hour tumbling counts.

    ``complete`` output mode emits every window at the final trigger,
    so the streaming answer is exactly the batch answer (the fixture
    stream is in-order; nothing is late against the 1-hour watermark).
    """
    with _state_shuffle(spark):
        events = stream_events(spark, sf_dir)
        windowed = (
            events.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count("*").alias("n"), money_sum(F.col("value")).alias("sum_value"))
        )
        result = _run_to_memory(windowed, "complete")
    return result.select(
        F.col("w.start").alias("window_start"), "event_type", "n", "sum_value"
    )


def _in_event_order(pdf_iter, column: str) -> list:
    """One group's ``column`` in ``(ts, event_id)`` order, as Python
    scalars, for the ``applyInPandasWithState`` functions. A group's
    micro-batch can arrive as several Arrow chunks with no global order
    guarantee, so the chunks are concatenated before the one sort:
    sorting per chunk would replay events out of order for any user
    whose batch exceeds ``arrow.maxRecordsPerBatch``. ``np.lexsort``
    on numpy columns costs a fraction of a multi-key ``sort_values``."""
    chunks = list(pdf_iter)
    if not chunks:
        return []
    pdf = chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
    order = np.lexsort((pdf["event_id"].to_numpy(), pdf["ts"].to_numpy()))
    return pdf[column].to_numpy()[order].tolist()


def _final_state(result: DataFrame, *columns: str) -> DataFrame:
    """One row per user, ``user_id, *columns, n_events``, from an
    update-mode sink that appends one row per (user, batch): the row
    with the most events is the final state, so the output does not
    depend on how the replay was batched."""
    latest = result.groupBy("user_id").agg(F.max(F.struct("n_events", *columns)).alias("s"))
    return latest.select(
        "user_id", *(F.col(f"s.{c}").alias(c) for c in (*columns, "n_events"))
    ).orderBy("user_id")


def streaming_pattern_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B37 — stateful per-user pattern-progress tracking.

    State machine per user over the event-type sequence view→click→
    purchase (the B32 pattern, tracked online instead of via lead()):
    ``progress`` = current prefix length, ``completed`` = full matches
    so far. State lives in the store across micro-batches via
    ``applyInPandasWithState``; the replay ends with one summary row
    per user.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    seq = PATTERN_SEQ

    def track(key, pdf_iter, state: GroupState):
        progress, completed, seen = state.get if state.exists else (0, 0, 0)
        for et in _in_event_order(pdf_iter, "event_type"):
            seen += 1
            if et == seq[progress]:
                progress += 1
                if progress == len(seq):
                    completed += 1
                    progress = 0
            elif et == seq[0]:
                progress = 1
            else:
                progress = 0
        state.update((progress, completed, seen))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "progress": [progress],
                "completed": [completed],
                "n_events": [seen],
            }
        )

    with _state_shuffle(spark):
        events = stream_events(spark, sf_dir)
        tracked = events.groupBy("user_id").applyInPandasWithState(
            track,
            outputStructType="user_id long, progress int, completed int, n_events long",
            stateStructType="progress int, completed int, n_events long",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        result = _run_to_memory(tracked, "update")
    return _final_state(result, "progress", "completed")


def streaming_ewma_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming EWMA per user — the second
    ``applyInPandasWithState`` surface (B37's sibling): the α = 1/2
    recurrence y ← (y + x)/2 runs in the state store across
    micro-batches, seeded with the user's first value.

    α = 1/2 makes the whole stream-long recurrence hash-checkable:
    every step is one correctly-rounded IEEE add and one exact
    exponent-shift halving, so Python's float loop, and DuckDB's
    ``list_reduce`` over the (ts, event_id)-ordered values, produce
    bit-identical doubles — no rounding contract needed at all, the
    strongest oracle in the streaming pack."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fold(key, pdf_iter, state: GroupState):
        y, n = state.get if state.exists else (None, 0)
        for x in _in_event_order(pdf_iter, "value"):
            y = x if y is None else (y + x) / 2
            n += 1
        state.update((y, n))
        yield pd.DataFrame({"user_id": [key[0]], "ewma": [y], "n_events": [n]})

    with _state_shuffle(spark):
        events = stream_events(spark, sf_dir)
        folded = (
            events.filter(F.col("value").isNotNull())
            .groupBy("user_id")
            .applyInPandasWithState(
                fold,
                outputStructType="user_id long, ewma double, n_events long",
                stateStructType="ewma double, n_events long",
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout,
            )
        )
        result = _run_to_memory(folded, "update")
    return _final_state(result, "ewma")


def _join_side(spark: SparkSession, sf_dir: str, event_type: str, prefix: str) -> DataFrame:
    """One side of the click→purchase stream-stream joins: its own replay
    of one event type under a 2-hour watermark, columns prefixed with
    ``prefix``."""
    return (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == event_type)
        .withWatermark("ts", "2 hours")
        .select(
            F.col("user_id").alias(f"{prefix}_user"),
            F.col("event_id").alias(f"{prefix}_id"),
            F.col("ts").alias(f"{prefix}_ts"),
        )
    )


def streaming_join_clicks_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with an event-time range condition:
    clicks joined to same-user purchases within the following hour.

    Both sides are streaming DataFrames (derived from the same replay
    source); watermarks bound the join state on each side — at 100 TB
    this is what keeps the state store finite. The replay is in-order
    and complete, so append-mode output equals the batch join — the
    DuckDB oracle. Pairs land in a memory sink; the compact per-user
    aggregate is computed on the sink table after termination."""
    with _state_shuffle(spark):
        pairs = _join_side(spark, sf_dir, "click", "c").join(
            _join_side(spark, sf_dir, "purchase", "p"),
            F.expr(
                "c_user = p_user AND p_ts >= c_ts AND p_ts <= c_ts + INTERVAL 1 HOUR"
            ),
        )
        sunk = _run_to_memory(pairs, "append")
    return (
        sunk.groupBy(F.col("c_user").alias("user_id"))
        .agg(F.count("*").alias("n_pairs"))
        .orderBy("user_id")
    )


OUTER_JOIN_CUTOFF = "2024-01-30 18:00:00"  # fixture max ts is Jan 30 ~23:26+


def streaming_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER join: every click, matched to same-user
    purchases in the following hour or emitted with nulls once the
    watermark proves no match can arrive — the state-eviction semantics
    (unmatched rows are held until watermark > click_ts + join window,
    then released) that the inner join never exercises. Determinism:
    the final watermark stops 2 h short of the fixture's end, so
    clicks in the last hours may still sit unmatched in state when the
    replay ends; the post-sink aggregate (and the oracle) therefore
    only count clicks before a cutoff safely below max_ts − 3 h, where
    outer emission is guaranteed complete."""
    with _state_shuffle(spark):
        pairs = _join_side(spark, sf_dir, "click", "c").join(
            _join_side(spark, sf_dir, "purchase", "p"),
            F.expr(
                "c_user = p_user AND p_ts >= c_ts AND p_ts <= c_ts + INTERVAL 1 HOUR"
            ),
            "leftOuter",
        )
        sunk = _run_to_memory(pairs, "append")
    return (
        sunk.filter(F.col("c_ts") < F.lit(OUTER_JOIN_CUTOFF).cast("timestamp"))
        .groupBy(F.col("c_user").alias("user_id"))
        .agg(
            F.count("*").alias("n_rows"),
            bigint(F.sum(F.col("p_id").isNotNull().cast("int"))).alias(
                "n_matched"
            ),
            bigint(F.sum(F.col("p_id").isNull().cast("int"))).alias(
                "n_unmatched"
            ),
        )
        .orderBy("user_id")
    )


RATE_REPLAY_LIMIT = 6_000  # replay events with event_id < LIMIT
RATE_ROWS_PER_BATCH = 2_000


def streaming_rate_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paced real-time replay driven by the ``rate-micro-batch`` source
    — the Spark analog of the reference's online consumer loop
    (``main.py:44-46``) when no file backlog exists: the rate source
    manufactures the micro-batch cadence, and each batch's ``value``
    ids pull the matching event slice through a broadcast stream-static
    equi-join (the static side is pre-filtered to the replayed id
    range, so the source's unbounded tail joins to nothing). The sink
    is cut off once the id range is covered; because batch k carries
    exactly ids [k·rows, (k+1)·rows), the joined output is a
    deterministic set and the per-type summary carries a full DuckDB
    oracle — a hash-checked rate-source query."""
    with _state_shuffle(spark):
        static_df = (
            load_table(spark, sf_dir, "events")
            .filter(F.col("event_id") < RATE_REPLAY_LIMIT)
            .select("event_id", "event_type", "user_id")
        )
        # the completion target is the static side's actual max id, not
        # the nominal LIMIT: at small SFs the fixture holds fewer events
        # than the replay window, and waiting for an id that no event
        # carries would spin to the deadline (found by the sf0.001
        # parity sweep, round 5). One tiny pre-stream batch query over
        # the already-filtered side — harness-side pacing, not a
        # per-row driver loop.
        target = static_df.agg(F.max("event_id")).collect()[0][0]
        static = F.broadcast(static_df)
        rate = (
            spark.readStream.format("rate-micro-batch")
            .option("rowsPerBatch", RATE_ROWS_PER_BATCH)
            .load()
        )
        paced = rate.join(static, rate["value"] == static["event_id"]).select(
            "value", "event_id", "event_type", "user_id"
        )
        name = f"esb_rate_{uuid.uuid4().hex[:8]}"
        query = (
            paced.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .start()
        )
        try:
            deadline = time.monotonic() + 120.0
            while True:
                mx = spark.table(name).agg(F.max("value")).collect()[0][0]
                if mx is not None and mx >= target:
                    break
                if time.monotonic() > deadline:
                    raise TimeoutError(
                        "rate-micro-batch replay did not cover the id range"
                    )
                time.sleep(0.3)
        finally:
            query.stop()
    sunk = spark.table(name)
    spark.catalog.dropTempView(name)
    return (
        sunk.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.min("event_id").alias("min_id"),
            F.max("event_id").alias("max_id"),
        )
        .orderBy("event_type")
    )


FOREACH_BATCH_TYPES = ("view", "click", "purchase")


def streaming_foreach_batch_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B36's ``foreachBatch`` sink — the custom-sink escape hatch a
    production pipeline uses for engines with no native streaming
    writer (JDBC upserts, vector stores, feature stores). Replay the
    events fixture as a file stream, project/filter it, and have each
    micro-batch land in a parquet directory partitioned by batch_id
    (restart-idempotent: a re-run of a batch overwrites its own
    partition instead of double-appending — the exactly-once recipe the
    Spark docs prescribe for foreachBatch). The sink dir is then read
    back with one batch aggregate; the oracle is the same aggregate on
    the source table, so the driver hash-checks that no row was lost or
    duplicated across the micro-batch boundary."""
    with _state_shuffle(spark):
        out = _fresh_sink(sf_dir, "fb")
        events = stream_events(spark, sf_dir)
        slim = events.filter(
            F.col("event_type").isin(*FOREACH_BATCH_TYPES)
        ).select("event_id", "event_type", "value")

        def write_batch(bdf: DataFrame, batch_id: int) -> None:
            bdf.withColumn("batch_id", F.lit(batch_id)).write.mode(
                "overwrite"
            ).option("partitionOverwriteMode", "dynamic").partitionBy(
                "batch_id"
            ).parquet(out)

        back = _run_to_files(slim, out, write_batch)
    return (
        back.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.min("event_id").alias("min_id"),
            F.max("event_id").alias("max_id"),
            money_sum(F.col("value")).alias("sum_value"),
        )
        .orderBy("event_type")
    )


def streaming_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized rollup via ``foreachBatch`` MERGE — the
    streaming pattern that maintains an (hour × type) aggregate table
    without ever recomputing history: each micro-batch aggregates only
    its own rows, unions them with the CURRENT values of just the
    (hour, type) partials it touches, re-aggregates, and rewrites ONLY
    the touched hour partitions (dynamic partition overwrite). At
    100 TB this is the idempotent exactly-once rollup recipe: per-batch
    work is proportional to the batch, a replayed batch overwrites its
    own partitions instead of double-counting, and untouched history
    is never read or written.

    The end state after the full replay equals the one-shot batch
    rollup, which is exactly what the DuckDB oracle computes — the
    driver hash-checks the maintained table, not a weaker row count.
    Sums are exact integer micro-units per the determinism rule."""
    with _state_shuffle(spark):
        out = _fresh_sink(sf_dir, "roll")
        events = stream_events(spark, sf_dir)
        v4 = F.round(F.col("value") * 10000, 0).cast("bigint")
        slim = events.filter(F.col("value").isNotNull()).select(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd-HH").alias("hour"),
            "event_type",
            v4.alias("v4"),
        )

        def merge_batch(bdf: DataFrame, batch_id: int) -> None:
            sess = bdf.sparkSession
            partial = bdf.groupBy("hour", "event_type").agg(
                F.count("*").alias("n"), F.sum("v4").alias("s4")
            )
            if os.path.exists(out):  # target exists: merge touched partials
                current = sess.read.parquet(out)
                touched = partial.select("hour").distinct()
                existing = current.join(F.broadcast(touched), "hour")
                merged = (
                    existing.unionByName(partial)
                    .groupBy("hour", "event_type")
                    .agg(F.sum("n").alias("n"), F.sum("s4").alias("s4"))
                )
            else:  # first batch bootstraps the target
                merged = partial
            merged.write.mode("overwrite").option(
                "partitionOverwriteMode", "dynamic"
            ).partitionBy("hour").parquet(out)

        rollup = _run_to_files(slim, out, merge_batch)
    return rollup.select(
        "hour",
        "event_type",
        bigint(F.col("n")).alias("n"),
        (
            F.round(F.col("s4") * F.lit(1.0) / F.col("n"), 0) / F.lit(10000.0)
        ).alias("avg_value"),
    ).orderBy("hour", "event_type")


def _per_user_sessions(sessions: DataFrame) -> DataFrame:
    """Per-user session count, events and mean session length from one
    ``(sw, user_id, n_events)`` row per session."""
    return (
        sessions.groupBy("user_id")
        .agg(
            F.count("*").alias("n_sessions"),
            F.sum("n_events").alias("n_events"),
            F.round(F.avg("n_events"), 6).alias("avg_session_events"),
        )
        .orderBy("user_id")
    )


def streaming_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True streaming session windows: the same 30-min-gap
    ``F.session_window`` as ``session_window_agg``, but evaluated
    incrementally over the file-replay stream — the state store merges
    sessions that grow or fuse across micro-batch boundaries, which is
    the part batch evaluation never exercises. Complete output mode
    emits the final merged sessions, so the per-user rollup equals the
    batch answer and shares its exact lag-algebra oracle. State at
    scale: one open session per (user, gap) kept only until the
    watermark closes it."""
    with _state_shuffle(spark):
        events = stream_events(spark, sf_dir)
        sessions = (
            events.withWatermark("ts", "90 days")
            .groupBy(F.session_window("ts", SESSION_GAP).alias("sw"), "user_id")
            .agg(F.count("*").alias("n_events"))
        )
        result = _run_to_memory(sessions, "complete")
    return _per_user_sessions(result)


def session_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``F.session_window`` 30-min gap sessions per user — the operator
    Structured Streaming session windows use, evaluated on the batch
    fixture so it carries an exact oracle. One row per user: session
    count, events, mean session length."""
    events = load_table(spark, sf_dir, "events")
    sessions = (
        events.groupBy(F.session_window("ts", SESSION_GAP).alias("sw"), "user_id")
        .agg(F.count("*").alias("n_events"))
    )
    return _per_user_sessions(sessions)


def streaming_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup via ``dropDuplicatesWithinWatermark`` — the
    operator that makes the north-star exact-dedup lane incremental.
    State holds one row per key only until the watermark passes it; a
    horizon wider than the fixture's 30-day span makes the streaming
    answer equal batch DISTINCT, which is what the oracle checks. The
    emitted per-type counts are key counts, so they are deterministic
    regardless of which duplicate instance survived."""
    with _state_shuffle(spark):
        events = stream_events(spark, sf_dir)
        deduped = (
            events.withWatermark("ts", "90 days")
            .dropDuplicatesWithinWatermark(["user_id", "event_type"])
            .groupBy("event_type")
            .agg(F.count("*").alias("n_keys"))
        )
        result = _run_to_memory(deduped, "complete")
    return result.orderBy("event_type")


def streaming_growth_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The user-growth curve maintained incrementally: a streaming
    per-user ``min(ts)`` (first-seen) aggregate — state is one
    timestamp per user, updated as the replay advances — whose final
    complete-mode snapshot is rolled up batch-side into the daily
    new-user + cumulative curve. min() is order-independent, so the
    result is identical however the micro-batches split, and the
    oracle is exactly the batch ``growth_new_users_daily`` SQL. (No
    watermark on purpose: the registered-user set IS unbounded state —
    one row per user, the smallest state that answers the question.)"""
    with _state_shuffle(spark):
        events = stream_events(spark, sf_dir)
        firsts = events.groupBy("user_id").agg(F.min("ts").alias("first_ts"))
        result = _run_to_memory(firsts, "complete")
    daily = result.groupBy(
        F.date_trunc("day", "first_ts").alias("day")
    ).agg(F.count("*").alias("new_users"))
    from pyspark.sql import Window as W

    w_cum = W.orderBy("day").rowsBetween(W.unboundedPreceding, 0)
    return daily.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        bigint(F.col("new_users")).alias("new_users"),
        bigint(F.sum("new_users").over(w_cum)).alias("cum_users"),
    ).orderBy("day")


def streaming_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static broadcast enrichment — the one join shape the
    streaming pack was missing: a micro-batched stream joined against
    a bounded dimension table (here a per-user activity profile built
    from batch history; heavy = at-or-above the mean event count, the
    threshold computed in-plan via a broadcast 1-row aggregate, never
    a driver collect). Stream-static inner joins are stateless — each
    micro-batch re-plans the static side, the broadcast hint keeps the
    stream off the shuffle path — so the complete-mode answer equals
    the batch join the oracle runs.

    At 100 TB the profile side is the small one (users ≪ events) and
    broadcasts; if it outgrew broadcast the same plan degrades to a
    shuffled equi-join per micro-batch, still stateless."""
    with _state_shuffle(spark):
        ev = load_table(spark, sf_dir, "events")
        counts = ev.groupBy("user_id").agg(F.count("*").alias("n_events"))
        mean_n = counts.agg(F.avg("n_events").alias("mean_n"))
        profile = counts.crossJoin(F.broadcast(mean_n)).select(
            "user_id",
            F.when(F.col("n_events") >= F.col("mean_n"), F.lit("heavy"))
            .otherwise(F.lit("light"))
            .alias("tier"),
        )
        enriched = stream_events(spark, sf_dir).join(F.broadcast(profile), "user_id")
        agg = enriched.groupBy("event_type", "tier").agg(
            F.count("*").alias("n"), money_sum(F.col("value")).alias("sum_value")
        )
        result = _run_to_memory(agg, "complete")
    return result.orderBy("event_type", "tier")


QUERIES = {
    "streaming_replay_tumbling": streaming_replay_tumbling,
    "streaming_static_enrich": streaming_static_enrich,
    "streaming_dedup_watermark": streaming_dedup_watermark,
    "streaming_growth_users": streaming_growth_users,
    "streaming_pattern_state": streaming_pattern_state,
    "streaming_ewma_state": streaming_ewma_state,
    "streaming_incremental_rollup": streaming_incremental_rollup,
    "streaming_join_clicks_purchases": streaming_join_clicks_purchases,
    "streaming_rate_replay": streaming_rate_replay,
    "streaming_foreach_batch_sink": streaming_foreach_batch_sink,
    "session_window_agg": session_window_agg,
    "streaming_session_window": streaming_session_window,
    "streaming_left_outer_join": streaming_left_outer_join,
}

ORACLES = {
    # the complete-mode first-seen snapshot rolled up by day equals
    # the batch growth curve (min is micro-batch-order independent)
    "streaming_growth_users": """
        WITH first_seen AS (
            SELECT user_id, date_trunc('day', min(ts)) AS day
            FROM events GROUP BY user_id
        ),
        daily AS (SELECT day, CAST(count(*) AS BIGINT) AS new_users
                  FROM first_seen GROUP BY day)
        SELECT strftime(day, '%Y-%m-%d') AS day, new_users,
               CAST(sum(new_users) OVER (ORDER BY day) AS BIGINT)
                   AS cum_users
        FROM daily ORDER BY day
    """,
    # the maintained rollup's end state equals the one-shot batch
    # rollup; micro-int average per the determinism rule
    "streaming_incremental_rollup": """
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d-%H') AS hour,
               event_type,
               CAST(count(*) AS BIGINT) AS n,
               round(sum(CAST(round(value * 10000) AS BIGINT)) * 1.0
                     / count(*)) / 10000.0 AS avg_value
        FROM events WHERE value IS NOT NULL
        GROUP BY 1, 2 ORDER BY 1, 2
    """,
    # the dyadic α=1/2 recurrence is bit-identical between Python's
    # float loop and list_reduce over the same ordered values
    "streaming_ewma_state": """
        SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
               list_reduce(list(value ORDER BY ts, event_id),
                           (a, x) -> (a + x) / 2) AS ewma
        FROM events WHERE value IS NOT NULL
        GROUP BY user_id ORDER BY user_id
    """,
    # stream-static inner join is stateless: complete-mode replay of an
    # in-order stream equals the batch join against the same profile
    "streaming_static_enrich": """
        WITH prof AS (
            SELECT user_id, count(*) AS n_events FROM events GROUP BY 1
        ),
        m AS (SELECT avg(n_events) AS mean_n FROM prof),
        tiers AS (
            SELECT user_id,
                   CASE WHEN n_events >= (SELECT mean_n FROM m)
                        THEN 'heavy' ELSE 'light' END AS tier
            FROM prof
        )
        SELECT e.event_type, t.tier, count(*) AS n,
               CAST(sum(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT)
                   / 100.0 AS sum_value
        FROM events e JOIN tiers t USING (user_id)
        GROUP BY 1, 2 ORDER BY 1, 2
    """,
    # the foreachBatch parquet sink preserves the filtered stream
    # exactly, so reading the sink back equals aggregating the source
    "streaming_foreach_batch_sink": f"""
        SELECT event_type, count(*) AS n,
               min(event_id) AS min_id, max(event_id) AS max_id,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) / 100.0 AS sum_value
        FROM events
        WHERE event_type IN {FOREACH_BATCH_TYPES!r}
        GROUP BY 1 ORDER BY 1
    """,
    # the rate-paced replay joins exactly the ids below the limit, so
    # the streaming answer equals a batch filter + aggregate
    "streaming_rate_replay": f"""
        SELECT event_type, count(*) AS n,
               min(event_id) AS min_id, max(event_id) AS max_id
        FROM events WHERE event_id < {RATE_REPLAY_LIMIT}
        GROUP BY 1 ORDER BY 1
    """,
    # watermark horizon > stream span: streaming dedup == batch DISTINCT
    "streaming_dedup_watermark": """
        SELECT event_type, count(*) AS n_keys
        FROM (SELECT DISTINCT user_id, event_type FROM events)
        GROUP BY 1 ORDER BY 1
    """,
    # hour-tumbling windows align to epoch hours == date_trunc('hour')
    "streaming_replay_tumbling": """
        SELECT date_trunc('hour', ts) AS window_start, event_type,
               count(*) AS n,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) / 100.0 AS sum_value
        FROM events GROUP BY 1, 2
    """,
    # in-order complete replay: streaming join == batch join
    "streaming_join_clicks_purchases": """
        SELECT c.user_id AS user_id, count(*) AS n_pairs
        FROM events c JOIN events p
          ON c.user_id = p.user_id
         AND c.event_type = 'click' AND p.event_type = 'purchase'
         AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
        GROUP BY 1 ORDER BY 1
    """,
    # session_window: a new session starts only when the gap is
    # STRICTLY greater than 30 min — Spark's session interval is
    # [start, last_ts + gap] for merging purposes: an event landing
    # exactly at last_ts + gap still extends the session (probed:
    # events at 00:00 and 00:30 with a 30-min gap yield ONE session
    # [00:00, 01:00)). The first spelling split at >=, which the
    # exact-gap-planting randomized sweep (seed 2468) caught — the
    # driver fixtures' µs-precision gaps can never hit the boundary.
    "session_window_agg": """
        WITH flagged AS (
            SELECT user_id, ts, event_id,
                   CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                            > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s
            FROM events
        ),
        sessions AS (
            SELECT user_id,
                   sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_id
            FROM flagged
        ),
        per_session AS (
            SELECT user_id, session_id, count(*) AS n_events
            FROM sessions GROUP BY 1, 2
        )
        SELECT user_id, count(*) AS n_sessions,
               CAST(sum(n_events) AS BIGINT) AS n_events,
               round(avg(n_events), 6) AS avg_session_events
        FROM per_session GROUP BY user_id ORDER BY user_id
    """,
}

ORACLES["streaming_session_window"] = ORACLES["session_window_agg"]

# the per-user automaton replayed in SQL: a recursive CTE advances one
# event per user per step in (ts, event_id) order — the batch twin of
# the applyInPandasWithState state machine (the in-order, complete
# replay makes stream == batch, which the offline-replay equality test
# in tests/test_streaming.py already pins; this oracle lets the driver
# check VALUES, not just row counts).  Recursion depth = max events
# per user (~hundreds at driver SF), fine for a one-shot oracle.
_SEQ_SQL = "[" + ", ".join(repr(t) for t in PATTERN_SEQ) + "]"
ORACLES["streaming_pattern_state"] = f"""
    WITH RECURSIVE ev AS (
        SELECT user_id, event_type,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events
    ),
    counts AS (SELECT user_id, max(rn) AS n FROM ev GROUP BY user_id),
    state AS (
        SELECT user_id, 0 AS rn, 0 AS progress, 0 AS completed FROM counts
        UNION ALL
        SELECT s.user_id, s.rn + 1,
               CASE WHEN e.event_type = {_SEQ_SQL}[s.progress + 1]
                    THEN CASE WHEN s.progress = {len(PATTERN_SEQ) - 1} THEN 0
                              ELSE s.progress + 1 END
                    WHEN e.event_type = {PATTERN_SEQ[0]!r} THEN 1
                    ELSE 0 END,
               s.completed
                   + CASE WHEN s.progress = {len(PATTERN_SEQ) - 1}
                               AND e.event_type = {PATTERN_SEQ[-1]!r}
                          THEN 1 ELSE 0 END
        FROM state s JOIN ev e ON e.user_id = s.user_id AND e.rn = s.rn + 1
    )
    SELECT s.user_id,
           CAST(s.progress AS INT) AS progress,
           CAST(s.completed AS INT) AS completed,
           CAST(c.n AS BIGINT) AS n_events
    FROM state s JOIN counts c ON s.user_id = c.user_id AND s.rn = c.n
    ORDER BY s.user_id
"""

# left-outer pairs == batch left join restricted to the cutoff region
ORACLES["streaming_left_outer_join"] = f"""
    WITH c AS (
        SELECT user_id AS c_user, event_id AS c_id, ts AS c_ts
        FROM events WHERE event_type = 'click'
          AND ts < TIMESTAMP '{OUTER_JOIN_CUTOFF}'
    ),
    p AS (
        SELECT user_id AS p_user, event_id AS p_id, ts AS p_ts
        FROM events WHERE event_type = 'purchase'
    )
    SELECT c_user AS user_id, count(*) AS n_rows,
           CAST(sum(CASE WHEN p_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_matched,
           CAST(sum(CASE WHEN p_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_unmatched
    FROM c LEFT JOIN p
      ON c_user = p_user AND p_ts >= c_ts
         AND p_ts <= c_ts + INTERVAL 1 HOUR
    GROUP BY 1 ORDER BY 1
"""
