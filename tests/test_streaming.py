"""Structured Streaming tests (B36-B37, SURVEY §5.2.5).

- replay equality: the streaming tumbling aggregation equals the batch
  aggregation over the same fixture.
- watermark late-drop: synthetic lateness (the reference never emits
  out-of-order events — §1.2) injected as a second file; append-mode
  windows finalized before the late row arrive exclude it.
- stateful pattern tracking: the streaming state-machine totals match
  an offline replay of the same transition rules.
"""

from __future__ import annotations

import os
import time

import pandas as pd
import pytest

from pyspark.sql import functions as F

from eventstream_benchmark_spark.io import load_table, stream_events
from eventstream_benchmark_spark.streaming.queries import (
    PATTERN_SEQ,
    _in_event_order,
    _run_to_files,
    _run_to_memory,
    streaming_pattern_state,
    streaming_replay_tumbling,
)


def test_replay_equals_batch(spark, sf_small):
    got = (
        streaming_replay_tumbling(spark, sf_small)
        .toPandas()
        .sort_values(["window_start", "event_type"])
        .reset_index(drop=True)
    )
    events = load_table(spark, sf_small, "events")
    want = (
        events.groupBy(
            F.date_trunc("hour", "ts").alias("window_start"), "event_type"
        )
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 6).alias("sum_value"))
        .toPandas()
        .sort_values(["window_start", "event_type"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_watermark_drops_late_rows(spark, tmp_path):
    """Three-file replay with maxFilesPerTrigger=1: file3 carries a row
    hours older than the watermark established by files 1-2. The
    watermark advance lags its source batch by one (computed at batch
    N end, effective in batch N+1), so the middle file is what makes
    the 10-minute watermark live before the late row arrives —
    append-mode output must exclude it."""
    schema = "event_id long, ts timestamp, user_id long, v double"
    on_time = [(i, f"2024-01-01 0{h}:{m:02d}:00", 1, 1.0)
               for i, (h, m) in enumerate((hh, mm) for hh in range(5) for mm in (5, 25, 45))]
    mid = [(98, "2024-01-01 04:50:00", 1, 1.0)]
    late = [(99, "2024-01-01 01:07:00", 1, 1.0)]  # hours before the watermark

    src = str(tmp_path / "src")
    os.makedirs(src)
    import time as _time

    for batch in (on_time, mid, late):
        spark.createDataFrame(
            [(i, pd.Timestamp(t).to_pydatetime(), u, v) for i, t, u, v in batch], schema
        ).coalesce(1).write.mode("append").parquet(src)
        _time.sleep(1.2)  # file source orders batches by mod time

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
    )
    out = _run_to_memory(stream, "append").select(F.col("w.start").alias("ws"), "n").toPandas()
    hour1 = out[out["ws"] == pd.Timestamp("2024-01-01 01:00:00")]
    # 3 on-time rows in hour 1; the late 01:07 row must NOT be counted
    assert not hour1.empty
    assert int(hour1["n"].iloc[0]) == 3


def test_foreachbatch_sink_parquet(spark, sf_small, tmp_path):
    """B36's foreachBatch surface: replay the events fixture through a
    stream and land each micro-batch in a parquet sink via custom
    batch logic; total landed rows equal the source row count."""
    out = str(tmp_path / "landed")

    def land(batch_df, batch_id: int):
        (
            batch_df.withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(out)
        )

    landed = _run_to_files(stream_events(spark, sf_small), out, land)
    assert landed.count() == load_table(spark, sf_small, "events").count()
    assert "batch_id" in landed.columns


def _assert_pattern_state_matches_offline_replay(spark, sf_dir):
    got = streaming_pattern_state(spark, sf_dir).toPandas().set_index("user_id")

    events = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "ts", "event_id", "event_type")
        .toPandas()
        .sort_values(["user_id", "ts", "event_id"])
    )
    for user, grp in events.groupby("user_id"):
        progress = completed = 0
        for et in grp["event_type"]:
            if et == PATTERN_SEQ[progress]:
                progress += 1
                if progress == len(PATTERN_SEQ):
                    completed += 1
                    progress = 0
            elif et == PATTERN_SEQ[0]:
                progress = 1
            else:
                progress = 0
        row = got.loc[user]
        assert int(row["n_events"]) == len(grp)
        assert int(row["completed"]) == completed, f"user {user}"
        assert int(row["progress"]) == progress, f"user {user}"


def test_pattern_state_matches_offline_replay(spark, sf_small):
    _assert_pattern_state_matches_offline_replay(spark, sf_small)


def test_in_event_order_concatenates_then_sorts():
    """Chunks arrive in no particular order; the fold sees one
    ``(ts, event_id)`` order across all of them."""
    ts = pd.to_datetime(["2024-01-01 00:00:02", "2024-01-01 00:00:01",
                         "2024-01-01 00:00:01", "2024-01-01 00:00:00"])
    pdf = pd.DataFrame({"ts": ts, "event_id": [7, 6, 5, 8], "v": ["a", "b", "c", "d"]})
    chunks = [pdf.iloc[:2], pdf.iloc[2:]]
    assert _in_event_order(iter(chunks), "v") == ["d", "c", "b", "a"]
    assert _in_event_order(iter(chunks[1:]), "v") == ["d", "c"]
    assert _in_event_order(iter([]), "v") == []


def test_state_functions_fold_multi_chunk_batches(spark, sf_small):
    """With two records per Arrow batch every user's micro-batch reaches
    the state function as several chunks; both folds must still replay
    each user's events in ``(ts, event_id)`` order."""
    from eventstream_benchmark_spark.streaming.queries import (
        ORACLES,
        streaming_ewma_state,
    )
    from tests.oracle_harness import check_query

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "2")
    try:
        _assert_pattern_state_matches_offline_replay(spark, sf_small)
        issues = check_query(spark, sf_small, "streaming_ewma_state",
                             streaming_ewma_state, ORACLES["streaming_ewma_state"])
        assert not issues, "; ".join(issues)
    finally:
        spark.conf.set(key, prev)


def test_stateful_batches_run_one_wave(spark, sf_small):
    """The state store has one shard per core, so each stateful
    micro-batch is one wave of tasks, and the session's shuffle width
    is restored after the run."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Shards(StreamingQueryListener):
        def __init__(self):
            self.seen: list[int] = []
            self.terminated = 0

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            ops = event.progress.stateOperators
            if ops:
                self.seen.append(int(ops[0].numShufflePartitions))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            self.terminated += 1

    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    listener = Shards()
    spark.streams.addListener(listener)
    try:
        streaming_pattern_state(spark, sf_small).collect()
        deadline = time.monotonic() + 10  # events arrive asynchronously
        while not listener.terminated and time.monotonic() < deadline:
            time.sleep(0.01)
    finally:
        spark.streams.removeListener(listener)
    assert listener.seen
    assert set(listener.seen) == {spark.sparkContext.defaultParallelism}
    assert spark.conf.get(key) == prev


def _run_twice(spark, sf_dir: str, name: str) -> list[pd.DataFrame]:
    """Two back-to-back runs of streaming query ``name``, each sorted
    on every column."""
    from eventstream_benchmark_spark.streaming import queries as sq

    runs = []
    for _ in range(2):
        pdf = sq.QUERIES[name](spark, sf_dir).toPandas()
        cols = sorted(pdf.columns)
        runs.append(pdf.reindex(cols, axis=1).sort_values(cols).reset_index(drop=True))
    return runs


def test_foreachbatch_sinks_are_rerun_idempotent(spark, sf_small):
    """The fixed per-fixture sink root (`_fresh_sink`) is WIPED on every
    invocation, so back-to-back runs must produce identical results —
    a stale checkpoint would no-op the second replay and a stale sink
    would double-count (bench.py and the driver both invoke each query
    more than once per round)."""
    for name in ("streaming_foreach_batch_sink", "streaming_incremental_rollup"):
        a, b = _run_twice(spark, sf_small, name)
        assert a.equals(b), f"{name}: rerun diverged"


def test_memory_sinks_leave_no_views(spark, sf_small):
    """Each memory-sink query drops its sink's view once the result
    frame is bound: two runs of each leave no ``esb_sink_*`` or
    ``esb_rate_*`` table in the session and return equal rows."""
    for name in ("streaming_replay_tumbling", "streaming_pattern_state",
                 "streaming_rate_replay"):
        a, b = _run_twice(spark, sf_small, name)
        assert len(a) > 0
        pd.testing.assert_frame_equal(a, b)
    left = [t.name for t in spark.catalog.listTables()
            if t.name.startswith(("esb_sink_", "esb_rate_"))]
    assert left == []


def test_stream_events_reads_fixture_in_place(spark, sf_small, tmp_path):
    """The replay reads the committed single-file table and a
    Spark-written ``events.parquet/`` directory alike, with
    ``load_table``'s schema and rows, and writes nothing to the fixture."""
    before = sorted(os.listdir(sf_small))
    batch = load_table(spark, sf_small, "events")
    batch.repartition(3).write.parquet(str(tmp_path / "events.parquet"))
    for sf_dir in (sf_small, str(tmp_path)):
        got = _run_to_memory(stream_events(spark, sf_dir), "append")
        assert got.schema == batch.schema
        assert got.exceptAll(batch).isEmpty() and batch.exceptAll(got).isEmpty()
    assert sorted(os.listdir(sf_small)) == before
