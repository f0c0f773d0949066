"""Streaming twins validated against their batch equivalents: the
file-sourced stream is driven micro-batch by micro-batch into a memory
sink and compared with the one-shot batch answer."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from toy_vector_db_spark.streaming.events import (
    dedup_stream, followup_pairs_stream, hourly_rollup_stream,
    read_event_stream, run_available_now, run_to_memory, sessionize_stream,
    sessionize_stream_windows,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    """Events as proper-timestamp parquet split into several files so
    maxFilesPerTrigger produces multiple micro-batches. workload._t
    normalizes whatever ts encoding the testdata carries (TIMESTAMP_NTZ
    micros currently; nanos-as-long historically) to TIMESTAMP."""
    from toy_vector_db_spark.workload import _t
    df = _t(spark, SF, "events")
    path = str(tmp_path_factory.mktemp("events_stream"))
    df.repartition(4).write.mode("overwrite").parquet(path)
    return path


def _drain(query):
    query.processAllAvailable()
    query.stop()


def test_read_event_stream_empty_dir_and_conf_scoped(spark, tmp_path):
    # files arriving later is a normal streaming setup: an empty source
    # dir must yield a stream (plain TIMESTAMP schema fallback), and the
    # footer-peek must not leak the legacy nanosAsLong conf (r3 advice)
    empty = str(tmp_path / "not_yet")
    import os
    os.makedirs(empty)
    # whatever the conf was before (a prior nanos-fixture stream in the
    # shared session leaves it "true" BY DESIGN — the stream scan needs
    # it), the empty-dir peek must leave it exactly as it found it
    before = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None)
    df = read_event_stream(spark, empty, None)
    assert df.isStreaming
    assert dict(df.dtypes)["ts"] == "timestamp"
    after = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None)
    assert after == before
    # and draining the empty stream works (no rows, no error)
    _drain(run_to_memory(df.groupBy().count(), "empty_t", "complete"))


def test_hourly_rollup_stream_matches_batch(spark, events_dir):
    stream = hourly_rollup_stream(read_event_stream(spark, events_dir))
    _drain(run_to_memory(stream, "rollup_t", "complete"))
    got = {(r["bucket_epoch"], r["event_type"]): (r["n_events"], r["sum_value"])
           for r in spark.table("rollup_t").collect()}
    batch = spark.read.parquet(events_dir) \
        .groupBy(F.unix_timestamp(F.window("ts", "1 hour").getField("start"))
                 .alias("bucket_epoch"), "event_type") \
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("s"))
    want = {(r["bucket_epoch"], r["event_type"]): (r["n"], r["s"])
            for r in batch.collect()}
    assert got == want


def test_dedup_stream_drops_replays(spark, events_dir, tmp_path):
    # duplicate every event once -> stream dedup must halve it
    dup_dir = str(tmp_path / "dup")
    base = spark.read.parquet(events_dir)
    base.union(base).repartition(3).write.mode("overwrite").parquet(dup_dir)
    stream = dedup_stream(read_event_stream(spark, dup_dir, None))
    _drain(run_to_memory(stream, "dedup_t", "append"))
    assert spark.table("dedup_t").count() == base.count()


def test_sessionize_stream_totals(spark, events_dir):
    stream = sessionize_stream(read_event_stream(spark, events_dir, None))
    _drain(run_to_memory(stream, "sess_t", "update"))
    # update mode: last row per user wins
    from pyspark.sql import Window
    latest = spark.table("sess_t").groupBy("user_id") \
        .agg(F.max("n_events").alias("n_events"),
             F.max("n_sessions").alias("n_sessions"))
    rows = latest.collect()
    batch_counts = {r["user_id"]: r["cnt"] for r in
                    spark.read.parquet(events_dir).groupBy("user_id")
                    .agg(F.count("*").alias("cnt")).collect()}
    assert {r["user_id"]: r["n_events"] for r in rows} == batch_counts
    for r in rows:
        assert 1 <= r["n_sessions"] <= r["n_events"]


def test_session_window_stream_matches_batch(spark, events_dir):
    """FULL value parity: session_window streaming sessionization over a
    multi-batch drain (4 files, 1 per trigger — so events arrive OUT of
    event-time order across micro-batches) must equal the batch
    per-session aggregation exactly: same (user, start, end, n_events)
    multiset. This is the gate the arrival-order stateful sessionizer
    cannot pass in general — the event-time rewrite can."""
    gap_min = 30
    stream = sessionize_stream_windows(
        read_event_stream(spark, events_dir, 1), gap_minutes=gap_min)
    _drain(run_to_memory(stream, "sess_win_t", "complete"))
    got = {(r["user_id"], r["session_start"], r["session_end"]): r["n_events"]
           for r in spark.table("sess_win_t").collect()}

    from toy_vector_db_spark.operators.sessions import with_session_ids
    batch = with_session_ids(spark.read.parquet(events_dir),
                             gap_minutes=gap_min) \
        .groupBy("user_id", "session_id") \
        .agg(F.min("ts").alias("session_start"),
             (F.max("ts") + F.expr(f"INTERVAL {gap_min} MINUTES"))
             .alias("session_end"),
             F.count("*").alias("n_events"))
    want = {(r["user_id"], r["session_start"], r["session_end"]): r["n_events"]
            for r in batch.collect()}
    assert got == want
    assert len(got) > 0


def test_stream_stream_join_multi_batch_matches_batch(spark, events_dir):
    """Stream-STREAM interval join across micro-batches: with 4 files
    arriving 1 per trigger in arbitrary event-time order, a pair's two
    sides can land in different batches — the join state must hold them
    until matched. Watermark exceeds the dataset span, so nothing is
    late and the drain must equal the batch self-join exactly."""
    lhs = read_event_stream(spark, events_dir, 1)
    rhs = read_event_stream(spark, events_dir, 1)
    stream = followup_pairs_stream(lhs, rhs, gap_minutes=30,
                                   watermark="2000 hours")
    _drain(run_to_memory(stream, "follow_t", "append"))
    got = {(r["user_id"], r["a_id"], r["b_id"])
           for r in spark.table("follow_t").collect()}
    e = spark.read.parquet(events_dir)
    a = e.select("user_id", F.col("event_id").alias("a_id"),
                 F.col("ts").alias("a_ts"))
    b = e.select(F.col("user_id").alias("ub"),
                 F.col("event_id").alias("b_id"), F.col("ts").alias("b_ts"))
    want = {(r["user_id"], r["a_id"], r["b_id"]) for r in a.join(
        b, (a["user_id"] == b["ub"]) & (b["b_ts"] > a["a_ts"])
        & (b["b_ts"] <= a["a_ts"] + F.expr("INTERVAL 30 MINUTES")))
        .select("user_id", "a_id", "b_id").collect()}
    assert got == want
    assert len(got) > 0


@pytest.mark.parametrize("files_per_trigger", [None, 1])
def test_no_data_batches_off_drains_equal(spark, events_dir, tmp_path,
                                          files_per_trigger):
    """The bounded drains of events_dedup_streaming and
    events_followups_streaming skip the trailing no-data micro-batch:
    dropDuplicatesWithinWatermark and a stream-stream inner join emit
    in data batches, so with noDataMicroBatches off the drained output
    must equal the default-config drain — in one batch and in many."""
    key = "spark.sql.streaming.noDataMicroBatches.enabled"
    dup_dir = str(tmp_path / "dup")
    base = spark.read.parquet(events_dir)
    base.union(base).repartition(3).write.mode("overwrite").parquet(dup_dir)

    def drains(tag):
        dedup = f"ndmb_dedup_{tag}_{files_per_trigger}"
        follow = f"ndmb_follow_{tag}_{files_per_trigger}"
        run_available_now(dedup_stream(read_event_stream(
            spark, dup_dir, files_per_trigger)), dedup, "append")
        run_available_now(followup_pairs_stream(
            read_event_stream(spark, events_dir, files_per_trigger),
            read_event_stream(spark, events_dir, files_per_trigger),
            gap_minutes=30), follow, "append")
        return (sorted(spark.table(dedup).collect()),
                sorted(spark.table(follow).collect()))

    default = drains("default")
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        off = drains("off")
    finally:
        spark.conf.set(key, prev)
    assert default[0] and default[1]
    assert off == default


def test_watermark_drops_late_data(spark, tmp_path):
    """A late event arriving after the watermark passed its window is
    excluded from the emitted aggregate.

    Spark filters late events against the PREVIOUS batch's watermark
    (watermarkForLateEvents lags watermarkForEviction by one batch), so
    the late event arrives two batches after the window's data."""
    import os
    from datetime import datetime

    from toy_vector_db_spark.streaming.events import EVENTS_DDL
    d = str(tmp_path / "late")
    batches = [
        # batch 0: the 10:00 window's real content + a 13:30 event that
        # advances the watermark to 11:30, past the window end
        [(1, datetime(2024, 1, 1, 10, 0, 5), 1, "click", 1.0, None),
         (2, datetime(2024, 1, 1, 13, 30, 0), 1, "click", 1.0, None)],
        # batch 1: watermark carrier only
        [(3, datetime(2024, 1, 1, 14, 30, 0), 1, "click", 1.0, None)],
        # batch 2: event 4 is LATE (10:30 < every in-force watermark)
        [(4, datetime(2024, 1, 1, 10, 30, 0), 1, "click", 5.0, None),
         (5, datetime(2024, 1, 1, 15, 30, 0), 1, "click", 1.0, None)],
    ]
    flat = str(tmp_path / "flat")
    os.makedirs(flat)
    for i, rows_ in enumerate(batches):
        sub = f"{d}/f{i}"
        spark.createDataFrame(rows_, EVENTS_DDL).coalesce(1).write.parquet(sub)
        src = next(p for p in os.listdir(sub) if p.endswith(".parquet"))
        dst = f"{flat}/{i}.parquet"
        os.rename(f"{sub}/{src}", dst)
        os.utime(dst, (1000 + i, 1000 + i))  # file source orders by mtime

    stream = hourly_rollup_stream(read_event_stream(spark, flat, 1),
                                  watermark="2 hours")
    query = run_to_memory(stream, "late_t", "append")
    query.processAllAvailable()
    dropped = sum(p["stateOperators"][0]["numRowsDroppedByWatermark"]
                  for p in query.recentProgress if p["stateOperators"])
    query.stop()
    rows = {r["bucket_epoch"]: (r["n_events"], r["sum_value"])
            for r in spark.table("late_t").collect()}
    bucket_10 = int(datetime(2024, 1, 1, 10).timestamp())
    # closed 10:00 window holds only event 1 — the late 5.0 never lands
    assert rows[bucket_10] == (1, 1.0)
    assert dropped == 1
