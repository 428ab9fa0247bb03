"""Streaming parity tests (SURVEY §2 R1-R4): the reference is a
stream processor (coroutine message loop); these assert the Structured
Streaming re-expression — file-queue source exactly-once, watermarked
windows with late-data drop, built-in session windows, bounded-state
stream dedup, and the custom applyInPandasWithState sessionizer.

All tests run availableNow + memory sink so they terminate
deterministically; maxFilesPerTrigger=1 forces one micro-batch per
published file, which is how the watermark actually advances."""

from __future__ import annotations

import os
import time
import uuid

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from rabbit_data_pipeline_spark.sinks.stream import memory_write_stream, queue_dir_write_stream, to_message
from rabbit_data_pipeline_spark.sources.stream import MESSAGE_SCHEMA, queue_dir_publish, queue_dir_stream, rate_stream
from rabbit_data_pipeline_spark.streaming import (
    parse_json_messages,
    session_window_agg,
    sessionize_stateful,
    stream_dedup,
    windowed_agg,
)

T0 = "2024-01-01T12:00:00"


def _ts(minutes: float) -> str:
    base = time.mktime(time.strptime(T0, "%Y-%m-%dT%H:%M:%S"))
    return time.strftime("%Y-%m-%dT%H:%M:%S", time.localtime(base + minutes * 60))


def _run(df, name: str):
    q = memory_write_stream(df, name)
    q.awaitTermination(120)
    return df.sparkSession.table(name)


def _publish(qdir, messages, **kw):
    # FileStreamSource batches new files by modification time; spacing
    # publishes >1s apart makes the order unambiguous even on coarse
    # mtime filesystems.
    time.sleep(1.05)
    return queue_dir_publish(qdir, messages, **kw)


VALUE_SCHEMA = StructType([StructField("user_id", StringType()), StructField("amount", LongType())])


def test_queue_roundtrip_exactly_once(spark, tmp_path):
    """R1: messages published to the queue dir arrive once each with the
    canonical schema; a second availableNow run from the same checkpoint
    re-reads nothing (exactly-once bookkeeping)."""
    qdir = str(tmp_path / "q")
    _publish(qdir, [{"key": "a", "value": {"user_id": "u1", "amount": 5}, "ts": _ts(0)}])
    _publish(qdir, [{"key": "b", "value": {"user_id": "u2", "amount": 7}, "ts": _ts(1)}])

    stream = queue_dir_stream(spark, qdir)
    parsed = parse_json_messages(stream, VALUE_SCHEMA)
    name = f"rt_{uuid.uuid4().hex[:8]}"
    out = _run(parsed, name)
    rows = {(r.key, r.user_id, r.amount) for r in out.collect()}
    assert rows == {("a", "u1", 5), ("b", "u2", 7)}

    # exactly-once across restarts: same checkpoint, sink to files
    ckpt = str(tmp_path / "ckpt")
    sink_dir = str(tmp_path / "sink")
    for _ in range(2):  # second run must be a no-op
        q = queue_dir_write_stream(to_message(parsed, key_col="key"), sink_dir, ckpt)
        q.awaitTermination(120)
    sunk = spark.read.json(sink_dir)
    assert sunk.count() == 2


def test_windowed_agg_watermark_drops_late(spark, tmp_path):
    """R2: 1-minute tumbling windows, 10-minute watermark. An event 30
    minutes late (behind the advanced watermark) is dropped; its window
    was finalized without it. The still-open latest window is withheld
    in append mode."""
    qdir = str(tmp_path / "q")
    _publish(qdir, [
        {"key": "1", "value": {"user_id": "u1", "amount": 1}, "ts": _ts(0)},
        {"key": "2", "value": {"user_id": "u1", "amount": 2}, "ts": _ts(0.5)},
    ])
    _publish(qdir, [{"key": "3", "value": {"user_id": "u1", "amount": 4}, "ts": _ts(30)}])
    # the operator applies the watermark computed from batch N-1 during
    # batch N+1 (one-batch propagation lag), so an extra batch must
    # complete before the late arrival is actually filtered
    _publish(qdir, [{"key": "4", "value": {"user_id": "u1", "amount": 8}, "ts": _ts(31)}])
    # late: event-time _ts(0.2) arrives when operator watermark = 20m
    _publish(qdir, [{"key": "5", "value": {"user_id": "u1", "amount": 100}, "ts": _ts(0.2)}])

    stream = queue_dir_stream(spark, qdir, max_files_per_trigger=1)
    parsed = parse_json_messages(stream, VALUE_SCHEMA)
    agg = windowed_agg(
        parsed,
        group_cols=["user_id"],
        aggs=[F.sum("amount").alias("total"), F.count("*").alias("n")],
        window_duration="1 minute",
        watermark="10 minutes",
    )
    out = _run(agg, f"wm_{uuid.uuid4().hex[:8]}")
    emitted = {(r.window_start.minute, r.total, r.n) for r in out.collect()}
    # window t0..t0+1m finalized with ONLY the two on-time events (1+2);
    # the 100-amount late event never lands anywhere.
    assert (0, 3, 2) in emitted
    assert not any(t >= 100 for _, t, _ in emitted)
    # 30m/31m windows still open -> withheld in append mode
    assert all(w == 0 for w, _, _ in emitted)


def test_session_window_agg(spark, tmp_path):
    """R2/R3: built-in gap sessions — events 2 minutes apart merge into
    one session; a 40-minute gap starts a new one; only sessions closed
    by the watermark are emitted."""
    qdir = str(tmp_path / "q")
    _publish(qdir, [
        {"key": "1", "value": {"user_id": "u1", "amount": 1}, "ts": _ts(0)},
        {"key": "2", "value": {"user_id": "u1", "amount": 2}, "ts": _ts(2)},
        {"key": "3", "value": {"user_id": "u2", "amount": 9}, "ts": _ts(1)},
    ])
    _publish(qdir, [{"key": "4", "value": {"user_id": "u1", "amount": 4}, "ts": _ts(60)}])
    _publish(qdir, [{"key": "5", "value": {"user_id": "u1", "amount": 5}, "ts": _ts(61)}])

    stream = queue_dir_stream(spark, qdir, max_files_per_trigger=1)
    parsed = parse_json_messages(stream, VALUE_SCHEMA)
    agg = session_window_agg(
        parsed,
        key_cols=["user_id"],
        aggs=[F.sum("amount").alias("total"), F.count("*").alias("n")],
        gap="5 minutes",
        watermark="10 minutes",
    )
    out = _run(agg, f"sw_{uuid.uuid4().hex[:8]}")
    closed = {(r.user_id, r.total, r.n) for r in out.collect()}
    # u1's first session (events at 0m and 2m) and u2's singleton closed
    # once the watermark passed their gap; the 60/61m session is open.
    assert ("u1", 3, 2) in closed
    assert ("u2", 9, 1) in closed
    assert not any(t >= 4 and u == "u1" for u, t, _ in closed if t != 3)


def test_stream_dedup_within_watermark(spark, tmp_path):
    """R2: dropDuplicatesWithinWatermark keeps the first arrival per key
    — the redelivered message (same key, later batch, inside the
    watermark) is suppressed with bounded state."""
    qdir = str(tmp_path / "q")
    _publish(qdir, [
        {"key": "k1", "value": {"user_id": "u1", "amount": 1}, "ts": _ts(0)},
        {"key": "k2", "value": {"user_id": "u2", "amount": 2}, "ts": _ts(1)},
    ])
    _publish(qdir, [{"key": "k1", "value": {"user_id": "u1", "amount": 1}, "ts": _ts(2)}])  # redelivery

    stream = queue_dir_stream(spark, qdir, max_files_per_trigger=1)
    deduped = stream_dedup(stream, ["key"], watermark="30 minutes")
    out = _run(deduped, f"dd_{uuid.uuid4().hex[:8]}")
    assert sorted(r.key for r in out.collect()) == ["k1", "k2"]


def test_yaml_streaming_pipeline_e2e(spark, tmp_path):
    """C1-C3 x R1-R4 parity: a YAML task definition (the reference's
    whole programming model) compiles to a streaming DAG — queue
    source -> json parse -> watermarked windowed agg -> memory sink —
    and the reference's `cron: -1` run-once trigger maps to
    availableNow."""
    from rabbit_data_pipeline_spark.pipeline.scheduler import Scheduler

    qdir = str(tmp_path / "q")
    _publish(qdir, [
        {"key": "1", "value": {"user_id": "u1", "amount": 3}, "ts": _ts(0)},
        {"key": "2", "value": {"user_id": "u1", "amount": 4}, "ts": _ts(0.5)},
        {"key": "3", "value": {"user_id": "u2", "amount": 9}, "ts": _ts(0.2)},
    ])
    name = f"yamlpipe_{uuid.uuid4().hex[:8]}"
    spec = f"""
stream_rollup:
  tail:
    type: source.stream.queue_dir
    start: true
    path: {qdir}
    output: [parse]
  parse:
    type: transform.parse_json
    schema: "user_id string, amount long"
    output: [agg]
  agg:
    type: transform.windowed_agg
    window: "1 minute"
    watermark: "10 minutes"
    group_by: [user_id]
    aggs:
      total: "sum(amount)"
      n: "count(*)"
    output: [out]
  out:
    type: sink.stream.memory
    name: {name}
    mode: update
    cron: -1
"""
    sch = Scheduler.from_yaml(spark, spec)
    sch.run("stream_rollup")
    assert len(sch.streaming_queries) == 1
    q = sch.streaming_queries[0]
    q.awaitTermination(120)
    rows = {(r.user_id, r.total, r.n) for r in spark.table(name).collect()}
    assert rows == {("u1", 7, 2), ("u2", 9, 1)}
    # A fresh checkpoint records the session's shuffle count as its state
    # partitions: one state-store task per task slot per micro-batch.
    want = int(os.environ.get("SPARK_GRAFT_SHUFFLE", spark.sparkContext.defaultParallelism))
    assert q.lastProgress["stateOperators"][0]["numShufflePartitions"] == want


def _drain_windows(spark, qdir, ckpt, sink) -> set[int]:
    """One availableNow drain of 1-minute windows per user into `sink`
    (update mode, foreachBatch); returns the state-partition counts its
    micro-batches reported."""
    parsed = parse_json_messages(queue_dir_stream(spark, qdir), VALUE_SCHEMA)
    agg = windowed_agg(
        parsed,
        group_cols=["user_id"],
        aggs=[F.sum("amount").alias("total"), F.count("*").alias("n")],
        window_duration="1 minute",
        watermark="10 minutes",
    )
    q = (
        agg.writeStream.outputMode("update")
        .foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    return {p["stateOperators"][0]["numShufflePartitions"] for p in q.recentProgress if p["stateOperators"]}


def test_restart_keeps_checkpoint_state_partitions(spark, tmp_path):
    """A checkpoint keeps the state-partition count it was created with:
    a query first started at 32 shuffle partitions restarts at 32 under
    the session default, and its window state carries over intact."""
    qdir, ckpt = str(tmp_path / "q"), str(tmp_path / "ckpt")
    final = {}

    def sink(batch, _epoch):
        for r in batch.collect():
            final[(r.window_start, r.user_id)] = (r.total, r.n)

    _publish(qdir, [
        {"key": "1", "value": {"user_id": "u1", "amount": 3}, "ts": _ts(0)},
        {"key": "2", "value": {"user_id": "u2", "amount": 5}, "ts": _ts(1.5)},
    ])
    default = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    try:
        assert _drain_windows(spark, qdir, ckpt, sink) == {32}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", default)
    # The second file adds to both first-run windows and opens a new one.
    _publish(qdir, [
        {"key": "3", "value": {"user_id": "u1", "amount": 4}, "ts": _ts(0.5)},
        {"key": "4", "value": {"user_id": "u2", "amount": 6}, "ts": _ts(1.2)},
        {"key": "5", "value": {"user_id": "u1", "amount": 7}, "ts": _ts(3)},
    ])
    assert _drain_windows(spark, qdir, ckpt, sink) == {32}

    batch = (
        parse_json_messages(spark.read.schema(MESSAGE_SCHEMA).json(qdir), VALUE_SCHEMA)
        .groupBy(F.window("ts", "1 minute").start.alias("window_start"), "user_id")
        .agg(F.sum("amount").alias("total"), F.count("*").alias("n"))
    )
    assert final == {(r.window_start, r.user_id): (r.total, r.n) for r in batch.collect()}
    # u1@0m (3+4) and u2@1m (5+6) needed the first run's state.
    assert sorted(final.values()) == [(7, 1), (7, 2), (11, 2)]


def test_await_drain_stops_and_raises_on_timeout(spark):
    """A drain that outlives its timeout is stopped and raises, so the
    registry never reads a half-filled memory table as a result."""
    from rabbit_data_pipeline_spark.queries.streaming_q import _await_drain

    name = f"slow_{uuid.uuid4().hex[:8]}"
    q = rate_stream(spark).writeStream.format("memory").queryName(name).trigger(availableNow=True).start()
    with pytest.raises(TimeoutError, match="did not drain"):
        _await_drain(q, 0.001)
    assert not q.isActive


def test_sessionize_stateful(spark, tmp_path):
    """R3: applyInPandasWithState sessionizer — a gap inside the data
    closes the first session and emits it; the trailing session stays
    open in state (timeout flush needs a later batch, which availableNow
    doesn't produce)."""
    qdir = str(tmp_path / "q")
    _publish(qdir, [
        {"key": "1", "value": {"user_id": "u1", "amount": 1}, "ts": _ts(0)},
        {"key": "2", "value": {"user_id": "u1", "amount": 2}, "ts": _ts(3)},
        {"key": "3", "value": {"user_id": "u1", "amount": 4}, "ts": _ts(120)},
    ])

    stream = queue_dir_stream(spark, qdir)
    parsed = parse_json_messages(stream, VALUE_SCHEMA).select("user_id", "ts", F.col("amount").alias("value"))
    sessions = sessionize_stateful(parsed, gap_minutes=30)
    out = _run(sessions, f"st_{uuid.uuid4().hex[:8]}")
    rows = [(r.user_id, r.n_events, r.total_value) for r in out.collect()]
    assert rows == [("u1", 2, 3)]


def test_sessionize_stateful_event_time_timeout(spark, tmp_path):
    """R3 (event-time mode): the idle session flushes when the
    WATERMARK passes session_end + gap — pure data time, no wall-clock
    wait. maxFilesPerTrigger=1 forces file-per-batch so the second
    file's later event advances the watermark past u1's timeout; the
    engine's trailing no-data batch then fires the timer."""
    qdir = str(tmp_path / "q")
    _publish(qdir, [
        {"key": "1", "value": {"user_id": "u1", "amount": 1}, "ts": _ts(0)},
        {"key": "2", "value": {"user_id": "u1", "amount": 2}, "ts": _ts(3)},
    ])
    _publish(qdir, [
        # 120 min later: watermark -> 110 min, far past u1's 33-min timeout
        {"key": "3", "value": {"user_id": "u2", "amount": 9}, "ts": _ts(120)},
    ])

    stream = queue_dir_stream(spark, qdir, max_files_per_trigger=1)
    parsed = parse_json_messages(stream, VALUE_SCHEMA).select("user_id", "ts", F.col("amount").alias("value"))
    sessions = sessionize_stateful(parsed, gap_minutes=30, timeout="event", watermark="10 minutes")
    out = _run(sessions, f"ev_{uuid.uuid4().hex[:8]}")
    rows = {(r.user_id, r.n_events, r.total_value) for r in out.collect()}
    # u1's session closed by the watermark; u2's stays open in state.
    assert rows == {("u1", 2, 3)}


def test_upsert_sink_idempotent_exactly_once(spark, tmp_path):
    """R7: foreachBatch keyed upsert. Last-writer-wins within a batch,
    upsert across batches, and a checkpoint-restart replays nothing —
    the merge's idempotence turns at-least-once delivery into
    exactly-once table state."""
    from rabbit_data_pipeline_spark.sinks.stream import upsert_write_stream
    from rabbit_data_pipeline_spark.sources.stream import queue_dir_publish, queue_dir_stream
    from rabbit_data_pipeline_spark.streaming import parse_json_messages

    qdir = str(tmp_path / "q")
    table = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")
    _publish(qdir, [
        {"key": "a", "value": {"user_id": "u1", "amount": 1}, "ts": _ts(0)},
        {"key": "b", "value": {"user_id": "u2", "amount": 2}, "ts": _ts(1)},
    ])
    _publish(qdir, [
        {"key": "c", "value": {"user_id": "u1", "amount": 5}, "ts": _ts(2)},  # updates u1
    ])

    def run():
        stream = parse_json_messages(queue_dir_stream(spark, qdir), VALUE_SCHEMA)
        q = upsert_write_stream(
            stream.select("user_id", "amount", "ts"),
            table, keys=["user_id"], checkpoint=ckpt, order_col="ts",
        )
        q.awaitTermination(120)

    run()
    state = {(r.user_id, r.amount) for r in spark.read.parquet(table).collect()}
    assert state == {("u1", 5), ("u2", 2)}

    run()  # restart from checkpoint: no new input → table unchanged
    state2 = {(r.user_id, r.amount) for r in spark.read.parquet(table).collect()}
    assert state2 == state

    _publish(qdir, [{"key": "d", "value": {"user_id": "u2", "amount": 9}, "ts": _ts(3)}])
    run()
    state3 = {(r.user_id, r.amount) for r in spark.read.parquet(table).collect()}
    assert state3 == {("u1", 5), ("u2", 9)}


def test_sessionize_streaming_matches_batch_semantics(spark, tmp_path):
    """Parity: the streaming stateful sessionizer (event-time mode,
    multi-batch) must emit exactly the sessions a batch gap-split of
    the same events produces, once the watermark passes them — the
    replay-determinism property that makes streaming sessionization
    trustworthy for backfills."""
    gap_min = 30
    events = [  # (user, minute, amount) — u1: two sessions; u2: one
        ("u1", 0, 1), ("u1", 10, 2), ("u1", 90, 4),
        ("u2", 5, 7), ("u2", 20, 8),
    ]

    # batch ground truth: sort per user, split on gap > 30 min
    def batch_sessions():
        out = []
        byu: dict = {}
        for u, m, a in sorted(events, key=lambda e: (e[0], e[1])):
            byu.setdefault(u, []).append((m, a))
        for u, evs in byu.items():
            start, last, n, tot = evs[0][0], evs[0][0], 0, 0
            for m, a in evs:
                if n > 0 and m - last > gap_min:
                    out.append((u, start, last, n, tot))
                    start, n, tot = m, 0, 0
                last, n, tot = m, n + 1, tot + a
            out.append((u, start, last, n, tot))
        return {s for s in out}

    qdir = str(tmp_path / "q")
    _publish(qdir, [
        {"key": str(i), "value": {"user_id": u, "amount": a}, "ts": _ts(m)}
        for i, (u, m, a) in enumerate(events)
    ])
    # sentinel batch far in the future: watermark passes EVERY session
    _publish(qdir, [{"key": "zz", "value": {"user_id": "zz", "amount": 0}, "ts": _ts(100000)}])

    stream = queue_dir_stream(spark, qdir, max_files_per_trigger=1)
    parsed = parse_json_messages(stream, VALUE_SCHEMA).select("user_id", "ts", F.col("amount").alias("value"))
    sessions = sessionize_stateful(parsed, gap_minutes=gap_min, timeout="event", watermark="1 minute")
    out = _run(sessions, f"par_{uuid.uuid4().hex[:8]}")

    base = time.mktime(time.strptime(T0, "%Y-%m-%dT%H:%M:%S"))
    got = {
        (
            r.user_id,
            int((r.session_start.timestamp() - base) / 60),
            int((r.session_end.timestamp() - base) / 60),
            r.n_events,
            r.total_value,
        )
        for r in out.collect()
        if r.user_id != "zz"
    }
    assert got == batch_sessions()


def test_chunked_replay_parity_with_single_batch(spark, tmp_path, sf_smoke):
    """Batch-equivalence under chunked replay: the doubled events feed
    processed one FILE per micro-batch (maxFilesPerTrigger=1 — many
    batches, state carried across them) must emit exactly the same
    deduped set as the batch DISTINCT. The watermark delay exceeds the
    data's time span, so no row is ever late regardless of file order
    — isolating the cross-batch state machinery itself."""
    from rabbit_data_pipeline_spark.session import load_tables
    from rabbit_data_pipeline_spark.streaming import stream_dedup

    ev = load_tables(spark, sf_smoke, ("events",))["events"].select(
        "event_id", F.unix_micros("ts").alias("ts_us"), "user_id", "event_type"
    )
    qdir = str(tmp_path / "queue")
    ev.unionAll(ev).repartition(6).write.json(qdir)
    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts_us", LongType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(qdir)
        .withColumn("ts", F.timestamp_micros(F.col("ts_us")))
    )
    deduped = stream_dedup(stream, ["event_id"], watermark="876000 hours").select(
        "event_id", "user_id", "event_type"
    )
    name = f"chunked_{uuid.uuid4().hex[:8]}"
    q = (
        deduped.writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(300)
    assert q.lastProgress is not None and q.lastProgress["batchId"] >= 3, "expected multiple micro-batches"
    got = {tuple(r) for r in spark.table(name).collect()}
    want = {tuple(r) for r in ev.select("event_id", "user_id", "event_type").distinct().collect()}
    assert got == want


def test_rollup_stream_fence_rejects_replay(spark, tmp_path):
    """A crash between sink write and checkpoint commit replays the
    micro-batch; the in-table epoch fence must make the second merge
    of the same epoch a no-op (a partial merge is NOT idempotent —
    without the fence the replay double-counts)."""
    from rabbit_data_pipeline_spark.sinks.stream import merge_rollup_batch

    df = spark.createDataFrame([("a", 1.5), ("a", 2.5), ("b", 1.0)], ["k", "v"])
    table = str(tmp_path / "rollup")
    assert merge_rollup_batch(df, 0, table, ["k"], "v") is True
    assert merge_rollup_batch(df, 0, table, ["k"], "v") is False  # replay fenced
    got = {r["k"]: (r["n"], r["sum_micro"]) for r in spark.read.parquet(table).collect()}
    assert got == {"a": (2, 4_000_000), "b": (1, 1_000_000)}
    assert merge_rollup_batch(df, 1, table, ["k"], "v") is True  # next epoch merges
    got = {r["k"]: r["n"] for r in spark.read.parquet(table).collect()}
    assert got == {"a": 4, "b": 2}
