"""Streaming queries with batch oracles (SURVEY §2 R1-R4).

Structured Streaming's model — a streaming query is an incremental
computation of the same answer a batch query gives over the data seen
so far — makes streaming oracle-checkable: feed the events table
through the file-queue source, run the streaming operator with an
availableNow trigger (one micro-batch over everything), and the
emitted result must equal the batch/DuckDB computation of the same
aggregate. Update mode emits each touched group's final state exactly
once for a single batch, so row sets match exactly.

This is the strongest correctness statement we can make about the
streaming layer without a broker: same code path a cluster runs
(readStream → watermark → stateful op → sink), gated by value hashes,
not just "produced rows".
"""

from __future__ import annotations

import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StringType, StructField, StructType

from rabbit_data_pipeline_spark.functions.exact import dsum, sql_dsum
from rabbit_data_pipeline_spark.operators.text import WS_RUN
from rabbit_data_pipeline_spark.queries import register
from rabbit_data_pipeline_spark.session import EVENTS_US, load_tables

TRANSPORT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts_us", LongType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
    ]
)


def _events_queue(spark: SparkSession, sf_dir: str, doubled: bool = False) -> DataFrame:
    """Land the events table in a fresh queue dir (json lines, ts as
    epoch-µs long so the timestamp survives transport bit-exactly),
    then open it as a stream. availableNow + no file cap = exactly one
    micro-batch over the full table."""
    ev = load_tables(spark, sf_dir, ("events",))["events"].select(
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        "user_id",
        "event_type",
        "value",
    )
    if doubled:
        ev = ev.unionAll(ev)
    qdir = os.path.join(tempfile.gettempdir(), f"rdps_stream_{uuid.uuid4().hex[:12]}")
    ev.write.mode("overwrite").json(qdir)
    stream = spark.readStream.schema(TRANSPORT_SCHEMA).json(qdir)
    return stream.withColumn("ts", F.timestamp_micros("ts_us")).drop("ts_us")


def _run_to_table(df: DataFrame, mode: str) -> DataFrame:
    name = f"rdps_sq_{uuid.uuid4().hex[:12]}"
    q = df.writeStream.format("memory").queryName(name).outputMode(mode).trigger(availableNow=True).start()
    q.awaitTermination(300)
    return df.sparkSession.table(name)


@register(
    "stream_windowed_agg",
    oracle=f"""
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
           event_type,
           {sql_dsum('value')} AS total_value,
           COUNT(*) AS n
    FROM {EVENTS_US}
    GROUP BY 1, 2
    """,
)
def stream_windowed_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R2: watermarked 1-hour tumbling windows over the streamed events
    feed; update mode + single batch emits exactly the batch answer, so
    the DuckDB oracle is a full value-hash gate on the streaming path."""
    from rabbit_data_pipeline_spark.streaming import windowed_agg

    stream = _events_queue(spark, sf_dir)
    agg = windowed_agg(
        stream,
        group_cols=["event_type"],
        aggs=[dsum("value").alias("total_value"), F.count("*").alias("n")],
        window_duration="1 hour",
        watermark="1 hour",
    )
    out = _run_to_table(agg.drop("window_end"), "update")
    return out


@register(
    "stream_session_window",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s
      FROM (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events) events
    ),
    sess AS (
      SELECT user_id, ts,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n_events
    FROM sess GROUP BY user_id, sid
    HAVING MAX(ts) + INTERVAL 30 MINUTE
           < (SELECT MAX(CAST(ts AS TIMESTAMP)) - INTERVAL 1 HOUR FROM events)
    """,
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R2/R3: built-in gap session windows (30 min) per user on the
    streamed feed. Session windows only support append mode, which
    emits exactly the sessions the final watermark (max event time -
    1 hour) has closed — the oracle replays the same gap semantics
    (>= gap starts a new session, session_end = max(ts) + gap) and
    keeps sessions with session_end below that watermark. Verified
    empirically: 9525 of 9549 sessions emitted at sf0.01."""
    from rabbit_data_pipeline_spark.streaming import session_window_agg

    stream = _events_queue(spark, sf_dir)
    agg = session_window_agg(
        stream,
        key_cols=["user_id"],
        aggs=[F.count("*").alias("n_events")],
        gap="30 minutes",
        watermark="1 hour",
    )
    return _run_to_table(agg, "append")


@register(
    "stream_dedup",
    oracle=f"""
    SELECT event_id, user_id, event_type FROM {EVENTS_US}
    """,
)
def stream_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R2: the events feed redelivered twice (at-least-once broker
    semantics) through dropDuplicatesWithinWatermark — output is each
    event exactly once, value-hash-equal to the batch DISTINCT."""
    from rabbit_data_pipeline_spark.streaming import stream_dedup

    stream = _events_queue(spark, sf_dir, doubled=True)
    deduped = stream_dedup(stream, ["event_id"], watermark="1 hour").select(
        "event_id", "user_id", "event_type"
    )
    return _run_to_table(deduped, "append")


@register(
    "stream_stream_join",
    oracle=f"""
    SELECT c.user_id,
           c.event_id AS click_id, c.ts AS click_ts,
           p.event_id AS purchase_id, p.ts AS purchase_ts
    FROM (SELECT * FROM {EVENTS_US} WHERE event_type = 'click') c
    JOIN (SELECT * FROM {EVENTS_US} WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id
     AND p.ts >= c.ts AND p.ts < c.ts + INTERVAL 12 HOUR
    """,
)
def stream_stream_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R6: stream-stream interval join — clicks and purchases arrive as
    two independent streams; each purchase pairs with the same user's
    clicks from the preceding 12 hours. Inner joins emit matches as
    both sides arrive (no watermark-close wait), so one availableNow
    batch emits exactly the batch join — a full value-hash gate on the
    stateful two-stream path. The range condition inside the join
    condition is what bounds the join state on a real cluster."""
    from rabbit_data_pipeline_spark.streaming import stream_interval_join

    clicks = (
        _events_queue(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select("user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("click_ts"))
    )
    purchases = (
        _events_queue(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select("user_id", F.col("event_id").alias("purchase_id"), F.col("ts").alias("purchase_ts"))
    )
    joined = stream_interval_join(
        clicks, purchases, on=["user_id"], left_ts="click_ts", right_ts="purchase_ts",
        upper="12 hours", watermark="1 hour",
    )
    return _run_to_table(joined, "append")


@register(
    "stream_sliding_window",
    oracle=f"""
    WITH starts AS (
      SELECT UNNEST([time_bucket(INTERVAL 30 MINUTE, ts),
                     time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE])
               AS window_start,
             event_type, value
      FROM {EVENTS_US}
    )
    SELECT window_start, event_type,
           {sql_dsum('value')} AS total_value, COUNT(*) AS n
    FROM starts
    GROUP BY 1, 2
    """,
)
def stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R2c: sliding windows (1 h window, 30 min slide) over the
    streamed feed — each event lands in exactly 2 overlapping windows
    (the moving-average shape tumbling can't express). Same watermarked
    single-batch harness as stream_windowed_agg, so the DuckDB oracle
    (explicit 2-start UNNEST per event) is a full value-hash gate."""
    from rabbit_data_pipeline_spark.streaming import windowed_agg

    stream = _events_queue(spark, sf_dir)
    agg = windowed_agg(
        stream,
        group_cols=["event_type"],
        aggs=[dsum("value").alias("total_value"), F.count("*").alias("n")],
        window_duration="1 hour",
        slide="30 minutes",
        watermark="1 hour",
    )
    return _run_to_table(agg.drop("window_end"), "update")


@register(
    "stream_static_join",
    oracle=f"""
    WITH cohorts AS (
      SELECT user_id, user_id % 7 AS cohort FROM {EVENTS_US} GROUP BY user_id
    )
    SELECT c.cohort, events.event_type,
           COUNT(*) AS n, {sql_dsum('value')} AS total_value
    FROM {EVENTS_US} JOIN cohorts c ON events.user_id = c.user_id
    GROUP BY 1, 2
    """,
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R6b: stream-static enrichment — the streaming feed joins a
    static dimension (per-user cohort) then aggregates. The static
    side needs no watermark/state: Spark re-plans it per micro-batch
    (which is how slowly-changing dims refresh mid-stream), and the
    dim broadcasts so the stream never shuffles for the join. Full
    value-hash gate via the single-batch harness."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    cohorts = ev.groupBy("user_id").agg((F.first("user_id") % 7).alias("cohort"))
    stream = _events_queue(spark, sf_dir)
    joined = stream.join(F.broadcast(cohorts), on="user_id")
    agg = (
        joined.withWatermark("ts", "1 hour")
        .groupBy("cohort", "event_type")
        .agg(F.count("*").alias("n"), dsum("value").alias("total_value"))
    )
    return _run_to_table(agg, "update")


@register(
    "stream_text_prep",
    oracle=f"""
    SELECT doc_id,
           CASE WHEN length(trim(text)) = 0 THEN 0
                ELSE len(regexp_split_to_array(trim(text), '{WS_RUN}')) END AS ws_tokens,
           md5(trim(regexp_replace(lower(text), '{WS_RUN}', ' ', 'g'))) AS fingerprint
    FROM documents
    WHERE length(text) >= 50
    """,
)
def stream_text_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R9: the stateless text-prep ops (length filter, token count,
    fingerprint) applied INSIDE a streaming query — the same column
    expressions run unchanged under readStream because they are pure
    projections (no state, no watermark). Gates that the text
    operators compose with the streaming runtime, value-hashed against
    the batch answer."""
    from rabbit_data_pipeline_spark.operators.text import fingerprint, ws_token_count

    d = load_tables(spark, sf_dir, ("documents",))["documents"].select("doc_id", "text")
    qdir = os.path.join(tempfile.gettempdir(), f"rdps_stream_{uuid.uuid4().hex[:12]}")
    d.write.mode("overwrite").json(qdir)
    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    stream = spark.readStream.schema(schema).json(qdir)
    out = (
        stream.filter(F.length("text") >= 50)
        .select(
            "doc_id",
            ws_token_count(F.col("text")).alias("ws_tokens"),
            fingerprint(F.col("text")).alias("fingerprint"),
        )
    )
    return _run_to_table(out, "append")


@register(
    "stream_dedup_incremental",
    oracle=None,  # replaced below — reuses the batch twin's brute-force oracle
)
def stream_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R10: incremental dedup ON THE STREAM — new documents arrive as
    a stream, get MinHash-signed (Arrow pandas UDF inside the
    streaming query), banded, and joined against the STATIC indexed
    corpus signatures (stream-static equi-join on the band key; the
    static side is re-planned per micro-batch, exactly how a nightly-
    refreshed index serves an ingest stream). Single availableNow
    batch ⇒ the emitted pairs must equal the batch operator's answer,
    which the brute-force jaccard oracle adjudicates — so the
    streaming path, the Arrow UDF under readStream and the
    stream-static join are all value-hash-gated at once."""
    from rabbit_data_pipeline_spark.operators.dedup import (
        lsh_incremental_pairs,
        minhash_signature_arrow,
    )
    from rabbit_data_pipeline_spark.queries.seeded import incremental_batch, text_corpus

    base, _ = text_corpus()
    idx_rows = spark.createDataFrame(base, ["doc_id", "text"])
    idx = minhash_signature_arrow(idx_rows, num_hashes=48, k=5)

    qdir = os.path.join(tempfile.gettempdir(), f"rdps_stream_{uuid.uuid4().hex[:12]}")
    spark.createDataFrame(incremental_batch(), ["doc_id", "text"]).write.mode("overwrite").json(qdir)
    schema = StructType([StructField("doc_id", LongType()), StructField("text", StringType())])
    stream = spark.readStream.schema(schema).json(qdir)
    new_sigs = minhash_signature_arrow(stream, num_hashes=48, k=5)
    pairs = lsh_incremental_pairs(new_sigs, idx, bands=12, sim_threshold=0.6, broadcast_new=False)
    return _run_to_table(pairs.select("new_id", "index_id"), "append")


def _wire_incremental_oracle():
    from rabbit_data_pipeline_spark.queries import _REGISTRY, Query
    from rabbit_data_pipeline_spark.queries.seeded import _incremental_oracle

    q = _REGISTRY["stream_dedup_incremental"]
    _REGISTRY["stream_dedup_incremental"] = Query(q.name, q.builder, _incremental_oracle())


_wire_incremental_oracle()


@register(
    "stream_attribution",
    oracle="""
    WITH ev AS (
      SELECT user_id, ts, event_id, event_type, value,
             CASE WHEN event_type IN ('click', 'view') THEN 0 ELSE 1 END AS kind
      FROM (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events) events
      WHERE event_type IN ('click', 'view', 'purchase')
    ), tagged AS (
      SELECT *,
             LAST_VALUE(CASE WHEN kind = 0 THEN event_type END IGNORE NULLS) OVER w AS touch_type,
             LAST_VALUE(CASE WHEN kind = 0 THEN ts END IGNORE NULLS) OVER w AS touch_ts
      FROM ev
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, kind, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    )
    SELECT COALESCE(CASE WHEN touch_ts >= ts - INTERVAL 3 DAY THEN touch_type END,
                    'none') AS channel,
           COUNT(*) AS n_conversions,
           SUM(CAST(FLOOR((value) * 1000000 + 0.5) AS BIGINT)) / 1000000.0 AS revenue
    FROM tagged WHERE event_type = 'purchase'
    GROUP BY 1
    """,
)
def stream_attribution_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R11: stateful last-touch attribution ON THE STREAM
    (applyInPandasWithState; per-user state = one carried touch tuple,
    O(active users) memory) — each purchase is credited as it arrives.
    One availableNow batch over the feed must hash-match the batch
    window query's channel rollup (queries/events.py q_attribution):
    the custom-stateful path gets a full value-hash gate, not just
    unit tests (streaming/ops.py attribute_stateful)."""
    from rabbit_data_pipeline_spark.streaming import attribute_stateful

    stream = _events_queue(spark, sf_dir)
    per_purchase = attribute_stateful(stream, lookback_days=3)
    out = _run_to_table(per_purchase, "append")
    return out.groupBy("channel").agg(
        F.count("*").alias("n_conversions"),
        (F.sum("value_micro") / F.lit(1e6)).alias("revenue"),
    )


@register(
    "stream_rollup",
    oracle="""
    SELECT event_type, COUNT(value) AS n_rows,
           SUM(CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT)) / 1000000.0 AS total,
           SUM(CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT)) / 1000000.0
             / COUNT(value) AS mean
    FROM events
    GROUP BY event_type
    """,
)
def stream_rollup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R12: exactly-once incremental rollup maintenance on the stream —
    the feed is deliberately chopped into MULTIPLE micro-batches
    (maxFilesPerTrigger) and each batch's integer partials merge into
    a parquet rollup through the epoch-fenced atomic swap
    (sinks/stream.py rollup_write_stream). The final table must
    hash-match a full recompute over all events: multi-batch merge
    exactness + the non-idempotent-sink fence, value-hash-gated."""
    from rabbit_data_pipeline_spark.operators.rollup import finalize_rollup
    from rabbit_data_pipeline_spark.sinks.stream import rollup_write_stream

    ev = load_tables(spark, sf_dir, ("events",))["events"].select(
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        "user_id",
        "event_type",
        "value",
    ).repartition(8)
    qdir = os.path.join(tempfile.gettempdir(), f"rdps_stream_{uuid.uuid4().hex[:12]}")
    ev.write.mode("overwrite").json(qdir)
    stream = (
        spark.readStream.schema(TRANSPORT_SCHEMA)
        .option("maxFilesPerTrigger", 2)
        .json(qdir)
    )
    table = os.path.join(tempfile.gettempdir(), f"rdps_rollup_{uuid.uuid4().hex[:12]}")
    ckpt = table + "_ckpt"
    q = rollup_write_stream(stream, table, ["event_type"], "value", ckpt)
    q.awaitTermination(300)
    return finalize_rollup(spark.read.parquet(table), ["event_type"])
