"""Publish/subscribe — reference ``Engine::subscribe(ids, flag, callback)``
(libdariadb/engine.cpp; storage/subscribe.h): every subsequent append whose
measurement matches the id-set + flag bitmask is pushed to the callback.
No replay of history.

Spark rendering: a Structured Streaming file source over the store's data
directory → the same F1/F3 predicates → ``foreachBatch`` fan-out. On a
production deployment the source is the Delta/Iceberg table's change feed
or a Kafka topic; the plan shape (filter → sink) is identical. The
streaming current-value view keeps latest-per-id state with update-mode
aggregation — the reference's eagerly-maintained currentValue cache.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from dariadb_spark.model import MEAS_DDL, flag_predicate, ids_predicate
from dariadb_spark.streaming.scratch import (
    file_stream,
    interval_slice,
    persisted_slice,
    run_parity,
    to_memory,
)


def subscribe(
    spark: SparkSession,
    data_dir: str,
    ids: list[int] | None,
    flag: int,
    callback: Callable[[DataFrame, int], None],
    *,
    checkpoint: str | None = None,
    available_now: bool = False,
) -> StreamingQuery:
    """Start the subscription stream; each micro-batch of matching
    measurements is handed to ``callback(batch_df, batch_id)``.

    ``available_now=True`` drains what exists then stops (test mode);
    the default runs continuously with small triggers.
    """
    stream = file_stream(spark, MEAS_DDL, data_dir).where(
        ids_predicate(ids) & flag_predicate(flag)
    )
    writer = stream.writeStream.foreachBatch(callback)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime="1 second")
    return writer.start()


def streaming_downsample(
    spark: SparkSession,
    data_dir: str,
    interval: str = "hour",
    watermark: str = "1 day",
    query_name: str = "downsample_live",
) -> StreamingQuery:
    """W1/W2 as a *built-in* streaming windowed aggregate: tumbling
    event-time window per series with a watermark bounding state (T3).
    The reference has no watermark concept (it accepts arbitrarily late
    appends via merge-on-read); the watermark here is the deployment
    knob trading state size against late-data acceptance — for exact
    reference semantics use streaming/stateful.py (unbounded state) or
    reconcile with the batch downsample.

    Buckets are fixed-width epoch-ms arithmetic identical to the batch
    operator, so complete-mode output equals `downsample()` on the same
    data (asserted in tests)."""
    from dariadb_spark.operators.downsample import MS

    width_ms = MS[interval]
    stream = file_stream(spark, MEAS_DDL, data_dir)
    agg = (
        stream.withColumn("ts", F.timestamp_millis(F.col("time")))
        .withWatermark("ts", watermark)
        .groupBy("id", F.window("ts", f"{width_ms} milliseconds"))
        .agg(
            F.count("value").alias("cnt"),
            (F.round(F.sum("value"), 6) / F.count("value")).alias("avg_value"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            "id",
            F.unix_millis(F.col("window.start")).alias("bucket_ms"),
            "cnt",
            "avg_value",
            "min_value",
            "max_value",
            "sum_value",
        )
    )
    return to_memory(agg, "complete", query_name)


def streaming_current_value(
    spark: SparkSession,
    data_dir: str,
    query_name: str = "current_value_live",
) -> StreamingQuery:
    """Latest (time, value, flag) per id maintained incrementally; query the
    in-memory table ``query_name`` for the live snapshot (update mode)."""
    stream = file_stream(spark, MEAS_DDL, data_dir)
    # ordering key must be the FULL (time, value, flag) tuple — the same
    # LWW total order the batch current_value uses; ordering by
    # (time, value) alone could surface a different flag on exact
    # (time, value) ties and disagree with the batch verb
    latest = stream.groupBy("id").agg(
        F.max_by(
            F.struct("time", "value", "flag"),
            F.struct("time", "value", "flag"),
        ).alias("m")
    ).select("id", "m.time", "m.value", "m.flag")
    return to_memory(latest, "complete", query_name)


def streaming_sessionize(
    spark: SparkSession,
    data_dir: str,
    gap: str = "30 minutes",
    watermark: str = "1 day",
    query_name: str = "sessions_live",
) -> StreamingQuery:
    """Per-series activity sessions maintained incrementally with the
    built-in ``session_window`` — the streaming twin of the batch
    `ext_session_window` query (ext/timeseries.py): events closer than
    ``gap`` merge, window end = last event + gap. State per (id, open
    session) is bounded by the watermark: sessions older than it close
    and evict (T3 policy knob — the reference instead accepts all late
    appends via merge-on-read; reconcile with the batch query for exact
    reference semantics)."""
    stream = file_stream(spark, MEAS_DDL, data_dir)
    agg = (
        stream.withColumn("ts", F.timestamp_millis(F.col("time")))
        .withWatermark("ts", watermark)
        .groupBy("id", F.session_window(F.col("ts"), gap).alias("sw"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "id",
            F.unix_millis(F.col("sw.start")).alias("session_start_ms"),
            F.unix_millis(F.col("sw.end")).alias("session_end_ms"),
            "n_events",
        )
    )
    return to_memory(agg, "complete", query_name)


def streaming_sessionize_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible T3 parity (watermarked session windows): run the
    REAL streaming sessionizer — the session_window aggregation with a
    watermark, availableNow — over the fixture slice the batch
    ``ext_session_window`` query covers, and return the final session
    table. Oracle = that batch query's gaps-and-islands SQL: the
    incremental session merge must reproduce batch sessions exactly
    (the fixture has no late data beyond the 1-day watermark, so no
    sessions evict early)."""
    # 15-series harness slice → small state layer (see scratch.py)
    return run_parity(
        spark,
        "sess_parity",
        lambda data_dir: interval_slice(spark, sf_dir).write.parquet(data_dir),
        lambda data_dir, qname: streaming_sessionize(
            spark, data_dir, query_name=qname
        ),
        lambda sink: sink.orderBy("id", "session_start_ms"),
    )


def streaming_interval_join(
    spark: SparkSession,
    data_dir: str,
    left_flag: int,
    right_flag: int,
    lookback_ms: int,
    watermark: str = "1 day",
    query_name: str = "interval_join_live",
) -> StreamingQuery:
    """Stream-stream interval join: each left-flag event joins the
    same-series right-flag events from its trailing ``lookback_ms``
    window — the streaming twin of the batch bucketed range join
    (ext/timeseries.py range_context). Spark requires BOTH sides
    watermarked plus a time-range join condition so it can bound the
    join state; state per side ≈ watermark-window of rows, independent
    of stream length. Append-mode output (rows emit once both
    watermarks pass the join window)."""
    def side(flag: int, prefix: str) -> DataFrame:
        return (
            file_stream(spark, MEAS_DDL, data_dir)
            .where(flag_predicate(flag))
            .select(
                F.col("id").alias(f"{prefix}_id"),
                F.col("time").alias(f"{prefix}_time"),
                F.col("value").alias(f"{prefix}_value"),
                F.timestamp_millis(F.col("time")).alias(f"{prefix}_ts"),
            )
            .withWatermark(f"{prefix}_ts", watermark)
        )

    left = side(left_flag, "l")
    right = side(right_flag, "r")
    joined = left.join(
        right,
        (F.col("l_id") == F.col("r_id"))
        & (F.col("r_ts") >= F.col("l_ts") - F.expr(f"INTERVAL {lookback_ms} MILLISECONDS"))
        & (F.col("r_ts") <= F.col("l_ts")),
    ).select(
        F.col("l_id").alias("id"),
        F.col("l_time").alias("time"),
        F.col("l_value").alias("value"),
        F.col("r_time").alias("ctx_time"),
        F.col("r_value").alias("ctx_value"),
    )
    return to_memory(joined, "append", query_name)


def streaming_interval_join_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible stream-stream join parity (the T-join surface as
    a hash-checked driver query): run the REAL watermarked interval
    join — error events ⋈ the same-series events of their trailing 15
    minutes — over the fixture slice via one availableNow pass, then
    aggregate the emitted pairs per error event. Oracle = the equivalent batch range-join SQL
    (the `ext_range_context` shape without the flag column the stream
    join doesn't carry): the stream's closed [t−W, t] join bounds and
    inner-join eager emission must reproduce the batch pair set
    exactly. The pair aggregation runs on the memory sink (batch), so
    what is hash-checked is the full pair multiset, not a lossy
    summary."""
    from dariadb_spark.ext.timeseries import RANGE_W_MS
    from dariadb_spark.registry import FLAG_ERROR

    def finish(sink: DataFrame) -> DataFrame:
        return (
            sink.groupBy("id", "time", "value")
            .agg(
                F.count("*").alias("n_ctx"),
                F.round(F.sum("ctx_value"), 4).alias("sum_ctx_value"),
            )
            .orderBy("id", "time", "value")
        )

    # 15-series harness slice → small state layer (see scratch.py)
    return run_parity(
        spark,
        "ssj_parity",
        lambda data_dir: interval_slice(spark, sf_dir).write.parquet(data_dir),
        lambda data_dir, qname: streaming_interval_join(
            spark,
            data_dir,
            left_flag=FLAG_ERROR,
            right_flag=0,  # pass-all context side (F3 semantics)
            lookback_ms=RANGE_W_MS,
            query_name=qname,
        ),
        finish,
    )


def streaming_dedup_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible ingest-idempotence parity: write the
    fixture slice TWICE (the at-least-once replay failure mode the
    operator exists for), run the REAL streaming exact-dedup over the
    doubled store, and return the emitted rows. Oracle = ``SELECT
    DISTINCT`` over the single slice: every row must come through
    exactly once despite arriving twice."""
    def land(data_dir: str) -> None:
        with persisted_slice(interval_slice(spark, sf_dir)) as s:
            s.write.parquet(data_dir)
            s.write.mode("append").parquet(data_dir)  # the replay

    return run_parity(
        spark,
        "dedup_parity",
        land,
        lambda data_dir, qname: streaming_dedup_exact(spark, data_dir, qname),
        lambda sink: sink.orderBy("id", "time", "value", "flag"),
    )


def streaming_dedup_exact(
    spark: SparkSession,
    data_dir: str,
    query_name: str = "dedup_live",
    watermark: str | None = None,
) -> StreamingQuery:
    """Exact streaming deduplication: emit each distinct
    (id, time, value, flag) row once — the ingest-side twin of the batch
    exact-dedup operator (a re-sent WAL batch or at-least-once producer
    must not double-ingest).

    With ``watermark=None`` state is unbounded (exact reference
    merge-on-read semantics — every historical duplicate is caught).
    Passing e.g. ``"1 day"`` switches to
    ``dropDuplicatesWithinWatermark``: state holds only the watermark
    window — the 100 TB deployment knob, catching the actual failure
    mode (replays arrive close to the original) with bounded memory."""
    stream = file_stream(spark, MEAS_DDL, data_dir)
    if watermark is None:
        deduped = stream.dropDuplicates(["id", "time", "value", "flag"])
    else:
        deduped = stream.withColumn(
            "ts", F.timestamp_millis(F.col("time"))
        ).withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
            ["id", "time", "value", "flag"]
        ).drop("ts")
    return to_memory(deduped, "append", query_name)
