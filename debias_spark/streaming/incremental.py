"""Structured Streaming surface (SURVEY §2.H H14-H16).

The reference's only incremental behavior is the dashboard Refresh button —
a full re-scan of the output directory per click (dashboard_widget.py:73-89).
The Spark-native answer is a file stream over the same directory: the SAME
window aggregation plan runs in batch and under readStream, and
``availableNow`` gives exactly the Refresh semantics (process everything
currently there, then stop) with checkpointed incremental state instead of
a full re-read.

Event-time columns here are TimestampType (not NTZ): watermarks and
session windows operate on event-time semantics, and the session timezone
is pinned to UTC in session.py so wall-clock values agree with the NTZ
batch tables.
"""

from __future__ import annotations

import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

# how long one availableNow drain may run before it is called stalled
DRAIN_TIMEOUT_S = 300


@contextmanager
def narrow_shuffle(spark: SparkSession, n: int = 8):
    """Pin spark.sql.shuffle.partitions to ``n`` for the duration of a
    block, restoring the previous value (or unsetting) on exit.  The pin
    is session-wide: see the serial-session note on ``drain``."""
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def drain(
    spark: SparkSession, writer: DataStreamWriter, width: int, min_batches: int = 0
) -> None:
    """Run ``writer`` (source, sink, checkpoint and output mode already
    set) to completion with the availableNow trigger — the dashboard
    Refresh semantics: process everything there now, then stop.

    The query starts under ``narrow_shuffle(spark, width)``: state-store
    instances are one per shuffle partition, fixed at the first
    micro-batch, and a short local drain pays per-partition state setup
    that dwarfs its data work at the session's full width.  The same pin
    covers every batch plan run inside a foreachBatch function.

    SERIAL-SESSION ASSUMPTION: pinning session conf is only safe because
    keys run serially in one session.  Concurrent drains in a shared
    session need a per-query width instead.

    Raises RuntimeError if the query has not finished within
    ``DRAIN_TIMEOUT_S`` seconds, or if fewer than ``min_batches``
    micro-batches read any input; a query failure propagates.  The query
    is stopped in every case.  Only the sign of ``numInputRows`` is used:
    it sums every action run on a batch, so a foreachBatch function that
    reads its batch three times reports three times its rows."""
    with narrow_shuffle(spark, width):
        q = writer.trigger(availableNow=True).start()
        try:
            if not q.awaitTermination(DRAIN_TIMEOUT_S):
                raise RuntimeError(
                    f"stream {q.name or q.id}: availableNow drain did not "
                    f"finish within {DRAIN_TIMEOUT_S}s"
                )
            n = sum(1 for p in q.recentProgress if p.numInputRows > 0)
            if n < min_batches:
                raise RuntimeError(
                    f"stream {q.name or q.id} drained in {n} non-empty "
                    f"micro-batch(es), expected at least {min_batches}"
                )
        finally:
            q.stop()


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet as a file stream (the schema must be supplied for
    streaming reads; ts arrives either as epoch-nanos long — older
    TIMESTAMP(NANOS) testdata under nanosAsLong — or as a plain µs
    timestamp, and is normalized to TimestampType either way)."""
    from pyspark.sql.types import LongType

    from debias_spark.catalog import _cached_schema

    # schema from the session cache (catalog._cached_schema, which also sets
    # nanosAsLong) — the streaming read needs the schema object anyway;
    # inferring it fresh per call re-read the footer (~0.1 s) on every
    # streaming key
    raw_schema = _cached_schema(spark, f"{sf_dir}/events.parquet")
    if raw_schema is None:
        raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    # file stream sources take a directory; glob-filter to the events table
    raw = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    if isinstance(raw_schema["ts"].dataType, LongType):
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def tumbling_counts(events: DataFrame) -> DataFrame:
    """1-hour tumbling event-time windows — identical plan for batch and
    stream inputs (the batch-vs-stream equivalence test relies on this)."""
    return (
        events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), (F.round(F.sum("value"), 2) + 0.0).alias("sum_val"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n",
            "sum_val",
        )
    )


def session_window_counts(events: DataFrame, gap: str = "5 minutes") -> DataFrame:
    """Per-user session windows (gap-based), watermarked 10 minutes for late
    data.  applyInPandasWithState is the escape hatch for session logic this
    declarative form can't express; this one it can."""
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format("w.end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def incremental_parquet_sink(
    stream_df: DataFrame, out_dir: str, checkpoint_dir: str
) -> None:
    """Incremental parquet append via foreachBatch, drained with
    availableNow.  foreachBatch is the sink escape hatch: each micro-batch
    arrives as a normal DataFrame, so any batch writer (merge/upsert,
    multi-table fan-out) plugs in; the checkpoint makes re-runs process
    only NEW files — the Refresh-button economics the reference lacks
    (full re-scan per click, dashboard_widget.py:73-74)."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.withColumn("_batch_id", F.lit(batch_id)).write.mode("append").parquet(
            out_dir
        )

    drain(
        stream_df.sparkSession,
        stream_df.writeStream.foreachBatch(write_batch).option(
            "checkpointLocation", checkpoint_dir
        ),
        8,
    )


def run_available_now(
    stream_df: DataFrame, spark: SparkSession, output_mode: str = "append"
) -> DataFrame:
    """Run a streaming DataFrame to completion with the availableNow trigger
    (the dashboard-Refresh semantics: drain what exists, then stop) into a
    memory sink; returns the materialized result.

    output_mode: "append" for watermarked aggs (emits finalized windows);
    "complete" for unwatermarked aggs (emits every window — what the
    batch-equivalence test uses).

    Each call drains into a fresh memory sink at shuffle width 4 (measured
    8 -> 4 -> 3 gives identical rows with monotonically less state-store
    setup).  The sink's temp view is dropped before returning; the frame
    keeps the sink's rows, so they live only as long as the frame does.
    A long-lived production stream keeps the session default width and
    an explicit checkpointLocation."""
    name = f"snap_{uuid.uuid4().hex[:12]}"
    drain(
        spark,
        stream_df.writeStream.format("memory").queryName(name).outputMode(output_mode),
        4,
    )
    out = spark.table(name)
    spark.catalog.dropTempView(name)
    return out


def rate_alerts(events: DataFrame, thresholds: DataFrame) -> DataFrame:
    """Windowed rate alerting: per (1-hour tumbling window, event_type)
    counts flagged against a per-type threshold frame (event_type, thr_n).

    The static threshold frame joins the stream BEFORE the aggregation —
    a stream-static broadcast join is unconditionally supported, whereas
    joining after a streaming aggregate constrains output modes.  The
    threshold rides through the groupBy as a grouping column (constant
    per type), so the alert comparison is a pure projection."""
    joined = events.join(F.broadcast(thresholds), "event_type")
    return (
        joined.groupBy(F.window("ts", "1 hour").alias("w"), "event_type", "thr_n")
        .agg(F.count("*").alias("n"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n",
            (F.round("thr_n", 4) + 0.0).alias("thr_rounded"),
            (F.col("n") > F.col("thr_n")).alias("alert"),
        )
    )
