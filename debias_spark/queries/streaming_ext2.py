"""Streaming foreachBatch sink (Z27): a micro-batch's keyed partial
aggregate written atomically to a parquet state table by a real
Structured Streaming query, with a deterministic, fully-oracled final
state.

Reference parity: none — the reference (SirHooke/debias-batch-processor)
is batch-only; Structured Streaming extension per SURVEY §2.H14-H16
rationale.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from debias_spark.registry import register
from debias_spark.warehouse import (
    prune_stale_siblings,
    swap_state_write,
    warehouse_root,
)

_WAREHOUSE = os.path.join(warehouse_root(), "io_roundtrip")


@register(
    "stream_foreachbatch_upsert",
    "Z27",
    oracle="""
    SELECT event_type,
           count(*) AS n_events,
           count(DISTINCT user_id) AS n_users_lb,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS value_cents
    FROM events
    GROUP BY event_type
    """,
)
def stream_foreachbatch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch state sink: an availableNow drain of the single-file
    events source hands foreachBatch ONE micro-batch, whose per-type
    aggregate is written to a parquet state table with an atomic swap
    (warehouse.swap_state_write); the final state is returned.

    Single-batch contract: count and sum would merge across batches by
    addition, but count(DISTINCT user_id) does not merge from per-batch
    partials (a max of per-batch distincts is only a lower bound — hence
    ``n_users_lb``).  The batch function therefore raises on any second
    micro-batch instead of merging; a multi-batch source needs a
    user-level state table or an HLL sketch column (hll_sketch_agg
    merges exactly).  The value sum converts to integer cents PER ROW
    before any aggregation, so shuffle order cannot drift the value.

    Scale shape: state is keyed by event_type (bounded cardinality) and
    the batch shuffles only its own partial aggregate."""
    from debias_spark.streaming import drain, stream_events

    # per-session dirs (same concurrency discipline as io_roundtrip._sink_dir):
    # concurrent runs of this key at the same sf must not share state
    tag = (os.path.basename(sf_dir.rstrip("/")) or "sf") + "_" + spark.sparkContext.applicationId
    state_dir = os.path.join(_WAREHOUSE, f"fb_state_{tag}")
    ckpt_dir = os.path.join(_WAREHOUSE, f"fb_ckpt_{tag}")
    # prune prior sessions' state/ckpt dirs — per-appId names never
    # overwrite in place, so without this the warehouse grows unbounded
    prune_stale_siblings(_WAREHOUSE, "fb_state_", f"fb_state_{tag}")
    prune_stale_siblings(_WAREHOUSE, "fb_ckpt_", f"fb_ckpt_{tag}")
    # a stale checkpoint marks the input already-processed and the drain
    # would no-op against the freshly-cleared state: clear BOTH together
    shutil.rmtree(state_dir, ignore_errors=True)
    shutil.rmtree(ckpt_dir, ignore_errors=True)

    stream = stream_events(spark, sf_dir)

    def write_state(batch: DataFrame, batch_id: int) -> None:
        # n_users_lb equals the oracle's exact COUNT(DISTINCT) only while
        # the single-file events source drains in one micro-batch.  Fail
        # loudly if that ever breaks rather than diverge from the oracle.
        if batch_id > 0 or os.path.isdir(state_dir):
            raise RuntimeError(
                "stream_foreachbatch_upsert drained in >1 micro-batch: "
                "n_users_lb is only exact for a single-batch drain; switch "
                "to a user-level state table before allowing multi-batch "
                "sources"
            )
        part = batch.groupBy("event_type").agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users_lb"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_cents"),
        )
        swap_state_write(part, state_dir)

    # narrow drain: the partial aggregate moves a handful of event_type
    # keys; full-width batch plans were pure scheduling overhead
    drain(
        spark,
        stream.writeStream.foreachBatch(write_state).option(
            "checkpointLocation", ckpt_dir
        ),
        8,
    )
    shutil.rmtree(ckpt_dir, ignore_errors=True)
    return spark.read.parquet(state_dir).select(
        "event_type", "n_events", "n_users_lb", "value_cents"
    )
