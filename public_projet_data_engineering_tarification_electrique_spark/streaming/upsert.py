"""Streaming keyed upsert via foreachBatch — MERGE INTO for a stream.

The production CDC→warehouse pattern the reference's WRITE_APPEND wish
list implies (SURVEY §2.9: appends should be keyed and idempotent):
an update-mode streaming aggregation emits each micro-batch's changed
per-key state, and ``foreachBatch`` applies it to a bucket-partitioned
parquet state table as a keyed MERGE — existing rows for the batch's
keys are replaced, untouched buckets are never rewritten.

Scale shape: each micro-batch goes through the package's one bucketed
MERGE sink, ``operators.merge.merge_write``: state is
hash-bucket-partitioned on the merge key, and a micro-batch rewrites
only its affected buckets (dynamic partition overwrite) from one
full-outer join of the batch with those buckets — the plan Delta/
Iceberg MERGE executes, expressed on plain parquet. The streaming agg
holds one fixed-width row per key; the per-batch merge work is
O(affected buckets), not O(table).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import configure
from .daily import (
    events_stream,
    stage_landing,
    stage_landing_under_checkpoint,
)
from .runner import _drain
from ..operators.merge import merge_write
from ..operators.util import hadoop_fs, scratch_dir

STATE_SCHEMA = (
    "user_id long, last_event_id long, last_value double, last_ts_us long"
)


def stream_upsert_latest(
    spark: SparkSession,
    events_path: str,
    state_dir: str | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Maintain each user's LATEST event as a streamed keyed upsert.

    Update-mode aggregation ``max(struct(ts, event_id, value))`` per
    user (event_id is unique, so the (ts, event_id) order is total and
    the pick deterministic) feeds ``foreachBatch`` → keyed MERGE into
    the parquet state table. With availableNow over a finite landing
    dir the final state equals the batch per-user argmax — an exact
    SQL oracle (q116). NULL users form one key, as in the GROUP BY.
    The sink is last-write-wins, so a replayed batch is idempotent and
    needs no ``batch_id`` ledger.

    The checkpoint and the state table travel TOGETHER: update mode
    re-emits only keys changed since the checkpoint, so resuming an
    existing checkpoint against a fresh state dir would silently drop
    every key untouched since — the default state dir therefore lives
    UNDER the checkpoint dir, and passing one without the other is an
    error.

    Returns the merged state (user_id, last_event_id, last_value,
    last_ts_us).
    """
    configure(spark)
    if (checkpoint_dir is None) != (state_dir is None):
        raise ValueError(
            "checkpoint_dir and state_dir must be passed together: the "
            "checkpoint's incremental key emissions are only complete "
            "relative to the state table built alongside it"
        )
    checkpoint = checkpoint_dir or scratch_dir("ckpt_upsert_")
    # NOT "<checkpoint>/state": the streaming engine owns that exact
    # subdirectory for its state store, and parquet partition discovery
    # over a mixed dir fails with CONFLICTING_DIRECTORY_STRUCTURES
    state = state_dir or os.path.join(checkpoint, "merge_state")
    if checkpoint_dir is not None:
        landing = stage_landing_under_checkpoint(events_path, checkpoint)
    else:
        landing = stage_landing(events_path, "landing_upsert_")
    src = events_stream(spark, landing)
    latest = (
        src.groupBy("user_id")
        .agg(
            F.max(
                F.struct(F.col("ts"), F.col("event_id"), F.col("value"))
            ).alias("_m")
        )
        .select(
            "user_id",
            F.col("_m.event_id").alias("last_event_id"),
            F.col("_m.value").alias("last_value"),
            F.unix_micros(F.col("_m.ts")).alias("last_ts_us"),
        )
    )
    _drain(
        latest.writeStream.outputMode("update").foreachBatch(
            lambda batch, _bid: merge_write(
                batch.sparkSession, state, batch, ["user_id"], STATE_SCHEMA
            )
        ),
        checkpoint,
    )
    # Empty landing + fresh checkpoint → no micro-batch ever fired and
    # no state dir exists: the documented production shape (the stream
    # starts before the first nightly file lands) must return an empty
    # state table, not raise PATH_NOT_FOUND. Hadoop FileSystem API, not
    # os.path, so the probe holds for any scheme the path resolves to.
    fs, hpath = hadoop_fs(spark, state)
    if not fs.exists(hpath):
        return spark.createDataFrame([], STATE_SCHEMA)
    # partition discovery appends the _bucket dir as a column even
    # under an explicit schema — drop it, it's sink bookkeeping
    return spark.read.schema(STATE_SCHEMA).parquet(state).drop("_bucket")
