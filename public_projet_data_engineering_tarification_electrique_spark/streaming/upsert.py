"""Streaming keyed upsert via foreachBatch — MERGE INTO for a stream.

The production CDC→warehouse pattern the reference's WRITE_APPEND wish
list implies (SURVEY §2.9: appends should be keyed and idempotent):
an update-mode streaming aggregation emits each micro-batch's changed
per-key state, and ``foreachBatch`` applies it to a bucket-partitioned
parquet state table as a keyed MERGE — existing rows for the batch's
keys are replaced, untouched buckets are never rewritten.

Scale shape: state is hash-bucket-partitioned on the merge key, so a
micro-batch rewrites only its affected buckets (dynamic partition
overwrite), each via one anti-join + union — the same plan Delta/
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
from ..operators.util import hadoop_fs, scratch_dir

STATE_SCHEMA = (
    "user_id long, last_event_id long, last_value double, last_ts_us long, "
    "_bucket int"
)


def _state_exists(spark: SparkSession, state_dir: str) -> bool:
    """Detect existing state via the Hadoop FileSystem API — correct
    for ANY filesystem the path's scheme resolves to (file://, hdfs://,
    s3a://, …). An os.path check would silently report distributed
    state as absent and the merge would overwrite affected buckets with
    only the batch's keys."""
    fs, path = hadoop_fs(spark, state_dir)
    if not fs.exists(path):
        return False
    for status in fs.listStatus(path):
        name = status.getPath().getName()
        if name == "_SUCCESS" or name.startswith("_bucket="):
            return True
    return False


def _merge_batch(
    spark: SparkSession, batch: DataFrame, state_dir: str, n_buckets: int
) -> None:
    """Keyed MERGE of one micro-batch into the bucket-partitioned state."""
    from ..operators.util import bucket_layout_guard

    # Self-describing layout: assert this batch's n_buckets against the
    # marker the first batch persisted — a restart with a different
    # bucket count would otherwise silently prune the wrong dirs.
    commit_layout = bucket_layout_guard(
        spark,
        state_dir,
        {
            "n_buckets": int(n_buckets),
            "keys": ["user_id"],
            "hash": "pmod(user_id, n_buckets)",
        },
    )
    # The batch plan feeds three consumers (affected-bucket collect,
    # anti-join probe, union into the write) — persist it once per
    # trigger instead of recomputing the update-mode agg three times.
    new = batch.withColumn(
        "_bucket", F.pmod(F.col("user_id"), F.lit(n_buckets)).cast("int")
    ).persist()
    try:
        if _state_exists(spark, state_dir):
            # Affected buckets as a driver-side literal list (≤ n_buckets
            # ints, and foreachBatch is already a driver callback): the
            # isin filter prunes state partitions STATICALLY — at 100 TB
            # the merge scans only the buckets it will rewrite, without
            # depending on runtime DPP kicking in.
            affected = [
                r["_bucket"]
                for r in new.select("_bucket").distinct().collect()
            ]
            old = (
                spark.read.schema(STATE_SCHEMA)
                .parquet(state_dir)
                .filter(F.col("_bucket").isin(affected))
            )
            keep = old.join(
                new.select("user_id"), on="user_id", how="left_anti"
            )
            merged = keep.unionByName(new)
        else:
            merged = new
        # Dynamic partition overwrite (session conf): only the buckets
        # present in `merged` are replaced. The merge must be
        # materialized before the overwrite starts
        # reading-while-writing; localCheckpoint cuts the
        # self-referencing lineage. Cluster on _bucket first: an
        # unclustered P-partition frame writes up to P small files per
        # rewritten bucket dir per trigger — small-files decay on a
        # long-running stream (see operators/merge.merge_write).
        merged.repartition(
            max(int(n_buckets), 1), "_bucket"
        ).localCheckpoint(eager=True).write.mode(
            "overwrite"
        ).partitionBy("_bucket").parquet(state_dir)
        commit_layout()
    finally:
        new.unpersist()


def stream_upsert_latest(
    spark: SparkSession,
    events_path: str,
    state_dir: str | None = None,
    checkpoint_dir: str | None = None,
    n_buckets: int = 8,
) -> DataFrame:
    """Maintain each user's LATEST event as a streamed keyed upsert.

    Update-mode aggregation ``max(struct(ts, event_id, value))`` per
    user (event_id is unique, so the (ts, event_id) order is total and
    the pick deterministic) feeds ``foreachBatch`` → keyed MERGE into
    the parquet state table. With availableNow over a finite landing
    dir the final state equals the batch per-user argmax — an exact
    SQL oracle (q116).

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
            lambda batch, _bid: _merge_batch(
                batch.sparkSession, batch, state, n_buckets
            )
        ),
        checkpoint,
    )
    # Empty landing + fresh checkpoint → no micro-batch ever fired and
    # no state dir exists: the documented production shape (the stream
    # starts before the first nightly file lands) must return an empty
    # state table, not raise PATH_NOT_FOUND.
    out_cols = ["user_id", "last_event_id", "last_value", "last_ts_us"]
    if not _state_exists(spark, state):
        return spark.createDataFrame([], STATE_SCHEMA).select(*out_cols)
    return spark.read.schema(STATE_SCHEMA).parquet(state).select(*out_cols)
