"""The one availableNow launch every stream in this package goes through.

Each stream builds its plan and its sink; the runner owns the rest of
the sequence, so it exists once:

1. the checkpoint — the caller's deployment path, or a fresh scratch
   dir;
2. ``spark.sql.shuffle.partitions`` pinned to :data:`STATE_PARTITIONS`
   (a stateful query materializes one state store per shuffle
   partition, and the count is frozen into the checkpoint at first
   start — size it to the stream's state, not the batch-tuned session
   default); ``partitions=None`` leaves the session value, for the
   stateless streams;
3. optionally the RocksDB state-store provider, scoped to the start
   (the conf is read at query start) and restored afterwards so other
   checkpoints keep their provider;
4. ``trigger(availableNow=True)``, ``start()`` and
   ``awaitTermination()``: drain what has landed, then stop.

Both confs are restored even when a micro-batch raises.

The entry points are underscore-named: they are plumbing, not
operators, so the benchmark's per-function spans keep charging a
stream's batches to the public stream function that launched it.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from ..operators.util import hadoop_fs, scoped_conf, scratch_dir

#: shuffle partitions (= state stores) of every stateful stream
STATE_PARTITIONS = 8

#: user-hash buckets of the bucket-keyed pandas-state streams. A
#: constant, not a session value: the bucket is the state's grouping
#: key, so the count is frozen into the checkpoint, and a checkpoint
#: resumed under another count would read the wrong state.
STATE_BUCKETS = 32

_PROVIDER = "spark.sql.streaming.stateStore.providerClass"
#: spillable, incrementally checkpointed state: the HDFS-backed default
#: keeps the whole state map on the executor heap
_ROCKSDB = (
    "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider"
)


def _user_bucket() -> Column:
    """The grouping key of the bucket-keyed state streams,
    ``pmod(xxhash64(user_id), STATE_BUCKETS)``. xxhash64 skips NULL
    inputs and returns its seed (42), so NULL users land in bucket
    ``pmod(42, STATE_BUCKETS)`` beside real users."""
    return F.pmod(F.xxhash64(F.col("user_id")), F.lit(STATE_BUCKETS))


def _drain(
    writer: DataStreamWriter,
    checkpoint: str | None,
    *,
    partitions: int | None = STATE_PARTITIONS,
    rocksdb: bool = False,
) -> None:
    """Run ``writer`` (plan + sink, no trigger) to completion."""
    spark = writer._spark
    writer = writer.option(
        "checkpointLocation", checkpoint or scratch_dir("ckpt_")
    ).trigger(availableNow=True)
    with (
        scoped_conf(spark, "spark.sql.shuffle.partitions", partitions),
        scoped_conf(spark, _PROVIDER, _ROCKSDB if rocksdb else None),
    ):
        writer.start().awaitTermination()


def _drain_to_memory(
    df: DataFrame,
    name: str,
    mode: str = "append",
    checkpoint: str | None = None,
    *,
    partitions: int | None = STATE_PARTITIONS,
) -> DataFrame:
    """Drain ``df`` into a fresh memory-sink table named after ``name``
    and return the table."""
    table = f"{name}_{uuid.uuid4().hex[:8]}"
    _drain(
        df.writeStream.outputMode(mode).format("memory").queryName(table),
        checkpoint,
        partitions=partitions,
    )
    return df.sparkSession.table(table)


def _drain_to_batch_log(
    df: DataFrame,
    mode: str,
    log_dir: str,
    schema: str,
    checkpoint: str | None = None,
    *,
    rocksdb: bool = False,
) -> DataFrame:
    """Drain ``df`` through ``foreachBatch`` into ``log_dir``, one
    ``batch=<bid>`` dir per micro-batch, and return every row logged
    there so far (an empty ``schema`` frame if no batch ever fired).

    foreachBatch is at-least-once on crash replay: a batch can re-run
    after its output landed but before the commit log recorded it, so a
    plain append would duplicate it on resume. Overwriting the batch's
    own dir makes the replay idempotent; committed batches never
    re-run, so earlier dirs are untouched.
    """
    def emit(batch: DataFrame, bid: int) -> None:
        batch.write.mode("overwrite").parquet(
            os.path.join(log_dir, f"batch={bid}")
        )

    _drain(
        df.writeStream.outputMode(mode).foreachBatch(emit),
        checkpoint,
        rocksdb=rocksdb,
    )
    spark = df.sparkSession
    # Hadoop FS probe, NOT os.path: on a non-local checkpoint an
    # os.path.isdir is always False and would silently return an empty
    # frame, dropping every logged row.
    fs, hpath = hadoop_fs(spark, log_dir)
    if not fs.exists(hpath):
        return spark.createDataFrame([], schema)
    # partition discovery appends the batch=<bid> dir as a column even
    # under an explicit schema — drop it, it's sink bookkeeping
    return spark.read.schema(schema).parquet(log_dir).drop("batch")
