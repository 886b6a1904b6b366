"""End-to-end streaming CDC pipeline: file stream → ledgered keyed
MERGE state → change-data-feed changelog (extension surface — the
composition of the repo's lakehouse pieces the way a production
pipeline wires them: q116's foreachBatch merge + q229/q234's
ledgered merge_write + q235/q237's retraction-complete CDF, running
as ONE stream).

Per micro-batch (one CDC epoch file per trigger), ONE
``merge_write(..., changelog_dir=..., batch_id=epoch)`` call:

1. checks the txn ledger — a replayed epoch is skipped whole, so it
   neither re-applies the additive update_set nor re-feeds the log;
2. joins the batch with the affected buckets of the PRE-merge state
   (one full-outer join on the key) and appends that join's Delta-CDF
   row set, pre-images included and tagged with the epoch id, to the
   feed dir (the bounded per-batch feed downstream consumers
   subscribe to);
3. rewrites the affected state buckets from the same join.

Scale shape: one full-outer join on the key per batch (AQE broadcasts
small epochs), the state rewrite touches only affected buckets, and
the changelog is O(batch) — the feed never re-reads more than the
epoch and its matched keys. Epoch ORDER is the CDC contract (updates
compose, deletes tombstone), so the landing files get explicit
strictly-increasing mtimes — Spark's FileStreamSource schedules by
(modification time, path), making the batch sequence deterministic.

:func:`_cdc_op` and :func:`_additive_clauses` are the CDC flag and
clause set of the whole orders-digest MERGE family (q229, q235–q237
and this stream). They are functions because a Column needs a live
session, and underscore-named because they only make Columns: they
are not operators the benchmark should time.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..operators.merge import MergeProjections, merge_write, src
from ..operators.util import scratch_dir
from ..session import configure
from .runner import _drain

#: per-key CDC digest row: the unit the extractor emits per epoch
DIGEST_SCHEMA = (
    "custkey long, n_orders long, total_cents long, last_date date, "
    "op string"
)
STATE_SCHEMA = "custkey long, n_orders long, total_cents long, last_date date"


def _cdc_op() -> Column:
    """The synthetic CDC op flag of a digest row: every 50th customer
    is a delete ('D'), the rest are updates ('U')."""
    return F.when(F.pmod(F.col("custkey"), F.lit(50)) == 0, F.lit("D")).otherwise(
        F.lit("U")
    )


def _additive_clauses() -> dict:
    """The MERGE clauses over the digest (keyword arguments of the
    merge family): a matched row adds counts and cents and keeps the
    later date, a 'D' row deletes its match, and a 'D' row for an
    unknown key is not inserted."""
    return dict(
        update_set={
            "n_orders": F.col("n_orders") + src("n_orders"),
            "total_cents": F.col("total_cents") + src("total_cents"),
            "last_date": F.greatest(F.col("last_date"), src("last_date")),
        },
        delete_when=src("op") == "D",
        insert_when=src("op") != "D",
    )


def _all_epoch_digests(
    orders: DataFrame, epoch_cuts: tuple[str, ...]
) -> DataFrame:
    """One CDC row per (epoch, custkey): epochs are the date slices
    the cuts induce ([−∞,c₁), [c₁,c₂), …, [c_k,∞)), assigned in the
    SAME scan — one pass over orders and ONE hash agg for every
    epoch, vs a scan-and-agg per epoch unioned (the fixed cost that
    dominated the q241 wall clock). Per row: additive counts/cents,
    last order date, delete op for every 50th customer (the
    tombstone clause)."""
    ep = F.lit(0)
    for i, cut in enumerate(epoch_cuts):
        ep = F.when(F.col("o_orderdate") < F.lit(cut), ep).otherwise(i + 1)
    # a NULL order date belongs to NO date slice (the oracle's >=/<
    # range predicates drop it too)
    orders = orders.filter(F.col("o_orderdate").isNotNull())
    return orders.groupBy(
        ep.cast("int").alias("_ep"), F.col("o_custkey").alias("custkey")
    ).agg(
        F.count("*").cast("long").alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "total_cents"
        ),
        F.max(F.col("o_orderdate").cast("date")).alias("last_date"),
    ).withColumn("op", _cdc_op())


def stream_cdc_changelog(
    spark: SparkSession,
    orders: DataFrame,
    epoch_cuts: tuple[str, ...] = ("1996-01-01", "1997-06-01"),
) -> DataFrame:
    """Run the CDC stream to completion (availableNow, one epoch file
    per trigger) and return the changelog summary: one row per
    (epoch, change type) with row counts and value sums — a pure
    function of the data because the epoch slicing is by date and the
    file order is pinned.

    Returns columns: ``batch_id int, _change_type string,
    n_rows long, sum_orders long, total_price_sum double``.
    """
    configure(spark)
    landing = scratch_dir("cdc_landing_")
    n_epochs = len(epoch_cuts) + 1
    staged = scratch_dir("cdc_stage_")
    base_t = time.time() - 3600
    # ONE staging job for all epochs — and ONE scan of orders: the
    # epoch id is a CASE over the cuts computed in the same pass, so
    # the digest agg runs once over (epoch, key) instead of a
    # scan-and-agg per epoch unioned. repartition(_ep) leaves exactly
    # one file per ep= dir (each task writes only its own epoch
    # values), vs one coalesce(1) job per epoch.
    _all_epoch_digests(orders, epoch_cuts).repartition(
        n_epochs, "_ep"
    ).write.mode("overwrite").partitionBy("_ep").parquet(staged)
    for i in range(n_epochs):
        ep_dir = os.path.join(staged, f"_ep={i}")
        # partitionBy writes no dir for a zero-row epoch — fail at the
        # actual defect (cuts outside the data range) instead of a
        # FileNotFoundError deep in the staging loop
        if not os.path.isdir(ep_dir):
            raise ValueError(
                f"epoch {i} slice is empty — epoch_cuts {epoch_cuts} "
                "leave a cut interval with no orders"
            )
        part = next(
            f for f in sorted(os.listdir(ep_dir)) if f.endswith(".parquet")
        )
        dst = os.path.join(landing, f"ep{i}.parquet")
        os.replace(os.path.join(ep_dir, part), dst)
        # strictly-increasing mtimes pin the batch order (the CDC
        # contract); FileStreamSource sorts by timestamp then path.
        os.utime(dst, (base_t + 60 * i, base_t + 60 * i))

    state = scratch_dir("cdc_state_")
    changelog = scratch_dir("cdc_changelog_")
    # Build the merge expression trees ONCE per stream (guide §1.2):
    # they are pure functions of the fixed digest/state schemas and
    # the clauses; rebuilding them per micro-batch measured ~0.6 s/batch
    # of driver-side Py4J work — the single largest per-batch cost of
    # this stream.
    proj = MergeProjections(
        state_cols=[f.name for f in StructType.fromDDL(STATE_SCHEMA).fields],
        source_cols=[f.name for f in StructType.fromDDL(DIGEST_SCHEMA).fields],
        keys=["custkey"],
        **_additive_clauses(),
    )

    def _apply(batch: DataFrame, bid: int) -> None:
        # one state read + one full-outer join + one checkpoint per
        # batch yields BOTH the CDF changelog (tagged _batch_id,
        # ledger-guarded exactly-once) and the bucket-pruned state
        # rewrite
        merge_write(
            batch.sparkSession,
            state,
            batch,
            ["custkey"],
            STATE_SCHEMA,
            batch_id=int(bid),
            changelog_dir=changelog,
            projections=proj,
        )

    stream = (
        spark.readStream.schema(DIGEST_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )
    _drain(stream.writeStream.foreachBatch(_apply), None)

    feed = spark.read.schema(
        STATE_SCHEMA + ", _change_type string, _batch_id int"
    ).parquet(changelog)
    return feed.groupBy(
        F.col("_batch_id").alias("batch_id"), "_change_type"
    ).agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum("n_orders").cast("long").alias("sum_orders"),
        F.round(F.sum("total_cents") / 100.0, 2).alias("total_price_sum"),
    )
