"""Streaming deduplication with BOUNDED state.

The batch dedup family (operators.dedup) assumes the corpus is at
rest; an ingest pipeline needs the incremental flavor: drop re-
delivered records as they arrive. ``dropDuplicatesWithinWatermark``
keys the seen-set on the id column but expires entries once the
event-time watermark passes — state is O(ids per watermark window),
not O(all ids ever), which is what makes exactly-once-per-id ingest
survive at 100 TB/day. (Plain streaming ``dropDuplicates`` would grow
state forever — deliberately not used.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import configure
from .daily import events_stream, stage_landing
from .runner import _drain_to_memory


def stream_dedup_events(
    spark: SparkSession,
    events_path: str,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """availableNow stream over the landing path, emitting each event_id
    at most once per 2-day watermark window; returns the deduped rows."""
    configure(spark)
    src = (
        events_stream(spark, stage_landing(events_path, "landing_dedup_"))
        .select(
            "event_id",
            "user_id",
            "event_type",
            "value",
            F.col("ts").alias("_et"),
        )
        .withWatermark("_et", "2 days")
    )
    deduped = src.dropDuplicatesWithinWatermark(["event_id"]).drop("_et")
    return _drain_to_memory(deduped, "dedup", "append", checkpoint_dir)


def stream_srm_daily(
    spark: SparkSession,
    events_path: str,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Streaming daily sample-ratio-mismatch guardrail — q295's A/B
    trust gate as an ALWAYS-ON monitor: exactly-once per-(day, user)
    units via ``dropDuplicatesWithinWatermark`` CHAINED into a
    watermark-gated 1-day window count per md5 arm (two stateful
    operators in one query — the Spark 4 multi-stateful pipeline),
    then the χ² arithmetic on the emitted windows. Duplicate event
    deliveries cannot move the counts (the dedup state absorbs them);
    a day's row emits only once the watermark PROVES the day closed.

    Determinism over a finite availableNow landing (the q270
    convention): the final watermark is max(ts) − 1 day, so the
    emitted set is exactly the days whose window end ≤ that cutoff —
    the batch oracle reproduces the dedup, the split, the χ², AND the
    cutoff rule, pinning Spark's eviction arithmetic.

    Output: (day, n_a, n_b, chi2, srm_flag) for each closed day.
    """
    from ..operators.sampling import hash_bucket

    configure(spark)
    src = events_stream(spark, stage_landing(events_path, "landing_srm_"))
    units = (
        src.select("ts", F.col("user_id").alias("u"))
        .withColumn("_day", F.to_date("ts"))
        .withWatermark("ts", "1 day")
        .dropDuplicatesWithinWatermark(["_day", "u"])
    )
    counts = units.groupBy(
        F.window("ts", "1 day").alias("_w"),
        (hash_bucket(F.col("u"), 2) == 0).alias("_is_a"),
    ).agg(F.count("*").cast("long").alias("_n"))
    emitted = _drain_to_memory(counts, "srm", "append", checkpoint_dir)
    agg = emitted.groupBy(
        F.date_format(F.col("_w.start"), "yyyy-MM-dd").alias("day")
    ).agg(
        F.coalesce(
            F.sum(F.when(F.col("_is_a"), F.col("_n"))), F.lit(0)
        )
        .cast("long")
        .alias("n_a"),
        F.coalesce(
            F.sum(F.when(~F.col("_is_a"), F.col("_n"))), F.lit(0)
        )
        .cast("long")
        .alias("n_b"),
    )
    diff = (F.col("n_a") - F.col("n_b")).cast("double")
    tot = (F.col("n_a") + F.col("n_b")).cast("double")
    chi2 = F.round(diff * diff / tot + 1e-9, 6)
    return agg.select(
        "day", "n_a", "n_b", chi2.alias("chi2"),
        (chi2 > 3.841459).alias("srm_flag"),
    )


def stream_heavy_hitters(
    spark: SparkSession,
    events_path: str,
    k: int = 3,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Streaming per-day top-k heavy hitters: watermark-gated 1-day
    window counts per event_type (append mode — a day's counts emit
    exactly once, when the watermark proves the day closed), then a
    per-day rank over the EMITTED rows. The always-on flavor of q161's
    batch heavy-hitter report: the state store holds only the open
    windows' (day × |event_type|) partial counts — bounded by the
    watermark, never by the stream's history.

    Determinism over a finite availableNow landing (the q270/q303
    convention): emitted days are exactly those whose window end ≤
    max(ts) − 1 day; the batch oracle reproduces the counts, the
    rank, AND that cutoff rule. The rank window partitions by day —
    per-key, never a data-shaped single partition.

    Output: (day, event_type, n, rank ≤ k), one block per closed day.
    """
    from pyspark.sql import Window

    configure(spark)
    src = events_stream(spark, stage_landing(events_path, "landing_hh_"))
    counts = (
        src.select("ts", "event_type")
        .withWatermark("ts", "1 day")
        .groupBy(F.window("ts", "1 day").alias("_w"), "event_type")
        .agg(F.count("*").cast("long").alias("n"))
    )
    emitted = _drain_to_memory(counts, "hh", "append", checkpoint_dir).select(
        F.date_format(F.col("_w.start"), "yyyy-MM-dd").alias("day"),
        "event_type",
        "n",
    )
    rank = F.row_number().over(
        Window.partitionBy("day").orderBy(
            F.col("n").desc(), F.col("event_type").asc()
        )
    )
    return (
        emitted.withColumn("rank", rank)
        .filter(F.col("rank") <= k)
        .orderBy("day", "rank")
    )
