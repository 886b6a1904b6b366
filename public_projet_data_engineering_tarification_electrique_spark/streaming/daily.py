"""Structured Streaming flavor of the daily incremental ingest
(SURVEY.md §2.9/§3.3 — the reference's Airflow DAG
``reference:airflow/dags/insert_conso_jour_region_in_bq.py``).

The DAG's extract → transform → load with XCom handoffs becomes one
incremental plan: ``readStream`` over the landing directory →
1-day-grain aggregation → sink, run with ``Trigger.AvailableNow`` by
any scheduler (cron replaces Airflow; state/checkpoint replaces the
"which day did I load" bookkeeping, and late/re-delivered readings are
merged instead of appended twice — fixing the reference's duplicate
(region, date) tolerance).

A watermark bounds state for continuous runs of the APPEND-mode sinks
(``stream_daily_ingest``; Spark evicts closed windows past the
watermark). The complete-output-mode memory-sink variants
(``stream_daily_event_avg``, ``stream_enriched_daily``) are bounded
availableNow demos: complete mode never evicts, so for a long-running
deployment use the append-mode ingest. With availableNow the query
drains whatever landed since the last checkpoint and stops — the
exact semantics of the reference's nightly 02:30 batch.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.util import hadoop_fs, scratch_dir
from ..session import configure
from .runner import _drain, _drain_to_memory

#: events landing schema, per ts flavor. Testdata regenerates between
#: rounds and has shipped ts as both TIMESTAMP(US) (read as
#: timestamp_ntz; session tz is pinned UTC so NTZ→TIMESTAMP is an
#: identity relabel) and TIMESTAMP(NANOS) (read as LONG ns under
#: spark.sql.legacy.parquet.nanosAsLong). Mirror
#: sources.tables.load_table's dual-flavor normalization.
EVENTS_LANDING_SCHEMA = (
    "event_id long, ts timestamp_ntz, user_id long, event_type string, "
    "value double, props string"
)
EVENTS_LANDING_SCHEMA_NS = (
    "event_id long, ts long, user_id long, event_type string, "
    "value double, props string"
)


#: (prefix, abs source path) → staged landing dir. The symlink content
#: is a pure function of the source path, and each stream run uses a
#: FRESH checkpoint, so reusing the landing dir across calls is safe —
#: and saves a tempdir + symlink + (downstream) a fresh-path footer
#: probe per call.
_LANDING_CACHE: dict[tuple[str, str], str] = {}

#: (applicationId, landing path) → events ts dtype, memoized because
#: the probe is a ~100 ms spark.read.parquet schema read per call and
#: the flavor of a fixed path never changes within a session.
_TS_FLAVOR_CACHE: dict[tuple[str, str], str | None] = {}


def stage_landing(events_path: str, prefix: str = "landing_") -> str:
    """File streams need a landing DIRECTORY; when pointed at a single
    parquet file (the driver testdata layout), stage a symlink dir.
    The target is absolutized: a relative symlink target would resolve
    against the scratch dir and dangle."""
    if os.path.isfile(events_path):
        key = (prefix, os.path.abspath(events_path))
        hit = _LANDING_CACHE.get(key)
        if hit is not None and os.path.isdir(hit):
            return hit
        landing = scratch_dir(prefix)
        os.symlink(
            os.path.abspath(events_path),
            os.path.join(landing, os.path.basename(events_path)),
        )
        _LANDING_CACHE[key] = landing
        return landing
    return events_path


def stage_landing_under_checkpoint(events_path: str, checkpoint: str) -> str:
    """Resume-aware variant of :func:`stage_landing`: the checkpoint
    pins the source path, so a resumed run must stage the SAME landing
    dir — a fresh tempdir per call would fail the restart with "Wrong
    basePath". Single-file inputs stage a stable symlink dir UNDER the
    checkpoint; directories stream as-is. Shared by the stateful
    streams (sessions, upsert) — one implementation, one fix site."""
    if not os.path.isfile(events_path):
        return events_path
    landing = os.path.join(checkpoint, "landing")
    os.makedirs(landing, exist_ok=True)
    link = os.path.join(landing, os.path.basename(events_path))
    target = os.path.abspath(events_path)
    # lexists: a dangling symlink (staged file since moved) must be
    # replaced, not trip FileExistsError
    if os.path.lexists(link) and (
        not os.path.islink(link) or os.readlink(link) != target
    ):
        os.remove(link)
    if not os.path.lexists(link):
        os.symlink(target, link)
    return landing


def events_stream(spark: SparkSession, events_path: str) -> DataFrame:
    """Streaming events source with the ts flavor detected from the
    parquet footer (a metadata-only batch read — no job) and normalized
    to a true ``timestamp`` column, whatever flavor the testdata shipped.

    An EMPTY landing directory (the production shape: the stream starts
    before the first nightly file lands) cannot be probed — fall back to
    the declared TIMESTAMP(US) schema, the flavor every normal parquet
    writer (including our own sinks) produces; the NANOS-as-long probe
    only matters for pre-existing files, which are by definition
    probeable.
    """
    configure(spark)
    from pyspark.errors import AnalysisException

    flavor_key = (spark.sparkContext.applicationId, events_path)
    if flavor_key in _TS_FLAVOR_CACHE:
        ts_type = _TS_FLAVOR_CACHE[flavor_key]
    else:
        try:
            ts_type = dict(spark.read.parquet(events_path).dtypes).get("ts")
        except AnalysisException:  # no files yet — schema cannot be inferred
            ts_type = None
        # memoize only a SUCCESSFUL probe: an empty landing dir can gain
        # files later and must be re-probed
        if ts_type is not None:
            _TS_FLAVOR_CACHE[flavor_key] = ts_type
    # any other probe failure (permissions, corrupt footer) propagates:
    # silently guessing a schema would surface as a conversion error far
    # from the root cause
    if ts_type == "bigint":  # TIMESTAMP(NANOS) under nanosAsLong
        schema, cast = (
            EVENTS_LANDING_SCHEMA_NS,
            "cast(timestamp_micros(ts div 1000) as timestamp)",
        )
    else:
        schema, cast = EVENTS_LANDING_SCHEMA, "cast(ts as timestamp)"
    return (
        spark.readStream.schema(schema)
        .format("parquet")
        .load(events_path)
        .withColumn("ts", F.expr(cast))
    )


def _daily_avg(src: DataFrame) -> DataFrame:
    """(date, event_type, avg_value): the DAG's transform (groupby day
    + mean + round, reference:airflow/dags/insert_conso_jour_region_in_bq.py:80-86)
    as a windowed aggregation with a 2-day late-data watermark."""
    return (
        src.withWatermark("ts", "2 days")
        .groupBy(F.window("ts", "1 day").alias("_w"), F.col("event_type"))
        .agg(F.round(F.avg("value") + 1e-9, 4).alias("avg_value"))
        .select(
            F.col("_w.start").cast("date").alias("date"), "event_type", "avg_value"
        )
    )


def stream_daily_event_avg(
    spark: SparkSession, events_path: str, checkpoint_dir: str | None = None
) -> DataFrame:
    """Run the daily-downsample aggregation as an availableNow stream and
    return the materialized result (one row per (date, event_type))."""
    configure(spark)
    src = events_stream(spark, stage_landing(events_path, "landing_daily_"))
    return _drain_to_memory(
        _daily_avg(src), "daily_event_avg", "complete", checkpoint_dir
    )


def stream_daily_ingest(
    spark: SparkSession,
    landing_path: str,
    out_path: str,
    checkpoint_dir: str,
) -> None:
    """Production shape: availableNow stream from the landing zone into
    a date-partitioned parquet sink. The nightly scheduler just re-runs
    this.

    Idempotence contract, precisely: the streaming file sink is
    exactly-once WITH its checkpoint (committed batches are recorded in
    the sink's ``_spark_metadata`` log and never re-emitted on resume
    or re-run). It does NOT survive losing the checkpoint — the sink
    only appends, so a fresh checkpoint over the same out_path would
    duplicate windows. For re-runs outside the checkpoint's history
    (reprocessing a date range), use the batch backfill path
    (operators.ingest.backfill_days), which overwrites the touched
    date partitions dynamically.

    Layout-compat note: the sink is ``partitionBy("date")`` — resuming
    a checkpoint over an ``out_path`` written by a pre-partitioning
    build (flat part files at the top level) would mix flat files with
    ``date=`` subdirs and break read-back with
    CONFLICTING_DIRECTORY_STRUCTURES, so a legacy flat layout is
    detected up front and refused: migrate to a fresh out_path (plus a
    fresh checkpoint) before resuming."""
    configure(spark)
    # Hadoop FileSystem API, not os.path: the guard must fire for ANY
    # scheme the path resolves to (file://, hdfs://, s3a://, …) — an
    # os.listdir check silently fails OPEN on distributed storage,
    # which is exactly where a production out_path lives.
    fs, out_hpath = hadoop_fs(spark, out_path)
    if fs.exists(out_hpath) and any(
        status.getPath().getName().startswith("part-")
        for status in fs.listStatus(out_hpath)
    ):
        raise ValueError(
            f"out_path {out_path!r} holds a legacy UNPARTITIONED layout "
            "(top-level part files); this sink writes date= partitions "
            "and mixing the two breaks parquet directory discovery. "
            "Point out_path (and checkpoint_dir) at a fresh location."
        )
    agg = _daily_avg(events_stream(spark, landing_path))
    _drain(
        agg.writeStream.outputMode("append")
        .format("parquet")
        # date-partitioned so downstream date-range scans prune files
        .partitionBy("date")
        .option("path", out_path),
        checkpoint_dir,
        partitions=None,
    )


#: Static event-type → funnel-stage dimension (the stream-static join's
#: small side; in production this is a warehouse dimension table).
EVENT_STAGE_DIM = (
    ("view", "awareness"),
    ("click", "engagement"),
    ("signup", "conversion"),
    ("purchase", "conversion"),
    ("error", "ops"),
)


def stream_enriched_daily(
    spark: SparkSession,
    events_path: str,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Stream-static enrichment join: the event stream joins a static
    dimension (event_type → funnel stage) BEFORE the windowed
    aggregate — the canonical Structured Streaming enrichment shape.
    The static side re-resolves per micro-batch and broadcasts; the
    stream side carries no extra state for the join (only the
    downstream window aggregate is stateful).
    """
    configure(spark)
    stage_dim = F.broadcast(
        spark.createDataFrame(
            list(EVENT_STAGE_DIM), "event_type string, stage string"
        )
    )
    src = events_stream(
        spark, stage_landing(events_path, "landing_enrich_")
    ).join(stage_dim, on="event_type", how="inner")
    agg = (
        src.withWatermark("ts", "2 days")
        .groupBy(F.window("ts", "1 day").alias("_w"), F.col("stage"))
        .agg(
            F.count("*").alias("n"),
            # +1e-9 nudge: one (day, conversion) mean sits 2e-14 from a
            # 4-dp half-way boundary at sf0.01 (PLANS.md 2e rule)
            F.round(F.avg("value") + 1e-9, 4).alias("avg_value"),
        )
        .select(
            F.col("_w.start").cast("date").alias("date"), "stage", "n", "avg_value"
        )
    )
    return _drain_to_memory(agg, "enriched_daily", "complete", checkpoint_dir)


def _click_error_join(
    spark: SparkSession,
    events_path: str,
    window_seconds: int,
    checkpoint_dir: str | None,
    how: str,
) -> DataFrame:
    """Each click joined to the same user's errors within
    [click, click + window]: two streams under a 1-hour watermark, state
    bounded by the time-range predicate (Spark drops a buffered row
    once the other side's watermark passes its join window)."""
    configure(spark)
    events_path = stage_landing(events_path, "landing_ssj_")

    def side(event_type: str, prefix: str):
        return (
            events_stream(spark, events_path)
            .filter(F.col("event_type") == event_type)
            .select(
                F.col("event_id").alias(f"{prefix}_id"),
                F.col("user_id").alias(f"{prefix}_user"),
                F.col("ts").alias(f"{prefix}_ts"),
            )
            .withWatermark(f"{prefix}_ts", "1 hour")
        )

    clicks = side("click", "c")
    errors = side("error", "e")
    joined = clicks.join(
        errors,
        (F.col("c_user") == F.col("e_user"))
        & (F.col("e_ts") >= F.col("c_ts"))
        & (F.col("e_ts") <= F.col("c_ts") + F.expr(f"INTERVAL {window_seconds} SECONDS")),
        how,
    ).select(
        F.col("c_id").alias("click_id"),
        F.col("e_id").alias("error_id"),
        F.col("c_user").alias("user_id"),
        (
            F.unix_micros(F.col("e_ts")) - F.unix_micros(F.col("c_ts"))
        ).alias("delta_us"),
    )
    return _drain_to_memory(joined, f"ssj_{how}", "append", checkpoint_dir)


def stream_stream_click_error_join(
    spark: SparkSession,
    events_path: str,
    window_seconds: int = 3600,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Stream-stream event-time interval join (inner): the streaming
    twin of the batch range join (q42).

    With availableNow over a finite landing directory every true pair
    is emitted (watermarks bound STATE, not inner-join completeness),
    so the batch interval-join SQL is an exact oracle.
    """
    return _click_error_join(
        spark, events_path, window_seconds, checkpoint_dir, "inner"
    )


def stream_stream_click_error_outer_join(
    spark: SparkSession,
    events_path: str,
    window_seconds: int = 3600,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """LEFT OUTER stream-stream interval join — the unmatched-click
    alerting shape on top of :func:`stream_stream_click_error_join`'s
    inner join: a click with NO same-user error inside its window is
    emitted with NULL error columns, but only once the watermark
    PROVES no late error can still arrive (state eviction is the
    emission trigger — outer results are watermark-gated, not
    end-of-batch-gated).

    Determinism over a finite availableNow landing: the final query
    watermark is min(max click ts, max error ts) − 1 hour, so the
    emitted outer set is exactly the clicks whose window closed
    strictly before it; clicks still in-window at end-of-input stay
    in state (they would resolve on the next incremental run). The
    batch oracle reproduces both the join and that cutoff rule —
    value parity pins Spark's eviction arithmetic, not just the
    happy path.
    """
    return _click_error_join(
        spark, events_path, window_seconds, checkpoint_dir, "leftOuter"
    )
