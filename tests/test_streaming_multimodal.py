"""Streaming and multimodal plumbing tests."""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F

from public_projet_data_engineering_tarification_electrique_spark.operators.multimodal import (
    attach_binary_payload,
    extract_media_meta,
)
from public_projet_data_engineering_tarification_electrique_spark.sources.tables import (
    load_table,
)
from public_projet_data_engineering_tarification_electrique_spark.sources.writers import (
    overwrite_date_partition,
)
from public_projet_data_engineering_tarification_electrique_spark.streaming.daily import (
    stream_daily_event_avg,
)

SF = "/root/testdata/sf0.001"


def test_streaming_matches_batch(spark):
    """availableNow streaming agg == the equivalent batch plan."""
    streamed = {
        (r["date"], r["event_type"]): r["avg_value"]
        for r in stream_daily_event_avg(spark, f"{SF}/events.parquet").collect()
    }
    batch = {
        (r["date"], r["event_type"]): r["avg_value"]
        for r in load_table(spark, SF, "events")
        .groupBy(F.to_date("ts").alias("date"), "event_type")
        # same +1e-9 boundary nudge as the streaming agg (PLANS.md §2h):
        # the twin must round identically or a mean sitting on a 4-dp
        # half-way boundary flips only one side.
        .agg(F.round(F.avg("value") + 1e-9, 4).alias("avg_value"))
        .collect()
    }
    assert streamed == batch


def test_streaming_incremental_checkpoint(spark):
    """availableNow + checkpoint = incremental: a second run over an
    unchanged landing dir fires no batch (nothing reprocessed — the
    streaming analogue of the reference's which-day bookkeeping)."""
    landing = tempfile.mkdtemp(prefix="landing_test_")
    os.symlink(f"{SF}/events.parquet", os.path.join(landing, "events.parquet"))
    ckpt = tempfile.mkdtemp(prefix="ckpt_test_")
    first = stream_daily_event_avg(spark, landing, checkpoint_dir=ckpt).count()
    second = stream_daily_event_avg(spark, landing, checkpoint_dir=ckpt).count()
    assert first > 0
    assert second == 0  # no new files → no batch → nothing re-emitted


def test_multimodal_meta_deterministic(spark):
    docs = load_table(spark, SF, "documents").limit(20)
    meta = extract_media_meta(attach_binary_payload(docs)).collect()
    assert len(meta) == 20
    by_id = {r["doc_id"]: r for r in meta}
    src = {r["doc_id"]: r["text"] for r in docs.collect()}
    for doc_id, text in src.items():
        row = by_id[doc_id]
        n = len(text.encode("utf-8"))
        assert row["n_bytes"] == n
        assert row["width"] == 64 + n % 64
        assert row["height"] == 64 + (n // 64) % 64
        assert row["format"] == ("png", "jpg", "webp")[doc_id % 3]


def test_idempotent_partition_overwrite(spark, tmp_path):
    """Re-running a day replaces that day's partition (no dup rows) —
    the fix for the reference's WRITE_APPEND backfill dupes."""
    out = str(tmp_path / "daily")
    df1 = spark.createDataFrame(
        [("84", "2024-01-01", 100.0), ("84", "2024-01-02", 200.0)],
        "region string, date string, conso double",
    )
    overwrite_date_partition(df1, out)
    # re-run day 2 with a corrected value + a new day 3
    df2 = spark.createDataFrame(
        [("84", "2024-01-02", 250.0), ("84", "2024-01-03", 300.0)],
        "region string, date string, conso double",
    )
    overwrite_date_partition(df2, out)
    # partition values are re-inferred on read (string → date)
    rows = {
        (str(r["date"]), r["conso"]) for r in spark.read.parquet(out).collect()
    }
    assert rows == {("2024-01-01", 100.0), ("2024-01-02", 250.0), ("2024-01-03", 300.0)}


def test_frame_sample_shape_and_content(spark):
    from public_projet_data_engineering_tarification_electrique_spark.operators.multimodal import (
        attach_binary_payload,
        frame_sample,
    )

    docs = spark.createDataFrame(
        [(1, "x" * 200), (2, "short")], "doc_id long, text string"
    )
    frames = frame_sample(
        attach_binary_payload(docs), frame_bytes=64, max_frames=8
    ).collect()
    by_doc = {}
    for r in frames:
        by_doc.setdefault(r.doc_id, []).append(r)
    # 200 bytes // 64 = 3 frames; short docs yield exactly one frame
    assert len(by_doc[1]) == 3
    assert len(by_doc[2]) == 1
    f0 = sorted(by_doc[1], key=lambda r: r.frame_idx)[0]
    assert bytes(f0.frame_bytes) == b"x" * 64
    assert bytes(by_doc[2][0].frame_bytes) == b"short"


def test_byte_histogram_features_match_numpy_model(spark):
    import numpy as np

    from public_projet_data_engineering_tarification_electrique_spark.operators.multimodal import (
        attach_binary_payload,
        byte_histogram_features,
    )

    texts = [(1, "hello world"), (2, "aaaa"), (3, "")]
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    got = {
        r.doc_id: list(r.features)
        for r in byte_histogram_features(
            attach_binary_payload(docs), n_bins=64
        ).collect()
    }
    for did, text in texts:
        arr = np.frombuffer(text.encode(), dtype=np.uint8)
        exp = np.bincount(arr // 4, minlength=64).astype(int).tolist()
        assert got[did] == exp
        assert sum(got[did]) == len(text.encode())


def test_backfill_daily_idempotent_range(spark, tmp_path):
    """Backfilling a sub-range twice must not duplicate rows and must
    not touch partitions outside the range."""
    from public_projet_data_engineering_tarification_electrique_spark.operators.ingest import (
        backfill_daily,
    )

    daily = spark.createDataFrame(
        [("A", f"2024-01-{d:02d}", float(d)) for d in range(1, 11)],
        "libelle_region string, date string, conso_mwh double",
    ).withColumn("date", F.to_date("date"))
    out = str(tmp_path / "daily_pq")
    daily.write.partitionBy("date").parquet(out)

    # corrupt one in-range day's data, then backfill the range to repair
    changed = daily.withColumn(
        "conso_mwh", F.when(F.col("date") == "2024-01-05", 99.0).otherwise(F.col("conso_mwh"))
    )
    backfill_daily(changed, out, "2024-01-03", "2024-01-07")
    backfill_daily(changed, out, "2024-01-03", "2024-01-07")  # idempotent re-run

    back = spark.read.parquet(out)
    assert back.count() == 10  # no duplicate rows
    assert back.filter((F.col("date") == "2024-01-05") & (F.col("conso_mwh") == 99.0)).count() == 1
    # out-of-range day untouched
    assert back.filter((F.col("date") == "2024-01-01") & (F.col("conso_mwh") == 1.0)).count() == 1


def test_stream_dedup_drops_redelivered_events(spark, tmp_path):
    """A landing zone containing the same file content twice (re-delivery)
    must stream out each event_id exactly once."""
    import shutil

    from public_projet_data_engineering_tarification_electrique_spark.streaming.dedup import (
        stream_dedup_events,
    )

    src_file = "/root/testdata/sf0.001/events.parquet"
    landing = tmp_path / "landing"
    landing.mkdir()
    shutil.copy(src_file, landing / "delivery1.parquet")
    shutil.copy(src_file, landing / "delivery2.parquet")  # re-delivery

    out = stream_dedup_events(spark, str(landing))
    n_distinct = spark.read.parquet(src_file).select("event_id").distinct().count()
    assert out.count() == n_distinct
    assert out.select("event_id").distinct().count() == n_distinct


def test_events_stream_starts_on_empty_landing_dir(spark, tmp_path):
    """Production shape: the stream builder must not raise when the
    landing directory exists but no file has landed yet (the schema
    probe falls back to the declared TIMESTAMP(US) landing schema)."""
    from public_projet_data_engineering_tarification_electrique_spark.streaming.daily import (
        events_stream,
    )

    df = events_stream(spark, str(tmp_path))
    assert df.isStreaming
    assert "ts" in df.columns


def test_stream_upsert_resume_keeps_full_state(spark, tmp_path):
    """Re-running with the same checkpoint+state (no new files) fires no
    batch and must still return the FULL merged state — the
    checkpoint/state pairing contract. Passing only one of the pair is
    an error."""
    import pytest

    from public_projet_data_engineering_tarification_electrique_spark.streaming.upsert import (
        stream_upsert_latest,
    )

    ckpt, state = str(tmp_path / "ckpt"), str(tmp_path / "state")
    first = {
        r["user_id"]: r["last_event_id"]
        for r in stream_upsert_latest(
            spark, f"{SF}/events.parquet", state_dir=state, checkpoint_dir=ckpt
        ).collect()
    }
    assert first
    second = {
        r["user_id"]: r["last_event_id"]
        for r in stream_upsert_latest(
            spark, f"{SF}/events.parquet", state_dir=state, checkpoint_dir=ckpt
        ).collect()
    }
    assert second == first
    with pytest.raises(ValueError, match="together"):
        stream_upsert_latest(spark, f"{SF}/events.parquet", checkpoint_dir=ckpt)


def test_stream_sessionize_numbering_survives_timeout(spark, tmp_path):
    """A timeout-closed session must leave a numbering tombstone: the
    user's next session continues 1..k (batch-twin numbering), it does
    not restart at 1 with a duplicate (user, session_id) key."""
    from public_projet_data_engineering_tarification_electrique_spark.streaming.sessions import (
        stream_sessionize,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    ckpt = str(tmp_path / "ckpt")
    cols = "event_id long, ts timestamp_ntz, user_id long, event_type string, value double, props string"

    def land(name, rows):
        # one flat parquet FILE per delivery (the file stream does not
        # descend into non-partition subdirectories)
        import pyarrow as pa
        import pyarrow.parquet as pq

        eid, ts, uid, etype, value, props = zip(*rows)
        pq.write_table(
            pa.table(
                {
                    "event_id": pa.array(eid, pa.int64()),
                    "ts": pa.array(list(ts), pa.timestamp("us")),
                    "user_id": pa.array(uid, pa.int64()),
                    "event_type": pa.array(etype, pa.string()),
                    "value": pa.array(value, pa.float64()),
                    "props": pa.array(props, pa.string()),
                }
            ),
            str(landing / f"{name}.parquet"),
        )

    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def emitted(run_rows):
        return [
            (r["user_id"], r["session_id"])
            for r in run_rows
            if r["user_id"] == 7
        ]

    land("f1", [(1, t0, 7, "click", 1.0, "{}")])
    stream_sessionize(spark, str(landing), gap_seconds=1800, checkpoint_dir=ckpt)
    # another user's event pushes the watermark past user 7's end+gap →
    # user 7's open session closes via TIMEOUT (the tombstone path)
    land("f2", [(2, t0 + dt.timedelta(seconds=10000), 8, "click", 1.0, "{}")])
    stream_sessionize(spark, str(landing), gap_seconds=1800, checkpoint_dir=ckpt)
    # user 7 returns → second session opens; a later watermark push
    # closes it via timeout as well
    land("f3", [(3, t0 + dt.timedelta(seconds=20000), 7, "click", 2.0, "{}")])
    stream_sessionize(spark, str(landing), gap_seconds=1800, checkpoint_dir=ckpt)
    land("f4", [(4, t0 + dt.timedelta(seconds=40000), 9, "click", 1.0, "{}")])
    final = stream_sessionize(
        spark, str(landing), gap_seconds=1800, checkpoint_dir=ckpt
    ).collect()  # cumulative: every session emitted under this checkpoint

    user7 = sorted(
        (r["session_id"], r["start_s"]) for r in final if r["user_id"] == 7
    )
    assert [sid for sid, _ in user7] == [1, 2], user7


def test_stream_sessionize_migrates_legacy_flat_emitted_layout(spark, tmp_path):
    """A checkpoint whose emitted/ dir holds flat part files (the
    pre-batch=<bid> layout) must be migrated into batch=legacy on the
    next run — the cumulative read-back keeps the legacy sessions and
    does not die on CONFLICTING_DIRECTORY_STRUCTURES."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from public_projet_data_engineering_tarification_electrique_spark.streaming.sessions import (
        stream_sessionize,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    ckpt = tmp_path / "ckpt"
    emitted = ckpt / "emitted"
    emitted.mkdir(parents=True)
    # legacy flat file, OUTPUT_SCHEMA shape, as the old append-mode sink
    # would have left it
    pq.write_table(
        pa.table(
            {
                "user_id": pa.array([999], pa.int64()),
                "session_id": pa.array([1], pa.int64()),
                "n_events": pa.array([2], pa.int64()),
                "start_s": pa.array([100], pa.int64()),
                "end_s": pa.array([200], pa.int64()),
                "sum_value": pa.array([3.5], pa.float64()),
            }
        ),
        str(emitted / "part-00000-legacy.parquet"),
    )
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([1, 2], pa.int64()),
                "ts": pa.array([t0, t0 + dt.timedelta(seconds=10000)], pa.timestamp("us")),
                "user_id": pa.array([7, 8], pa.int64()),
                "event_type": pa.array(["click", "click"], pa.string()),
                "value": pa.array([1.0, 1.0], pa.float64()),
                "props": pa.array(["{}", "{}"], pa.string()),
            }
        ),
        str(landing / "f1.parquet"),
    )
    out = stream_sessionize(
        spark, str(landing), gap_seconds=1800, checkpoint_dir=str(ckpt)
    )
    rows = {(r["user_id"], r["session_id"]) for r in out.collect()}
    assert (999, 1) in rows  # legacy session survives the migration
    assert (emitted / "batch=legacy" / "part-00000-legacy.parquet").exists()
    assert not (emitted / "part-00000-legacy.parquet").exists()


def test_stream_daily_ingest_refuses_legacy_flat_out_path(spark, tmp_path):
    """The date-partitioned sink must refuse an out_path already holding
    a flat (unpartitioned) layout instead of mixing the two."""
    import pytest

    from public_projet_data_engineering_tarification_electrique_spark.streaming.daily import (
        stream_daily_ingest,
    )

    out = tmp_path / "out"
    out.mkdir()
    (out / "part-00000-old.parquet").write_bytes(b"")
    with pytest.raises(ValueError, match="UNPARTITIONED"):
        stream_daily_ingest(
            spark,
            "/root/testdata/sf0.001/events.parquet",
            str(out),
            str(tmp_path / "ckpt"),
        )
