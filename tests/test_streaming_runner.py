"""Contract of streaming/runner.py, read from what a run leaves in its
checkpoint: ``offsets/0`` carries the session confs the query started
with (shuffle partitions = state-store count, state-store provider), and
the session gets its own values back afterwards — also when a
micro-batch raises."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.errors import StreamingQueryException

from public_projet_data_engineering_tarification_electrique_spark.streaming import (
    runner,
)

from .conftest import SF_SMOKE

PARTITIONS = "spark.sql.shuffle.partitions"
PROVIDER = "spark.sql.streaming.stateStore.providerClass"
HDFS = (
    "org.apache.spark.sql.execution.streaming.state."
    "HDFSBackedStateStoreProvider"
)


def _recorded(checkpoint: str) -> dict:
    """The conf map of the first batch's offset-log metadata."""
    with open(os.path.join(checkpoint, "offsets", "0")) as fh:
        lines = fh.read().splitlines()
    return json.loads(lines[1])["conf"]


@pytest.fixture
def session_confs(spark):
    """Run with shuffle partitions 5 (not the pinned 8) and the provider
    unset; restore the fixture session's values afterwards."""
    before = spark.conf.get(PARTITIONS), spark.conf.get(PROVIDER, None)
    spark.conf.set(PARTITIONS, "5")
    spark.conf.unset(PROVIDER)
    yield spark
    spark.conf.set(PARTITIONS, before[0])
    if before[1] is None:
        spark.conf.unset(PROVIDER)
    else:
        spark.conf.set(PROVIDER, before[1])


def _counts(spark):
    """A stateful stream: per-type counts over the smoke events."""
    return (
        spark.readStream.schema("event_type string")
        .parquet(_landing(spark))
        .groupBy("event_type")
        .count()
    )


def _landing(spark) -> str:
    from public_projet_data_engineering_tarification_electrique_spark.streaming.daily import (
        stage_landing,
    )

    return stage_landing(f"{SF_SMOKE}/events.parquet", "landing_runner_test_")


@pytest.mark.parametrize("rocksdb", [False, True])
def test_drain_records_pinned_confs_and_restores(session_confs, tmp_path, rocksdb):
    spark = session_confs
    ckpt = str(tmp_path / "ckpt")
    log = runner._drain_to_batch_log(
        _counts(spark),
        "update",
        str(tmp_path / "log"),
        "event_type string, count long",
        ckpt,
        rocksdb=rocksdb,
    )
    assert log.count() > 0
    conf = _recorded(ckpt)
    assert conf[PARTITIONS] == str(runner.STATE_PARTITIONS) == "8"
    assert conf[PROVIDER] == (runner._ROCKSDB if rocksdb else HDFS)
    assert spark.conf.get(PARTITIONS) == "5"
    assert spark.conf.get(PROVIDER, None) is None


def test_unpinned_drain_keeps_session_partitions(session_confs, tmp_path):
    spark = session_confs
    ckpt = str(tmp_path / "ckpt")
    out = runner._drain_to_memory(
        _counts(spark), "runner_test", "complete", ckpt, partitions=None
    )
    assert out.count() > 0
    assert _recorded(ckpt)[PARTITIONS] == "5"


def test_confs_restored_when_a_batch_raises(session_confs, tmp_path):
    spark = session_confs
    spark.conf.set(PROVIDER, HDFS)

    def boom(batch, bid):
        raise RuntimeError("batch failed")

    with pytest.raises(StreamingQueryException):
        runner._drain(
            _counts(spark).writeStream.outputMode("update").foreachBatch(boom),
            str(tmp_path / "ckpt"),
            rocksdb=True,
        )
    assert spark.conf.get(PARTITIONS) == "5"
    assert spark.conf.get(PROVIDER) == HDFS


def _daily_event_avg(spark, ckpt):
    from public_projet_data_engineering_tarification_electrique_spark.streaming.daily import (
        stream_daily_event_avg,
    )

    return stream_daily_event_avg(
        spark, f"{SF_SMOKE}/events.parquet", checkpoint_dir=ckpt
    )


def _sessionize(spark, ckpt):
    from public_projet_data_engineering_tarification_electrique_spark.streaming.sessions import (
        stream_sessionize,
    )

    return stream_sessionize(
        spark, f"{SF_SMOKE}/events.parquet", checkpoint_dir=ckpt
    )


def _upsert_latest(spark, ckpt):
    from public_projet_data_engineering_tarification_electrique_spark.streaming.upsert import (
        stream_upsert_latest,
    )

    return stream_upsert_latest(
        spark,
        f"{SF_SMOKE}/events.parquet",
        checkpoint_dir=ckpt,
        state_dir=os.path.join(ckpt, "merge_state"),
    )


@pytest.mark.parametrize(
    "run", [_daily_event_avg, _sessionize, _upsert_latest],
    ids=["stream_daily_event_avg", "stream_sessionize", "stream_upsert_latest"],
)
def test_public_streams_record_pinned_hdfs_state(session_confs, tmp_path, run):
    """The public stateful streams start with 8 state partitions on the
    default provider, whatever the session's shuffle partitions."""
    spark = session_confs
    ckpt = str(tmp_path / "ckpt")
    assert run(spark, ckpt).count() > 0
    conf = _recorded(ckpt)
    assert conf[PARTITIONS] == "8"
    assert conf[PROVIDER] == HDFS
    assert spark.conf.get(PARTITIONS) == "5"
