"""Round-13 optimization-focused tests: the _NPART_CACHE shape guard
and the internals changed by this round's operator rewrites."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from public_projet_data_engineering_tarification_electrique_spark.operators.util import (
    _NPART_CACHE,
    _scan_shaped,
    ensure_parallelism,
)
from public_projet_data_engineering_tarification_electrique_spark.sources.tables import (
    load_table,
)

from .conftest import SF_SMOKE


def test_npart_cache_guard_post_shuffle_frame_takes_live_probe(spark):
    """A post-shuffle frame over the SAME files as a scan frame must
    NOT reuse the scan's cached partition count: the guard detects the
    shape and takes the live probe (VERDICT r12 item 6)."""
    scan = load_table(spark, SF_SMOKE, "orders").select("o_orderkey")
    # populate the cache with the scan-shaped count
    ensure_parallelism(scan, 4)
    key_count_before = len(_NPART_CACHE)
    assert key_count_before >= 1

    shuffled = scan.repartition(16)
    out = ensure_parallelism(shuffled, 4)
    # 16 >= 4: no repartition may be applied. Under the unguarded cache
    # the (appId, files) key would report the SCAN's count (1-2 at
    # sf0.001) and force a spurious repartition(4).
    assert out.rdd.getNumPartitions() == 16
    # and the shuffled frame must not have poisoned the cache
    assert len(_NPART_CACHE) == key_count_before


def test_scan_shaped_classifier(spark):
    scan = load_table(spark, SF_SMOKE, "orders")
    assert _scan_shaped(scan)
    assert _scan_shaped(scan.select("o_orderkey"))
    assert _scan_shaped(scan.filter(F.col("o_orderkey") > 0))
    assert not _scan_shaped(scan.repartition(4))
    assert not _scan_shaped(scan.repartition(4, "o_orderkey"))
    assert not _scan_shaped(scan.repartitionByRange(4, "o_orderkey"))
    assert not _scan_shaped(scan.limit(5))
    assert not _scan_shaped(scan.select("o_orderkey").distinct())
    assert not _scan_shaped(scan.union(scan))
    assert not _scan_shaped(
        scan.groupBy("o_custkey").agg(F.count("*").alias("n"))
    )
