"""Distributed global ordering (operators.shards) and weighted
sampling (operators.sampling.weighted_sample_topk)."""

from __future__ import annotations

from pyspark.sql import functions as F

from public_projet_data_engineering_tarification_electrique_spark.operators.sampling import (
    weighted_sample_topk,
)
from public_projet_data_engineering_tarification_electrique_spark.operators.shards import (
    global_row_number,
    sorted_shards,
)
from public_projet_data_engineering_tarification_electrique_spark.operators.util import (
    scoped_conf,
)


def _docs(spark, n=237, parts=7):
    return spark.range(n).repartition(parts).select(
        F.col("id").alias("doc_id"),
        # non-monotone weights with deliberate ties on the sort value
        ((F.col("id") * 37) % 11 + 1).alias("w"),
    )


def test_global_row_number_is_exact_permutation(spark):
    df = _docs(spark)
    ranked = global_row_number(df, [F.desc("w"), F.asc("doc_id")])
    rows = ranked.orderBy("global_rn").collect()
    assert [r["global_rn"] for r in rows] == list(range(1, 238))
    # the numbering must agree with the declared total order
    expected = df.orderBy(F.desc("w"), F.asc("doc_id")).collect()
    assert [r["doc_id"] for r in rows] == [r["doc_id"] for r in expected]


def test_global_row_number_stable_under_repartition(spark):
    df = _docs(spark)
    order = [F.desc("w"), F.asc("doc_id")]
    with scoped_conf(spark, "spark.sql.shuffle.partitions", 3):
        a = global_row_number(df, order).select("doc_id", "global_rn")
        a = a.collect()
    with scoped_conf(spark, "spark.sql.shuffle.partitions", 9):
        b = global_row_number(df.repartition(13), order)
        b = b.select("doc_id", "global_rn").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_sorted_shards_exactly_full_except_last(spark):
    out = sorted_shards(
        _docs(spark), [F.desc("w"), F.asc("doc_id")], docs_per_shard=50
    )
    sizes = {
        r["shard_id"]: r["n"]
        for r in out.groupBy("shard_id").agg(F.count("*").alias("n")).collect()
    }
    assert sizes == {0: 50, 1: 50, 2: 50, 3: 50, 4: 37}


def test_sorted_shards_rejects_nonpositive_cap(spark):
    import pytest

    with pytest.raises(ValueError):
        sorted_shards(_docs(spark), [F.asc("doc_id")], docs_per_shard=0)


def test_weighted_sample_stratified_counts_and_determinism(spark):
    df = spark.range(300).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 3).cast("string").alias("grp"),
        (F.col("id") % 17 + 1).alias("w"),
    )
    a = weighted_sample_topk(df, "doc_id", "w", k=10, stratum_col="grp")
    counts = {
        r["grp"]: r["n"]
        for r in a.groupBy("grp").agg(F.count("*").alias("n")).collect()
    }
    assert counts == {"0": 10, "1": 10, "2": 10}
    # pure function of identity: repartitioned input picks the SAME docs
    b = weighted_sample_topk(
        df.repartition(11), "doc_id", "w", k=10, stratum_col="grp"
    )
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_weighted_sample_global_is_takeordered_not_single_partition_window(
    spark,
):
    df = spark.range(500).select(
        F.col("id").alias("doc_id"), (F.col("id") % 13 + 1).alias("w")
    )
    out = weighted_sample_topk(df, "doc_id", "w", k=7)
    assert out.count() == 7
    assert [r["sample_rank"] for r in out.orderBy("sample_rank").collect()] == list(
        range(1, 8)
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_weighted_sample_favors_heavy_rows(spark):
    # one row with overwhelming weight must (essentially always) be
    # selected: P(miss) for w=10^6 vs 99 rows of w=1 is astronomically
    # small and the construction is deterministic, so this is a stable
    # regression pin, not a flaky statistical test.
    df = spark.range(100).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") == 42, 1_000_000).otherwise(1).alias("w"),
    )
    picked = {
        r["doc_id"]
        for r in weighted_sample_topk(df, "doc_id", "w", k=5).collect()
    }
    assert 42 in picked


def test_global_row_number_empty_input(spark):
    df = spark.range(0).select(F.col("id").alias("doc_id"))
    out = global_row_number(df, [F.asc("doc_id")])
    assert out.count() == 0
    assert "global_rn" in out.columns


def test_weighted_sample_rejects_negative_and_null_weights(spark):
    import pytest
    from py4j.protocol import Py4JJavaError

    neg = spark.range(10).select(
        F.col("id").alias("doc_id"), (F.col("id") - 5).alias("w")
    )
    with pytest.raises(Exception) as ei:
        weighted_sample_topk(neg, "doc_id", "w", k=3).collect()
    assert "non-negative" in str(ei.value)
    nul = spark.range(10).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") == 3, None).otherwise(1).alias("w"),
    )
    with pytest.raises(Exception):
        weighted_sample_topk(nul, "doc_id", "w", k=3).collect()


def test_weighted_sample_zero_weight_rows_excluded(spark):
    df = spark.range(10).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 5, 0).otherwise(1).alias("w"),
    )
    picked = {
        r["doc_id"]
        for r in weighted_sample_topk(df, "doc_id", "w", k=10).collect()
    }
    assert picked == {5, 6, 7, 8, 9}


def test_sorted_shards_integer_div_and_bloom_k_bounds(spark):
    import pytest

    from public_projet_data_engineering_tarification_electrique_spark.operators.bloom import (
        bloom_build,
    )

    out = sorted_shards(_docs(spark, n=10), [F.asc("doc_id")], docs_per_shard=3)
    sizes = {
        r["shard_id"]: r["n"]
        for r in out.groupBy("shard_id").agg(F.count("*").alias("n")).collect()
    }
    assert sizes == {0: 3, 1: 3, 2: 3, 3: 1}
    keys = spark.range(3).select(F.col("id").alias("k"))
    for bad_k in (0, -1, 5):
        with pytest.raises(ValueError):
            bloom_build(keys, "k", k=bad_k)


def test_global_running_sum_matches_serial_cumsum(spark):
    from public_projet_data_engineering_tarification_electrique_spark.operators.shards import (
        byte_budget_shards,
        global_running_sums,
    )

    df = _docs(spark)
    order = [F.desc("w"), F.asc("doc_id")]
    with scoped_conf(spark, "spark.sql.shuffle.partitions", 5):
        out = global_running_sums(df, order, ["w"], ["running_sum"])
        rows = out.orderBy(*order).collect()
    acc = 0
    for r in rows:
        acc += r["w"]
        assert r["running_sum"] == acc
    # repartition invariance: membership is a pure function of the data
    with scoped_conf(spark, "spark.sql.shuffle.partitions", 9):
        again = global_running_sums(
            df.repartition(13), order, ["w"], ["running_sum"]
        ).select("doc_id", "running_sum").collect()
    assert sorted(map(tuple, again)) == sorted(
        (r["doc_id"], r["running_sum"]) for r in rows
    )
    # byte-budget shards: every shard's EXCLUSIVE start offset lies in
    # [shard*budget, (shard+1)*budget) — first-fit-in-order semantics
    sharded = byte_budget_shards(
        df, [F.desc("w"), F.asc("doc_id")], "w", budget=40
    ).collect()
    for r in sharded:
        start = r["running_bytes"] - r["w"]
        assert r["shard_id"] == start // 40


def test_global_ntile_matches_unpartitioned_ntile(spark):
    from pyspark.sql import Window

    from public_projet_data_engineering_tarification_electrique_spark.operators.shards import (
        global_ntile,
    )

    df = _docs(spark)  # 237 rows, tied w values
    for n in (1, 4, 5, 237, 500):  # incl. n > N (each row its own tile)
        order = [F.desc("w"), F.asc("doc_id")]
        with scoped_conf(spark, "spark.sql.shuffle.partitions", 5):
            got = dict(
                global_ntile(df, order, n, tile_col="t")
                .select("doc_id", "t")
                .collect()
            )
        want = dict(
            df.select(
                "doc_id", F.ntile(n).over(Window.orderBy(*order)).alias("t")
            ).collect()
        )
        assert got == want, f"n_tiles={n}"


def test_global_ntile_rejects_nonpositive_and_handles_empty(spark):
    import pytest

    from public_projet_data_engineering_tarification_electrique_spark.operators.shards import (
        global_ntile,
    )

    with pytest.raises(ValueError):
        global_ntile(_docs(spark), [F.asc("doc_id")], 0)
    empty = _docs(spark).filter(F.lit(False))
    assert global_ntile(empty, [F.asc("doc_id")], 5).count() == 0


def test_global_running_sums_multi_matches_two_windows(spark):
    from pyspark.sql import Window

    from public_projet_data_engineering_tarification_electrique_spark.operators.shards import (
        global_running_sums,
    )

    df = _docs(spark).withColumn("v2", (F.col("doc_id") % 7).cast("long"))
    order = [F.desc("w"), F.asc("doc_id")]
    with scoped_conf(spark, "spark.sql.shuffle.partitions", 5):
        got = global_running_sums(
            df, order, ["w", "v2"], ["rs_w", "rs_v2"]
        ).select("doc_id", "rs_w", "rs_v2").collect()
    w = Window.orderBy(*order).rowsBetween(Window.unboundedPreceding, 0)
    want = df.select(
        "doc_id",
        F.sum("w").over(w).alias("rs_w"),
        F.sum("v2").over(w).alias("rs_v2"),
    )
    assert sorted(map(tuple, got)) == sorted(map(tuple, want.collect()))


def test_global_running_sums_validates_inputs(spark):
    import pytest

    from public_projet_data_engineering_tarification_electrique_spark.operators.shards import (
        global_running_sums,
    )

    df = _docs(spark)
    with pytest.raises(ValueError):
        global_running_sums(df, [F.asc("doc_id")], [])
    with pytest.raises(ValueError):
        global_running_sums(df, [F.asc("doc_id")], ["w"], ["a", "b"])


def test_scale_critical_plans_have_no_unpartitioned_window(spark):
    """Regression pin for the round-7 scale findings: q181's RFM tiles
    and q227/q228's level-table prefix sums must never compile to a
    window over an unpartitioned (single-partition) exchange — the
    classic every-row-into-one-task bottleneck. A window is legal only
    partitioned (here: by the physical partition id of the ranged
    exchange); the only SinglePartition exchange allowed is a terminal
    ≤1-row aggregate, which a window spec never sits above."""
    from public_projet_data_engineering_tarification_electrique_spark.plans.registry import (
        QUERIES_IMPL,
    )

    sf = "/root/testdata/sf0.001"
    # q181's tiles come from the mid record-number bits — no Window
    # node may appear at all
    plan = (
        QUERIES_IMPL["q181_rfm_segments"](spark, sf)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Window" not in plan, f"q181 grew a window:\n{plan}"
    # q227/q228's running-sum window must be partitioned by the ranged
    # exchange's physical partition id wherever it appears (q228's
    # window runs inside its eager localCheckpoint, so its RETURNED
    # plan may contain no window at all — that is fine; what is
    # forbidden is an UNpartitioned one)
    for name in ("q227_exact_auc", "q228_pr_deciles"):
        df = QUERIES_IMPL[name](spark, sf)
        plan = df._jdf.queryExecution().executedPlan().toString()
        for spec in plan.split("windowspecdefinition(")[1:]:
            assert spec.startswith("_pid"), (
                f"{name}: window not partitioned by _pid:\n{spec[:200]}"
            )


def test_global_running_max_matches_window(spark):
    from pyspark.sql import Window

    from public_projet_data_engineering_tarification_electrique_spark.operators.shards import (
        global_running_max,
    )

    df = _docs(spark)  # 237 rows, tied w values
    order = [F.desc("w"), F.asc("doc_id")]
    val = (F.col("doc_id") * 31 % 17).cast("long")
    df = df.withColumn("v", val)
    for exclusive in (False, True):
        with scoped_conf(spark, "spark.sql.shuffle.partitions", 5):
            got = dict(
                global_running_max(df, order, "v", "rm", exclusive=exclusive)
                .select("doc_id", "rm")
                .collect()
            )
        end = -1 if exclusive else 0
        w = Window.orderBy(*order).rowsBetween(Window.unboundedPreceding, end)
        want = dict(
            df.select("doc_id", F.max("v").over(w).alias("rm")).collect()
        )
        assert got == want, f"exclusive={exclusive}"


def test_global_running_max_nan_matches_spark_ordering(spark):
    """Spark treats NaN as GREATER than any double; the driver carry
    fold must mirror that (Python max() is argument-order-dependent on
    NaN), so the result is partition-count independent on NaN input
    (round-8 ADVICE)."""
    import math

    from pyspark.sql import Window

    from public_projet_data_engineering_tarification_electrique_spark.operators.shards import (
        global_running_max,
    )

    rows = [(i, float(v)) for i, v in enumerate([3.0, 7.0, 1.0] * 8)]
    rows[5] = (5, float("nan"))  # NaN lands mid-stream
    df = spark.createDataFrame(rows, "i long, v double")
    order = [F.asc("i")]
    w = Window.orderBy(*order).rowsBetween(Window.unboundedPreceding, 0)
    want = {
        r["i"]: r["rm"]
        for r in df.select("i", F.max("v").over(w).alias("rm")).collect()
    }
    for p in (1, 3, 7):
        with scoped_conf(spark, "spark.sql.shuffle.partitions", p):
            got = {
                r["i"]: r["rm"]
                for r in global_running_max(df, order, "v", "rm").collect()
            }
        assert set(got) == set(want)
        for k in want:
            same = (got[k] == want[k]) or (
                math.isnan(got[k]) and math.isnan(want[k])
            )
            assert same, f"p={p}, i={k}: {got[k]} != {want[k]}"
    # once NaN enters, the running max stays NaN (Spark's ordering)
    assert math.isnan(want[5]) and math.isnan(want[23])


def test_sorted_layout_audit_zorder_wins_on_grid(spark):
    """On a dense uniform 2-D grid, Morton zones are compact boxes
    while lexicographic (x, y) zones are full-height x-slices — the
    z-order layout must touch strictly fewer zones for cell probes.
    Also pins the output contract and the parameter guards."""
    from public_projet_data_engineering_tarification_electrique_spark.operators.shards import (
        sorted_layout_audit,
    )

    n = 64
    rows = [(x * n + y, x, y) for x in range(n) for y in range(n)]
    df = spark.createDataFrame(rows, "id long, x long, y long")
    out = {
        r["layout"]: r
        for r in sorted_layout_audit(
            df, "x", "y", "id", n_zones=64, bits=8, cell_bits=5
        ).collect()
    }
    assert set(out) == {"linear_xy", "zorder"}
    lin, zo = out["linear_xy"], out["zorder"]
    # full 8x8 cell coverage: every 32-wide cell of the 256-grid probed
    assert lin["n_probes"] == 64 and zo["n_probes"] == 64
    assert zo["avg_zones_touched"] < lin["avg_zones_touched"]
    # a probe can never touch fewer than 1 or more than all zones
    assert 1 <= zo["avg_zones_touched"] <= 64

    import pytest as _pytest
    with _pytest.raises(ValueError):
        sorted_layout_audit(df, "x", "y", "id", n_zones=0)
    with _pytest.raises(ValueError):
        sorted_layout_audit(df, "x", "y", "id", bits=4, cell_bits=5)
