"""Source/sink coverage (SURVEY.md §2.1 S1-S9): REST export reader with
pushdown params, schema-declared CSV/JSON round-trips."""

from __future__ import annotations

import urllib.parse

from pyspark.sql import functions as F
from pyspark.sql import types as T

from public_projet_data_engineering_tarification_electrique_spark.sources.readers import (
    read_csv,
    read_json_records,
)
from public_projet_data_engineering_tarification_electrique_spark.sources.rest import (
    build_export_url,
    read_rest_json,
)
from public_projet_data_engineering_tarification_electrique_spark.sources.writers import (
    write_csv,
)

ANNUAL_SCHEMA = T.StructType(
    [
        T.StructField("nom_commune", T.StringType()),
        T.StructField("code_commune", T.StringType()),
        T.StructField("conso_moyenne_mwh", T.DoubleType()),
        T.StructField("annee", T.IntegerType()),
    ]
)


def test_build_export_url_pushdown_params():
    url = build_export_url(
        "https://example.org/api/records/1.0",
        "eco2mix-regional-tr",
        select="code_insee_region, date, consommation",
        where="date='2024-01-17'",
    )
    parsed = urllib.parse.urlparse(url)
    qs = urllib.parse.parse_qs(parsed.query)
    assert parsed.path.endswith("/eco2mix-regional-tr/exports/json")
    assert qs["limit"] == ["-1"]  # unbounded, as the reference requests
    assert qs["select"] == ["code_insee_region, date, consommation"]
    assert qs["where"] == ["date='2024-01-17'"]


def test_read_rest_json_with_injected_fetcher(spark):
    payload = [
        # extra field the API returns but the schema does not declare
        {"nom_commune": "Brageac", "code_commune": "15024",
         "conso_moyenne_mwh": 398.0, "annee": 2021, "code_grand_secteur": "RES"},
        {"nom_commune": "Brageac", "code_commune": "15024",
         "conso_moyenne_mwh": 407.0, "annee": 2022},
    ]
    seen: list[str] = []

    def fake_fetcher(url: str) -> list[dict]:
        seen.append(url)
        return payload

    df = read_rest_json(spark, "http://test/x/exports/json?limit=-1",
                        ANNUAL_SCHEMA, fetcher=fake_fetcher)
    assert seen == ["http://test/x/exports/json?limit=-1"]
    assert df.columns == [f.name for f in ANNUAL_SCHEMA.fields]
    rows = sorted(df.collect(), key=lambda r: r.annee)
    assert rows[0].conso_moyenne_mwh == 398.0
    assert rows[1].annee == 2022


def test_csv_roundtrip_with_declared_schema(spark, tmp_path):
    src = spark.createDataFrame(
        [("a", "1", 398.0, 2021), ("b", "2", None, 2022)], ANNUAL_SCHEMA
    )
    path = str(tmp_path / "annual_csv")
    write_csv(src, path)
    back = read_csv(spark, path, ANNUAL_SCHEMA)
    assert back.schema == ANNUAL_SCHEMA
    assert sorted((r.nom_commune, r.annee) for r in back.collect()) == [
        ("a", 2021), ("b", 2022),
    ]
    # NULL round-trips as NULL, not the string "null"
    assert back.filter(F.col("conso_moyenne_mwh").isNull()).count() == 1


def test_json_records_path_mode(spark, tmp_path):
    p = tmp_path / "rec.jsonl"
    p.write_text(
        '{"nom_commune":"a","code_commune":"1","conso_moyenne_mwh":1.5,"annee":2020}\n'
    )
    df = read_json_records(spark, str(p), ANNUAL_SCHEMA)
    assert df.collect()[0].conso_moyenne_mwh == 1.5


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    """Two tables bucketed on the join key must sort-merge-join without
    any Exchange on either side (the write pre-paid the shuffle)."""
    import io
    import contextlib

    from public_projet_data_engineering_tarification_electrique_spark.sources.tables import (
        load_table,
    )
    from public_projet_data_engineering_tarification_electrique_spark.sources.writers import (
        write_bucketed,
    )

    spark.sql(f"CREATE DATABASE IF NOT EXISTS bkt LOCATION '{tmp_path}/bkt.db'")
    sf = "/root/testdata/sf0.001"
    write_bucketed(
        load_table(spark, sf, "lineitem").select("l_orderkey", "l_quantity"),
        "bkt.li", ("l_orderkey",), num_buckets=4, sort_cols=("l_orderkey",),
    )
    write_bucketed(
        load_table(spark, sf, "orders").select("o_orderkey", "o_totalprice"),
        "bkt.ord", ("o_orderkey",), num_buckets=4, sort_cols=("o_orderkey",),
    )
    li, ord_ = spark.table("bkt.li"), spark.table("bkt.ord")
    joined = li.hint("merge").join(ord_, li.l_orderkey == ord_.o_orderkey)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        joined.explain("formatted")
    plan = buf.getvalue()
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan, plan
    # sanity: result matches the plain join
    plain = load_table(spark, sf, "lineitem").join(
        load_table(spark, sf, "orders"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    assert joined.count() == plain.count()
    spark.sql("DROP TABLE bkt.li")
    spark.sql("DROP TABLE bkt.ord")
    spark.sql("DROP DATABASE bkt")


def test_materialize_once_skips_recompute(spark, tmp_path):
    from public_projet_data_engineering_tarification_electrique_spark.sources.writers import (
        materialize_once,
    )

    calls = []

    def expensive():
        calls.append(1)
        return spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")

    path = str(tmp_path / "cache_pq")
    first = materialize_once(expensive(), path)
    assert first.count() == 2
    # second run: the frame passed in is NOT recomputed (plan is lazy, the
    # cache hit never triggers its job) and the artifact is served
    lazy = expensive()  # builds a plan; count only if cache misses
    second = materialize_once(lazy, path)
    assert second.count() == 2
    assert sorted(r.v for r in second.collect()) == ["a", "b"]


def test_date_partition_overwrite_idempotent_and_pruned(spark, tmp_path):
    """overwrite_date_partition: (a) re-running a day replaces that day
    (no duplicate rows — the reference's WRITE_APPEND flaw, SURVEY
    §2.9); (b) untouched partitions survive; (c) a date-equality read
    prunes to one partition directory (PartitionFilters in the scan)."""
    import pyspark.sql.functions as F

    from public_projet_data_engineering_tarification_electrique_spark.sources.writers import (
        overwrite_date_partition,
    )

    path = str(tmp_path / "daily")
    day1 = spark.createDataFrame(
        [("2024-01-01", "r1", 10.0), ("2024-01-01", "r2", 20.0)],
        "date string, region string, conso double",
    )
    day2 = spark.createDataFrame(
        [("2024-01-02", "r1", 30.0)], "date string, region string, conso double"
    )
    overwrite_date_partition(day1, path)
    overwrite_date_partition(day2, path)
    # backfill re-run of day1 with corrected values: replaces, not appends
    day1_fixed = spark.createDataFrame(
        [("2024-01-01", "r1", 11.0), ("2024-01-01", "r2", 21.0)],
        "date string, region string, conso double",
    )
    overwrite_date_partition(day1_fixed, path)

    out = spark.read.parquet(path)
    assert out.count() == 3
    assert out.filter(F.col("date") == "2024-01-01").count() == 2
    got = {
        (r.region): r.conso for r in out.filter(F.col("date") == "2024-01-01").collect()
    }
    assert got == {"r1": 11.0, "r2": 21.0}
    # day2 untouched by the day1 re-run
    assert out.filter(F.col("date") == "2024-01-02").count() == 1

    pruned = out.filter(F.col("date") == "2024-01-02")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "2024-01-02" in plan


def test_serving_plans_broadcast_never_sortmerge(spark):
    """q94/q98 claim (PLANS.md 1b): the serving path is scan → broadcast
    joins → project; a SortMergeJoin would mean a fact-side shuffle."""
    from public_projet_data_engineering_tarification_electrique_spark.plans import (
        registry,
    )
    from .conftest import SF_SMOKE

    df = registry.q94_price_batch_status(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 4


def test_anchored_neardup_plan_construction_launches_no_job(spark):
    """Anchored blocking derives its stride/anchors lazily (broadcast
    scalar subquery) — building the plan must not run a job."""
    from public_projet_data_engineering_tarification_electrique_spark.operators.similarity import (
        anchored_neardup,
    )
    from public_projet_data_engineering_tarification_electrique_spark.sources.tables import (
        load_table,
    )
    from .conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    emb.count()
    tracker = spark.sparkContext.statusTracker()
    before = tracker.getJobIdsForGroup(None) or []
    df = anchored_neardup(emb, threshold=0.35)
    after = tracker.getJobIdsForGroup(None) or []
    assert len(after) == len(before), "plan construction launched a job"
    assert df.columns == ["id_a", "id_b", "sim"]


def test_python_datasource_partition_parallel(spark):
    """Spark 4 Python DataSource (sources/pyds.py): one input split per
    API page — the scan's partition count equals the page count, and
    each page's rows carry its page id (executor-side fetch, not a
    driver loop)."""
    from public_projet_data_engineering_tarification_electrique_spark.sources.pyds import (
        register_paged_api,
    )

    register_paged_api(spark)
    df = (
        spark.read.format("paged_api")
        .option("pages", "4")
        .option("page_size", "10")
        .load()
    )
    assert df.rdd.getNumPartitions() == 4
    rows = df.collect()
    assert len(rows) == 40
    by_page = {}
    for r in rows:
        by_page.setdefault(r.page, []).append(r.row_id)
    assert set(by_page) == {0, 1, 2, 3}
    for p, ids in by_page.items():
        assert sorted(ids) == list(range(p * 10, p * 10 + 10))
