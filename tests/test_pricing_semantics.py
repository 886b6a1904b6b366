"""Domain-semantics tests pinning the reference's documented constants
and worked examples (reference:docs/Notice technique.htm:54-96):
- α(407, 398) = 1.0226..., clamped to [1, 1.3]
- M(conso30=4800) = 0.012
- 50 m², 2 people, α=1.1, M=0.012 → x=8200 kWh → annual price 1458 €
"""

from __future__ import annotations

import datetime as dt
import random

import pytest
from pyspark.sql import functions as F

from public_projet_data_engineering_tarification_electrique_spark.operators.pricing import (
    city_alpha,
    region_trailing_avg,
    score_requests,
)
from public_projet_data_engineering_tarification_electrique_spark.operators.forecast import (
    ols_forecast,
    ols_forecast_pandas,
)
from public_projet_data_engineering_tarification_electrique_spark.schemas import (
    CONSO_AN_VILLE,
    CONSO_JOUR_REGION,
    PRICING_REQUEST,
)


def _annual(spark, rows):
    return spark.createDataFrame(rows, schema=CONSO_AN_VILLE)


def test_alpha_worked_example(spark):
    # notice: α = 407/398 = 1.0226 (docs/Notice technique.htm:73-74)
    annual = _annual(
        spark,
        [("Brageac", "15024", 398.0, 2024), ("Brageac", "15024", 407.0, 2025)],
    )
    [row] = city_alpha(annual, 2024).collect()
    assert abs(row["alpha"] - 407.0 / 398.0) < 1e-6


def test_alpha_clamped_both_sides(spark):
    annual = _annual(
        spark,
        [
            ("Down", "1", 400.0, 2024),  # ratio 0.5 → clamp to 1.0
            ("Down", "1", 200.0, 2025),
            ("Up", "2", 100.0, 2024),  # ratio 2.0 → clamp to 1.3
            ("Up", "2", 200.0, 2025),
        ],
    )
    out = {r["nom_commune"]: r["alpha"] for r in city_alpha(annual, 2024).collect()}
    assert out == {"Down": 1.0, "Up": 1.3}


def test_alpha_missing_year_dropped(spark):
    # city lacking year n+1 → no α row (batch-robust analogue of the
    # reference's HTTP 500, api.py:131-132)
    annual = _annual(spark, [("OnlyN", "3", 400.0, 2024)])
    assert city_alpha(annual, 2024).count() == 0


def test_trailing_avg_inclusive_bounds(spark):
    rows = [
        ("84", "AURA", dt.date(2024, 1, 1), 100.0),  # outside (31 d before run)
        ("84", "AURA", dt.date(2024, 1, 2), 200.0),  # boundary: run - 30 → in
        ("84", "AURA", dt.date(2024, 2, 1), 400.0),  # boundary: run day → in
    ]
    daily = spark.createDataFrame(rows, schema=CONSO_JOUR_REGION)
    [row] = region_trailing_avg(daily, dt.date(2024, 2, 1), days=30).collect()
    assert row["conso30"] == 300.0  # mean(200, 400); the 1 Jan row excluded


def test_price_worked_example(spark):
    # notice example: 50 m², 2 pers → x = 110*50 + 1000*2 + 1100 = 8700?
    # the notice uses x=8200 with slightly different appliance constants;
    # the canonical api.py math gives (0.1558+1.1*0.012)*x + 72.
    requests = spark.createDataFrame(
        [("AURA", "Brageac", "15024", 2, 50)], schema=PRICING_REQUEST
    )
    # conso30 = 4800 → M = 0.012 (notice:81-83)
    daily = spark.createDataFrame(
        [("84", "AURA", dt.date(2024, 1, 20), 4800.0)], schema=CONSO_JOUR_REGION
    )
    # α = 1.1 exactly: 440/400
    annual = _annual(
        spark,
        [("Brageac", "15024", 400.0, 2024), ("Brageac", "15024", 440.0, 2025)],
    )
    [row] = score_requests(
        requests, daily, annual, run_date=dt.date(2024, 1, 30), year_n=2024
    ).collect()
    x = 110 * 50 + 1000 * 2 + 1100  # 8600
    assert row["conso_foyer"] == float(x)
    assert abs(row["m_factor"] - 0.012) < 1e-9
    assert row["price"] == round((0.1558 + 1.1 * 0.012) * x + 72)


def test_m_factor_cap(spark):
    requests = spark.createDataFrame(
        [("R", "C", "1", 1, 10)], schema=PRICING_REQUEST
    )
    daily = spark.createDataFrame(
        [("01", "R", dt.date(2024, 1, 20), 30000.0)], schema=CONSO_JOUR_REGION
    )
    annual = _annual(spark, [("C", "1", 1.0, 2024), ("C", "1", 1.0, 2025)])
    [row] = score_requests(
        requests, daily, annual, run_date=dt.date(2024, 1, 30), year_n=2024
    ).collect()
    assert row["m_factor"] == 0.05  # capped (api.py:121)


def test_unknown_city_gives_null_price(spark):
    requests = spark.createDataFrame(
        [("R", "Nowhere", "00000", 2, 100)], schema=PRICING_REQUEST
    )
    daily = spark.createDataFrame(
        [("01", "R", dt.date(2024, 1, 20), 4000.0)], schema=CONSO_JOUR_REGION
    )
    annual = _annual(spark, [("C", "1", 1.0, 2024), ("C", "1", 1.0, 2025)])
    [row] = score_requests(
        requests, daily, annual, run_date=dt.date(2024, 1, 30), year_n=2024
    ).collect()
    assert row["price"] is None  # no 500s in batch scoring


def test_ols_closed_form_matches_pandas_grouped_map(spark):
    # the pure-SQL OLS is the production path; the applyInPandas variant
    # pins its semantics (reference:0_insert_conso_an_ville_in_bq.py:57-89)
    rows = [
        ("a", "a", 100.0, 2020),
        ("a", "a", 110.0, 2021),
        ("a", "a", 126.0, 2022),
        ("b", "b", 50.0, 2020),  # degenerate: single year → NULL / NaN
    ]
    df = _annual(spark, rows)
    kw = dict(
        group_cols=("nom_commune", "code_commune"),
        x_col="annee",
        y_col="conso_moyenne_mwh",
        target_xs=(2023, 2024),
        round_digits=4,
    )
    sql_out = {
        (r["nom_commune"], r["annee"]): r["prediction"]
        for r in ols_forecast(df, **kw).collect()
    }
    pd_out = {
        (r["nom_commune"], r["annee"]): r["prediction"]
        for r in ols_forecast_pandas(df, **kw).collect()
    }
    assert set(sql_out) == set(pd_out)
    for k, v in sql_out.items():
        if k[0] == "b":
            import math

            # NaN→NULL via Arrow; both variants agree the group is degenerate
            assert v is None
            assert pd_out[k] is None or math.isnan(pd_out[k])
        else:
            assert abs(v - pd_out[k]) < 1e-9
    # slope of (100, 110, 126) over (2020..2022) is 13; ybar=112 at
    # xbar=2021 → pred(2023) = 112 + 13·2 = 138
    assert abs(sql_out[("a", 2023)] - 138.0) < 1e-6


def test_validate_requests_drops_null_required_fields(spark):
    """P7 — required-field validation (reference:api.py:24-33,107): rows
    missing any required field are dropped (the batch analogue of the
    400 response), complete rows pass through untouched."""
    from public_projet_data_engineering_tarification_electrique_spark.operators.pricing import (
        validate_requests,
    )

    rows = [
        ("R", "C", "1", 2, 100),      # complete
        (None, "C", "1", 2, 100),     # missing region
        ("R", "C", "1", None, 100),   # missing nb_personne
    ]
    df = spark.createDataFrame(
        rows,
        "libelle_region string, nom_commune string, code_commune string, "
        "nb_personne int, nb_m2 int",
    )
    out = validate_requests(df).collect()
    assert len(out) == 1 and out[0].libelle_region == "R"


def test_monthly_price_notice_worked_example(spark):
    """Notice worked example (docs/Notice technique.htm:96):
    (0.1558 + 1.1×0.012)×8200/12 + 6 = 121.5 €/month."""
    from pyspark.sql import functions as F

    from public_projet_data_engineering_tarification_electrique_spark.functions.pricing import (
        monthly_price,
    )

    df = spark.createDataFrame([(1.1, 0.012, 8200.0)], "alpha double, m double, x double")
    [row] = df.select(
        monthly_price(F.col("alpha"), F.col("m"), F.col("x"), rounded=True).alias("p")
    ).collect()
    assert row.p == 121.5


def test_score_one_status_taxonomy(spark):
    """Error envelope (reference:api.py:24-33,107,131-132): one call per
    status — missing field, unknown region, unknown city, ok."""
    from public_projet_data_engineering_tarification_electrique_spark.operators.pricing import (
        score_one,
    )
    from public_projet_data_engineering_tarification_electrique_spark.plans.registry import (
        ALPHA_YEAR,
        RUN_DATE,
        _annual_city,
        _daily_region,
        _requests,
    )

    sf = "/root/testdata/sf0.001"
    daily = _daily_region(spark, sf).cache()
    annual = _annual_city(spark, sf, year_range=(ALPHA_YEAR, ALPHA_YEAR + 1)).cache()
    # a request whose city is guaranteed an alpha row: take one from the
    # annual table holding both years
    good = (
        annual.groupBy("nom_commune", "code_commune")
        .count()
        .filter(F.col("count") >= 2)
        .head()
    )
    region = _daily_region(spark, sf).head().libelle_region
    base = {
        "libelle_region": region,
        "nom_commune": good.nom_commune,
        "code_commune": good.code_commune,
        "nb_personne": 3,
        "nb_m2": 95,
    }
    ok = score_one(spark, base, daily, annual, RUN_DATE, ALPHA_YEAR)
    assert ok.status == "ok" and ok.price is not None and ok.price > 0

    missing = dict(base)
    del missing["nb_m2"]
    r = score_one(spark, missing, daily, annual, RUN_DATE, ALPHA_YEAR)
    assert r.status == "missing_field" and r.price is None

    r = score_one(
        spark, {**base, "libelle_region": "ATLANTIS"}, daily, annual, RUN_DATE, ALPHA_YEAR
    )
    assert r.status == "unknown_region" and r.price is None

    r = score_one(
        spark, {**base, "nom_commune": "NOWHERE-VILLE"}, daily, annual, RUN_DATE, ALPHA_YEAR
    )
    assert r.status == "unknown_city" and r.price is None
    daily.unpersist()
    annual.unpersist()


# ---------------------------------------------------------------- score_one
#
# The serving path prices one request against driver-side lookups of the
# two dimension aggregates; these tests pin it to the batch envelope.

_DAILY_DDL = (
    "code_insee_region string, libelle_region string, date date, conso_mwh double"
)
_ANNUAL_DDL = (
    "nom_commune string, code_commune string, conso_moyenne_mwh double, annee int"
)
_RUN_DATE, _YEAR_N = dt.date(2024, 1, 30), 2024


def _dims(spark):
    """Small dimensions with every lookup outcome: a NULL-region reading
    inside the window, a region whose readings are all NULL, a city with
    only year n, and a city whose key has a NULL part."""
    day = dt.date(2024, 1, 20)
    daily = spark.createDataFrame(
        [
            ("01", "R1", day, 4000.0),
            ("01", "R1", dt.date(2024, 1, 25), 5200.0),
            ("02", "R2", day, 30000.0),
            ("03", "R3", day, 1234.5),
            ("04", "ALLNULL", day, None),
            ("05", None, day, 9999.0),
        ],
        _DAILY_DDL,
    )
    annual = spark.createDataFrame(
        [
            ("A", "1", 400.0, 2024), ("A", "1", 440.0, 2025),
            ("B", "2", 100.0, 2024), ("B", "2", 200.0, 2025),
            ("C", "3", 400.0, 2024), ("C", "3", 300.0, 2025),
            ("OnlyN", "4", 400.0, 2024),
            ("NullCode", None, 400.0, 2024), ("NullCode", None, 420.0, 2025),
        ],
        _ANNUAL_DDL,
    )
    return daily, annual


def _requests_sample(seed: int, n: int) -> list[dict]:
    rng = random.Random(seed)
    regions = ["R1", "R2", "R3", "ALLNULL", "ATLANTIS", None]
    cities = [("A", "1"), ("B", "2"), ("C", "3"), ("OnlyN", "4"),
              ("NullCode", None), ("Nowhere", "0"), (None, "1")]
    out = []
    for _ in range(n):
        nom, code = rng.choice(cities)
        req = {
            "libelle_region": rng.choice(regions),
            "nom_commune": nom,
            "code_commune": code,
            "nb_personne": rng.randint(1, 6),
            "nb_m2": rng.randint(10, 250),
        }
        if rng.random() < 0.15:
            del req[rng.choice(sorted(req))]
        out.append(req)
    return out


def _batch_rows(spark, reqs, daily, annual):
    """``score_requests_with_status`` over the same requests, by index."""
    from pyspark.sql import types as T

    from public_projet_data_engineering_tarification_electrique_spark.operators.pricing import (
        score_requests_with_status,
    )

    schema = T.StructType(
        [T.StructField("idx", T.IntegerType(), False)]
        + [T.StructField(f.name, f.dataType, True) for f in PRICING_REQUEST.fields]
    )
    rows = [(i, *(r.get(f.name) for f in PRICING_REQUEST.fields))
            for i, r in enumerate(reqs)]
    scored = score_requests_with_status(
        spark.createDataFrame(rows, schema), daily, annual, _RUN_DATE, _YEAR_N
    ).collect()
    out = {}
    for r in scored:
        d = r.asDict()
        out[d.pop("idx")] = d
    return out


def test_score_one_equals_batch_envelope_row(spark):
    """Field names, order and values of every ``score_one`` Row equal the
    batch envelope's row for the same request, over a seeded sample that
    reaches all four statuses, None request keys and a NULL-region row."""
    from public_projet_data_engineering_tarification_electrique_spark.operators.pricing import (
        score_one,
    )

    daily, annual = (f.cache() for f in _dims(spark))
    reqs = _requests_sample(seed=11, n=60)
    want = _batch_rows(spark, reqs, daily, annual)
    statuses = set()
    try:
        for i, req in enumerate(reqs):
            row = score_one(spark, req, daily, annual, _RUN_DATE, _YEAR_N)
            got = row.asDict()
            assert list(got) == list(want[i]), req
            assert got == want[i], req
            statuses.add(row.status)
    finally:
        daily.unpersist()
        annual.unpersist()
    assert statuses == {"ok", "missing_field", "unknown_region", "unknown_city"}
    assert any(None in r.values() for r in reqs)


def _jobs_in(spark, fn):
    sc = spark.sparkContext
    group = f"score-one-{random.getrandbits(32)}"
    sc.setJobGroup(group, "score_one job count", False)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_score_one_warm_call_launches_no_job(spark):
    from public_projet_data_engineering_tarification_electrique_spark.operators.pricing import (
        score_one,
    )

    daily, annual = (f.cache() for f in _dims(spark))
    req = {"libelle_region": "R1", "nom_commune": "A", "code_commune": "1",
           "nb_personne": 2, "nb_m2": 50}
    try:
        score_one(spark, req, daily, annual, _RUN_DATE, _YEAR_N)  # fills the maps
        for r in _requests_sample(seed=3, n=5):
            assert _jobs_in(
                spark,
                lambda: score_one(spark, r, daily, annual, _RUN_DATE, _YEAR_N),
            ) == 0
    finally:
        daily.unpersist()
        annual.unpersist()


def test_score_one_uncached_frames_stay_live(spark, tmp_path):
    """Frames that are not cached are re-read on every call, so a new
    day appended to a date-partitioned table shows on the next call;
    cached frames are served from the maps until ``unpersist()``."""
    import uuid

    from public_projet_data_engineering_tarification_electrique_spark.operators.pricing import (
        score_one,
    )

    daily0, annual = _dims(spark)
    table = f"score_one_daily_{uuid.uuid4().hex[:8]}"
    daily0.write.partitionBy("date").option(
        "path", str(tmp_path / "daily")
    ).saveAsTable(table)
    req = {"libelle_region": "R3", "nom_commune": "A", "code_commune": "1",
           "nb_personne": 2, "nb_m2": 50}

    def append(day, value):
        spark.createDataFrame(
            [("03", "R3", value, dt.date(2024, 1, day))],
            "code_insee_region string, libelle_region string, "
            "conso_mwh double, date date",
        ).write.insertInto(table)

    def call():
        return score_one(spark, req, daily, annual, _RUN_DATE, _YEAR_N)

    try:
        daily = spark.table(table)
        assert call().conso30 == 1234.5
        append(21, 2234.5)
        assert call().conso30 == 1734.5
        assert _jobs_in(spark, call) > 0  # re-aggregated, not memoized

        daily.cache()
        annual.cache()
        assert call().conso30 == 1734.5
        assert _jobs_in(spark, call) == 0  # served from the maps

        daily.unpersist()
        append(22, 334.5)
        assert call().conso30 == 1267.8333
        assert call().asDict() == _batch_rows(spark, [req], daily, annual)[0]
    finally:
        annual.unpersist()
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_score_one_concurrent_first_calls_fill_maps_once(spark, monkeypatch):
    """Concurrent first calls fill the lookup maps once and build the
    projection's Columns once."""
    import sys
    import threading
    import weakref
    from concurrent.futures import ThreadPoolExecutor

    from public_projet_data_engineering_tarification_electrique_spark.operators import (
        pricing,
    )

    fills, builds = [], []
    collect, build = pricing._collect_lookups, pricing._projection_columns

    def counting(*args):
        fills.append(1)
        return collect(*args)

    def counting_build():
        builds.append(1)
        return build()

    monkeypatch.setattr(pricing, "_collect_lookups", counting)
    monkeypatch.setattr(pricing, "_projection_columns", counting_build)
    monkeypatch.setattr(pricing, "_PROJECTIONS", weakref.WeakKeyDictionary())
    daily, annual = (f.cache() for f in _dims(spark))
    reqs = _requests_sample(seed=5, n=8)
    start = threading.Barrier(len(reqs))

    def first_call(req):
        start.wait(timeout=60)
        return pricing.score_one(spark, req, daily, annual, _RUN_DATE, _YEAR_N)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(max_workers=len(reqs)) as pool:
            futures = [pool.submit(first_call, r) for r in reqs]
            rows = [f.result(timeout=300) for f in futures]
    finally:
        sys.setswitchinterval(interval)
        daily.unpersist()
        annual.unpersist()
    assert len(fills) == 1 and len(builds) == 1
    assert len(rows) == len(reqs) and all(r.status for r in rows)


@pytest.mark.parametrize("nb_m2", [95.0, "95", True, 2**40])
def test_score_one_rejects_mistyped_field_like_create_dataframe(spark, nb_m2):
    """An int field given a float, a string, a bool or an out-of-range int
    raises the error class ``createDataFrame`` raises for a list input."""
    from pyspark.errors import PySparkException
    from pyspark.sql import types as T

    from public_projet_data_engineering_tarification_electrique_spark.operators.pricing import (
        score_one,
    )

    req = {"libelle_region": "R1", "nom_commune": "A", "code_commune": "1",
           "nb_personne": 2, "nb_m2": nb_m2}
    nullable = T.StructType(
        [T.StructField(f.name, f.dataType, True) for f in PRICING_REQUEST.fields]
    )
    with pytest.raises(PySparkException) as want:
        spark.createDataFrame(
            [tuple(req[f.name] for f in PRICING_REQUEST.fields)], nullable
        )
    daily, annual = _dims(spark)
    with pytest.raises(type(want.value)):
        score_one(spark, req, daily, annual, _RUN_DATE, _YEAR_N)


def test_score_one_warm_call_builds_no_column(spark, monkeypatch):
    """Once warm, ``score_one`` reuses the projection's Columns: with
    ``F.col`` and ``F.when`` raising, every response still equals the
    batch envelope's row."""
    import pyspark.sql.functions

    from public_projet_data_engineering_tarification_electrique_spark.operators.pricing import (
        score_one,
    )

    daily, annual = (f.cache() for f in _dims(spark))
    reqs = _requests_sample(seed=17, n=12)
    try:
        want = _batch_rows(spark, reqs, daily, annual)
        score_one(spark, reqs[0], daily, annual, _RUN_DATE, _YEAR_N)

        def no_column(*args, **kwargs):
            raise AssertionError("a warm score_one built a Column")

        monkeypatch.setattr(pyspark.sql.functions, "col", no_column)
        monkeypatch.setattr(pyspark.sql.functions, "when", no_column)
        for i, req in enumerate(reqs):
            row = score_one(spark, req, daily, annual, _RUN_DATE, _YEAR_N)
            assert row.asDict() == want[i], req
    finally:
        daily.unpersist()
        annual.unpersist()


def _with_columns_projection(scored):
    """The projection as four ``withColumn`` calls, one per output
    column: the shape the two-select projection must plan the same as."""
    from public_projet_data_engineering_tarification_electrique_spark.functions.pricing import (
        annual_price,
        household_consumption_kwh,
        m_factor,
    )
    from public_projet_data_engineering_tarification_electrique_spark.schemas import (
        PRICING_REQUEST_REQUIRED,
    )

    missing = F.lit(False)
    for c in sorted(PRICING_REQUEST_REQUIRED):
        missing = missing | F.col(c).isNull()
    return (
        scored.withColumn(
            "status",
            F.when(missing, F.lit("missing_field"))
            .when(F.col("conso30").isNull(), F.lit("unknown_region"))
            .when(F.col("alpha").isNull(), F.lit("unknown_city"))
            .otherwise(F.lit("ok")),
        )
        .withColumn(
            "conso_foyer",
            household_consumption_kwh(F.col("nb_m2"), F.col("nb_personne")),
        )
        .withColumn("m_factor", F.round(m_factor(F.col("conso30")), 6))
        .withColumn(
            "price",
            F.when(
                F.col("status") == "ok",
                annual_price(
                    F.col("alpha"), F.col("m_factor"), F.col("conso_foyer")
                ),
            ),
        )
    )


def test_batch_projection_plans_like_four_with_columns(spark):
    """``score_requests_with_status`` optimizes to the same plan as the
    four-``withColumn`` projection over the same two-join frame (status
    is computed once, not repeated inside price)."""
    import re

    from public_projet_data_engineering_tarification_electrique_spark.operators.pricing import (
        city_alpha,
        score_requests_with_status,
    )

    daily, annual = _dims(spark)
    requests = spark.createDataFrame(
        [("R1", "A", "1", 2, 50), ("R2", None, "2", 3, 80)],
        "libelle_region string, nom_commune string, code_commune string, "
        "nb_personne int, nb_m2 int",
    )
    joined = requests.join(
        F.broadcast(region_trailing_avg(daily, _RUN_DATE)),
        on="libelle_region",
        how="left",
    ).join(
        F.broadcast(city_alpha(annual, _YEAR_N)),
        on=["nom_commune", "code_commune"],
        how="left",
    )

    def optimized(df):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        return re.sub(r"#\d+", "#", plan)

    got = score_requests_with_status(requests, daily, annual, _RUN_DATE, _YEAR_N)
    assert optimized(got) == optimized(_with_columns_projection(joined))
    assert sorted(got.collect(), key=repr) == sorted(
        _with_columns_projection(joined).collect(), key=repr
    )
