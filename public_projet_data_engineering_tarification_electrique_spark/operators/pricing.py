"""The serving read path (V1-V3): one lazy batch plan, and ``score_one``.

Reference lifecycle (SURVEY.md §3.1): per request, two sequential
BigQuery round-trips (30-day regional average, reference:api.py:36-61;
city α lookup, reference:api.py:64-92) then Python scalar math
(reference:api.py:111-127). Batch scoring runs the whole path as a
single DataFrame plan over a requests table:

    requests ⋈ (daily → trailing-window filter → avg)          [broadcast]
             ⋈ (annual → lead-over-year → α clamp)             [broadcast]
             → M, conso_foyer, price columns

Deliberate semantic fixes vs the reference (SURVEY.md §4.3):
- α is deterministic lead-over-year (the reference's row-label indexing
  at api.py:89 is result-order-dependent);
- ``run_date`` is an explicit parameter (api.py:36 freezes it at import
  time);
- a request whose city lacks year n/n+1 rows yields NULL price instead
  of an HTTP 500 (api.py:131-132) so batch scoring never aborts.

Scale: both dimension inputs collapse to small aggregates (≤ #regions,
≤ #communes rows) before the join, so Spark broadcasts them; the
requests fact side never shuffles. At 100 TB of requests this plan is
scan → map-side join ×2 → project: zero wide shuffles after the two
(small) dimension aggregations.

``score_one`` (the ``GET /price`` twin) answers one request with no
Spark job once warm. The same two aggregations are collected into a
``region → conso30`` and a ``(nom_commune, code_commune) → α`` map per
dimension snapshot, the request plus its two looked-up values become
one Arrow-backed local row, and the batch plan's own status/price
projection is folded into that row by Catalyst
(``ConvertToLocalRelation``), so ``head()`` runs on the driver.
That projection's Columns are built once per SparkContext and applied
as two ``select``s, so a warm request makes no ``F.*`` call.
Freshness rule: a cached ``daily``/``annual`` pair is a snapshot, and
its maps are kept for as long as both frames stay cached and alive;
pass new frames (or unpersist these) to see new data. Frames that are
not cached are re-aggregated on every call, so their reads stay live.
"""

from __future__ import annotations

import datetime as dt
import threading
import weakref
from typing import NamedTuple

import pyarrow as pa
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import _make_type_verifier

from ..functions.pricing import (
    alpha_clamped,
    annual_price,
    household_consumption_kwh,
    m_factor,
)
from ..schemas import PRICING_REQUEST, PRICING_REQUEST_REQUIRED


def validate_requests(requests: DataFrame) -> DataFrame:
    """P7 — required-field validation (reference:api.py:24-33,107).

    Rows with any required field NULL are dropped (the batch analogue of
    the 400 response).
    """
    cond = F.lit(True)
    for c in sorted(PRICING_REQUEST_REQUIRED):
        cond = cond & F.col(c).isNotNull()
    return requests.filter(cond)


def region_trailing_avg(
    daily: DataFrame,
    run_date: dt.date | str,
    days: int = 30,
    region_col: str = "libelle_region",
    date_col: str = "date",
    value_col: str = "conso_mwh",
) -> DataFrame:
    """V2 — per-region trailing-``days`` mean (reference:api.py:36-61).

    The reference ships 30 days of rows to the client and means them
    there (`SELECT *` + pandas .mean(), api.py:57-61); here the filter
    (P4: inclusive bounds, P5: region equality via the later join) and
    the avg (A3) fold into the scan. With the daily table partitioned by
    date, P4 becomes partition pruning.

    Returns one row per region: (region, conso30).
    """
    run = F.lit(run_date).cast("date")
    return (
        daily.filter(
            (F.col(date_col) >= F.date_sub(run, days)) & (F.col(date_col) <= run)
        )
        .groupBy(region_col)
        .agg(F.round(F.avg(value_col), 4).alias("conso30"))
    )


def city_alpha(
    annual: DataFrame,
    year_n: int,
    key_cols: tuple[str, str] = ("nom_commune", "code_commune"),
    year_col: str = "annee",
    value_col: str = "conso_moyenne_mwh",
) -> DataFrame:
    """V3 — per-city forecast ratio α = conso(n+1)/conso(n), clamped [1, 1.3].

    Documented semantics (reference:docs/Notice technique.htm:73-74,
    α(407,398)=1.022) implemented as lead-over-year
    (Window.partitionBy(city).orderBy(year)), NOT the reference's
    order-dependent row indexing (api.py:86-90, SURVEY.md §2.6 warning).

    Returns one row per city holding both years: (*key_cols, alpha).
    """
    filtered = annual.filter(F.col(year_col).isin(year_n, year_n + 1))
    # One row per (city, year) BEFORE the lead window: duplicate
    # city-year rows (re-ingestion, multi-sector sources) would make
    # lead() tie-break on physical row order — alpha nondeterministic,
    # the exact order-dependence this operator exists to fix. avg() is
    # the identity on the clean one-row case, so the canonical fixture
    # is unchanged.
    filtered = filtered.groupBy(*key_cols, year_col).agg(
        F.avg(value_col).alias(value_col)
    )
    w = Window.partitionBy(*key_cols).orderBy(year_col)
    return (
        filtered.withColumn("_next_val", F.lead(value_col).over(w))
        .withColumn("_next_year", F.lead(year_col).over(w))
        .filter(
            (F.col(year_col) == year_n)
            & (F.col("_next_year") == year_n + 1)
            & F.col(value_col).isNotNull()
            & (F.col(value_col) != 0)
            & F.col("_next_val").isNotNull()
        )
        .select(
            *key_cols,
            # +1e-9 nudge: year-over-year ratios land on 6-dp half-way
            # boundaries at sf0.1 (PLANS.md 2e rule; oracle matches)
            F.round(
                alpha_clamped(F.col("_next_val") / F.col(value_col)) + 1e-9, 6
            ).alias("alpha"),
        )
    )


#: Serving status taxonomy (reference error envelope: 400 missing-field
#: at api.py:24-33,107; the two 500 lookup failures at api.py:131-132,
#: split by which lookup came back empty).
STATUS_OK = "ok"
STATUS_MISSING_FIELD = "missing_field"
STATUS_UNKNOWN_REGION = "unknown_region"
STATUS_UNKNOWN_CITY = "unknown_city"

#: join key of the α dimension (``city_alpha``'s default ``key_cols``)
_CITY_KEY = ("nom_commune", "code_commune")


def score_requests_with_status(
    requests: DataFrame,
    daily: DataFrame,
    annual: DataFrame,
    run_date: dt.date | str,
    year_n: int,
    region_col: str = "libelle_region",
) -> DataFrame:
    """Batch scoring with the reference's full error envelope.

    Where ``score_requests`` drops invalid rows (validate_requests) and
    NULLs failed lookups, this emits every input row with an explicit
    ``status``: ``missing_field`` (the 400, reference:api.py:24-33,107),
    ``unknown_region`` / ``unknown_city`` (the two 500 lookup failures,
    reference:api.py:131-132, split by which dimension had no row), or
    ``ok``. ``price`` is non-NULL iff ``status = 'ok'``. Check order
    mirrors the reference: field validation precedes lookups.

    Same plan shape as ``score_requests`` — two broadcast dimension
    joins, no extra shuffle for the status column (pure projection).

    Deliberate deviation: a region whose trailing window exists but
    averages NULL (every reading NULL) also reports
    ``unknown_region`` — the reference would compute a NaN mean and
    emit a NaN price with HTTP 200 (api.py:121-129), which downstream
    JSON cannot even represent; treating an undefined lookup as a
    failed lookup is the honest envelope.
    """
    region_avg = F.broadcast(
        region_trailing_avg(daily, run_date, region_col=region_col)
    )
    alpha = F.broadcast(city_alpha(annual, year_n))
    return _price_projection(
        requests.join(region_avg, on=region_col, how="left").join(
            alpha, on=list(_CITY_KEY), how="left"
        )
    )


def _projection_columns() -> tuple[list[Column], Column]:
    """The Columns behind ``_price_projection``: aliased status,
    conso_foyer and m_factor, then price, which reads those by name."""
    missing = F.lit(False)
    for c in sorted(PRICING_REQUEST_REQUIRED):
        missing = missing | F.col(c).isNull()
    derived = [
        F.when(missing, F.lit(STATUS_MISSING_FIELD))
        .when(F.col("conso30").isNull(), F.lit(STATUS_UNKNOWN_REGION))
        .when(F.col("alpha").isNull(), F.lit(STATUS_UNKNOWN_CITY))
        .otherwise(F.lit(STATUS_OK))
        .alias("status"),
        household_consumption_kwh(F.col("nb_m2"), F.col("nb_personne")).alias(
            "conso_foyer"
        ),
        F.round(m_factor(F.col("conso30")), 6).alias("m_factor"),
    ]
    price = F.when(
        F.col("status") == STATUS_OK,
        annual_price(F.col("alpha"), F.col("m_factor"), F.col("conso_foyer")),
    ).alias("price")
    return derived, price


#: SparkContext → ``_projection_columns()``. Weak keys: a stopped and
#: restarted session builds its own.
_PROJECTIONS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
_PROJECTIONS_LOCK = threading.Lock()


def _price_projection(scored: DataFrame) -> DataFrame:
    """status, conso_foyer, m_factor and price over request rows that
    already carry their looked-up ``conso30`` and ``alpha`` (NULL = no
    dimension row). The one projection behind both serving paths.

    Two selects, not one: inlining status and m_factor into price would
    repeat the status CASE inside price in the optimized plan."""
    sc = scored.sparkSession.sparkContext
    with _PROJECTIONS_LOCK:
        if sc not in _PROJECTIONS:
            _PROJECTIONS[sc] = _projection_columns()
        derived, price = _PROJECTIONS[sc]
    return scored.select("*", *derived).select("*", price)


#: one request with every field nullable: an absent key is a NULL field
_REQUEST = T.StructType(
    [T.StructField(f.name, f.dataType, True) for f in PRICING_REQUEST.fields]
)
#: the request columns in the order the batch plan's two USING joins
#: leave them (each join moves its key columns to the front)
_JOINED = [*_CITY_KEY, *(n for n in _REQUEST.names if n not in _CITY_KEY)]
#: the same type checks ``createDataFrame`` runs on a list input (Arrow
#: would silently accept 95.0 for an int field)
_verify_request = _make_type_verifier(_REQUEST)


class _Lookups(NamedTuple):
    """One dimension snapshot as driver-side maps, plus the schema of the
    one-row frame ``score_one`` prices against it."""

    conso30: dict
    alpha: dict
    schema: T.StructType
    arrow_schema: pa.Schema


def _collect_lookups(
    daily: DataFrame, annual: DataFrame, run_date, year_n: int
) -> _Lookups:
    region_avg = region_trailing_avg(daily, run_date)
    alpha = city_alpha(annual, year_n)
    # NULL keys are left out: the batch plan's equi-joins never match them
    conso30 = {
        r["libelle_region"]: r["conso30"]
        for r in region_avg.collect()
        if r["libelle_region"] is not None
    }
    alphas = {}
    for r in alpha.collect():
        key = tuple(r[c] for c in _CITY_KEY)
        if None not in key:
            alphas[key] = r["alpha"]
    schema = T.StructType(
        [_REQUEST[c] for c in _JOINED]
        + [
            T.StructField("conso30", region_avg.schema["conso30"].dataType),
            T.StructField("alpha", alpha.schema["alpha"].dataType),
        ]
    )
    return _Lookups(conso30, alphas, schema, to_arrow_schema(schema))


class _Slot:
    """A memo entry: filled once, under its own lock, by the first caller."""

    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.lookups: _Lookups | None = None


#: daily → annual → {(run_date, year_n): _Slot}. Weak keys: an entry is
#: freed with its frames, and a reused id() can never alias a new frame.
_SNAPSHOTS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
_SNAPSHOTS_LOCK = threading.Lock()


def _lookups(
    daily: DataFrame, annual: DataFrame, run_date, year_n: int
) -> _Lookups:
    """The maps for one (daily, annual, run_date, year_n); memoized only
    while both frames are cached, i.e. already a snapshot."""
    if not (daily.is_cached and annual.is_cached):
        with _SNAPSHOTS_LOCK:
            if not daily.is_cached:
                _SNAPSHOTS.pop(daily, None)
            if not annual.is_cached:
                for by_annual in _SNAPSHOTS.values():
                    by_annual.pop(annual, None)
        return _collect_lookups(daily, annual, run_date, year_n)
    with _SNAPSHOTS_LOCK:
        by_annual = _SNAPSHOTS.setdefault(daily, weakref.WeakKeyDictionary())
        slot = by_annual.setdefault(annual, {}).setdefault(
            (run_date, year_n), _Slot()
        )
    with slot.lock:
        if slot.lookups is None:
            slot.lookups = _collect_lookups(daily, annual, run_date, year_n)
        return slot.lookups


def score_one(
    spark,
    request: dict,
    daily: DataFrame,
    annual: DataFrame,
    run_date: dt.date | str,
    year_n: int,
):
    """``GET /price`` twin: score ONE request through the same envelope.

    Returns the single result Row that ``score_requests_with_status``
    gives for the same request — same fields in the same order, ending
    in ``status``, ``conso_foyer``, ``m_factor`` and ``price``. Absent
    request keys become NULLs, so a missing field yields
    ``status='missing_field'`` exactly like the reference's 400
    (reference:api.py:95-132). A value of the wrong type raises the same
    PySpark error ``createDataFrame`` raises for it.

    The dimensions are looked up in per-snapshot maps (see the module
    docstring for when they refresh); once they are filled the call
    launches no Spark job.
    """
    values = tuple(request.get(name) for name in _REQUEST.names)
    _verify_request(values)
    lookups = _lookups(daily, annual, run_date, year_n)
    row = dict(zip(_REQUEST.names, values))
    row["conso30"] = lookups.conso30.get(row["libelle_region"])
    row["alpha"] = lookups.alpha.get(tuple(row[c] for c in _CITY_KEY))
    one = spark.createDataFrame(
        pa.Table.from_pylist([row], schema=lookups.arrow_schema),
        lookups.schema,
    )
    return _price_projection(one).head()


def score_requests(
    requests: DataFrame,
    daily: DataFrame,
    annual: DataFrame,
    run_date: dt.date | str,
    year_n: int,
    region_col: str = "libelle_region",
) -> DataFrame:
    """V1 — batch /price scoring: the full serving path as one plan.

    price = round((0.1558 + α·M)·x + 72)  (reference:api.py:99,127)
    with x = 110·m² + 1000·pers + 1100    (reference:api.py:111-115)
         M = min(0.05, 0.01·conso30/4000) (reference:api.py:121)

    LEFT joins keep requests with unknown region/city as NULL-price rows
    (batch-robust replacement for the reference's 500s). Both right
    sides are region-/commune-sized aggregates → broadcast hash joins.

    One plan, two faces: this IS ``score_requests_with_status`` over
    the validated rows, minus the status column — deriving one from the
    other keeps the join keys, rounding rules, and price projection
    from ever diverging between the batch and envelope paths. (For
    status≠ok rows the envelope gates price to NULL; here the same rows
    get NULL via the price formula's NULL propagation — identical
    outcome.)
    """
    return score_requests_with_status(
        validate_requests(requests),
        daily,
        annual,
        run_date,
        year_n,
        region_col=region_col,
    ).drop("status")
