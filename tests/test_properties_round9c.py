"""Property-based tests for the round-9 session-3 operators (EWMA,
moment sketch, Gram matrix), each checked against an independent
plain-Python/numpy reference model — the §2at discipline: the DuckDB
oracle gate proves ENGINE AGREEMENT, these pin the SEMANTICS."""

from __future__ import annotations

import datetime as dt
import math

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from public_projet_data_engineering_tarification_electrique_spark.operators.similarity import (
    gram_matrix,
)
from public_projet_data_engineering_tarification_electrique_spark.operators.stats import (
    grouped_moments,
)
from public_projet_data_engineering_tarification_electrique_spark.operators.timeseries import (
    ewma_daily,
)
from public_projet_data_engineering_tarification_electrique_spark.operators.util import (
    scoped_conf,
)

_vals = st.floats(
    min_value=-100, max_value=100, allow_nan=False, allow_infinity=False
)


def _ewma_model(rows, alpha):
    """Python reference: daily means (4-dp round, nudge) per key in
    day order, then the literal recurrence."""
    daily = {}
    for k, day, v in rows:
        daily.setdefault((k, day), []).append(v)
    means = {
        kd: round(sum(vs) / len(vs) + 1e-9, 4) for kd, vs in daily.items()
    }
    out = {}
    for key in sorted({k for k, _ in means}):
        s = None
        for day in sorted(d for k, d in means if k == key):
            v = means[(key, day)]
            s = v if s is None else alpha * v + (1 - alpha) * s
            out[(key, day)] = (v, round(s + 1e-9, 4))
    return out


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["a", "b"]),
            st.integers(min_value=0, max_value=6),
            _vals,
        ),
        min_size=1,
        max_size=30,
    )
)
def test_ewma_matches_python_model(spark, rows):
    base = dt.datetime(2024, 1, 1)
    data = [
        (k, base + dt.timedelta(days=d, hours=1), float(v))
        for k, d, v in rows
    ]
    df = spark.createDataFrame(data, "event_type string, ts timestamp, value double")
    got = {
        (r["event_type"], r["day"]): (r["v"], r["ewma"])
        for r in ewma_daily(df, alpha=0.3).collect()
    }
    want = {
        (k, (base + dt.timedelta(days=d)).strftime("%Y-%m-%d")): vs
        for (k, d), vs in _ewma_model(
            [(k, d, v) for k, d, v in rows], 0.3
        ).items()
    }
    assert set(got) == set(want)
    for kd in want:
        assert got[kd][0] == want[kd][0], (kd, got[kd], want[kd])
        assert math.isclose(got[kd][1], want[kd][1], abs_tol=5e-4), (
            kd,
            got[kd],
            want[kd],
        )


def test_ewma_is_order_sensitive_and_bounded(spark):
    # EWMA of a constant series is that constant; of a step series it
    # converges monotonically toward the new level without crossing it.
    data = [
        ("k", dt.datetime(2024, 1, 1 + d), 10.0 if d < 3 else 20.0)
        for d in range(8)
    ]
    df = spark.createDataFrame(data, "event_type string, ts timestamp, value double")
    rows = sorted(
        ewma_daily(df, alpha=0.3).collect(), key=lambda r: r["day"]
    )
    ew = [r["ewma"] for r in rows]
    assert ew[0] == 10.0 and ew[1] == 10.0 and ew[2] == 10.0
    assert all(ew[i] < ew[i + 1] for i in range(2, 7))
    assert all(10.0 <= e < 20.0 for e in ew)


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(st.sampled_from(["x", "y"]), _vals),
        min_size=5,
        max_size=40,
    )
)
def test_grouped_moments_match_numpy(spark, rows):
    df = spark.createDataFrame(
        [(g, float(v)) for g, v in rows], "event_type string, value double"
    )
    got = {
        r["event_type"]: r for r in grouped_moments(df).collect()
    }
    for g in sorted({g for g, _ in rows}):
        xs = np.array([v for gg, v in rows if gg == g], dtype=np.float64)
        m2 = float(np.mean((xs - xs.mean()) ** 2))
        r = got[g]
        assert r["n"] == len(xs)
        assert math.isclose(r["mean"], xs.mean(), abs_tol=5e-4)
        assert math.isclose(r["var_pop"], m2, abs_tol=5e-3)
        if m2 > 1e-6:
            sk = float(np.mean((xs - xs.mean()) ** 3)) / m2**1.5
            ku = float(np.mean((xs - xs.mean()) ** 4)) / m2**2 - 3
            # the expanded power-sum form loses digits to cancellation
            # when |mean| >> std; tolerance covers that conditioning
            assert math.isclose(r["skewness"], sk, abs_tol=5e-2), (g, r)
            assert math.isclose(r["kurtosis"], ku, abs_tol=5e-2), (g, r)


def test_grouped_moments_known_shapes(spark):
    # symmetric two-point mass: skew 0, excess kurtosis -2
    data = [("s", -1.0), ("s", 1.0)] * 8
    df = spark.createDataFrame(data, "event_type string, value double")
    r = grouped_moments(df).collect()[0]
    assert r["mean"] == 0.0 and r["var_pop"] == 1.0
    assert r["skewness"] == 0.0 and r["kurtosis"] == -2.0


def test_grouped_moments_degenerate_groups_are_null(spark):
    """Shape moments are NULL, on both engines, for a constant group
    (m2 cancels to a few ulps BELOW zero: three 0.1s give -1.7e-18)
    and for a positive m2 whose square underflows (four 0.0s and one
    2.1e-99 give m2 = 7e-199, pow(m2, 2) = 0.0)."""
    import duckdb

    from public_projet_data_engineering_tarification_electrique_spark.plans.registry import (
        ORACLE_SQL,
    )

    data = [("c", 0.1)] * 3 + [("u", 0.0)] * 4 + [("u", 2.1e-99)]
    s1, s2 = 0.1 + 0.1 + 0.1, 0.1 * 0.1 + 0.1 * 0.1 + 0.1 * 0.1
    assert s2 / 3 - (s1 / 3) * (s1 / 3) < 0  # the cancellation case
    df = spark.createDataFrame(data, "event_type string, value double")
    spark_rows = {r["event_type"]: r for r in grouped_moments(df).collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE events (event_type VARCHAR, value DOUBLE)")
    con.executemany("INSERT INTO events VALUES (?, ?)", data)
    cur = con.execute(ORACLE_SQL["q243_grouped_moments"])
    cols = [c[0] for c in cur.description]
    duck_rows = {r[0]: dict(zip(cols, r)) for r in cur.fetchall()}
    for rows in (spark_rows, duck_rows):
        assert set(rows) == {"c", "u"}
        for g in ("c", "u"):
            assert rows[g]["var_pop"] == 0.0, (g, rows[g])
            assert rows[g]["skewness"] is None, (g, rows[g])
            assert rows[g]["kurtosis"] is None, (g, rows[g])


@settings(max_examples=5, deadline=None)
@given(st.integers(min_value=1, max_value=12), st.integers(min_value=2, max_value=5))
def test_gram_matrix_matches_numpy(spark, n, d):
    rng = np.random.default_rng(n * 31 + d)
    X = rng.normal(size=(n, d)).astype(np.float32)
    df = spark.createDataFrame(
        [(row.tolist(),) for row in X], f"embedding array<float>"
    )
    got = {(r["i"], r["j"]): r["g"] for r in gram_matrix(df, dim=d).collect()}
    G = X.astype(np.float64).T @ X.astype(np.float64)
    assert len(got) == d * (d + 1) // 2
    for i in range(d):
        for j in range(i, d):
            assert math.isclose(
                got[(i + 1, j + 1)], G[i, j], abs_tol=5e-4
            ), (i, j)


def test_gram_matrix_partition_invariance(spark):
    # partial-then-combine must give the same matrix whatever the
    # partitioning (the mergeability contract)
    rng = np.random.default_rng(7)
    X = rng.normal(size=(40, 6)).astype(np.float32)
    df = spark.createDataFrame([(row.tolist(),) for row in X], "embedding array<float>")
    a = {
        (r["i"], r["j"]): r["g"]
        for r in gram_matrix(df.repartition(1), dim=6).collect()
    }
    b = {
        (r["i"], r["j"]): r["g"]
        for r in gram_matrix(df.repartition(13), dim=6).collect()
    }
    assert set(a) == set(b)
    for k in a:
        assert math.isclose(a[k], b[k], abs_tol=2e-4), (k, a[k], b[k])


def test_gram_matrix_rejects_bad_dim(spark):
    df = spark.createDataFrame([([1.0, 2.0],)], "embedding array<float>")
    import pytest as _pytest

    with _pytest.raises(Exception, match="!= declared dim"):
        gram_matrix(df, dim=3).collect()


def _ewma_scan_model(vals, alpha=0.3):
    """Sequential fixed-point reference: the exact per-row fold."""
    comp = 1.0 - alpha
    s = 0.0
    out = []
    for x in vals:
        xq = round(x + 1e-9, 4)
        s = round(alpha * xq + comp * s + 1e-9, 4)
        out.append(s)
    return out


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.floats(
            min_value=0, max_value=100, allow_nan=False, allow_infinity=False
        ),
        min_size=1,
        max_size=200,
    ),
    st.integers(min_value=1, max_value=16),
)
def test_ewma_scan_bitexact_and_partition_invariant(spark, vals, parts):
    from public_projet_data_engineering_tarification_electrique_spark.operators.timeseries import (
        ewma_scan,
    )

    # rows arrive out of order, so each ranged partition must be
    # sorted by the scan itself
    rows = [(i, float(v)) for i, v in enumerate(vals)]
    rows.reverse()
    df = spark.createDataFrame(rows, "rn long, value double")
    with scoped_conf(spark, "spark.sql.shuffle.partitions", parts):
        got = {
            r["rn"]: r["ewma"]
            for r in ewma_scan(df, ["rn"], "value", alpha=0.3).collect()
        }
    want = _ewma_scan_model(vals)
    assert len(got) == len(want)
    for i, w in enumerate(want):
        # EXACT equality — the whole point of the quantized scan
        assert got[i] == w, (i, got[i], w, parts)


def test_ewma_scan_tiny_partitions_hit_replay_path(spark):
    # 1-2 rows per partition: the interval can never converge, so the
    # driver must chain through the returned value lists exactly
    from public_projet_data_engineering_tarification_electrique_spark.operators.timeseries import (
        ewma_scan,
    )

    vals = [float(v) for v in [5, 50, 95, 20, 80, 10, 60, 30, 70, 40]]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "rn long, value double"
    )
    with scoped_conf(spark, "spark.sql.shuffle.partitions", 8):
        got = {
            r["rn"]: r["ewma"]
            for r in ewma_scan(df, ["rn"], "value").collect()
        }
    want = _ewma_scan_model(vals)
    assert [got[i] for i in range(len(vals))] == want


def test_q245_oracle_fold_matches_sequential_replay():
    """q245's DuckDB oracle folds (digest, state) through one struct
    accumulator, and its answer depends on the struct's field order
    (DuckDB 1.0.0 reads a wrong ``acc.s`` when ``s`` is built before
    ``d``). Pin n_rows, ewma_final and ewma_digest against the plain
    Python replay on short sequences and one long one, with NULL
    values, timestamp ties broken by event_id, and rows inserted out
    of order."""
    import duckdb

    from public_projet_data_engineering_tarification_electrique_spark.plans.registry import (
        ORACLE_SQL,
    )

    rng = np.random.default_rng(245)
    seqs = [
        [42.0],
        [5.0, 50.0, 95.0, 20.0, 80.0],
        [0.0, 0.0, 100.0, 0.00005, 99.99995, 33.33333],
        [float(v) for v in np.round(rng.uniform(0, 100, 3000), 6)],
    ]
    t0 = dt.datetime(2024, 1, 1)
    for vals in seqs:
        # every third row shares the previous row's timestamp, so
        # event_id decides the order; every seventh value is NULL
        rows = []
        for i, v in enumerate(vals):
            ts = t0 + dt.timedelta(seconds=i - (i % 3 == 2))
            rows.append((ts, i, v))
            if i % 7 == 3:
                rows.append((ts, len(vals) + i, None))
        rows.reverse()
        con = duckdb.connect()
        con.execute(
            "CREATE TABLE events (ts TIMESTAMP, event_id BIGINT, value DOUBLE)"
        )
        con.executemany("INSERT INTO events VALUES (?, ?, ?)", rows)
        n_rows, final, digest = con.execute(
            "SELECT n_rows, ewma_final, ewma_digest FROM ("
            + ORACLE_SQL["q245_ewma_scan"]
            + ")"
        ).fetchone()
        want = _ewma_scan_model(vals)
        assert n_rows == len(vals)
        assert final == want[-1]
        assert digest == sum(round(w * 1e4) for w in want)


def test_ewma_scan_nulls_dropped_and_replay_cap(spark):
    from public_projet_data_engineering_tarification_electrique_spark.operators.timeseries import (
        ewma_scan,
    )

    df = spark.createDataFrame(
        [(0, 10.0), (1, None), (2, 20.0)], "rn long, value double"
    )
    with scoped_conf(spark, "spark.sql.shuffle.partitions", 1):
        rows = ewma_scan(df, ["rn"], "value").collect()
    assert [r["rn"] for r in sorted(rows, key=lambda r: r["rn"])] == [0, 2]
    assert sorted(r["ewma"] for r in rows) == _ewma_scan_model([10.0, 20.0])

    import pytest as _pytest

    wide = spark.createDataFrame(
        [(i, float((i * 37) % 101)) for i in range(100)],
        "rn long, value double",
    )
    with _pytest.raises(Exception, match="did not converge"):
        with scoped_conf(spark, "spark.sql.shuffle.partitions", 1):
            ewma_scan(wide, ["rn"], "value", max_replay=5).collect()


def _mi_model(pairs):
    """Plain-Python MI/entropy reference over (x, y) pairs."""
    from collections import Counter

    n = len(pairs)
    cxy = Counter(pairs)
    cx = Counter(x for x, _ in pairs)
    cy = Counter(y for _, y in pairs)
    mi = sum(
        c / n * math.log(n * c / (cx[x] * cy[y]))
        for (x, y), c in cxy.items()
    )
    hx = -sum(c / n * math.log(c / n) for c in cx.values())
    hy = -sum(c / n * math.log(c / n) for c in cy.values())
    return mi, hx, hy


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(st.sampled_from("abc"), st.sampled_from("uvw")),
        min_size=2,
        max_size=60,
    )
)
def test_mutual_information_matches_python_model(spark, pairs):
    from public_projet_data_engineering_tarification_electrique_spark.operators.stats import (
        mutual_information,
    )

    df = spark.createDataFrame(pairs, "lang string, source string")
    r = mutual_information(df, "lang", "source").collect()[0]
    mi, hx, hy = _mi_model(pairs)
    assert r["n"] == len(pairs)
    assert math.isclose(r["mi_nats"], mi, abs_tol=5e-4), (r, mi)
    assert math.isclose(r["h_x"], hx, abs_tol=5e-4)
    assert math.isclose(r["h_y"], hy, abs_tol=5e-4)
    if hx > 1e-9 and hy > 1e-9:
        assert math.isclose(
            r["nmi"], mi / math.sqrt(hx * hy), abs_tol=5e-4
        )
    else:
        assert r["nmi"] is None


def test_mutual_information_identities(spark):
    from public_projet_data_engineering_tarification_electrique_spark.operators.stats import (
        mutual_information,
    )

    # perfect dependence: y == x ⇒ MI == H(X), NMI == 1
    dep = spark.createDataFrame(
        [("a", "a")] * 3 + [("b", "b")] * 5 + [("c", "c")] * 2,
        "lang string, source string",
    )
    r = mutual_information(dep, "lang", "source").collect()[0]
    assert r["mi_nats"] == r["h_x"] == r["h_y"] and r["nmi"] == 1.0
    # independence (product distribution): MI == 0
    ind = spark.createDataFrame(
        [(x, y) for x in "ab" for y in "uv" for _ in range(4)],
        "lang string, source string",
    )
    r2 = mutual_information(ind, "lang", "source").collect()[0]
    assert r2["mi_nats"] == 0.0
    # NULL is its own level, not dropped
    withnull = spark.createDataFrame(
        [("a", None), ("a", "u"), (None, "u")], "lang string, source string"
    )
    r3 = mutual_information(withnull, "lang", "source").collect()[0]
    assert r3["n"] == 3 and r3["n_cells"] == 3


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.floats(
            min_value=0.01,
            max_value=9_999_999,
            allow_nan=False,
            allow_infinity=False,
        ),
        min_size=1,
        max_size=60,
    )
)
def test_benford_audit_matches_python_model(spark, amounts):
    from collections import Counter

    from public_projet_data_engineering_tarification_electrique_spark.operators.audit import (
        benford_audit,
    )

    df = spark.createDataFrame(
        [(float(a),) for a in amounts], "o_totalprice double"
    )
    got = {r["digit"]: r for r in benford_audit(df, "o_totalprice").collect()}
    cents = [int(round(a * 100)) for a in amounts if a > 0]
    want = Counter(int(str(c)[0]) for c in cents)
    assert set(got) == set(want)
    n = sum(want.values())
    for d, c in want.items():
        assert got[d]["n"] == c
        assert math.isclose(got[d]["freq"], c / n, abs_tol=5e-4)
        assert math.isclose(
            got[d]["benford"], math.log10(1 + 1 / d), abs_tol=5e-4
        )


def test_benford_excludes_nonpositive(spark):
    from public_projet_data_engineering_tarification_electrique_spark.operators.audit import (
        benford_audit,
    )

    df = spark.createDataFrame(
        [(-5.0,), (0.0,), (123.45,)], "o_totalprice double"
    )
    rows = benford_audit(df, "o_totalprice").collect()
    assert len(rows) == 1 and rows[0]["digit"] == 1 and rows[0]["n"] == 1


def _wpct_model(rows, p100s=(50, 90)):
    """Python reference: lower weighted percentile on exact integers."""
    from collections import defaultdict

    levels = defaultdict(lambda: defaultdict(int))
    for g, vc, w in rows:
        levels[g][vc] += w
    out = {}
    for g, lv in levels.items():
        tw = sum(lv.values())
        cum = 0
        picks = {}
        for vc in sorted(lv):
            cum += lv[vc]
            for p in p100s:
                if p not in picks and cum * 100 >= p * tw:
                    picks[p] = vc
        out[g] = (tw, {p: round(picks[p] / 100.0, 2) for p in p100s})
    return out


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.sampled_from("AB"),
            st.integers(min_value=1, max_value=500),
            st.integers(min_value=1, max_value=9),
        ),
        min_size=1,
        max_size=60,
    )
)
def test_weighted_percentiles_match_python_model(spark, rows):
    from public_projet_data_engineering_tarification_electrique_spark.operators.stats import (
        weighted_percentiles,
    )

    df = spark.createDataFrame(rows, "flag string, cents long, qty long")
    got = {
        r["flag"]: r
        for r in weighted_percentiles(
            df, "cents", "qty", "flag", p100s=(50, 90)
        ).collect()
    }
    want = _wpct_model(rows)
    assert set(got) == set(want)
    for g, (tw, picks) in want.items():
        assert got[g]["w_total"] == tw
        assert got[g]["wp50"] == picks[50], (g, got[g], picks)
        assert got[g]["wp90"] == picks[90], (g, got[g], picks)


def test_weighted_percentiles_unit_weights_match_disc(spark):
    # all weights 1 ⇒ classic discrete percentile (smallest v with
    # rank ≥ ceil(p·n))
    from public_projet_data_engineering_tarification_electrique_spark.operators.stats import (
        weighted_percentiles,
    )

    vals = [100, 200, 300, 400, 500]
    df = spark.createDataFrame(
        [("g", v, 1) for v in vals], "flag string, cents long, qty long"
    )
    r = weighted_percentiles(df, "cents", "qty", "flag").collect()[0]
    assert r["wp50"] == 3.0 and r["wp90"] == 5.0


def _km_model(subjects):
    """Plain-Python Kaplan-Meier with right censoring."""
    from collections import defaultdict

    lv = defaultdict(lambda: [0, 0])
    for dur, event in subjects:
        lv[dur][0 if event else 1] += 1
    n = len(subjects)
    out = {}
    s = 1.0
    rem = n
    for day in sorted(lv):
        ev, cen = lv[day]
        nr = rem
        s = s * (1.0 - ev / nr)
        rem = nr - ev - cen
        if ev > 0:
            out[day] = (nr, ev, cen, round(s + 1e-9, 4))
    return out


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=20),
            st.integers(min_value=0, max_value=1),
        ),
        min_size=1,
        max_size=60,
    )
)
def test_kaplan_meier_matches_python_model(spark, subjects):
    from public_projet_data_engineering_tarification_electrique_spark.operators.stats import (
        kaplan_meier,
    )

    df = spark.createDataFrame(subjects, "dur long, event int")
    got = {r["day"]: r for r in kaplan_meier(df).collect()}
    want = _km_model(subjects)
    assert set(got) == set(want)
    for day, (nr, ev, cen, s) in want.items():
        r = got[day]
        assert (r["n_risk"], r["n_events"], r["n_censored"]) == (nr, ev, cen)
        assert r["survival"] == s, (day, r["survival"], s)


def test_kaplan_meier_identities(spark):
    from public_projet_data_engineering_tarification_electrique_spark.operators.stats import (
        kaplan_meier,
    )

    # no censoring: S(d) = fraction with duration > d (the empirical
    # survival function)
    durs = [1, 1, 2, 3, 3, 3, 5]
    df = spark.createDataFrame([(d, 1) for d in durs], "dur long, event int")
    got = {r["day"]: r["survival"] for r in kaplan_meier(df).collect()}
    n = len(durs)
    for day in sorted(set(durs)):
        frac = sum(1 for d in durs if d > day) / n
        assert math.isclose(got[day], frac, abs_tol=5e-4), (day, got[day], frac)
    # censoring keeps later survival HIGHER than dropping censored
    # subjects entirely would
    cens = spark.createDataFrame(
        [(1, 1), (2, 0), (2, 0), (3, 1)], "dur long, event int"
    )
    rows = {r["day"]: r for r in kaplan_meier(cens).collect()}
    assert rows[1]["n_risk"] == 4 and rows[3]["n_risk"] == 1
    assert rows[1]["survival"] == 0.75
    # day 3: S = 0.75 * (1 - 1/1) = 0.0
    assert rows[3]["survival"] == 0.0


@settings(max_examples=4, deadline=None)
@given(
    st.sampled_from([0.05, 0.1, 0.5, 0.9]),
    st.integers(min_value=1, max_value=11),
)
def test_ewma_scan_exact_across_alphas(spark, alpha, parts):
    # the entry-state widening must scale with 1/alpha (rounding-drift
    # fixed point h/alpha) — small alphas exercise that bound
    from public_projet_data_engineering_tarification_electrique_spark.operators.timeseries import (
        ewma_scan,
    )

    vals = [float((i * 37) % 101) for i in range(150)]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "rn long, value double"
    )
    with scoped_conf(spark, "spark.sql.shuffle.partitions", parts):
        got = {
            r["rn"]: r["ewma"]
            for r in ewma_scan(df, ["rn"], "value", alpha=alpha).collect()
        }
    comp = 1.0 - alpha
    s = 0.0
    for i, x in enumerate(vals):
        xq = round(x + 1e-9, 4)
        s = round(alpha * xq + comp * s + 1e-9, 4)
        assert got[i] == s, (alpha, parts, i, got[i], s)
