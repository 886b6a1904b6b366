"""Property-based tests for the round-9 session-4 operators, each
checked against an independent plain-Python reference model — the §2at
discipline: the DuckDB oracle gate proves ENGINE AGREEMENT, these pin
the SEMANTICS."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from public_projet_data_engineering_tarification_electrique_spark.operators.intervals import (
    interval_coverage,
)

_span = st.tuples(
    st.integers(min_value=0, max_value=3),  # key
    st.integers(min_value=0, max_value=40),  # lo
    st.integers(min_value=1, max_value=15),  # width
)


def _coverage_model(rows):
    """Brute-force reference: per key, the union as a set of covered
    integer points, islands by merging sorted spans, peak by counting
    open spans at every start boundary (half-open [lo, hi))."""
    out = {}
    by_key = {}
    for k, lo, w in rows:
        by_key.setdefault(k, []).append((lo, lo + w))
    for k, spans in by_key.items():
        covered = set()
        for lo, hi in spans:
            covered.update(range(lo, hi))
        merged = []
        for lo, hi in sorted(spans):
            if merged and lo < merged[-1][1]:
                merged[-1] = (merged[-1][0], max(merged[-1][1], hi))
            else:
                merged.append((lo, hi))
        peak = max(
            sum(1 for lo2, hi2 in spans if lo2 <= lo < hi2)
            for lo, _ in spans
        )
        out[k] = (len(spans), len(covered), len(merged), peak)
    return out


@settings(max_examples=8, deadline=None)
@given(st.lists(_span, min_size=1, max_size=40))
def test_interval_coverage_matches_bruteforce(spark, rows):
    df = spark.createDataFrame(
        [(k, lo, lo + w) for k, lo, w in rows], "key int, lo int, hi int"
    ).repartition(4)
    got = {
        r["key"]: (
            r["n_spans"],
            r["covered"],
            r["n_islands"],
            r["peak_concurrency"],
        )
        for r in interval_coverage(df, "key", "lo", "hi").collect()
    }
    assert got == _coverage_model(rows)


def test_interval_coverage_drops_null_bounds(spark):
    df = spark.createDataFrame(
        [(1, 0, 5), (1, None, 9), (1, 3, None)], "key int, lo int, hi int"
    )
    row = interval_coverage(df, "key", "lo", "hi").collect()[0]
    assert (row["n_spans"], row["covered"]) == (1, 5)


def test_interval_coverage_touching_spans_do_not_merge(spark):
    # half-open [0,5) + [5,8): no overlap -> 2 islands, peak 1
    df = spark.createDataFrame(
        [(1, 0, 5), (1, 5, 8)], "key int, lo int, hi int"
    )
    row = interval_coverage(df, "key", "lo", "hi").collect()[0]
    assert (row["covered"], row["n_islands"], row["peak_concurrency"]) == (
        8,
        2,
        1,
    )


from public_projet_data_engineering_tarification_electrique_spark.operators.stats import (
    isotonic_calibration,
)


def _pava_model(bins):
    """Literal pool-adjacent-violators on (n, sy) bins in bin order —
    the sequential algorithm the minimax identity must reproduce."""
    pools = [[n, sy] for n, sy in bins]  # [weight, positives]
    merged = []
    for p in pools:
        merged.append(list(p))
        while len(merged) > 1 and (
            merged[-2][1] * merged[-1][0] >= merged[-1][1] * merged[-2][0]
        ):
            b = merged.pop()
            merged[-1][0] += b[0]
            merged[-1][1] += b[1]
    # expand pools back to per-bin rates
    rates = []
    i = 0
    for n, sy in merged:
        w = 0
        while w < n:
            w += bins[i][0]
            rates.append(sy / n)
            i += 1
    return rates


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=9),  # n per bin
            st.integers(min_value=0, max_value=9),  # positives <= n
        ).map(lambda t: (t[0], min(t[1], t[0]))),
        min_size=1,
        max_size=6,
    )
)
def test_isotonic_matches_pava(spark, bins):
    # place bin b's rows at score (b + 0.5) / 10 so each lands in its
    # own equal-width bin; outcomes = sy positives then n - sy negatives
    rows = []
    for b, (n, sy) in enumerate(bins):
        score = (b + 0.5) / 10.0
        rows += [(score, True)] * sy + [(score, False)] * (n - sy)
    df = spark.createDataFrame(rows, "score double, outcome boolean")
    got = {
        r["bin"]: (r["n"], r["pos_rate"], r["iso_rate"])
        for r in isotonic_calibration(df, n_bins=10).collect()
    }
    expected = _pava_model(bins)
    assert sorted(got) == list(range(len(bins)))
    iso_seq = [got[b][2] for b in sorted(got)]
    for b, (n, sy) in enumerate(bins):
        assert got[b][0] == n
        assert abs(got[b][2] - expected[b]) < 1e-6, (b, got[b], expected[b])
    # monotone nondecreasing fit
    assert all(a <= b + 1e-12 for a, b in zip(iso_seq, iso_seq[1:]))


import datetime as dt

from public_projet_data_engineering_tarification_electrique_spark.operators.timeseries import (
    holt_daily,
)


def _holt_model(rows, alpha=0.3, beta=0.2):
    """Python reference: exact grid-snapped daily means (snap to the
    1e4 integer grid, exact sum, S/n/1e4 then 4-dp nudge-round) per
    key in day order, then the literal Holt recurrence."""
    daily = {}
    for k, day, v in rows:
        daily.setdefault((k, day), []).append(round(v * 1e4))
    means = {
        kd: round(sum(vs) / len(vs) / 1e4 + 1e-9, 4)
        for kd, vs in daily.items()
    }
    out = {}
    for key in sorted({k for k, _ in means}):
        l = b = None
        for day in sorted(d for k, d in means if k == key):
            v = means[(key, day)]
            if l is None:
                l, b = v, 0.0
            else:
                l_new = alpha * v + (1 - alpha) * (l + b)
                b = beta * (l_new - l) + (1 - beta) * b
                l = l_new
            out[(key, day)] = (
                round(l + 1e-9, 4),
                round(b + 1e-9, 4),
                round(l + b + 1e-9, 4),
            )
    return out


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["a", "b"]),
            st.integers(min_value=0, max_value=12),
            st.floats(
                min_value=-100,
                max_value=100,
                allow_nan=False,
                allow_infinity=False,
            ),
        ),
        min_size=1,
        max_size=30,
    )
)
def test_holt_matches_python_model(spark, rows):
    base = dt.date(2024, 1, 1)
    data = [
        (k, dt.datetime(2024, 1, 1 + d, 12, 0, 0), v) for k, d, v in rows
    ]
    df = spark.createDataFrame(
        data, "event_type string, ts timestamp, value double"
    ).repartition(5)
    got = {
        (r["event_type"], dt.date.fromisoformat(r["day"])): (
            r["level"],
            r["trend"],
            r["forecast"],
        )
        for r in holt_daily(df).collect()
    }
    expected = _holt_model(
        [(k, base + dt.timedelta(days=d), v) for k, d, v in rows]
    )
    assert got == expected


import hashlib

from public_projet_data_engineering_tarification_electrique_spark.operators.sketches import (
    kmv_set_ops,
)


def _md5_h52(key) -> int:
    return int(hashlib.md5(str(key).encode()).hexdigest()[2:15], 16)


def _kmv_model(a_keys, b_keys, k):
    """Python KMV reference with the identical md5-slice hash."""
    M = float(1 << 52)
    ha = sorted({_md5_h52(x) for x in a_keys})
    hb = sorted({_md5_h52(x) for x in b_keys})
    hu = sorted(set(ha) | set(hb))
    inter = set(ha) & set(hb)

    def est(hs):
        if len(hs[:k]) < k:
            return round(float(len(hs)) + 1e-9, 2)
        return round((float(k - 1) * M) / float(hs[k - 1]) + 1e-9, 2)

    out = {
        "distinct_a": (est(ha), len(ha)),
        "distinct_b": (est(hb), len(hb)),
        "union": (est(hu), len(hu)),
    }
    if len(hu) < k:
        ei = round(float(len(inter)) + 1e-9, 2)
    else:
        mi = sum(1 for h in hu[:k] if h in inter)
        ei = round(
            float(mi) * float(k - 1) * M / float(k * hu[k - 1]) + 1e-9, 2
        )
    out["intersection"] = (ei, len(inter))
    return out


@settings(max_examples=6, deadline=None)
@given(
    st.integers(min_value=0, max_value=60),  # |A only|
    st.integers(min_value=0, max_value=60),  # |B only|
    st.integers(min_value=1, max_value=60),  # |A and B|
    st.sampled_from([8, 32]),  # k, small enough to exercise both paths
)
def test_kmv_matches_python_model(spark, na, nb, nab, k):
    a_keys = [f"a{i}" for i in range(na)] + [f"c{i}" for i in range(nab)]
    b_keys = [f"b{i}" for i in range(nb)] + [f"c{i}" for i in range(nab)]
    rows = [("A", x) for x in a_keys] + [("R", x) for x in b_keys]
    # duplicate rows exercise the distinct stage
    df = spark.createDataFrame(rows + rows, "s string, key string")
    got = {
        r["metric"]: (r["est"], r["exact"])
        for r in kmv_set_ops(df, "key", "s", "A", "R", k=k).collect()
    }
    assert got == _kmv_model(a_keys, b_keys, k)


import numpy as np

from public_projet_data_engineering_tarification_electrique_spark.operators.forecast import (
    grouped_ridge,
)


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["g1", "g2"]),
            st.integers(min_value=-50, max_value=50),  # x1
            st.integers(min_value=-10, max_value=10),  # x2
            st.integers(min_value=-1000, max_value=1000),  # y
        ),
        min_size=3,
        max_size=40,
    )
)
def test_grouped_ridge_matches_numpy(spark, rows):
    lam = 7.0
    df = spark.createDataFrame(
        rows, "g string, x1 long, x2 long, y long"
    ).repartition(4)
    got = {
        r["grp"]: (r["n"], r["beta0"], r["beta1"], r["beta2"])
        for r in grouped_ridge(df, "y", "x1", "x2", "g", lam=lam).collect()
    }
    for g in sorted({r[0] for r in rows}):
        pts = [(x1, x2, y) for gg, x1, x2, y in rows if gg == g]
        X = np.array([[1.0, x1, x2] for x1, x2, _ in pts])
        y = np.array([float(yy) for _, _, yy in pts])
        A = X.T @ X + np.diag([0.0, lam, lam])
        beta = np.linalg.solve(A, X.T @ y)
        n, b0, b1, b2 = got[g]
        assert n == len(pts)
        for want, have in zip(beta, (b0, b1, b2)):
            assert abs(want - have) < 1e-4 * max(1.0, abs(want)), (
                g,
                beta,
                (b0, b1, b2),
            )


from public_projet_data_engineering_tarification_electrique_spark.operators.stats import (
    welch_t,
)


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.floats(
            min_value=-50, max_value=50, allow_nan=False, allow_infinity=False
        ),
        min_size=1,
        max_size=25,
    ),
    st.lists(
        st.floats(
            min_value=-50, max_value=50, allow_nan=False, allow_infinity=False
        ),
        min_size=1,
        max_size=25,
    ),
)
def test_welch_matches_python_model(spark, xs, ys):
    rows = [("a", v) for v in xs] + [("b", v) for v in ys]
    df = spark.createDataFrame(rows, "arm string, value double").repartition(
        3
    )
    r = welch_t(df, "value", "arm", "a", "b").collect()[0]
    gx = [round(v * 1e4) for v in xs]
    gy = [round(v * 1e4) for v in ys]
    na, nb = len(gx), len(gy)
    ma = sum(gx) / na / 1e4
    mb = sum(gy) / nb / 1e4
    assert (r["n_a"], r["n_b"]) == (na, nb)
    assert abs(r["mean_a"] - ma) < 1e-5 and abs(r["mean_b"] - mb) < 1e-5
    # single-row arms or two constant arms: t/df must be NULL, not a
    # crash (the ANSI /0 defect class)
    if na < 2 or nb < 2 or (len(set(gx)) == 1 and len(set(gy)) == 1):
        assert r["t_stat"] is None and r["welch_df"] is None
        return
    va = (sum(v * v for v in gx) - sum(gx) ** 2 / na) / (na - 1) / 1e8
    vb = (sum(v * v for v in gy) - sum(gy) ** 2 / nb) / (nb - 1) / 1e8
    se2a, se2b = va / na, vb / nb
    t = (ma - mb) / (se2a + se2b) ** 0.5
    dof = (se2a + se2b) ** 2 / (
        se2a**2 / (na - 1) + se2b**2 / (nb - 1)
    )
    assert abs(r["t_stat"] - t) < 1e-4 * max(1.0, abs(t))
    assert abs(r["welch_df"] - dof) < 1e-4 * max(1.0, abs(dof))


from public_projet_data_engineering_tarification_electrique_spark.operators.graph import (
    kcore_peel,
)


def _kcore_model(edge_set, k, rounds):
    """Python reference: simultaneous peel, `rounds` fixed rounds;
    returns {node: deg-in-previous-round-subgraph} for survivors."""
    alive = {u for u, _ in edge_set} | {v for _, v in edge_set}
    deg = {}
    for _ in range(rounds):
        deg = {}
        for u, v in edge_set:
            if u in alive and v in alive:
                deg[u] = deg.get(u, 0) + 1
        alive = {u for u, d in deg.items() if d >= k}
    return {u: d for u, d in deg.items() if d >= k}


def _sym(pairs):
    s = set()
    for u, v in pairs:
        if u != v:
            s.add((u, v))
            s.add((v, u))
    return s


@settings(max_examples=8, deadline=None)
@given(
    st.sets(
        st.tuples(
            st.integers(min_value=0, max_value=12),
            st.integers(min_value=0, max_value=12),
        ),
        min_size=1,
        max_size=40,
    ),
    st.integers(min_value=1, max_value=4),  # k
)
def test_kcore_matches_python_model(spark, pairs, k):
    edge_set = _sym(pairs)
    if not edge_set:
        return
    df = spark.createDataFrame(
        sorted(edge_set), "src long, dst long"
    ).repartition(4)
    rounds = 6
    got = {
        r["node"]: r["core_deg"]
        for r in kcore_peel(df, k=k, rounds=rounds).collect()
    }
    assert got == _kcore_model(edge_set, k, rounds)


def test_kcore_chain_cascades_one_endpoint_per_round(spark):
    # path 0-1-2-3-4-5 with k=2: ends peel off one round at a time —
    # the deep-cascade case the fixed-round contract must replay.
    chain = [(i, i + 1) for i in range(5)]
    df = spark.createDataFrame(sorted(_sym(chain)), "src long, dst long")
    # after 2 rounds: nodes 2,3 survive round 1 (deg 2 among 1..4),
    # then peel to empty by round 3
    got2 = {
        r["node"]: r["core_deg"]
        for r in kcore_peel(df, k=2, rounds=2).collect()
    }
    assert got2 == _kcore_model(_sym(chain), 2, 2)
    assert kcore_peel(df, k=2, rounds=4).count() == 0


from public_projet_data_engineering_tarification_electrique_spark.operators.stats import (
    anova_f,
)


@settings(max_examples=6, deadline=None)
@given(
    st.dictionaries(
        st.sampled_from(["g1", "g2", "g3", "g4"]),
        st.lists(
            st.floats(
                min_value=-50,
                max_value=50,
                allow_nan=False,
                allow_infinity=False,
            ),
            min_size=2,
            max_size=15,
        ),
        min_size=2,
        max_size=4,
    )
)
def test_anova_matches_python_model(spark, arms):
    rows = [(g, v) for g, vs in arms.items() for v in vs]
    df = spark.createDataFrame(rows, "grp string, value double").repartition(
        3
    )
    r = anova_f(df, "value", "grp").collect()[0]
    snapped = {g: [round(v * 1e4) for v in vs] for g, vs in arms.items()}
    k = len(snapped)
    n = sum(len(vs) for vs in snapped.values())
    s_tot = sum(sum(vs) for vs in snapped.values())
    sum_tb = sum(sum(vs) ** 2 / len(vs) for vs in snapped.values())
    sum_tw = sum(
        sum(v * v for v in vs) - sum(vs) ** 2 / len(vs)
        for vs in snapped.values()
    )
    ssb = (sum_tb - s_tot**2 / n) / 1e8
    ssw = sum_tw / 1e8
    assert (r["k"], r["n_total"]) == (k, n)
    assert abs(r["ss_between"] - ssb) < 1e-4 * max(1.0, abs(ssb))
    assert abs(r["ss_within"] - ssw) < 1e-4 * max(1.0, abs(ssw))
    if sum_tw > 0 and k > 1 and n > k:
        f = (ssb / (k - 1)) / (ssw / (n - k))
        assert abs(r["f_stat"] - f) < 1e-4 * max(1.0, abs(f))
    else:
        assert r["f_stat"] is None


from public_projet_data_engineering_tarification_electrique_spark.operators.stats import (
    mann_whitney_u,
)


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.floats(
            min_value=-10, max_value=10, allow_nan=False, allow_infinity=False
        ),
        min_size=1,
        max_size=25,
    ),
    st.lists(
        st.floats(
            min_value=-10, max_value=10, allow_nan=False, allow_infinity=False
        ),
        min_size=1,
        max_size=25,
    ),
)
def test_mann_whitney_matches_bruteforce(spark, xs, ys):
    rows = [("a", v) for v in xs] + [("b", v) for v in ys]
    df = spark.createDataFrame(rows, "arm string, value double").repartition(
        3
    )
    r = mann_whitney_u(df, "value", "arm", "a", "b").collect()[0]
    # brute-force pairwise U on the 2-dp rounded values:
    # U_a = #(x > y) + 0.5 * #(x == y)
    gx = [round(v + 1e-9, 2) for v in xs]
    gy = [round(v + 1e-9, 2) for v in ys]
    u2 = sum(
        2 if x > y else (1 if x == y else 0) for x in gx for y in gy
    )
    assert (r["n_a"], r["n_b"], r["u2_a"]) == (len(gx), len(gy), u2)
    # z against the standard tie-corrected formula
    from collections import Counter

    n = len(gx) + len(gy)
    ties = Counter(gx + gy)
    tie3 = sum(t**3 - t for t in ties.values())
    var_u = len(gx) * len(gy) / 12.0 * ((n + 1) - tie3 / (n * (n - 1)))
    if var_u > 0:
        z = (u2 / 2.0 - len(gx) * len(gy) / 2.0) / var_u**0.5
        assert abs(r["z"] - z) < 1e-5 * max(1.0, abs(z))
    else:
        assert r["z"] is None


import math

from public_projet_data_engineering_tarification_electrique_spark.operators.textstats import (
    js_divergence,
)


def _js_model(docs_a, docs_b):
    """Python reference with the same 1e-12 per-term snap."""
    from collections import Counter

    ca = Counter(t for d in docs_a for t in d.lower().split())
    cb = Counter(t for d in docs_b for t in d.lower().split())
    ta, tb = sum(ca.values()), sum(cb.values())
    qa = qb = 0
    for t in set(ca) | set(cb):
        a, b = ca.get(t, 0), cb.get(t, 0)
        if a > 0:
            qa += round(
                a / ta * math.log(2.0 * a * tb / (a * tb + b * ta)) * 1e12
            )
        if b > 0:
            qb += round(
                b / tb * math.log(2.0 * b * ta / (b * ta + a * tb)) * 1e12
            )
    return round((qa + qb) / 2e12 + 1e-9, 6)


_doc = st.lists(
    st.sampled_from(["apple", "pear", "plum", "kiwi", "fig"]),
    min_size=1,
    max_size=8,
).map(" ".join)


@settings(max_examples=6, deadline=None)
@given(
    st.lists(_doc, min_size=1, max_size=10),
    st.lists(_doc, min_size=1, max_size=10),
)
def test_js_divergence_matches_python_model(spark, docs_a, docs_b):
    rows = [("a", d) for d in docs_a] + [("b", d) for d in docs_b]
    df = spark.createDataFrame(rows, "src string, text string").repartition(3)
    r = js_divergence(df, "text", "src", "a", "b").collect()[0]
    want = _js_model(docs_a, docs_b)
    assert abs(r["js_nats"] - want) < 2e-6, (r["js_nats"], want)
    assert 0.0 <= r["js_nats"] <= math.log(2.0) + 1e-6
    # symmetry
    r2 = js_divergence(df, "text", "src", "b", "a").collect()[0]
    assert abs(r["js_nats"] - r2["js_nats"]) < 2e-6


from public_projet_data_engineering_tarification_electrique_spark.operators.audit import (
    gini_concentration,
)
from public_projet_data_engineering_tarification_electrique_spark.operators.stats import (
    spearman_rho,
)


def _avg_ranks(vals):
    order = sorted(range(len(vals)), key=lambda i: vals[i])
    ranks = [0.0] * len(vals)
    i = 0
    while i < len(order):
        j = i
        while j < len(order) and vals[order[j]] == vals[order[i]]:
            j += 1
        avg = (i + 1 + j) / 2.0
        for t in range(i, j):
            ranks[order[t]] = avg
        i = j
    return ranks


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=8),
            st.integers(min_value=0, max_value=8),
        ),
        min_size=2,
        max_size=30,
    )
)
def test_spearman_matches_python_model(spark, pts):
    df = spark.createDataFrame(pts, "vx long, vy long").repartition(3)
    r = spearman_rho(df, "vx", "vy").collect()[0]
    xs = [p[0] for p in pts]
    ys = [p[1] for p in pts]
    rx, ry = _avg_ranks(xs), _avg_ranks(ys)
    n = len(pts)
    mx, my = sum(rx) / n, sum(ry) / n
    cov = sum((a - mx) * (b - my) for a, b in zip(rx, ry))
    vx = sum((a - mx) ** 2 for a in rx)
    vy = sum((b - my) ** 2 for b in ry)
    assert r["n"] == n
    if vx > 0 and vy > 0:
        rho = cov / (vx**0.5 * vy**0.5)
        assert abs(r["rho"] - rho) < 1e-5, (r["rho"], rho)
    else:
        assert r["rho"] is None


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["s1", "s2"]),
            st.integers(min_value=0, max_value=50),
        ),
        min_size=1,
        max_size=30,
    )
)
def test_gini_matches_python_model(spark, rows):
    df = spark.createDataFrame(rows, "grp string, v long").repartition(3)
    got = {
        r["grp"]: (r["n"], r["total"], r["gini"])
        for r in gini_concentration(df, "v", "grp").collect()
    }
    for g in sorted({r[0] for r in rows}):
        vals = sorted(v for gg, v in rows if gg == g)
        n, s = len(vals), sum(vals)
        assert got[g][0] == n and got[g][1] == s
        if s > 0:
            gini = (
                2 * sum((i + 1) * v for i, v in enumerate(vals))
                - (n + 1) * s
            ) / (n * s)
            assert abs(got[g][2] - gini) < 1e-5, (g, got[g], gini)
        else:
            assert got[g][2] is None


from public_projet_data_engineering_tarification_electrique_spark.operators.sessions import (
    markov_stationary,
)


def _round_half_up(x):
    # Spark F.round is HALF_UP (via BigDecimal), NOT Python's
    # round-half-even
    from decimal import ROUND_HALF_UP, Decimal

    return int(
        Decimal(repr(float(x))).quantize(Decimal("1"), rounding=ROUND_HALF_UP)
    )


def _markov_model(pairs, iters=6):
    """Python replay of the identical grid recurrence (HALF_UP snaps;
    states with no inbound mass drop out, the inner-join semantics)."""
    states = sorted({f for f, _, _ in pairs} | {t for _, t, _ in pairs})
    rt = {}
    for f, _, n in pairs:
        rt[f] = rt.get(f, 0) + n
    p = {(f, t): _round_half_up(1e9 * n / rt[f]) for f, t, n in pairs}
    k = len(states)
    pi = {s: _round_half_up(1e9 / k) for s in states}
    for _ in range(iters):
        nxt = {}
        for (f, t), pe in p.items():
            if f in pi:
                nxt[t] = nxt.get(t, 0) + _round_half_up(pi[f] * pe / 1e9)
        pi = nxt
    return pi


@settings(max_examples=6, deadline=None)
@given(
    st.dictionaries(
        st.tuples(
            st.sampled_from(["a", "b", "c"]),
            st.sampled_from(["a", "b", "c"]),
        ),
        st.integers(min_value=1, max_value=50),
        min_size=1,
        max_size=9,
    )
)
def test_markov_stationary_matches_python_model(spark, trans):
    pairs = [(f, t, n) for (f, t), n in trans.items()]
    df = spark.createDataFrame(
        pairs, "from_type string, to_type string, n long"
    )
    got = {
        r["state"]: r["pi_e9"]
        for r in markov_stationary(df, iters=6).collect()
    }
    want = _markov_model(pairs, iters=6)
    assert got == want


from public_projet_data_engineering_tarification_electrique_spark.operators.stats import (
    cramers_v,
)
from public_projet_data_engineering_tarification_electrique_spark.operators.timeseries import (
    weekday_seasonal_index,
)


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["t1", "t2"]),
            st.integers(min_value=0, max_value=13),  # day offset
            st.floats(
                min_value=-100,
                max_value=100,
                allow_nan=False,
                allow_infinity=False,
            ),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_weekday_seasonality_matches_python_model(spark, rows):
    data = [
        (k, dt.datetime(2024, 1, 1 + d, 10, 0, 0), v) for k, d, v in rows
    ]
    df = spark.createDataFrame(
        data, "event_type string, ts timestamp, value double"
    ).repartition(3)
    got = {
        (r["event_type"], r["dow"]): (r["n"], r["mean_dow"], r["seasonal_index"])
        for r in weekday_seasonal_index(df).collect()
    }
    cells = {}
    for k, d, v in rows:
        # 2024-01-01 is a Monday -> iso dow = d % 7 + 1
        cells.setdefault((k, d % 7 + 1), []).append(round(v * 1e4))
    totals = {}
    for (k, _), vs in cells.items():
        t = totals.setdefault(k, [0, 0])
        t[0] += len(vs)
        t[1] += sum(vs)
    for (k, dow), vs in cells.items():
        n, s = len(vs), sum(vs)
        nk, sk = totals[k]
        gn, gmean, gidx = got[(k, dow)]
        assert gn == n
        assert abs(gmean - s / n / 1e4) < 1e-5
        if sk != 0:
            assert abs(gidx - (s * nk) / (sk * n)) < 1e-5
        else:
            assert gidx is None


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["x1", "x2", "x3"]),
            st.sampled_from(["y1", "y2"]),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_cramers_v_matches_python_model(spark, rows):
    df = spark.createDataFrame(rows, "lang string, source string")
    r = cramers_v(df, "lang", "source").collect()[0]
    from collections import Counter

    obs = Counter(rows)
    xs = sorted({a for a, _ in rows})
    ys = sorted({b for _, b in rows})
    n = len(rows)
    chi2 = 0.0
    for a in xs:
        for b in ys:
            cx = sum(v for (p, _), v in obs.items() if p == a)
            cy = sum(v for (_, q), v in obs.items() if q == b)
            e = cx * cy / n
            chi2 += (obs.get((a, b), 0) - e) ** 2 / e
    assert (r["n"], r["r"], r["c"]) == (n, len(xs), len(ys))
    assert abs(r["chi2"] - chi2) < 1e-5 * max(1.0, chi2)
    if len(xs) > 1 and len(ys) > 1:
        v = (chi2 / (n * min(len(xs) - 1, len(ys) - 1))) ** 0.5
        assert abs(r["cramers_v"] - v) < 1e-5
    else:
        assert r["cramers_v"] is None


from public_projet_data_engineering_tarification_electrique_spark.operators.textstats import (
    js_attribution,
)


@settings(max_examples=6, deadline=None)
@given(
    st.lists(_doc, min_size=1, max_size=10),
    st.lists(_doc, min_size=1, max_size=10),
)
def test_js_attribution_sums_to_divergence(spark, docs_a, docs_b):
    rows = [("a", d) for d in docs_a] + [("b", d) for d in docs_b]
    df = spark.createDataFrame(rows, "src string, text string")
    # with a tiny 5-word vocabulary, k=20 captures every token, so the
    # attribution must sum exactly (same grid) to the JS number
    attrib = js_attribution(df, "text", "src", "a", "b", k=20).collect()
    total = js_divergence(df, "text", "src", "a", "b").collect()[0][
        "js_nats"
    ]
    s = sum(r["contrib_nats"] for r in attrib)
    assert abs(s - total) < len(attrib) * 1e-6 + 1e-9
    # deterministic order: contribution desc, token asc
    key = [(-r["contrib_nats"], r["tok"]) for r in attrib]
    assert key == sorted(key)


def test_interval_coverage_drops_empty_and_inverted_spans(spark):
    df = spark.createDataFrame(
        [(1, 0, 5), (1, 7, 7), (1, 9, 4)], "key int, lo int, hi int"
    )
    row = interval_coverage(df, "key", "lo", "hi").collect()[0]
    assert (row["n_spans"], row["covered"], row["n_islands"]) == (1, 5, 1)


from public_projet_data_engineering_tarification_electrique_spark.operators.timeseries import (
    cusum_scan,
)
from public_projet_data_engineering_tarification_electrique_spark.operators.util import (
    scoped_conf,
)


def _cusum_model(ds, h):
    s = 0
    alarms = mx = 0
    for d in ds:
        s = max(0, s + d)
        mx = max(mx, s)
        alarms += s > h
    return len(ds), alarms, mx, s


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.integers(min_value=-30, max_value=30), min_size=1, max_size=60
    ),
    st.integers(min_value=0, max_value=40),  # threshold
    st.sampled_from([1, 3, 16]),  # partition counts
)
def test_cusum_matches_sequential_model_at_any_partitioning(
    spark, ds, h, parts
):
    rows = [(i, d) for i, d in enumerate(ds)]
    df = spark.createDataFrame(rows, "i long, d long").repartition(parts)
    with scoped_conf(spark, "spark.sql.shuffle.partitions", parts):
        got = cusum_scan(df, ["i"], "d", threshold=h).collect()[0]
    n, alarms, mx, fin = _cusum_model(ds, h)
    assert (
        got["n_rows"],
        got["n_alarms"],
        got["max_s"],
        got["final_s"],
    ) == (n, alarms, mx, fin)
