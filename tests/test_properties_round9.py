"""Property-based tests for the round-9 operators, each checked
against a plain-Python reference model (the §2at lesson: an oracle
gate proves ENGINE AGREEMENT; semantic contracts need an independent
model). One Spark job per example, tiny frames."""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Decimal

from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from public_projet_data_engineering_tarification_electrique_spark.operators.stats import (
    quantile_normalize,
)


def _qnorm_model(rows: list[tuple[str, float]]) -> dict[str, tuple]:
    """Python reference for quantile_normalize: values snap to the
    1e-2 integer grid; each group level's upper cumulative edge maps
    to pooled rank ceil(cum*N/n_g); the covering pooled level (the one
    whose CDF interval contains that rank) is the normalized value."""
    grid = [(g, round(v * 100)) for g, v in rows if v is not None]
    if not grid:
        return {}
    pooled = sorted(v for _, v in grid)
    n = len(pooled)
    levels = sorted(set(pooled))
    hi = {}
    acc = 0
    for v in levels:
        acc += sum(1 for p in pooled if p == v)
        hi[v] = acc
    out = {}
    for g in sorted({g for g, _ in grid}):
        vals = sorted(v for gg, v in grid if gg == g)
        n_g = len(vals)
        cum = 0
        norm_sum = 0
        val_sum = 0
        i = 0
        while i < len(vals):
            v = vals[i]
            cnt = sum(1 for x in vals if x == v)
            cum += cnt
            target = -(-cum * n // n_g)  # ceil
            v_norm = next(lv for lv in levels if hi[lv] >= target)
            norm_sum += v_norm * cnt
            val_sum += v * cnt
            i += cnt
        out[g] = (
            n_g,
            _round4(val_sum / (n_g * 100.0)),
            _round4(norm_sum / (n_g * 100.0)),
        )
    return out


def _round4(x: float) -> float:
    """SQL ``round(x, 4)`` on a double, as Spark and DuckDB both do it:
    half away from zero on the shortest decimal repr (−0.52625 →
    −0.5263), where Python's ``round`` works on the binary value and
    gives −0.5262."""
    return float(Decimal(repr(x)).quantize(Decimal("0.0001"), ROUND_HALF_UP))


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "c"]),
            st.integers(min_value=-300, max_value=300),
        ),
        min_size=1,
        max_size=30,
    )
)
@example(rows=[("a", -53)] * 7 + [("a", -50), ("c", 10)])  # mean −0.52625
def test_quantile_normalize_matches_python_model(spark, rows):
    data = [(g, v / 100.0) for g, v in rows]
    df = spark.createDataFrame(data, "g string, value double")
    got = {
        r["g"]: (r["n"], r["mean_value"], r["mean_normalized"])
        for r in quantile_normalize(df, "value", "g").collect()
    }
    want = _qnorm_model(data)
    assert set(got) == set(want)
    for g in want:
        assert got[g][0] == want[g][0], g
        assert math.isclose(got[g][1], want[g][1], abs_tol=1e-9), g
        assert math.isclose(got[g][2], want[g][2], abs_tol=1e-9), g


def _morton(gx: int, gy: int, bits: int = 8) -> int:
    z = 0
    for i in range(bits):
        z |= ((gx >> i) & 1) << (2 * i + 1)
        z |= ((gy >> i) & 1) << (2 * i)
    return z


def _layout_model(points: list[tuple[int, int, int]], n_zones: int) -> dict:
    """Python reference for sorted_layout_audit at bits=8, cell=32:
    grid-normalize, tile each layout by ANSI ntile over the exact
    order, probe every occupied 32-cell, count intersecting zones."""
    xlo = min(p[1] for p in points)
    xhi = max(p[1] for p in points)
    ylo = min(p[2] for p in points)
    yhi = max(p[2] for p in points)
    g = [
        (
            pid,
            (x - xlo) * 256 // (xhi - xlo + 1),
            (y - ylo) * 256 // (yhi - ylo + 1),
        )
        for pid, x, y in points
    ]
    n = len(g)
    q, r = divmod(n, n_zones)

    def tiles(order):
        ranked = sorted(g, key=order)
        zones = {}
        for rank, row in enumerate(ranked, start=1):
            cut = r * (q + 1)
            tile = (
                (rank - 1) // (q + 1) + 1
                if rank <= cut
                else r + (rank - 1 - cut) // max(q, 1) + 1
            )
            zones.setdefault(tile, []).append(row)
        return {
            t: (
                min(x for _, x, _ in rs),
                max(x for _, x, _ in rs),
                min(y for _, _, y in rs),
                max(y for _, _, y in rs),
            )
            for t, rs in zones.items()
        }

    probes = {(gx // 32, gy // 32) for _, gx, gy in g}
    boxes = [
        (cx * 32, cx * 32 + 31, cy * 32, cy * 32 + 31) for cx, cy in probes
    ]

    def avg_touched(zones):
        total = 0
        for plo_x, phi_x, plo_y, phi_y in boxes:
            total += sum(
                1
                for zlo_x, zhi_x, zlo_y, zhi_y in zones.values()
                if zlo_x <= phi_x
                and zhi_x >= plo_x
                and zlo_y <= phi_y
                and zhi_y >= plo_y
            )
        return round(total / len(boxes), 4)

    lin = tiles(lambda p: (p[1], p[2], p[0]))
    zor = tiles(lambda p: (_morton(p[1], p[2]), p[0]))
    return {
        "linear_xy": (len(boxes), avg_touched(lin)),
        "zorder": (len(boxes), avg_touched(zor)),
    }


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=500),
            st.integers(min_value=-100, max_value=100),
        ),
        min_size=2,
        max_size=40,
        unique_by=lambda t: t[0],
    ),
    st.integers(min_value=1, max_value=7),
)
def test_sorted_layout_audit_matches_python_model(spark, pts, n_zones):
    points = [(pid, x, (x * 7 + pid) % 91 - 40) for pid, x in pts]
    df = spark.createDataFrame(points, "id long, x long, y long")
    from public_projet_data_engineering_tarification_electrique_spark.operators.shards import (
        sorted_layout_audit,
    )

    got = {
        r["layout"]: (r["n_probes"], r["avg_zones_touched"])
        for r in sorted_layout_audit(
            df, "x", "y", "id", n_zones=n_zones
        ).collect()
    }
    want = _layout_model(points, n_zones)
    assert got == want


def test_audit_sample_is_pure_id_filter(spark):
    """Panel membership is a pure function of identity: independent of
    partitioning, row order, and the other columns; mods compose as
    divisibility (m=6 panel ⊆ m=3 panel ⊆ m=1 = everything)."""
    from public_projet_data_engineering_tarification_electrique_spark.operators.similarity import (
        audit_sample,
    )

    df = spark.range(400).select(
        F.col("id").alias("vec_id"), (F.col("id") % 5).alias("junk")
    )

    def panel(frame, mod):
        return {
            r["vec_id"] for r in audit_sample(frame, "vec_id", mod).collect()
        }

    p1 = panel(df, 1)
    p3 = panel(df, 3)
    p6 = panel(df, 6)
    assert p1 == set(range(400))
    assert p6 <= p3 <= p1
    assert panel(df.repartition(13), 3) == p3
    assert panel(df.withColumn("junk", F.lit(None)), 3) == p3
    # None disables sampling entirely
    assert panel(df, None) == p1


def test_quantile_normalize_empty_and_single_group(spark):
    """Empty input yields an empty frame (the ANSI `div` in the
    band-width agg must not raise on the empty pooled table); a single
    group normalizes onto itself (mean_normalized == mean_value)."""
    empty = spark.createDataFrame([], "g string, value double")
    assert quantile_normalize(empty, "value", "g").count() == 0
    one = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("a", 2.0)], "g string, value double"
    )
    row = quantile_normalize(one, "value", "g").collect()[0]
    assert row["n"] == 3
    assert row["mean_value"] == row["mean_normalized"]



def test_jl_distortion_matches_numpy_model(spark):
    """jl_distortion_audit vs a direct NumPy reimplementation: the
    same md5 sign matrix, panel, and scaled-L2 ratio — pinning that
    the codegen fold arithmetic IS the JL projection (and that the
    deterministic matrix is reproducible from (d, k) alone)."""
    import numpy as np

    from public_projet_data_engineering_tarification_electrique_spark.operators.similarity import (
        jl_distortion_audit,
        jl_signs,
    )

    d, k, mod = 8, 4, 2
    rng = np.random.RandomState(7)
    vecs = rng.randn(30, d).astype("float32")
    labels = [i % 3 for i in range(30)]
    rows = [(i, vecs[i].tolist(), labels[i]) for i in range(30)]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = {
        r["label"]: (r["n_pairs"], r["mean_ratio"], r["min_ratio"], r["max_ratio"])
        for r in jl_distortion_audit(emb, dim=d, k=k, panel_mod=mod).collect()
    }

    P = np.array(jl_signs(d, k), dtype="float64")  # k x d
    assert P.shape == (k, d) and set(np.unique(P)) <= {-1.0, 1.0}
    assert jl_signs(d, k) == jl_signs(d, k)  # pure function of (d, k)
    panel = [i for i in range(30) if i % mod == 0]
    model: dict[int, list[float]] = {}
    for ai in panel:
        for bi in panel:
            if labels[ai] == labels[bi] and ai < bi:
                a = vecs[ai].astype("float64")
                b = vecs[bi].astype("float64")
                d2o = float(a @ a) - 2 * float(a @ b) + float(b @ b)
                if d2o <= 1e-12:
                    continue
                d2p = float(((P @ a) - (P @ b)) @ ((P @ a) - (P @ b)))
                model.setdefault(labels[ai], []).append(
                    round(math.sqrt(d2p * (d / k) / d2o), 6)
                )
    expect = {
        lab: (
            len(rs),
            round(sum(rs) / len(rs), 4),
            round(min(rs), 6),
            round(max(rs), 6),
        )
        for lab, rs in model.items()
    }
    assert out == expect
    # sanity: ratios are positive and finite (at k=4 the JL variance
    # ~1/sqrt(k) is large — tight concentration only holds for the
    # real k=16/d=64 registered shape, checked by the oracle gate)
    for n_pairs, mean_ratio, lo, hi in out.values():
        assert n_pairs > 0 and 0 < lo <= mean_ratio <= hi < math.inf


@settings(max_examples=8, deadline=None)
@given(
    st.dictionaries(st.integers(0, 12), st.integers(-50, 50), max_size=8),
    st.dictionaries(
        st.integers(0, 12),
        st.tuples(
            st.integers(-50, 50),
            st.sampled_from(["a", "b"]),
            st.sampled_from(["U", "D"]),
        ),
        max_size=8,
    ),
)
def test_cdf_replay_and_retraction_identities(spark, tgt, srcd):
    """Two algebraic identities of the retraction-complete CDF, on
    random (target, CDC batch) pairs:

    1. REPLAY: apply_changes(target, cdf) == merge_into(target, batch)
       (the q236 time-travel step, whatever the clause mix);
    2. RETRACTION: sum(v over target) + sum(sign·v over cdf)
       == sum(v over merged) (the q237 view-maintenance identity).
    """
    from public_projet_data_engineering_tarification_electrique_spark.operators.merge import (
        apply_changes,
        merge_changes,
        merge_into,
        src as msrc,
    )

    target_rows = [(k, v, "t") for k, v in tgt.items()]
    source_rows = [(k, v, tag, op) for k, (v, tag, op) in srcd.items()]
    target = spark.createDataFrame(
        target_rows or [(None, None, None)], "k long, v long, tag string"
    )
    if not target_rows:
        target = target.filter(F.lit(False))
    source = spark.createDataFrame(
        source_rows or [(None, None, None, None)],
        "k long, v long, tag string, op string",
    )
    if not source_rows:
        source = source.filter(F.lit(False))
    kwargs = dict(
        keys=["k"],
        update_set={"v": F.col("v") + msrc("v"), "tag": msrc("tag")},
        delete_when=msrc("op") == "D",
        insert_when=msrc("op") != "D",
    )
    cdf = merge_changes(target, source, include_preimages=True, **kwargs)
    cdf_rows = [(r["k"], r["v"], r["_change_type"]) for r in cdf.collect()]
    merged = merge_into(target, source, **kwargs)
    merged_rows = sorted(
        (r["k"], r["v"], r["tag"]) for r in merged.collect()
    )
    replayed = sorted(
        (r["k"], r["v"], r["tag"])
        for r in apply_changes(target, cdf, keys=["k"]).collect()
    )
    assert replayed == merged_rows
    base_sum = sum(v for _, v in tgt.items())
    delta = sum(
        (v if ct in ("insert", "update_postimage") else -v)
        for _, v, ct in cdf_rows
    )
    assert base_sum + delta == sum(v for _, v, _ in merged_rows)
