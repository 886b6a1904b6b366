"""Spectral embedding analytics (extension surface): the top principal
direction of an embedding cloud by fixed-step power iteration on the
distributed Gram matrix — "which single axis carries most of this
corpus's embedding variance-mass?" (q204's per-dimension variances
read the DIAGONAL; this reads the dominant eigenvector, the number a
whitening / anisotropy audit wants). The companion of q244's Gram
matrix: that query materializes G, this one extracts λ₁/u₁ from it.

Engine-exact by construction — the module discipline applied to an
ITERATIVE linear-algebra loop:

- **Exact integer Gram.** Coordinates snap to a 1e-4 grid
  (``round(x·10⁴)`` longs), so every G_ij = Σ_n x_i x_j is an exact
  integer (decimal sums; units 1e-8·value²) — the ONLY pass over the
  corpus, and the standard scale shape: the d² cells partial-agg
  map-side, the exchange carries d² rows per partition, never the
  corpus. (Uncentred second-moment Gram, matching q244 — for
  zero-mean-standardized embeddings this IS the covariance; run q117
  first when centring matters.)
- **Integer-renormalized iterations.** Each power step v ← G·v is an
  exact decimal matvec (d rows × d terms); the renormalization —
  the one inherently inexact step — maps v to the ±10⁶ integer grid
  via ONE double sequence per component (u/max|u|·10⁶, half-up
  round), so every iteration STARTS from identical integers in any
  engine and the whole 6-step loop is reproducible bit-for-bit. No
  driver collect anywhere: the d-vector lives in the plan as a
  d-row DataFrame and each matvec is a broadcast join + hash agg.
- **One terminal division each** for the Rayleigh quotient and the
  unit-norm loadings; the sign is fixed by the first nonzero
  component (flipped positive), so the eigenvector's inherent ±
  ambiguity cannot flip between engines.

Convergence note: this computes THE DEFINED SEMANTICS "6-step power
iteration from the all-ones start on the 1e-4 grid" — deliberately a
fixed recipe, not an adaptive solve, exactly so the result is a
deterministic, oracle-checkable value. 6 steps separate λ₁ from λ₂ by
(λ₂/λ₁)⁶; report λ₁ and the loadings, not a convergence claim.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .util import _fixpoint

GRID_DP = 4
V_UNIT = 1_000_000


def _quantized(
    emb: DataFrame, vec_col: str, keep: tuple[str, ...] = ()
) -> DataFrame:
    """1e-4 grid snap of the embedding array, JVM-side. float32 →
    float64 BEFORE the grid multiply (the module-wide embedding
    convention): a float32 product can snap x·10⁴ onto an exact .5
    that the float64 product is strictly inside of, flipping the
    rounded grid cell between engines. Snapping HERE (one built-in
    expression, HALF_UP) also means the Arrow path below never
    rounds in Python — numpy's bankers' rounding would disagree on
    exact halves."""
    # NULL embeddings drop HERE so both gram impls see the same rows
    # (posexplode skips NULL arrays silently; np.stack on a None
    # crashes the Arrow path — the twin contract requires one shared
    # convention, enforced at the shared entry)
    return emb.filter(F.col(vec_col).isNotNull()).select(
        *keep,
        F.transform(
            F.col(vec_col).cast("array<double>"),
            lambda x: F.round(x * 10**GRID_DP).cast("long"),
        ).alias("_xq"),
    )


def gram_long(
    emb: DataFrame,
    vec_col: str = "embedding",
    impl: str = "arrow",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact integer Gram matrix of the 1e-4-snapped embeddings:
    (i, j, g) with g = Σ_n round(x_i·10⁴)·round(x_j·10⁴) as
    decimal(38,0) (units 1e-8·value²), i/j 1-based.

    ``impl="arrow"`` (default, the scale path): one mapInPandas pass
    emits each Arrow batch's d×d PARTIAL Gram as exact int64 XᵀX
    (numpy integer matmul of the JVM-quantized codes — no float, no
    Python rounding; per-batch sums bounded by batch_rows·(xmax·10⁴)²
    ≪ 2⁶³), so the exchange carries d² rows per batch instead of the
    d² per-ROW fan-out a join would ship; one (i, j) hash agg merges
    partials in decimal. This is the canonical distributed Gram at
    100 TB: corpus-sized scan, dimension-sized shuffle.

    ``impl="explode"`` (the built-in twin, kept for the cross-impl
    equality test): posexplode + id-equi self-join (d× fan-out before
    the map-side partial agg), one (i, j) hash agg. Identical exact
    integers by construction — it re-associates the same integer sum.
    """
    if impl == "explode":
        x = _quantized(emb, vec_col, keep=(id_col,)).select(
            F.col(id_col).alias("_rid0"),
            F.posexplode("_xq").alias("_p", "_xi"),
        ).select(
            "_rid0", (F.col("_p") + 1).alias("_i"), "_xi"
        )
        b = x.select(
            F.col("_rid0").alias("_rid"),
            F.col("_i").alias("_j"),
            F.col("_xi").alias("_xj"),
        )
        return (
            x.join(b, x["_rid0"] == b["_rid"])
            .groupBy(F.col("_i").alias("i"), F.col("_j").alias("j"))
            .agg(
                F.sum(
                    (F.col("_xi") * F.col("_xj")).cast("decimal(38,0)")
                ).alias("g")
            )
        )
    if impl != "arrow":
        raise ValueError(f"impl must be 'arrow' or 'explode', got {impl!r}")
    q = _quantized(emb, vec_col)

    def _partial_gram(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            mat = np.stack(pdf["_xq"].to_numpy()).astype("int64")
            # numpy int64 matmul wraps silently on overflow — enforce
            # the docstring bound at runtime: the largest partial entry
            # is ≤ max|x|² × batch_rows, which must stay under 2^62
            # (ADVICE r11). At the 1e4 grid this allows coordinate
            # magnitudes up to ~3e3 at 10k-row batches — far beyond
            # unit-norm embeddings; a violation means bad input, not a
            # tighter batch, so fail loudly.
            amax = int(np.abs(mat).max()) if mat.size else 0
            if amax and amax * amax * len(mat) >= 2**62:
                raise ValueError(
                    "gram partial would overflow int64: max |snapped "
                    f"coordinate| {amax} over {len(mat)} rows exceeds "
                    "the 2^62 per-batch bound"
                )
            gg = mat.T @ mat  # exact int64 partial
            d = gg.shape[0]
            ii, jj = np.indices((d, d))
            yield pd.DataFrame(
                {
                    "i": (ii + 1).ravel(),
                    "j": (jj + 1).ravel(),
                    "gp": gg.ravel(),
                }
            )

    partials = q.mapInPandas(
        _partial_gram, schema="i int, j int, gp long"
    )
    return partials.groupBy("i", "j").agg(
        F.sum(F.col("gp").cast("decimal(38,0)")).alias("g")
    )


def top_principal_component(
    emb: DataFrame,
    vec_col: str = "embedding",
    iters: int = 6,
) -> DataFrame:
    """Dominant eigenpair of the snapped Gram matrix by ``iters``
    integer-renormalized power steps from the all-ones start (see
    module docstring for the exactness contract).

    Output: one row per dimension — (i 1-based, loading 6 dp,
    eigenvalue 6 dp, iters); loadings unit-norm with the first
    nonzero component positive; eigenvalue is the Rayleigh quotient
    vᵀGv / vᵀv in value² units (the 1e-8 grid factor divided out),
    repeated on every row.
    """
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    # Cut the d²-row Gram ONCE (bounded by the DIMENSION, a structural
    # bound, not the corpus), and let ``util._fixpoint`` cut the d-row
    # v every step: each step's u feeds BOTH the max-abs scalar and the
    # next v, so an uncut loop would re-derive the whole upstream
    # subtree 2^t times (measured: 6 uncut iterations re-ran the corpus
    # Gram ~64×, 100 s on a 500-row input). The cuts are lazy: the
    # first action that reads each one fills it, once.
    # d² rows in ONE partition: the iteration's matvecs are trivial
    # single-task work, and leaving them on the session's shuffle
    # partitioning costs ~32 empty tasks × 2 stages × iters of pure
    # scheduling overhead (measured 8.3 s → ~2 s at sf0.1).
    g = (
        gram_long(emb, vec_col)
        .select("i", "j", F.col("g").cast("decimal(20,0)").alias("g"))
        .coalesce(1)
        .localCheckpoint(eager=False)
    )

    def matvec(v: DataFrame) -> DataFrame:
        return (
            g.join(F.broadcast(v), "j")
            .groupBy("i")
            .agg(F.sum(F.col("g") * F.col("v")).alias("u"))
        )

    def step(v: DataFrame) -> DataFrame:
        u = matvec(v).coalesce(1)
        m = u.agg(F.max(F.abs(F.col("u"))).alias("_m"))
        return u.crossJoin(F.broadcast(m)).select(
            F.col("i").alias("j"),
            # an all-zero Gram makes max|u| = 0 and the
            # renormalization 0/0 = NaN, which the ANSI long cast
            # would kill far from the root cause — fail loudly at
            # the actual defect (every snapped coordinate is zero
            # at this grid)
            F.when(
                F.col("_m") > 0,
                F.round(
                    F.col("u").cast("double")
                    / F.col("_m").cast("double")
                    * V_UNIT
                ).cast("long"),
            )
            .otherwise(
                F.raise_error(
                    "top_principal_component: Gram is all zeros — "
                    "embeddings quantize to zero on the 1e-4 grid"
                ).cast("long")
            )
            .cast("decimal(10,0)")
            .alias("v"),
        )

    # the d-vector as a d-row plan; all-ones start on the 1e6 grid
    v = _fixpoint(
        g.select("j").distinct().select(
            "j", F.lit(V_UNIT).cast("decimal(10,0)").alias("v")
        ),
        step,
        iters,
    )
    # final exact matvec for the Rayleigh quotient
    u = matvec(v)
    vu = u.join(
        F.broadcast(v.select(F.col("j").alias("i"), "v")), "i"
    )
    stats = vu.agg(
        F.sum(
            (F.col("v") * F.col("u")).cast("decimal(38,0)")
        ).alias("_num"),
        F.sum(
            (F.col("v") * F.col("v")).cast("decimal(38,0)")
        ).alias("_den"),
    )
    sign_row = (
        v.filter(F.col("v") != 0)
        .orderBy("j")
        .limit(1)
        .select(
            F.when(F.col("v") < 0, F.lit(-1.0))
            .otherwise(F.lit(1.0))
            .alias("_sgn")
        )
    )
    return (
        v.crossJoin(F.broadcast(stats))
        .crossJoin(F.broadcast(sign_row))
        .select(
            F.col("j").alias("i"),
            F.round(
                F.col("_sgn")
                * F.col("v").cast("double")
                / F.sqrt(F.col("_den").cast("double"))
                + 1e-9,
                6,
            ).alias("loading"),
            F.round(
                F.col("_num").cast("double")
                / F.col("_den").cast("double")
                / F.lit(float(10 ** (2 * GRID_DP)))
                + 1e-9,
                6,
            ).alias("eigenvalue"),
            F.lit(iters).cast("int").alias("iters"),
        )
    )


def whitening_audit(
    emb: DataFrame,
    vec_col: str = "embedding",
    corr_floor: float = 0.1,
) -> DataFrame:
    """Cross-dimension correlation audit of the embedding cloud — the
    "is this representation whitened?" panel next to q289's dominant
    eigenpair and q204's per-dimension variances: how much
    second-moment mass lives OFF the Gram diagonal, how many
    dimension pairs are materially correlated, and which pair is
    worst. An ideally whitened space reports ratio ≈ 0 and no pairs
    above the floor; a collapsed/anisotropic one lights up here
    before it degrades ANN recall.

    Exactness: one corpus pass builds the exact integer Gram
    (:func:`gram_long`); every squared entry and both Frobenius sums
    stay exact decimals; each pair's |cosine between dimensions|
    |G_ij|/√(G_ii·G_jj) is ONE double sequence snapped to the 1e-6
    grid, so the threshold count and the struct-ordered argmax are
    engine-stable. Everything after the Gram is d²-bounded
    (structural, not data-shaped).

    Output: one row — (n_dims, n_pairs, n_corr_ge_floor,
    max_abs_corr 6 dp, max_i, max_j, off_to_diag_fro2 6 dp).
    """
    g = gram_long(emb, vec_col)
    diag = g.filter(F.col("i") == F.col("j")).select(
        F.col("i").alias("_di"), F.col("g").alias("_gd")
    )
    off = (
        g.filter(F.col("i") < F.col("j"))
        .join(
            F.broadcast(diag.select(F.col("_di"), F.col("_gd").alias("_gii"))),
            F.col("i") == F.col("_di"),
        )
        .drop("_di")
        .join(
            F.broadcast(diag.select(F.col("_di"), F.col("_gd").alias("_gjj"))),
            F.col("j") == F.col("_di"),
        )
        .drop("_di")
    )
    # a zero-variance dimension makes |G_ij|/sqrt(G_ii·G_jj) = 0/0 =
    # NaN, and Spark orders NaN ABOVE every number — an unguarded
    # count/argmax would report a degenerate dimension as "heavily
    # correlated". Undefined pairs carry NULL corr: excluded from the
    # floor count and the argmax (F.min skips NULL structs).
    corr6 = F.when(
        (F.col("_gii") > 0) & (F.col("_gjj") > 0),
        F.round(
            F.abs(F.col("g").cast("double"))
            / F.sqrt(
                F.col("_gii").cast("double")
                * F.col("_gjj").cast("double")
            )
            + 1e-9,
            6,
        ),
    )
    cells = off.select(
        "i",
        "j",
        corr6.alias("_c"),
        (F.col("g") * F.col("g")).cast("decimal(38,0)").alias("_g2"),
    )
    offstats = cells.agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.coalesce(
            F.sum((F.col("_c") >= corr_floor).cast("long")), F.lit(0)
        )
        .cast("long")
        .alias("n_corr_ge_floor"),
        F.min(
            F.when(
                F.col("_c").isNotNull(),
                F.struct(
                    (-F.col("_c")).alias("nc"),
                    F.col("i").alias("i"),
                    F.col("j").alias("j"),
                ),
            )
        ).alias("_mx"),
        F.sum("_g2").alias("_off2"),
    )
    dstats = diag.agg(
        F.count("*").cast("long").alias("n_dims"),
        F.sum((F.col("_gd") * F.col("_gd")).cast("decimal(38,0)")).alias(
            "_d2"
        ),
    )
    return (
        dstats.crossJoin(F.broadcast(offstats))
        .select(
            "n_dims",
            "n_pairs",
            "n_corr_ge_floor",
            (-F.col("_mx.nc")).alias("max_abs_corr"),
            F.col("_mx.i").alias("max_i"),
            F.col("_mx.j").alias("max_j"),
            F.round(
                F.lit(2.0)
                * F.col("_off2").cast("double")
                / F.col("_d2").cast("double")
                + 1e-9,
                6,
            ).alias("off_to_diag_fro2"),
        )
    )
