"""Deterministic sampling / splitting for training-data pipelines
(extension surface, BASELINE.json north star).

A training corpus needs train/val/test membership that is (a) stable
across re-runs and cluster re-partitioning, (b) a pure function of
document identity — never of row order, partition id, or RNG state —
so late-arriving shards land in the same split, and (c) computable
engine-side with no shuffle. The standard construction is a content
hash bucketed mod N: here md5 of the id (portable: every engine
produces the identical digest, unlike murmur3/xxhash whose seeds
differ across systems), first 8 hex digits as a 32-bit integer,
mod 100.

Everything is a narrow projection over built-in JVM expressions —
zero shuffle, zero UDF, fully codegen'd; at 100 TB the split costs
exactly one extra projected column on the scan.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def hash_bucket(id_col: Column, n_buckets: int = 100, salt: str = "") -> Column:
    """Deterministic bucket in [0, n_buckets) from a portable md5 hash.

    ``salt`` derives independent bucketings from the same ids (e.g. a
    fresh holdout after a leak) — different salt, uncorrelated buckets.
    """
    key = F.concat(F.lit(salt), id_col.cast("string"))
    return (
        F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("long") % n_buckets
    ).cast("int")


def hash_split(
    df: DataFrame,
    id_col: str,
    weights: dict[str, int] | None = None,
    salt: str = "",
    split_col: str = "split",
) -> DataFrame:
    """Assign a stable train/val/test split label per row.

    ``weights`` maps label → percent (must sum to 100); default the
    conventional 80/10/10. Buckets are contiguous ranges of the hash
    bucket, so enlarging a split later keeps all previously-assigned
    members in place (monotone re-splitting).
    """
    weights = weights or {"train": 80, "val": 10, "test": 10}
    if sum(weights.values()) != 100:
        raise ValueError(f"split weights must sum to 100, got {weights}")
    bucket = hash_bucket(F.col(id_col), 100, salt=salt)
    expr = None
    lo = 0
    for label, pct in weights.items():
        lo += pct
        cond = bucket < lo
        expr = F.when(cond, label) if expr is None else expr.when(cond, label)
    return df.withColumn(split_col, expr)


def stratified_sample(
    df: DataFrame,
    id_col: str,
    stratum_col: str,
    per_myriad: dict[str, int],
    default: int = 0,
    salt: str = "",
) -> DataFrame:
    """Deterministic per-stratum sampling: keep ``per_myriad[stratum] /
    10000`` of each stratum's rows, selected by the id's hash bucket.

    The corpus-rebalancing primitive (e.g. downsample the dominant
    language, keep the long tail whole): unlike ``df.sampleBy`` the
    selection is a pure function of the id — stable across re-runs and
    repartitioning, and a row kept at rate r stays kept at any rate
    ≥ r (nested samples). Rates are integer per-myriad (parts per
    10 000), so the threshold compare is exact integer arithmetic —
    no float-cast divergence between engines. Strata not listed get
    ``default``. One codegen'd filter over the scan; zero shuffle.
    """
    if not all(0 <= v <= 10_000 for v in per_myriad.values()):
        raise ValueError(f"per_myriad rates must lie in [0, 10000], got {per_myriad}")
    bucket = hash_bucket(F.col(id_col), 10_000, salt=salt)
    thresh = None
    for val, rate in per_myriad.items():
        cond = F.col(stratum_col) == val
        thresh = (
            F.when(cond, rate) if thresh is None else thresh.when(cond, rate)
        )
    thresh = F.lit(default) if thresh is None else thresh.otherwise(default)
    return df.filter(bucket < thresh)


def exact_stratified_split(
    df: DataFrame,
    id_col: str,
    strata_cols: list[str],
    weights: dict[str, int] | None = None,
    salt: str = "strat",
    split_col: str = "split",
) -> DataFrame:
    """Train/val/test split with EXACT per-stratum proportions.

    ``hash_split`` is O(0 shuffles) but only approximates the ratios
    (binomial noise ~ sqrt(n) per stratum); evaluation suites and
    small strata (a rare language with 40 docs) need the exact-count
    guarantee: every stratum contributes floor-exact slices. The
    standard construction: rank rows WITHIN each stratum by the id's
    md5 (a deterministic uniform permutation), then cut at exact
    integer boundaries computed from the stratum's own count —
    ``rn * 100 <= n * cum_pct`` keeps everything in integer
    arithmetic (no float thresholds to disagree across engines).

    Plan shape: ONE window shuffle on the strata key computes both the
    per-stratum rank and the per-stratum total (rank + count over the
    same partitioning reuse one sort/exchange). Still a pure function
    of (id, stratum): re-runs assign identical splits as long as the
    stratum membership is unchanged — unlike hash_split, adding rows
    to a stratum DOES reshuffle that stratum's boundary members, which
    is the price of exactness (documented tradeoff; use hash_split for
    open-ended corpora, this for frozen evaluation releases).
    """
    weights = weights or {"train": 80, "val": 10, "test": 10}
    if sum(weights.values()) != 100:
        raise ValueError(f"split weights must sum to 100, got {weights}")
    rank_key = F.md5(
        F.concat(F.lit(salt), F.col(id_col).cast("string"))
    )
    w = Window.partitionBy(*strata_cols)
    wo = w.orderBy(rank_key.asc(), F.col(id_col).asc())
    ranked = df.select(
        *strata_cols,
        F.col(id_col),
        F.row_number().over(wo).alias("_rn"),
        F.count("*").over(w).alias("_n"),
    )
    expr = None
    cum = 0
    for label, pct in weights.items():
        cum += pct
        # exact integer cut: row joins `label` iff rn*100 <= n*cum
        cond = F.col("_rn") * 100 <= F.col("_n") * cum
        expr = F.when(cond, label) if expr is None else expr.when(cond, label)
    return ranked.select(
        *strata_cols, id_col, expr.alias(split_col)
    )


def mixture_plan(
    docs: DataFrame,
    stratum_col: str,
    weight_of: Callable[[Column], Column],
) -> DataFrame:
    """Data-mixing plan: per-stratum sampling quotas that realize a
    target mixture at the largest achievable corpus size.

    Training corpora are mixed to target proportions (code:web:books …).
    Given integer target weights w_s, the largest total T every stratum
    can supply is T = min_s ⌊n_s·Σw / w_s⌋; each stratum contributes
    take_s = ⌊w_s·T / Σw⌋ docs. All quota arithmetic is INTEGER
    (exact, engine-portable); only the reported share/rate columns are
    rounded doubles.

    The global window runs over the per-stratum AGGREGATE (one row per
    stratum — dozens, not documents), so the single-partition window is
    a few hundred bytes at any corpus scale; the heavy lifting is the
    one count-by-stratum shuffle. Feed ``take_s / n_s`` into
    ``stratified_sample`` rates to materialize the mixture.

    Output: (stratum, n_docs, target_share, take_n, rate).
    """
    g = Window.partitionBy()
    counts = (
        docs.groupBy(stratum_col)
        .agg(F.count("*").alias("n_docs"))
        .withColumn("w", weight_of(F.col(stratum_col)).cast("long"))
        .withColumn("sumw", F.sum("w").over(g))
        .withColumn("t_cap", F.expr("n_docs * sumw div w"))
        .withColumn("t", F.min("t_cap").over(g))
        .withColumn("take_n", F.expr("w * t div sumw"))
    )
    return counts.select(
        stratum_col,
        F.col("n_docs").cast("int").alias("n_docs"),
        F.round(F.col("w") * 1.0 / F.col("sumw"), 4).alias("target_share"),
        F.col("take_n").cast("int").alias("take_n"),
        F.round(F.col("take_n") * 1.0 / F.col("n_docs"), 4).alias("rate"),
    )


def keep_top_fraction(
    df: DataFrame,
    score_col: str,
    num: int,
    den: int,
) -> DataFrame:
    """Keep the rows whose score is in the top num/den of the corpus,
    by EXACT threshold, without a global sort.

    "Keep the top 30 % by quality" is the standard curation step after
    scoring. A global rank needs a total order (one partition at scale);
    instead we histogram the (already-rounded) score — at 4 dp the
    histogram has ≤ ~10⁴ rows regardless of corpus size — take the
    cumulative count from the top, and pick the highest score value
    that still captures ≥ ⌈num·N/den⌉ rows. Ties at the threshold are
    kept (may slightly exceed the fraction; documented top-k-with-ties
    semantics). The target count uses integer ceiling arithmetic, so
    engines agree exactly; the final pass is a broadcast-threshold
    filter on the scan.
    """
    hist = df.groupBy(score_col).agg(F.count("*").alias("_n"))
    w = (
        Window.orderBy(F.desc(score_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    total = hist.agg(F.sum("_n").alias("_total"))
    thr = (
        hist.withColumn("_cum", F.sum("_n").over(w))
        .crossJoin(F.broadcast(total))
        # cum >= ceil(num*N/den)  ⟺  cum*den >= num*N  (pure integers)
        .filter(F.col("_cum") * den >= F.lit(num) * F.col("_total"))
        .agg(F.max(score_col).alias("_thr"))
    )
    return df.crossJoin(F.broadcast(thr)).filter(
        F.col(score_col) >= F.col("_thr")
    ).withColumnRenamed("_thr", "threshold")


def epoch_upsample(
    docs: DataFrame,
    stratum_col: str,
    epochs_of: Callable[[Column], Column],
    id_col: str = "doc_id",
    salt: str = "ep",
    copy_col: str = "copy_idx",
) -> DataFrame:
    """Fractional-epoch domain UPSAMPLING — the other half of data
    mixing (``mixture_plan`` downsamples to quotas; this repeats
    under-represented domains): a stratum with target epochs e
    contributes ⌊e⌋ copies of every doc plus one extra copy for the
    deterministic hash-fraction (e − ⌊e⌋) of its docs, so the realized
    corpus hits e× per stratum in expectation with EXACT per-doc
    reproducibility (the extra-copy set is a pure md5 function of id —
    re-runs and repartitions replicate the same docs).

    Plan shape: a projection computing n_copies, then one
    ``explode(sequence(1, n_copies))`` — no shuffle at any scale; the
    output inherits the scan's partitioning with rows amplified
    in place. Guard: sequence(1, 0) counts DOWN in Spark, so
    zero-copy rows are filtered BEFORE the explode.

    Output: input columns + ``copy_idx`` (1-based int).
    """
    e = epochs_of(F.col(stratum_col)).cast("double")
    # A null weight (e.g. a F.when chain missing .otherwise) would make
    # n_copies null and the >0 filter would silently DELETE the whole
    # stratum — indistinguishable from intentional downsampling. Raise
    # instead; an explicit 0.0 weight is the way to drop a stratum.
    e_checked = F.when(
        F.assert_true(
            e.isNotNull(),
            F.lit(
                "epochs_of returned NULL for a stratum — add .otherwise() "
                "(use an explicit 0.0 to drop a stratum)"
            ),
        ).isNull(),
        e,
    )
    n_copies = (
        F.floor(e_checked).cast("int")
        + (
            hash_bucket(F.col(id_col), 100, salt=salt)
            < F.round((e_checked - F.floor(e_checked)) * 100, 0).cast("int")
        ).cast("int")
    )
    return (
        docs.withColumn("_n_copies", n_copies)
        .filter(F.col("_n_copies") > 0)
        .withColumn(
            copy_col,
            F.explode(F.sequence(F.lit(1), F.col("_n_copies"))),
        )
        .drop("_n_copies")
    )


def weighted_sample_topk(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    k: int,
    stratum_col: str | None = None,
    salt: str = "ws",
    key_col: str = "sample_key",
    rank_col: str = "sample_rank",
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement, k rows (per
    stratum): the Efraimidis–Spirakis A-ES construction — draw
    u ~ Uniform(0,1) per row, rank by u^(1/w), keep the top k. The
    selection distribution is exactly probability-proportional-to-size
    without replacement, and because u comes from the id's md5 (not an
    RNG), membership is a pure function of identity: re-runs, retries,
    and repartitions pick the SAME sample (the property every operator
    in this module guarantees).

    Ranking uses the monotone-equivalent key ln(u)/w (descending):
    identical order to u^(1/w), one libm call instead of a pow. u is
    mapped to the open interval via (v + 0.5) / 2^60 from a 15-hex-char
    (60-bit) digest slice, so ln(0) can never occur.

    Plan shape: one projected key column on the scan, then a top-k —
    per-stratum window when ``stratum_col`` is given (one exchange on
    the stratum key), TakeOrdered otherwise. No driver-side data, no
    UDF; at 100 TB the cost is the scan plus a k-bounded shuffle.

    Weight domain: w must be non-negative and non-null — ln(u) < 0
    divided by a NEGATIVE weight flips sign and would deterministically
    outrank every valid row, so negative/null weights raise at runtime
    (same in-plan guard as ``epoch_upsample``'s null check). w = 0 is
    legitimate "zero mass": those rows are excluded, never sampled.
    """
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    v = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string"))), 1, 15
        ),
        16,
        10,
    ).cast("double")
    u = (v + F.lit(0.5)) / F.lit(float(1 << 60))
    w_raw = F.col(weight_col).cast("double")
    w_ok = F.when(
        F.assert_true(
            w_raw.isNotNull() & (w_raw >= 0),
            F.lit(
                f"weighted_sample_topk: {weight_col} must be a non-negative, "
                "non-null weight (negative weights would invert the A-ES "
                "ranking; use 0 to exclude a row)"
            ),
        ).isNull(),
        w_raw,
    )
    # The guard lives INSIDE the filter expression (w_ok embeds the
    # assert), so predicate pushdown cannot reorder the validation away:
    # every scanned row passes through it before any key math.
    keyed = df.filter(w_ok > 0).withColumn(key_col, F.log(u) / w_raw)
    order = [F.desc(key_col), F.asc(id_col)]
    if stratum_col is not None:
        w = Window.partitionBy(stratum_col).orderBy(*order)
        ranked = keyed.withColumn(rank_col, F.row_number().over(w).cast("int"))
        return ranked.filter(F.col(rank_col) <= k).drop(key_col)
    # Global variant: orderBy+limit compiles to TakeOrderedAndProject
    # (parallel per-partition partial top-k, k-bounded merge) — NEVER a
    # single-partition window over the corpus. The rank window then
    # runs over exactly k rows, which is the bounded case where a
    # global window is fine.
    topk = keyed.orderBy(*order).limit(k)
    w = Window.orderBy(*order)
    return (
        topk.withColumn(rank_col, F.row_number().over(w).cast("int"))
        .drop(key_col)
    )


def pareto_frontier(
    docs: DataFrame,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Pareto frontier of a 2-objective selection space (maximize
    both): the (x, y) points no other point weakly dominates with at
    least one strict improvement — the skyline of the
    quality-vs-length (or cost-vs-coverage) trade-off a data-curation
    pass picks its operating point from.

    Scale shape — LEVEL-table staircase, not the O(n²) dominance
    join: one (x) hash agg collapses the corpus to distinct x levels
    with each level's max y (partial-combined, corpus-sized scan, no
    shuffle of raw rows beyond it); the frontier is then `y_max >
    max(y_max) over strictly larger x` — a DISTRIBUTED exclusive
    running max over the LEVEL table (`shards.global_running_max`:
    the level count is |distinct x|, data-shaped — an unpartitioned
    window here would be the q227-class single-task wall), and one
    count-back join tallies how many rows sit ON each frontier point.
    At 100 TB the only corpus-sized work is the first agg.

    Output: (x, y, n_rows) for each frontier point, where y is the
    level's max. Both objectives must be numeric; ties on both axes
    are one frontier point with their row count.
    """
    from .shards import global_running_max

    levels = docs.groupBy(F.col(x_col).alias("x")).agg(
        F.max(F.col(y_col)).alias("y")
    )
    frontier = global_running_max(
        levels, [F.desc("x")], "y", "_best_above", exclusive=True
    ).filter(
        F.col("_best_above").isNull() | (F.col("y") > F.col("_best_above"))
    )
    counts = docs.groupBy(
        F.col(x_col).alias("x"), F.col(y_col).alias("y")
    ).agg(F.count("*").alias("n_rows"))
    return frontier.select("x", "y").join(
        counts, on=["x", "y"]
    ).select("x", "y", F.col("n_rows").cast("long").alias("n_rows"))


def water_fill_allocation(
    docs: DataFrame,
    group_col: str = "source",
    budget_num: int = 3,
    budget_den: int = 5,
) -> DataFrame:
    """Water-filling token/document budget across sources: allocate
    a_i = min(c_i, λ) with Σ a_i = B (B = ⌊num/den · total⌋ in exact
    integer arithmetic) — the "cap the giant sources, keep the small
    ones whole" allocation every mixture rebalance runs when a TOTAL
    budget (not a ratio, q56's problem) is the binding constraint.

    Exact construction, no floats anywhere: sources ordered by
    (count asc, name asc) get prefix sums; a source is FULLY funded
    iff funding it and leveling everything above at its count fits
    the budget (p_i + (n−i)·c_i ≤ B); the first infeasible rank k*
    fixes the water level λ = (B − p_{k*−1}) div (n−k*+1) with the
    remainder distributed one unit each to the first capped sources
    in the same deterministic order. Σ alloc == B whenever B ≤ total
    (and == total otherwise) — the invariant the test pins.

    Plan shape: one corpus hash agg to |sources| rows; the window and
    the k* reduction run on that bounded level table (the q56
    contract). Output: (source, n_docs, alloc, capped).
    """
    if budget_den <= 0:
        raise ValueError(
            f"budget_den must be > 0, got {budget_den}"
        )
    if not 0 <= budget_num <= budget_den:
        raise ValueError(
            "budget_num must satisfy 0 <= num <= den "
            f"(a proper budget fraction), got {budget_num}/{budget_den}"
        )
    src = docs.filter(F.col(group_col).isNotNull()).groupBy(
        F.col(group_col).alias("src")
    ).agg(F.count("*").cast("long").alias("c"))
    w = Window.orderBy("c", "src")
    tot = src.agg(
        F.sum("c").cast("long").alias("total"),
        F.count("*").cast("long").alias("n"),
    ).select(
        "total",
        "n",
        F.expr(f"(total * {int(budget_num)}) div {int(budget_den)}").alias(
            "b"
        ),
    )
    ranked = (
        src.withColumn("idx", F.row_number().over(w))
        .withColumn("p", F.sum("c").over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .crossJoin(F.broadcast(tot))
    )
    flagged = ranked.withColumn(
        "full_ok",
        F.col("p") + (F.col("n") - F.col("idx")) * F.col("c") <= F.col("b"),
    )
    kstar = flagged.agg(
        F.min(F.when(~F.col("full_ok"), F.col("idx"))).alias("k")
    )
    level = (
        flagged.crossJoin(F.broadcast(kstar))
        .filter(F.col("idx") == F.col("k"))
        .select(
            F.col("k").alias("k2"),
            F.expr("(b - (p - c)) div (n - k + 1)").alias("lam"),
            F.expr("(b - (p - c)) % (n - k + 1)").alias("rem"),
        )
    )
    out = (
        flagged.crossJoin(F.broadcast(kstar))
        .join(F.broadcast(level), F.col("k") == F.col("k2"), "left")
        .select(
            F.col("src").alias(group_col),
            F.col("c").alias("n_docs"),
            F.when(F.col("k").isNull() | (F.col("idx") < F.col("k")), F.col("c"))
            .otherwise(
                F.col("lam")
                + F.when(
                    F.col("idx") - F.col("k") + 1 <= F.col("rem"), F.lit(1)
                ).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("alloc"),
            (
                F.col("k").isNotNull() & (F.col("idx") >= F.col("k"))
            ).alias("capped"),
        )
    )
    return out


def effective_sample_size(
    weighted: DataFrame,
    weight_col: str,
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Kish effective sample size of a weighting scheme —
    ESS = (Σw)²/Σw², the "how many units is this weighted sample
    really worth?" audit run on any importance/mixture weighting
    (q132's temperature weights, q159's DSIR scores after
    exponentiation, survey weights): ESS = n for uniform weights and
    collapses toward 1 as the mass concentrates; ESS/n is the
    standard design-effect ratio.

    Exact when ``weight_col`` is integral (the module's grid
    convention — snap weights to a 1e-6 integer grid FIRST): both
    sums accumulate as decimal(38,0) and ESS is one terminal double
    sequence. One hash agg; with ``group_cols`` one row per group.

    Output: (group_cols…, n_rows, ess 6 dp, ess_ratio 6 dp); NULL
    when the weight mass is zero.
    """
    wd = F.col(weight_col).cast("decimal(19,0)")
    agg = weighted.groupBy(*group_cols).agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum(wd.cast("decimal(38,0)")).alias("_sw"),
        F.sum((wd * wd).cast("decimal(38,0)")).alias("_sww"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    ess = F.when(
        F.col("_sww") > 0, d("_sw") * d("_sw") / d("_sww")
    )
    return agg.select(
        *group_cols,
        "n_rows",
        F.round(ess + 1e-9, 6).alias("ess"),
        F.round(
            ess / F.col("n_rows").cast("double") + 1e-9, 6
        ).alias("ess_ratio"),
    )
