"""Time-series compaction and resampling (extension surface).

The reference's only time-series treatment is the daily mean downsample
(reference:airflow/dags/insert_conso_jour_region_in_bq.py:80-82); a real
metering/telemetry warehouse also needs the two ops here:

- change compaction (report-by-exception): store a reading only when the
  quantized signal changes — the standard compression for meter feeds,
  where consecutive readings repeat the same quantized value.
- gap fill + forward fill: regularize an irregular series onto a daily
  grid, carrying the last observation forward — what every downstream
  window/forecast operator assumes ("one row per key per day").

Scale design: both ops are one window shuffle on the series key and
nothing else. Compaction is lag + filter (no state beyond one row per
partition slot); gap-fill generates the day grid from each key's own
(min, max) span — `sequence()` per key, not a cross join against a
global calendar dimension, so a key with a 3-day history costs 3 rows
no matter how long the calendar is. Forward fill is `last(ignorenulls)`
over an unbounded-preceding frame — a running value, not a self-join.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def change_compaction(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
    value_col: str = "value",
) -> DataFrame:
    """Keep only rows where the quantized signal differs from the key's
    previous reading (first reading always kept).

    The signal is ``floor(value)`` — floor, not round, because floor is
    identical across engines (round's half-way rule differs between
    dialects). ``ts_col`` passes through unchanged, so callers choose
    the precision-safe representation (epoch long or timestamp).
    """
    v = F.floor(value_col).cast("int")
    w = Window.partitionBy(key_col).orderBy(ts_col, tiebreak_col)
    quantized = events.select(
        key_col, ts_col, tiebreak_col, v.alias("v")
    ).withColumn("prev_v", F.lag("v").over(w))
    # tiebreak_col rides along so downstream windows (e.g. the SCD2
    # interval lead) can order by (ts, tiebreak) — a TOTAL order even if
    # two surviving changes share a timestamp.
    return quantized.filter(
        F.col("prev_v").isNull() | (F.col("v") != F.col("prev_v"))
    ).select(key_col, ts_col, tiebreak_col, "v")


def gap_fill_daily(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Daily-mean downsample, then fill each key's missing days by
    carrying the last observed daily mean forward.

    The grid spans each key's own [min day, max day]; emitted rows are
    (key, day string, v, was_gap) where ``was_gap`` marks days with no
    observation. Daily means are rounded to 4 dp (after the repo's
    standard +1e-9 half-way nudge) before the fill so the carried value
    is bit-stable across engines and summation orders.
    """
    daily = events.groupBy(
        key_col, F.to_date(ts_col).alias("day")
    ).agg(F.round(F.avg(value_col) + 1e-9, 4).alias("obs"))
    spans = daily.groupBy(key_col).agg(
        F.min("day").alias("lo"), F.max("day").alias("hi")
    )
    grid = spans.select(
        key_col, F.explode(F.sequence("lo", "hi")).alias("day")
    )
    joined = grid.join(daily, [key_col, "day"], "left")
    fill = Window.partitionBy(key_col).orderBy("day").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return joined.select(
        key_col,
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.last("obs", ignorenulls=True).over(fill).alias("v"),
        F.col("obs").isNull().alias("was_gap"),
    )


def ewma_daily(
    events: DataFrame,
    alpha: float = 0.3,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Exponentially weighted moving average over each key's daily-mean
    series: s_1 = x_1, s_t = α·x_t + (1−α)·s_{t−1} — the smoothing
    every monitoring/forecast stack runs before thresholding a noisy
    daily signal (the reference's daily regional mean,
    reference:airflow/dags/insert_conso_jour_region_in_bq.py:80-82, is
    exactly the series this smooths).

    EWMA is ORDER-SENSITIVE — a reduceByKey-style commutative agg
    cannot express it. The distributed contract here mirrors
    ``gap_fill_daily``: the heavy event scan collapses through one
    (key, day) hash agg (map-side partials, the only full-data
    shuffle), and the recurrence itself folds over each key's daily
    series — an array bounded by the CALENDAR, not the corpus, so the
    per-key fold is structurally bounded at any data size (365 steps/
    key/year whether the day holds 1 event or 10 billion). The fold
    runs inside codegen (``aggregate`` higher-order function over the
    sorted (day, v) structs), not in Python. For series long enough to
    break that bound, ``ewma_scan`` below is the implemented unbounded
    path: the same recurrence in fixed-point form, split two-phase
    with contraction-certified interval carries.

    Determinism: daily means are rounded to 4 dp (+1e-9 nudge) BEFORE
    the fold so both engines fold bit-identical inputs in the same
    order; each fold step is then the same two double ops in the same
    sequence, so s_t is bit-stable and the final 4-dp round is safe.
    The oracle replays the identical recurrence with a recursive CTE.

    Output: (key, day 'yyyy-MM-dd', v daily mean, ewma), one row per
    observed (key, day).
    """
    if not (0.0 < alpha <= 1.0):
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    comp = 1.0 - alpha
    daily = events.groupBy(
        key_col, F.to_date(ts_col).alias("day")
    ).agg(F.round(F.avg(value_col) + 1e-9, 4).alias("v"))
    packed = daily.groupBy(key_col).agg(
        F.sort_array(F.collect_list(F.struct("day", "v"))).alias("series")
    )
    folded = packed.withColumn(
        "s",
        F.aggregate(
            "series",
            F.expr("CAST(array() AS array<double>)"),
            lambda acc, x: F.concat(
                acc,
                F.array(
                    F.when(F.size(acc) == 0, x["v"]).otherwise(
                        F.lit(alpha) * x["v"]
                        + F.lit(comp) * F.element_at(acc, -1)
                    )
                ),
            ),
        ),
    )
    return folded.select(
        key_col, F.explode(F.arrays_zip("series", "s")).alias("z")
    ).select(
        key_col,
        F.date_format(F.col("z.series.day"), "yyyy-MM-dd").alias("day"),
        F.col("z.series.v").alias("v"),
        F.round(F.col("z.s") + 1e-9, 4).alias("ewma"),
    )


def inter_event_gap_histogram(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    order_col: str = "event_id",
) -> DataFrame:
    """Log2-binned inter-event gap distribution per user stream — the
    table a session gap parameter is READ FROM (the bimodal valley
    between within-session and between-session gaps is where the
    1800 s of ``sessionize`` comes from; shipping a gap rule without
    this table is guessing).

    Bucket = length(bin(gap_s + 1)) — the integer ⌊log2⌋+1 on both
    engines (gap 0 lands in bucket 1); no float log boundary.

    Plan shape: one user-key window (lag over (ts, order) total order)
    — the same single full-events shuffle every per-user operator here
    pays — then one tiny hash agg on ≤ 64 buckets. Output:
    (gap_bucket, n_gaps, min_gap_s, max_gap_s).
    """
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    w = Window.partitionBy(key_col).orderBy(
        F.col("_us").asc(), F.col(order_col).asc()
    )
    gaps = (
        events.select(
            F.col(key_col),
            us.alias("_us"),
            F.col(order_col),
        )
        .withColumn("_prev", F.lag("_us").over(w))
        .filter(F.col("_prev").isNotNull())
        .select(
            F.expr("(_us - _prev) div 1000000").alias("_gap_s")
        )
    )
    bucket = F.length(F.bin(F.col("_gap_s") + 1)).cast("int")
    return gaps.groupBy(bucket.alias("gap_bucket")).agg(
        F.count("*").cast("long").alias("n_gaps"),
        F.min("_gap_s").cast("long").alias("min_gap_s"),
        F.max("_gap_s").cast("long").alias("max_gap_s"),
    )


def ewma_scan(
    df: DataFrame,
    order_by: list[str],
    value_col: str,
    alpha: float = 0.3,
    ewma_col: str = "ewma",
    max_replay: int = 100_000,
) -> DataFrame:
    """KEYLESS quantized-EWMA prefix scan under a total order, P-way
    parallel — the unbounded-series path ``ewma_daily``'s docstring
    promises. The recurrence is the FIXED-POINT form every production
    metrics store actually runs: s_0 = 0, s_t = round(α·x_t +
    (1−α)·s_{t−1} + 1e-9, 4) over 4-dp-quantized inputs, so every
    state is an exact 1e-4-grid rational and each step's pre-round
    value is an exact multiple of 1e-5 computed to ~1e-13 — the 1e-9
    nudge therefore picks the same grid point on EVERY engine and
    EVERY partitioning (the repo's boundary-exact-rationals idiom,
    applied to a recurrence).

    Why the obvious two-phase split fails, and what this does instead:
    a running SUM splits into segment partials + additive carries
    (shards.global_running_sums), but EWMA's affine carries reassociate
    float ops — the composed carry differs from the sequential fold in
    the last ulp, so the result would be partitioning-dependent
    (exactly why global_running_sums is integer-only). The quantized
    recurrence restores exactness through CONTRACTION: (1−α) < 1
    forgets the entry state geometrically, and once forgetting crosses
    the quantization grid the tail state is provably independent of
    the carry. Phase 1 proves it per partition with an INTERVAL fold —
    thread [lo, hi] bounds of every reachable entry state through the
    partition; monotonicity of s ↦ round(α·x + (1−α)·s + 1e-9, 4)
    makes the interval fold sound, and lo == hi at the end certifies
    the tail exactly. The driver then chains P tails into exact entry
    states (replaying the rare non-converged partition from its
    returned values — bounded by ``max_replay``, raised past it), and
    phase 2 re-folds each partition from its exact carry, emitting
    every row. The ranged, lazily pinned partitions come from
    ``shards._ranged`` (P is the session's
    ``spark.sql.shuffle.partitions``); the carry chain is this
    operator's own, because a certified tail is not an aggregate. One
    ranged exchange + one P-row collect, both Arrow-batched passes over
    the pinned partitions; the sequential core is irreducible (it IS
    the operator), but each partition folds independently — P-way
    wall-clock at any length.

    ``order_by`` must be a TOTAL order (ties would make any engine's
    answer ill-defined). NULL values are dropped. Returns the input
    columns + ``ewma_col``.
    """
    if not (0.0 < alpha < 1.0):
        raise ValueError(f"alpha must be in (0, 1), got {alpha}")
    from .shards import _ranged

    comp = 1.0 - alpha
    data = df.filter(F.col(value_col).isNotNull())
    # NaN is not NULL: one NaN would poison every later state AND
    # defeat the interval-convergence certificate (NaN == NaN is
    # false) — drop it like NULL for float inputs
    if df.schema[value_col].dataType.simpleString() in ("double", "float"):
        data = data.filter(~F.isnan(value_col))
    ranged = _ranged(
        data.withColumn("_vq", F.round(F.col(value_col) + 1e-9, 4)), order_by
    )
    # both folds walk each partition in order; the pinned rows are
    # sorted locally (no exchange) under each of them
    ordered = ranged.sortWithinPartitions(*order_by)
    mm = ranged.agg(
        F.min("_vq").alias("lo"), F.max("_vq").alias("hi")
    ).first()
    if mm["lo"] is None:
        return data.withColumn(ewma_col, F.lit(None).cast("double"))
    # every reachable state is a round of a convex combination of 0
    # and quantized inputs, plus accumulated per-step rounding of at
    # most h = half-grid + nudge; the rounding drift fixed point is
    # h/(1−(1−α)) = h/α, so the widening must scale with 1/α
    slack = max(1e-3, (0.5e-4 + 1e-9) / alpha * 2.0)
    b_lo = min(0.0, float(mm["lo"])) - slack
    b_hi = max(0.0, float(mm["hi"])) + slack

    def _rnd(v: float) -> float:
        return round(v + 1e-9, 4)

    def tails(batches):
        pid = None
        n = 0
        lo = hi = None
        vals: list[float] = []
        tracking = True
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if pid is None:
                pid = int(pdf["_pid"].iloc[0])
                lo, hi = b_lo, b_hi
            for x in pdf["_vq"].tolist():
                n += 1
                lo = _rnd(alpha * x + comp * lo)
                hi = _rnd(alpha * x + comp * hi)
                if tracking:
                    if lo == hi:
                        tracking = False
                        vals = []
                    else:
                        vals.append(x)
                        if len(vals) > max_replay:
                            raise ValueError(
                                "ewma_scan: partition did not converge "
                                f"within max_replay={max_replay} rows; "
                                "raise max_replay or widen alpha"
                            )
        if pid is None:
            return
        yield pd.DataFrame(
            {
                "_pid": [pid],
                "_n": [n],
                "_tail": [lo],
                "_conv": [lo == hi],
                "_vals": [vals if lo != hi else None],
            }
        )

    phase1 = ordered.mapInPandas(
        tails,
        "_pid int, _n long, _tail double, _conv boolean, _vals array<double>",
    ).collect()

    carry: dict[int, float] = {}
    s = 0.0
    for r in sorted(phase1, key=lambda r: r["_pid"]):
        carry[r["_pid"]] = s
        if r["_conv"]:
            s = r["_tail"]
        else:
            # never converged ⇒ _vals holds the partition's FULL
            # sequence; replay it from the exact entry state
            for x in r["_vals"]:
                s = _rnd(alpha * x + comp * s)

    out_cols = [c for c in df.columns]

    def replay(batches):
        st = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if st is None:
                st = carry.get(int(pdf["_pid"].iloc[0]), 0.0)
            out = []
            for x in pdf["_vq"].tolist():
                st = _rnd(alpha * x + comp * st)
                out.append(st)
            res = pdf[out_cols].copy()
            res[ewma_col] = out
            yield res

    fields = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}"
        for f in data.schema.fields
    )
    return ordered.mapInPandas(replay, f"{fields}, {ewma_col} double")


def holt_daily(
    events: DataFrame,
    alpha: float = 0.3,
    beta: float = 0.2,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Holt double exponential smoothing (level + trend) over each
    key's daily-mean series — the trend-aware upgrade of ``ewma_daily``
    that a capacity-planning stack runs when the signal drifts instead
    of hovering (plain EWMA systematically lags a trending series):

        l_1 = x_1,  b_1 = 0
        l_t = α·x_t + (1−α)·(l_{t−1} + b_{t−1})
        b_t = β·(l_t − l_{t−1}) + (1−β)·b_{t−1}

    Distributed contract identical to ``ewma_daily``: ONE (key, day)
    hash agg is the only full-data shuffle; the order-sensitive
    recurrence folds inside codegen over each key's calendar-bounded
    sorted series, state = array<struct<l, b>>.

    Determinism: the daily mean is EXACT, not a float avg — values
    snap to the 10^4 integer grid, per-day sums accumulate as
    decimal(38,0) (order-free, matches DuckDB HUGEINT), and the mean
    is the single double sequence S/n/10^4, 4-dp rounded (+1e-9
    nudge) before the fold (welch_t/weekday_seasonal_index pattern —
    a raw F.avg would be partial-order-dependent within 1 ulp of a
    rounding boundary); each step of the recurrence is then the same
    double-op sequence on both engines —
    b_t's reference to l_t is spelled by REPEATING l_t's expression
    (neither a codegen lambda nor a recursive CTE can name a sibling
    being defined; the repeated expression is bit-identical), so the
    whole trajectory is bit-stable before the terminal 4-dp rounds.

    Output: (key, day, v, level, trend, forecast) with forecast the
    one-step-ahead l_t + b_t, one row per observed (key, day).
    """
    if not (0.0 < alpha <= 1.0):
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    if not (0.0 <= beta <= 1.0):
        raise ValueError(f"beta must be in [0, 1], got {beta}")
    comp_a, comp_b = 1.0 - alpha, 1.0 - beta
    daily = (
        events.groupBy(key_col, F.to_date(ts_col).alias("day"))
        .agg(
            F.count(value_col).cast("long").alias("_n"),
            F.sum(
                F.round(F.col(value_col) * 1e4)
                .cast("long")
                .cast("decimal(38,0)")
            ).alias("_sv"),
        )
        .select(
            key_col,
            "day",
            F.round(
                F.col("_sv").cast("double")
                / F.col("_n").cast("double")
                / F.lit(1e4)
                + 1e-9,
                4,
            ).alias("v"),
        )
    )
    packed = daily.groupBy(key_col).agg(
        F.sort_array(F.collect_list(F.struct("day", "v"))).alias("series")
    )

    def _step(acc, x):
        prev = F.element_at(acc, -1)
        l_new = F.lit(alpha) * x["v"] + F.lit(comp_a) * (
            prev["l"] + prev["b"]
        )
        l_new_again = F.lit(alpha) * x["v"] + F.lit(comp_a) * (
            prev["l"] + prev["b"]
        )
        b_new = (
            F.lit(beta) * (l_new_again - prev["l"]) + F.lit(comp_b) * prev["b"]
        )
        first = F.struct(x["v"].alias("l"), F.lit(0.0).alias("b"))
        rest = F.struct(l_new.alias("l"), b_new.alias("b"))
        return F.concat(
            acc, F.array(F.when(F.size(acc) == 0, first).otherwise(rest))
        )

    folded = packed.withColumn(
        "s",
        F.aggregate(
            "series",
            F.expr("CAST(array() AS array<struct<l:double,b:double>>)"),
            _step,
        ),
    )
    return folded.select(
        key_col, F.explode(F.arrays_zip("series", "s")).alias("z")
    ).select(
        key_col,
        F.date_format(F.col("z.series.day"), "yyyy-MM-dd").alias("day"),
        F.col("z.series.v").alias("v"),
        F.round(F.col("z.s.l") + 1e-9, 4).alias("level"),
        F.round(F.col("z.s.b") + 1e-9, 4).alias("trend"),
        F.round(F.col("z.s.l") + F.col("z.s.b") + 1e-9, 4).alias("forecast"),
    )


def weekday_seasonal_index(
    events: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
    grid_dp: int = 4,
) -> DataFrame:
    """Day-of-week seasonal index per key: mean(value | key, dow) /
    mean(value | key) — the multiplicative seasonality profile read
    BEFORE trusting ``holt_daily``'s trend (a pure weekly cycle shows
    up as trend noise if not deseasonalized) and the shape behind
    "is Saturday really our slow day?".

    Exact construction: values snap to the 10^grid_dp integer grid,
    per-(key, dow) sums accumulate as decimal(38,0), the per-key
    totals RE-AGGREGATE from the 7-row groups (still exact), and the
    index is the single division (S_dow · n_key) / (S_key · n_dow)
    with both products formed in double from exact integers — one
    identical op sequence per engine. Day-of-week is ISO Monday=1
    (Spark ``dayofweek`` is Sunday=1; both engines' extraction is
    normalized to the same convention in the plan and the oracle).

    Plan shape: one (key, dow) hash agg — ≤ 7·|keys| rows, map-side
    partials — then a broadcast re-join of the per-key totals.
    Output: (key, dow, n, mean_dow, seasonal_index), 6-dp.
    """
    scale = float(10**grid_dp)
    g = F.round(F.col(value_col) * scale).cast("long")
    # ISO dow: Monday=1..Sunday=7 from Spark's Sunday=1..Saturday=7
    iso_dow = ((F.dayofweek(F.to_date(ts_col)) + 5) % 7) + 1
    cells = (
        events.filter(F.col(value_col).isNotNull())
        .select(
            F.col(key_col).alias("key"),
            iso_dow.cast("int").alias("dow"),
            g.alias("v"),
        )
        .groupBy("key", "dow")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.col("v").cast("decimal(38,0)")).alias("s"),
        )
    )
    totals = cells.groupBy("key").agg(
        F.sum("n").cast("long").alias("n_key"),
        F.sum("s").alias("s_key"),
    )
    j = cells.join(F.broadcast(totals), "key")
    s_d, sk_d = F.col("s").cast("double"), F.col("s_key").cast("double")
    n_d, nk_d = F.col("n").cast("double"), F.col("n_key").cast("double")
    idx = F.when(
        F.col("s_key") != 0,
        (s_d * nk_d) / (sk_d * n_d),
    )
    return j.select(
        F.col("key").alias(key_col),
        "dow",
        "n",
        F.round(s_d / n_d / F.lit(scale) + 1e-9, 6).alias("mean_dow"),
        F.round(idx + 1e-9, 6).alias("seasonal_index"),
    )


def cusum_scan(
    df: DataFrame,
    order_by_cols: list[str],
    d_col: str,
    threshold: int,
) -> DataFrame:
    """CUSUM change detection over the ENTIRE stream in total order:
    S_t = max(0, S_{t−1} + d_t), alarms where S_t > threshold — the
    sequential drift detector (Page's test) next to q245's EWMA scan.

    Unlike the EWMA recurrence (which needs contraction-certified
    interval carries), CUSUM distributes EXACTLY by the reflection
    identity  S_t = D_t − min(0, min_{j≤t} D_j)  with D the running
    sum of the integral deviations d_t: both prefix quantities come
    from partition-local windows over ONE ranged exchange, and the
    cross-partition carry folds the P (partition sum, partition
    prefix-min) pairs — ``shards._carry_in``, the two-phase scan every
    global-order operator shares, with the sum and the min sharing the
    exchange (the q225 lesson: two primitives ordering by the same key
    must not pay two exchanges). P is the session's
    ``spark.sql.shuffle.partitions``. Everything is exact long
    arithmetic: ``d_col`` must be integral (pre-scale floats to a
    cents grid), so S is bit-stable under any partitioning — pinned by
    a property test across 1–16 partitions.

    Output: 1 row (n_rows, n_alarms, max_s, final_s), all exact longs.
    """
    from .shards import _carry_in, _ranged

    order_by = [F.asc(c) for c in order_by_cols]
    d = F.col(d_col).cast("long")
    w = (
        Window.partitionBy("_pid")
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = (
        _ranged(df, order_by)
        .withColumn("_ls", F.sum(d).over(w))
        .withColumn("_lm", F.min("_ls").over(w))
    )

    def fold(acc, t):
        # acc = (D before the partition, min of D so far); D_0 = 0:
        # the empty prefix is always a reset point
        run, gmin = acc
        return run + (t[0] or 0), min(gmin, run + (t[1] or 0))

    scored, _ = _carry_in(
        local, [F.sum(d), F.min("_ls")], fold, (0, 0), "_off LONG, _minc LONG"
    )
    scored = scored.withColumn(
        "_s",
        (F.col("_off") + F.col("_ls"))
        - F.least(F.col("_minc"), F.col("_off") + F.col("_lm")),
    )
    last = F.max(
        F.struct(
            *[F.col(c) for c in order_by_cols], F.col("_s").alias("s")
        )
    )
    return scored.agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum(F.when(F.col("_s") > threshold, 1).otherwise(0))
        .cast("long")
        .alias("n_alarms"),
        F.max("_s").cast("long").alias("max_s"),
        last["s"].cast("long").alias("final_s"),
    )


def theil_sen_daily(
    events: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Theil–Sen robust trend per key over the daily-total series — the
    OUTLIER-PROOF line next to ``ols_forecast``'s least squares (one
    corrupted day moves OLS by its magnitude, but moves the MEDIAN of
    pairwise slopes not at all until half the days are bad; breakdown
    point 29%). The estimator a capacity planner trusts on dirty
    telemetry.

    Distributed contract: ONE (key, day) hash agg is the only
    full-data shuffle (daily totals in exact cents); the pairwise
    slope set is a self-join of the CALENDAR-BOUNDED level table
    within each key (d days → d(d−1)/2 pairs, ~66k for a year — the
    corpus never joins itself), and the median comes from a
    key-partitioned window over those bounded pairs, never a global
    sort.

    Engine-exactness: slopes are ONE IEEE division of exact integers
    (cents difference / day difference) — correctly rounded, so two
    mathematically equal slopes are bit-equal doubles in both engines
    and median selection by rank is deterministic; the even-count
    median is the single op sequence (lo + hi)/2. The intercept is
    the median over days of v − slope·t, same discipline.

    Output: (key, n_days, n_pairs, slope_med, intercept_med), 6-dp
    rounded; keys with a single day have no pairs — NULL slope.
    """
    daily = (
        events.filter(F.col(value_col).isNotNull())
        .groupBy(
            F.col(key_col).alias("k"),
            F.to_date(ts_col).alias("day"),
        )
        .agg(
            F.sum(F.round(F.col(value_col) * 100).cast("long"))
            .cast("long")
            .alias("cents")
        )
        .select("k", F.datediff("day", F.lit("1970-01-01")).alias("t"), "cents")
    )
    a, b = daily.alias("a"), daily.alias("b")
    pairs = a.join(
        b,
        (F.col("a.k") == F.col("b.k")) & (F.col("a.t") < F.col("b.t")),
    ).select(
        F.col("a.k").alias("k"),
        (
            (F.col("b.cents") - F.col("a.cents")).cast("double")
            / (F.col("b.t") - F.col("a.t")).cast("double")
            / F.lit(100.0)
        ).alias("slope"),
    )

    def _median(df: DataFrame, part: str, col: str, out: str) -> DataFrame:
        w = Window.partitionBy(part).orderBy(col, F.monotonically_increasing_id())
        # rank over (value, arbitrary tiebreak): tie ORDER is
        # nondeterministic but tie VALUES are equal, so the selected
        # median value is not
        ranked = df.withColumn("_rn", F.row_number().over(w)).withColumn(
            "_cnt", F.count("*").over(Window.partitionBy(part))
        )
        mid = ranked.filter(
            (F.col("_rn") == F.floor((F.col("_cnt") + 1) / 2))
            | (F.col("_rn") == F.floor(F.col("_cnt") / 2) + 1)
        )
        return mid.groupBy(part).agg(
            ((F.min(col) + F.max(col)) / F.lit(2.0)).alias(out)
        )

    slope_med = _median(pairs, "k", "slope", "slope_med")
    n_pairs = pairs.groupBy("k").agg(F.count("*").cast("long").alias("n_pairs"))
    n_days = daily.groupBy("k").agg(F.count("*").cast("long").alias("n_days"))
    resid = daily.join(F.broadcast(slope_med), "k").select(
        "k",
        (
            F.col("cents").cast("double") / F.lit(100.0)
            - F.col("slope_med") * F.col("t").cast("double")
        ).alias("resid"),
    )
    icept = _median(resid, "k", "resid", "intercept_med")
    return (
        n_days.join(n_pairs, "k", "left")
        .join(slope_med, "k", "left")
        .join(icept, "k", "left")
        .select(
            F.col("k").alias(key_col),
            "n_days",
            F.coalesce("n_pairs", F.lit(0)).alias("n_pairs"),
            F.round(F.col("slope_med") + 1e-9, 6).alias("slope_med"),
            F.round(F.col("intercept_med") + 1e-9, 6).alias("intercept_med"),
        )
    )


def time_weighted_avg(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
    value_col: str = "value",
) -> DataFrame:
    """Trapezoidal time-weighted average of each key's value series —
    the IRREGULAR-SAMPLING mean every metering stack needs (a plain
    avg over readings overweights chatty periods; TWA integrates the
    piecewise-linear signal over its span, which is what a consumption
    or utilization number means physically).

    Exact construction: values in cents (long), time in µs (long);
    each trapezoid contributes (c_i + c_{i+1})·Δus — multiplied as
    DECIMAL operands (cents × a day of µs overflows int64) and summed
    as decimal(38,0), order-free. TWA = N / (2·Σ Δus) / 100 — the
    identical three-op double sequence in both engines. Keys with one
    reading have no span: NULL.

    Plan shape: ONE key-partitioned window (lead over the (ts,
    tiebreak) total order) — the same single full-data shuffle every
    per-key operator in this module pays — then a key hash agg on the
    window's partitioning (no second exchange).

    Output: (key, n_events, span_us, twa), 6-dp rounded.
    """
    cents = F.round(F.col(value_col) * 100).cast("long")
    seg = (
        events.filter(F.col(value_col).isNotNull() & F.col(ts_col).isNotNull())
        .select(
            key_col,
            # ntz → timestamp is identity under the session's pinned
            # UTC zone; unix_micros then matches DuckDB's epoch_us
            F.unix_micros(F.col(ts_col).cast("timestamp")).alias("us"),
            F.col(tiebreak_col).alias("tb"),
            cents.alias("c"),
        )
        .select(
            key_col,
            "us",
            "c",
            F.lead("us").over(
                Window.partitionBy(key_col).orderBy("us", "tb")
            ).alias("us2"),
            F.lead("c").over(
                Window.partitionBy(key_col).orderBy("us", "tb")
            ).alias("c2"),
        )
    )
    dus = (F.col("us2") - F.col("us")).cast("decimal(19,0)")
    csum = (F.col("c") + F.col("c2")).cast("decimal(19,0)")
    agg = seg.groupBy(key_col).agg(
        F.count("*").cast("long").alias("n_events"),
        F.sum(
            F.when(F.col("us2").isNotNull(), F.col("us2") - F.col("us"))
        ).cast("long").alias("span_us"),
        F.sum(
            F.when(F.col("us2").isNotNull(), (csum * dus))
            .otherwise(F.lit(0).cast("decimal(38,0)"))
            .cast("decimal(38,0)")
        ).alias("num"),
    )
    twa = F.when(
        F.col("span_us") > 0,
        F.col("num").cast("double")
        / (F.lit(2.0) * F.col("span_us").cast("double"))
        / F.lit(100.0),
    )
    return agg.select(
        key_col,
        "n_events",
        F.coalesce("span_us", F.lit(0)).alias("span_us"),
        F.round(twa + 1e-9, 6).alias("twa"),
    )


def lag_cross_correlation(
    events: DataFrame,
    type_a: str,
    type_b: str,
    max_lag: int = 3,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Lead–lag Pearson correlation between two keys' daily-total
    series at every lag in [−max_lag, +max_lag] — the diagnostic that
    answers "do errors FOLLOW clicks?" (the peak's lag is the lead
    time; at lag 0 this is plain correlation of the two dailies).

    Exact construction: daily totals in cents (one (key, day) hash
    agg, decimal sums); for each lag the two level tables equi-join
    on day+lag (calendar-bounded rows), the five Pearson sufficient
    statistics accumulate as decimal(38,0) with decimal-operand
    products, and r is one double sequence. The lag spine is a
    7-element literal array — the joined table is lag-replicated
    BEFORE one grouped agg, not 7 separate jobs.

    Output: one row per lag WITH AT LEAST ONE OVERLAPPING DAY —
    (lag, n_days, r); a lag whose shifted windows share no days
    yields no row (the inner equi-join on the shifted day has
    nothing to correlate), and r is NULL when either margin is
    constant over the overlap.
    """
    daily = (
        events.filter(F.col(value_col).isNotNull())
        .filter(F.col(key_col).isin(type_a, type_b))
        .groupBy(
            F.col(key_col).alias("k"),
            F.datediff(F.to_date(ts_col), F.lit("1970-01-01")).alias("t"),
        )
        .agg(
            F.sum(F.round(F.col(value_col) * 100).cast("long"))
            .cast("long")
            .alias("c")
        )
    )
    a = daily.filter(F.col("k") == type_a).select(
        F.col("t").alias("ta"), F.col("c").alias("ca")
    )
    b = daily.filter(F.col("k") == type_b).select(
        F.col("t").alias("tb"), F.col("c").alias("cb")
    )
    lags = F.explode(
        F.array(*[F.lit(l) for l in range(-max_lag, max_lag + 1)])
    ).alias("lag")
    ax = a.select("ta", "ca", lags)
    j = ax.join(b, ax.ta + F.col("lag") == b.tb)
    ca_d = F.col("ca").cast("decimal(19,0)")
    cb_d = F.col("cb").cast("decimal(19,0)")

    def s(expr, name):
        return F.sum(expr.cast("decimal(38,0)")).alias(name)

    agg = j.groupBy("lag").agg(
        F.count("*").cast("long").alias("n_days"),
        s(ca_d, "sa"),
        s(cb_d, "sb"),
        s(ca_d * ca_d, "saa"),
        s(cb_d * cb_d, "sbb"),
        s(ca_d * cb_d, "sab"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    n_d = F.col("n_days").cast("double")
    cov = n_d * d("sab") - d("sa") * d("sb")
    va = n_d * d("saa") - d("sa") * d("sa")
    vb = n_d * d("sbb") - d("sb") * d("sb")
    r = F.when((va > 0) & (vb > 0), cov / (F.sqrt(va) * F.sqrt(vb)))
    return agg.select(
        "lag", "n_days", F.round(r + 1e-9, 6).alias("r")
    )


def changepoint_daily(
    events: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Single change-point in the MEAN of each key's daily series —
    the "when did the level shift?" scan (binary segmentation's first
    split): choose the split b minimizing SSE_left + SSE_right of a
    piecewise-constant fit, report the last day of the left segment
    and the variance explained.

    Exactness by construction: daily means snap to integer GRID UNITS
    (bounded by the VALUE RANGE, not the corpus — so every cumulative
    Σv and Σv² below stays an exact int64 AND exactly representable
    in a double at any SF); prefix sums are exact-integer window sums
    over the calendar-bounded daily table (key-partitioned window);
    each candidate's SSE is ONE identical double sequence
    (Q − S²/n via correctly-rounded ops), so the argmin — a struct
    min on (sse, idx) — picks the same split in both engines, with
    ties broken by the earlier day.

    Plan shape: one (key, day) hash agg, one key-partitioned window,
    one broadcastable per-key totals join, one struct-min agg.
    Output: (key, n_days, break_day, sse_total, sse_best, gain) in
    squared value units (grid² / 1e8), 4-dp rounded; keys with a
    single day report NULL break.
    """
    daily = (
        events.filter(F.col(value_col).isNotNull())
        .groupBy(key_col, F.to_date(ts_col).alias("day"))
        .agg(
            F.count(value_col).cast("long").alias("_n"),
            F.sum(F.round(F.col(value_col) * 1e4).cast("long")).alias("_s"),
        )
        .select(
            key_col,
            "day",
            F.round(
                F.col("_s").cast("double") / F.col("_n").cast("double")
                + 1e-9
            )
            .cast("long")
            .alias("v"),
        )
    )
    w = (
        Window.partitionBy(key_col)
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    widx = Window.partitionBy(key_col).orderBy("day")
    cums = daily.select(
        key_col,
        "day",
        F.row_number().over(widx).alias("b"),
        F.sum("v").over(w).alias("cs"),
        F.sum(F.col("v") * F.col("v")).over(w).alias("cq"),
    )
    tot = daily.groupBy(key_col).agg(
        F.count("*").cast("long").alias("n_days"),
        F.sum("v").cast("long").alias("s_tot"),
        F.sum(F.col("v") * F.col("v")).cast("long").alias("q_tot"),
    )
    j = cums.join(F.broadcast(tot), key_col).filter(
        F.col("b") < F.col("n_days")
    )
    bd = F.col("b").cast("double")
    nd = F.col("n_days").cast("double")
    csd, cqd = F.col("cs").cast("double"), F.col("cq").cast("double")
    sd, qd = F.col("s_tot").cast("double"), F.col("q_tot").cast("double")
    sse_b = (
        (cqd - csd * csd / bd)
        + ((qd - cqd) - (sd - csd) * (sd - csd) / (nd - bd))
    )
    best = (
        j.select(
            key_col,
            F.struct(
                sse_b.alias("sse"),
                F.col("b").alias("b"),
                F.col("day").alias("day"),
            ).alias("_c"),
        )
        .groupBy(key_col)
        .agg(F.min("_c").alias("_m"))
    )
    ssetd = F.col("q_tot").cast("double") - F.col("s_tot").cast(
        "double"
    ) * F.col("s_tot").cast("double") / F.col("n_days").cast("double")
    return (
        tot.join(best, key_col, "left")
        .select(
            key_col,
            "n_days",
            F.date_format(F.col("_m.day"), "yyyy-MM-dd").alias("break_day"),
            F.round(ssetd / F.lit(1e8) + 1e-9, 4).alias("sse_total"),
            F.round(F.col("_m.sse") / F.lit(1e8) + 1e-9, 4).alias(
                "sse_best"
            ),
            F.round(
                (ssetd - F.col("_m.sse")) / F.lit(1e8) + 1e-9, 4
            ).alias("gain"),
        )
    )


def burst_detection(
    events: DataFrame,
    window_seconds: int = 60,
    key_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Peak sliding-window event rate per key — the rate-limit /
    bot-detection audit ("did any user fire more than N events in any
    60 s span?"). For each event, the count of the key's events in
    the trailing ``window_seconds``; reported per key as the MAX with
    the second it peaked (earliest such second on ties).

    Plan shape: ONE key-partitioned RANGE window over epoch seconds
    (count over [t−w+1, t] — Spark evaluates the sliding frame with
    two pointers, O(events per key) amortized, never a per-row
    rescan), then a struct-min argmax on (−burst, ts) per key. The
    window is the module's standard single full-data shuffle on the
    key; no self-join of the raw stream.

    Determinism: counts and epoch seconds are exact integers; the
    (−burst, second) struct min makes the reported peak unique —
    rows sharing a second share the same burst count, so no finer
    tiebreak is needed. Output: (key, n_events, max_burst,
    peak_second).
    """
    w = (
        Window.partitionBy(key_col)
        .orderBy("sec")
        .rangeBetween(-(window_seconds - 1), 0)
    )
    pts = events.filter(F.col(ts_col).isNotNull()).select(
        key_col,
        F.unix_micros(F.col(ts_col).cast("timestamp"))
        .cast("long")
        .alias("us"),
    ).select(
        # integer division (Spark `div` == DuckDB `//`): a double
        # divide could round up across the second boundary
        key_col,
        F.expr("us div 1000000").alias("sec"),
    )
    counted = pts.withColumn("burst", F.count("*").over(w))
    return (
        counted.groupBy(key_col)
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.min(
                F.struct(
                    (-F.col("burst")).alias("nb"), F.col("sec").alias("sec")
                )
            ).alias("_m"),
        )
        .select(
            key_col,
            "n_events",
            (-F.col("_m.nb")).cast("long").alias("max_burst"),
            F.col("_m.sec").alias("peak_second"),
        )
    )


def stl_lite_weekly(
    events: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """STL-lite weekly decomposition per key: trend = centered 7-day
    moving average of the daily series, seasonal = per-weekday mean
    of the DETRENDED values — the additive two-pass decomposition a
    forecaster runs before q252's Holt (a raw weekly cycle otherwise
    bleeds into the trend state). q263's seasonal index is
    multiplicative on RAW values; this is the additive profile on
    detrended ones, which is what 'Saturday runs 2.3 units below
    trend' actually means.

    Exactness with NO float summation anywhere: daily means snap to
    integer grid units (value-range bounded); the centered MA over
    [d−3, d+3] is an exact-integer window sum restricted to COMPLETE
    windows; and the detrended quantity is kept as the exact integer
    7·v − S7 (multiply through by 7 instead of dividing S7 — the
    rational trend never becomes a float), so per-(key, weekday)
    sums accumulate exactly and the ONLY division is the terminal
    Σ(7v − S7) / (7·n·10⁴). ISO weekday (Monday=1) matches DuckDB's
    isodow.

    Plan shape: one (key, day) hash agg, one key-partitioned ±3-row
    window, one (key, dow) hash agg. Output: (key, dow, n_days,
    seasonal), 4-dp rounded — n_days counts complete-window days.
    """
    daily = (
        events.filter(F.col(value_col).isNotNull())
        .groupBy(key_col, F.to_date(ts_col).alias("day"))
        .agg(
            F.count(value_col).cast("long").alias("_n"),
            F.sum(F.round(F.col(value_col) * 1e4).cast("long")).alias("_s"),
        )
        .select(
            key_col,
            "day",
            F.round(
                F.col("_s").cast("double") / F.col("_n").cast("double")
                + 1e-9
            )
            .cast("long")
            .alias("v"),
        )
    )
    w = (
        Window.partitionBy(key_col)
        .orderBy("day")
        .rowsBetween(-3, 3)
    )
    trended = daily.select(
        key_col,
        "day",
        "v",
        F.sum("v").over(w).alias("s7"),
        F.count("*").over(w).alias("w7"),
    ).filter(F.col("w7") == 7)
    iso_dow = ((F.dayofweek(F.col("day")) + 5) % 7) + 1
    detr7 = (F.lit(7) * F.col("v") - F.col("s7")).cast("decimal(19,0)")
    return (
        trended.groupBy(
            F.col(key_col), iso_dow.cast("int").alias("dow")
        )
        .agg(
            F.count("*").cast("long").alias("n_days"),
            F.sum(detr7.cast("decimal(38,0)")).alias("_sd"),
        )
        .select(
            key_col,
            "dow",
            "n_days",
            F.round(
                F.col("_sd").cast("double")
                / (F.lit(7.0) * F.col("n_days").cast("double"))
                / F.lit(1e4)
                + 1e-9,
                4,
            ).alias("seasonal"),
        )
    )


def lttb_downsample(
    events: DataFrame,
    n_buckets: int = 32,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Largest-Triangle-Three-Buckets downsampling (parallel variant)
    per key: keep ~``n_buckets`` visually-representative points from
    an arbitrarily long series — the dashboard/report reducer that
    preserves spikes a plain per-bucket mean flattens. The classic
    LTTB chains each bucket's choice to the PREVIOUS selection
    (inherently sequential); this is the standard parallel variant
    anchoring each point's triangle on the NEIGHBOR BUCKETS'
    CENTROIDS, making every bucket's argmax independent.

    Determinism: times are epoch seconds, values cents (exact longs);
    each candidate's doubled triangle area is ONE fixed double
    sequence over the exact integers (t_p·n₁ − T₁)·(V₂·n₁ − V₁·n₂) −
    (v_p·n₁ − V₁)·(T₂·n₁ − T₁·n₂) — correctly-rounded products, so
    both engines rank candidates identically; ties break on the
    earlier point. First/last buckets keep their first/last point
    (the LTTB endpoint rule). Keys with n ≤ ``n_buckets`` points pass
    through UNCHANGED: the bucket stride is then ≥ 1 so every point
    owns a distinct bucket, and downsampling a series that already
    fits the budget must be the identity (sparse buckets have no
    bucket±1 neighbors, so without this rule the interior join would
    drop every mid-point).

    Plan shape: one key-partitioned row_number window (the module's
    standard single shuffle), one (key, bucket) hash agg for the
    centroid stats, a bucket±1 equi-join of those bounded stats back
    onto the points, and a struct-min argmax per (key, bucket).

    Output: (key, bucket, t_sec, v_cents), ≤ n_buckets rows per key.
    """
    if n_buckets < 3:
        raise ValueError(f"n_buckets must be >= 3, got {n_buckets}")
    # (t, v, event_id) is a TOTAL order: two identical (t, v) points
    # straddling a bucket boundary must land deterministically or the
    # bucket centroids themselves become run-dependent
    w = Window.partitionBy(key_col).orderBy("t", "v", "eid")
    pts = (
        events.filter(
            F.col(ts_col).isNotNull() & F.col(value_col).isNotNull()
        )
        .select(
            key_col,
            F.expr(
                f"unix_micros(cast({ts_col} as timestamp)) div 1000000"
            ).alias("t"),
            F.round(F.col(value_col) * 100).cast("long").alias("v"),
            F.col(tiebreak_col).alias("eid"),
        )
        .withColumn("rn", F.row_number().over(w))
        .withColumn(
            "n", F.count("*").over(Window.partitionBy(key_col))
        )
        .withColumn(
            "bucket",
            F.expr(f"((rn - 1) * {int(n_buckets)}) div n").cast("int"),
        )
    )
    stats = pts.groupBy(key_col, "bucket").agg(
        F.count("*").cast("long").alias("bn"),
        F.sum("t").cast("long").alias("bt"),
        F.sum("v").cast("long").alias("bv"),
    )
    prev = stats.select(
        F.col(key_col).alias("_kp"),
        (F.col("bucket") + 1).alias("_bp"),
        F.col("bn").alias("n1"),
        F.col("bt").alias("t1"),
        F.col("bv").alias("v1"),
    )
    nxt = stats.select(
        F.col(key_col).alias("_kn"),
        (F.col("bucket") - 1).alias("_bn_"),
        F.col("bn").alias("n2"),
        F.col("bt").alias("t2"),
        F.col("bv").alias("v2"),
    )
    interior = (
        pts.join(
            prev,
            (pts[key_col] == prev["_kp"]) & (pts["bucket"] == prev["_bp"]),
        )
        .join(
            nxt,
            (pts[key_col] == nxt["_kn"]) & (pts["bucket"] == nxt["_bn_"]),
        )
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    tp, vp = d("t"), d("v")
    area = F.abs(
        (tp * d("n1") - d("t1")) * (d("v2") * d("n1") - d("v1") * d("n2"))
        - (vp * d("n1") - d("v1")) * (d("t2") * d("n1") - d("t1") * d("n2"))
    )
    best_interior = (
        interior.select(
            F.col(key_col).alias("k"),
            "bucket",
            F.struct(
                (-area).alias("na"),
                F.col("rn").alias("rn"),
                F.col("t").alias("t"),
                F.col("v").alias("v"),
            ).alias("_c"),
        )
        .groupBy("k", "bucket")
        .agg(F.min("_c").alias("_m"))
        .select(
            "k", "bucket", F.col("_m.t").alias("t"), F.col("_m.v").alias("v")
        )
    )
    # endpoint rule: first point of the first bucket, last point of the
    # last; these buckets have no prev/next neighbor and are absent
    # from the interior join by construction
    ends = (
        pts.withColumn(
            "_is_first", F.col("rn") == 1
        )
        .withColumn("_is_last", F.col("rn") == F.col("n"))
        .filter(F.col("_is_first") | F.col("_is_last"))
        .select(
            F.col(key_col).alias("k"), "bucket", "t", "v"
        )
        .distinct()
    )
    # identity pass-through for series already within budget: every
    # point owns its own bucket (stride >= 1), and the final (k,
    # bucket) dedup absorbs the overlap with the endpoint rows
    small = pts.filter(F.col("n") <= F.lit(int(n_buckets))).select(
        F.col(key_col).alias("k"), "bucket", "t", "v"
    )
    return (
        best_interior.unionByName(ends)
        .unionByName(small)
        .groupBy("k", "bucket")
        .agg(
            F.min(F.struct(F.col("t"), F.col("v"))).alias("_p")
        )
        .select(
            F.col("k").alias(key_col),
            "bucket",
            F.col("_p.t").alias("t_sec"),
            F.col("_p.v").alias("v_cents"),
        )
    )


def acf_daily(
    events: DataFrame,
    max_lag: int = 7,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Per-key sample autocorrelation of the daily cent-total series
    at lags 1..``max_lag`` — the seasonality probe that answers "does
    today's volume predict next week's?" (a spike at lag 7 is the
    weekly cycle; q263 reads the same signal as per-weekday indices).

    Variant note: this is the PER-LAG Pearson form (each lag's r is
    the correlation of the series with its own lag over the
    OVERLAPPING days, each lag re-centred on its own overlap means —
    the cross-correlogram convention of :func:`lag_cross_correlation`
    applied to self), not the classical single-mean ACF; the two agree
    as overlap → series and the per-lag form is exact under missing
    calendar days.

    Exact construction, the q272 discipline verbatim: daily totals in
    cents (one (key, day) hash agg, exact long sums); ONE lag spine
    replication (a literal 1..max_lag array exploded onto the bounded
    daily table) joined back to the same table on (key, day+lag); the
    five Pearson sufficient statistics accumulate as decimal(38,0)
    with decimal-operand products; r is one double sequence per
    (key, lag). Never a per-key ordered window over raw events — every
    stage is calendar-bounded.

    Output: one row per (key, lag) with ≥ 1 overlapping day —
    (key, lag, n_days, r 6 dp); r is NULL when either margin is
    constant over the overlap.
    """
    if max_lag < 1:
        raise ValueError(f"max_lag must be >= 1, got {max_lag}")
    from .util import daily_cent_totals

    daily = daily_cent_totals(
        events, key_col, ts_col, value_col, day_as_int=True
    )
    lags = F.explode(
        F.array(*[F.lit(l) for l in range(1, max_lag + 1)])
    ).alias("lag")
    ax = daily.select("k", "t", F.col("c").alias("ca"), lags)
    b = daily.select(
        F.col("k").alias("kb"), F.col("t").alias("tb"),
        F.col("c").alias("cb"),
    )
    j = ax.join(
        b, (ax.k == b.kb) & (ax.t + F.col("lag") == b.tb)
    )
    ca_d = F.col("ca").cast("decimal(19,0)")
    cb_d = F.col("cb").cast("decimal(19,0)")

    def s(expr, name):
        return F.sum(expr.cast("decimal(38,0)")).alias(name)

    agg = j.groupBy("k", "lag").agg(
        F.count("*").cast("long").alias("n_days"),
        s(ca_d, "sa"),
        s(cb_d, "sb"),
        s(ca_d * ca_d, "saa"),
        s(cb_d * cb_d, "sbb"),
        s(ca_d * cb_d, "sab"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    n_d = F.col("n_days").cast("double")
    cov = n_d * d("sab") - d("sa") * d("sb")
    va = n_d * d("saa") - d("sa") * d("sa")
    vb = n_d * d("sbb") - d("sb") * d("sb")
    r = F.when((va > 0) & (vb > 0), cov / (F.sqrt(va) * F.sqrt(vb)))
    return agg.select(
        F.col("k").alias(key_col),
        "lag",
        "n_days",
        F.round(r + 1e-9, 6).alias("r"),
    )


def seasonal_naive_mase(
    events: DataFrame,
    season: int = 7,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """MASE of the one-day-naive forecaster against the seasonal-naive
    scale per key — the scale-free forecast-quality number (Hyndman &
    Koehler) read next to q226's MAPE backtest: MASE < 1 says
    "yesterday's value beats last-``season``-day's value", i.e. the
    series carries day-to-day signal beyond its weekly cycle.

    mase = mean|v_t − v_{t−1}| / mean|v_t − v_{t−season}| over the
    days where the respective lag exists; computed as
    (sad1·n_s)/(sad_s·n1) so everything stays an EXACT integer (cent
    absolute-difference sums from the calendar-bounded daily level
    table) until the one terminal division. Both lags come from ONE
    spine-replicated equi-join (the q272/q287 shape: a literal
    {1, season} array exploded onto the daily table, one grouped agg
    — not two jobs).

    Output: one row per key WITH ≥ 1 DAY (keys whose two lag overlaps
    are both empty still appear, with NULL stats) — (key, n1,
    sad1_cents, n_s, sad_s_cents, mase 6 dp); mase is NULL when
    either overlap is empty or the seasonal differences are all zero
    (a perfectly periodic series — the denominator is 0 and the
    statistic is undefined).
    """
    if season < 2:
        raise ValueError(f"season must be >= 2, got {season}")
    from .util import daily_cent_totals

    daily = daily_cent_totals(
        events, key_col, ts_col, value_col, day_as_int=True
    )
    lags = F.explode(
        F.array(F.lit(1), F.lit(int(season)))
    ).alias("lag")
    ax = daily.select("k", "t", F.col("c").alias("ca"), lags)
    b = daily.select(
        F.col("k").alias("kb"), F.col("t").alias("tb"),
        F.col("c").alias("cb"),
    )
    j = ax.join(b, (ax.k == b.kb) & (ax.t + F.col("lag") == b.tb))
    per_lag = j.groupBy("k", "lag").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.abs(F.col("cb") - F.col("ca")))
        .cast("long")
        .alias("sad"),
    )
    one = daily.select("k").distinct().join(
        per_lag.groupBy("k").agg(
            F.max(F.when(F.col("lag") == 1, F.col("n"))).alias("n1"),
            F.max(F.when(F.col("lag") == 1, F.col("sad"))).alias(
                "sad1_cents"
            ),
            F.max(F.when(F.col("lag") == season, F.col("n"))).alias("n_s"),
            F.max(F.when(F.col("lag") == season, F.col("sad"))).alias(
                "sad_s_cents"
            ),
        ),
        "k",
        "left",
    )
    mase = F.when(
        (F.col("n1") > 0) & (F.col("n_s") > 0) & (F.col("sad_s_cents") > 0),
        (
            F.col("sad1_cents").cast("double")
            * F.col("n_s").cast("double")
        )
        / (
            F.col("sad_s_cents").cast("double")
            * F.col("n1").cast("double")
        ),
    )
    return one.select(
        F.col("k").alias(key_col),
        "n1",
        "sad1_cents",
        "n_s",
        "sad_s_cents",
        F.round(mase + 1e-9, 6).alias("mase"),
    )


def page_hinkley_daily(
    events: DataFrame,
    delta_cents: int = 500,
    lambda_cents: int = 10000,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Page–Hinkley mean-shift detector per key on the daily cent
    series — the ONLINE drift alarm beside q266's CUSUM (CUSUM
    deviates from the GLOBAL mean, so it needs the whole window;
    Page–Hinkley deviates from the RUNNING mean, the form a streaming
    monitor can actually run): dev_t = x_t − x̄_t − δ,
    m_T = Σ dev_t, PH_T = m_T − min_{t≤T} m_t, alarm when PH > λ.

    Exactness: x̄_t = S_t/t from exact integer prefix sums; each
    dev_t snaps to the integer cent grid (ONE double sequence per
    row — the only float step), so the running m, its running min,
    and PH are all EXACT integer window arithmetic; the alarm day is
    a deterministic first-crossing. All windows are key-partitioned
    over the calendar-bounded daily table.

    Output: one row per key — (key, n_days, ph_max_cents, alarmed,
    alarm_day); alarm_day NULL when PH never exceeds λ.
    """
    if lambda_cents <= 0:
        raise ValueError(f"lambda_cents must be > 0, got {lambda_cents}")
    from .util import daily_cent_totals

    daily = daily_cent_totals(
        events, key_col, ts_col, value_col,
        out_day="_day", out_val="x",
    )
    w = (
        Window.partitionBy("k")
        .orderBy("_day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    widx = Window.partitionBy("k").orderBy("_day")
    cum = daily.select(
        "k",
        "_day",
        "x",
        F.sum("x").over(w).alias("_s"),
        F.row_number().over(widx).alias("_t"),
    )
    dev = cum.select(
        "k",
        "_day",
        (
            F.round(
                F.col("x").cast("double")
                - F.col("_s").cast("double") / F.col("_t").cast("double")
            ).cast("long")
            - delta_cents
        ).alias("_dev"),
    )
    walk = dev.select(
        "k", "_day", F.sum("_dev").over(w).alias("_m")
    ).select(
        "k",
        "_day",
        (F.col("_m") - F.min("_m").over(w)).alias("_ph"),
    )
    crossings = (
        walk.filter(F.col("_ph") > lambda_cents)
        .groupBy("k")
        .agg(F.min("_day").alias("_aday"))
    )
    tot = walk.groupBy("k").agg(
        F.count("*").cast("long").alias("n_days"),
        F.max("_ph").cast("long").alias("ph_max_cents"),
    )
    return tot.join(F.broadcast(crossings), "k", "left").select(
        F.col("k").alias(key_col),
        "n_days",
        "ph_max_cents",
        F.col("_aday").isNotNull().alias("alarmed"),
        F.date_format(F.col("_aday"), "yyyy-MM-dd").alias("alarm_day"),
    )
