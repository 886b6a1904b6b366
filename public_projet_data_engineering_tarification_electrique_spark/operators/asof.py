"""As-of (nearest-timestamp) join — a standard time-series operator the
reference lacks (SURVEY.md §2.3 "absent: … as-of"), provided as part of
the extension surface.

Scale design — union + window, not a join: tag both inputs, union them,
and take ``last(right_payload, ignorenulls)`` over a window partitioned
by the join keys and ordered by time. This is ONE shuffle of
|L| + |R| rows with no candidate-pair blow-up; the classic
join-then-rank formulation shuffles the same data AND materializes
every (left, right) pair that passes the range predicate before
pruning to rank 1. Equal timestamps match inclusively (right sorts
before left via the side tag). Skew note: partitioning is by entity
key, identical to what any per-entity time-series operator needs; AQE
skew-split applies.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str,
    right_ts: str,
    right_cols: Sequence[str],
    direction: str = "backward",
    tolerance: int | None = None,
    right_prefix: str = "asof_",
) -> DataFrame:
    """For each left row, attach the nearest right row per key.

    ``direction="backward"`` takes the latest right row with
    ``right_ts <= left_ts``; ``"forward"`` the earliest with
    ``right_ts >= left_ts``. Timestamps are integer-comparable (epoch
    seconds/nanos). ``tolerance`` (same unit) nulls out matches farther
    than the bound. Output: all left columns + ``right_prefix<c>`` for
    each requested right column (null when no match). ``on`` must name
    at least one key: with none, the window would funnel |L| + |R| rows
    into one task (an interval lookup against a level table is a
    ``banded_range_join`` or a ``shards`` scan instead).
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"unknown direction: {direction}")
    on = list(on)
    if not on:
        raise ValueError("asof_join needs at least one key column in `on`")
    payload = F.struct(
        F.col(right_ts).cast("long").alias("_rts"),
        *[F.col(c) for c in right_cols],
    )
    l = left.select(
        F.lit(1).alias("_side"),
        F.col(left_ts).cast("long").alias("_ats"),
        *[F.col(c) for c in left.columns],
    )
    # A NULL-timestamp right row would sort before every real row
    # (asc = nulls first) and its non-null payload struct would become
    # a spurious universal backward match — it can never legitimately
    # be "nearest", so drop it.
    r = right.filter(F.col(right_ts).isNotNull()).select(
        F.lit(0).alias("_side"),
        F.col(right_ts).cast("long").alias("_ats"),
        *[F.col(c) for c in on],
        payload.alias("_asof"),
    )
    u = l.unionByName(r, allowMissingColumns=True)

    ts_order = F.asc("_ats") if direction == "backward" else F.desc("_ats")
    w = (
        Window.partitionBy(*on)
        .orderBy(ts_order, F.asc("_side"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    matched = u.withColumn(
        "_m", F.last("_asof", ignorenulls=True).over(w)
    ).filter(F.col("_side") == 1)
    # a NULL-timestamp LEFT row has no defined "as of" point; whatever
    # the window happened to accumulate before it is not a match
    matched = matched.withColumn(
        "_m", F.when(F.col("_ats").isNotNull(), F.col("_m"))
    )
    if tolerance is not None:
        gap = F.abs(F.col("_ats") - F.col("_m._rts"))
        matched = matched.withColumn(
            "_m", F.when(gap <= tolerance, F.col("_m"))
        )
    return matched.select(
        *[F.col(c) for c in left.columns],
        *[F.col(f"_m.{c}").alias(f"{right_prefix}{c}") for c in right_cols],
    )


def banded_range_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str,
    right_ts: str,
    max_delta: int,
    right_cols: Sequence[str],
    right_prefix: str = "r_",
) -> DataFrame:
    """Range (interval) join: pair rows within ``±max_delta`` time units
    per key — WITHOUT the quadratic per-key blow-up of a naive
    inequality join.

    Banding: bucket both sides by ``ts DIV max_delta``; a pair within
    max_delta differs by at most one bucket, so the left side probes
    only buckets {b-1, b, b+1} (a 3× fan-out) and the join is a plain
    equi-join on (keys, bucket) — shuffle-friendly, AQE-splittable.
    Each qualifying pair matches exactly one probe bucket, so no dedup
    pass is needed. The exact |Δt| ≤ max_delta filter runs after the
    equi-join.
    """
    on = list(on)
    # INTEGER division (`div`), not `/`: double division silently loses
    # precision above 2^53 — epoch-nanosecond timestamps land in
    # adjacent-but-wrong buckets and in-range pairs vanish. `div`
    # truncates toward zero, exact at any magnitude for the nonnegative
    # epoch domain these operators document.
    b_r = F.expr(f"cast(`{right_ts}` as long) div {max_delta}")
    r = right.select(
        *[F.col(c) for c in on],
        b_r.alias("_bkt"),
        F.col(right_ts).cast("long").alias("_rts"),
        *[F.col(c).alias(f"{right_prefix}{c}") for c in right_cols],
    )
    b_l = F.expr(f"cast(`{left_ts}` as long) div {max_delta}")
    l = left.withColumn(
        "_bkt",
        F.explode(F.array(b_l - 1, b_l, b_l + 1)),
    )
    return (
        l.join(r, on=on + ["_bkt"])
        .filter(
            F.abs(F.col(left_ts).cast("long") - F.col("_rts")) <= max_delta
        )
        .drop("_bkt", "_rts")
    )
