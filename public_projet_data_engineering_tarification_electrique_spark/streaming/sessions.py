"""Stateful streaming sessionization — the custom-stateful-operator
pattern (applyInPandasWithState) the batch ``operators.sessions``
twin cannot express incrementally.

Semantics: per user, events accumulate into an open session; a session
CLOSES when a later event arrives more than ``gap_seconds`` after its
end (emitted immediately) or when the event-time watermark passes
``end + gap`` (emitted via state timeout — this is how the stream
declares "no earlier event can still arrive", so results equal the
batch operator on the closed prefix).

Scale design: state per key is ONE fixed-width row (open-session
aggregate + next session number) — after a timeout the row shrinks to
a numbering tombstone rather than being removed, so session ids stay
globally 1..k per user across incremental runs (the price is one tiny
row per user EVER seen, the same footprint as any per-user aggregate).
Memory is O(users), and the shuffle is the same single user-key
exchange the batch twin pays. Arrow moves each group into pandas in
one batch; WITHIN a group the gap scan is a per-event Python loop
(sessions are inherently sequential per user; vectorizing the
boundary detection via diff/cumsum is the known optimization if hot
keys ever dominate).
"""

from __future__ import annotations

import math
import os
from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..session import configure
from .daily import (
    events_stream,
    stage_landing,
    stage_landing_under_checkpoint,
)
from .runner import _drain_to_batch_log
from ..operators.util import hadoop_fs, scratch_dir

OUTPUT_SCHEMA = (
    "user_id long, session_id long, n_events long, "
    "start_s long, end_s long, sum_value double"
)
#: (next_session_id, open?, start_s, end_s, n_events, sum_v4)
#: sum_v4 is the running session sum on the 1e-4 integer grid (long), so
#: the accumulated total is order-independent and bit-identical to the
#: batch twin's exact-grid sum regardless of micro-batch boundaries.
STATE_SCHEMA = (
    "next_sid long, open boolean, start_s long, end_s long, "
    "n_events long, sum_v4 long"
)


def _grid4(x: float) -> int:
    """value -> 1e-4 integer grid, rounding half away from zero on the
    binary double — matches Spark ``round(x*1e4, 0)`` and DuckDB
    ``round(x*1e4)`` exactly. The comparison uses the EXACT fractional
    part (``a - floor(a)`` is exact for doubles: floor shares the
    exponent for a >= 1, and equals 0 below 1), never ``a + 0.5`` —
    adding 0.5 rounds UP for doubles one ulp below a half boundary
    (e.g. a = 0.49999999999999994 -> a+0.5 == 1.0) where both engines
    correctly round DOWN."""
    g = x * 1e4
    a = abs(g)
    f = math.floor(a)
    r = f + 1 if (a - f) >= 0.5 else f
    return int(r) if g >= 0 else -int(r)


def _make_sessionizer(gap_seconds: int):
    def update(
        key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.exists:
            next_sid, is_open, start_s, end_s, n_events, sum_v4 = state.get
        else:
            next_sid, is_open, start_s, end_s, n_events, sum_v4 = (
                1, False, 0, 0, 0, 0,
            )
        closed: list[tuple[int, int, int, int, int, int]] = []

        if state.hasTimedOut:
            # watermark passed end+gap: the open session can no longer
            # grow — emit it, and keep a NUMBERING TOMBSTONE instead of
            # removing state: dropping it would restart the user's
            # session ids at 1 on their next event (duplicate
            # (user, session_id) keys, divergence from the batch twin's
            # 1..k numbering). No timeout is re-armed on the tombstone.
            # a timeout is only ever armed while a session is OPEN and
            # the tombstone path never re-arms one, so is_open holds
            # here by construction (no defensive else: re-writing the
            # tombstone would just obscure that invariant)
            closed.append(
                (user_id, next_sid, n_events, start_s, end_s, sum_v4)
            )
            state.update((next_sid + 1, False, 0, 0, 0, 0))
        else:
            frames = [p for p in pdfs if len(p)]
            rows = (
                pd.concat(frames, ignore_index=True).sort_values(
                    ["ts_s", "event_id"], kind="mergesort"
                )
                if frames
                else pd.DataFrame(columns=["ts_s", "event_id", "value"])
            )
            for ts_s, value in zip(rows["ts_s"], rows["value"]):
                ts_s = int(ts_s)
                # NULL values arrive as NaN: the batch twin's
                # sum(round(value·1e4)) skips nulls while count(*)
                # still counts the row — mirror that, instead of
                # letting math.floor(nan) kill the worker. (Known
                # edge: an ALL-null session emits 0.0 here vs the
                # batch twin's NULL sum.)
                v = float(value)
                v4 = 0 if math.isnan(v) else _grid4(v)
                if is_open and ts_s - end_s > gap_seconds:
                    closed.append(
                        (user_id, next_sid, n_events, start_s, end_s, sum_v4)
                    )
                    next_sid += 1
                    is_open = False
                if is_open:
                    end_s = max(end_s, ts_s)
                    n_events += 1
                    sum_v4 += v4
                else:
                    is_open = True
                    start_s = end_s = ts_s
                    n_events = 1
                    sum_v4 = v4
            state.update(
                (next_sid, is_open, start_s, end_s, n_events, sum_v4)
            )
            if is_open:
                # timeout is event-time: fires once watermark > end+gap.
                # Clamped one ms past the current watermark: ts_s is
                # second-truncated while the watermark is ms-precision,
                # so for tiny gaps (end+gap)*1000 can land BELOW the
                # watermark and PySpark rejects the timestamp (killing
                # the stream). The clamp fires the timeout on the next
                # micro-batch instead — such a session is already
                # un-growable, so emission timing is all that shifts.
                t_ms = (end_s + gap_seconds) * 1000
                wm_ms = state.getCurrentWatermarkMs()
                state.setTimeoutTimestamp(max(t_ms, wm_ms + 1))

        if closed:
            out = pd.DataFrame(
                closed,
                columns=[
                    "user_id", "session_id", "n_events",
                    "start_s", "end_s", "sum_value",
                ],
            )
            # off the integer grid exactly once, at emission
            out["sum_value"] = out["sum_value"].astype("float64") / 1e4
            yield out

    return update


#: Bucketed state row: per-user state rides PARALLEL ARRAYS inside one
#: row per user-hash bucket — one Python crossing per (bucket, batch)
#: instead of one per user (guide §4.2; the q120 cogroup lesson applied
#: to applyInPandasWithState: at sf0.1 the per-user operator paid
#: ~3000 Arrow crossings per run — 1500 users × data batch + timeout
#: batch — for microseconds of real work each). ``t_ms`` stores each
#: open session's ARMED event-time timeout (the per-user operator's
#: setTimeoutTimestamp value, clamp included), so the bucket sweep
#: applies Spark's own fire predicate (armed < watermark) per user.
BUCKET_STATE_SCHEMA = (
    "users array<long>, next_sid array<long>, open array<boolean>, "
    "start_s array<long>, end_s array<long>, n_events array<long>, "
    "sum_v4 array<long>, t_ms array<long>"
)


def _make_bucket_sessionizer(gap_seconds: int):
    """Bucket-state twin of :func:`_make_sessionizer` — identical
    per-user semantics (the same fold, numbering tombstones, and
    timeout predicate), amortized Python boundary.

    Equivalence vs the per-user operator, piece by piece:

    - **Data path.** Rows sort by (user, ts_s, event_id) and fold per
      user with the VERBATIM per-user loop — emissions and end-state
      per user are identical to the per-user group call.
    - **Timeout sweep.** A bucket's timeout call closes exactly the
      users whose own per-user timer would have fired: armed
      ``t_ms < watermark`` (strict — Spark's fire predicate, and the
      q28 oracle's ``(end+gap)*1000 < wm_ms``). ``t_ms`` is stored per
      user at arm time with the per-user clamp
      ``max((end+gap)*1000, wm+1)`` applied, so the sweep predicate is
      bit-identical to what the per-user operator armed.
    - **Sweep inside the data path.** When the bucket receives data,
      Spark gives it no timeout call even though OTHER users in the
      bucket (without data this batch) may hold expired timers — the
      per-user operator would fire those keys this same batch, so the
      data path sweeps expired users first. For a user with BOTH an
      expired open session and new data the sweep closes what the gap
      rule would close anyway: a surviving (non-late) event has
      ts·1000 ≥ wm > (end+gap)·1000, i.e. lies beyond the gap — an
      event within the gap would be late and dropped by the watermark
      filter before the operator. Either path emits the same session
      with the same id.
    - **Re-arm.** The bucket timer is min over open users' ``t_ms``
      (clamped past the current watermark): it fires no later than the
      earliest per-user timer, and each firing closes exactly the
      expired users — emission CONTENT matches; only the batch id an
      emission lands under can shift, which the cumulative read-back
      erases.
    """

    def update(
        key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            (users, nsids, opens, starts, ends, nevs, sums, tmss) = state.get
            st: dict = {
                (int(u) if u is not None else None): [
                    int(ns), bool(o), int(ss), int(es),
                    int(ne), int(sv), int(tm),
                ]
                for u, ns, o, ss, es, ne, sv, tm in zip(
                    users, nsids, opens, starts, ends, nevs, sums, tmss
                )
            }
        else:
            st = {}
        wm_ms = state.getCurrentWatermarkMs()
        closed: list[tuple] = []

        def _sweep() -> None:
            # Spark's event-time fire predicate, applied per user
            for uu, s in st.items():
                if s[1] and s[6] < wm_ms:
                    closed.append((uu, s[0], s[4], s[2], s[3], s[5]))
                    st[uu] = [s[0] + 1, False, 0, 0, 0, 0, 0]

        _sweep()
        if not state.hasTimedOut:
            frames = [p for p in pdfs if len(p)]
            if frames:
                rows = pd.concat(frames, ignore_index=True).sort_values(
                    ["user_id", "ts_s", "event_id"], kind="mergesort"
                )
                for uu, grp in rows.groupby("user_id", sort=False, dropna=False):
                    uu = int(uu) if pd.notna(uu) else None
                    s = st.get(uu) or [1, False, 0, 0, 0, 0, 0]
                    next_sid, is_open, start_s, end_s, n_events, sum_v4 = s[:6]
                    # the per-user fold, verbatim from _make_sessionizer
                    for ts_s, value in zip(grp["ts_s"], grp["value"]):
                        ts_s = int(ts_s)
                        v = float(value)
                        v4 = 0 if math.isnan(v) else _grid4(v)
                        if is_open and ts_s - end_s > gap_seconds:
                            closed.append(
                                (uu, next_sid, n_events, start_s, end_s, sum_v4)
                            )
                            next_sid += 1
                            is_open = False
                        if is_open:
                            end_s = max(end_s, ts_s)
                            n_events += 1
                            sum_v4 += v4
                        else:
                            is_open = True
                            start_s = end_s = ts_s
                            n_events = 1
                            sum_v4 = v4
                    t_ms = (
                        max((end_s + gap_seconds) * 1000, wm_ms + 1)
                        if is_open
                        else 0
                    )
                    st[uu] = [
                        next_sid, is_open, start_s, end_s,
                        n_events, sum_v4, t_ms,
                    ]

        if st:
            ks = list(st)
            state.update(
                (
                    ks,
                    [st[u][0] for u in ks],
                    [st[u][1] for u in ks],
                    [st[u][2] for u in ks],
                    [st[u][3] for u in ks],
                    [st[u][4] for u in ks],
                    [st[u][5] for u in ks],
                    [st[u][6] for u in ks],
                )
            )
            open_t = [st[u][6] for u in ks if st[u][1]]
            if open_t:
                state.setTimeoutTimestamp(max(min(open_t), wm_ms + 1))

        if closed:
            out = pd.DataFrame(
                closed,
                columns=[
                    "user_id", "session_id", "n_events",
                    "start_s", "end_s", "sum_value",
                ],
            )
            # off the integer grid exactly once, at emission
            out["sum_value"] = out["sum_value"].astype("float64") / 1e4
            yield out

    return update


def stream_sessionize(
    spark: SparkSession,
    events_path: str,
    gap_seconds: int = 1800,
    checkpoint_dir: str | None = None,
    n_buckets: int = 32,
) -> DataFrame:
    """Run gap-sessionization as an availableNow stateful stream over a
    parquet landing path; returns the emitted (closed) sessions.

    With ``availableNow`` the final watermark is the max event time (the
    watermark has zero delay), so sessions still open at end-of-input
    stay in state (they would resume on the next incremental run) —
    callers comparing against the batch twin should compare the closed
    prefix.

    State is keyed by a ``n_buckets``-way hash of the user (see
    :data:`BUCKET_STATE_SCHEMA`): per-user state rides arrays inside
    the bucket row, one Python crossing per (bucket, batch). Size
    ``n_buckets`` so a bucket's users fit one pandas frame comfortably
    (at corpus scale: ≈ users/50k); the value is frozen into the
    checkpoint by the grouping, so a RESUMED checkpoint must keep the
    original (and a pre-bucketing checkpoint cannot be resumed by this
    build — stage a fresh checkpoint to re-run).
    """
    configure(spark)
    checkpoint = checkpoint_dir or scratch_dir("ckpt_sess_")
    # Durable emission sink UNDER the checkpoint: the memory sink
    # cannot recover from a checkpoint ("This query does not support
    # recovering..."), so the advertised incremental resume only works
    # with a restartable sink: the runner's per-batch log, read back
    # cumulatively (ALL sessions emitted so far for this checkpoint —
    # identical to the single-run view for a fresh checkpoint).
    emitted_dir = os.path.join(checkpoint, "emitted")
    # One-time migration of a legacy flat layout: builds before the
    # batch=<bid> scheme appended part files directly under emitted/;
    # resuming such a checkpoint would mix flat files with batch=
    # subdirs and the cumulative read-back would fail with
    # CONFLICTING_DIRECTORY_STRUCTURES. Move legacy top-level files
    # into their own batch=legacy subdir — readable under the
    # partitioned scheme and never touched by per-batch overwrites
    # (real bids are integers). Hadoop FileSystem API so the migration
    # also runs when the checkpoint lives on distributed storage — an
    # os.listdir pass would silently no-op there and the read-back
    # would still break (same rationale as upsert._state_exists).
    fs, emitted_hpath = hadoop_fs(spark, emitted_dir)
    if fs.exists(emitted_hpath):
        legacy = [
            status.getPath()
            for status in fs.listStatus(emitted_hpath)
            if not status.getPath().getName().startswith("batch=")
            and not status.getPath().getName().startswith((".", "_"))
        ]
        if legacy:
            legacy_dir = spark._jvm.org.apache.hadoop.fs.Path(
                emitted_hpath, "batch=legacy"
            )
            fs.mkdirs(legacy_dir)
            for src_path in legacy:
                # Hadoop rename reports failure by RETURNING FALSE, not
                # by throwing — an unchecked failure would leave the
                # mixed layout in place and surface later as
                # CONFLICTING_DIRECTORY_STRUCTURES far from this site
                if not fs.rename(
                    src_path,
                    spark._jvm.org.apache.hadoop.fs.Path(
                        legacy_dir, src_path.getName()
                    ),
                ):
                    raise IOError(
                        f"legacy-layout migration failed: could not move "
                        f"{src_path} into {legacy_dir}"
                    )
    if checkpoint_dir is not None:
        landing = stage_landing_under_checkpoint(events_path, checkpoint)
    else:
        landing = stage_landing(events_path, "landing_sess_")
    src = (
        events_stream(spark, landing)
        # a NULL event time has no position in any session AND is not
        # removed by the watermark's late-filter (null fails the
        # older-than comparison) — inside the sessionizer int(NaN)
        # would raise and the failed batch replays forever (a poison
        # pill for the checkpoint); drop such rows at the source
        .filter(F.col("ts").isNotNull())
        .select(
            "event_id",
            "user_id",
            "value",
            F.expr("unix_micros(ts) DIV 1000000").alias("ts_s"),
            F.col("ts").alias("_et"),
        )
        .withWatermark("_et", "0 seconds")
    )
    # xxhash64 skips NULL inputs and returns its seed (42), so NULL users
    # land in bucket pmod(42, n_buckets) beside real users (the coalesce
    # never fires); the sessionizer's groupby(dropna=False) keeps them
    # apart.
    bucket = F.coalesce(
        F.pmod(F.xxhash64(F.col("user_id")), F.lit(int(n_buckets))),
        F.lit(-1),
    ).cast("long")
    # applyInPandasWithState resolves grouping keys against the child's
    # output — materialize the bucket as a column first
    src = src.withColumn("_bucket", bucket)
    sessions = src.groupBy("_bucket").applyInPandasWithState(
        _make_bucket_sessionizer(gap_seconds),
        OUTPUT_SCHEMA,
        BUCKET_STATE_SCHEMA,
        "append",
        GroupStateTimeout.EventTimeTimeout,
    )
    return _drain_to_batch_log(
        sessions, "append", emitted_dir, OUTPUT_SCHEMA, checkpoint
    )
