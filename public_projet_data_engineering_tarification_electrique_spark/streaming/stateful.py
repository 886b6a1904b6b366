"""Arbitrary-stateful streaming: a running per-key aggregate through
`applyInPandasWithState`.

The operator is the canonical running per-key aggregate (events per
user + exact-grid value total): state is one (n, sum) pair per user,
each micro-batch folds its Arrow batches into it, and the post-batch
totals of the users seen in a batch are emitted every batch (monotone
accumulators, so the LAST row per user is the answer and a max()
collapse of the emitted log is deterministic regardless of batch
slicing).

Spark 4's `transformWithStateInPandas` would express the same state as
a ValueState per user, but its Python worker needs `google.protobuf`
at start, so it is not bound here: one tested binding, not two.

Scale: state is O(users) fixed-width rows in the state store; each
batch costs one user-key exchange, identical to the batch groupBy's
shuffle, amortized over the stream's life.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.util import scratch_dir
from .daily import events_stream, stage_landing
from .runner import _drain_to_batch_log, _user_bucket

OUTPUT_SCHEMA = "user_id long, n_events long, value_e2 long"


def _source(spark: SparkSession, events_path: str) -> DataFrame:
    """user_id + value on the 1e-2 integer grid; NULL-ts rows carry no
    event time but DO count for totals (no watermark here — running
    totals are time-agnostic), NULL users are dropped (no key)."""
    landing = stage_landing(events_path, "landing_tws_")
    return (
        events_stream(spark, landing)
        .filter(F.col("user_id").isNotNull())
        .select(
            "user_id",
            F.coalesce(
                F.round(F.col("value") * 100, 0).cast("long"), F.lit(0)
            ).alias("v_e2"),
        )
    )


def _apws_totals(src: DataFrame) -> DataFrame:
    """Running totals through applyInPandasWithState, keyed by a
    user-hash BUCKET with per-user state in parallel arrays: one Python
    crossing per (bucket, batch) instead of per user (the per-user form
    paid ~1500 crossings per batch at sf0.1 for a two-long add each).
    Emits the post-batch totals for exactly the users present in the
    batch — the same rows, batch by batch, as a per-user binding, so the
    max-struct collapse downstream is unchanged."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    bucket_state = "users array<long>, n array<long>, s array<long>"

    def fold(
        key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            users, ns, ss = state.get
            st = {
                int(u): [int(a), int(b)] for u, a, b in zip(users, ns, ss)
            }
        else:
            st = {}
        touched: dict[int, list[int]] = {}
        for pdf in pdfs:
            if not len(pdf):
                continue
            g = pdf.groupby("user_id", sort=False)["v_e2"].agg(
                ["count", "sum"]
            )
            for uu, row in g.iterrows():
                uu = int(uu)
                cur = st.setdefault(uu, [0, 0])
                cur[0] += int(row["count"])
                cur[1] += int(row["sum"])
                touched[uu] = cur
        ks = list(st)
        state.update(
            (ks, [st[u][0] for u in ks], [st[u][1] for u in ks])
        )
        if touched:
            yield pd.DataFrame(
                {
                    "user_id": list(touched),
                    "n_events": [v[0] for v in touched.values()],
                    "value_e2": [v[1] for v in touched.values()],
                }
            )

    keyed = src.withColumn("_bucket", _user_bucket())
    return keyed.groupBy("_bucket").applyInPandasWithState(
        fold,
        OUTPUT_SCHEMA,
        bucket_state,
        "update",
        GroupStateTimeout.NoTimeout,
    )


def running_user_totals(spark: SparkSession, events_path: str) -> DataFrame:
    """Run the running-totals stream to completion (availableNow) and
    return the final per-user totals.

    Emitted rows land in the runner's per-batch log. The final value
    per user is the row with the max n_events over that log (a
    max(struct) argmax — n_events is monotone even when value totals
    are not, so the collapse is exact whatever the micro-batch slicing
    was).
    """
    log = _drain_to_batch_log(
        _apws_totals(_source(spark, events_path)),
        "update",
        scratch_dir("tws_emitted_"),
        OUTPUT_SCHEMA,
    )
    # Collapse the update-mode log to each user's LATEST emitted row —
    # the row with the max n_events — via one max(struct) argmax.
    # Independent max() per column would be wrong for value_e2 as soon
    # as a negative event value makes the running total non-monotone
    # across micro-batches (n_events always grows; value_e2 need not).
    latest = log.groupBy("user_id").agg(
        F.max(F.struct("n_events", "value_e2")).alias("_m")
    )
    return latest.select(
        "user_id",
        F.col("_m.n_events").alias("n_events"),
        F.col("_m.value_e2").alias("value_e2"),
    )
