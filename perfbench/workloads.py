"""The benchmark's workloads, fixed by name.

Query lists name registry functions directly; they are never derived from
``registry.QUERIES()``, whose order follows the committed correctness
artifacts and shifts between revisions.

- ``price_serving``: the ``/price`` path (``operators.pricing.score_one``),
  closed loop with one client thread per core. Each request is almost all
  fixed driver cost (Py4J, Catalyst planning, job scheduling).
- ``batch_pipeline``: one pass over two kinds of query. Execution-bound:
  the reference's ETL and batch pricing and a warehouse-shaped join, which
  launch no job while their plans are built, and two writes through
  ``sources``/``merge``. Construction-bound: a hand-rolled fixpoint loop
  (BPE merges) and an availableNow stream (``streaming.daily``), which
  launch their own jobs before the final action. The traced run splits
  each query into construction, planning and execution, so a change to
  one layer shows on the queries that exercise it and not on the others.
"""

from __future__ import annotations

#: scale of the generated tables (lineitem rows = 6e6 x SCALE)
SCALE = 0.01

#: requests in one serving pass (one per client on a 4-core host), drawn
#: by seed from the requests table
SERVING_PASS = 4
#: share of serving requests sent with one required field dropped
MISSING_FIELD_SHARE = 0.1

#: streaming queries (their plans read a memory sink, so no plan check)
STREAMING = {"q19_streaming_daily"}

WORKLOADS: dict[str, dict] = {
    "price_serving": {"kind": "serving"},
    "batch_pipeline": {
        "kind": "batch",
        "reads": [
            "q02_groupby_mean",
            "q03_daily_downsample",
            "q07_alpha_lead",
            "q60_tpch_shipping_priority",
            "q221_bpe_train",
            "q19_streaming_daily",
        ],
        "writes": ["q95_csv_roundtrip", "q229_merge_upsert"],
    },
}

#: the warm-up and co-tenant probe pair (scan-bound + window-bound)
PROBE = ("q04_filter_project", "q01_trailing_window_avg")


def queries(workload: str) -> list[str]:
    w = WORKLOADS[workload]
    return list(w.get("reads", [])) + list(w.get("writes", []))
