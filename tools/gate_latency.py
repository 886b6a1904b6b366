#!/usr/bin/env python
"""Simulate the driver's correctness gate and profile where its time goes.

The round-1 driver stopped recording CORRECTNESS rows at q50 while 93
queries were registered — consistent with a per-round time budget. This
tool runs the same work the driver does per query at the oracle scale
(Spark plan → collect, then the DuckDB oracle), prints per-query wall
seconds sorted descending plus the running cumulative, so we can (a)
estimate how many queries fit a given budget and (b) target the slow
tail (streaming micro-batch setup, iterative fixpoints) for sf0.01
latency work.

Usage: python tools/gate_latency.py [sf_dir]   (default sf0.01)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from public_projet_data_engineering_tarification_electrique_spark import get_spark
from public_projet_data_engineering_tarification_electrique_spark.plans import registry
from tests.oracle_utils import oracle_views


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(app_name="gate-latency")
    duck = oracle_views(sf_dir)

    rows: list[tuple[str, float, float]] = []
    for name, fn in registry.QUERIES().items():
        t0 = time.perf_counter()
        fn(spark, sf_dir).collect()
        t_spark = time.perf_counter() - t0
        t0 = time.perf_counter()
        sql = registry.ORACLE_SQL.get(name)
        if sql is not None:
            duck.sql(sql).fetchall()
        t_duck = time.perf_counter() - t0
        rows.append((name, t_spark, t_duck))

    rows_sorted = sorted(rows, key=lambda r: -(r[1] + r[2]))
    total = sum(r[1] + r[2] for r in rows)
    print(f"{'query':<36} {'spark_s':>8} {'duck_s':>8} {'both_s':>8}")
    for name, ts, td in rows_sorted:
        print(f"{name:<36} {ts:8.2f} {td:8.2f} {ts + td:8.2f}")
    print(f"\nTOTAL {total:.1f}s over {len(rows)} queries")
    cum = 0.0
    marks = {60, 120, 180, 300, 600}
    for i, (name, ts, td) in enumerate(rows, 1):
        cum += ts + td
        for m in sorted(marks):
            if cum >= m:
                print(f"  budget {m:>4}s reached at query #{i} ({name})")
                marks.discard(m)
                break
    print(
        json.dumps(
            {
                "total_s": round(total, 1),
                "n": len(rows),
                "slowest": [
                    {"q": n, "s": round(ts + td, 2)}
                    for n, ts, td in rows_sorted[:10]
                ],
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
