#!/usr/bin/env python
"""Targeted two-SF parity replay for a subset of queries — the
per-operator inner loop (the full tools/parity_report.py sweep takes
~40 min; this runs the identical driver-equivalent gate on just the
queries touched this session).

Usage: python tools/parity_some.py q252_holt_trend q255_welch_ttest ...
       [--sf /root/testdata/sf0.001 --sf /root/testdata/sf0.01]

Defaults to BOTH sf0.001 and sf0.01 (the round-workflow convention).
Exits non-zero on the first failure.
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))

from oracle_utils import compare, oracle_views
from public_projet_data_engineering_tarification_electrique_spark import get_spark
from public_projet_data_engineering_tarification_electrique_spark.plans import registry


def main() -> None:
    names: list[str] = []
    sf_dirs: list[str] = []
    args = iter(sys.argv[1:])
    for a in args:
        if a == "--sf":
            sf_dirs.append(next(args))
        else:
            names.append(a)
    if not sf_dirs:
        sf_dirs = ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]
    # bare prefixes resolve: "q252" -> "q252_holt_trend"
    qmap = registry.QUERIES()
    resolved = []
    bad: list[str] = []
    for n in names:
        if n in qmap:
            resolved.append(n)
            continue
        hits = [q for q in qmap if q.startswith(n + "_") or q == n]
        if len(hits) != 1:
            # a verification tool must fail LOUDLY when it verified
            # nothing: report every unresolved name, then exit 2
            # (VERDICT r11 item 3 — a typo must never look green)
            print(
                f"ERROR: ambiguous or unknown query {n!r}: {hits}",
                file=sys.stderr,
            )
            bad.append(n)
            continue
        resolved.append(hits[0])
    if bad or not resolved:
        print(
            f"FAIL: {len(bad)} unresolved name(s), nothing verified "
            f"for them — refusing to run",
            file=sys.stderr,
        )
        sys.exit(2)

    spark = get_spark(app_name="parity-some")
    for sf_dir in sf_dirs:
        duck = oracle_views(sf_dir)
        for name in resolved:
            t0 = time.time()
            df = qmap[name](spark, sf_dir)
            sql = registry.ORACLE_SQL.get(name)
            if sql is None:
                n = df.count()
                print(f"  rows-only {name} @ {sf_dir}: {n} rows "
                      f"({time.time() - t0:.1f}s)")
                continue
            compare(df, duck, sql, name=name)
            print(f"  PASS {name} @ {sf_dir} ({time.time() - t0:.1f}s)")
        duck.close()
    print(f"all {len(resolved)} queries pass at {len(sf_dirs)} SFs")


if __name__ == "__main__":
    main()
