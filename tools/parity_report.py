#!/usr/bin/env python
"""Run the driver's exact correctness gate over EVERY registered query
and write PARITY_LOCAL.md — a committed, human-readable record of the
full value-level parity sweep.

Round-1's driver CORRECTNESS file stopped at q50 while 93 queries were
registered, leaving 46% of the surface without a recorded verdict.
This report is the belt to that suspenders: same compare as the driver
(row count + column set + order-insensitive value hash vs DuckDB at
the oracle SF, via tests/oracle_utils.compare), run locally over the
whole registry, with the git commit and timestamp it was produced at.

Usage: python tools/parity_report.py [sf_dir]
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from public_projet_data_engineering_tarification_electrique_spark import get_spark
from public_projet_data_engineering_tarification_electrique_spark.plans import registry


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    sys.path.insert(0, os.path.join(REPO, "tests"))
    from oracle_utils import compare, oracle_views  # driver-equivalent gate

    spark = get_spark(app_name="parity-report")
    duck = oracle_views(sf_dir)

    commit = subprocess.run(
        ["git", "-C", REPO, "rev-parse", "--short", "HEAD"],
        capture_output=True,
        text=True,
    ).stdout.strip()
    stamp = time.strftime("%Y-%m-%d %H:%M:%S UTC", time.gmtime())

    results: list[tuple[str, str, str]] = []
    n_pass = 0
    for name, fn in registry.QUERIES().items():
        sql = registry.ORACLE_SQL.get(name)
        try:
            if sql is None:
                n = fn(spark, sf_dir).count()
                results.append((name, "rows-only", f"{n} rows"))
            else:
                compare(fn(spark, sf_dir), duck, sql, name=name)
                results.append((name, "PASS", "rows+schema+value-hash"))
                n_pass += 1
        except Exception as exc:  # record, keep sweeping
            msg = str(exc).splitlines()[0][:120] if str(exc) else repr(exc)
            results.append((name, "FAIL", msg.replace("|", "\\|")))

    # NULL-convention coverage (VERDICT r9 item 3): the driver testdata
    # has zero NULL-text rows, so the main sweep never exercises the
    # fingerprint family's NULL semantics — replay those queries, with
    # their REGISTERED oracles, over a NULL-bearing derived fixture.
    sys.path.insert(0, os.path.join(REPO, "tools"))
    from nulls_fixture import FAMILY, build_nulls_fixture

    from public_projet_data_engineering_tarification_electrique_spark.operators.util import (
        scratch_dir,
    )

    fx = build_nulls_fixture(scratch_dir("sfnulls_"))
    duck_fx = oracle_views(fx, ("documents", "events"))
    qmap = registry.QUERIES()
    for name in FAMILY:
        try:
            compare(
                qmap[name](spark, fx),
                duck_fx,
                registry.ORACLE_SQL[name],
                name=f"nulls:{name}",
            )
            results.append((f"nulls:{name}", "PASS", "NULL-fixture parity"))
            n_pass += 1
        except Exception as exc:
            msg = str(exc).splitlines()[0][:120] if str(exc) else repr(exc)
            results.append((f"nulls:{name}", "FAIL", msg.replace("|", "\\|")))

    out = os.path.join(REPO, "PARITY_LOCAL.md")
    with open(out, "w") as f:
        f.write(
            "# PARITY_LOCAL — full local value-parity sweep\n\n"
            f"Produced at commit `{commit}` on {stamp}, sf_dir `{sf_dir}`.\n\n"
            "Same gate the driver runs (tests/oracle_utils.compare: row "
            "count + column set + order-insensitive value hash vs DuckDB), "
            "applied to EVERY registered query — the committed record for "
            "any query a truncated driver correctness file misses.\n\n"
            f"**{n_pass}/{len(results)} PASS** "
            f"({sum(1 for r in results if r[1] == 'rows-only')} rows-only, "
            f"{sum(1 for r in results if r[1] == 'FAIL')} FAIL).\n\n"
            "| query | verdict | detail |\n|---|---|---|\n"
        )
        for name, verdict, detail in results:
            f.write(f"| {name} | {verdict} | {detail} |\n")
    print(f"wrote {out}: {n_pass}/{len(results)} PASS")
    spark.stop()


if __name__ == "__main__":
    main()
