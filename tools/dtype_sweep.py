#!/usr/bin/env python
"""Dtype parity sweep: for every (query, oracle) pair in the registry,
run the Spark side via ``.toPandas()`` and the DuckDB oracle via
``.fetchdf()`` at a small SF and diff the resulting pandas dtypes
column by column.

Rationale (VERDICT round 2): the driver's order-insensitive value hash
is *representation-sensitive* — DuckDB renders HUGEINT sums as float64
(``9549.0``) where Spark emits int64 (``9549``), so a value-identical
result still fails the hash. The only robust guard is to require the
fetched dtypes to match exactly on both sides, for all 153 pairs.

Exit code 1 if any KIND mismatch (int vs float vs object ...) exists;
width mismatches (int32 vs int64) are reported too (driver-proven
hash-safe, so informational by default — pass ``--strict`` to make
them fail the sweep as well).

Usage: python tools/dtype_sweep.py [--strict] [sf_dir]
       (default sf_dir: $SPARK_GRAFT_SF_DIR or /root/testdata/sf0.001)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from public_projet_data_engineering_tarification_electrique_spark import get_spark  # noqa: E402
from public_projet_data_engineering_tarification_electrique_spark.plans import registry  # noqa: E402
from tests.oracle_utils import oracle_views  # noqa: E402


def main() -> int:
    argv = [a for a in sys.argv[1:] if a != "--strict"]
    strict = "--strict" in sys.argv[1:]
    sf_dir = (
        argv[0]
        if argv
        else os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    )
    spark = get_spark(app_name="dtype_sweep")
    con = oracle_views(sf_dir)

    oracles = registry.ORACLE_SQL
    kind_bad: list[str] = []
    width_bad: list[str] = []
    skipped: list[str] = []
    errors: list[str] = []
    for name, fn in registry.QUERIES().items():
        sql = oracles.get(name)
        if sql is None:
            continue
        try:
            left = fn(spark, sf_dir).toPandas()
            right = con.execute(sql).fetchdf()
        except Exception as exc:  # noqa: BLE001
            errors.append(f"{name}: {type(exc).__name__}: {exc}")
            print(f"ERROR  {name}: {exc}", flush=True)
            continue
        finally:
            # per-query block hygiene (q97 materialize cache, q146
            # basket persist) — same as bench.py / test_oracle_parity
            spark.catalog.clearCache()
        lcols, rcols = sorted(left.columns), sorted(right.columns)
        if lcols != rcols:
            kind_bad.append(name)
            print(f"COLS   {name}: spark={lcols} oracle={rcols}", flush=True)
            continue
        for c in lcols:
            ld, rd = left[c].dtype, right[c].dtype
            if ld == rd:
                continue
            # Spark DateType fetches as object-of-datetime.date while
            # DuckDB DATE fetches as datetime64 — driver-proven hash-safe
            # (q03/q19/q23/q30/q35/q41/q91 all green in r1/r2).
            if {ld.kind, rd.kind} == {"O", "M"}:
                obj = left[c] if ld.kind == "O" else right[c]
                head = obj.dropna().head(1)
                import datetime as _dt

                if len(head) and isinstance(
                    head.iloc[0], (_dt.date, _dt.datetime)
                ):
                    continue
                if not len(head):
                    # all-null object vs datetime64: no sample to
                    # classify. Inconclusive — tracked, and a FAILURE
                    # under --strict so it can't hide indefinitely.
                    skipped.append(f"{name}.{c}")
                    print(
                        f"SKIP   {name}.{c}: all-null object vs {rd} — "
                        "inconclusive",
                        flush=True,
                    )
                    continue
            if ld.kind != rd.kind:
                kind_bad.append(f"{name}.{c}")
                print(f"KIND   {name}.{c}: spark={ld} oracle={rd}", flush=True)
            else:
                width_bad.append(f"{name}.{c}")
                print(f"WIDTH  {name}.{c}: spark={ld} oracle={rd}", flush=True)

    print(
        f"\nswept {len(oracles)} pairs: "
        f"{len(kind_bad)} kind mismatches, {len(width_bad)} width mismatches, "
        f"{len(skipped)} inconclusive skips, {len(errors)} errors"
    )
    spark.stop()
    return 1 if (
        kind_bad or errors or (strict and (width_bad or skipped))
    ) else 0


if __name__ == "__main__":
    raise SystemExit(main())
