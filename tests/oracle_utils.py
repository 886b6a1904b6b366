"""Replica of the driver's correctness gate: run a Spark DataFrame and a
DuckDB oracle SQL side-by-side, compare row count + columns +
order-insensitive values (exact — floats must be bit-stable after the
registry's rounding discipline)."""

from __future__ import annotations

import datetime as dt
import math
import os

import duckdb
import pandas as pd

from public_projet_data_engineering_tarification_electrique_spark.sources.tables import (
    TESTDATA_TABLES,
)


def oracle_views(
    sf_dir: str, tables: tuple[str, ...] = TESTDATA_TABLES
) -> duckdb.DuckDBPyConnection:
    """A fresh DuckDB connection with each of ``tables`` registered as a
    plain view over ``<sf_dir>/<table>.parquet`` — the driver's oracle
    environment."""
    con = duckdb.connect()
    for t in tables:
        path = os.path.join(sf_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].dt.strftime("%Y-%m-%d %H:%M:%S")
        elif df[c].dtype == object:
            first = df[c].dropna().head(1)
            if len(first) and isinstance(first.iloc[0], (dt.date, dt.datetime)):
                df[c] = pd.to_datetime(df[c]).dt.strftime("%Y-%m-%d %H:%M:%S")
            else:
                df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def compare(spark_df, duck_con, sql: str, name: str = "query") -> None:
    left = _normalize(spark_df.toPandas())
    right = _normalize(duck_con.execute(sql).fetchdf())

    assert len(left) == len(right), (
        f"{name}: row count {len(left)} (spark) != {len(right)} (oracle)"
    )
    assert list(left.columns) == list(right.columns), (
        f"{name}: columns {list(left.columns)} != {list(right.columns)}"
    )
    for c in left.columns:
        lcol, rcol = left[c], right[c]
        # Driver-faithful dtype gate (VERDICT r2): the driver's value hash
        # is representation-sensitive — int64 9549 vs float64 9549.0 fail
        # even when equal (DuckDB HUGEINT sums fetch as float64). A kind
        # mismatch between numeric families must FAIL here, never be
        # coerced away, or the local gate diverges from the driver's.
        # Width differences (int32 vs int64, float32 vs float64) and
        # date-object-vs-datetime64 are driver-proven hash-safe
        # (q72/q43/q03 all green in CORRECTNESS_r01/r02).
        lk, rk = lcol.dtype.kind, rcol.dtype.kind
        num_kinds = {"i", "u", "f", "b"}
        if lk in num_kinds and rk in num_kinds:
            # bool is its own family: True==1 would pass a coerced value
            # compare while the driver hash distinguishes bool from int.
            def _fam(k: str) -> str:
                return k if k in ("f", "b") else "i"

            lk_fam = _fam(lk)
            rk_fam = _fam(rk)
            assert lk_fam == rk_fam, (
                f"{name}.{c}: dtype kind mismatch spark={lcol.dtype} "
                f"oracle={rcol.dtype} — the driver hash WILL reject this "
                f"even if values are equal; CAST the oracle aggregate"
            )
        if lcol.dtype.kind == "f" or rcol.dtype.kind == "f":
            lv = lcol.astype("float64").to_numpy()
            rv = rcol.astype("float64").to_numpy()
            mism = [
                (i, a, b)
                for i, (a, b) in enumerate(zip(lv, rv))
                if not (a == b or (math.isnan(a) and math.isnan(b)))
            ]
            assert not mism, (
                f"{name}.{c}: {len(mism)} float mismatches, first: {mism[:3]}"
            )
        else:
            mism = (lcol != rcol) & ~(lcol.isna() & rcol.isna())
            assert not mism.any(), (
                f"{name}.{c}: {int(mism.sum())} mismatches, first:\n"
                f"spark={lcol[mism].head(3).tolist()} oracle={rcol[mism].head(3).tolist()}"
            )
