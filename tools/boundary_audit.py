#!/usr/bin/env python
"""Rounding-boundary audit (PLANS.md §2h, operationalized).

For every registered oracle, build an UNROUNDED twin by rewriting each
``round(expr, k)`` call to bare ``expr`` (balanced-paren parsing), run
it in DuckDB, and measure how close each pre-rounding value sits to its
half-way boundary at scale ``k``. Values within EPS of a boundary are
the class where Spark's and DuckDB's float-summation orders (or
rounding rules) can land on opposite sides — the one parity failure
testdata regeneration can reintroduce. The rounded OUTPUT is useless
for this (it sits exactly on the grid by construction); only the
pre-round value carries the signal.

Usage: python tools/boundary_audit.py [sf_dir ...]
Prints one line per at-risk (query, column-ordinal, scale) and a total.
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from public_projet_data_engineering_tarification_electrique_spark.plans import (  # noqa: E402
    registry,
)
from tests.oracle_utils import oracle_views  # noqa: E402

EPS = 1e-7  # boundary distance below which a rounding flip is plausible


def strip_rounds(sql: str) -> tuple[str, list[int]]:
    """Rewrite every ``round(expr, k)`` to ``(expr)``; return the new
    SQL and the k of each rewritten site in source order. ``round(x)``
    (scale 0) is left alone — scale-0 rounding on identical doubles is
    engine-portable (see the exact-grid pattern)."""
    out: list[str] = []
    ks: list[int] = []
    i = 0
    low = sql.lower()
    while True:
        j = low.find("round(", i)
        if j < 0:
            out.append(sql[i:])
            break
        out.append(sql[i:j])
        # find the matching close paren and the top-level comma
        depth = 0
        comma = -1
        for p in range(j + 5, len(sql)):
            c = sql[p]
            if c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
                if depth == 0:
                    close = p
                    break
            elif c == "," and depth == 1:
                comma = p
        else:  # pragma: no cover - malformed SQL
            out.append(sql[j:])
            break
        if comma < 0:
            # round(x) — scale 0, keep verbatim
            out.append(sql[j : close + 1])
        else:
            k_txt = sql[comma + 1 : close].strip()
            try:
                ks.append(int(k_txt))
            except ValueError:
                out.append(sql[j : close + 1])
                i = close + 1
                continue
            out.append("(" + sql[j + 6 : comma] + ")")
        i = close + 1
    return "".join(out), ks


def audit(sf_dir: str) -> list[tuple[str, str, int, float]]:
    con = oracle_views(sf_dir)
    risky: list[tuple[str, str, int, float]] = []
    for name, sql in registry.ORACLE_SQL.items():
        stripped, ks = strip_rounds(sql)
        if not ks:
            continue
        try:
            df = con.execute(stripped).fetchdf()
        except Exception:
            # the unrounded rewrite is best-effort; a query whose
            # rounding is semantically load-bearing (e.g. rounded value
            # feeds a later exact comparison) may not run unrounded
            print(f"{name}: unrounded twin failed to run (skipped)")
            continue
        float_cols = [c for c in df.columns if df[c].dtype.kind == "f"]
        # Pair float columns with the rewritten scales positionally —
        # ONLY valid when the counts line up (every float output rounded
        # exactly once, no CTE-internal rounds). A mismatch means some
        # round sites are internal to CTEs and this twin cannot
        # attribute them; flag the query LOUDLY instead of silently
        # auditing the wrong (col, scale) pairs and reporting SAFE.
        if len(float_cols) != len(ks):
            print(
                f"{name}: UNAUDITABLE here — {len(ks)} round() sites vs "
                f"{len(float_cols)} float output columns (CTE-internal "
                "rounding); needs a manual margin check"
            )
            continue
        for col, k in zip(float_cols, ks):
            vals = df[col].dropna()
            if not len(vals):
                continue
            scaled = vals * (10.0**k)
            d = (scaled - scaled.apply(math.floor) - 0.5).abs()
            near = d[d < EPS]
            if len(near):
                risky.append((name, col, k, float(near.min())))
    return risky


def perturb_rounds(sql: str, sign: int) -> str:
    """Rewrite every ``round(expr[, k])`` to
    ``round((expr)*(1 + sign*1e-12) + sign*1e-13[, k])`` — a relative +
    absolute ε far above cross-engine float divergence (~1e-16
    relative) and far below every deliberate +1e-9 nudge. Nested
    rounds are perturbed at the outermost site only."""
    out: list[str] = []
    i = 0
    low = sql.lower()
    eps = f"*(1 + ({sign})*1e-12) + ({sign})*1e-13"
    while True:
        j = low.find("round(", i)
        if j < 0:
            out.append(sql[i:])
            break
        out.append(sql[i:j])
        depth = 0
        comma = -1
        close = -1
        for p in range(j + 5, len(sql)):
            c = sql[p]
            if c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
                if depth == 0:
                    close = p
                    break
            elif c == "," and depth == 1:
                comma = p
        if close < 0:  # pragma: no cover - malformed SQL
            out.append(sql[j:])
            break
        if comma < 0:
            expr = sql[j + 6 : close]
            out.append(f"round(({expr}){eps})")
        else:
            expr = sql[j + 6 : comma]
            k_txt = sql[comma + 1 : close]
            out.append(f"round(({expr}){eps},{k_txt})")
        i = close + 1
    return "".join(out)


def certificate(sf_dir: str) -> list[tuple[str, str]]:
    """End-to-end boundary certificate covering EVERY round site —
    including the CTE-internal ones the column audit cannot attribute:
    if the oracle's full result is hash-stable under a ±ε perturbation
    of every rounded expression, then no value of any rounded
    expression sits within ~ε of a half-way boundary (except exact
    ties, which flip the −ε twin by construction and are engine-safe —
    identical rationals round identically in both engines).

    Returns (query, flip-direction) advisories: ``+ε`` flips mean some
    value sits just BELOW a boundary (the risky class); ``−ε only``
    flips are an exact tie or a just-above value — cross-check against
    the attributable column audit. Advisory, not a gate."""
    con = oracle_views(sf_dir)

    def canon(sql: str):
        rows = con.execute(sql).fetchall()
        return sorted(tuple(repr(v) for v in row) for row in rows)

    flips: list[tuple[str, str]] = []
    for name, sql in registry.ORACLE_SQL.items():
        if "round(" not in sql.lower():
            continue
        try:
            base = canon(sql)
            plus = canon(perturb_rounds(sql, +1))
            minus = canon(perturb_rounds(sql, -1))
        except Exception as exc:
            flips.append((name, f"certificate twin failed: {exc!r}"[:100]))
            continue
        if plus != base:
            flips.append((name, "+eps flip (value just below a boundary)"))
        elif minus != base:
            flips.append((name, "-eps only (exact tie or just above)"))
    return flips


def classify(dist: float) -> str:
    """Three classes:
    - ``EXACT-TIE`` (dist == 0): the pre-round value IS x.5 — an exact
      small-integer rational (jaccard, token ratios). SAFE: both
      engines compute the identical single-division double and share
      the same half-away tie rule.
    - ``ACTIONABLE`` (0 < dist < 1e-10): within float-summation-order
      divergence — nudge +1e-9 on BOTH sides (PLANS.md §2h).
    - ``SAFE-MARGIN`` (dist ≥ 1e-10): beyond any engine-order ulp
      difference at these magnitudes."""
    if dist == 0.0:
        return "EXACT-TIE (safe)"
    if dist < 1e-10:
        return "ACTIONABLE — nudge both sides"
    return "SAFE-MARGIN"


def main() -> None:
    sf_dirs = sys.argv[1:] or [
        "/root/testdata/sf0.01",
        "/root/testdata/sf0.1",
    ]
    actionable = 0
    for sf_dir in sf_dirs:
        for name, col, k, dist in audit(sf_dir):
            cls = classify(dist)
            if "ACTIONABLE" in cls:
                actionable += 1
            print(
                f"{sf_dir}: {name}.{col} pre-round @ {k}dp "
                f"dist {dist:.2e}  [{cls}]"
            )
    for sf_dir in sf_dirs:
        for name, note in certificate(sf_dir):
            print(f"{sf_dir}: {name} [certificate: {note}]")
    print(f"ACTIONABLE SITES: {actionable}")
    sys.exit(1 if actionable else 0)


if __name__ == "__main__":
    main()
