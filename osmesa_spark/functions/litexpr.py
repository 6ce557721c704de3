"""SQL-string builders for literal- and lambda-heavy Column expressions.

Why: building a Column tree through the PySpark DSL costs one py4j
round-trip per operator/literal — measured at ~0.5-0.7 ms each, so a
256-double codebook literal built with nested `F.array(F.lit(...))` costs
~180 ms of serial DRIVER time, constructors that embed trained model
literals (PQ codebooks, LSH planes, centroid lookup tables) reached
13-15k py4j calls ≈ 2-4 s per query CONSTRUCTION, and one DSL cosine
alone was 370 calls (measured with a send_command counter; see
OPTIMIZATION_r10.md). Driver time is serial for the whole cluster, so at
scale this is dead time exactly like oversized query planning
(optimization guide §7.3).

So each such expression is written once, as a builder that renders ONE
Spark-SQL string, and parsed with a single `F.expr` call (~0.6 ms for the
256-double codebook — ~300x cheaper). Double literals round-trip
bit-exactly through repr -> SQL `...D` literals, including denormals and
extremes (property-tested in tests/test_litexpr_twins.py, which also
pins each builder to a pure-Python replay of its definition).

Builders return SQL STRINGS and take SQL strings as inputs, so they
compose (one's output is another's input); terminal call sites wrap with
`F.expr`. Column names interpolated into these strings must be
backtick-quoted via `q` — one part at a time for a qualified name
(`` `a`.`vec` ``; `q("a.vec")` is one identifier containing a dot).
"""

from __future__ import annotations

import math


def dlit(x: float) -> str:
    """Exact SQL double literal for a Python float (repr round-trips the
    IEEE value; Spark's `<decimal>D` literal parses to the same bits —
    property-tested bit-for-bit in tests/test_litexpr_twins.py)."""
    x = float(x)
    if math.isnan(x):
        return "CAST('NaN' AS DOUBLE)"
    if math.isinf(x):
        return f"CAST('{'-' if x < 0 else ''}Infinity' AS DOUBLE)"
    return f"{x!r}D"


def darr(vals) -> str:
    """SQL literal array<double>."""
    return "array(" + ",".join(dlit(v) for v in vals) + ")"


def darr2(vv) -> str:
    """SQL literal array<array<double>>."""
    return "array(" + ",".join(darr(v) for v in vv) + ")"


def larr(vals) -> str:
    """SQL literal array<bigint>."""
    return "array(" + ",".join(f"{int(v)}L" for v in vals) + ")"


def q(name: str) -> str:
    """Backtick-quote a column name for safe interpolation."""
    return "`" + name.replace("`", "``") + "`"
