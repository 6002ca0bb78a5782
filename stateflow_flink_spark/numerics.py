"""Order-independent, cross-engine-exact numeric aggregation helpers.

Floating-point SUM/AVG are not associative: Spark's partial+final hash
aggregate and DuckDB's aggregate visit rows in different orders, so a
naive ``SUM(double)`` differs between engines in the last ULPs — enough
to break the driver's value-hash compare and (worse) to flip top-k
orderings near ties.

Naive fixes fail subtly:

  * ``SUM(CAST(x AS DECIMAL))`` — Spark casts double→decimal through the
    double's shortest string representation (HALF_UP), DuckDB rounds the
    binary value; products with long decimal expansions disagree at the
    cast.
  * casting the final DECIMAL back to DOUBLE — Java's BigDecimal→double
    is correctly rounded, DuckDB's int128-scaled conversion can be 1 ULP
    off.

What IS bit-identical across engines:

  1. per-row IEEE double arithmetic (``x*1e6``),
  2. double→integer rounding when the true value is an integer and the
     double is within 1 ULP of it (no ties possible),
  3. exact integer summation in DECIMAL(38,0),
  4. integer→double conversion below 2^63 (single correct rounding),
  5. one IEEE division by an exactly-representable power of ten.

So: scale each value to an integer (every expression this engine
aggregates is exactly representable at ≤6 dp — prices/quantities are
2 dp, three-factor products ≤6 dp), sum integers exactly, convert once,
divide once.  Result: bit-identical doubles at any parallelism, in both
engines.

Cost at 100 TB: one multiply + decimal widening per row inside the hash
aggregate — still whole-stage-codegen JVM arithmetic, no Python — and
it buys run-to-run determinism a production pipeline wants anyway.

Each Spark helper has a twin emitting the equivalent DuckDB SQL text so
query and oracle stay structurally in lockstep.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import Column
from pyspark.sql import functions as F

# 10^6 scaling: lossless for ≤6-dp expressions; SUM stays exact in
# DECIMAL(38,0) far past 100 TB row counts (int128 headroom), and stays
# under 2^63 (exact integer→double) up to ~9.2e18/1e6 ≈ 9.2e12 in total
# value at the test SFs.
_SCALE = 1_000_000
_SCALE_LIT = "1000000"


def _col(c: Column | str) -> Column:
    return c if isinstance(c, Column) else F.col(c)


def exact_sum(c: Column | str) -> Column:
    """Order-independent SUM over a double column/expression → double."""
    scaled = (_col(c) * _SCALE).cast("decimal(38,0)")
    return (F.sum(scaled).cast("double") / _SCALE).alias("exact_sum")


def exact_avg(c: Column | str) -> Column:
    """Order-independent AVG: exact scaled sum / count, double division."""
    col = _col(c)
    return exact_sum(col) / F.count(col)


def sql_sum(expr: str) -> str:
    """DuckDB twin of :func:`exact_sum`."""
    return (
        f"(CAST(SUM(CAST(({expr}) * {_SCALE_LIT} AS DECIMAL(38,0))) AS DOUBLE)"
        f" / {_SCALE_LIT})"
    )


def sql_avg(expr: str) -> str:
    """DuckDB twin of :func:`exact_avg`."""
    return f"({sql_sum(expr)} / COUNT({expr}))"


def exact_wsum(c: Column | str, window) -> Column:
    """Windowed variant of :func:`exact_sum` (same determinism contract)."""
    scaled = (_col(c) * _SCALE).cast("decimal(38,0)")
    return F.sum(scaled).over(window).cast("double") / _SCALE


def sql_wsum(expr: str, over: str) -> str:
    """DuckDB twin of :func:`exact_wsum`; ``over`` is the OVER clause text."""
    return (
        f"(CAST(SUM(CAST(({expr}) * {_SCALE_LIT} AS DECIMAL(38,0))) {over} AS DOUBLE)"
        f" / {_SCALE_LIT})"
    )


def half_up(x: float) -> int:
    """Spark's double -> DECIMAL(38,0) cast, in Python: BigDecimal rounds
    HALF_UP on the double's shortest decimal repr, which ``repr`` gives,
    so Python folds that scale values this way match the cast bit for
    bit."""
    return int(Decimal(repr(x)).to_integral_value(rounding=ROUND_HALF_UP))
