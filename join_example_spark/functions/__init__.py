"""Shared scalar/aggregate expression fragments.

These produce *SQL text* that is valid and semantically identical in both
Spark SQL and DuckDB, so the engine side (via ``F.expr``/``selectExpr``) and
the oracle side are guaranteed to evaluate the same expression tree. This is
the backbone of the determinism strategy: floating-point aggregation becomes
exact decimal arithmetic (order-independent), then one final cast to DOUBLE.
"""

from __future__ import annotations


def sum_dec(expr: str, alias: str, scale: int = 6) -> str:
    """Exact, order-independent SUM of a double expression → DOUBLE.

    ``CAST(x AS DECIMAL(25, scale))`` rounds each input once (deterministic
    per value on both engines), decimal addition is exact, and the final
    decimal→double cast is the IEEE-nearest of the same exact value on both
    sides — bit-identical regardless of partitioning or summation order.
    25-digit precision leaves 10^21/10^-4 headroom: a 10^12-row sum of
    10^5-magnitude values still doesn't overflow.
    """
    return f"CAST(SUM(CAST(({expr}) AS DECIMAL(25,{scale}))) AS DOUBLE) AS {alias}"


def big(expr: str, alias: str) -> str:
    """Cast an integral computed output to BIGINT (width-normalizing)."""
    return f"CAST(({expr}) AS BIGINT) AS {alias}"
