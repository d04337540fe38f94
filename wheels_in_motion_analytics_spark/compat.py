"""Cross-engine determinism helpers.

Floating-point aggregation is order-dependent; Spark and the DuckDB oracle
will not sum doubles in the same order. Both engines, however, sum DECIMALs
exactly, so the engine's numeric aggregates accumulate in decimal and cast the
final value back to double. The oracle SQL mirrors the same shape
(``CAST(SUM(CAST(x AS DECIMAL(18,4))) AS DOUBLE)``), making the value-hash
bit-stable regardless of partitioning, shuffle order, or AQE decisions —
exactly the property needed at 100 TB, where accumulation order is never
reproducible.
"""

from __future__ import annotations

from pyspark.sql import Column
import pyspark.sql.functions as F

# Scale-factor-proof precision: 18 digits holds sums over ~10^13 rows of
# 4-decimal values without overflow at DECIMAL(38,...) intermediate.
DEC = "decimal(18,4)"


def dsum(col: Column | str) -> Column:
    """Order-independent SUM of a double column (exact decimal accumulate)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(DEC)).cast("double")


def davg(col: Column | str) -> Column:
    """Order-independent AVG: exact decimal sum divided by count (IEEE-stable)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(DEC)).cast("double") / F.count(c)


def oracle_dsum(expr: str) -> str:
    """SQL rendition of :func:`dsum` over SQL expression ``expr``: the same
    text in Spark SQL (``star_sql`` tiles) and in the DuckDB oracles."""
    return f"CAST(SUM(CAST({expr} AS DECIMAL(18,4))) AS DOUBLE)"


def oracle_davg(expr: str) -> str:
    """SQL rendition of :func:`davg`, for Spark SQL and DuckDB alike."""
    return f"CAST(SUM(CAST({expr} AS DECIMAL(18,4))) AS DOUBLE) / COUNT({expr})"
