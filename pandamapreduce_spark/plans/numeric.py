"""Numeric canonicalization helpers for oracle-comparable results.

Problem: double-precision aggregation order differs between Spark
(partial aggregation across partitions) and any oracle engine, so
``sum(double)`` is not reproducible bit-for-bit. The engine's contract
for compared results (FIXTURES.md canonicalization rules):

- aggregate through exact DECIMAL(38,6) arithmetic,
- round to a scale small enough that the unscaled value fits in 2^53,
- cast to double last.

Both Spark and DuckDB then perform a correctly-rounded decimal→double
conversion of the SAME exact decimal value, giving bitwise-identical
doubles. Helpers exist in matched pairs: a Spark Column builder and a
SQL-string builder for the oracle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: 18,6 (not 38,6): DuckDB decimal multiplication adds widths, and
#: 18+18=36 ≤ 38 keeps products exact in both engines.
#:
#: Cost note: decimal aggregation measures ~4× slower than double
#: aggregation (≈1 s extra on the sf0.1 lineitem scan). It is kept
#: because reproducibility is a correctness feature of the engine's
#: compared surface — double sums are summation-order-dependent and
#: cannot hash-match an oracle reliably. Pipelines that don't need
#: oracle-exactness can aggregate plain doubles.
DEC = "decimal(18,6)"


def dmul(a: Column | str, b: Column | str) -> Column:
    """Exact decimal product of two double columns (for sum-of-products)."""
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    return ca.cast(DEC) * cb.cast(DEC)


def dmul_sql(a: str, b: str) -> str:
    return f"(cast(({a}) as {DEC}) * cast(({b}) as {DEC}))"


def dsum(col: Column | str, scale: int = 2) -> Column:
    """Exact decimal sum of a double column, rounded, as double."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(F.sum(c.cast(DEC)), scale).cast("double")


def dsum_sql(expr: str, scale: int = 2) -> str:
    return f"cast(round(sum(cast(({expr}) as {DEC})), {scale}) as double)"


def davg(col: Column | str, scale: int = 6) -> Column:
    """Average via exact decimal sum / exact count → identical doubles."""
    c = F.col(col) if isinstance(col, str) else col
    num = F.round(F.sum(c.cast(DEC)), scale).cast("double")
    return num / F.count(c).cast("double")


def davg_sql(expr: str, scale: int = 6) -> str:
    num = f"cast(round(sum(cast(({expr}) as {DEC})), {scale}) as double)"
    return f"({num} / cast(count({expr}) as double))"
