"""Decimal-safe numeric helpers.

The reference keeps money in DECIMAL(10,2) (``04_create_silver_tables.sql:166-169``).
The driver's test tables store measures as DOUBLE; summing doubles is
order-dependent across engines, so every money-ish aggregate in this
engine casts to decimal FIRST (exact, associative arithmetic in both
Spark and any ANSI oracle) and pins the output type explicitly.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dec(col: Column | str, precision: int = 12, scale: int = 2) -> Column:
    """Cast to an exact decimal before arithmetic/aggregation."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(f"decimal({precision},{scale})")


def money(col: Column | str) -> Column:
    """Money input at DECIMAL(12,2) — matches reference DECIMAL(10,2)
    intent with headroom for the driver's synthetic prices."""
    return dec(col, 12, 2)


def as_out(col: Column) -> Column:
    """Pin a computed/aggregated numeric output to DOUBLE.

    Internal math stays in exact decimal (deterministic, associative);
    the FINAL value is cast to double.  Rationale: Spark rounds
    HALF_UP when down-casting decimal scale while DuckDB truncates, so
    any scale-reducing decimal output would hash-mismatch the oracle.
    Spark's decimal→double (BigDecimal.doubleValue) is CORRECTLY
    ROUNDED at any magnitude; DuckDB's direct cast is NOT once the
    unscaled value exceeds 2^53 (int128→double then ÷10^scale —
    double-rounding, measured 1-ulp off at the sf1 sweep on a
    scale-6 sum of 2.8e10), so every oracle-side decimal→double cast
    goes through :func:`dec_dbl_sql`'s VARCHAR hop instead."""
    return col.cast("double")


def dec_dbl_sql(expr: str) -> str:
    """Correctly-rounded DECIMAL→DOUBLE for the DuckDB oracles:
    ``CAST(CAST(e AS VARCHAR) AS DOUBLE)``.  DuckDB's direct decimal
    cast converts the int128 unscaled value to double FIRST and then
    divides by 10^scale — two roundings, 1 ulp off Spark's
    BigDecimal.doubleValue once unscaled > 2^53 (first seen on
    pricing_summary's scale-6 sum_charge at sf1: …941590 → …941593).
    The VARCHAR hop goes through strtod, which rounds once and
    correctly, matching Spark and Python at any magnitude; below 2^53
    the two paths agree, so this is a pure strengthening."""
    return f"CAST(CAST({expr} AS VARCHAR) AS DOUBLE)"


def revenue_expr() -> Column:
    """Discounted line revenue: ``price * (1 - discount)`` in exact
    decimal arithmetic (analog of the reference's
    ``total_item_value = price + freight_value`` computed money column,
    ``04_create_silver_tables.sql:280``)."""
    return money("l_extendedprice") * (F.lit(1).cast("decimal(3,2)") - dec("l_discount", 4, 2))
