"""Cleansing column functions (SURVEY.md §2.2 P1–P11).

These reproduce the reference's bronze→silver cleansing expression
vocabulary (T-SQL TRIM / LEFT / UPPER / LOWER / NULLIF / REPLACE /
TRY_CAST / TRY_CONVERT / accent-insensitive collation) as pure Spark
Column expressions — JVM-side, whole-stage-codegen friendly, no Python
UDFs.  All casts are ``try_``-variants so behavior is identical under
ANSI on/off (T-SQL TRY_CAST semantics: garbage → NULL).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Accent fold table for pt-BR city names — the reference relies on
# an accent-insensitive collation (COLLATE SQL_Latin1_General_CP1_CI_AI,
# 05_ETL_load_bronze_to_silver/sp_load_silver_geolocation.sql:32).
# Spark has no collations-based fold, so we translate explicitly.
ACCENTED = "áàâãäéèêëíìîïóòôõöúùûüçñÁÀÂÃÄÉÈÊËÍÌÎÏÓÒÔÕÖÚÙÛÜÇÑ"
FOLDED = "aaaaaeeeeiiiiooooouuuucnAAAAAEEEEIIIIOOOOOUUUUCN"


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def clean_text(col: Column | str) -> Column:
    """P1: TRIM — the universal first touch on every text column
    (e.g. sp_load_silver_customers.sql:35-38)."""
    return F.trim(_c(col))


def prefix(col: Column | str, n: int) -> Column:
    """P2: LEFT(TRIM(col), n) — zip prefixes to 10, states to 2
    (sp_load_silver_customers.sql:37,39)."""
    return F.substring(F.trim(_c(col)), 1, n)


def null_if_empty(col: Column | str) -> Column:
    """P5: NULLIF(TRIM(col),'') — empty review comments → NULL
    (sp_load_silver_order_reviews.sql:27-28)."""
    return F.nullif(F.trim(_c(col)), F.lit(""))


def accent_fold(col: Column | str) -> Column:
    """P4: accent+case-insensitive normalization
    (sp_load_silver_geolocation.sql:32) — lower(trim) + translate."""
    return F.translate(F.lower(F.trim(_c(col))), ACCENTED.lower() + ACCENTED.upper(), FOLDED)


def decimal_comma(col: Column | str) -> Column:
    """P6: TRY_CAST(REPLACE(col, ',', '.') AS DECIMAL) — pt-BR decimal
    commas in numeric CSV columns (sp_load_silver_products.sql:42-45)."""
    return F.replace(_c(col), F.lit(","), F.lit(".")).try_cast("decimal(12,2)")


def try_int(col: Column | str) -> Column:
    """P7: TRY_CAST(col AS INT) (sp_load_silver_order_items.sql:34)."""
    return _c(col).try_cast("int")


def try_ts(col: Column | str) -> Column:
    """P8: TRY_CONVERT(DATETIME2, col) (sp_load_silver_orders.sql:37-41)."""
    return F.try_to_timestamp(_c(col), F.lit("yyyy-MM-dd HH:mm:ss"))


def valid_id(col: Column | str) -> Column:
    """P9 predicate: id IS NOT NULL AND TRIM(id) <> ''
    (sp_load_silver_customers.sql:43)."""
    c = _c(col)
    return c.isNotNull() & (F.trim(c) != "")
