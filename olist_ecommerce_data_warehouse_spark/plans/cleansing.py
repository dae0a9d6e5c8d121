"""Cleansing & scalar-transform plans (SURVEY.md §2.2 P1–P11, §2.7).

The driver's tables are clean, so each plan first CORRUPTS a column
deterministically in-query (whitespace padding, case flips, decimal
commas, garbage tokens, empty strings — the exact dirty-data phenomena
FIXTURES.md lists for the Olist CSVs), then applies the engine's
cleansing operator.  The oracle applies the identical corruption +
cleanse in ANSI SQL, so the comparison exercises the operator, not the
corruption.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from olist_ecommerce_data_warehouse_spark.catalog import table
from olist_ecommerce_data_warehouse_spark.functions.cleansing import (
    accent_fold,
    clean_text,
    decimal_comma,
    null_if_empty,
    prefix,
    try_ts,
    valid_id,
)
from olist_ecommerce_data_warehouse_spark.functions.numeric import as_out, dec_dbl_sql, money
from olist_ecommerce_data_warehouse_spark.plans.registry import query


@query(
    "cleanse_trim_case_prefix",
    oracle="""
    WITH corrupted AS (
        SELECT c_custkey, '  ' || upper(c_name) || '   ' AS raw_name,
               lower(c_mktsegment) || ' ' AS raw_segment,
               CASE WHEN c_custkey % 7 = 0 THEN '   '
                    WHEN c_custkey % 11 = 0 THEN NULL
                    ELSE c_mktsegment END AS raw_comment
        FROM customer
    )
    SELECT c_custkey,
           lower(trim(raw_name)) AS name_clean,
           substr(trim(raw_name), 1, 8) AS name_prefix,
           upper(trim(raw_segment)) AS segment_clean,
           NULLIF(TRIM(raw_comment), '') AS comment_clean,
           CASE WHEN NULLIF(TRIM(raw_comment), '') IS NULL THEN 1 ELSE 0 END AS is_missing
    FROM corrupted
    """,
)
def cleanse_trim_case_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-cleansing panel over one projection: P1 trim + P2
    prefix-truncate + P3 case normalization
    (sp_load_silver_customers.sql:35-39: TRIM / LEFT / UPPER / LOWER)
    + P5 empty→NULL — NULLIF(TRIM(col),'') turning blank-only review
    comments into NULL (sp_load_silver_order_reviews.sql:27-28).
    All pure narrow expressions: one scan, no shuffle."""
    c = table(spark, sf_dir, "customer")
    corrupted = c.select(
        "c_custkey",
        F.concat(F.lit("  "), F.upper("c_name"), F.lit("   ")).alias("raw_name"),
        F.concat(F.lower("c_mktsegment"), F.lit(" ")).alias("raw_segment"),
        F.when(F.col("c_custkey") % 7 == 0, F.lit("   "))
        .when(F.col("c_custkey") % 11 == 0, F.lit(None).cast("string"))
        .otherwise(F.col("c_mktsegment"))
        .alias("raw_comment"),
    )
    cleaned_comment = null_if_empty("raw_comment")
    return corrupted.select(
        "c_custkey",
        F.lower(clean_text("raw_name")).alias("name_clean"),
        prefix("raw_name", 8).alias("name_prefix"),
        F.upper(clean_text("raw_segment")).alias("segment_clean"),
        cleaned_comment.alias("comment_clean"),
        F.when(cleaned_comment.isNull(), 1).otherwise(0).alias("is_missing"),
    )


@query(
    "cleanse_decimal_comma",
    oracle=f"""
    WITH corrupted AS (
        SELECT l_orderkey, l_linenumber,
               CASE WHEN l_suppkey % 13 = 0 THEN 'N/A'
                    ELSE CAST(CAST(l_quantity AS INT) AS VARCHAR) || ',' ||
                         CAST(l_linenumber AS VARCHAR) END AS raw_amount,
               l_extendedprice, l_tax, l_quantity, l_discount, l_returnflag
        FROM lineitem
    )
    SELECT l_orderkey, l_linenumber,
           {dec_dbl_sql("TRY_CAST(replace(raw_amount, ',', '.') AS DECIMAL(12,2))")} AS amount,
           CASE WHEN TRY_CAST(replace(raw_amount, ',', '.') AS DECIMAL(12,2)) IS NULL
                THEN 1 ELSE 0 END AS is_bad,
           {dec_dbl_sql("CAST(l_extendedprice AS DECIMAL(12,2)) + CAST(l_tax AS DECIMAL(12,2))")} AS total_value,
           {dec_dbl_sql("CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))")} AS volume_value,
           CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END AS is_discounted,
           CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS is_returned
    FROM corrupted
    """,
)
def cleanse_decimal_comma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level lineitem cleanse + derive panel: P6/P7 decimal-comma
    repair + safe numeric cast — TRY_CAST(REPLACE(col,',','.') AS
    DECIMAL) with garbage → NULL (sp_load_silver_products.sql:42-45) —
    plus F18 CASE-WHEN flags and F19 computed arithmetic columns
    (price+freight total, l*h*w volume analogs, is_delivered-style 0/1
    flags, 04_create_silver_tables.sql:172,240-242,280).  One scan,
    all narrow codegen'd expressions, no shuffle."""
    li = table(spark, sf_dir, "lineitem")
    corrupted = li.select(
        "l_orderkey",
        "l_linenumber",
        F.when(F.col("l_suppkey") % 13 == 0, F.lit("N/A"))
        .otherwise(
            F.concat(
                F.col("l_quantity").cast("int").cast("string"),
                F.lit(","),
                F.col("l_linenumber").cast("string"),
            )
        )
        .alias("raw_amount"),
        "l_extendedprice",
        "l_tax",
        "l_quantity",
        "l_discount",
        "l_returnflag",
    )
    amt = decimal_comma("raw_amount")
    return corrupted.select(
        "l_orderkey",
        "l_linenumber",
        as_out(amt).alias("amount"),
        F.when(amt.isNull(), 1).otherwise(0).alias("is_bad"),
        as_out(money("l_extendedprice") + money("l_tax")).alias("total_value"),
        as_out(money("l_quantity") * money("l_extendedprice")).alias("volume_value"),
        F.when(F.col("l_discount") > 0.05, 1).otherwise(0).alias("is_discounted"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("is_returned"),
    )


@query(
    "cleanse_try_timestamp",
    oracle="""
    WITH corrupted AS (
        SELECT event_id,
               CASE WHEN event_id % 17 = 0 THEN 'not-a-date'
                    ELSE strftime(ts, '%Y-%m-%d %H:%M:%S') END AS raw_ts
        FROM events
    )
    SELECT event_id,
           try_strptime(raw_ts, '%Y-%m-%d %H:%M:%S') AS parsed_ts,
           CASE WHEN try_strptime(raw_ts, '%Y-%m-%d %H:%M:%S') IS NULL
                THEN 1 ELSE 0 END AS parse_failed
    FROM corrupted
    """,
)
def cleanse_try_timestamp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8: safe timestamp parse — TRY_CONVERT(DATETIME2, col), source
    format 'yyyy-MM-dd HH:mm:ss', garbage → NULL
    (sp_load_silver_orders.sql:37-41)."""
    ev = table(spark, sf_dir, "events")
    corrupted = ev.select(
        "event_id",
        F.when(F.col("event_id") % 17 == 0, F.lit("not-a-date"))
        .otherwise(F.date_format("ts", "yyyy-MM-dd HH:mm:ss"))
        .alias("raw_ts"),
    )
    parsed = try_ts("raw_ts")
    return corrupted.select(
        "event_id",
        parsed.alias("parsed_ts"),
        F.when(parsed.isNull(), 1).otherwise(0).alias("parse_failed"),
    )


@query(
    "cleanse_validity_filter",
    oracle="""
    WITH corrupted AS (
        SELECT CASE WHEN s_suppkey % 9 = 0 THEN '  '
                    WHEN s_suppkey % 10 = 0 THEN NULL
                    ELSE s_name END AS raw_id,
               s_suppkey, s_nationkey
        FROM supplier
    )
    SELECT raw_id AS supplier_name, s_suppkey, s_nationkey
    FROM corrupted
    WHERE raw_id IS NOT NULL AND TRIM(raw_id) <> '' AND s_suppkey % 4 BETWEEN 1 AND 2
    """,
)
def cleanse_validity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9 row-validity filter (id non-null & non-blank,
    sp_load_silver_customers.sql:43) + P10 BETWEEN range predicate
    (review_score BETWEEN 1 AND 5, sp_load_silver_order_reviews.sql:42)."""
    s = table(spark, sf_dir, "supplier")
    corrupted = s.select(
        F.when(F.col("s_suppkey") % 9 == 0, F.lit("  "))
        .when(F.col("s_suppkey") % 10 == 0, F.lit(None).cast("string"))
        .otherwise(F.col("s_name"))
        .alias("raw_id"),
        "s_suppkey",
        "s_nationkey",
    )
    return corrupted.filter(valid_id("raw_id") & (F.col("s_suppkey") % 4).between(1, 2)).select(
        F.col("raw_id").alias("supplier_name"), "s_suppkey", "s_nationkey"
    )


@query(
    "cleanse_accent_fold_dedup",
    oracle="""
    WITH raw_geo AS (
        SELECT c_custkey,
               CASE c_custkey % 6
                    WHEN 0 THEN 'São Paulo'  WHEN 1 THEN 'SÃO PAULO'
                    WHEN 2 THEN 'sao paulo'  WHEN 3 THEN ' São Paulo '
                    WHEN 4 THEN 'Brasília'   ELSE 'BRASILIA' END AS raw_city,
               c_nationkey
        FROM customer
    )
    SELECT translate(lower(trim(raw_city)),
                     'áàâãäéèêëíìîïóòôõöúùûüçñ',
                     'aaaaaeeeeiiiiooooouuuucn') AS city_norm,
           c_nationkey AS state_key,
           COUNT(*) AS n_raw_rows
    FROM raw_geo
    GROUP BY 1, 2
    """,
)
def cleanse_accent_fold_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4 accent/case-insensitive fold + A1 group-by dedup — the
    geolocation collapse of accent-variant city spellings
    (sp_load_silver_geolocation.sql:32,40-43; the reference leans on
    COLLATE SQL_Latin1_General_CP1_CI_AI, re-expressed as an explicit
    translate fold).  At scale this is a pure map-side expression +
    one hash-aggregate shuffle on the folded key."""
    c = table(spark, sf_dir, "customer")
    variants = ["São Paulo", "SÃO PAULO", "sao paulo", " São Paulo ", "Brasília", "BRASILIA"]
    raw_city = F.element_at(F.array(*[F.lit(v) for v in variants]), (F.col("c_custkey") % 6 + 1).cast("int"))
    return (
        c.select(raw_city.alias("raw_city"), F.col("c_nationkey").alias("state_key"))
        .groupBy(accent_fold("raw_city").alias("city_norm"), "state_key")
        .agg(F.count(F.lit(1)).alias("n_raw_rows"))
    )


@query(
    "datetime_functions",
    oracle="""
    SELECT event_id,
           CAST(strftime(ts, '%Y%m%d') AS INT) AS date_key,
           year(ts) AS yr, month(ts) AS mo, quarter(ts) AS qtr,
           week(ts) AS iso_week, isodow(ts) AS iso_dow,
           monthname(ts) AS month_name, dayname(ts) AS day_name,
           CASE WHEN isodow(ts) IN (6,7) THEN 1 ELSE 0 END AS is_weekend,
           CAST(date_diff('day', TIMESTAMP '2024-01-01 00:00:00', ts) AS INT) AS days_since_start,
           CAST(epoch_us(ts) - epoch_us(date_trunc('day', ts)) AS DOUBLE) / 86400000000.0 AS frac_of_day
    FROM events
    """,
)
def datetime_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9–F17 datetime surface: yyyyMMdd date_key (F13), calendar
    extracts incl. ISO week (F14/F15), month/day names (F16), weekend
    flag (F17), day diff (F9), elapsed fractional day (F10 — defined
    as elapsed seconds / 86400, the pinned cross-engine semantics for
    T-SQL DATEDIFF(HOUR)/24.0, 07_etl_silver_to_gold.sql:228-230)."""
    ev = table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.date_format("ts", "yyyyMMdd").cast("int").alias("date_key"),
        F.year("ts").alias("yr"),
        F.month("ts").alias("mo"),
        F.quarter("ts").alias("qtr"),
        F.weekofyear("ts").alias("iso_week"),
        (F.weekday("ts") + 1).alias("iso_dow"),
        F.date_format("ts", "MMMM").alias("month_name"),
        F.date_format("ts", "EEEE").alias("day_name"),
        F.when((F.weekday("ts") + 1).isin(6, 7), 1).otherwise(0).alias("is_weekend"),
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
        .cast("int")
        .alias("days_since_start"),
        (
            (F.unix_micros("ts") - F.unix_micros(F.date_trunc("day", "ts"))).cast("double")
            / 86400000000.0
        ).alias("frac_of_day"),
    )
