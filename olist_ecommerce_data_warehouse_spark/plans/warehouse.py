"""Core warehouse plans (SURVEY.md §2.3 joins, §2.4 aggregates, §2.6).

Each plan mirrors a reference operator, re-expressed over the driver's
TPC-H-ish tables.  Reference citations are per-plan.  Design rules:

- money math in exact decimal (see ``functions.numeric``), output types
  pinned so Spark and DuckDB agree on schema;
- small dimensions broadcast explicitly (reference dims are all
  broadcast-size; at 100 TB the fact-fact joins shuffle on their keys
  and AQE handles skew);
- LIMIT queries carry a full deterministic ORDER BY (ties broken by
  key) so results are stable across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from olist_ecommerce_data_warehouse_spark.catalog import table
from olist_ecommerce_data_warehouse_spark.functions.numeric import (
    as_out,
    dec_dbl_sql,
    money,
    revenue_expr,
)
from olist_ecommerce_data_warehouse_spark.plans.registry import query

# Shared oracle fragment: discounted line revenue in exact decimal
# (matches functions.numeric.revenue_expr bit-for-bit).
REV_SQL = "CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))"


@query(
    "flagship_revenue_by_brand",
    oracle=f"""
    SELECT p_brand,
           COUNT(*) AS n_items,
           {dec_dbl_sql(f'SUM({REV_SQL})')} AS revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand
    ORDER BY revenue DESC, p_brand
    LIMIT 3
    """,
)
def flagship_revenue_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 brands by revenue — the reference's flagship report
    (top-3 categories by revenue, ``08_validacionsql.sql:55-62``:
    J8 broadcast dim join + A7 grouped COUNT+SUM + O2 top-k)."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            as_out(F.sum(revenue_expr())).alias("revenue"),
        )
        .orderBy(F.desc("revenue"), "p_brand")
        .limit(3)
    )


@query(
    "scalar_kpis",
    oracle=f"""
    WITH days AS (
        SELECT CAST(unnest(generate_series(DATE '1992-01-01', DATE '1998-12-31',
                                           INTERVAL 1 DAY)) AS DATE) AS d
    ),
    dim_date AS (
        SELECT CAST(strftime(d, '%Y%m%d') AS INT) AS date_key,
               strftime(d, '%Y-%m-%d') AS day_str, year(d) AS yr
        FROM days
    ),
    dd_kpis AS (
        SELECT MIN(day_str) AS first_day, MAX(day_str) AS last_day,
               COUNT(DISTINCT yr) AS n_years
        FROM orders o
        JOIN dim_date dd ON CAST(strftime(o.o_orderdate, '%Y%m%d') AS INT) = dd.date_key
    )
    SELECT (SELECT {dec_dbl_sql(f'SUM({REV_SQL})')} FROM lineitem) AS total_revenue,
           (SELECT COUNT(*) FROM lineitem) AS n_lineitems,
           (SELECT MIN(o_orderdate) FROM orders) AS first_order_ts,
           (SELECT MAX(o_orderdate) FROM orders) AS last_order_ts,
           (SELECT STRFTIME(MIN(o_orderdate), '%Y-%m-%d') FROM orders) AS first_order_day,
           first_day, last_day, n_years
    FROM dd_kpis
    """,
)
def scalar_kpis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar KPI panel: total-sales SUM (``08_validacionsql.sql:44-45``,
    A5) + raw purchase-date-range MIN/MAX (``08_validacionsql.sql:48-52``,
    A6) + the J7 fact⨝dim_date date-range KPI
    (``08_validacionsql.sql:48-52`` — orders joined to the GENERATED
    calendar on the yyyyMMdd key, calendar broadcast against the fact
    scan) in one single-row result — three independent 1-row aggregates
    cross-joined (each side is a map-side partial agg; each join is a
    broadcast of one row, so the plan stays three scans with no wide
    shuffle).  (Formerly two registry slots — ``kpi_daterange_dim_join``
    merged in to free a slot; all its columns survive here.)

    DATE columns are avoided in outputs (pandas type drift between
    engines); day-granularity values are emitted as 'yyyy-MM-dd'
    strings instead."""
    import datetime as _dt

    from olist_ecommerce_data_warehouse_spark.operators.datedim import build_date_dim

    li_kpis = table(spark, sf_dir, "lineitem").agg(
        as_out(F.sum(revenue_expr())).alias("total_revenue"),
        F.count(F.lit(1)).alias("n_lineitems"),
    )
    o_kpis = table(spark, sf_dir, "orders").agg(
        F.min("o_orderdate").alias("first_order_ts"),
        F.max("o_orderdate").alias("last_order_ts"),
        F.date_format(F.min("o_orderdate"), "yyyy-MM-dd").alias("first_order_day"),
    )
    o_keys = table(spark, sf_dir, "orders").select(
        F.date_format("o_orderdate", "yyyyMMdd").cast("int").alias("date_key")
    )
    dd = build_date_dim(
        spark, _dt.date(1992, 1, 1), _dt.date(1998, 12, 31), include_sentinel=False
    ).select("date_key", "day_str", "yr")
    dd_kpis = o_keys.join(F.broadcast(dd), "date_key").agg(
        F.min("day_str").alias("first_day"),
        F.max("day_str").alias("last_day"),
        F.countDistinct("yr").alias("n_years"),
    )
    return li_kpis.crossJoin(o_kpis).crossJoin(dd_kpis)


@query(
    "volumetrics",
    oracle="""
    SELECT 'rows:orders' AS metric, COUNT(*) AS n_rows FROM orders
    UNION ALL SELECT 'rows:lineitem', COUNT(*) FROM lineitem
    UNION ALL SELECT 'rows:customer', COUNT(*) FROM customer
    UNION ALL SELECT 'rows:part', COUNT(*) FROM part
    UNION ALL SELECT 'rows:supplier', COUNT(*) FROM supplier
    UNION ALL SELECT 'anomaly:open_orders', COUNT(*) FILTER (WHERE o_orderstatus = 'O') FROM orders
    UNION ALL SELECT 'anomaly:negative_price', COUNT(*) FILTER (WHERE o_totalprice < 0) FROM orders
    UNION ALL SELECT 'anomaly:null_date', COUNT(*) FILTER (WHERE o_orderdate IS NULL) FROM orders
    """,
)
def volumetrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volumetric + anomaly reconciliation in one long-format report:
    per-table row counts (``08_validacionsql.sql:16-24``, A4) unioned
    with conditional anomaly counts — undelivered / impossible rows
    (``08_validacionsql.sql:70-77``, A8) — as a union of 1-row
    aggregates (O3).  The three anomaly counters come from a single
    pass over orders (one aggregate with three conditional COUNTs, not
    three scans); each per-table count is a map-side partial count."""
    parts = []
    for name in ("orders", "lineitem", "customer", "part", "supplier"):
        parts.append(
            table(spark, sf_dir, name).agg(
                F.lit(f"rows:{name}").alias("metric"), F.count(F.lit(1)).alias("n_rows")
            )
        )
    o = table(spark, sf_dir, "orders")
    anomalies = o.agg(
        F.count(F.when(F.col("o_orderstatus") == "O", 1)).alias("anomaly:open_orders"),
        F.count(F.when(F.col("o_totalprice") < 0, 1)).alias("anomaly:negative_price"),
        F.count(F.when(F.col("o_orderdate").isNull(), 1)).alias("anomaly:null_date"),
    )
    unpivoted = anomalies.unpivot(
        [], anomalies.columns, variableColumnName="metric", valueColumnName="n_rows"
    )
    out = parts[0]
    for df in parts[1:] + [unpivoted]:
        out = out.unionAll(df)
    return out


@query(
    "per_order_rollup",
    oracle=f"""
    SELECT l_orderkey,
           COUNT(*) AS n_items,
           {dec_dbl_sql(f'SUM({REV_SQL})')} AS order_revenue,
           {dec_dbl_sql('SUM(CAST(l_quantity AS DECIMAL(12,2)))')} AS total_qty
    FROM lineitem
    GROUP BY l_orderkey
    """,
)
def per_order_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-order payment rollup — the reference's declared-but-unshipped
    ``SUM(payment_value) GROUP BY order_id`` (``04_create_silver_tables.sql:25``,
    A9).  Single hash aggregate; map-side partial agg keeps the shuffle
    small at scale."""
    return (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            as_out(F.sum(revenue_expr())).alias("order_revenue"),
            as_out(F.sum(money("l_quantity"))).alias("total_qty"),
        )
    )


@query(
    "orphan_check",
    oracle="""
    SELECT COUNT(*) AS n_orphans
    FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderkey IS NULL
    """,
)
def orphan_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity orphan check as a LEFT ANTI join
    (``08_validacionsql.sql:32-35``, J6).  Expected 0."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders").select("o_orderkey")
    return li.join(o, li.l_orderkey == o.o_orderkey, "left_anti").agg(
        F.count(F.lit(1)).alias("n_orphans")
    )


@query(
    "sk_resolution_chain",
    oracle=f"""
    SELECT l.l_orderkey, l.l_linenumber, o.o_custkey, p.p_brand, s.s_name,
           {dec_dbl_sql(REV_SQL)} AS item_revenue
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN part p     ON l.l_partkey  = p.p_partkey
    JOIN supplier s ON l.l_suppkey  = s.s_suppkey
    """,
)
def sk_resolution_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-way INNER key-resolution chain for the sales fact
    (``07_etl_silver_to_gold.sql:270-273``, J4).  part/supplier are
    broadcast (dim-size); lineitem⨝orders co-partitions on orderkey —
    at 100 TB that one shuffle dominates and AQE's skew-join splits hot
    orders."""
    li = table(spark, sf_dir, "lineitem").alias("l")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey").alias("o")
    p = table(spark, sf_dir, "part").select("p_partkey", "p_brand").alias("p")
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name").alias("s")
    return (
        li.join(o, F.col("l.l_orderkey") == F.col("o.o_orderkey"))
        .join(F.broadcast(p), F.col("l.l_partkey") == F.col("p.p_partkey"))
        .join(F.broadcast(s), F.col("l.l_suppkey") == F.col("s.s_suppkey"))
        .select(
            "l.l_orderkey",
            "l.l_linenumber",
            "o.o_custkey",
            "p.p_brand",
            "s.s_name",
            as_out(revenue_expr()).alias("item_revenue"),
        )
    )


@query(
    "left_enrich_broadcast",
    oracle="""
    SELECT s.s_suppkey, s.s_name, n.n_name AS nation_name, r.r_name AS region_name
    FROM supplier s
    LEFT JOIN nation n ON s.s_nationkey = n.n_nationkey
    LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
    """,
)
def left_enrich_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT broadcast enrichment — products ⟕ category_translation
    (``05_ETL_load_bronze_to_silver/sp_load_silver_products.sql:48-50``,
    J1): tiny right side, NULLs survive for unmatched keys."""
    s = table(spark, sf_dir, "supplier").alias("s")
    n = table(spark, sf_dir, "nation").alias("n")
    r = table(spark, sf_dir, "region").alias("r")
    return (
        s.join(F.broadcast(n), F.col("s.s_nationkey") == F.col("n.n_nationkey"), "left")
        .join(F.broadcast(r), F.col("n.n_regionkey") == F.col("r.r_regionkey"), "left")
        .select(
            "s.s_suppkey",
            "s.s_name",
            F.col("n.n_name").alias("nation_name"),
            F.col("r.r_name").alias("region_name"),
        )
    )


@query(
    "multikey_left_distinct",
    oracle="""
    SELECT DISTINCT o.o_orderkey, o.o_custkey, o.o_orderstatus
    FROM orders o
    LEFT JOIN lineitem l
      ON o.o_orderkey = l.l_orderkey AND o.o_orderdate = l.l_shipdate
    """,
)
def multikey_left_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-key LEFT join whose joined columns are discarded, then
    DISTINCT — replicates the dim_customer load's (buggy) existence
    decoration exactly (``07_etl_silver_to_gold.sql:107-116``, J2+A3)."""
    o = table(spark, sf_dir, "orders").alias("o")
    li = table(spark, sf_dir, "lineitem").alias("l")
    return (
        o.join(
            li,
            (F.col("o.o_orderkey") == F.col("l.l_orderkey"))
            & (F.col("o.o_orderdate") == F.col("l.l_shipdate")),
            "left",
        )
        .select("o.o_orderkey", "o.o_custkey", "o.o_orderstatus")
        .distinct()
    )
