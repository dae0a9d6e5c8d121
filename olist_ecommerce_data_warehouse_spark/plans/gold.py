"""Gold star-schema plans (SURVEY.md §2.3 J2–J5/J7, §3 EP3).

Oracles rebuild the identical dims/facts as SQL CTEs — surrogate keys
are deterministic (ROW_NUMBER over the natural key) so the two engines
produce byte-identical star schemas.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from olist_ecommerce_data_warehouse_spark.functions.numeric import dec_dbl_sql
from olist_ecommerce_data_warehouse_spark.pipeline.star import (
    build_dim_customer,
    build_fact_lineitem,
    build_fact_orders,
)
from olist_ecommerce_data_warehouse_spark.plans.registry import query
from olist_ecommerce_data_warehouse_spark.plans.warehouse import REV_SQL

DIM_CUSTOMER_SQL = """
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY c_custkey) AS BIGINT) AS customer_sk,
           c_custkey, c_name, c_mktsegment,
           n_name AS nation_name, r_name AS region_name
    FROM customer
    LEFT JOIN nation ON c_nationkey = n_nationkey
    LEFT JOIN region ON n_regionkey = r_regionkey
"""

FACT_ORDERS_SQL = f"""
    WITH dim_customer AS ({DIM_CUSTOMER_SQL})
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY o_orderkey) AS BIGINT) AS order_sk,
           o_orderkey, customer_sk,
           CAST(strftime(o_orderdate, '%Y%m%d') AS INT) AS purchase_date_key,
           o_orderstatus,
           o_totalprice AS total_price,
           CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END AS is_open,
           CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END
               AS is_high_priority
    FROM orders
    JOIN dim_customer ON o_custkey = c_custkey
"""


@query("gold_dim_customer", oracle=DIM_CUSTOMER_SQL)
def gold_dim_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dim_customer: broadcast geography enrichment + deterministic SK
    (07_etl_silver_to_gold.sql:99-116, J2/A3/W2)."""
    return build_dim_customer(spark, sf_dir)


@query("gold_fact_orders", oracle=FACT_ORDERS_SQL)
def gold_fact_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fact_orders: inner SK join to dim_customer, date-key derivation,
    status flags (07_etl_silver_to_gold.sql:206-235, J3+F13+F18)."""
    return build_fact_orders(spark, sf_dir)


@query(
    "gold_fact_lineitem",
    oracle=f"""
    WITH fact_orders AS ({FACT_ORDERS_SQL}),
    dim_part AS (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY p_partkey) AS BIGINT) AS part_sk, p_partkey
        FROM part
    ),
    dim_supplier AS (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY s_suppkey) AS BIGINT) AS supplier_sk, s_suppkey
        FROM supplier
    )
    SELECT o.order_sk, dp.part_sk, ds.supplier_sk,
           l.l_orderkey, l.l_linenumber,
           CAST(strftime(l.l_shipdate, '%Y%m%d') AS INT) AS ship_date_key,
           l.l_quantity AS quantity,
           l.l_extendedprice AS price,
           {dec_dbl_sql(REV_SQL)} AS item_revenue
    FROM lineitem l
    JOIN fact_orders o ON l.l_orderkey = o.o_orderkey
    JOIN dim_part dp   ON l.l_partkey  = dp.p_partkey
    JOIN dim_supplier ds ON l.l_suppkey = ds.s_suppkey
    """,
)
def gold_fact_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fact_order_items: full SK-resolution chain over the star
    (07_etl_silver_to_gold.sql:262-273, J4+W2)."""
    return build_fact_lineitem(spark, sf_dir)


@query(
    "gold_revenue_by_region",
    oracle=f"""
    WITH dim_customer AS ({DIM_CUSTOMER_SQL})
    SELECT d.region_name,
           COUNT(*) AS n_orders,
           {dec_dbl_sql('SUM(CAST(o.o_totalprice AS DECIMAL(12,2)))')} AS total_sales
    FROM orders o
    JOIN dim_customer d ON o.o_custkey = d.c_custkey
    GROUP BY d.region_name
    """,
)
def gold_revenue_by_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-schema report: sales rolled up the customer→region
    hierarchy (the reference's gold-layer KPI pattern,
    08_validacionsql.sql:44-62, expressed over dims)."""
    from olist_ecommerce_data_warehouse_spark.catalog import table
    from olist_ecommerce_data_warehouse_spark.functions.numeric import as_out, money

    o = table(spark, sf_dir, "orders")
    d = build_dim_customer(spark, sf_dir).select("c_custkey", "region_name")
    return (
        o.join(F.broadcast(d), o.o_custkey == d.c_custkey)
        .groupBy("region_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            as_out(F.sum(money("o_totalprice"))).alias("total_sales"),
        )
    )
