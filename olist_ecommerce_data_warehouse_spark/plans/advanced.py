"""Advanced OLAP plans: TPC-H-Q1-style wide aggregate, ROLLUP grouping
sets, pivot, as-of join, dim-date join KPI, approximate aggregates,
salted skew join, SCD-2 dimension."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from olist_ecommerce_data_warehouse_spark.catalog import table
from olist_ecommerce_data_warehouse_spark.functions.numeric import as_out, dec, dec_dbl_sql, money
from olist_ecommerce_data_warehouse_spark.operators.asof import asof_join
from olist_ecommerce_data_warehouse_spark.operators.merge import merge_upsert
from olist_ecommerce_data_warehouse_spark.operators.rangejoin import range_join
from olist_ecommerce_data_warehouse_spark.operators.scd import (
    scd2_apply_snapshot,
    scd2_from_history,
)
from olist_ecommerce_data_warehouse_spark.operators.skew import salted_join
from olist_ecommerce_data_warehouse_spark.operators.zorder import morton_sql, zorder_key
from olist_ecommerce_data_warehouse_spark.pipeline.star import build_dim_customer
from olist_ecommerce_data_warehouse_spark.plans.gold import DIM_CUSTOMER_SQL
from olist_ecommerce_data_warehouse_spark.plans.registry import query
from olist_ecommerce_data_warehouse_spark.plans.warehouse import REV_SQL

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@query(
    "pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {dec_dbl_sql('SUM(CAST(l_quantity AS DECIMAL(12,2)))')} AS sum_qty,
           {dec_dbl_sql('SUM(CAST(l_extendedprice AS DECIMAL(12,2)))')} AS sum_base_price,
           {dec_dbl_sql(f'SUM({REV_SQL})')} AS sum_disc_price,
           {dec_dbl_sql(f'SUM({REV_SQL} * (CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(4,2))))')} AS sum_charge,
           {dec_dbl_sql('SUM(CAST(l_quantity AS DECIMAL(12,2)))')} / COUNT(*) AS avg_qty,
           {dec_dbl_sql('SUM(CAST(l_discount AS DECIMAL(4,2)))')} / COUNT(*) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-shaped pricing summary: filter pushed to the parquet
    scan, 2-key groupBy with 7 aggregates — the canonical wide-agg
    whose partial (map-side) aggregation reduces the shuffle to
    |groups| × partitions.  Averages computed as exact-decimal sum ÷
    count cast once to double (bit-stable cross-engine)."""
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp")
    )
    disc_price = money("l_extendedprice") * (F.lit(1).cast("decimal(3,2)") - dec("l_discount", 4, 2))
    charge = disc_price * (F.lit(1).cast("decimal(3,2)") + dec("l_tax", 4, 2))
    cnt = F.count(F.lit(1))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        as_out(F.sum(money("l_quantity"))).alias("sum_qty"),
        as_out(F.sum(money("l_extendedprice"))).alias("sum_base_price"),
        as_out(F.sum(disc_price)).alias("sum_disc_price"),
        as_out(F.sum(charge)).alias("sum_charge"),
        (F.sum(money("l_quantity")).cast("double") / cnt).alias("avg_qty"),
        (F.sum(dec("l_discount", 4, 2)).cast("double") / cnt).alias("avg_disc"),
        cnt.alias("count_order"),
    )


@query(
    "rollup_region_segment",
    oracle=f"""
    WITH dim_customer AS ({DIM_CUSTOMER_SQL})
    SELECT d.region_name, d.c_mktsegment AS segment,
           COUNT(*) AS n_orders,
           {dec_dbl_sql('SUM(CAST(o.o_totalprice AS DECIMAL(12,2)))')} AS total_sales,
           CAST(GROUPING(d.region_name) AS INT) AS g_region,
           CAST(GROUPING(d.c_mktsegment) AS INT) AS g_segment,
           CAST(GROUPING(d.region_name, d.c_mktsegment) AS BIGINT) AS gid
    FROM orders o JOIN dim_customer d ON o.o_custkey = d.c_custkey
    GROUP BY CUBE (d.region_name, d.c_mktsegment)
    """,
)
def rollup_region_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full GROUPING SETS lattice over the region/segment pair —
    CUBE = sets ((region, segment), (region), (segment), ()) — with
    both per-column GROUPING() indicators AND the standard
    grouping_id bit-vector under the driver hash (round 9 widening,
    r08 verdict stretch task: previously ROLLUP, which exercised the
    hierarchy but not the (segment-only) set or the composite id).
    Catalyst expands all four sets into ONE Expand + hash aggregate —
    a single shuffle, same as the plain group-by; DuckDB's multi-arg
    GROUPING() replays Spark's grouping_id() bit order exactly
    (first listed column = MSB)."""
    o = table(spark, sf_dir, "orders")
    d = build_dim_customer(spark, sf_dir).select("c_custkey", "region_name", "c_mktsegment")
    joined = o.join(F.broadcast(d), o.o_custkey == d.c_custkey)
    return joined.cube("region_name", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        as_out(F.sum(money("o_totalprice"))).alias("total_sales"),
        F.grouping("region_name").cast("int").alias("g_region"),
        F.grouping("c_mktsegment").cast("int").alias("g_segment"),
        F.grouping_id().cast("bigint").alias("gid"),
    ).withColumnRenamed("c_mktsegment", "segment")


@query(
    "pivot_event_types_daily",
    oracle="""
    SELECT strftime(ts, '%Y-%m-%d') AS day,
           COUNT(*) FILTER (WHERE event_type = 'click') AS click,
           COUNT(*) FILTER (WHERE event_type = 'error') AS error,
           COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
           COUNT(*) FILTER (WHERE event_type = 'signup') AS signup,
           COUNT(*) FILTER (WHERE event_type = 'view') AS view
    FROM events
    GROUP BY 1
    """,
)
def pivot_event_types_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: event types to columns, one row per day.  The pivot
    value list is pinned (no extra distinct-discovery job — required
    practice at scale) so the plan is a single hash aggregate."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .pivot("event_type", EVENT_TYPES)
        .agg(F.count(F.lit(1)))
        .na.fill(0, EVENT_TYPES)
    )


@query(
    "asof_click_attribution",
    oracle="""
    WITH clicks AS (
        SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
    ),
    views AS (
        SELECT user_id, ts AS view_ts, MAX(event_id) AS view_event_id
        FROM events WHERE event_type = 'view'
        GROUP BY user_id, ts
    ),
    asof_part AS (
        SELECT 'asof' AS kind, c.event_id, c.user_id, c.ts,
               v.view_event_id AS matched_id, v.view_ts AS matched_ts
        FROM clicks c ASOF LEFT JOIN views v
          ON c.user_id = v.user_id AND v.view_ts <= c.ts
    ),
    win AS (
        SELECT event_id AS w_id, ts AS w_start,
               ts + INTERVAL 15 MINUTE AS w_end
        FROM events WHERE event_type = 'error'
    ),
    interval_part AS (
        SELECT 'interval' AS kind, c.event_id, c.user_id, c.ts,
               w.w_id AS matched_id, w.w_start AS matched_ts
        FROM clicks c LEFT JOIN win w
          ON c.ts BETWEEN w.w_start AND w.w_end
    )
    SELECT * FROM asof_part UNION ALL SELECT * FROM interval_part
    """,
)
def asof_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time attribution, BOTH temporal-join primitives Spark
    lacks natively, merged into one slot (kind discriminator — the
    events_windows pattern):

    - kind='asof': click → most recent prior view per user, as union +
      running last(ignoreNulls) window (operators.asof) — one shuffle
      on user_id, no range explosion.  Oracle: DuckDB's native
      ASOF LEFT JOIN.
    - kind='interval': click → every 15-minute error window containing
      it, via the BUCKETIZED range join (operators.rangejoin): windows
      replicate to the 600 s bins they overlap (≤ 3 replicas each),
      points map to exactly ONE bin, equi-join on the bin + exact
      BETWEEN filter — a hash join, never a BroadcastNestedLoopJoin
      (asserted in tests/test_plan_quality.py).  'left' keeps
      unmatched clicks with NULL window columns, exactly like the
      oracle's naive BETWEEN theta join — the driver hash gate proves
      the rewrite LOSSLESS against it."""
    ev = table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    views = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", F.col("ts").alias("view_ts"))
        .agg(F.max("event_id").alias("view_event_id"))
    )
    asof_part = asof_join(
        clicks, views, key="user_id", left_ts="ts", right_ts="view_ts",
        right_payload=["view_ts", "view_event_id"],
    ).select(
        F.lit("asof").alias("kind"),
        "event_id",
        "user_id",
        "ts",
        F.col("view_event_id").alias("matched_id"),
        F.col("view_ts").alias("matched_ts"),
    )
    windows = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("w_id"),
        F.col("ts").alias("w_start"),
        (F.col("ts") + F.expr("INTERVAL 15 MINUTES")).alias("w_end"),
    )
    interval_part = range_join(
        clicks, windows, point_ts="ts", start_col="w_start", end_col="w_end",
        bin_width_sec=600, how="left",
    ).select(
        F.lit("interval").alias("kind"),
        "event_id",
        "user_id",
        "ts",
        F.col("w_id").alias("matched_id"),
        F.col("w_start").alias("matched_ts"),
    )
    return asof_part.unionByName(interval_part)


@query(
    "merge_upsert_incremental",
    oracle="""
    WITH cust AS (SELECT c_custkey, c_mktsegment, c_acctbal FROM customer),
    src AS (
        SELECT c_custkey, c_mktsegment, c_acctbal + 100 AS c_acctbal
        FROM cust WHERE c_custkey % 5 = 0
        UNION ALL
        SELECT c_custkey, c_mktsegment, c_acctbal
        FROM cust WHERE c_custkey % 7 = 3 AND c_custkey % 5 != 0
        UNION ALL
        SELECT c_custkey + 2000000, c_mktsegment, c_acctbal
        FROM cust WHERE c_custkey % 9 = 0
    ),
    j AS (
        SELECT t.c_custkey AS tk, t.c_mktsegment AS tm, t.c_acctbal AS ta,
               s.c_custkey AS sk, s.c_mktsegment AS sm, s.c_acctbal AS sa
        FROM cust t FULL OUTER JOIN src s ON t.c_custkey = s.c_custkey
    )
    SELECT COALESCE(sk, tk) AS c_custkey,
           CASE WHEN sk IS NOT NULL THEN sm ELSE tm END AS c_mktsegment,
           CAST(CASE WHEN sk IS NOT NULL THEN sa ELSE ta END AS DOUBLE) AS acctbal,
           CASE WHEN tk IS NOT NULL AND sk IS NOT NULL
                     AND (sa IS DISTINCT FROM ta OR sm IS DISTINCT FROM tm)
                THEN 'update'
                WHEN tk IS NOT NULL AND sk IS NOT NULL THEN 'unchanged'
                WHEN sk IS NOT NULL THEN 'insert'
                ELSE 'keep' END AS action
    FROM j
    """,
)
def merge_upsert_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MERGE/upsert (operators.merge.merge_upsert) — the
    100 TB alternative to the reference's TRUNCATE+INSERT full refresh
    (07_etl_silver_to_gold.sql:197-198): ANSI MERGE semantics as ONE
    null-safe full-outer join on the key, actions flagged so writers
    can skip no-op rows.  The delta feed is deterministic: every 5th
    customer's balance changes (→ update), a disjoint slice arrives
    unchanged (→ unchanged), every 9th appears under a new +2e6 key
    (→ insert); absent keys are kept.  The oracle replays the same
    merge as SQL full-outer CASE logic, so the driver hash gates
    matched/unmatched routing, null-safe change detection and
    source-wins column resolution.  On bucketed tables the identical
    operator plans with zero Exchange
    (tests/test_plan_quality.py::test_bucketed_merge_upsert_zero_exchange)."""
    cust = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    k = F.col("c_custkey")
    updates = cust.filter(k % 5 == 0).withColumn(
        "c_acctbal", F.col("c_acctbal") + 100
    )
    unchanged = cust.filter((k % 7 == 3) & (k % 5 != 0))
    inserts = cust.filter(k % 9 == 0).select(
        (k + 2000000).alias("c_custkey"), "c_mktsegment", "c_acctbal"
    )
    source = updates.unionByName(unchanged).unionByName(inserts)
    merged = merge_upsert(cust, source, ["c_custkey"])
    return merged.select(
        "c_custkey",
        "c_mktsegment",
        F.col("c_acctbal").cast("double").alias("acctbal"),
        F.col("__merge_action").alias("action"),
    )


# Morton-gate normalization literals (shared by the Spark plan and the
# DuckDB oracle below): power-of-two (hi - lo) ranges make every
# normalization step exact in IEEE doubles, so floor() carries no
# cross-engine 1-ulp hazard.  user_id 2^14 / value 2^9 cover every SF's
# observed ranges; out-of-range values clamp identically in both twins.
_MORTON_COLS = [("user_id", 0.0, 16384.0), ("value", 0.0, 512.0)]


@query(
    "approx_aggregates",
    oracle=f"""
    SELECT COUNT(DISTINCT user_id) AS n_users_exact,
           COUNT(DISTINCT event_id) AS n_events_exact,
           CAST(1 AS INT) AS approx_users_ok,
           CAST(1 AS INT) AS approx_events_ok,
           CAST(1 AS INT) AS p50_ok,
           CAST(1 AS INT) AS p95_ok,
           CAST(SUM({morton_sql(_MORTON_COLS)}) AS BIGINT) AS morton_sum,
           CAST(MIN({morton_sql(_MORTON_COLS)}) AS BIGINT) AS morton_min,
           CAST(MAX({morton_sql(_MORTON_COLS)}) AS BIGINT) AS morton_max
    FROM events
    """,
)
def approx_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate aggregates (HLL++ distinct, quantile sketch) — the
    sketch family for 100 TB profiling where exact distinct/quantile
    shuffles are prohibitive.  Sketch internals are engine-specific, so
    the driver gate works on exact anchors + error bounds: the plan
    emits exact distinct counts alongside in-bounds indicators (HLL++
    within 3σ of its rsd=0.05 default; percentile_approx inside the
    exact p45–p55 / p90–p99 windows), and the oracle pins the exact
    counts and expects every indicator to be 1.  A hash match therefore
    proves both the exact values and that every sketch landed in
    bounds.  (In production only the sketch side runs; the exact side
    exists to make the sketches falsifiable.)  tests/test_operators.py
    additionally bounds the error at sf0.001.

    Round 5 adds the LAYOUT gate to this profiling slot: the Z-order
    Morton key (operators/zorder.py::zorder_key — the data-skipping
    layout behind write_zordered) is computed per event row over
    (user_id, value) with power-of-two normalization ranges, and its
    exact SUM/MIN/MAX must match the oracle's closed-form
    ``morton_sql`` shift/mask expansion — a bit-interleave, clamp, or
    normalization bug in either engine moves the sums and fails the
    driver hash.  Costs one expression in the existing single-pass
    aggregate; no extra scan or shuffle."""
    ev = table(spark, sf_dir, "events")
    # one multi-COUNT(DISTINCT) aggregate would plan an Expand (row
    # duplication per distinct group) — two separate partial-distinct
    # aggregates cross-joined (1-row broadcasts) are ~3x faster here
    # and the right 100 TB shape: each is map-side partial distinct
    # then a count, no duplicated scan rows
    n_users = (
        ev.select("user_id").distinct().agg(F.count(F.lit(1)).alias("n_users_exact"))
    )
    n_events = (
        ev.select("event_id").distinct().agg(F.count(F.lit(1)).alias("n_events_exact"))
    )
    zk = zorder_key([(c, lo, hi) for c, lo, hi in _MORTON_COLS])
    sketches = ev.agg(
        F.approx_count_distinct("user_id").alias("au"),
        F.approx_count_distinct("event_id").alias("ae"),
        F.percentile_approx("value", 0.5).alias("p50a"),
        F.percentile_approx("value", 0.95).alias("p95a"),
        F.expr("percentile(value, 0.45)").alias("p45"),
        F.expr("percentile(value, 0.55)").alias("p55"),
        F.expr("percentile(value, 0.90)").alias("p90"),
        F.expr("percentile(value, 0.99)").alias("p99"),
        F.sum(zk).cast("bigint").alias("morton_sum"),
        F.min(zk).cast("bigint").alias("morton_min"),
        F.max(zk).cast("bigint").alias("morton_max"),
    )
    row = n_users.crossJoin(n_events).crossJoin(sketches)

    def ok(cond):  # noqa: ANN001, ANN202 - small local helper
        return F.when(cond, 1).otherwise(0).cast("int")

    return row.select(
        "n_users_exact",
        "n_events_exact",
        ok(F.abs(F.col("au") - F.col("n_users_exact")) <= 0.15 * F.col("n_users_exact")).alias(
            "approx_users_ok"
        ),
        ok(F.abs(F.col("ae") - F.col("n_events_exact")) <= 0.15 * F.col("n_events_exact")).alias(
            "approx_events_ok"
        ),
        ok(F.col("p50a").between(F.col("p45"), F.col("p55"))).alias("p50_ok"),
        ok(F.col("p95a").between(F.col("p90"), F.col("p99"))).alias("p95_ok"),
        "morton_sum",
        "morton_min",
        "morton_max",
    )


@query(
    "skew_salted_join",
    oracle=f"""
    SELECT o_orderpriority,
           COUNT(*) AS n_items,
           {dec_dbl_sql('SUM(CAST(l_quantity AS DECIMAL(12,2)))')} AS sum_qty
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partially-salted fact⨝fact join (operators.skew.salted_join):
    lineitem joins orders on orderkey with hot-key detection — keys
    with ≥5 lineitems take the 16-way salted path, the cold majority
    joins plain with zero replication (the production skew shape; a
    blanket 16× replication taxes every row for a few hot keys).  Both
    branches and their union are exercised here, and the oracle is the
    UNSALTED join — the hash match proves the split+salt+union is
    row-identical, which is the property that lets it be dropped into
    any skewed 100 TB join."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    o = table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    joined = salted_join(li, o, ["l_orderkey"], hot_min_rows=5)
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        as_out(F.sum(money("l_quantity"))).alias("sum_qty"),
    )


@query(
    "scd2_dim_customer",
    oracle="""
    WITH hist AS (
        SELECT c_custkey, c_mktsegment,
               TIMESTAMP '2024-01-01 00:00:00' AS ts
        FROM customer
        UNION ALL
        SELECT c_custkey, 'RELOCATED', TIMESTAMP '2024-06-01 00:00:00'
        FROM customer WHERE c_custkey % 4 = 0
    ),
    dim AS (
        SELECT c_custkey, c_mktsegment,
               ts AS effective_start,
               LEAD(ts) OVER (PARTITION BY c_custkey ORDER BY ts) AS effective_end,
               CASE WHEN LEAD(ts) OVER (PARTITION BY c_custkey ORDER BY ts) IS NULL
                    THEN 1 ELSE 0 END AS is_current
        FROM hist
    ),
    snap AS (
        SELECT c_custkey, 'MIGRATED' AS c_mktsegment
        FROM customer WHERE c_custkey % 6 = 0
        UNION ALL
        SELECT c_custkey + 1000000, 'NEWCOMER'
        FROM customer WHERE c_custkey % 10 = 0
    ),
    cur AS (SELECT * FROM dim WHERE is_current = 1),
    j AS (
        SELECT cur.c_custkey AS tk, cur.c_mktsegment AS tseg,
               cur.effective_start AS tstart,
               snap.c_custkey AS sk, snap.c_mktsegment AS sseg
        FROM cur FULL OUTER JOIN snap ON cur.c_custkey = snap.c_custkey
    )
    -- history slice passes through untouched
    SELECT c_custkey, c_mktsegment, effective_start, effective_end, is_current
    FROM dim WHERE is_current = 0
    UNION ALL
    -- surviving current rows: unchanged, or absent from the snapshot
    SELECT tk, tseg, tstart, NULL, 1 FROM j
    WHERE tk IS NOT NULL AND (sk IS NULL OR sseg IS NOT DISTINCT FROM tseg)
    UNION ALL
    -- closed versions of changed rows
    SELECT tk, tseg, tstart, TIMESTAMP '2024-09-01 00:00:00', 0 FROM j
    WHERE tk IS NOT NULL AND sk IS NOT NULL AND sseg IS DISTINCT FROM tseg
    UNION ALL
    -- newly opened rows: changed keys + brand-new keys
    SELECT sk, sseg, TIMESTAMP '2024-09-01 00:00:00', NULL, 1 FROM j
    WHERE sk IS NOT NULL AND (tk IS NULL OR sseg IS DISTINCT FROM tseg)
    """,
)
def scd2_dim_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full SCD Type-2 lifecycle — the capability the reference
    declares but never loads (effective_start/end/is_current columns,
    06_create_gold_tables.sql:60-62, loaded SCD-1 at
    07_etl_silver_to_gold.sql:99-116).  Two stages, both oracle-gated:

    1. initial BUILD: a deterministic segment-change history (every 4th
       customer relocates mid-2024) → operators.scd.scd2_from_history
       assigns half-open validity intervals via one key-partitioned
       window;
    2. incremental APPLY: a later attribute snapshot (every 6th
       customer migrates at 2024-09-01; every 10th appears as a new
       +1e6-keyed customer) → operators.scd.scd2_apply_snapshot closes
       changed current rows and opens new ones with ONE full-outer
       join on the natural key — work ∝ |current| + |snapshot|, never
       the accumulated history (the 100 TB property).

    The oracle recomputes both stages in SQL (LEAD window + full-outer
    CASE), so the driver hash gates the whole build→apply lifecycle."""
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    v1 = c.withColumn("ts", F.lit("2024-01-01 00:00:00").cast("timestamp"))
    v2 = (
        c.filter(F.col("c_custkey") % 4 == 0)
        .withColumn("c_mktsegment", F.lit("RELOCATED"))
        .withColumn("ts", F.lit("2024-06-01 00:00:00").cast("timestamp"))
    )
    dim = scd2_from_history(v1.unionByName(v2), ["c_custkey"], "ts")
    snap = (
        c.filter(F.col("c_custkey") % 6 == 0)
        .withColumn("c_mktsegment", F.lit("MIGRATED"))
        .unionByName(
            c.filter(F.col("c_custkey") % 10 == 0).select(
                (F.col("c_custkey") + 1000000).alias("c_custkey"),
                F.lit("NEWCOMER").alias("c_mktsegment"),
            )
        )
    )
    return scd2_apply_snapshot(
        dim, snap, ["c_custkey"], as_of=dt.datetime(2024, 9, 1)
    )
