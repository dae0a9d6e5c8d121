"""Event-stream analytics plans (extension tier, batch semantics; the
Structured Streaming variants live in ``streaming/`` and share the
same window definitions).

The reference is pure batch (SURVEY.md §2.8), so these extend it with
the windowed-aggregation family a 100 TB event pipeline needs:
tumbling / sliding windows (``F.window``), sessionization
(gaps-and-islands), and semi-structured JSON extraction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from olist_ecommerce_data_warehouse_spark.catalog import table
from olist_ecommerce_data_warehouse_spark.functions.numeric import as_out, dec_dbl_sql, money
from olist_ecommerce_data_warehouse_spark.plans.registry import query


@query(
    "events_windows",
    oracle=f"""
    WITH tumbling AS (
        SELECT 'tumbling' AS window_kind,
               date_trunc('hour', ts) AS window_start,
               event_type,
               COUNT(*) AS n_events,
               {dec_dbl_sql('SUM(CAST(value AS DECIMAL(12,2)))')} AS total_value
        FROM events
        GROUP BY 2, 3
    ),
    expanded AS (
        SELECT time_bucket(INTERVAL '15 minutes', ts)
                   - k.k * INTERVAL '15 minutes' AS window_start,
               event_type, value
        FROM events CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS k) k
    ),
    sliding AS (
        SELECT 'sliding' AS window_kind, window_start, event_type,
               COUNT(*) AS n_events,
               {dec_dbl_sql('SUM(CAST(value AS DECIMAL(12,2)))')} AS total_value
        FROM expanded
        GROUP BY 2, 3
    )
    SELECT * FROM tumbling UNION ALL SELECT * FROM sliding
    """,
)
def events_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling (1 h) AND sliding (1 h length / 15 min slide) windowed
    aggregations per event type via ``F.window`` — the native Spark
    windowed-agg operator (the streaming twins share these window
    definitions plus a watermark; ``streaming/events.py``).

    Tumbling: one hash-agg shuffle on (window, type); partial
    aggregation bounds shuffle volume by windows × types, not events.
    Sliding: each event expands into 4 overlapping windows inside
    Spark, exactly like the oracle's explicit k∈0..3 expansion.  The
    two branches scan events independently (each ~sub-second); merged
    into one registry slot with a ``window_kind`` discriminator so the
    freed slot carries the connected-components dedup plan."""
    ev = table(spark, sf_dir, "events")

    def agg_windows(kind: str, window_col) -> DataFrame:
        return (
            ev.groupBy(window_col.alias("w"), "event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                as_out(F.sum(money("value"))).alias("total_value"),
            )
            .select(
                F.lit(kind).alias("window_kind"),
                F.col("w.start").alias("window_start"),
                "event_type",
                "n_events",
                "total_value",
            )
        )

    tumbling = agg_windows("tumbling", F.window("ts", "1 hour"))
    sliding = agg_windows("sliding", F.window("ts", "1 hour", "15 minutes"))
    return tumbling.unionByName(sliding)


@query(
    "events_sessionization",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                    THEN 1 ELSE 0 END AS is_new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    numbered AS (
        SELECT *, SUM(is_new_session) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id) AS session_no
        FROM flagged
    )
    SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
           MIN(ts) AS session_start, MAX(ts) AS session_end,
           COUNT(*) AS n_events,
           CAST(epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS BIGINT) AS duration_us
    FROM numbered
    GROUP BY user_id, session_no
    """,
)
def events_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization (30-min inactivity gap) via gaps-and-islands:
    lag(ts) flags session starts, a running sum numbers sessions, one
    aggregate computes bounds.  Batch twin of
    ``F.session_window``/``applyInPandasWithState`` in streaming.
    Both windows partition on user_id → a single shuffle, reused by
    the final groupBy (no extra exchange)."""
    ev = table(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
    flagged = ev.withColumn(
        "is_new_session",
        F.when(F.lag("ts").over(w).isNull() | (gap_us > 1_800_000_000), 1).otherwise(0),
    )
    numbered = flagged.withColumn(
        "session_no", F.sum("is_new_session").over(w).cast("bigint")
    )
    return numbered.groupBy("user_id", "session_no").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
        (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))).alias("duration_us"),
    )


@query(
    "events_json_props",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS k_sum,
           MIN(CAST(json_extract_string(props, '$.k') AS INT)) AS k_min,
           MAX(CAST(json_extract_string(props, '$.k') AS INT)) AS k_max
    FROM events
    GROUP BY event_type
    """,
)
def events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: pull ``$.k`` out of the JSON props
    column (get_json_object — JVM-side JSON path, no UDF) and
    aggregate per event type — the metadata-sidecar pattern for
    multimodal/LLM datasets."""
    ev = table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(k).cast("bigint").alias("k_sum"),
        F.min(k).alias("k_min"),
        F.max(k).alias("k_max"),
    )
