"""Streaming event analytics — the Structured Streaming twins of the
batch plans in ``plans/events.py``.

The reference is batch-only; this is the driver-mandated extension
surface: file-source streams with watermarked tumbling / sliding /
session windows, plus a custom stateful operator via
``applyInPandasWithState`` (running per-user aggregates with timeout
eviction — the shape late-data-tolerant 100 TB event pipelines need).

Scale notes: watermarks bound state (windows older than the watermark
are finalized and evicted); state is hash-partitioned by the grouping
key across executors; ``availableNow`` triggers give incremental
batch-style backfills with the same code path.
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def read_event_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-source stream (parquet drops into ``path``)."""
    return spark.readStream.schema(EVENT_SCHEMA).parquet(path)


# event-time horizons shared by every windowed twin (``plans/events.py``
# uses the same 1 h tumbling / 1 h-by-15 min sliding / 30 min session)
WATERMARK = "2 hours"
WINDOW = "1 hour"
SLIDE = "15 minutes"
SESSION_GAP = "30 minutes"
IDLE_EVICT_MS = 3_600_000


def tumbling_counts(events: DataFrame) -> DataFrame:
    """Watermarked tumbling-window counts/sums per event type — same
    window definition as the batch plan ``events_windows`` (tumbling
    branch)."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", WINDOW).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "total_value")
    )


def sliding_counts(events: DataFrame) -> DataFrame:
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", WINDOW, SLIDE).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )


def session_counts(events: DataFrame) -> DataFrame:
    """Native streaming sessionization: ``session_window`` merges
    events within ``SESSION_GAP`` — streaming twin of the batch
    gaps-and-islands plan ``events_sessionization``."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.session_window("ts", SESSION_GAP).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


RUNNING_STATE_SCHEMA = "n_events BIGINT, total_value DOUBLE"
RUNNING_OUT_SCHEMA = "user_id BIGINT, n_events BIGINT, total_value DOUBLE"


def _running_totals_fn(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    """Custom stateful operator: running per-user event count + value
    sum, kept in GroupState with event-time idle eviction: a user's
    state is dropped once the watermark has moved ``IDLE_EVICT_MS`` past
    the watermark at the user's last update, which bounds state size."""
    if state.hasTimedOut:
        state.remove()
        return
    n, total = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + IDLE_EVICT_MS)
    yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "total_value": [total]})


def running_user_totals(events: DataFrame) -> DataFrame:
    """applyInPandasWithState custom stateful aggregate — the escape
    hatch for semantics windows can't express (monotone running
    totals emitted per micro-batch).

    The timeout runs on event time, not processing time: a
    processing-time timeout makes Spark schedule a no-data batch after
    every batch to look for expired keys, so an ``availableNow`` drain
    never ends.  Event-time timeouts fire only when the watermark
    moves, so a drain runs its data batches plus one eviction batch
    and stops.  The watermark this needs also drops events that arrive
    more than ``WATERMARK`` behind the newest one seen."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy("user_id")
        .applyInPandasWithState(
            _running_totals_fn,
            outputStructType=RUNNING_OUT_SCHEMA,
            stateStructType=RUNNING_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def streaming_dedup(events: DataFrame) -> DataFrame:
    """Streaming exact dedup on event_id — the ingest-dedup twin of the
    batch dedup family (plans/llm_dedup.py): at-least-once sources
    (Kafka replays, file re-drops) deliver duplicates, and
    ``dropDuplicatesWithinWatermark`` removes any copy arriving within
    the watermark horizon of the first sighting.  State is one entry
    per key, hash-partitioned across executors, and EVICTED once the
    watermark passes — bounded regardless of stream length, which is
    what makes it runnable forever at 100 TB/day ingest (a plain
    streaming dropDuplicates accumulates keys without bound)."""
    return events.withWatermark("ts", WATERMARK).dropDuplicatesWithinWatermark(["event_id"])


def enrich_with_dim(events: DataFrame, dim: DataFrame) -> DataFrame:
    """Stream-static join: decorate a stream with a batch dimension
    (broadcast — each micro-batch joins map-side, no shuffle of the
    stream).  The static side is re-read per micro-batch by Structured
    Streaming, so a dim refreshed on disk is picked up without
    restarting the query — the standard slowly-refreshing-lookup
    pattern for 100 TB event enrichment."""
    return events.join(F.broadcast(dim), "user_id", "left")
