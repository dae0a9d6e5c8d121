"""Streaming range (interval) enrichment — the stream-static twin of
``operators.rangejoin.range_join``.

The continuous version of point-in-interval matching (events arriving
now against a table of campaign / maintenance / session windows) is a
STREAM-STATIC join in Structured Streaming, and the bucketized rewrite
ports unchanged: the static interval table pre-explodes its bin
replicas exactly as in batch, each streaming point computes its single
bin as a stateless map, and the join is an equi-join on the bin with
the exact BETWEEN as a post-filter.  Stream-static equi-joins are
stateless on the stream side (no watermark, no state store growth —
the static side is just re-broadcast/re-scanned per micro-batch), so
this enriches at any stream rate with bounded memory; the semantics
are IDENTICAL to the batch operator on the same rows (asserted in
tests/test_streaming.py by draining a stream with availableNow and
comparing to the batch join).

Because the implementation IS the batch operator applied to a
streaming DataFrame, batch and streaming cannot drift — the same
guard rails (inverted-interval filter, span cap, reserved ``__bin``)
apply.  ``how='left'`` works too: stream-static LEFT OUTER with the
stream on the left is supported without a watermark, and each point
still maps to exactly one bin, so left semantics stay exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from olist_ecommerce_data_warehouse_spark.operators.rangejoin import range_join


def stream_range_enrich(
    points_stream: DataFrame,
    intervals: DataFrame,
    point_ts: str,
    start_col: str,
    end_col: str,
) -> DataFrame:
    """Enrich a STREAM of point rows with every static interval row
    containing their timestamp.  ``points_stream`` must be a streaming
    DataFrame; ``intervals`` a static one (the dimension-table side).
    Returns a streaming DataFrame; attach any sink/trigger."""
    if not points_stream.isStreaming:
        raise ValueError(
            "stream_range_enrich: points side must be a streaming DataFrame "
            "(use operators.rangejoin.range_join for batch)"
        )
    if intervals.isStreaming:
        raise ValueError(
            "stream_range_enrich: intervals side must be static — "
            "stream-stream range joins need watermark design, not this operator"
        )
    return range_join(
        points_stream, intervals, point_ts=point_ts, start_col=start_col, end_col=end_col
    )
