"""Structured Streaming surface (extension tier, SURVEY.md §2.8/§7 E)."""

from __future__ import annotations

from pyspark.sql.streaming import StreamingQuery

# upper bound on an ``availableNow`` drain; every drain here ends in seconds
DRAIN_TIMEOUT_S = 300


def drain(query: StreamingQuery) -> StreamingQuery:
    """Wait for an ``availableNow`` query to run out of input and prove
    that it ended: a query still running after ``DRAIN_TIMEOUT_S``
    raises ``TimeoutError`` with its status (a stream that keeps
    scheduling batches never drains), a failed query re-raises its
    exception, and the query is stopped either way so that it cannot
    outlive the caller."""
    try:
        ended = query.awaitTermination(DRAIN_TIMEOUT_S)
        status = query.status
    finally:
        query.stop()
    if not ended:
        raise TimeoutError(
            f"stream {query.name!r} still running after {DRAIN_TIMEOUT_S} s: {status}"
        )
    return query
