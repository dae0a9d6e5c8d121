"""Streaming vector search — continuous top-k over a stream of query
embeddings against a static corpus.

The production shape for "queries arrive continuously, corpus is an
indexed table": each micro-batch of query vectors runs the BATCH
search operator (`operators.similarity.brute_force_topk` — or its
IVF/LSH variants, same contract) inside ``foreachBatch``.  The batch
operator already treats the query set as broadcast-sized (the
dim-table assumption), which is exactly what a micro-batch is, so the
streaming twin is the batch operator applied per trigger — semantics
cannot drift, and results are appended to any sink the caller wires.

Why ``foreachBatch`` and not a stream-static join: scoring is an
Arrow-kernel matmul over the corpus, not a key-equality join — there
is no equi-join Structured Streaming could plan.  State: none (each
batch's queries are independent); exactly-once: append of per-batch
results keyed by (query_id) is idempotent when the sink dedups on
(batch_id, query_id) or the write is transactional — the same
contract as every foreachBatch sink in this package.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame

from olist_ecommerce_data_warehouse_spark.operators.similarity import brute_force_topk


def streaming_topk(
    query_stream: DataFrame,
    corpus: DataFrame,
    sink: Callable[[DataFrame, int], None],
    checkpoint: str,
):
    """Continuously answer top-5 cosine queries from ``query_stream``
    ((query_id, qvec) — quantized int64 vectors, see
    ``operators.similarity.quantized``) against the static quantized
    ``corpus`` ((vec_id, cvec)).  ``sink(results_df, batch_id)``
    receives each batch's (query_id, vec_id, cosine, rank) rows.
    Returns the started StreamingQuery (availableNow trigger — drain
    then stop; production swaps a processingTime trigger)."""
    if not query_stream.isStreaming:
        raise ValueError("streaming_topk: query side must be a streaming DataFrame")
    if corpus.isStreaming:
        raise ValueError("streaming_topk: corpus side must be static")

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.head(1):  # empty trigger — nothing to score
            return
        sink(brute_force_topk(batch_df, corpus), batch_id)

    return (
        query_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .queryName("streaming_topk")
        .trigger(availableNow=True)
        .start()
    )
