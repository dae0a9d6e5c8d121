"""Streaming perplexity scoring — continuous CCNet-style quality
gating of arriving documents under a static, pre-trained bigram LM.

The production shape for "docs arrive continuously, the LM was trained
offline on the clean corpus": each micro-batch runs the BATCH scorer
(`operators.ngram_lm.ngram_lm_score`) inside ``foreachBatch`` against
the broadcastable model tables — the same batch-operator-per-trigger
device as `streaming/similarity.py`, so stream and batch semantics
cannot drift (equality asserted in tests).

Why ``foreachBatch`` and not a streaming aggregation: the scorer ends
in a per-document groupBy + a left join back onto the doc list; each
document is scored exactly once on arrival (its bigrams never span
triggers), so per-batch application IS the semantics — no watermark,
no state, no update-mode complications.  Exactly-once: per-batch
append keyed by doc_id is idempotent under replay when the sink dedups
on (batch_id, doc_id) or writes transactionally — the package-wide
foreachBatch contract.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame

from olist_ecommerce_data_warehouse_spark.functions.text import tokens
from olist_ecommerce_data_warehouse_spark.operators.ngram_lm import (
    bigram_pairs,
    ngram_lm_score,
)


def streaming_ppl_score(
    doc_stream: DataFrame,
    bigram: DataFrame,
    context: DataFrame,
    v: DataFrame,
    sink: Callable[[DataFrame, int], None],
    checkpoint: str,
):
    """Continuously score ``doc_stream`` ((doc_id, text, ...)) under the
    static trained model (``bigram``/``context`` and the one-row V frame
    ``v`` from :func:`operators.ngram_lm.ngram_lm_train`). ``sink(df,
    batch_id)`` receives each batch's score rows.  Returns the started
    StreamingQuery (availableNow trigger — drain then stop; production
    swaps a processingTime trigger)."""
    if not doc_stream.isStreaming:
        raise ValueError("streaming_ppl_score: doc side must be a streaming DataFrame")
    if bigram.isStreaming or context.isStreaming:
        raise ValueError("streaming_ppl_score: model tables must be static")

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.head(1):  # empty trigger — nothing to score
            return
        pairs = bigram_pairs(batch_df, tokens("text"))
        sink(ngram_lm_score(batch_df, pairs, bigram, context, v), batch_id)

    return (
        doc_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .queryName("streaming_ppl_score")
        .trigger(availableNow=True)
        .start()
    )
