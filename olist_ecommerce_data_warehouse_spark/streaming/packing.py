"""Stateful GREEDY sequence packing — the streaming twin of the batch
``sequence_packing`` plan (plans/corpus.py).

The batch plan uses concat-and-chunk layout (documents may straddle a
sequence boundary; pure window cumsum).  The OTHER production layout is
greedy first-fit: a document never splits across sequences — if it
doesn't fit in the current sequence's remaining token budget, a new
sequence opens.  That rule makes the assignment inherently ORDER- and
STATE-dependent (each decision depends on the running fill level), so
it cannot be a window expression; it is exactly the shape
``applyInPandasWithState`` exists for:

- stream grouped by the stream key (language); state per key =
  (current seq_no, tokens used in it) — two longs, O(keys) total
  state, no growth with corpus size;
- within a micro-batch the group's rows are processed in doc_id order
  (sorted locally — batches deliver unordered);
- state persists across micro-batches AND across query restarts via
  the checkpoint, so an incremental backfill keeps packing where the
  previous run stopped (asserted in tests/test_streaming.py);
- oversized documents (n_tokens > budget) take a sequence alone —
  the greedy rule degrades gracefully instead of looping.

Scale: state is hash-partitioned by key across executors; each
micro-batch does one keyed shuffle (the groupBy) and a narrow Arrow
pass per group.  At 100 TB the stream key is (lang, shard) — same as
the batch plan — so no group outgrows an executor.
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

PACK_OUT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("lang", T.StringType()),
        T.StructField("n_tokens", T.LongType()),
        T.StructField("seq_no", T.LongType()),
        T.StructField("seq_offset", T.LongType()),
    ]
)
PACK_STATE_SCHEMA = T.StructType(
    [T.StructField("seq_no", T.LongType()), T.StructField("used", T.LongType())]
)


def _first_fit(ns, seq_no: int, used: int, budget: int):
    """The ONE greedy first-fit inner loop every twin shares (reference
    / streaming / batch — a shared definition means the three cannot
    drift): fold token counts in order, opening a new sequence when the
    current one can't fit the next document.  Returns (per-doc seq_no
    list, per-doc offset list, final seq_no, final used)."""
    out_seq, out_off = [], []
    for n in ns:
        n = int(n)
        if used > 0 and used + n > budget:
            seq_no, used = seq_no + 1, 0
        out_seq.append(seq_no)
        out_off.append(used)
        used += n
    return out_seq, out_off, seq_no, used


def greedy_pack_reference(
    rows: list[tuple[int, str, int]], budget: int
) -> list[tuple[int, str, int, int, int]]:
    """Driver-side reference implementation (doc_id, lang, n_tokens) →
    (…, seq_no, seq_offset), processing each lang's docs in doc_id
    order.  The streaming and batch operators must equal this exactly —
    tests compare against it."""
    out = []
    by_lang: dict[str, list[tuple[int, int]]] = {}
    for doc_id, lang, n in rows:
        by_lang.setdefault(lang, []).append((doc_id, n))
    for lang, docs in by_lang.items():
        ordered = sorted(docs)
        seqs, offs, _, _ = _first_fit([n for _, n in ordered], 0, 0, budget)
        out.extend(
            (doc_id, lang, n, s, o)
            for (doc_id, n), s, o in zip(ordered, seqs, offs)
        )
    return sorted(out)


def _make_packing_fn(budget: int):
    def packing_fn(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        if state.exists:
            seq_no, used = state.get
        else:
            seq_no, used = 0, 0
        frames = list(pdfs)
        if not frames:
            # defensive: pd.concat([]) raises; an empty iterator can
            # only reach here on a timeout-triggered invocation (not
            # used with NoTimeout, but the guard keeps the operator
            # safe under a timeoutConf change)
            return
        batch = pd.concat(frames, ignore_index=True)
        if len(batch) == 0:
            return
        batch = batch.sort_values("doc_id")
        out_seq, out_off, seq_no, used = _first_fit(
            batch["n_tokens"], seq_no, used, budget
        )
        state.update((seq_no, used))
        yield pd.DataFrame(
            {
                "doc_id": batch["doc_id"].to_numpy(),
                "lang": key[0],
                "n_tokens": batch["n_tokens"].to_numpy(),
                "seq_no": out_seq,
                "seq_offset": out_off,
            }
        )

    return packing_fn


def greedy_packing(sized_docs: DataFrame, budget: int) -> DataFrame:
    """Streaming greedy first-fit packing over a stream of
    (doc_id, lang, n_tokens) rows.  Append output: each document is
    emitted exactly once with its (seq_no, seq_offset) assignment."""
    return sized_docs.groupBy("lang").applyInPandasWithState(
        _make_packing_fn(budget),
        outputStructType=PACK_OUT_SCHEMA,
        stateStructType=PACK_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def greedy_pack_batch(sized_docs: DataFrame, budget: int) -> DataFrame:
    """BATCH twin of :func:`greedy_packing`: the same first-fit rule
    over a static (doc_id, lang, n_tokens) DataFrame, one
    ``applyInPandas`` group per stream key — state starts at (0, 0)
    because a batch run IS the whole stream.  Runs the identical
    ``_first_fit`` loop as the stateful operator, so the two layouts
    cannot drift (equality asserted on the sf0.01 corpus in
    tests/test_streaming.py).

    Scale shape: one keyed shuffle (the groupBy) then a narrow Arrow
    pass per group; the sequential fold is inherent to first-fit
    semantics (each placement depends on the running fill), so the
    parallel unit is the stream key — at 100 TB key on (lang, shard)
    exactly like the streaming twin, bounding every group to an
    executor."""

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id")
        seqs, offs, _, _ = _first_fit(pdf["n_tokens"], 0, 0, budget)
        out = pdf[["doc_id", "lang", "n_tokens"]].copy()
        out["seq_no"] = seqs
        out["seq_offset"] = offs
        return out

    return (
        sized_docs.select("doc_id", "lang", "n_tokens")
        .groupBy("lang")
        .applyInPandas(fn, PACK_OUT_SCHEMA)
    )
