"""Distributed BPE tokenizer training — the text-side analogue of the
in-loop k-means trainer (operators/kmeans.py): a small model (the
merge table) learned from big data with one aggregation per round.

Production LLM pipelines train their tokenizer ON the corpus
(SentencePiece/HuggingFace BPE jobs).  The classic algorithm (Sennrich
et al. 2016) compresses immediately: BPE statistics depend only on the
WORD-FREQUENCY table, so the 100 TB corpus collapses to one
``groupBy(word).count()`` — typically millions of rows — and every
training round runs on that compressed table:

  round i:  explode adjacent symbol pairs (weighted by word count)
            → one hash-aggregate SUM per pair
            → argmax to the driver (ONE row: the merge rule)
            → broadcast the grown merge list into the next round's
              tokenize kernel

Exactly the canonical small-model/big-data loop shape every Spark ML
iteration uses — shuffle per round carries (distinct pairs × 8-byte
counts), never the corpus.

Determinism: ties in the pair-count argmax break to the
lexicographically smallest (left, right) pair — same rule in the
driver-side reference trainer (``bpe_train_reference``), which the
distributed trainer must equal exactly (asserted in tests).  The
kernel re-derives each word's symbols from scratch by replaying the
merge list (stateless rounds — no persisted lineage chain to manage;
production with thousands of merges would checkpoint the symbolized
word table every ~50 rounds instead, trading storage for the replay).

Reference parity note: the reference warehouse has no tokenizer
trainer; this extends the corpus-prep tier (SURVEY §2 extension —
token budgeting: ``functions/text.py::bpe_pretoken_count``) with the
trainer that produces the merges such budgeting assumes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from olist_ecommerce_data_warehouse_spark.functions.text import tokens
from olist_ecommerce_data_warehouse_spark.operators.lineage import (
    cut_lineage,
    release_cut,
)

# End-of-word sentinel (classic BPE): distinguishes "est</w>" from
# "est" mid-word.  Any symbol containing it never merges across words
# because pairs are only formed WITHIN a word's symbol list.
EOW = "</w>"


def _symbolize(word: str, merges: list[tuple[str, str]]) -> list[str]:
    """chars + EOW, then replay ``merges`` in training order — the ONE
    shared tokenization rule (trainer kernel, encoder kernel, and the
    driver reference all call this; they cannot drift)."""
    syms = list(word) + [EOW]
    for left, right in merges:
        merged = left + right
        i, out = 0, []
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
                out.append(merged)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


def word_counts(docs: DataFrame) -> DataFrame:
    """(word, n) — the compressed training input: one aggregation over
    the corpus, map-side partials collapse repeats before the shuffle."""
    return (
        docs.select(F.explode(tokens("text")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )


_PAIR_SCHEMA = T.StructType(
    [
        T.StructField("left", T.StringType()),
        T.StructField("right", T.StringType()),
        T.StructField("cnt", T.LongType()),
    ]
)


def bpe_train(
    docs: DataFrame, n_merges: int
) -> list[tuple[str, str]]:
    """Learn ``n_merges`` BPE merge rules from the corpus; returns the
    ordered merge list.  Stops early when no pair occurs twice (merging
    singletons would memorize individual words)."""
    wc = word_counts(docs)
    if n_merges > 0:
        # lineage CUT, not persisted: every merge round's pair-count
        # collect() re-analyzes wc's upstream (tokenize + explode +
        # agg) — n_merges × that tree on the driver otherwise
        # (operators/lineage.py)
        wc = cut_lineage(wc)
    merges: list[tuple[str, str]] = []
    try:
        for _ in range(n_merges):
            snapshot = list(merges)

            def pair_kernel(batches, _merges=snapshot):
                import pandas as pd

                for pdf in batches:
                    rows: dict[tuple[str, str], int] = {}
                    for word, n in zip(pdf["word"], pdf["n"]):
                        syms = _symbolize(word, _merges)
                        for a, b in zip(syms, syms[1:]):
                            rows[(a, b)] = rows.get((a, b), 0) + int(n)
                    if rows:
                        yield pd.DataFrame(
                            {
                                "left": [k[0] for k in rows],
                                "right": [k[1] for k in rows],
                                "cnt": list(rows.values()),
                            }
                        )

            best = (
                wc.mapInPandas(pair_kernel, _PAIR_SCHEMA)
                .groupBy("left", "right")
                .agg(F.sum("cnt").alias("cnt"))
                .orderBy(F.desc("cnt"), "left", "right")
                .limit(1)
                .collect()
            )
            if not best or best[0]["cnt"] < 2:
                break
            merges.append((best[0]["left"], best[0]["right"]))
    finally:
        if n_merges > 0:
            release_cut(wc)
    return merges


def bpe_train_reference(
    word_n: list[tuple[str, int]], n_merges: int
) -> list[tuple[str, str]]:
    """Driver-side reference trainer over a (word, count) list — the
    distributed trainer must produce the identical merge sequence."""
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for word, n in word_n:
            syms = _symbolize(word, merges)
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + n
        if not counts:
            break
        # count desc, then lexicographically smallest pair
        top = max(counts.values())
        best_pair = min(p for p, c in counts.items() if c == top)
        if top < 2:
            break
        merges.append(best_pair)
    return merges


def bpe_encode(
    docs: DataFrame,
    merges: list[tuple[str, str]],
) -> DataFrame:
    """(doc_id, bpe_tokens array<string>, bpe_token_count) per document —
    tokenize with a trained merge list (broadcast into one Arrow
    kernel; pure map, zero shuffle).  Concatenating a word's tokens
    always reproduces word+EOW (lossless — asserted in tests)."""
    import pandas as pd

    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("bpe_tokens", T.ArrayType(T.StringType())),
            T.StructField("bpe_token_count", T.LongType()),
        ]
    )
    rows = docs.select("doc_id", tokens("text").alias("__toks"))

    def kernel(batches, _merges=list(merges)):
        # memoize per DISTINCT word: corpora repeat words heavily (that
        # is the whole BPE word-compression premise), so symbolize each
        # word once per task instead of once per occurrence — measured
        # 5.5 s → 4.5 s for the text_metrics plan at sf0.1 (the
        # remaining cost is the 6 training-round jobs, not encoding)
        cache: dict[str, list[str]] = {}

        def syms(w: str) -> list[str]:
            s = cache.get(w)
            if s is None:
                s = cache[w] = _symbolize(w, _merges)
            return s

        for pdf in batches:
            ids, toks_out, counts = [], [], []
            for i, toks in zip(pdf["doc_id"], pdf["__toks"]):
                doc_syms: list[str] = []
                for w in toks:
                    doc_syms.extend(syms(w))
                ids.append(i)
                toks_out.append(doc_syms)
                counts.append(len(doc_syms))
            yield pd.DataFrame(
                {"doc_id": ids, "bpe_tokens": toks_out, "bpe_token_count": counts}
            )

    return rows.mapInPandas(kernel, out_schema)


def bpe_oracle_ctes(n_merges: int) -> str:
    """SQL (DuckDB) replay of the WHOLE trainer+encoder as chained
    CTEs — the same unrolled-iteration device as the IVF oracle's
    unrolled Lloyd: round i computes pair counts from syms{i-1}, picks
    the argmax merge with the trainer's exact tie-break (cnt DESC,
    left, right — binary string order in both engines), and applies it
    via a list-of-lists fold whose adjacent-merge semantics equal
    ``_symbolize``'s scan (fold case verified against the Python scan
    in tests).  A round whose best pair count is < 2 yields an EMPTY
    merge CTE and the LEFT JOIN turns that round (and, since counts
    then never change, every later round) into a no-op — matching the
    trainer's early stop without branching.

    Emits a final CTE ``bpe_doc_counts(doc_id, n_bpe_trained_tokens)``
    over ``documents`` — join it LEFT (token-less docs count 0).
    Returns the CTE text WITHOUT a leading WITH."""
    from olist_ecommerce_data_warehouse_spark.functions.text import toks_sql

    parts = [
        f"""bpe_words AS (
        SELECT word, COUNT(*) AS n FROM (
            SELECT unnest({toks_sql()}) AS word FROM documents
        ) GROUP BY word
    )""",
        f"""syms0 AS (
        SELECT word, n, list_append(regexp_extract_all(word, '.'), '{EOW}') AS s
        FROM bpe_words
    )""",
    ]
    for i in range(1, n_merges + 1):
        p = i - 1
        parts.append(
            f"""pc{i} AS (
        SELECT p[1] AS l, p[2] AS r, CAST(SUM(n) AS BIGINT) AS cnt
        FROM (SELECT n, unnest(list_zip(s[1:len(s)-1], s[2:len(s)])) AS p
              FROM syms{p})
        GROUP BY 1, 2
    )"""
        )
        parts.append(
            f"""m{i} AS (
        SELECT l, r FROM pc{i} WHERE cnt >= 2 ORDER BY cnt DESC, l, r LIMIT 1
    )"""
        )
        parts.append(
            f"""syms{i} AS (
        SELECT word, n,
               CASE WHEN m.l IS NULL THEN s ELSE
                 list_reduce(
                     list_prepend(CAST([] AS VARCHAR[]), list_transform(s, x -> [x])),
                     (acc, x) -> CASE WHEN len(acc) > 0
                                       AND acc[len(acc)] = m.l AND x[1] = m.r
                                      THEN list_append(acc[1:len(acc)-1], m.l || m.r)
                                      ELSE list_concat(acc, x) END)
               END AS s
        FROM syms{p} LEFT JOIN m{i} m ON TRUE
    )"""
        )
    parts.append(
        f"""bpe_doc_words AS (
        SELECT doc_id, unnest({toks_sql()}) AS word FROM documents
    )"""
    )
    parts.append(
        f"""bpe_doc_counts AS (
        SELECT dw.doc_id, CAST(SUM(len(sf.s)) AS BIGINT) AS n_bpe_trained_tokens
        FROM bpe_doc_words dw JOIN syms{n_merges} sf USING (word)
        GROUP BY 1
    )"""
    )
    return ",\n    ".join(parts)


def bpe_vocab(merges: list[tuple[str, str]], corpus_chars: list[str]) -> dict[str, int]:
    """token → contiguous id: base symbols first (sorted corpus
    characters, then EOW), then one id per merge in training order —
    the standard BPE vocab layout (ids are stable across rebuilds
    because both inputs are deterministic)."""
    vocab: dict[str, int] = {}
    for ch in sorted(set(corpus_chars)):
        vocab.setdefault(ch, len(vocab))
    vocab.setdefault(EOW, len(vocab))
    for left, right in merges:
        vocab.setdefault(left + right, len(vocab))
    return vocab


def corpus_chars(docs: DataFrame) -> list[str]:
    """Distinct characters of the tokenized corpus (the base
    alphabet) — one narrow explode + distinct aggregate."""
    rows = (
        docs.select(F.explode(tokens("text")).alias("w"))
        .select(F.explode(F.split("w", "")).alias("ch"))
        .filter(F.length("ch") > 0)
        .distinct()
        .collect()
    )
    return [r["ch"] for r in rows]


def bpe_encode_ids(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    vocab: dict[str, int],
) -> DataFrame:
    """(doc_id, input_ids array<int>, n_ids) — the training-ready integer
    form: tokenize with the merge list and map symbols through the
    vocab (broadcast dict in one Arrow kernel).  Symbols outside the
    vocab (characters unseen at vocab-build time) map to -1 — surfaced,
    not silently dropped, so a stale vocab is visible downstream."""
    import pandas as pd

    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("input_ids", T.ArrayType(T.IntegerType())),
            T.StructField("n_ids", T.LongType()),
        ]
    )
    rows = docs.select("doc_id", tokens("text").alias("__toks"))

    def kernel(batches, _merges=list(merges), _vocab=dict(vocab)):
        cache: dict[str, list[int]] = {}

        def ids(w: str) -> list[int]:
            out = cache.get(w)
            if out is None:
                out = cache[w] = [
                    _vocab.get(s, -1) for s in _symbolize(w, _merges)
                ]
            return out

        for pdf in batches:
            out_ids, out_n, out_docs = [], [], []
            for i, toks in zip(pdf["doc_id"], pdf["__toks"]):
                doc_ids: list[int] = []
                for w in toks:
                    doc_ids.extend(ids(w))
                out_docs.append(i)
                out_ids.append(doc_ids)
                out_n.append(len(doc_ids))
            yield pd.DataFrame(
                {"doc_id": out_docs, "input_ids": out_ids, "n_ids": out_n}
            )

    return rows.mapInPandas(kernel, out_schema)
