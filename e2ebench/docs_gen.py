"""Seeded document generator for the corpus and near-duplicate workloads.

Documents have the layout of the engine's ``documents`` test table (see
the repository's TESTDATA.md): ``doc_id, text, lang, source, n_chars``,
with texts drawn from the same 30-word vocabulary and the same language
mix, so the corpus gates, the dedup operators and the registry plans
over ``documents`` behave as they do on the test tables.  The same seed
always gives the same documents.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def _texts(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` distinct space-joined texts of 12–95 vocabulary words."""
    out: list[str] = []
    seen: set[str] = set()
    while len(out) < n:
        words = rng.integers(0, len(VOCAB), int(rng.integers(12, 96)))
        text = " ".join(VOCAB[w] for w in words)
        if text not in seen:
            seen.add(text)
            out.append(text)
    return out


def documents(rng: np.random.Generator, n: int) -> pa.Table:
    """``(doc_id, text, lang, source, n_chars)`` rows with distinct texts."""
    text = _texts(rng, n)
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": text,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in text], dtype=np.int64),
    })


CORRUPT_LINES = [
    "{ this is not json",
    '{"doc_id": "alpha", "text": "wrong id type"}',
    '{"doc_id": 1, "text": ',
    "[1, 2, 3",
    "not even close",
]


def corpus_inputs(seed: int, n_docs: int, n_drops: int) -> dict:
    """Documents for the corpus build and the near-duplicate stream.

    Returns the base documents plus injected exact copies (same text,
    new id) and near copies (one extra word), the corrupt JSONL lines,
    and ``drops``: the streamed ``(doc_id, text)`` rows split into
    ``n_drops`` files, so that each original anchors its buckets before
    or when its copies arrive.
    """
    rng = np.random.default_rng(seed)
    base = documents(rng, n_docs)
    n_copy = max(1, n_docs // 20)
    src = np.sort(rng.choice(n_docs // 2, 2 * n_copy, replace=False))
    exact_src, near_src = src[:n_copy], src[n_copy:]
    id0 = n_docs + 1_000_000
    rows = base.to_pylist()
    exact = [dict(rows[i], doc_id=id0 + k) for k, i in enumerate(exact_src)]
    near = [dict(rows[i], doc_id=id0 + n_copy + k, text=rows[i]["text"] + " dup",
                 n_chars=rows[i]["n_chars"] + 4)
            for k, i in enumerate(near_src)]
    docs = rows + exact + near
    # a copy lands one drop after its original (or with it, in the last
    # drop, where the lower original id still anchors the bucket)
    drop_of = {r["doc_id"]: int(r["doc_id"]) % n_drops for r in rows}
    for c, i in zip(exact + near, np.concatenate([exact_src, near_src])):
        drop_of[c["doc_id"]] = min(drop_of[int(i)] + 1, n_drops - 1)
    drops = [
        pa.table({
            "doc_id": np.array([d["doc_id"] for d in docs if drop_of[d["doc_id"]] == k], np.int64),
            "text": [d["text"] for d in docs if drop_of[d["doc_id"]] == k],
        })
        for k in range(n_drops)
    ]
    return {
        "docs": docs,
        "exact": {c["doc_id"]: int(rows[i]["doc_id"]) for c, i in zip(exact, exact_src)},
        "corrupt": CORRUPT_LINES,
        "drops": drops,
    }
