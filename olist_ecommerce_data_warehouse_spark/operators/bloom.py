"""Broadcast Bloom-filter pre-pass — the standard bandwidth
optimization for joins whose probe side is huge and whose build side is
small (contamination checks, IP/deny lists, dimension membership).

Spark's optimizer injects exactly this shape itself for shuffle joins
(``spark.sql.optimizer.runtime.bloomFilter.enabled`` plans a
``bloom_filter_agg`` on the small side and ``might_contain`` on the
big side), but the expression pair is not registered for user SQL, so
the engine ships its own: build a bit array from the small side's
int64 keys driver-side (they are broadcast-sized by the operator's own
applicability condition), broadcast the packed words, and filter the
big side in an Arrow-batched ``mapInPandas`` kernel — vectorized numpy
bit tests, no per-row Python, no shuffle.

Guarantee: false positives only (a kept row that matches nothing is
dropped by the downstream join/aggregate anyway); a Bloom pre-pass can
therefore NEVER change the result of the join it feeds — it only
shrinks the rows that reach the shuffle.  Double hashing h1 + i·h2
(Kirsch–Mitzenmacher) gives the k probe positions from two
multiplicative mixes of the key; with the default 16 bits/item and
k=4 the false-positive rate is ~2‰.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_MIX1 = np.uint64(0x9E3779B97F4A7C15)  # golden-ratio splitmix constant
_MIX2 = np.uint64(0xC2B2AE3D27D4EB4F)  # xxhash prime
BITS_PER_ITEM = 16
N_HASHES = 4


def _probe_hashes(vals: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    h = vals.astype(np.uint64)
    h1 = h * _MIX1
    h1 ^= h1 >> np.uint64(32)
    h2 = (h * _MIX2) | np.uint64(1)  # odd → full-period stepping
    return h1, h2


def build_bloom(vals: np.ndarray):
    """Pack a Bloom filter over int64 ``vals`` into a uint64 word
    array.  Returns (words, m) with m a power of two ≥ len·BITS_PER_ITEM
    (so probe positions reduce with a mask, not a modulo)."""
    n = max(len(vals), 1)
    m = 1 << max(10, int(np.ceil(np.log2(n * BITS_PER_ITEM))))
    words = np.zeros(m // 64, dtype=np.uint64)
    if len(vals):
        h1, h2 = _probe_hashes(np.asarray(vals, dtype=np.int64))
        for i in range(N_HASHES):
            pos = (h1 + np.uint64(i) * h2) & np.uint64(m - 1)
            np.bitwise_or.at(
                words,
                (pos >> np.uint64(6)).astype(np.int64),
                np.uint64(1) << (pos & np.uint64(63)),
            )
    return words, m


def might_contain(words: np.ndarray, m: int, vals: np.ndarray) -> np.ndarray:
    """Vectorized membership mask for int64 ``vals`` (True = possibly
    present; False = definitely absent)."""
    if not len(vals):
        return np.zeros(0, dtype=bool)
    h1, h2 = _probe_hashes(np.asarray(vals, dtype=np.int64))
    mask = np.ones(len(vals), dtype=bool)
    for i in range(N_HASHES):
        pos = (h1 + np.uint64(i) * h2) & np.uint64(m - 1)
        bit = (
            words[(pos >> np.uint64(6)).astype(np.int64)]
            >> (pos & np.uint64(63))
        ) & np.uint64(1)
        mask &= bit.astype(bool)
    return mask


def bloom_prefilter(
    big: DataFrame,
    small_keys: DataFrame,
    key_col: str,
) -> DataFrame:
    """Drop ``big`` rows whose ``key_col`` (int64) is definitely absent
    from ``small_keys``'s single column.  The small side is collected
    and broadcast (its smallness is the operator's applicability
    condition — same contract as a broadcast join build side); the big
    side is filtered in one narrow Arrow pass before whatever
    distinct/join consumes it.

    NULL handling, both sides: NULL keys never pass an equality probe,
    so on the SMALL side they are dropped before the filter is built
    (np.int64 cannot hold None — a NULL in a deny-list feed would
    otherwise kill the job on the driver); on the BIG side NULL-keyed
    rows BYPASS the filter untouched — the Bloom test may only drop
    rows whose key is DEFINITELY absent, and NULL is not a key the
    filter knows anything about.  Passing them through preserves the
    no-result-change guarantee for every consumer (an inner/semi join
    drops them later anyway; a left join, null-safe join or aggregate
    sees exactly the rows it would have seen without the prepass)."""
    key = small_keys.columns[0]
    vals = np.array(
        [
            r[0]
            for r in small_keys.filter(F.col(key).isNotNull()).distinct().collect()
        ],
        dtype=np.int64,
    )
    words, m = build_bloom(vals)
    bc = big.sparkSession.sparkContext.broadcast((words, m))
    out_schema = big.schema

    def kernel(batches):
        import pandas as pd

        w, mm = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            null_mask = pd.isna(pdf[key_col]).to_numpy()
            keep = null_mask.copy()  # NULL-keyed rows always pass through
            if (~null_mask).any():
                keys = pdf.loc[~null_mask, key_col].to_numpy(dtype=np.int64)
                keep[~null_mask] = might_contain(w, mm, keys)
            yield pdf[keep]

    return big.mapInPandas(kernel, out_schema)
