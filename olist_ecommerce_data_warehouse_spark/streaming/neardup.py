"""Streaming NEAR-duplicate detection — stateful MinHash-LSH banding
over a document stream.

The batch dedup pipeline (plans/llm_dedup.py) is shingle → MinHash →
band → bucket-equi-join: duplicates collide in ≥1 of the 4 band
buckets.  The streaming twin keeps ONE anchor document id per band
bucket as keyed state: the first document to claim a bucket is its
anchor; every later arrival in that bucket emits a collision record
(doc_id, band, sig, anchor_doc_id) — the streaming analogue of
``lsh_candidate_pairs`` rows, feeding the same downstream verification
(exact Jaccard on candidates) or a keep/drop decision ("drop any doc
that collides with an earlier anchor in any band").

Signature parity with batch: signatures are computed per-row with the
IDENTICAL arithmetic as ``operators.textdedup.minhash_band_signatures``
(INT rolling-hash shingles → mix32 base → affine k-min family → md5
band digest), just expressed as array folds instead of an
explode+groupBy — a stateless map, because a stream row must carry its
own signature (no cross-row shuffle before the stateful stage).
Equality of the two formulations is asserted in
tests/test_streaming.py.  The array folds are interpreted HOFs —
acceptable on the stream side where per-trigger volume is micro-batch
sized; the batch path keeps the codegen'd explode+agg shape.

State & scale: one long per OCCUPIED band bucket, hash-partitioned by
(band, sig) across executors; each micro-batch shuffles bands·|batch|
8-byte-keyed rows.  Anchor state never expires (a dup of the first
epoch's doc is still a dup) — at 100 TB the state store is RocksDB
with changelog checkpointing; bucket cardinality is bounded by corpus
distinct-content volume, the same cardinality the batch join
materializes as its build side.

Restart safety: state lives in the checkpoint; replaying a drop after
a crash re-emits the same assignments (asserted in tests).
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from olist_ecommerce_data_warehouse_spark.operators.textdedup import (
    GRAM_M,
    MINHASH_BANDS,
    MINHASH_K,
    MINHASH_P,
    MINHASH_ROWS,
    SHINGLE_N,
    gramk_expr,
    minhash_coeffs,
    mix32,
    token_hashes_expr,
)

LSH_OUT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("band", T.IntegerType()),
        T.StructField("sig", T.StringType()),
        T.StructField("anchor_doc_id", T.LongType()),
        T.StructField("is_anchor", T.IntegerType()),
    ]
)
LSH_STATE_SCHEMA = T.StructType([T.StructField("anchor", T.LongType())])


def band_signature_rows(docs: DataFrame) -> DataFrame:
    """(doc_id, band, sig) per document as a PURE MAP (works on both
    streaming and static frames): per-row array-fold twin of
    ``minhash_band_signatures`` — same shingles, same mix32 base, same
    affine family, same md5 band digest, so a stream doc and a batch
    doc with equal text get equal signatures.  Documents with fewer
    than ``SHINGLE_N`` tokens emit no rows (the batch explode drops them the
    same way)."""
    coeff_a, coeff_c = minhash_coeffs()

    # NB: a bare two-arg lambda would receive transform's (element,
    # index) pair — the index Column would shadow a captured default
    def _affine(i: int):
        a, c = coeff_a[i], coeff_c[i]
        return lambda b: (F.lit(a) * b + F.lit(c)) % F.lit(MINHASH_P)

    th = docs.select("doc_id", token_hashes_expr().alias("__th"))
    sh = th.select(
        "doc_id",
        F.array_distinct(
            F.transform(gramk_expr("__th", SHINGLE_N), lambda x: x % GRAM_M)
        ).alias("__sh"),
    ).filter(F.size("__sh") > 0)
    based = sh.select("doc_id", F.transform("__sh", mix32).alias("__b"))
    mh = based.select(
        "doc_id",
        F.array(
            *[F.array_min(F.transform("__b", _affine(i))) for i in range(MINHASH_K)]
        ).alias("mh_arr"),
    )
    sig = F.md5(
        F.concat_ws(
            "|",
            F.transform(
                F.slice("mh_arr", F.col("band") * MINHASH_ROWS + 1, MINHASH_ROWS),
                lambda m: m.cast("string"),
            ),
        )
    )
    return mh.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(MINHASH_BANDS - 1))).alias("band"),
        "mh_arr",
    ).select("doc_id", F.col("band").cast("int").alias("band"), sig.alias("sig"))


def _bucket_fn(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    frames = list(pdfs)
    if not frames:
        return
    batch = pd.concat(frames, ignore_index=True)
    if len(batch) == 0:
        return
    batch = batch.sort_values("doc_id")
    if state.exists:
        anchor = int(state.get[0])
    else:
        anchor = int(batch["doc_id"].iloc[0])
        state.update((anchor,))
    ids = batch["doc_id"].to_numpy()
    yield pd.DataFrame(
        {
            "doc_id": ids,
            "band": int(key[0]),
            "sig": key[1],
            "anchor_doc_id": anchor,
            "is_anchor": (ids == anchor).astype("int32"),
        }
    )


def streaming_lsh_neardup(doc_stream: DataFrame) -> DataFrame:
    """Continuous near-dup candidate detection over a (doc_id, text)
    stream: per-row band signatures → stateful bucket anchoring.
    Append output — every (doc, band) emits exactly once, with the
    bucket's anchor; ``is_anchor=0`` rows are the collision records.
    Wire to ``writeStream`` with a checkpoint; state survives
    restarts."""
    if not doc_stream.isStreaming:
        raise ValueError("streaming_lsh_neardup: doc side must be a streaming DataFrame")
    sigs = band_signature_rows(doc_stream)
    return sigs.groupBy("band", "sig").applyInPandasWithState(
        _bucket_fn,
        outputStructType=LSH_OUT_SCHEMA,
        stateStructType=LSH_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
