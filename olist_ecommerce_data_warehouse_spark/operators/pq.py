"""Product quantization (PQ) — the compression leg of billion-scale
ANN (Jégou et al., "Product Quantization for Nearest Neighbor
Search", TPAMI 2011; the PQ in FAISS's IVF-PQ).

The IVF index (operators/similarity.py, operators/ann_index.py) bounds
how many vectors a query SCANS; PQ bounds how many bytes each scanned
vector COSTS: the d-dim embedding splits into ``m`` subvectors, each
encoded as the id of its nearest subspace centroid (a ``k``-entry
codebook trained per subspace), so a float32×d vector becomes m small
ints (d=64, m=4, k=256 → 4 bytes vs 256: 64×).  Search uses
ASYMMETRIC DISTANCE (ADC): per query, an m×k lookup table of exact
query-to-centroid partial distances is built once (model-sized), and
each candidate's distance is m table lookups + adds — no decode.

Spark shapes:

- ``pq_train`` — m INDEPENDENT k-means trainings over sliced vectors,
  each the bit-deterministic integer Lloyd of ``kmeans_train`` (same
  seeding, same floor-division means), so the whole codebook is
  exactly replayable by the unrolled-Lloyd SQL device
  (``plans.similarity.trained_cents_sql`` with per-subspace prefixes).
- ``pq_encode`` — one Arrow map: per subspace argmin over k centroids
  (exact int64 L2², ties → lower code), emits the code array plus the
  integer reconstruction error Σ_j L2²(sub_j, codebook_j[code_j]) —
  the quantization-quality number PQ deployments monitor.
- ``pq_adc_topk`` — queries collect to a model-sized matrix (the
  broadcast-contract shape of ``brute_force_topk``), every kernel
  batch scores its candidates against the LUTs and keeps a
  PER-PARTITION top-k; the global top-k window runs over
  (n_queries × partitions × k) rows, never the full corpus.

Everything is integer on the shared 1e-6 quantization grid —
training, codes, reconstruction errors and ADC distances are all
bit-stable under any partitioning and cross-engine replayable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from olist_ecommerce_data_warehouse_spark.operators.kmeans import kmeans_train
from olist_ecommerce_data_warehouse_spark.operators.similarity import l2sq, quantized


def pq_train(
    vectors: DataFrame,
    dim: int,
    m: int = 4,
    k: int = 16,
    n_iter: int = 2,
) -> list[list[list[int]]]:
    """Train ``m`` subspace codebooks (each k × d/m int64-quantized
    centroids) over ``dim``-wide ``(vec_id, embedding)`` vectors.  ``dim`` must divide by m.
    Each subspace is a full ``kmeans_train`` over the sliced quantized
    vectors — m small trainings, each the documented
    small-model/big-data loop.

    The m trainings are INDEPENDENT chains of driver-blocking jobs
    (seed collect + one aggregation collect per Lloyd round), so they
    run from a small thread pool (guide §2.6 — Spark schedules
    concurrent jobs FIFO and back-fills idle executors; each chain's
    math is unchanged and bit-deterministic, so the codebooks are
    byte-identical to the sequential run).  The pool is CAPPED at 4
    driver threads (ADVICE r10): each subspace chain nests
    driver-blocking collects, so an uncapped ``max_workers=m`` would
    spawn m concurrent collect chains for a large-m codebook — 4 in
    flight keeps executors back-filled without flooding the driver.

    ``dim`` is the caller's claim about the vector width (every
    registry corpus is fixed-dim by contract), and it is CHECKED, not
    trusted: a per-row ``assert_true`` guard fails the training job on
    the first vector whose width differs — because ``F.slice`` would
    otherwise silently train codebooks on a prefix of each vector — and
    on the first NULL vector, which has no width to train on."""
    if dim % m:
        raise ValueError(f"pq_train: dim {dim} not divisible by m={m}")
    sub = dim // m
    # zero-job width guard: assert_true returns NULL when the predicate
    # holds (the filter keeps every row) and raises with the message on
    # the first mismatch — evaluated inside the existing training scans.
    # A NULL vector makes the predicate NULL, which raises too.
    q = vectors.select("vec_id", quantized("embedding").alias("__qv")).where(
        F.isnull(
            F.assert_true(
                F.size("__qv") == F.lit(dim),
                F.concat(
                    F.lit(f"pq_train: dim={dim} but vector width "),
                    F.coalesce(F.size("__qv").cast("string"), F.lit("NULL")),
                ),
            )
        )
    )

    def one(j: int) -> list[list[int]]:
        sliced = q.select("vec_id", F.slice("__qv", j * sub + 1, sub).alias("cvec"))
        return kmeans_train(sliced, k=k, n_iter=n_iter)

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=min(m, 4)) as pool:
        return list(pool.map(one, range(m)))


def pq_encode_block(qv, codebooks):
    """Shared numpy core of PQ encoding over a block of PRE-QUANTIZED
    int64 vectors: per-subspace exact-int64 ``l2sq`` argmin (ties →
    lower code, np.argmin takes the first minimum).  Returns
    ``(codes int32 (n, m), recon_err int64 (n,))``.  Used by BOTH
    :func:`pq_encode` and the fused int8-stats kernel
    (functions/embedding.py) so the two paths cannot drift apart."""
    import numpy as np

    m = len(codebooks)
    sub = len(codebooks[0][0])
    codes = np.zeros((len(qv), m), dtype=np.int32)
    err = np.zeros(len(qv), dtype=np.int64)
    for j in range(m):
        d2 = l2sq(qv[:, j * sub : (j + 1) * sub], codebooks[j])
        codes[:, j] = np.argmin(d2, axis=1)
        err += d2[np.arange(len(qv)), codes[:, j]]
    return codes, err


PQ_CODE_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("codes", T.ArrayType(T.IntegerType())),
        T.StructField("recon_err", T.LongType()),
    ]
)


def pq_encode(
    vectors: DataFrame,
    codebooks: list[list[list[int]]],
) -> DataFrame:
    """(vec_id, codes, recon_err) of ``(vec_id, embedding)`` vectors:
    per-subspace nearest-centroid codes (exact int64 L2², ties → lower
    code) + the integer reconstruction error.  One Arrow map, no
    shuffle; the codebooks ride the closure (model-sized: m·k·(d/m)
    ints)."""
    import numpy as np
    import pandas as pd

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            # quantization happened ENGINE-side (similarity.quantized)
            # before the exchange — one grid definition everywhere
            vm = np.stack([np.asarray(v, dtype=np.int64) for v in pdf["__qv"]])
            codes, err = pq_encode_block(vm, codebooks)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].astype("int64"),
                    "codes": list(codes),
                    "recon_err": err,
                }
            )

    return vectors.select("vec_id", quantized("embedding").alias("__qv")).mapInPandas(
        kernel, PQ_CODE_SCHEMA
    )


ADC_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.LongType()),
        T.StructField("vec_id", T.LongType()),
        T.StructField("adc_dist", T.LongType()),
    ]
)


def pq_adc_topk(
    codes: DataFrame,
    codebooks: list[list[list[int]]],
    queries: DataFrame,
    top_k: int = 5,
) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes for ``(vec_id,
    embedding)`` queries: (query_id, vec_id, adc_dist, rank).  Each
    query's m×k LUT of exact int64 partial distances is built once from
    the collected query matrix (model-sized — the broadcast contract of
    ``brute_force_topk``); the kernel scores each batch by m gathers +
    adds and keeps a per-partition top-k, so the global window sees
    n_queries × partitions × k rows, never the corpus."""
    import numpy as np
    import pandas as pd

    m = len(codebooks)
    sub = len(codebooks[0][0])
    qrows = queries.select(
        F.col("vec_id").alias("__qid"), quantized("embedding").alias("__qv")
    ).collect()
    qids = np.array([r["__qid"] for r in qrows], dtype=np.int64)
    qm = np.stack([np.asarray(r["__qv"], dtype=np.int64) for r in qrows])
    # LUT[q, j, c] = L2²(query_q subvector j, codebook_j centroid c)
    lut = np.stack(
        [l2sq(qm[:, j * sub : (j + 1) * sub], codebooks[j]) for j in range(m)],
        axis=1,
    )  # (n_q, m, k)

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cm = np.stack([np.asarray(c, dtype=np.int64) for c in pdf["codes"]])
            ids = pdf["vec_id"].to_numpy()
            # dist[q, d] = Σ_j LUT[q, j, cm[d, j]]
            dist = np.zeros((len(qids), len(pdf)), dtype=np.int64)
            for j in range(m):
                dist += lut[:, j, cm[:, j]]
            keep = min(top_k, dist.shape[1])
            # Per-partition prune keeps the SAME (adc_dist, vec_id)
            # lexicographic MEMBERSHIP as the global window without a
            # full per-query sort (round 7, closing the round-6
            # lexsort-cost question with a measurement: O(B log B)
            # lexsort vs this O(B) argpartition ran 5.8× slower at the
            # bench batch shape and 11-18× slower at a 64k-row serving
            # batch — tests/test_operators.py pins set-equivalence
            # under heavy ties).  argpartition on distance alone keeps
            # an arbitrary subset among boundary ties (realistic —
            # duplicate vectors share PQ codes), so the boundary value
            # is resolved explicitly: everything strictly below the
            # k-th distance is in, and the remaining slots go to the
            # smallest vec_ids among the ties (ids are unique, so the
            # selected SET is deterministic; the global window, which
            # sees every partition's survivors, assigns final ranks).
            sel_idx: list[np.ndarray] = []
            for qi in range(len(qids)):
                d = dist[qi]
                if keep == d.shape[0]:
                    sel_idx.append(np.arange(keep))
                    continue
                cut = np.argpartition(d, keep - 1)[:keep]
                bound = d[cut].max()
                below = cut[d[cut] < bound]
                need = keep - below.shape[0]
                ties = np.nonzero(d == bound)[0]
                if ties.shape[0] > need:
                    ties = ties[np.argpartition(ids[ties], need - 1)[:need]]
                sel_idx.append(np.concatenate([below, ties]))
            part = np.stack(sel_idx)
            rows = {
                "query_id": np.repeat(qids, keep),
                "vec_id": ids[part].ravel(),
                "adc_dist": np.take_along_axis(dist, part, axis=1).ravel(),
            }
            yield pd.DataFrame(rows)

    from pyspark.sql import Window

    cand = codes.select("vec_id", "codes").mapInPandas(kernel, ADC_SCHEMA)
    w = Window.partitionBy("query_id").orderBy(F.asc("adc_dist"), F.asc("vec_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select("query_id", "vec_id", "adc_dist", F.col("rank").cast("int"))
    )


def pq_encode_reference(
    qvecs: dict[int, list[int]], codebooks: list[list[list[int]]]
) -> dict[int, tuple[list[int], int]]:
    """Driver-side twin of :func:`pq_encode` over PRE-QUANTIZED int
    vectors (quantize once, on the engine grid — re-deriving the grid
    from floats here would double-round) — the distributed codes and
    errors must match exactly."""
    m = len(codebooks)
    sub = len(codebooks[0][0])
    out = {}
    for vid, qv in qvecs.items():
        codes, err = [], 0
        for j in range(m):
            s = qv[j * sub : (j + 1) * sub]
            best, best_d = 0, None
            for c, cent in enumerate(codebooks[j]):
                d2 = sum((a - b) ** 2 for a, b in zip(s, cent))
                if best_d is None or d2 < best_d:
                    best, best_d = c, d2
            codes.append(best)
            err += best_d
        out[vid] = (codes, err)
    return out
