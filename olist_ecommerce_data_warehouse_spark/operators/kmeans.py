"""Distributed k-means (Lloyd's algorithm) for IVF centroid training.

The IVF ANN plan (`plans/similarity.py::ann_ivf_topk`) buckets the
corpus by nearest centroid; any fixed centroid set yields a *correct*
index (every vector lands in its nearest bucket), but *recall per
probe* depends on how well centroids match the data distribution —
production IVF indexes (FAISS et al.) train them with a few Lloyd
iterations.  This operator is that trainer, Spark-first:

- **input**: quantized ``(vec_id, cvec)`` vectors — exact int64 on the
  1e-6 grid of ``operators/similarity.py::quantized`` — the shape
  ``ivf_assign`` takes.  The input is lineage-cut once
  (``operators/lineage.py``) and every job reads the cut.
- **assignment step** = ``similarity.ivf_assign`` with the current
  k×d centroid list: one Arrow-batched ``mapInPandas`` whose kernel
  closes over the matrix and takes the ``l2sq`` argmin; narrow, no
  shuffle.  It carries the vector through, so the update needs no
  join back onto the input.
- **update step** = posexplode to (centroid_id, dim, value) + one
  hash-aggregation; k×d means collect to the driver (k·d ints — the
  canonical small-model / big-data loop every Spark ML iteration uses).
- **determinism**: means aggregate integer SUM + COUNT (order-
  independent, unlike float summation) and floor back onto the grid,
  and ties in argmin break toward the lower cluster id.  Same input ⇒
  bit-identical centroids on any cluster layout, any retry — the
  property that makes a trained index reproducible enough to
  hash-check.
- **seeding**: the k seed vectors are the rows with the k smallest
  ``md5(vec_id)`` values — a deterministic pseudo-random sample
  (content-independent, spread uniformly by the hash), no ``rand()``.

Iterations are FIXED (no convergence probe): k-means always converges
monotonically in inertia, production trainers run a fixed small budget
(FAISS default: 10 passes on a sample), and a fixed count keeps runs
comparable and replayable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from olist_ecommerce_data_warehouse_spark.operators.lineage import (
    cut_lineage,
    release_cut,
)
from olist_ecommerce_data_warehouse_spark.operators.similarity import (
    ivf_assign,
    l2sq,
    quantized,
)


def _seed_centroids(q: DataFrame, k: int) -> list[list[int]]:
    """k deterministic seed vectors (smallest md5(vec_id)) of a
    ``(vec_id, cvec)`` frame, ordered by seed hash."""
    rows = (
        q.select(F.md5(F.col("vec_id").cast("string")).alias("__h"), "cvec")
        .orderBy("__h")
        .limit(k)
        .collect()
    )
    return [list(r["cvec"]) for r in rows]


def kmeans_train(vectors: DataFrame, k: int, n_iter: int) -> list[list[int]]:
    """Train k centroids with ``n_iter`` Lloyd iterations over quantized
    ``(vec_id, cvec)`` vectors; returns the int64 centroid list (k lists
    of d ints — feed to ``ivf_assign`` / ``ivf_probes`` / ``IVFIndex``,
    or divide by ``QUANT`` for float centroids).

    Empty clusters keep their previous centroid (FAISS behavior)."""
    # one scan of the input, reused by the seed collect and every Lloyd
    # iteration — lineage CUT, not persisted: each iteration's collect()
    # would re-embed the upstream plan in Catalyst analysis
    # (operators/lineage.py; measured 2.21 s → 1.84 s warm for 2
    # iterations at sf0.1, and the share grows when the vectors come
    # from a pipeline rather than a bare scan, e.g. SemDeDup's
    # corrupted corpus)
    q = cut_lineage(vectors.select("vec_id", "cvec"))
    try:
        centroids = _seed_centroids(q, k)
        for _ in range(n_iter):
            # update step: integer SUM/COUNT per (cluster, dim) — order-
            # independent, so means are exact and runs reproducible
            sums = (
                ivf_assign(q, centroids)
                .select("centroid_id", F.posexplode("cvec").alias("dim", "val"))
                .groupBy("centroid_id", "dim")
                .agg(F.sum("val").alias("s"), F.count(F.lit(1)).alias("n"))
                .collect()
            )
            new_c = [list(c) for c in centroids]  # empty clusters keep old
            for r in sums:
                # floor-division mean on the quantized grid: exact,
                # deterministic (Python ints, no float path)
                new_c[r["centroid_id"]][r["dim"]] = r["s"] // r["n"]
            centroids = new_c
    finally:
        release_cut(q)
    return centroids


def inertia(vectors: DataFrame, centroids: list[list[int]]) -> float:
    """Sum of squared L2 distances to the assigned centroid, on the
    quantized grid (divide by QUANT² per-term externally if the float
    scale is wanted).  The metric Lloyd monotonically decreases —
    exposed for tests and training diagnostics."""
    import numpy as np
    from pyspark.sql.types import DoubleType, StructField, StructType

    q = vectors.select(quantized("embedding").alias("__q"))

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            vm = np.stack([np.asarray(v, dtype=np.int64) for v in pdf["__q"]])
            d2 = l2sq(vm, centroids)
            yield pd.DataFrame({"d2": d2.min(axis=1).astype("float64")})

    out = q.mapInPandas(kernel, StructType([StructField("d2", DoubleType())]))
    return out.agg(F.sum("d2")).collect()[0][0]
