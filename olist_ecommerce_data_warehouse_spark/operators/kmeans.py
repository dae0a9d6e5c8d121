"""Distributed k-means (Lloyd's algorithm) for IVF centroid training.

The IVF ANN plan (`plans/similarity.py::ann_ivf_topk`) buckets the
corpus by nearest centroid; any fixed centroid set yields a *correct*
index (every vector lands in its nearest bucket), but *recall per
probe* depends on how well centroids match the data distribution —
production IVF indexes (FAISS et al.) train them with a few Lloyd
iterations.  This operator is that trainer, Spark-first:

- **assignment step** = one broadcast of the k×d centroid matrix into
  an Arrow-batched ``mapInPandas`` kernel (numpy Gram argmin — the
  same kernel shape as ``similarity.ivf_assign``); narrow, no shuffle.
- **update step** = posexplode to (cluster, dim, value) + one
  hash-aggregation; k×d means collect to the driver (k·d doubles — the
  canonical small-model / big-data loop every Spark ML iteration uses).
- **determinism**: vectors are quantized to exact int64 (1e-6 grid,
  the library-wide strategy from ``operators/similarity.py``); means
  aggregate integer SUM + COUNT (order-independent, unlike float
  summation) and re-quantize, and ties in argmin break toward the
  lower cluster id.  Same input ⇒ bit-identical centroids on any
  cluster layout, any retry — the property that makes a trained index
  reproducible enough to hash-check.
- **seeding**: the k seed vectors are the rows with the k smallest
  ``md5(id)`` values — a deterministic pseudo-random sample (content-
  independent, spread uniformly by the hash), no ``rand()``.

Iterations are FIXED (no convergence probe): k-means always converges
monotonically in inertia, production trainers run a fixed small budget
(FAISS default: 10 passes on a sample), and a fixed count keeps runs
comparable and replayable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from olist_ecommerce_data_warehouse_spark.operators.lineage import cut_lineage
from olist_ecommerce_data_warehouse_spark.operators.similarity import quantized


def _qcol(vec_col: str, pre_quantized: bool):
    """The int64 vector expression: quantize floats, or pass through a
    column that already carries exact grid int64s (e.g. a corpus that
    was perturbed ON the grid — re-quantizing would scale it again)."""
    return F.col(vec_col) if pre_quantized else quantized(vec_col)


def _seed_centroids(q: DataFrame, k: int):
    """k deterministic seed vectors (smallest md5(id)) of an
    ``(__id, __q)`` frame as a list of int64-quantized lists, ordered
    by seed hash."""
    rows = (
        q.select(F.md5(F.col("__id").cast("string")).alias("__h"), "__q")
        .orderBy("__h")
        .limit(k)
        .collect()
    )
    return [list(r["__q"]) for r in rows]


def _assign_kernel(centroids, vec_col: str):
    """mapInPandas kernel: argmin-L2 cluster id per row (ties → lower
    cluster id, numpy argmin's own rule)."""
    import numpy as np

    cm = np.asarray(centroids, dtype=np.int64)  # k × d

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            vm = np.stack(
                [np.asarray(v, dtype=np.int64) for v in pdf[vec_col]]
            )  # n × d
            # ||v - c||² = ||v||² - 2v·c + ||c||²; ||v||² constant per
            # row → argmin over (-2v·c + ||c||²), exact int64 math
            g = vm @ cm.T  # n × k exact (within int64 range: |q|≤1e6·O(1), d small)
            cn = np.einsum("ij,ij->i", cm, cm)  # k
            scores = -2 * g + cn[None, :]
            cluster = np.argmin(scores, axis=1).astype(np.int32)
            yield pd.DataFrame(
                {"__id": pdf["__id"].to_numpy(), "cluster": cluster}
            )

    return kernel


def kmeans_train(
    vectors: DataFrame,
    vec_col: str = "embedding",
    k: int = 8,
    n_iter: int = 3,
    pre_quantized: bool = False,
) -> list[list[int]]:
    """Train k centroids with ``n_iter`` Lloyd iterations; returns the
    int64-quantized centroid matrix (k lists of d ints — feed to
    ``kmeans_assign`` or divide by ``QUANT`` for float centroids).

    Empty clusters keep their previous centroid (FAISS behavior)."""
    import numpy as np
    from pyspark.sql.types import (
        ArrayType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    q = vectors.select(
        F.col("vec_id").alias("__id"), _qcol(vec_col, pre_quantized).alias("__q")
    )
    if n_iter > 0:
        # one scan+quantize, reused by every Lloyd iteration — lineage
        # CUT, not persisted: each iteration's collect() would re-embed
        # the upstream plan in Catalyst analysis (operators/lineage.py;
        # measured 2.21 s → 1.84 s warm for 2 iterations at sf0.1, and
        # the share grows when the vectors come from a pipeline rather
        # than a bare scan, e.g. SemDeDup's quantized corpus)
        q = cut_lineage(q)
    # seeds come off the MATERIALIZED q (same (id, quantized-vec) rows
    # — bit-identical seed vectors) instead of re-deriving the
    # scan+quantize subtree from ``vectors``; with n_iter=0 there is no
    # materialization to reuse and the raw input is the cheaper source
    seed_src = q if n_iter > 0 else vectors.select(
        F.col("vec_id").alias("__id"), _qcol(vec_col, pre_quantized).alias("__q")
    )
    centroids = _seed_centroids(seed_src, k)
    train_schema = StructType(
        [StructField("cluster", IntegerType()), StructField("__q", ArrayType(LongType()))]
    )
    try:
        for _ in range(n_iter):
            cm_snapshot = centroids

            def train_kernel(batches, _cm=cm_snapshot):
                # emits (cluster, vector) DIRECTLY — the kernel already
                # holds the vector, so no shuffle join back onto q
                import pandas as pd

                cm = np.asarray(_cm, dtype=np.int64)
                cn = np.einsum("ij,ij->i", cm, cm)
                for pdf in batches:
                    if len(pdf) == 0:
                        continue
                    vm = np.stack([np.asarray(v, dtype=np.int64) for v in pdf["__q"]])
                    cluster = np.argmin(-2 * (vm @ cm.T) + cn[None, :], axis=1)
                    yield pd.DataFrame(
                        {"cluster": cluster.astype("int32"), "__q": list(pdf["__q"])}
                    )

            # update step: integer SUM/COUNT per (cluster, dim) — order-
            # independent, so means are exact and runs reproducible
            sums = (
                q.mapInPandas(train_kernel, schema=train_schema)
                .select("cluster", F.posexplode("__q").alias("dim", "val"))
                .groupBy("cluster", "dim")
                .agg(F.sum("val").alias("s"), F.count(F.lit(1)).alias("n"))
                .collect()
            )
            new_c = [list(c) for c in centroids]  # empty clusters keep old
            acc: dict[int, list[tuple[int, int, int]]] = {}
            for r in sums:
                acc.setdefault(r["cluster"], []).append((r["dim"], r["s"], r["n"]))
            for c_id, dims in acc.items():
                for dim, s, n in dims:
                    # floor-division mean on the quantized grid: exact,
                    # deterministic (Python ints, no float path)
                    new_c[c_id][dim] = s // n
            centroids = new_c
    finally:
        if n_iter > 0:
            q.unpersist()
    return centroids


def kmeans_assign(
    vectors: DataFrame,
    centroids: list[list[int]],
    vec_col: str = "embedding",
    pre_quantized: bool = False,
    keep_vec: bool = False,
) -> DataFrame:
    """(vec_id, cluster) for every vector — nearest trained centroid
    (exact-int argmin, ties toward lower cluster id).  One narrow
    Arrow pass; the IVF bucketing step at index-build time.

    ``keep_vec=True`` additionally carries the quantized vector through
    the kernel as ``vec_col`` — the shape block-local consumers
    (SemDeDup's per-cluster Gram pass) want, avoiding a shuffle join
    back onto the corpus just to reunite (id, cluster) with its
    vector."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        ArrayType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    q = vectors.select(
        F.col("vec_id").alias("__id"), _qcol(vec_col, pre_quantized).alias("__q")
    )
    if not keep_vec:
        schema = StructType(
            [StructField("__id", LongType()), StructField("cluster", IntegerType())]
        )
        return q.mapInPandas(_assign_kernel(centroids, "__q"), schema=schema).select(
            F.col("__id").alias("vec_id"), "cluster"
        )

    cm = np.asarray(centroids, dtype=np.int64)
    cn = np.einsum("ij,ij->i", cm, cm)

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            vm = np.stack([np.asarray(v, dtype=np.int64) for v in pdf["__q"]])
            cluster = np.argmin(-2 * (vm @ cm.T) + cn[None, :], axis=1)
            yield pd.DataFrame(
                {
                    "__id": pdf["__id"].to_numpy(),
                    "cluster": cluster.astype("int32"),
                    "__q": list(pdf["__q"]),
                }
            )

    schema = StructType(
        [
            StructField("__id", LongType()),
            StructField("cluster", IntegerType()),
            StructField("__q", ArrayType(LongType())),
        ]
    )
    return q.mapInPandas(kernel, schema=schema).select(
        F.col("__id").alias("vec_id"), "cluster", F.col("__q").alias(vec_col)
    )


def inertia(vectors: DataFrame, centroids: list[list[int]]) -> float:
    """Sum of squared L2 distances to the assigned centroid, on the
    quantized grid (divide by QUANT² per-term externally if the float
    scale is wanted).  The metric Lloyd monotonically decreases —
    exposed for tests and training diagnostics."""
    import numpy as np

    cm = np.asarray(centroids, dtype=np.int64)

    q = vectors.select(quantized("embedding").alias("__q"))

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            vm = np.stack([np.asarray(v, dtype=np.int64) for v in pdf["__q"]])
            g = vm @ cm.T
            cn = np.einsum("ij,ij->i", cm, cm)
            vn = np.einsum("ij,ij->i", vm, vm)
            d2 = vn[:, None] - 2 * g + cn[None, :]
            yield pd.DataFrame({"d2": d2.min(axis=1).astype("float64")})

    from pyspark.sql.types import DoubleType, StructField, StructType

    out = q.mapInPandas(kernel, StructType([StructField("d2", DoubleType())]))
    return out.agg(F.sum("d2")).collect()[0][0]
