"""Persistent IVF vector index — build once, search many.

The registry plan ``ann_ivf_topk`` trains and searches inside one
query (so the driver's oracle can replay the whole pipeline); a
production vector store builds the index ONCE and answers query
batches against the stored layout.  This operator is that lifecycle,
Spark-first:

- **construct**: ``IVFIndex(spark, centroids, assigned)`` from trained
  centroids (``operators/kmeans.py`` distributed Lloyd) and the
  assigned corpus (``ivf_assign``, narrow Arrow pass) — the calls
  ``ann_ivf_topk`` makes.
- **save**: centroids as one tiny parquet; the assigned corpus
  ``partitionBy("centroid_id")`` — the cluster IS the physical layout,
  so a search that probes ``nprobe`` of ``nlist`` clusters reads only
  those directories.  This is the Spark-native analogue of FAISS's
  inverted lists: partition pruning does the "inverted" part.
- **load**: centroids to the driver (k×d ints — broadcast-sized by
  construction), assigned table lazily.  Both reads go through
  ``spark.read``, so a bare path and any Hadoop scheme (``file://``,
  ``hdfs://``, ``s3a://``) take the same route.
- **search**: probe selection driver-side (``ivf_probes`` over the
  centroid list), then a
  STATIC ``centroid_id IN (probed)`` filter on the assigned table —
  static, not a join, precisely so Catalyst turns it into
  PartitionFilters at the scan (asserted in tests) — then the shared
  batch-bounded Gram scorer (``ivf_topk``).

Determinism: training is the bit-deterministic integer Lloyd, the
layout is content-derived, so rebuild-from-same-corpus produces an
identical index.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from olist_ecommerce_data_warehouse_spark.operators.similarity import (
    ivf_probes,
    ivf_topk,
)


class IVFIndex:
    def __init__(self, spark: SparkSession, centroids: list[list[int]], assigned: DataFrame):
        self.spark = spark
        self.centroids = centroids
        self.assigned = assigned

    def save(self, path: str) -> None:
        # the one place the centroid list becomes a frame: its stored form
        self.spark.createDataFrame(
            [(i, [int(x) for x in v]) for i, v in enumerate(self.centroids)],
            "centroid_id long, centvec array<bigint>",
        ).write.mode("overwrite").parquet(f"{path}/centroids")
        (
            self.assigned.write.mode("overwrite")
            .partitionBy("centroid_id")
            .parquet(f"{path}/assigned")
        )

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "IVFIndex":
        cent_rows = (
            spark.read.parquet(f"{path}/centroids").orderBy("centroid_id").collect()
        )
        assigned = spark.read.parquet(f"{path}/assigned")
        return cls(spark, [list(r["centvec"]) for r in cent_rows], assigned)

    def search(self, queries: DataFrame, k: int = 5, nprobe: int = 2) -> DataFrame:
        """(query_id, vec_id, cosine, rank) — queries: (query_id, qvec)
        int64-quantized.  Probed-cluster pruning happens via a STATIC
        IN filter so it reaches the parquet scan as PartitionFilters
        when the index was loaded from its partitioned layout."""
        probes = ivf_probes(queries, self.centroids, nprobe=nprobe)
        if not probes:
            return ivf_topk(self.assigned.limit(0), probes, k=k)
        probed = self.assigned.filter(
            F.col("centroid_id").isin([int(c) for c in probes])
        )
        return ivf_topk(probed, probes, k=k)
