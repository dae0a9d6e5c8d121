"""Training-shard export: deterministic epoch shuffle + fixed-shard
layout — the last mile between the corpus pipeline and a dataloader.

Reference scope: the reference warehouse ends at gold tables
(`06_create_gold_tables.sql`); a pre-training pipeline ends at SHARDS —
N files a dataloader can stream round-robin, where (a) every epoch
sees the data in a different but REPRODUCIBLE order, and (b) shard
membership/order never depends on partition scheduling, so a re-export
after a cluster resize is byte-for-byte the same layout.

Design (all engine-native, zero Python in the row path):

- shuffle key: ``xxhash64(id, epoch)`` — a deterministic per-epoch
  permutation (the "seeded shuffle" of T5/Dolma dataloaders), NOT
  ``rand()``: random would make rebuilds non-reproducible and retries
  double-see documents.  Different epochs reshuffle both shard
  membership and within-shard order.
- shard = ``pmod(key, n_shards)``: membership is a pure row function,
  independent of partitioning.
- layout: ``repartition(n_shards, shard)`` then
  ``sortWithinPartitions(shard, key, id)`` → Hive-style
  ``shard=K/part-*.parquet`` dirs, ONE file per shard (each shard's
  rows hash to exactly one partition), rows in key order inside the
  file.

100 TB posture: one full shuffle of the corpus (unavoidable — a global
permutation IS a shuffle) with integer keys; no driver collection, no
skew (xxhash64 is uniform); shard count and file size bound the output
so downstream streaming reads are balanced.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def epoch_shuffle_key(id_col: Column | str, epoch: int) -> Column:
    """Deterministic per-epoch permutation key for a document id."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    return F.xxhash64(c, F.lit(int(epoch)))


def export_training_shards(
    df: DataFrame,
    path: str,
    n_shards: int,
    id_col: str = "doc_id",
    epoch: int = 0,
    order_cols: list[str] | None = None,
) -> dict:
    """Write ``df`` as ``n_shards`` Hive-partitioned training shards
    under ``path`` (``shard=K/``), deterministically shuffled for
    ``epoch``.  Returns a small manifest dict {n_rows, n_shards,
    epoch, shard_counts} for audit logging — counts come from one
    aggregation over the same frame, not from listing files.

    When ``id_col`` is a GROUP id (e.g. a packed-sequence id shared by
    several rows), the whole group shards together — pass
    ``order_cols`` (e.g. the within-sequence offset) to pin the
    internal row order of each group."""
    key = epoch_shuffle_key(id_col, epoch)
    out = df.withColumn("__shuffle_key", key).withColumn(
        "shard", F.pmod(F.col("__shuffle_key"), F.lit(n_shards)).cast("int")
    )
    (
        out.repartition(n_shards, "shard")
        .sortWithinPartitions("shard", "__shuffle_key", id_col, *(order_cols or []))
        .drop("__shuffle_key")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(path)
    )
    counts = {
        r["shard"]: r["n"]
        for r in out.groupBy("shard").agg(F.count("*").alias("n")).collect()
    }
    return {
        "n_rows": int(sum(counts.values())),
        "n_shards": n_shards,
        "epoch": epoch,
        "shard_counts": {int(k): int(v) for k, v in sorted(counts.items())},
    }


def read_shard(spark, path: str, shard: int) -> DataFrame:
    """One shard, in its written (epoch-shuffled) order — what a
    dataloader worker streams."""
    return spark.read.parquet(f"{path}/shard={shard}")
