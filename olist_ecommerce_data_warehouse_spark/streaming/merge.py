"""Streaming incremental upsert — the ``foreachBatch`` + MERGE pattern
that keeps a warehouse table continuously current from a stream.

Every production "stream into the warehouse" pipeline is this shape
(Structured Streaming's own docs recommend it; Delta's streaming MERGE
is the same loop with a transactional table format underneath):

  micro-batch → dedup within batch (keep latest per key) →
  MERGE into target → commit

The merge step reuses ``operators.merge.merge_upsert`` — the batch and
streaming paths share one implementation, so semantics cannot drift.

Exactly-once notes (the part people get wrong):
- the checkpoint makes micro-batch REPLAY possible after failure, so
  the sink must be IDEMPOTENT per batch — MERGE on keys is exactly
  that (replaying a batch re-applies the same updates; an append sink
  would duplicate);
- within a batch, multiple CDC rows per key collapse to the latest by
  ``order_col`` BEFORE merging — merge is then key-unique by
  construction;
- plain parquet is not transactional: the merged result is written to
  a STAGING directory first (under a hidden ``.upsert_tmp/`` namespace
  beside the target — never a bare ``<target>__suffix`` path a real
  table could occupy), then swapped in with two FS renames
  (old → trash, staging → live), mirroring ``sources.bucketed``'s
  write-then-swap.  An executor loss or driver crash mid-write leaves
  the live table intact (worst case: a stale staging dir that the next
  batch overwrites).  Delta/Iceberg under this same loop would make
  the swap a metadata commit; the operator keeps the engine-portable
  contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from olist_ecommerce_data_warehouse_spark.operators.merge import merge_upsert


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) pair for ``path`` via the JVM Hadoop API —
    version-independent existence checks and atomic-ish renames,
    instead of sniffing AnalysisException message text."""
    jvm = spark.sparkContext._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return fs, hpath


def upsert_batch(
    batch_df: DataFrame,
    target_path: str,
    keys: list[str],
    order_col: str,
) -> None:
    """Apply one micro-batch to the parquet table at ``target_path``:
    keep the latest row per key within the batch, MERGE into the
    current target (create it on first batch).  Idempotent: replaying
    the same batch yields the same table."""
    spark = batch_df.sparkSession
    w = Window.partitionBy(*keys).orderBy(F.desc(order_col))
    latest = (
        batch_df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    # First-batch detection by explicit FS probe (not by parsing
    # AnalysisException text, whose wording is Spark-version-dependent).
    # Any read error on an EXISTING path (schema drift, corrupt footer,
    # transient FS failure) propagates: swallowing it would replace the
    # whole table with one micro-batch — unrecoverable data loss.
    fs, live = _hadoop_fs(spark, target_path)
    # Staging/trash live in a HIDDEN namespaced dir next to the target
    # (.upsert_tmp/<basename>__{staging,old}), not at bare
    # target_path+suffix: nothing reserves plain sibling suffixes, so a
    # genuine user table at "<target>__old" would have been silently
    # destroyed by the unconditional cleanup deletes below.  Dot-prefixed
    # dirs are also invisible to Spark/Hive directory listings, so a
    # glob over the warehouse root never picks up half-written staging
    # files as data.
    base = target_path.rstrip("/")
    parent, _, name = base.rpartition("/")
    tmp_ns = f"{parent or '.'}/.upsert_tmp"
    staging_path = f"{tmp_ns}/{name}__staging"
    trash_path = f"{tmp_ns}/{name}__old"
    _, staging = _hadoop_fs(spark, staging_path)
    _, trash = _hadoop_fs(spark, trash_path)
    fs.mkdirs(_hadoop_fs(spark, tmp_ns)[1])
    # CRASH RECOVERY: a death between the swap's two renames leaves no
    # live dir but a complete trash dir — without this restore, the
    # next batch would misread that as "first batch", bootstrap from
    # the bare micro-batch, and delete the trash below: silent loss of
    # the whole table.  (trash is only ever written by the rename of a
    # complete, previously-live table, so restoring it is always safe.)
    if not fs.exists(live) and fs.exists(trash):
        if not fs.rename(trash, live):
            # Hadoop FileSystem.rename reports most failures as False,
            # not an exception — falling through would re-enter the
            # exact table-loss path this restore exists to prevent
            raise IOError(f"failed to restore {trash_path} to {target_path}")
    target = spark.read.parquet(target_path) if fs.exists(live) else None
    merged = latest if target is None else merge_upsert(target, latest, keys).drop(
        "__merge_action"
    )
    # Write-then-swap: stage the merged result, then rename into place.
    # The live table is never half-deleted while a lazy plan still reads
    # it, and a crash during the staging write leaves it untouched.
    fs.delete(staging, True)
    merged.write.mode("overwrite").parquet(staging_path)
    fs.delete(trash, True)
    if fs.exists(live) and not fs.rename(live, trash):
        raise IOError(f"failed to move {target_path} aside to {trash_path}")
    if not fs.rename(staging, live):
        # put the old table back so the sink stays readable
        fs.rename(trash, live)
        raise IOError(f"failed to swap {staging_path} into {target_path}")
    fs.delete(trash, True)


def streaming_upsert(
    stream: DataFrame,
    target_path: str,
    checkpoint: str,
    keys: list[str],
):
    """Continuously MERGE ``stream`` into the parquet table at
    ``target_path``; within a batch the latest ``ts`` per key wins.
    Returns the started StreamingQuery (``availableNow`` trigger: drains
    everything currently available then stops — the incremental-backfill
    mode; a production run swaps in a processingTime trigger, same code
    path)."""
    return (
        stream.writeStream.foreachBatch(
            lambda bdf, _bid: upsert_batch(bdf, target_path, keys, "ts")
        )
        .option("checkpointLocation", checkpoint)
        .queryName("streaming_upsert")
        .trigger(availableNow=True)
        .start()
    )
