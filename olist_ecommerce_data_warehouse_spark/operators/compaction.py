"""Small-files compaction — the table-maintenance operator every
incremental pipeline eventually needs.

Append-based loads (``pipeline/corpus.py::apply_increment``,
``streaming_ingest``, the foreachBatch upsert) accrete files; small
files are the classic lakehouse tax (per-file open/footer cost at the
scan, driver memory for file listings, tiny row groups defeating
column-stat skipping).  ``compact_table`` rewrites a parquet directory
to ~``TARGET_FILE_BYTES`` files and swaps it in with the same
crash-recoverable two-rename protocol (and the same hidden
``.compact_tmp/`` staging namespace policy) as the streaming upsert
sink — a crash at any point leaves either the old or the new table
readable at the live path, never neither and never a half-rewrite.

The rewrite is content-preserving by construction (one read → one
write, no row transformations).
"""

from __future__ import annotations

import math

from pyspark.sql import SparkSession

from olist_ecommerce_data_warehouse_spark.streaming.merge import _hadoop_fs

TARGET_FILE_BYTES = 128 * 1024 * 1024


def table_file_stats(spark: SparkSession, path: str) -> dict:
    """{n_files, total_bytes, avg_bytes} for the parquet data files at
    ``path`` — the numbers a compaction decision reads."""
    fs, hpath = _hadoop_fs(spark, path)
    it = fs.listFiles(hpath, True)
    n, total = 0, 0
    while it.hasNext():
        st = it.next()
        name = st.getPath().getName()
        if name.startswith(("_", ".")):
            continue
        n += 1
        total += st.getLen()
    return {"n_files": n, "total_bytes": total, "avg_bytes": total // n if n else 0}


def compact_table(spark: SparkSession, path: str) -> dict:
    """Rewrite ``path`` to ``ceil(total_bytes / TARGET_FILE_BYTES)``
    files (at least one).  Returns {before, after, n_out} stats.  Crash-safe swap:
    stage under ``.compact_tmp/``, two renames, recovery of a
    live-missing/trash-present state on the next call — byte-for-byte
    the upsert sink's protocol."""
    clean = path.rstrip("/")
    parent, base = clean.rsplit("/", 1)
    tmp_ns = f"{parent or '.'}/.compact_tmp"
    staging_path = f"{tmp_ns}/{base}__staging"
    trash_path = f"{tmp_ns}/{base}__old"
    fs, live = _hadoop_fs(spark, clean)
    _, staging = _hadoop_fs(spark, staging_path)
    _, trash = _hadoop_fs(spark, trash_path)
    fs.mkdirs(_hadoop_fs(spark, tmp_ns)[1])
    # recovery BEFORE any listing: a crash between the swap's renames
    # leaves live missing and the old table in trash
    if not fs.exists(live) and fs.exists(trash):
        if not fs.rename(trash, live):
            raise IOError(f"compact recovery rename failed: {trash_path} -> {clean}")

    stats = table_file_stats(spark, path)
    n_out = max(1, math.ceil(stats["total_bytes"] / TARGET_FILE_BYTES))

    fs.delete(staging, True)
    spark.read.parquet(clean).repartition(n_out).write.parquet(staging_path)

    fs.delete(trash, True)
    if fs.exists(live) and not fs.rename(live, trash):
        raise IOError(f"compact swap rename failed: {clean} -> {trash_path}")
    if not fs.rename(staging, live):
        fs.rename(trash, live)
        raise IOError(f"compact swap rename failed: {staging_path} -> {clean}")
    fs.delete(trash, True)
    return {"before": stats, "after": table_file_stats(spark, clean), "n_out": n_out}
