"""Table catalog over the driver's parquet test tables.

The reference declares fixed schemas per layer (DDL in
``02_create_tables_bronze.sql`` / ``04_create_silver_tables.sql`` /
``06_create_gold_tables.sql``).  Here the physical tables are the
driver's TPC-H-ish parquet files (see TESTDATA.md); this module is the
single place that maps logical table names to storage so every plan
reads through one chokepoint (→ easy to swap parquet dirs for a real
metastore / Delta at cluster scale).

Reads are plain ``spark.read.parquet`` — Catalyst pushes filters and
prunes columns into the scan, so callers should NOT ``.cache()`` or
materialize here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one logical table from ``sf_dir`` (lazy; no action triggered).

    ``events.ts`` has shipped in two physical layouts across driver
    testdata generations: nanosecond parquet timestamps (which Spark's
    vectorized reader rejects → read as raw nanos via the legacy long
    mode and divide by 1000; integer division is exact on BIGINT where
    a double division would lose precision above 2^53 ns ≈ 104 days)
    and plain microsecond timestamps (read natively, no conversion).
    Both normalize to the session-zone TIMESTAMP type (UTC session →
    identical wall-clock values to the naive timestamps DuckDB reads),
    so every downstream plan and oracle sees one schema.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    if name == "events":
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType

        path = f"{sf_dir}/{name}.parquet"
        try:
            df = spark.read.parquet(path)
            df.schema  # force schema resolution now, inside the try
        except Exception:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            df = spark.read.parquet(path)
        if isinstance(df.schema["ts"].dataType, LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        else:
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def spread(df: DataFrame) -> DataFrame:
    """Rebalance a NARROW scan across the cluster before CPU-heavy
    per-row work (tokenize / per-token hashing / explode / Arrow
    kernels).

    The driver's test tables are single-file, single-ROW-GROUP parquet
    (TESTDATA.md) — a parquet scan cannot split below one row group,
    so every scan here plans exactly ONE task and a CPU-bound map
    chain above it runs single-threaded on a 32-core box (measured:
    text_lang_id's feature-count map stage = 5.1 s in one task while
    31 cores idle — the guide §2.5 "input skew: one huge unsplittable
    file" case; its §6 split-size knobs cannot help because
    maxPartitionBytes/openCostInBytes only split BETWEEN row groups).
    The fix is the same one the dedup plans shipped in round 1
    (``plans.llm_dedup._corrupted``): one round-robin repartition of
    the raw rows to cluster width before the expensive map.

    Scale-adaptive by construction, not by constant: the target is
    ``defaultParallelism`` (cluster width on any deployment), and a
    scan that already carries >= that many partitions — every real
    100 TB table — returns UNCHANGED, so no shuffle is ever added at
    the scale where the input is genuinely wide.  ``df.rdd`` triggers
    physical planning only (no job).

    Round 11 (ADVICE r10): the trigger is PATHOLOGICALLY narrow scans
    only — a scan already carrying more than half the target width
    pays a full raw-row shuffle (including the heavy text column) for
    a sub-2× parallelism gain, so it returns unchanged too.  The
    driver's one-row-group test tables scan at 1 partition and still
    rebalance; a mid-width input (a handful of row groups) keeps its
    natural layout."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() * 2 >= target:
        return df
    return df.repartition(target)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so ``spark.sql`` plans can
    name them exactly like the DuckDB oracle does."""
    for name in TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)
