"""CSV bronze ingestion (SURVEY.md §2.1 S1–S3, S5).

Mirrors the reference's parameterized ``sp_bulk_load_bronze``
(03_load_csv_to_bronze.sql:15-74): header skip, configurable field
terminator, quote char, UTF-8 — but lands all-string bronze tables as
Parquet with ``mode('overwrite')`` (the TRUNCATE+INSERT full-refresh
contract, 01_create_database_and_schemas.sql:156).

The reference needed a pandas pre-pass to strip embedded newlines from
quoted review text (dataset_olist/fix_order_reviews_dataset.py:9-17);
Spark's ``multiLine`` CSV mode parses quoted newlines natively, so the
repair becomes an in-engine ``regexp_replace`` (S3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def all_string_schema(columns: list[str]) -> T.StructType:
    """Bronze contract: every column lands as a nullable string so no
    CSV content can fail the load (02_create_tables_bronze.sql:22-108)."""
    return T.StructType([T.StructField(c, T.StringType(), True) for c in columns])


def read_csv_bronze(
    spark: SparkSession,
    path: str,
    columns: list[str],
    *,
    sep: str = ",",
    quote: str = '"',
    escape: str = "\\",
    multi_line: bool = False,
) -> DataFrame:
    """S1/S2: delimited source with header skip (FIRSTROW=2), UTF-8,
    quoted fields (BULK INSERT options, 03_load_csv_to_bronze.sql:41-52).
    ``multi_line=True`` parses embedded newlines inside quotes (S3).
    For RFC-4180 files that escape quotes by doubling (the reference's
    ``FORMAT='CSV'`` mode) pass ``escape='"'``.

    Scale note: multiLine CSV is NOT splittable (one file = one task);
    keep raw drops in many files or convert to Parquet at the edge."""
    return spark.read.csv(
        path,
        schema=all_string_schema(columns),
        header=True,
        sep=sep,
        quote=quote,
        escape=escape,
        encoding="UTF-8",
        multiLine=multi_line,
        mode="PERMISSIVE",
    )


def strip_embedded_newlines(df: DataFrame, cols: list[str]) -> DataFrame:
    """S3 in-engine: the reference's pandas repair
    (replace '\\n'→' ', '\\r'→'') re-expressed as column ops."""
    for c in cols:
        df = df.withColumn(
            c, F.regexp_replace(F.regexp_replace(F.col(c), "\n", " "), "\r", "")
        )
    return df


def write_table(df: DataFrame, path: str, partition_by: list[str] | None = None) -> int:
    """S5: idempotent full-refresh sink (TRUNCATE+INSERT ⇒
    mode('overwrite')).  ``partition_by`` enables partition pruning on
    date-key style columns for 100 TB fact tables.

    Returns the rows written, counted by an observed ``count(1)`` that
    rides along the write job (no job re-reads the table); a failed
    write raises before the observation is read."""
    rows = Observation()
    w = df.observe(rows, F.count(F.lit(1)).alias("n")).write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)
    return rows.get["n"]
