"""JSONL (newline-delimited JSON) source/sink — the de-facto
interchange format of LLM training corpora (C4, The Pile, Dolma,
RedPajama all ship as .jsonl[.gz]); extension surface beyond the
reference's CSV-only ingestion (SURVEY.md §2.1).

Design rules, both the opposite of "just call spark.read.json":

- ALWAYS pass an explicit schema.  Schema inference runs a FULL extra
  pass over the data before the real read (at 100 TB that is a second
  100 TB scan), and worse, lets one malformed drop silently change
  column types between runs.  The corpus contract is the schema.
- Capture, don't drop, corrupt lines: PERMISSIVE mode with an explicit
  ``_corrupt_record`` column lands unparseable lines as raw text so a
  quarantine query can count/inspect them (the audit-sink pattern the
  reference applies to CSV loads).

Plain line-delimited JSON is splittable (unlike ``multiLine`` JSON
arrays — same caveat as multiLine CSV), so files parallelize by HDFS
split at any size; gzip members are not splittable, which is why
production corpora shard into many .jsonl.gz files of a few hundred MB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

CORRUPT_COL = "_corrupt_record"


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
) -> DataFrame:
    """Read newline-delimited JSON with an EXPLICIT schema (never
    inferred — see module notes) in PERMISSIVE mode: a
    ``_corrupt_record`` string column is appended: NULL for clean rows,
    the raw line for unparseable ones (quarantine with
    :func:`split_corrupt`).

    Implementation is ``read.text`` + ``from_json`` rather than the
    native JSON reader: the native reader's internal corrupt-record
    column may not be the only column a query references
    (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN), and the
    column-pruning optimizer re-creates exactly that situation under
    any quarantine ``count()`` — ``from_json`` over a text scan has no
    such restriction, parses in the same codegen'd JVM expression, and
    keeps the splittable-by-line property."""
    if CORRUPT_COL in schema.fieldNames():
        raise ValueError(f"read_jsonl: schema may not contain {CORRUPT_COL!r}")
    full = T.StructType(
        list(schema.fields) + [T.StructField(CORRUPT_COL, T.StringType(), True)]
    )
    lines = spark.read.text(path).filter(F.length(F.trim("value")) > 0)
    parsed = lines.select(
        F.from_json(
            "value",
            full,
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": CORRUPT_COL},
        ).alias("j")
    ).select("j.*")
    return parsed


def split_corrupt(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(clean, quarantine): clean rows with the corrupt column dropped;
    quarantine rows as ``raw_line`` (the unparseable text) PLUS the
    parsed columns — in PERMISSIVE mode a partially-parseable line
    keeps the fields that did parse, which is exactly the context a
    quarantine triage wants.  Keeping those columns in the projection
    also satisfies Spark's rule that a query over a raw JSON scan may
    not reference ONLY the internal corrupt-record column
    (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN) without
    forcing a cache of the whole parse."""
    clean = df.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    others = [c for c in df.columns if c != CORRUPT_COL]
    quarantine = df.filter(F.col(CORRUPT_COL).isNotNull()).select(
        F.col(CORRUPT_COL).alias("raw_line"), *others
    )
    return clean, quarantine


def write_jsonl(
    df: DataFrame,
    path: str,
) -> None:
    """Write a corpus shard set as .jsonl.gz: one JSON object per
    line, splittable layout (many files — one per task — not one giant
    member, which is the property gzip corpora rely on for parallel
    re-reads)."""
    df.write.mode("overwrite").option("compression", "gzip").json(path)
