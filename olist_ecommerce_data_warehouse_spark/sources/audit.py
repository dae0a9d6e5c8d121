"""Audit trail (SURVEY.md §2.1 S6–S7, §2.9 C4).

Re-expresses ``audit.ingestion_run`` (02_create_tables_bronze.sql:110-124)
and the STARTED → SUCCESS/FAILED lifecycle every reference SP wraps
around its load (e.g. 03_load_csv_to_bronze.sql:35-69).

Spark has no SCOPE_IDENTITY; run_ids are assigned by the in-process
``AuditLog`` (monotone counter) and the log is persisted append-only —
one parquet append per terminal state, no read-modify-write (an
UPDATE-free design that stays correct under concurrent writers at
scale: the terminal row supersedes the STARTED row by (run_id, status)
precedence)."""

from __future__ import annotations

import datetime as dt
import traceback
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from olist_ecommerce_data_warehouse_spark.sources.csv import write_table

AUDIT_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.LongType()),
        T.StructField("source_system", T.StringType()),
        T.StructField("source_object", T.StringType()),
        T.StructField("target_schema", T.StringType()),
        T.StructField("target_table", T.StringType()),
        T.StructField("source_path", T.StringType()),
        T.StructField("load_started_at", T.TimestampType()),
        T.StructField("load_ended_at", T.TimestampType()),
        T.StructField("status", T.StringType()),  # STARTED | SUCCESS | FAILED
        T.StructField("rows_inserted", T.LongType()),
        T.StructField("error_message", T.StringType()),
    ]
)


@dataclass
class AuditLog:
    """In-memory audit log with parquet persistence."""

    spark: SparkSession
    rows: list[tuple] = field(default_factory=list)
    _next_run_id: int = 1

    def start_run(
        self,
        source_object: str,
        target_schema: str,
        target_table: str,
        source_path: str = "",
        source_system: str = "engine",
    ) -> tuple[int, dt.datetime]:
        run_id = self._next_run_id
        self._next_run_id += 1
        started = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
        self.rows.append(
            (run_id, source_system, source_object, target_schema, target_table,
             source_path, started, None, "STARTED", None, None)
        )
        return run_id, started

    def finish_run(
        self,
        run_id: int,
        started: dt.datetime,
        *,
        rows_inserted: int | None = None,
        error: BaseException | None = None,
    ) -> None:
        ended = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
        base = next(r for r in self.rows if r[0] == run_id)
        status = "FAILED" if error is not None else "SUCCESS"
        msg = "".join(traceback.format_exception_only(error)).strip() if error else None
        self.rows.append(
            (run_id, base[1], base[2], base[3], base[4], base[5],
             started, ended, status, rows_inserted, msg)
        )

    def write_table(
        self,
        df: DataFrame | Callable[[], DataFrame],
        base: str,
        target_schema: str,
        target_table: str,
        *,
        source_object: str = "",
        source_path: str = "",
        partition_by: list[str] | None = None,
    ) -> int:
        """C4, the one audited write of every stage: STARTED → write →
        SUCCESS(rows) / FAILED(error) + re-raise.  The table lands at
        ``{base}/{target_schema}/{target_table}``; ``rows_inserted`` is the
        write's own observed count.  ``df`` may be a zero-argument callable
        so a source read runs inside the audit scope."""
        run_id, started = self.start_run(
            source_object or target_table, target_schema, target_table, source_path
        )
        try:
            path = f"{base}/{target_schema}/{target_table}"
            n = write_table(df() if callable(df) else df, path, partition_by)
        except BaseException as e:
            self.finish_run(run_id, started, error=e)
            raise
        self.finish_run(run_id, started, rows_inserted=n)
        return n

    def to_df(self) -> DataFrame:
        return self.spark.createDataFrame(self.rows, AUDIT_SCHEMA)

    def save(self, path: str) -> None:
        self.to_df().write.mode("append").parquet(path)


def load_summary(audit_df: DataFrame, within_minutes: int | None = 5) -> DataFrame:
    """S7: the reference's post-load report
    (03_load_csv_to_bronze.sql:121-125): terminal rows, last-N-minutes
    window, duration seconds, newest first."""
    terminal = audit_df.filter(F.col("status").isin("SUCCESS", "FAILED"))
    if within_minutes is not None:
        terminal = terminal.filter(
            F.col("load_ended_at")
            > F.current_timestamp() - F.expr(f"interval {within_minutes} minutes")
        )
    return terminal.select(
        "run_id",
        "target_schema",
        "target_table",
        "status",
        "rows_inserted",
        (F.unix_timestamp("load_ended_at") - F.unix_timestamp("load_started_at")).alias(
            "duration_sec"
        ),
        "error_message",
    ).orderBy(F.desc("run_id"))
