"""MERGE/upsert: incremental table maintenance as a pure DataFrame
transform.

The reference maintains every table by full refresh (TRUNCATE +
INSERT..SELECT — `01_create_database_and_schemas.sql:156` design rule,
`07_etl_silver_to_gold.sql:197-198`), which is the right call at Olist
scale but untenable at 100 TB: reloading a petabyte fact table to apply
a day of changes is the canonical scale failure.  This operator is the
incremental counterpart — ANSI ``MERGE INTO`` semantics (SQL:2003;
Delta/Iceberg ``MERGE`` is the same contract) expressed as ONE
null-safe full-outer join:

- matched (key in both) → source values win; flagged ``update`` only
  when a compared column actually differs (null-safely), else
  ``unchanged`` — so downstream writers can skip no-op rows;
- source-only → ``insert``;
- target-only → ``keep`` (incremental-batch semantics: absence from a
  delta feed means "no change").

Scale shape: one shuffle on the merge key for each side (co-located if
both are bucketed by key — ``sources/bucketed.py`` — in which case the
join plans with zero Exchange), no window, no driver state.  The
output feeds an overwrite of affected partitions (or a Delta MERGE on
real deployments); the operator itself stays engine-portable.

Determinism: column resolution is ``coalesce``-free — presence flags
pick a side explicitly, so a NULL update value correctly overwrites a
non-NULL target value (the classic coalesce-merge bug)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def merge_upsert(
    target: DataFrame,
    source: DataFrame,
    keys: list[str],
) -> DataFrame:
    """Merge ``source`` into ``target`` on ``keys``; returns the merged
    table with ``__merge_action`` ∈ insert/update/unchanged/keep.

    Both sides must share the same schema; every non-key column takes
    part in change detection.

    Merge keys are primary keys, joined with plain equality (the SQL
    MERGE contract — NULL-keyed rows never match): that keeps the join
    on RAW key columns, which is what lets co-located bucketed tables
    plan with zero Exchange
    (``tests/test_plan_quality.py::test_bucketed_merge_upsert_zero_
    exchange``); ``eqNullSafe`` would wrap the key in an expression and
    silently disable the bucket join.  VALUE comparison is null-safe."""
    non_key = [c for c in target.columns if c not in keys]
    if source.columns != target.columns:
        raise ValueError(
            f"merge_upsert: schemas differ: {source.columns} vs {target.columns}"
        )

    t = target.select(
        *[F.col(c).alias(f"__t_{c}") for c in target.columns],
        F.lit(1).alias("__in_t"),
    )
    s = source.select(
        *[F.col(c).alias(f"__s_{c}") for c in source.columns],
        F.lit(1).alias("__in_s"),
    )
    cond = None
    for k in keys:
        c = F.col(f"__t_{k}") == F.col(f"__s_{k}")
        cond = c if cond is None else (cond & c)
    joined = t.join(s, cond, "full_outer")

    in_t = F.col("__in_t").isNotNull()
    in_s = F.col("__in_s").isNotNull()
    differs = None
    for c in non_key:
        d = ~F.col(f"__t_{c}").eqNullSafe(F.col(f"__s_{c}"))
        differs = d if differs is None else (differs | d)
    if differs is None:  # key-only table
        differs = F.lit(False)

    action = (
        F.when(in_t & in_s & differs, "update")
        .when(in_t & in_s, "unchanged")
        .when(in_s, "insert")
        .otherwise("keep")
    )
    # explicit side pick per column — source wins whenever present
    # (even with NULL values: no coalesce)
    out_cols = [
        F.when(in_s, F.col(f"__s_{c}")).otherwise(F.col(f"__t_{c}")).alias(c)
        for c in target.columns
    ]
    return joined.select(*out_cols, action.alias("__merge_action"))
