"""Slowly-changing-dimension Type 2 builder.

The reference's ``gold.dim_customer`` carries SCD-2 scaffolding —
``effective_start_date`` / ``effective_end_date`` / ``is_current``
(06_create_gold_tables.sql:60-62) — but its load is a full-refresh
SCD-1 (07_etl_silver_to_gold.sql:99-116), so the columns never change
state.  This operator supplies the declared-but-unshipped capability
as a real engine primitive.

Semantics: given an attribute-change history (one row per version of
a natural key, stamped with the version's effective timestamp),
produce the standard SCD-2 shape — each version effective from its
own timestamp until the next version's (NULL for the current one).

Scale: one window partitioned by the natural key — shuffles the
history by key once; no global window, no driver-side state.  At
100 TB the history table is itself incremental (late versions land in
their key's partition), which is exactly the shape Structured
Streaming's ``applyInPandasWithState`` variant consumes.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_SCD_COLS = ("effective_start", "effective_end", "is_current")


def scd2_from_history(
    history: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
) -> DataFrame:
    """history(key..., attrs..., ts) → SCD-2 rows.

    ``effective_end`` is the NEXT version's start (half-open intervals,
    standard Kimball); NULL end ⇔ ``is_current`` = 1."""
    w = Window.partitionBy(*key_cols).orderBy(ts_col)
    nxt = F.lead(ts_col).over(w)
    return (
        history.withColumn("effective_start", F.col(ts_col))
        .withColumn("effective_end", nxt)
        .withColumn(
            "is_current", F.when(F.col("effective_end").isNull(), 1).otherwise(0)
        )
        .drop(ts_col)
    )


def scd2_apply_snapshot(
    dim: DataFrame,
    snapshot: DataFrame,
    key_cols: Sequence[str],
    as_of,
) -> DataFrame:
    """Incremental SCD-2 maintenance: apply one attribute snapshot
    (key..., attrs...) taken at ``as_of`` to an existing SCD-2
    dimension, without rebuilding history.

    - changed key → the current row closes (``effective_end`` = as_of,
      ``is_current`` = 0) and a new current row opens at as_of;
    - unseen key → a new current row opens;
    - unchanged key, and keys absent from the snapshot → untouched
      (delta-feed semantics, like ``merge_upsert``'s default).

    One full-outer join on the natural key between the CURRENT slice
    and the snapshot; the historical slice passes through untouched —
    at 100 TB the work is proportional to |current| + |snapshot|, never
    to the accumulated history.  Every dimension column other than the
    keys and the three SCD columns is a tracked attribute the snapshot
    carries; comparison is null-safe.
    Combined with ``scd2_from_history`` for the initial build, this is
    the full Kimball Type-2 lifecycle as pure DataFrame transforms
    (Delta MERGE expresses the same thing transactionally; the operator
    keeps the contract engine-portable)."""
    as_of_lit = F.lit(as_of)
    dim_cols = dim.columns
    attr_cols = [c for c in dim_cols if c not in (*key_cols, *_SCD_COLS)]
    # Exhaustive split: a NULL (or any non-1) flag from an external load
    # must land in the history slice, not vanish — `flag != 1` alone is
    # NULL-valued for NULL flags and would silently drop those rows.
    is_current = F.coalesce(F.col("is_current"), F.lit(0)) == 1
    cur = dim.filter(is_current)
    hist = dim.filter(~is_current)

    c = cur.select([F.col(x).alias(f"__c_{x}") for x in dim_cols] + [F.lit(1).alias("__in_c")])
    s = snapshot.select(
        [F.col(x).alias(f"__s_{x}") for x in (*key_cols, *attr_cols)]
        + [F.lit(1).alias("__in_s")]
    )
    cond = None
    for k in key_cols:
        eq = F.col(f"__c_{k}") == F.col(f"__s_{k}")
        cond = eq if cond is None else (cond & eq)
    j = c.join(s, cond, "full_outer")

    in_c = F.col("__in_c").isNotNull()
    in_s = F.col("__in_s").isNotNull()
    differs = None
    for a in attr_cols:
        d = ~F.col(f"__c_{a}").eqNullSafe(F.col(f"__s_{a}"))
        differs = d if differs is None else (differs | d)
    if differs is None:
        differs = F.lit(False)

    # surviving current rows: unchanged, or absent from the snapshot
    kept = j.filter(in_c & (~in_s | (in_s & ~differs))).select(
        *[F.col(f"__c_{x}").alias(x) for x in dim_cols]
    )
    # closed versions of changed rows
    closed = j.filter(in_c & in_s & differs).select(
        *[F.col(f"__c_{x}").alias(x) for x in dim_cols]
    ).withColumn("effective_end", as_of_lit).withColumn("is_current", F.lit(0))
    # newly opened rows: changed keys + unseen keys
    opened = j.filter(in_s & (~in_c | differs)).select(
        *[F.col(f"__s_{k}").alias(k) for k in key_cols],
        *[F.col(f"__s_{a}").alias(a) for a in attr_cols],
    ).withColumn("effective_start", as_of_lit).withColumn(
        "effective_end", F.lit(None).cast(dim.schema["effective_end"].dataType)
    ).withColumn("is_current", F.lit(1))

    out_cols = dim_cols
    return (
        hist.select(out_cols)
        .unionByName(kept.select(out_cols))
        .unionByName(closed.select(out_cols))
        .unionByName(opened.select(out_cols))
    )
