"""As-of (point-in-time) join — an operator Spark lacks natively
(extension tier; the standard union+window re-expression).

For each left row, attach the most recent right row with the same key
and ``right_ts <= left_ts``.  Implementation: tag both sides, union,
and carry the last non-null right payload forward with a running
``last(ignoreNulls)`` window ordered by (ts, right-first-on-ties).

Scale notes: ONE shuffle on the join key (the window partition), no
range explosion, state bounded by the window frame — this is the
shape that survives 100 TB, unlike a naive range join
(``l.key = r.key AND r.ts <= l.ts`` + argmax) whose intermediate is
quadratic in per-key row counts.  Alternative for grouped workloads:
``applyInPandas`` + ``pd.merge_asof`` per key group.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    right_payload: list[str],
) -> DataFrame:
    """Left as-of join.  ``right`` must be unique per (key, right_ts) —
    dedup first (ties would make the matched payload ambiguous in any
    engine).  Right rows at exactly left_ts DO match (inclusive)."""
    l2 = left.withColumn("__ts", F.col(left_ts)).withColumn("__is_r", F.lit(0))
    r2 = right.select(
        F.col(key),
        F.col(right_ts).alias("__ts"),
        F.struct(*[F.col(c) for c in right_payload]).alias("__rv"),
    ).withColumn("__is_r", F.lit(1))
    u = l2.unionByName(r2, allowMissingColumns=True)
    w = (
        Window.partitionBy(key)
        .orderBy(F.col("__ts"), F.desc("__is_r"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = u.withColumn("__match", F.last("__rv", ignorenulls=True).over(w))
    out_cols = [F.col(c) for c in left.columns] + [
        F.col("__match").getField(c).alias(c) for c in right_payload
    ]
    return matched.filter(F.col("__is_r") == 0).select(*out_cols)
