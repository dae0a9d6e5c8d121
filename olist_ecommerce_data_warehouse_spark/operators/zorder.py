"""Z-order (Morton) layout — multi-dimensional data skipping.

A table range-partitioned and sorted on ONE column skips files only
for predicates on that column; queries filtering a second dimension
scan everything.  Interleaving the bits of N normalized columns into
one Morton key and laying files out along it gives every file a
compact hyper-rectangle of the key space, so per-file min/max stats
are tight in EVERY interleaved dimension — the technique behind
Delta/Iceberg ``OPTIMIZE ZORDER BY`` and the classic UB-tree layout.

Everything is codegen'd integer expressions (no UDFs): per column,
``scaled = clamp(floor((col - lo) * 2^bits / (hi - lo)))``; the key
interleaves bit ``b`` of column ``i`` into position ``b·N + i``.  The
write path is ``repartitionByRange(zkey) + sortWithinPartitions``
— one range shuffle, the same cost class as any sorted write.

At 100 TB: ranges (lo, hi) come from table stats (one agg or the
catalog); the range partitioner samples the key like any range write.
File-level skipping then happens in any parquet/Delta reader via
ordinary min/max stats — no reader-side cooperation needed, which is
what makes layout the cheapest data-skipping investment there is.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

ZORDER_BITS = 16  # per-column key resolution


def zorder_key(cols: list[tuple[Column | str, float, float]]) -> Column:
    """Morton key interleaving ``len(cols)`` columns at ``ZORDER_BITS``
    resolution each (``bits·N ≤ 63`` to stay in a positive long).
    Each entry is (column, lo, hi) — the normalization range; values
    outside clamp to the edge buckets (layout stays valid, skipping
    just coarsens for them).  NULLs land in bucket 0."""
    n, bits = len(cols), ZORDER_BITS
    if n == 0:
        raise ValueError("zorder_key: need at least one column")
    if bits * n > 63:
        raise ValueError(f"zorder_key: {bits} bits x {n} cols exceeds a long")
    top = (1 << bits) - 1
    scaled = []
    for c, lo, hi in cols:
        col = F.col(c) if isinstance(c, str) else c
        if not hi > lo:
            raise ValueError(f"zorder_key: invalid range [{lo}, {hi})")
        s = F.floor(
            (col.cast("double") - F.lit(float(lo)))
            * F.lit(float(1 << bits))
            / F.lit(float(hi) - float(lo))
        ).cast("bigint")
        scaled.append(
            F.coalesce(F.greatest(F.lit(0), F.least(F.lit(top), s)), F.lit(0))
        )
    key = F.lit(0).cast("bigint")
    for b in range(bits):
        for i, s in enumerate(scaled):
            key = key + F.shiftleft(
                F.shiftright(s, b).bitwiseAND(F.lit(1)), b * n + i
            )
    return key


def morton_sql(cols: list[tuple[str, float, float]]) -> str:
    """DuckDB twin of :func:`zorder_key` — same normalization
    literals, same clamp, same interleave order, unrolled into
    shift/mask terms (the unrolled-Lloyd/unrolled-BPE oracle device
    applied to layout): a bit-interleave bug in either engine moves
    the key and fails any sum/min/max gate built on it.  Choose
    power-of-two (hi - lo) ranges when gating: every normalization
    step is then exact in IEEE doubles, so floor() has no cross-engine
    1-ulp hazard."""
    n, bits = len(cols), ZORDER_BITS
    if n == 0:
        raise ValueError("morton_sql: need at least one column")
    if bits * n > 63:
        raise ValueError(f"morton_sql: {bits} bits x {n} cols exceeds a long")
    top = (1 << bits) - 1
    scaled = []
    for expr, lo, hi in cols:
        if not hi > lo:
            raise ValueError(f"morton_sql: invalid range [{lo}, {hi})")
        s = (
            f"CAST(floor(((CAST({expr} AS DOUBLE) - {float(lo)!r})"
            f" * {float(1 << bits)!r}) / {float(hi) - float(lo)!r}) AS BIGINT)"
        )
        scaled.append(f"coalesce(greatest(0, least({top}, {s})), 0)")
    terms = [
        f"((({s} >> {b}) & 1) << {b * n + i})"
        for b in range(bits)
        for i, s in enumerate(scaled)
    ]
    return "(" + " + ".join(terms) + ")"


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[tuple[str, float, float]],
    n_files: int,
) -> None:
    """Write ``df`` as ``n_files`` parquet files laid out along the
    Morton curve of ``cols``: range-partition on the key (compact,
    non-overlapping key ranges per file), sort within each file (tight
    row-group stats too), drop the key before writing — the layout is
    physical, the schema unchanged."""
    zk = zorder_key([(c, lo, hi) for c, lo, hi in cols])
    (
        df.withColumn("__zk", zk)
        .repartitionByRange(n_files, "__zk")
        .sortWithinPartitions("__zk")
        .drop("__zk")
        .write.mode("overwrite")
        .parquet(path)
    )


def file_minmax(df_path_spark, path: str, cols: list[str]):
    """Per-file (min, max) of ``cols`` — the stats a reader's skipping
    decision sees.  Diagnostic helper for tests/layout audits."""
    df = df_path_spark.read.parquet(path).select(
        F.input_file_name().alias("__f"), *cols
    )
    aggs = []
    for c in cols:
        aggs += [F.min(c).alias(f"min_{c}"), F.max(c).alias(f"max_{c}")]
    return df.groupBy("__f").agg(*aggs)
