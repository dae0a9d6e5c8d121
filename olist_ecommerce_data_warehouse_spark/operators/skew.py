"""Hot-key skew handling: deterministic salted equi-join.

AQE's skew-join splitting (on in session.py) handles most skew by
splitting oversized post-shuffle partitions.  Salting is the explicit
fallback for the pathological case AQE can't fix: ONE join key so hot
that even a split partition is dominated by a single key group (the
geolocation-zip analog from the reference's ~1M-row table,
sp_load_silver_geolocation.sql:40-43, scaled to 100 TB).

Mechanics: the skewed side gets a deterministic per-row salt in
[0, n); the other side replicates each row n times (one per salt).
The join key becomes (key, salt), so a hot key's rows spread over n
shuffle partitions instead of one.  Row-level results are identical
to the unsalted join — every skewed row meets exactly one replica of
each matching row.

The salt is ``pmod(xxhash64(all columns), n)`` — deterministic across
runs/retries (``rand()`` would break task-retry idempotency and
correctness hashing).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SALT_COL = "__salt"
NUM_SALTS = 16  # replicas of the other side on the salted path


def _salted_core(skewed: DataFrame, other: DataFrame, on: list[str]) -> DataFrame:
    salted = skewed.withColumn(
        SALT_COL,
        F.pmod(F.xxhash64(*[F.col(c) for c in skewed.columns]), F.lit(NUM_SALTS)).cast("int"),
    )
    replicated = other.withColumn(
        SALT_COL, F.explode(F.array(*[F.lit(i) for i in range(NUM_SALTS)]))
    )
    return salted.join(replicated, [*on, SALT_COL]).drop(SALT_COL)


def salted_join(
    skewed: DataFrame,
    other: DataFrame,
    on: list[str],
    hot_min_rows: int | None = None,
) -> DataFrame:
    """Inner equi-join ``skewed ⋈ other`` on ``on`` with hot-key salting.

    ``other`` is replicated ``NUM_SALTS``× (keep it the smaller side —
    typically the dim/lookup side that is too big to broadcast but far
    smaller than the skewed fact side).  Output columns = join keys +
    both sides' non-key columns, exactly like ``skewed.join(other, on)``.

    ``hot_min_rows``: PARTIAL salting — the production shape.  One
    cheap key-count aggregate (map-side partial, output = |hot keys|,
    broadcast back) splits the data: only keys with ≥ ``hot_min_rows``
    rows on the skewed side take the salted path; the cold majority
    joins plain, paying zero replication.  The two joins union to the
    identical row set — every skewed row lands in exactly one branch,
    so the guarantee is unchanged.  ``None`` = salt everything (the
    simple shape; also the fallback when the hot set can't be known).
    At 100 TB the hot set is small by definition (that's what makes a
    key hot), so its broadcast is bounded.

    The join is inner on purpose: under an outer join each unmatched
    ``other`` row would survive once per salt replica."""
    if hot_min_rows is None:
        return _salted_core(skewed, other, on)
    hot = (
        skewed.groupBy(*on)
        .agg(F.count(F.lit(1)).alias("__kn"))
        .filter(F.col("__kn") >= hot_min_rows)
        .select(*on)
    )
    skew_hot = skewed.join(F.broadcast(hot), on, "left_semi")
    skew_cold = skewed.join(F.broadcast(hot), on, "left_anti")
    other_hot = other.join(F.broadcast(hot), on, "left_semi")
    hot_joined = _salted_core(skew_hot, other_hot, on)
    cold_joined = skew_cold.join(other, on)
    return hot_joined.unionByName(cold_joined)
