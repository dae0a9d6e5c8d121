"""Decorator-based plan registry.

Each plan is a callable ``(spark, sf_dir) -> DataFrame`` plus an
optional ANSI-SQL oracle string for DuckDB (driver contract in
``__spark_entry__.py``).  Column names/aliases MUST match between the
Spark result and the oracle — the driver sorts columns by name before
hashing.
"""

from __future__ import annotations

import functools
from collections.abc import Callable
from dataclasses import dataclass

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession

SparkFn = Callable[[SparkSession, str], DataFrame]

# Intermediates persisted by THIS library's plans (shingle tables and
# the like), released between plans.  Only what we persisted is ever
# unpersisted — a host application's own cached DataFrames are never
# touched, and because these are plain ``persist``s (lineage intact,
# unlike localCheckpoint) releasing one early merely costs a recompute,
# never correctness: a plan built but not yet executed just re-derives
# the intermediate when it finally runs.
_TRACKED_PERSISTS: list[DataFrame] = []


def track_persist(df: DataFrame, eager: bool = True) -> DataFrame:
    """Persist ``df`` for intra-plan reuse and register it for release
    before the next plan.  MEMORY_AND_DISK: spills instead of OOMing on
    wide shingle tables; lineage is preserved, so an executor loss at
    cluster scale recomputes the lost blocks instead of killing the job
    (the reason this replaced eager ``localCheckpoint``).

    ``eager`` materializes the cache with one count() job up front:
    consumers that run as CONCURRENT stages of one job (e.g. the three
    shingle-table subtrees of the dedup plans) would otherwise race and
    each compute the partitions they touch first — Spark's block store
    dedupes completed blocks, not in-flight computation."""
    df.persist(StorageLevel.MEMORY_AND_DISK)
    _TRACKED_PERSISTS.append(df)
    if eager:
        df.count()
    return df


def release_stale_checkpoints(spark: SparkSession) -> None:
    """Release intermediates persisted by earlier plans of THIS library.

    Spark never frees persisted blocks on its own, so across a 50-plan
    bench/correctness session they accumulate in executor storage and
    degrade later queries (observed: a sub-second projection ballooning
    to 50 s from GC pressure).  Scoped strictly to ``track_persist``
    entries: other libraries' cached data is untouched, and unpersisting
    a tracked DataFrame is always safe — lineage is intact, worst case
    is a recompute.

    The explicit GC runs ONLY when something was actually released:
    ContextCleaner frees the released plan's shuffle files / broadcasts
    when the driver GC collects their weak refs, which on a 48 g heap
    rarely happens unprompted (measured 6 s → 40 s monotone degradation
    for the same heavy query without it).  The 52 plans that never
    persist pay nothing — a full System.gc() on a churned heap costs
    seconds, which round-1 bench charged to innocent bystander queries
    (``left_enrich_broadcast`` at 6.2 s for a 1k-row double broadcast
    join)."""
    released = False
    while _TRACKED_PERSISTS:
        _TRACKED_PERSISTS.pop().unpersist(True)
        released = True
    if released:
        spark.sparkContext._jvm.System.gc()


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: SparkFn
    oracle: str | None  # None → non-SQL-expressible; driver does rows-only check
    doc: str = ""


REGISTRY: dict[str, QuerySpec] = {}


def query(name: str, oracle: str | None = None) -> Callable[[SparkFn], SparkFn]:
    """Register a plan under ``name`` with its DuckDB oracle SQL."""

    def deco(fn: SparkFn) -> SparkFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate plan name {name!r}")

        @functools.wraps(fn)
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            release_stale_checkpoints(spark)
            return fn(spark, sf_dir)

        REGISTRY[name] = QuerySpec(name=name, fn=wrapped, oracle=oracle, doc=fn.__doc__ or "")
        return wrapped

    return deco
