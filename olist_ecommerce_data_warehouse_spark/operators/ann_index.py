"""Persistent IVF vector index — build once, search many.

The registry plan ``ann_ivf_topk`` trains and searches inside one
query (so the driver's oracle can replay the whole pipeline); a
production vector store builds the index ONCE and answers query
batches against the stored layout.  This operator is that lifecycle,
Spark-first:

- **build**: train centroids (``operators/kmeans.py`` distributed
  Lloyd), assign every vector (``ivf_assign``, narrow Arrow pass).
- **save**: centroids as one tiny parquet; the assigned corpus
  ``partitionBy("centroid_id")`` — the cluster IS the physical layout,
  so a search that probes ``nprobe`` of ``nlist`` clusters reads only
  those directories.  This is the Spark-native analogue of FAISS's
  inverted lists: partition pruning does the "inverted" part.
- **load**: centroids to the driver (k×d ints — broadcast-sized by
  construction), assigned table lazily.
- **search**: probe selection driver-side (``ivf_probes``), then a
  STATIC ``centroid_id IN (probed)`` filter on the assigned table —
  static, not a join, precisely so Catalyst turns it into
  PartitionFilters at the scan (asserted in tests) — then the shared
  batch-bounded Gram scorer (``ivf_topk``).

Determinism: training is the bit-deterministic integer Lloyd, the
layout is content-derived, so rebuild-from-same-corpus produces an
identical index.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from olist_ecommerce_data_warehouse_spark.operators.kmeans import kmeans_train
from olist_ecommerce_data_warehouse_spark.operators.similarity import (
    ivf_assign,
    ivf_probes,
    ivf_topk,
)


# Bump when the on-disk layout or the quantization/Lloyd scheme
# changes: published index dirs are content-addressed by (corpus name,
# build params, this version), so a stale layout can never be read by
# newer code.
LAYOUT_VERSION = 1

BUILD_K = 8  # IVFIndex.build: lists (centroids) and Lloyd iterations
BUILD_ITERS = 2
PUBLISHED_MAX_AGE_HOURS = 7 * 24.0  # retention of current-format indexes

# path → centroids, warm across loads within one process.  Published
# dirs are immutable (publish-if-absent, never overwritten), so the
# cache can never serve stale centroids; it makes a re-load collect
# NOTHING — the zero-job re-construction contract.
_CENTROID_CACHE: dict[str, list[list[int]]] = {}


def clear_centroid_cache() -> None:
    """Drop every warm centroid entry — the bench harness calls this
    (with an ``ivf_index_*`` sweep) before each timed sample so a run
    that reports the index-build cost actually pays it (round 11: the
    no-precomputation-across-runs rule; production callers never need
    this — the cache can only ever serve bytes identical to disk)."""
    _CENTROID_CACHE.clear()


def _is_uri(path: str) -> bool:
    """True when ``path`` carries a filesystem scheme (``hdfs://``,
    ``s3a://``, ``file://``, …) — those routes go through the Hadoop
    FileSystem API; bare paths stay on the fast local ``os`` calls."""
    import re

    return bool(re.match(r"^[a-z][a-z0-9+.\-]*://", path, re.IGNORECASE))


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path-class, Path) for a scheme'd location via the
    session's JVM gateway — the cluster-FS half of the publish seam
    (round 10; the POSIX half is the plain ``os`` calls below)."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jvm.org.apache.hadoop.fs.Path, jpath


def _rename_if_absent(fs, path_cls, tmp, dst) -> bool:
    """Commit ``tmp`` to ``dst`` if-and-only-if ``dst`` did not exist,
    under Hadoop rename semantics.  ``FileSystem#rename`` onto an
    EXISTING directory does not fail like POSIX ``os.rename`` — it
    moves ``tmp`` INSIDE it (the classic pitfall), so a race loser
    would silently plant ``dst/<tmpname>`` instead of erroring.  This
    helper detects that nested-move signature, removes the stray, and
    reports the loss; the loser's caller then reads the winner's
    complete dir.  Returns True only when ``tmp`` became ``dst``
    itself."""
    renamed = fs.rename(tmp, dst)
    nested = path_cls(dst, tmp.getName())
    if renamed and not fs.exists(nested):
        return True
    if fs.exists(nested):
        fs.delete(nested, True)
    if fs.exists(tmp):
        fs.delete(tmp, True)
    return False


class IVFIndex:
    def __init__(self, spark: SparkSession, centroids: list[list[int]], assigned: DataFrame):
        self.spark = spark
        self.centroids = centroids
        self.assigned = assigned

    def _cent_df(self) -> DataFrame:
        return self.spark.createDataFrame(
            [(i, [int(x) for x in v]) for i, v in enumerate(self.centroids)],
            "centroid_id long, centvec array<bigint>",
        )

    @classmethod
    def build(cls, vectors: DataFrame) -> "IVFIndex":
        """Train ``BUILD_K`` centroids over ``(vec_id, embedding)`` rows
        with ``BUILD_ITERS`` Lloyd iterations and assign every vector."""
        from olist_ecommerce_data_warehouse_spark.operators.similarity import quantized

        spark = vectors.sparkSession
        cents = kmeans_train(vectors, k=BUILD_K, n_iter=BUILD_ITERS)
        corpus = vectors.select("vec_id", quantized("embedding").alias("cvec"))
        idx = cls(spark, cents, None)  # type: ignore[arg-type]
        idx.assigned = ivf_assign(corpus, idx._cent_df())
        return idx

    def save(self, path: str) -> None:
        self._cent_df().write.mode("overwrite").parquet(f"{path}/centroids")
        (
            self.assigned.write.mode("overwrite")
            .partitionBy("centroid_id")
            .parquet(f"{path}/assigned")
        )

    def publish(self, path: str) -> bool:
        """Write-once publish to a CONTENT-KEYED directory: write the
        index to a session-private tmp dir, then atomically rename it
        into ``path``.  If ``path`` already exists (this session or
        any earlier one already built it — the index is
        bit-deterministic, so same corpus + params ⇒ same bytes), run
        NO jobs at all and return False.  Concurrent publishers race
        only on the rename: exactly one wins, losers remove their tmp
        and read the winner's — readers can never observe a partial
        index (ADVICE r07's clobbering fix without the round-8
        session-keyed dir accumulation; round 9).  Returns True when
        this call did the write.

        Filesystem seam (round 10): the parquet WRITES go through
        Spark (executors, any Hadoop-supported FS), and the existence
        check / rename / mtime-touch dispatch on the path — a scheme'd
        location (``hdfs://``, ``s3a://``, ``file://``) routes through
        the Hadoop FileSystem API (``fs.exists``/``_rename_if_absent``/
        ``fs.setTimes``), a bare path stays on the driver-local ``os``
        calls that are correct wherever driver and executors share a
        POSIX filesystem (local, local-cluster, NFS).  The write-once
        content-addressed protocol itself is FS-agnostic: rename-if-
        absent is the primitive both APIs provide (with the Hadoop
        move-into-existing-dir pitfall handled in
        ``_rename_if_absent``)."""
        import os
        import shutil
        import time

        if _is_uri(path):
            fs, path_cls, dst = _hadoop_fs(self.spark, path)
            if fs.exists(dst):
                try:  # last-use touch, same contract as the os branch
                    fs.setTimes(dst, int(time.time() * 1000), -1)
                except Exception:  # noqa: BLE001 — FS may not support it
                    pass
                return False
            tmp_uri = f"{path}.tmp-{self.spark.sparkContext.applicationId}"
            self.save(tmp_uri)
            return _rename_if_absent(fs, path_cls, path_cls(tmp_uri), dst)

        if os.path.isdir(path):
            # mark last-use: the week-long GC tier measures time since
            # a session last touched the dir, so a reused index can't
            # age out under a concurrent session that holds a lazy
            # reference to it
            try:
                os.utime(path, None)
            except OSError:
                pass
            return False
        tmp = f"{path}.tmp-{self.spark.sparkContext.applicationId}"
        self.save(tmp)
        try:
            os.rename(tmp, path)
            return True
        except OSError:
            # another session published first — theirs is complete
            shutil.rmtree(tmp, ignore_errors=True)
            return False

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "IVFIndex":
        import os
        import time

        if _is_uri(path):
            # scheme'd location: cache-key on the URI verbatim
            # (os.path.abspath would prepend the cwd to it) and touch
            # through the Hadoop API
            key = path
            try:
                fs, _, jpath = _hadoop_fs(spark, path)
                fs.setTimes(jpath, int(time.time() * 1000), -1)
            except Exception:  # noqa: BLE001 — touch is best-effort
                pass
        else:
            key = os.path.abspath(path)
            try:  # last-use touch — see gc_stale_indexes / publish
                os.utime(path, None)
            except OSError:
                pass
        cents = _CENTROID_CACHE.get(key)
        if cents is None:
            cent_rows = (
                spark.read.parquet(f"{path}/centroids")
                .orderBy("centroid_id")
                .collect()
            )
            cents = [list(r["centvec"]) for r in cent_rows]
            _CENTROID_CACHE[key] = cents
        assigned = spark.read.parquet(f"{path}/assigned")
        return cls(spark, cents, assigned)

    def search(self, queries: DataFrame, k: int = 5, nprobe: int = 2) -> DataFrame:
        """(query_id, vec_id, cosine, rank) — queries: (query_id, qvec)
        int64-quantized.  Probed-cluster pruning happens via a STATIC
        IN filter so it reaches the parquet scan as PartitionFilters
        when the index was loaded from its partitioned layout."""
        probes = ivf_probes(queries, self._cent_df(), nprobe=nprobe)
        if not probes:
            return ivf_topk(self.assigned.limit(0), probes, k=k)
        probed = self.assigned.filter(
            F.col("centroid_id").isin([int(c) for c in probes])
        )
        return ivf_topk(probed, probes, k=k)


def gc_stale_indexes(
    scratch_dir: str,
    max_age_hours: float = 24.0,
    dry_run: bool = False,
) -> list[str]:
    """Sweep leftover ``ivf_index_*`` artifacts from ``scratch_dir``
    (round 9, ADVICE r07 residue).  Deliberately ``os``-based, never
    Hadoop-routed: its domain is the repo-local ``.scratch`` directory
    (clean_scratch runs it without a Spark session); a remote index
    store is owned by that store's own lifecycle tooling.  Two
    retention tiers:

    - legacy session-keyed dirs (round-8 naming), orphaned
      ``.tmp-<appId>`` dirs from publishers that died mid-write, and
      anything else not in the current format: removed after
      ``max_age_hours`` (an old-enough leftover can only belong to a
      dead session);
    - current-format published dirs (``…_v<LAYOUT_VERSION>``) —
      immutable, content-addressed, reused across sessions: kept for
      ``PUBLISHED_MAX_AGE_HOURS`` (a week) SINCE LAST USE — ``load``
      and every publish-reuse touch the dir mtime, so age-out under a
      live reader is vanishingly unlikely: the mtime is re-read
      immediately before the delete, so a concurrent touch would have
      to land inside the microseconds between that re-check and
      ``rmtree`` AND the reader would have to have been silent for a
      full week beforehand (ADVICE r09 — the window is narrowed, not
      provably zero; a week-stale dir is an orphan of a regenerated
      testdata tree).

    Returns the removed paths — verified gone, not merely attempted
    (``rmtree`` failures are not reported as removed).  Stray regular
    FILES named ``ivf_index_*`` are skipped in BOTH modes — a real
    sweep's ``rmtree`` cannot remove them, so listing them under
    ``dry_run`` would over-report (ADVICE r09).  With ``dry_run``
    nothing is deleted and the would-be-removed paths are returned
    (the ``clean_scratch.py --dry-run`` listing — one policy, one
    code path).  Idempotent and safe to call from plan construction."""
    import os
    import shutil
    import time

    removed: list[str] = []
    if not os.path.isdir(scratch_dir):
        return removed
    keep_suffix = f"_v{LAYOUT_VERSION}"
    now = time.time()
    cutoff = lambda limit: now - limit * 3600.0  # noqa: E731
    for name in os.listdir(scratch_dir):
        if not name.startswith("ivf_index_"):
            continue
        age_limit = (
            PUBLISHED_MAX_AGE_HOURS if name.endswith(keep_suffix) else max_age_hours
        )
        p = os.path.join(scratch_dir, name)
        try:
            if os.path.getmtime(p) >= cutoff(age_limit):
                continue
            if not os.path.isdir(p):
                continue
            if dry_run:
                removed.append(p)
                continue
            # Re-read the mtime immediately before the delete: a
            # concurrent session's load()/publish utime may have
            # landed since the check above (TOCTOU, ADVICE r09).
            if os.path.getmtime(p) < cutoff(age_limit):
                shutil.rmtree(p, ignore_errors=True)
                if not os.path.exists(p):
                    removed.append(p)
        except OSError:
            continue
    return removed
