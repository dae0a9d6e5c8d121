"""SparkSession factory.

Local testing runs a single JVM (``local[N]``); the configs below are
chosen so the same logical plans scale to a multi-executor cluster:

- ``spark.sql.adaptive.enabled`` — AQE re-plans at runtime (coalesce
  shuffle partitions, convert to broadcast joins, split skewed
  partitions).  At 100 TB this is what absorbs key skew in the big
  fact-fact joins without hand-tuned salting in the common case.
- ``spark.sql.shuffle.partitions`` — sized to cores locally; on a real
  cluster leave AQE's coalescing to right-size post-shuffle partitions
  (initial value ~2-3× total cores).
- ``spark.sql.session.timeZone=UTC`` — pins timestamp semantics so
  results are reproducible and comparable to an ANSI-SQL oracle.
- ANSI mode is left at the Spark 4 default (ON); every potentially
  failing cast in this engine uses ``try_cast``/``try_to_timestamp``
  explicitly (reference semantics: T-SQL TRY_CAST/TRY_CONVERT, e.g.
  ``05_ETL_load_bronze_to_silver/sp_load_silver_orders.sql:37-41``),
  so plans behave identically under ANSI on or off.
"""

from __future__ import annotations

import os
import re
import sys

from pyspark.sql import SparkSession

# Repo root — shipped to executor-side Python workers when the session
# runs with real (separate-process) executors, see _master() below.
_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _master(cpus: int) -> tuple[str, int]:
    """Resolve the Spark master and the total core count it provides.

    ``$SPARK_GRAFT_MASTER`` overrides the default ``local[cpus]`` —
    round 10's ``local-cluster[n,cores,memMB]`` smoke uses this to run
    the identical plans against separate-process executors (the
    topology local mode structurally masks: torrent broadcast,
    closure serialization, executor-side Python worker imports).  For
    a local-cluster master the returned core count is n*cores so
    shuffle partitioning is sized to the actual cluster width.
    """
    master = os.environ.get("SPARK_GRAFT_MASTER", "")
    if not master:
        return f"local[{cpus}]", cpus
    m = re.match(r"local-cluster\[(\d+),(\d+),(\d+)\]", master)
    if m:
        return master, int(m.group(1)) * int(m.group(2))
    return master, cpus


def _package_zip() -> str:
    """Zip the engine package for ``addPyFile`` distribution.

    The canonical way to give executor-side Python workers the package
    (``--py-files`` / ``addPyFile``): cloudpickle serializes the
    module-level Arrow kernels BY REFERENCE, so workers must import
    ``olist_ecommerce_data_warehouse_spark`` themselves.  Rebuilt only
    when a source file is newer than the existing archive.  Round-10
    finding: ``spark.executorEnv.PYTHONPATH`` does NOT reach the
    forked Python workers under local-cluster (the worker launcher
    overwrites it with its own SPARK_HOME paths) — the py-files
    mechanism is the one that works on every cluster manager.
    """
    import zipfile

    pkg_dir = os.path.join(_REPO_ROOT, "olist_ecommerce_data_warehouse_spark")
    scratch = os.path.join(_REPO_ROOT, ".scratch")
    os.makedirs(scratch, exist_ok=True)
    dest = os.path.join(scratch, "olist_pkg_for_executors.zip")
    sources = []
    for root, _dirs, files in os.walk(pkg_dir):
        sources += [os.path.join(root, f) for f in files if f.endswith(".py")]
    if not sources:
        # fail loud: an empty zip ships cleanly and only breaks later as
        # an executor-side ModuleNotFoundError (the round-10 smoke's
        # first failure mode — a mis-resolved repo root)
        raise RuntimeError(f"no package sources found under {pkg_dir}")
    if os.path.exists(dest) and os.path.getmtime(dest) >= max(
        os.path.getmtime(s) for s in sources
    ):
        # mtime alone misses deletions (removing a module leaves every
        # survivor older than the archive) — require the entry count
        # to match too
        with zipfile.ZipFile(dest) as zf:
            if len(zf.namelist()) == len(sources):
                return dest
    tmp = f"{dest}.tmp-{os.getpid()}"
    with zipfile.ZipFile(tmp, "w") as zf:
        for s in sorted(sources):
            zf.write(s, os.path.relpath(s, _REPO_ROOT))
    os.replace(tmp, dest)
    return dest


def get_spark(app_name: str = "olist_spark_engine", *, cpus: int | None = None) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` (driver contract) or all
    local cores.  ``$SPARK_GRAFT_MASTER`` overrides the master URL
    (see :func:`_master`); with separate-process executors the builder
    also ships the package zip to executor Python workers (addPyFile)
    and pins the worker interpreter to the driver's — in ``local[*]``
    both are inherited implicitly, on a real cluster neither is, and
    every Arrow kernel in this package is a module-level function that
    cloudpickle serializes BY REFERENCE (an import on the worker), not
    by value.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master, total_cores = _master(cpus)
    builder = SparkSession.builder.master(master)
    real_executors = not master.startswith("local[")
    if real_executors:
        builder = (
            builder.config("spark.executorEnv.PYSPARK_PYTHON", sys.executable)
            # local-cluster's [.. ,memMB] sizes the worker; the executor
            # JVM heap must fit inside it (default 1g would under-use a
            # 4096 MB worker; anything larger fails to launch).
            .config(
                "spark.executor.memory",
                os.environ.get("SPARK_EXECUTOR_MEMORY", "3g"),
            )
        )
    spark = (
        builder
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(total_cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Let AQE apply its standard advisory-size coalescing to CACHED
        # plan output partitioning too (default false — Spark keeps
        # cached layouts frozen so cache-reuse partitioning is stable).
        # Round 11, guide §2.2: this engine persists many MODEL-sized
        # aggregate outputs (feature matrices, shingle/token tables,
        # score tables) whose exchanges default to cores-many tiny
        # partitions; with the flag OFF every downstream consumer pays
        # a full-width task wave per read (measured: pegasos' 8
        # per-round scans of a 37 MB cache at 32 tasks each).  The
        # decision stays BYTE-keyed (advisoryPartitionSizeInBytes), so
        # a genuinely large cached table at cluster scale keeps its
        # width — nothing here is tuned to the local core count.
        # Worktree A/B (bench_ab.jsonl, alternating sessions):
        # text_lang_id 0.69×, corpus_mixing 0.81×, text_repetition
        # 0.82×, dedup_embedding_cosine 0.85×, dedup_ngram_jaccard
        # 0.86×, text_metrics 0.89×, multimodal_metadata 0.88×,
        # dedup_cluster_cc 0.90×, ann_ivf_topk 0.92×; nothing above
        # noise in the other direction (0.99-1.05 on the cache-light
        # plans).
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # RIGHT-SIZED heap, not max: in local mode the driver JVM hosts
        # all executor threads, and GC cost scales with heap size.  A
        # 48 g heap measured 35-44 s for the ngram-dedup plan with 95%
        # of stage time in GC (231 s summed GC vs 5 s CPU in one
        # stage); the identical plan on 8 g runs in ~5 s.  sf0.1 work
        # fits comfortably in 8 g; a real cluster sizes executor heaps
        # to partition volume the same way (8-16 g per executor is the
        # standard guidance — giant heaps trade pause time for nothing).
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # G1 (JDK default): region-based collection keeps pauses
        # proportional to garbage, not heap.  ParallelGC was tried for
        # batch throughput and loses at every heap size once the
        # session churns (full-heap compactions stall all 32 task
        # threads at once).
        .config("spark.driver.extraJavaOptions", "-XX:+UseG1GC")
        # Reliable checkpoints (cut_lineage when a checkpoint dir is
        # set) write files Spark otherwise NEVER deletes during the
        # app, and unpersist() is a no-op on them — without this flag
        # every iterative operator (CC, k-means, BPE, PEGASOS)
        # leaks checkpoint files for the app lifetime.
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    if real_executors:
        spark.sparkContext.addPyFile(_package_zip())
    return spark
