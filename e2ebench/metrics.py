"""Names, units and directions of every metric the benchmark reports.

``BENCHMARK.json`` at the repository root lists the same metrics (a
self-test keeps the two in step).  Every run prints every metric of its
kind; a workload that does not reach a layer reports 0 for it.
"""

from __future__ import annotations

from olist_ecommerce_data_warehouse_spark.pipeline.medallion import SILVER_ORDER
from workloads import BATCH_PLANS, CORPUS_CALLS, GOLD_ORDER, SPARK_LAYERS, STREAM_DURATIONS

# (name, unit, better, bound): bound is the share of the parent's median
# by which the metric may worsen before a change counts as a regression.
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("job_s", "s", "lower", 0.25),
]


def per_layer() -> list[tuple[str, str, str]]:
    m = [("session.start_s", "s", "lower"), ("setup.inputs_s", "s", "lower")]
    m += [(f"medallion.bronze.{t}_s", "s", "lower") for t in SILVER_ORDER]
    m += [(f"medallion.silver.{t}_s", "s", "lower") for t in SILVER_ORDER]
    m += [(f"medallion.gold.{t}_s", "s", "lower") for t in GOLD_ORDER]
    m += [("medallion.audit_cover", "ratio", "higher")]
    m += [(f"corpus.{c}_s", "s", "lower") for c in CORPUS_CALLS]
    m += [("corpus.audit_cover", "ratio", "higher")]
    m += [(f"plans.{p}_s", "s", "lower") for p in BATCH_PLANS]
    m += [("plans.build_s", "s", "lower"), ("plans.exec_s", "s", "lower")]
    m += [(f"stream.{d}_ms", "ms", "lower") for d in STREAM_DURATIONS]
    m += [("stream.state_commit_ms", "ms", "lower"), ("stream.state_update_ms", "ms", "lower"),
          ("stream.state_rows", "count", "lower"), ("stream.state_mb", "MB", "lower"),
          ("stream.signature_s", "s", "lower"), ("stream.batch_p50_ms", "ms", "lower"),
          ("stream.batch_max_ms", "ms", "lower"), ("stream.batches", "count", "higher"),
          ("stream.docs_per_s", "1/s", "higher")]
    for layer in SPARK_LAYERS:
        m += [(f"{layer}.jobs", "count", "lower"), (f"{layer}.tasks", "count", "lower"),
              (f"{layer}.shuffle_mb", "MB", "lower"), (f"{layer}.exec_busy_s", "s", "lower"),
              (f"{layer}.gc_s", "s", "lower"), (f"{layer}.driver_gap_s", "s", "lower")]
    m += [("jvm.peak_rss_mb", "MB", "lower"),
          ("trace.job_s", "s", "lower"), ("trace.overhead_s", "s", "lower"),
          ("trace.span_cover", "ratio", "higher")]
    return m

