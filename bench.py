"""Benchmark harness (driver contract).

Runs every registered plan at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
JSON line: ``{"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}``.

Each query is fully materialized via the ``noop`` sink (forces the
whole plan — scan, shuffle, agg — without write-side cost).  A warmup
run of the flagship query absorbs JVM/codegen startup so per-query
numbers reflect steady-state execution.

Regression gate: at sf0.1 each plan's MEDIAN sample, divided by the
session's rig factor, is compared with its ``BASELINE`` anchor (flag
when > 1.5× the anchor AND > 0.5 s over it).  The rig factor comes from
the timings themselves: ``max(1.0, median over plans of
median(samples[n]) / BASELINE[n])``.  This box's throughput drifts
between sessions, and a slow session lifts every plan and therefore
the median ratio, so it cancels; a genuine regression in fewer than
half of the plans leaves the median ratio where it was and still
flags.  The floor stops a fast session from inflating normalized
times.  Synthetic calibration kernels with fixed references would
instead read the core count whenever the box's width differs from
the width the reference was taken at.

EVERY timing sample (including confirmation re-runs) is written to a
stamped ``bench_ab/bench_full_<UTC>.json`` so re-anchoring decisions
stay auditable; STDOUT carries only the compact gate summary
(``compact_line``) because the harness that records bench runs keeps
just the last 2,000 chars of output.

After the samples and the gate, one traced pass (``traced_pass``) runs
every plan once more through e2ebench's ``Recorder`` and adds a
``traced`` map to the full record: where each plan's seconds go
(build vs exec, jobs, tasks, shuffle, executor busy time, GC, driver
gap).  It never feeds a gated number.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

from olist_ecommerce_data_warehouse_spark.plans import REGISTRY  # noqa: E402
from olist_ecommerce_data_warehouse_spark.plans.registry import (  # noqa: E402
    release_stale_checkpoints,
)
from olist_ecommerce_data_warehouse_spark.session import get_spark  # noqa: E402

# The binding anchors: every registered plan at sf0.1, measured at
# local[4] on a 4-core / 15 GB box.  Each value is the MIN OF TWO
# ANCHORING SESSIONS' PER-QUERY MEDIANS (bench_ab/bench_full_
# 20261017T101150Z.json and bench_full_20261017T101748Z.json): the
# per-session median absorbs sample outliers, and the min across
# sessions drops a session that started inside a noise epoch.
# Re-anchor an entry only for a capability change or a gain proven by
# paired A/B (scripts/bench_ab.py), with a comment.  The new anchor is
# old anchor × (change median / parent median) from the paired record:
# both medians come from the same A/B session, so their ratio carries
# over to the anchoring sessions' epoch, while the raw change median
# would mix the A/B session's epoch into the anchor set.
BASELINE = {
    "ann_cosine_topk": 2.6219,
    "ann_ivf_topk": 6.6405,
    "approx_aggregates": 2.5675,
    "asof_click_attribution": 1.506,
    "cleanse_accent_fold_dedup": 0.4061,
    "cleanse_decimal_comma": 1.7554,
    "cleanse_trim_case_prefix": 0.3948,
    "cleanse_try_timestamp": 0.5675,
    "cleanse_validity_filter": 0.2142,
    "contamination_check": 3.3878,
    "corpus_mixing": 8.2184,
    "csv_roundtrip_ingest": 1.1039,
    "date_dimension": 0.222,
    "datetime_functions": 0.498,
    "dedup_cluster_cc": 4.6907,
    "dedup_embedding_cosine": 2.3431,
    "dedup_exact": 0.9321,
    "dedup_keep_latest": 0.4861,
    "dedup_minhash_lsh": 3.0421,
    "dedup_ngram_jaccard": 4.5621,
    "dedup_simhash": 2.2355,
    "embedding_quantize": 1.5667,
    "events_json_props": 0.8938,
    "events_sessionization": 0.801,
    "events_windows": 1.2409,
    "flagship_revenue_by_brand": 1.6631,
    "gold_dim_customer": 0.5726,
    "gold_fact_lineitem": 4.0551,
    "gold_fact_orders": 1.7084,
    "gold_revenue_by_region": 0.9849,
    "left_enrich_broadcast": 0.3711,
    "merge_upsert_incremental": 0.4825,
    "multikey_left_distinct": 0.649,
    "multimodal_decode_frames": 0.8962,
    # one gate map (was 38 Arrow maps): paired A/B bench_ab/bench_ab.jsonl
    # record ts 2026-10-19T06:43:22Z, change wins 10/10, median
    # 11.5085 -> 3.7972 s, parent IQR 1.1029 s; 8.7632 x 3.7972 / 11.5085
    "multimodal_metadata": 2.8914,
    "orphan_check": 0.4146,
    "per_order_rollup": 2.5036,
    "pivot_event_types_daily": 0.4346,
    "pricing_summary": 1.5391,
    "rollup_region_segment": 1.5973,
    "scalar_kpis": 1.5282,
    "scd2_dim_customer": 1.0824,
    "sequence_packing": 0.7405,
    "sk_resolution_chain": 1.5335,
    "skew_salted_join": 2.661,
    "surrogate_keys": 0.5172,
    "text_lang_id": 6.0876,
    "text_metrics": 4.7908,
    "text_repetition": 3.2578,
    "volumetrics": 0.9714,
}


def median_of(xs: list[float]) -> float:
    """Standard median (mean of the middle pair for even n).  The GATE
    statistic: gating on min(samples) let one lucky sample un-flag a
    genuinely bimodal-slow query — the median keeps confirmation
    re-runs symmetric: extra samples can clear an environment outlier,
    but a plan that is slow on MOST samples stays flagged.  min() is
    still emitted under "queries" in the full record as the
    steady-state cost."""
    s = sorted(xs)
    n = len(s)
    if n % 2:
        return s[n // 2]
    return (s[n // 2 - 1] + s[n // 2]) / 2.0


def rig_factor_of(
    samples: dict[str, list[float]], anchors: dict[str, float] = BASELINE
) -> float:
    """Session rig factor: the median over anchored plans of
    median(samples) / anchor, floored at 1.0.  The median over plans
    moves only when most plans move — a rig slowdown — so a regression
    in a minority of plans does not feed it."""
    ratios = [median_of(xs) / anchors[n] for n, xs in samples.items() if n in anchors]
    return round(max(1.0, median_of(ratios)), 4)


def gate_normalized(name: str, norm_sec: float, anchors: dict[str, float] = BASELINE) -> bool:
    """Binding regression gate: normalized seconds > 1.5× anchor AND
    > 0.5 s absolute over it (sub-second queries swing ±0.4 s from
    environment noise; a ratio-only gate false-flags them)."""
    base = anchors.get(name)
    return base is not None and norm_sec > 1.5 * base and norm_sec - base > 0.5


def regressions_of(
    samples: dict[str, list[float]], anchors: dict[str, float] = BASELINE
) -> dict:
    """Every plan whose rig-normalized median fails the gate, with its
    anchor, normalized median and ratio."""
    rf = rig_factor_of(samples, anchors)
    reg = {}
    for name, xs in samples.items():
        now = round(median_of(xs) / rf, 4)
        if gate_normalized(name, now, anchors):
            reg[name] = {
                "anchor": anchors[name], "now": now, "ratio": round(now / anchors[name], 2)
            }
    return reg


def compact_line(full: dict) -> str:
    """ONE JSON line from the full bench record that fits the recorder's
    2,000-char tail capture whole: the contract fields
    (metric/value/unit/queries/sf — query secs to 3 decimals), the rig
    factor, the binding flags (ratios only) and a pointer to the
    on-disk full record.  The flag map caps at the 10 worst ratios
    (``n_flagged`` keeps the true count; the full record has every
    entry) so even an every-plan-flagged session fits.

    The ``queries`` map carries the MEDIAN of samples — the gate
    statistic — so the number a flag reports is the number in the map;
    ``stat`` labels it.  ``value`` stays the min-of-samples total for
    continuity with the recorded totals, and ``value_median`` is the
    median total."""
    reg = full["regressions"]
    worst = sorted(reg.items(), key=lambda kv: -kv[1]["ratio"])[:10]
    flags = {n: d["ratio"] for n, d in worst}
    if len(reg) > 10:
        flags["n_flagged"] = len(reg)
    return json.dumps(
        {
            "metric": full["metric"],
            "value": full["value"],
            "unit": full["unit"],
            "stat": "median",
            "value_median": round(sum(full["queries_median"].values()), 3),
            "queries": {n: round(t, 3) for n, t in full["queries_median"].items()},
            "sf": full["sf"],
            "rig_factor": full["rig_factor"],
            "regressions": flags,
            "full_record": full["full_record"],
        },
        separators=(",", ":"),
    )


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def traced_pass(spark, names: list[str], sf_dir: str, timed: dict[str, float]) -> dict:
    """Run each plan once more, untimed, through e2ebench's ``Recorder``
    (imported from ``e2ebench/tracing.py``, which stays as it is) and
    return per plan: the span wall, the ``build_s`` (``fn()``) and
    ``exec_s`` (noop write) call walls, the jobs of each phase, and
    over both phases the tasks, shuffle read + write MB, executor busy
    seconds, GC seconds and driver gap (each call's wall minus the
    time its jobs cover).  ``traced_minus_timed_s`` is build + exec
    minus the plan's timed median ``timed[name]``.  ``overhead_s`` is
    the recorder's own bookkeeping inside the span (a listener-bus
    drain and a status-store read after each call), so ``wall_s`` =
    ``build_s + exec_s + overhead_s`` up to the loop's own Python.
    Each plan gets ``run_plan``'s hygiene outside its span and its own
    recorder, so one plan's work is never attributed to another."""
    if str(REPO / "e2ebench") not in sys.path:
        sys.path.insert(0, str(REPO / "e2ebench"))
    from tracing import Recorder

    out = {}
    for name in names:
        release_stale_checkpoints(spark)
        spark.sparkContext._jvm.System.gc()
        rec = Recorder(spark, traced=True, run_id=name)
        mark_s = rec.overhead_s  # the recorder's first mark, before the span
        with rec.span(f"plans.{name}") as plan:
            df = rec.call(f"plans.build.{name}", REGISTRY[name].fn, spark, sf_dir)
            rec.call(f"plans.exec.{name}", _noop, df)
        build, exe = rec.spans[1:]
        work, gap = rec.layer_work("plans")
        out[name] = {
            "wall_s": round(plan.wall, 4),
            "build_s": round(build.wall, 4),
            "exec_s": round(exe.wall, 4),
            "build_jobs": build.work.jobs,
            "exec_jobs": exe.work.jobs,
            "tasks": work.tasks,
            "shuffle_mb": round(work.shuffle_bytes / 1e6, 3),
            "exec_busy_s": round(work.exec_run_ms / 1000, 3),
            "gc_s": round(work.gc_ms / 1000, 3),
            "driver_gap_s": round(gap, 4),
            "traced_minus_timed_s": round(build.wall + exe.wall - timed[name], 4),
            "overhead_s": round(rec.overhead_s - mark_s, 4),
        }
    return out


def run_plan(spark, name: str, sf_dir: str) -> float:
    # cross-plan cleanup runs BEFORE the clock: it is session hygiene,
    # not part of the measured query.  release_stale_checkpoints frees
    # tracked persists (and GCs only then); the unconditional GC here
    # keeps ContextCleaner draining shuffle/broadcast state of the
    # previous plan across a 50-plan session without charging any
    # query for it (round 1 charged it to the next plan's clock —
    # left_enrich_broadcast "cost" 6.2 s of other plans' garbage)
    release_stale_checkpoints(spark)
    spark.sparkContext._jvm.System.gc()
    # plan construction is INSIDE the timed region: some plans trigger
    # small jobs at build time (surrogate min/max stats), and that
    # work must show up in the number
    t0 = time.perf_counter()
    df = REGISTRY[name].fn(spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    # Session-lifecycle scratch retention (round 10, verdict task 5):
    # run the full policy sweep (IVF indexes, CSV fixtures, sf* trees)
    # BEFORE the session starts, so every bench
    # session bounds the scratch areas — the policy existed since
    # round 9 but only ran manually.  Before Spark startup and outside
    # any timed region; removals are noted on stderr (stdout carries
    # only the one-line driver contract).
    sys.path.insert(0, str(REPO / "scripts"))
    from clean_scratch import sweep as scratch_sweep

    swept = scratch_sweep()
    if swept:
        print(f"scratch sweep: removed {len(swept)} stale item(s)", file=sys.stderr)

    spark = get_spark("olist_spark_bench")

    run_plan(spark, "flagship_revenue_by_brand", sf_dir)  # warmup (JVM/codegen)
    # Arrow warmup (round 9, closing the r08 verdict's ann_cosine_topk
    # bimodality item): the first mapInPandas of a session pays the
    # Python-worker fork + Arrow init (~2 s measured cold) — session
    # infrastructure, not query work.  Without this, the cost lands on
    # whichever Arrow-using plan samples first (alphabetically
    # ann_cosine_topk: its r08 samples read 4.58/2.07 because sample 1
    # carried the session's Arrow startup).
    _noop(spark.range(32).mapInPandas(lambda it: it, "id long"))

    # two samples per query: single-shot numbers on this box carry
    # sporadic 2-3x environment outliers that rotate between queries
    # run-to-run.  EVERY sample is recorded (confirmation re-runs must
    # be auditable, not min'd away).
    names = sorted(REGISTRY)
    samples: dict[str, list[float]] = {n: [] for n in names}
    for name in names:
        for _ in range(2):
            samples[name].append(round(run_plan(spark, name, sf_dir), 4))

    # confirmation re-runs (sf0.1 only — other SFs have no anchors): a
    # query whose normalized MEDIAN-so-far still flags gets up to FIVE
    # more samples at a later moment (this box's noise modes rotate
    # between queries run-to-run, so a flag must survive extra samples
    # to be reported; a genuine plan regression reproduces on every
    # attempt and still flags).  The rig factor is recomputed from all
    # samples each round.  Five rounds because a session-start noise
    # EPOCH has been measured poisoning THREE samples of a plan
    # (sequence_packing 1.33/1.32/1.20 s then 0.62/0.55): a 7-sample
    # median lets 4 clean samples decide, while a genuinely slow plan
    # flags on every sample and exits the loop still flagged.
    at_sf01 = abs(sf - 0.1) < 1e-9
    if at_sf01:
        for _ in range(5):
            flagged = sorted(regressions_of(samples))
            if not flagged:
                break
            for name in flagged:
                samples[name].append(round(run_plan(spark, name, sf_dir), 4))

    timings = {name: min(samples[name]) for name in names}
    out = {
        "metric": "total_wall_sec_all_queries",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "queries_median": {name: median_of(samples[name]) for name in names},
        "samples": samples,
        "rig_factor": rig_factor_of(samples) if at_sf01 else 1.0,
        "regressions": regressions_of(samples) if at_sf01 else {},
    }
    out["traced"] = traced_pass(spark, names, sf_dir, out["queries_median"])
    # full record to disk (auditable: every sample), COMPACT gate
    # summary to stdout — the recorder keeps only the last 2,000 chars of
    # output, which truncated the full record's head in BENCH_r06.json
    # ("parsed": null, total and rig factor lost); the compact line
    # carries the contract fields (metric/value/unit/queries/sf) plus
    # the binding-gate verdict and fits the tail capture whole.  The
    # record is STAMPED by UTC timestamp (overwriting one gitignored
    # "latest" file destroyed each previous round's audit trail) — the
    # stamped file is committable evidence; "latest" remains a
    # gitignored pointer copy for tooling that hard-coded the old name.
    ab_dir = REPO / "bench_ab"
    ab_dir.mkdir(exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%SZ", time.gmtime())
    full_path = ab_dir / f"bench_full_{stamp}.json"
    out["full_record"] = f"bench_ab/{full_path.name}"
    payload = json.dumps(out, indent=1)
    full_path.write_text(payload)
    (ab_dir / "bench_full_latest.json").write_text(payload)
    print(compact_line(out))
    spark.stop()


if __name__ == "__main__":
    main()
