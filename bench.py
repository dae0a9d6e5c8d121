"""Benchmark harness (driver contract).

Runs every registered plan at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
JSON line: ``{"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}``.

Each query is fully materialized via the ``noop`` sink (forces the
whole plan — scan, shuffle, agg — without write-side cost).  A warmup
run of the flagship query absorbs JVM/codegen startup so per-query
numbers reflect steady-state execution.

Rig-drift normalization (round 5) — the structural fix for the anchor
churn rounds 3-4 fought with prose: this box's throughput drifts
between sessions (worktree A/B runs proved ANCHORED COMMITS re-timing
≥2× their own recorded anchors — see bench_ab/bench_ab.jsonl for the
raw records).  A fixed synthetic CALIBRATION plan (range → hash →
shuffle agg; no data files, no registry code, frozen literally below)
is timed best-of-3 once per WINDOW of 10 queries, and the session's
``rig_factor = max(1.0, median(window cals) / CAL_REF)``.  The median
+ floor are load-bearing, both measured during the round-5 anchoring
runs: individual cal windows spiked 0.64-1.77 s within ONE session
while the queries in those very windows ran at normal speed (cal
noise is independent of query noise, so per-window division
over-corrects — one window's 1.93 factor halved ten healthy queries'
normalized times), whereas a genuine slow EPOCH (the r04 phenomenon:
whole sessions 1.4-2× slow, proven by worktree A/B re-times of
anchored commits) lifts every window and therefore the median.  The
floor stops a lucky-cal session from inflating normalized times,
since CAL_REF is the quiet-rig minimum.  The BINDING regression gate
runs on ``median(samples) / rig_factor`` against ``BASELINE_R06``
(round 7 — the first anchor set whose statistic matches the gate's
median, closing the min-vs-median asymmetry ADVICE r06 flagged); a
rig slowdown moves raw and calibration together and cancels, while a
genuine plan regression moves only its own query and still flags —
verified by the injected-sleep tests in tests/test_bench_gate.py and
one real injected-sleep bench run (BASELINE.md §"Calibration").
Diffs vs the frozen R01-R05 anchor dicts remain recorded for history.

Round 10 split the rig model by EXECUTION MODE: the JVM kernel
provably does not track interpreter/Arrow throughput (BASELINE.md's
round-8 analysis — the axis behind the multimodal bimodality and the
r9 81.5-106.7 s session spread), so each calibration window now also
times a fixed pure-Python ``mapInPandas`` kernel, every plan is
labeled JVM-mode or Python-mode (``PY_MODE_PLANS``, derived by
executed-plan inspection), and each plan normalizes by ITS OWN mode's
rig factor.  A slow-Python session no longer inflates
``multimodal_metadata``'s normalized ratio, and a slow-JVM session no
longer hides behind a quiet Python factor — per-mode injected-sleep
tests in tests/test_bench_gate.py.
EVERY timing sample and cal window (including confirmation re-runs)
is written to ``bench_ab/bench_full_latest.json`` so re-anchoring
decisions stay auditable; STDOUT carries only the compact gate
summary (``compact_line``) because the driver's BENCH_r{N}.json keeps
just the last 2,000 chars of output — round 6 lost its total, rig
factor and half the per-query map to that truncation.
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

from pyspark.sql import functions as F  # noqa: E402

from olist_ecommerce_data_warehouse_spark.plans import REGISTRY  # noqa: E402
from olist_ecommerce_data_warehouse_spark.plans.registry import (  # noqa: E402
    release_stale_checkpoints,
)
from olist_ecommerce_data_warehouse_spark.session import get_spark  # noqa: E402

# Frozen round-1 per-query baseline (BENCH_r01, sf0.1, local[32],
# best-of-2) — the regression anchor BASELINE.md §"Per-query baseline"
# documents.  Plans merged in round 2 carry the SUM of their round-1
# parts (e.g. scalar_kpis = total_revenue + order_date_range).
BASELINE_R01 = {
    # ann_cosine_topk re-anchored in BASELINE_R04: round 4 added the
    # SRP-LSH panel branch (capability change)
    # ann_ivf_topk's r01 anchor (1.4946) retired: round 3 put k-means
    # TRAINING in the loop — re-anchored in BASELINE_R02
    # approx_aggregates re-anchored in round 2: the plan gained exact
    # distinct/percentile anchors + in-bounds indicators to become
    # driver-oracle-checkable (round-1 0.4329 s was sketch-only work)
    "approx_aggregates": 1.59,
    # asof_click_attribution re-anchored in BASELINE_R04: round 4 added
    # the bucketized range-join branch (capability change)
    "cleanse_accent_fold_dedup": 0.3901, "cleanse_decimal_comma": 1.4546,
    "cleanse_trim_case_prefix": 0.5716, "cleanse_try_timestamp": 0.4566,
    "cleanse_validity_filter": 0.2993, "csv_roundtrip_ingest": 1.7187,
    "date_dimension": 0.2946, "datetime_functions": 0.4574,
    # dedup_embedding_cosine re-anchored in BASELINE_R04: round 4 added
    # the SemDeDup branch (capability change)
    # dedup_exact re-anchored in BASELINE_R04: round 4 added the
    # kind='url' URL-canonicalization dedup branch (capability change)
    "dedup_keep_latest": 0.4163,
    "dedup_minhash_lsh": 30.6293, "dedup_ngram_jaccard": 12.3889,
    # doc_fingerprint's r01 anchor (0.3233) retired: absorbed into
    # text_metrics' summed anchor in round 3 — keeping it would
    # double-count it in baseline_total_r01
    "dedup_simhash": 1.9684,
    "events_json_props": 0.5688, "events_sessionization": 0.6615,
    # events_windows / text_metrics: round-2 slot merges (tumbling +
    # sliding windows; token stats + quality score) — anchor = sum of
    # their round-1 parts, like the other merged plans
    "events_windows": 1.2129,
    "flagship_revenue_by_brand": 1.2667, "gold_dim_customer": 0.6348,
    "gold_fact_lineitem": 3.5523, "gold_fact_orders": 1.8848,
    "gold_revenue_by_region": 0.9745,
    "left_enrich_broadcast": 6.1962, "multikey_left_distinct": 7.8658,
    # multimodal_decode_frames: round-2 slot merge (decode stub +
    # frame sample), summed anchor like the other merges
    "multimodal_decode_frames": 2.7908,
    # multimodal_metadata re-anchored in BASELINE_R04: round 4 added
    # the real-container header-probe branch (capability change)
    "orphan_check": 0.5465,
    "per_order_rollup": 1.6498, "pivot_event_types_daily": 0.5582,
    "pricing_summary": 1.1094, "rollup_region_segment": 1.2103,
    # scalar_kpis / scd2_dim_customer / text_metrics: capability
    # changed in round 3 (slot merges, incremental-apply stage, PII
    # columns) — re-anchored in BASELINE_R03 with MEASURED round-3
    # values instead of the hand-scaled r01 numbers this dict briefly
    # carried (an anchor that was never measured is not an anchor)
    "sk_resolution_chain": 1.338, "skew_salted_join": 3.0472,
    "surrogate_keys": 0.8046,
    # text_lang_id re-anchored in BASELINE_R04: round 4 widened it to a
    # 10-language universe (capability change)
    "volumetrics": 0.9386,
}

# Frozen round-2 anchors (BENCH_r02, same rig) for plans that did not
# exist in round 1 — keeps the regression diff honest for the heavy
# iterative plans instead of leaving them silently unanchored.
BASELINE_R02 = {
    # contamination_check re-anchored in BASELINE_R04 (rolling
    # token-hash gram rewrite, 3× faster)
    "dedup_cluster_cc": 6.4824,
    # ann_ivf_topk re-anchored here in round 3: k-means TRAINING moved
    # into the loop (capability change)
    "ann_ivf_topk": 2.6,
}

# Frozen round-3 anchors (BENCH_r03, same rig): plans new in round 3
# plus round-3 capability changes.
BASELINE_R03 = {
    "corpus_mixing": 0.1904,
    "embedding_quantize": 0.2557,
    "merge_upsert_incremental": 0.2978,
    "scd2_dim_customer": 0.6077,
}

# Frozen round-4 anchors (measured in round 4, sf0.1 local[32],
# best-of-2): round-4 capability widenings + rig-drift re-measures
# (full provenance in BASELINE.md §"Round-4 anchor updates").
BASELINE_R04 = {
    "asof_click_attribution": 0.748,
    "dedup_embedding_cosine": 2.352,
    "ann_cosine_topk": 1.133,
    "text_metrics": 4.526,
    "text_lang_id": 3.6,
    "sequence_packing": 0.451,
    "text_repetition": 2.549,
    "contamination_check": 2.55,
    "dedup_exact": 1.0,
    "multimodal_metadata": 1.1,
    "scalar_kpis": 1.7,
}

# ------------------------------------------------------------ calibration

# Frozen calibration reference (seconds): the round-5 anchoring
# sessions measured the synthetic plan below at 0.92 s best-of-3 on
# the quiet rig (0.92/1.34 within one session as it drifted).  NEVER
# re-measure this constant — the whole point is that it is the fixed
# unit every later session's calibration is divided by.
CAL_REF = 0.92

# Frozen PYTHON-mode calibration reference (round 10, verdict task 1).
# BASELINE.md's round-8 analysis proved the JVM kernel above does NOT
# track interpreter/Arrow throughput — the axis behind the
# multimodal_metadata bimodality and the r9 81.5-106.7 s session
# spread — so Python-kernel plans get their own fixed unit: the
# mapInPandas kernel below measured best-of-3 on the quiet rig in two
# anchoring sessions (0.7615 / 0.7514 with the JVM cal reading
# 0.86-0.98 in both, i.e. rig factor 1.0 — BASELINE.md §"Round-10
# Python-mode calibration").  Same contract as CAL_REF: the quiet-rig
# minimum, never re-measured.
CAL_REF_PY = 0.75

# Plans whose executed plan contains Python/Arrow eval nodes
# (MapInPandas / FlatMapGroupsInPandas — derived by optimizedPlan()
# inspection at sf0.001, asserted by tests/test_bench_gate.py).  These
# normalize by rig_factor_py; everything else (pure JVM codegen +
# shuffle) by the JVM rig factor.  A plan that GAINS a Python kernel
# must be added here or its normalization silently uses the wrong
# mode's factor — the plan-inspection test catches exactly that drift.
PY_MODE_PLANS = frozenset({
    "ann_cosine_topk",
    "ann_ivf_topk",
    "dedup_embedding_cosine",
    "embedding_quantize",
    "multimodal_decode_frames",
    "multimodal_metadata",
    "sequence_packing",
    "text_metrics",
})


def calibration_sec(spark) -> float:
    """Best-of-3 of a fixed synthetic plan: 8M-row range → modulo key +
    xxhash64 → hash aggregate (map-side partials + one shuffle) → scalar
    reduce.  No data files, no registry code, no Python kernels — pure
    JVM codegen + shuffle, the two axes this box's drift moves.  ~1 s
    per run at reference speed; one untimed warm run absorbs codegen."""

    def one() -> float:
        t0 = time.perf_counter()
        df = (
            spark.range(0, 8_000_000)
            .select(
                (F.col("id") % 1000003).alias("k"),
                (F.xxhash64(F.col("id").cast("string")) % 1000000).alias("h"),
            )
            .groupBy("k")
            .agg(F.sum("h").alias("s"), F.count("*").alias("c"))
            .agg(F.sum(F.col("s") + F.col("c")).alias("t"))
        )
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    one()
    return min(one() for _ in range(3))


def calibration_py_sec(spark) -> float:
    """Best-of-3 of a fixed PYTHON-mode plan: 400k-row range over 32
    partitions → mapInPandas kernel running a 256-iteration pure-Python
    LCG per row → scalar reduce.  Frozen literally (round 10): the
    inner loop is interpreter bytecode (deliberately NOT numpy/hashlib
    C code — the multimodal/codec kernels this calibrates for are
    pure-Python struct walkers), and at this size the run splits
    roughly half interpreter, half Python-worker dispatch + Arrow
    transfer — the two axes the JVM kernel provably misses.  ~0.75 s
    per run at reference speed; one untimed warm run absorbs the
    per-kernel setup.  (Measured while tuning: the same kernel read
    1.28-1.53 s in a slow-Python-mode session whose JVM cal was quiet
    — exactly the drift signature this kernel exists to normalize.)

    Round 11 (VERDICT r10 task 2b): the kernel's partition count is
    ``defaultParallelism``, not a fixed 32 — the total interpreter
    work (400k rows × 256 LCG steps) is unchanged, but a fixed-32
    layout at a reduced ``$SPARK_GRAFT_CPUS`` paid 4× the per-task
    dispatch waves of the plans it calibrates for, over-reading
    ``rig_factor_py`` (2.88 measured at 8 cores) and over-normalizing
    every PY-mode plan at non-contract core counts.  At the contract
    width (32 cores) the plan is IDENTICAL, so CAL_REF_PY and every
    recorded factor stay comparable."""

    def one() -> float:
        t0 = time.perf_counter()

        def kern(batches):
            import pandas as pd

            for pdf in batches:
                out = []
                for i in pdf["id"]:
                    h = int(i) & 0xFFFFFFFF
                    for _ in range(256):
                        h = (h * 1103515245 + 12345) & 0x7FFFFFFF
                    out.append(h)
                yield pd.DataFrame(
                    {"id": pdf["id"], "h": pd.array(out, dtype="int64")}
                )

        df = (
            spark.range(
                0, 400_000, 1, spark.sparkContext.defaultParallelism
            )
            .mapInPandas(kern, "id long, h long")
            .agg(F.sum("h").alias("t"))
        )
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    one()
    return min(one() for _ in range(3))


# Round-5 NORMALIZED anchors: every registered plan, measured in the
# anchoring session (sf0.1 local[32], min of the session's samples)
# where rig_factor = 1.0, so normalized == raw there.  This dict is
# the BINDING regression gate; R01-R04 raw dicts above stay for
# historical raw diffs.  Re-anchor an entry ONLY for a capability
# change, with the measured normalized value and a comment.
BASELINE_R05 = {
    "ann_cosine_topk": 1.3568,
    # re-anchored in round 6: the slot gained PQ ADC top-k search as
    # kind='adc' (codebook training + encoding + table-lookup search
    # in-query) — capability change; measured 3.6753 min / 3.7345 2nd
    # on a rig-factor-1.0 session after the noise epoch cleared
    "ann_ivf_topk": 3.6753,
    # re-anchored in round 5: the slot gained the Z-order Morton
    # layout gate (sum/min/max of the interleaved key inside the same
    # single-pass aggregate) — capability change; min normalized over
    # two post-widening sessions (raw samples in BENCH_r05/bench_ab)
    "approx_aggregates": 1.2684,
    "asof_click_attribution": 1.0182,
    "cleanse_accent_fold_dedup": 0.294,
    "cleanse_decimal_comma": 1.394,
    "cleanse_trim_case_prefix": 0.2881,
    "cleanse_try_timestamp": 0.3521,
    "cleanse_validity_filter": 0.218,
    "contamination_check": 2.4088,
    # re-anchored in round 6: the slot gained DSIR importance
    # resampling as kind='dsir' (single-pass hashed feature table, two
    # corpus models, fixed-point λ, Gumbel-top-k selection in-query) —
    # capability change; measured 6.4631/6.8735 clean samples, rig 1.0
    "corpus_mixing": 6.4631,
    "csv_roundtrip_ingest": 0.9566,
    "date_dimension": 0.2383,
    "datetime_functions": 0.4131,
    "dedup_cluster_cc": 3.9425,
    "dedup_embedding_cosine": 1.9979,
    "dedup_exact": 0.6342,
    "dedup_keep_latest": 0.3571,
    "dedup_minhash_lsh": 2.5857,
    "dedup_ngram_jaccard": 4.0654,
    "dedup_simhash": 1.9421,
    # re-anchored in round 5: the slot gained in-loop PQ codebook
    # training (2 subspace k-means, unrolled-Lloyd-replayed) with
    # encoding FUSED into the int8 kernel (zero-exchange plan kept);
    # measured 2.941 best-of-4, cal 1.16 → normalized 2.5327
    "embedding_quantize": 2.5327,
    "events_json_props": 0.588,
    "events_sessionization": 0.5642,
    "events_windows": 0.8597,
    "flagship_revenue_by_brand": 1.3588,
    "gold_dim_customer": 0.4555,
    "gold_fact_lineitem": 3.2367,
    "gold_fact_orders": 1.6442,
    "gold_revenue_by_region": 0.8164,
    "left_enrich_broadcast": 0.3868,
    "merge_upsert_incremental": 0.5147,
    "multikey_left_distinct": 0.5369,
    "multimodal_decode_frames": 0.8063,
    # re-anchored in round 5: the slot gained the decode:png-pal and
    # decode:bmp8 closed-form gates (palette PNG defilter-at-bpp-1 +
    # PLTE resolution; indexed-BMP stride + color-table resolution) —
    # capability change; min normalized over two post-widening sessions
    "multimodal_metadata": 1.5462,
    "orphan_check": 0.4202,
    "per_order_rollup": 1.6091,
    "pivot_event_types_daily": 0.4078,
    "pricing_summary": 1.2888,
    "rollup_region_segment": 1.0451,
    "scalar_kpis": 1.2687,
    "scd2_dim_customer": 0.8994,
    "sequence_packing": 0.5918,
    "sk_resolution_chain": 1.3376,
    "skew_salted_join": 2.3584,
    "surrogate_keys": 0.4897,
    # re-anchored in round 6: the slot gained the TRAINED quality head
    # (in-slot label + 4-round mini-batch PEGASOS training + scoring,
    # oracle re-trains) — capability change; measured 10.3543 min of
    # four consistent samples (10.35-12.05), rig 1.0
    "text_lang_id": 10.3543,
    # re-anchored in round 5: the slot gained the Gopher rule battery
    # (7 integer-gated filters + AND, map-only) — capability change;
    # measured 4.5086 best-of-4 on a quiet rig (factor exactly 1.0;
    # a second, noisier session normalized to 4.05 — the quiet-rig
    # number is the anchor, no normalization uncertainty)
    "text_metrics": 4.5086,
    "text_repetition": 3.2971,
    "volumetrics": 0.7986,
}


# Round-6 NORMALIZED anchors — the BINDING gate since round 7, and the
# first anchor set whose statistic MATCHES the gate statistic (ADVICE
# r06: the gate moved to median-of-samples in round 6 while BASELINE_R05
# stayed min-of-samples, systematically inflating ratios — the round-6
# text_lang_id flag adjudicated as exactly this artifact plus rig noise,
# see bench_ab/bench_ab.jsonl).  Each value is the MIN OF THE TWO
# ANCHORING SESSIONS' MEDIANS (bench_ab/anchoring_r6_run{1,2}.json,
# both rig-factor 1.0): the per-session median absorbs sample outliers,
# and the min across sessions drops the session that started inside a
# noise epoch (run1's first two cal windows read 2.23/1.91 s while its
# later windows read 0.63-0.71 s).  Re-anchor an entry ONLY for a
# capability change, with the measured normalized median and a comment.
BASELINE_R06 = {
    "ann_cosine_topk": 1.9025,
    # re-anchored in round 7: the slot gained the persistent-index
    # lifecycle as kind='ivf-loaded' (save partitionBy(centroid_id) →
    # reload → partition-pruned search in-query) — capability change;
    # min of the round-7 anchoring sessions' medians (rig 1.0,
    # bench_ab/anchoring_r7_run{1,2}.json: 8.668 / 8.2794)
    # re-anchored in round 10: the three independent training chains
    # (IVF k-means, two PQ subspaces) now overlap from a thread pool
    # and the PQ dimension-probe job is gone — byte-identical models,
    # pure speedup; A/B 0.633 (bench_ab.jsonl), min of the round-10
    # anchoring sessions' normalized medians (3.970 / 4.230).
    # Round-7 anchor was 8.2794.
    # re-anchored in round 11 for the MEASUREMENT-PROTOCOL fix the r10
    # verdict ordered (first-build semantics: run_plan now sweeps the
    # content-addressed index before every sample's clock, so each
    # sample pays the two index-write jobs the r10 anchor's sessions
    # skipped after their first run — the flagged cross-run subsidy).
    # Same code path is FASTER than r10 under equal protocols (A/B
    # 0.92 with both sides sweeping); the anchor moves only because
    # the number now contains the write.  Min of the two round-11
    # certification sessions' normalized medians (4.761 / 5.634,
    # bench_full_20260818T{092358,102206}Z.json).  Round-10 anchor
    # was 3.97 (subsidized protocol).
    "ann_ivf_topk": 4.761,
    "approx_aggregates": 1.7775,
    "asof_click_attribution": 1.281,
    "cleanse_accent_fold_dedup": 0.4144,
    "cleanse_decimal_comma": 2.0378,
    "cleanse_trim_case_prefix": 0.3814,
    "cleanse_try_timestamp": 0.6224,
    "cleanse_validity_filter": 0.3512,
    "contamination_check": 2.9556,
    # re-anchored in round 9: the dsir/ccnet kinds fused onto ONE
    # persisted tokenized-corpus pass and the slot's ~10-job chain
    # collapsed to 3 (commit 33cc47e) — a pure SPEEDUP, so the anchor
    # TIGHTENS to hold the win (the text_lang_id round-7 precedent),
    # adjudicated by worktree A/B (bench_ab.jsonl 2026-08-16T08:20-09:00Z,
    # five alternating sessions, head_over_ref 0.79-1.01).  Min of the
    # round-9 anchoring sessions' normalized medians (13.248 rig 1.0 /
    # 12.209 rig 1.0103, bench_ab/anchoring_r9_run{1,2}.json; a third
    # session hit a noise epoch — 28.8 s first sample, cal window
    # 1.71 s — and is excluded with the record kept, the r7
    # run3_late_epoch precedent: anchoring_r9_run3_noise_epoch.json).
    # Round-8 anchor was 14.0624 (pre-fuse + sketch gate,
    # anchoring_r8_run{1,2}.json).
    "corpus_mixing": 12.209,
    "csv_roundtrip_ingest": 1.1153,
    "date_dimension": 0.2818,
    "datetime_functions": 0.4502,
    "dedup_cluster_cc": 4.9013,
    "dedup_embedding_cosine": 2.2685,
    "dedup_exact": 0.8931,
    "dedup_keep_latest": 0.5159,
    "dedup_minhash_lsh": 3.1492,
    "dedup_ngram_jaccard": 4.3703,
    "dedup_simhash": 2.0059,
    # re-anchored in round 10: pq_train thread overlap + dim probe
    # removal, pure speedup — A/B 0.508, min of the anchoring
    # normalized medians (1.169 / 1.079).  Round-6 anchor was 2.1793.
    "embedding_quantize": 1.079,
    "events_json_props": 0.7393,
    "events_sessionization": 0.6638,
    "events_windows": 0.8795,
    "flagship_revenue_by_brand": 1.4032,
    "gold_dim_customer": 0.5526,
    "gold_fact_lineitem": 3.4678,
    "gold_fact_orders": 1.5413,
    "gold_revenue_by_region": 0.7874,
    "left_enrich_broadcast": 0.4343,
    "merge_upsert_incremental": 0.5707,
    "multikey_left_distinct": 0.694,
    "multimodal_decode_frames": 0.8485,
    # re-anchored in round 8, closing the round-7 2.55x flag by the
    # documented process: (1) worktree A/B vs the BASELINE_R06 freeze
    # commit adjudicated head_over_ref 1.346 — REAL capability cost
    # from the restart-interval + progressive-JPEG gates that landed
    # after the freeze (bench_ab.jsonl 2026-08-15T22:13Z) — and the
    # freeze commit itself re-timed 3.58-3.68 s vs its 2.1679 anchor
    # at cal rig 1.0, proving the old anchor sat in the fast mode of
    # the documented bimodality and that the JVM-shuffle calibration
    # plan does not track the pure-Python decode mode; (2) round 8
    # further widened the slot (kind='decode:png-sub8' sub-8-bit PNG,
    # kind='probe:mp4-stbl' sample-table walk); (3) anchor frozen as
    # the min of the round-8 anchoring medians AT the post-widening
    # HEAD (4.8012 / 4.9775, both rig 1.0,
    # bench_ab/anchoring_r8_run{1,2}.json).  Round-7 anchor was
    # 2.1679 (jpeg420-era, anchoring_r7_run{1,2}.json).
    "multimodal_metadata": 4.8012,
    "orphan_check": 0.5284,
    "per_order_rollup": 1.9933,
    "pivot_event_types_daily": 0.4919,
    "pricing_summary": 1.3167,
    "rollup_region_segment": 1.2961,
    "scalar_kpis": 1.2396,
    "scd2_dim_customer": 1.0981,
    "sequence_packing": 0.6977,
    "sk_resolution_chain": 1.5366,
    "skew_salted_join": 2.3593,
    "surrogate_keys": 0.5363,
    # re-anchored in round 7: the four-branch join fan-in collapsed to
    # one fused head (plans/text.py — a pure SPEEDUP, so the anchor
    # tightens from 11.42 to hold the win); min of the round-7
    # anchoring medians (9.2145 / 9.5404), adjudicated faster than
    # the pre-collapse code by worktree A/B (bench_ab.jsonl:
    # head_over_ref 0.894)
    # round 10: the scan-width rebalance is a pure speedup (A/B
    # head_over_ref 0.766, quiet-session normalized medians 5.2-6.4)
    # but the anchor is NOT tightened: this plan rides the regex/md5
    # JVM axis the rig model provably under-corrects (BASELINE.md
    # §"Round-10: tightening held back...": a same-day session ran it
    # at 2x quiet on 6/7 samples while the JVM cal read 1.27), so a
    # quiet-state anchor is a false-flag machine.  The win is held by
    # the A/B record + OPTIMIZATION_r10.md; the old anchor's implicit
    # slow-mode headroom (now ~1.4x of quiet, exactly the margin the
    # r9 corpus_mixing tightening kept) stays.
    "text_lang_id": 9.2145,
    # re-anchored in round 10: scan-width rebalance, pure speedup —
    # A/B 0.736, min of the anchoring normalized medians (2.711 /
    # 3.407).  Round-6 anchor was 4.1987.
    "text_metrics": 2.711,
    # round 10: rebalance speedup A/B 0.802, anchor NOT tightened —
    # same regex/md5-axis rationale as text_lang_id above (the same
    # pathological session read it at 1.66x a quiet-state anchor).
    "text_repetition": 2.8746,
    "volumetrics": 0.5653,
}


def median_of(xs: list[float]) -> float:
    """Standard median (mean of the middle pair for even n).  The GATE
    statistic since round 6: gating on min(samples) let one lucky
    sample un-flag a genuinely bimodal-slow query (the asymmetry the
    round-4/5 ADVICE called out) — the median keeps confirmation
    re-runs symmetric: extra samples can clear an environment outlier,
    but a plan that is slow on MOST samples stays flagged.  min() is
    still emitted under "queries" as the steady-state cost record."""
    s = sorted(xs)
    n = len(s)
    if n % 2:
        return s[n // 2]
    return (s[n // 2 - 1] + s[n // 2]) / 2.0


def rig_factor_of(cals: list[float], ref: float = CAL_REF) -> float:
    """Session rig factor from the window calibrations: median (robust
    to independent cal spikes — measured 0.64-1.77 s within one quiet
    session) with a 1.0 floor (the ref is the quiet-rig minimum, so a
    sub-1.0 median is cal luck, not a faster rig).  ``ref`` defaults
    to the JVM kernel's unit; pass CAL_REF_PY for the Python windows
    (round 10 — one factor per execution mode)."""
    med = sorted(cals)[len(cals) // 2]
    return round(max(1.0, med / ref), 4)


def plan_rig_factor(name: str, rf_jvm: float, rf_py: float) -> float:
    """The rig factor a plan normalizes by: Python-kernel plans track
    the interpreter/Arrow drift axis, everything else the JVM
    codegen+shuffle axis (round 10 — BASELINE.md's round-8 analysis
    proved the axes drift independently)."""
    return rf_py if name in PY_MODE_PLANS else rf_jvm


def gate_normalized(name: str, norm_sec: float, anchors: dict[str, float] | None = None) -> bool:
    """Binding regression gate: normalized seconds > 1.5× anchor AND
    > 0.5 s absolute over it (sub-second queries swing ±0.4 s from
    environment noise; a ratio-only gate false-flags them).  Binds to
    BASELINE_R06 since round 7 — the first anchor set measured with
    the gate's own median statistic."""
    anchors = BASELINE_R06 if anchors is None else anchors
    base = anchors.get(name)
    return base is not None and norm_sec > 1.5 * base and norm_sec - base > 0.5


def diff_vs(anchors: dict[str, float], tag: str, timings: dict[str, float]) -> dict:
    """Per-query regression diff of ``timings`` vs an anchor dict —
    same 1.5×-AND->0.5s rule as the gate."""
    reg = {}
    for name, sec in timings.items():
        base = anchors.get(name)
        if base is not None and sec > 1.5 * base and sec - base > 0.5:
            reg[name] = {tag: base, "now": sec, "ratio": round(sec / base, 2)}
    return reg


def compact_line(full: dict) -> str:
    """ONE ≤ ~1.6 kB JSON line from the full bench record: the driver
    contract fields (metric/value/unit/queries/sf — query secs to 3
    decimals), the session rig factor, the r01 raw diff and the
    binding r06 normalized-median flags (ratios only), and a pointer
    to the on-disk full record.  Everything else (samples, cal
    windows, historical diffs) lives in that file — stdout must
    survive the driver's 2,000-char tail capture intact.  Flag maps
    cap at the 12 worst ratios (``n_flagged`` keeps the true count;
    the full record has every entry) so even a pathological
    every-plan-flagged session fits the tail budget.

    Since round 8 the ``queries`` map carries the MEDIAN of samples —
    the gate statistic — so the number a flag reports is the number in
    the map (VERDICT r07: the r07 line showed min 4.498 for a query
    flagged at median 5.53, inviting misreads).  ``stat`` labels it;
    ``value`` stays the min-of-samples total for continuity with the
    R01-R07 recorded totals, and ``value_median`` is the median total."""

    def top_flags(reg: dict) -> dict:
        worst = sorted(reg.items(), key=lambda kv: -kv[1]["ratio"])[:10]
        out = {n: d["ratio"] for n, d in worst}
        if len(reg) > 10:
            out["n_flagged"] = len(reg)
        return out

    return json.dumps(
        {
            "metric": full["metric"],
            "value": full["value"],
            "unit": full["unit"],
            "stat": "median",
            "value_median": round(sum(full["queries_median"].values()), 3),
            "queries": {n: round(t, 3) for n, t in full["queries_median"].items()},
            "sf": full["sf"],
            "rig_factor": full["calibration"]["rig_factor"],
            "rig_factor_py": full["calibration"].get("rig_factor_py", 1.0),
            "regressions_vs_r01": top_flags(full["regressions_vs_r01"]),
            "regressions_normalized_vs_r06": top_flags(
                full["regressions_normalized_vs_r06"]
            ),
            "full_record": full["full_record"],
        },
        separators=(",", ":"),
    )


def _sweep_ivf_indexes() -> None:
    """First-build semantics for the content-addressed IVF index
    (round 11, VERDICT r10 §What's-wrong #1): the published index dir
    is keyed on the corpus fingerprint and reused across sessions, so
    without this sweep every bench run after the very first skipped
    the two index-write jobs inside its timed region — a timed-region
    subsidy under the no-precomputation-across-runs rule.  Removing
    ``ivf_index_*`` (and the warm centroid cache) before each sample's
    clock makes every reported number pay the full build it reports.
    The operator's own write-once semantics are untouched — this is
    bench hygiene, same tier as release_stale_checkpoints."""
    import shutil

    from olist_ecommerce_data_warehouse_spark.operators.ann_index import (
        clear_centroid_cache,
    )

    scratch = REPO / ".scratch"
    if scratch.is_dir():
        for name in os.listdir(scratch):
            if name.startswith("ivf_index_"):
                shutil.rmtree(scratch / name, ignore_errors=True)
    clear_centroid_cache()


def run_plan(spark, name: str, sf_dir: str) -> float:
    # cross-plan cleanup runs BEFORE the clock: it is session hygiene,
    # not part of the measured query.  release_stale_checkpoints frees
    # tracked persists (and GCs only then); the unconditional GC here
    # keeps ContextCleaner draining shuffle/broadcast state of the
    # previous plan across a 50-plan session without charging any
    # query for it (round 1 charged it to the next plan's clock —
    # left_enrich_broadcast "cost" 6.2 s of other plans' garbage)
    release_stale_checkpoints(spark)
    _sweep_ivf_indexes()
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
    spark.range(32).mapInPandas(lambda it: it, "id long").write.format(
        "noop"
    ).mode("overwrite").save()

    # best-of-2 per query: single-shot numbers on this box carry
    # sporadic 2-3x environment outliers that rotate between queries
    # run-to-run; the min of two passes is the steady-state cost.
    # EVERY sample is recorded with its window's rig factor (ADVICE
    # r04: confirmation re-runs must be auditable, not min'd away).
    names = sorted(REGISTRY)
    cals: list[float] = []
    cals_py: list[float] = []
    samples: dict[str, list[float]] = {n: [] for n in names}

    for i, name in enumerate(names):
        if i % 10 == 0:
            cals.append(round(calibration_sec(spark), 4))
            cals_py.append(round(calibration_py_sec(spark), 4))
        for _ in range(2):
            samples[name].append(round(run_plan(spark, name, sf_dir), 4))

    # confirmation re-runs against the NORMALIZED gate: a query whose
    # MEDIAN-so-far still flags gets up to FIVE more samples at a
    # later moment (both of this box's noise modes rotate between
    # queries run-to-run, so a flag must survive extra samples to be
    # reported; a genuine plan regression reproduces on every attempt
    # and still flags).  Each confirmation round also adds a cal
    # window so the rig median keeps tracking the session.  The gate
    # statistic is the MEDIAN of all samples (round 6 — see
    # median_of): a single lucky confirmation sample can no longer
    # un-flag a bimodal-slow query, while a one-off outlier is
    # outvoted by the clean majority.  Round 6 set THREE rounds
    # because a session-start noise EPOCH can poison both initial
    # samples (measured: first two samples 5-20× inflated across many
    # plans while cal windows read 2.2/1.9 s).  Round 8 measured an
    # epoch that poisoned THREE samples (sequence_packing 1.33/1.32/
    # 1.20 s then 0.62/0.55 — every neighboring session 0.55-0.75,
    # bench_full_20260815T234417Z.json): with a 5-sample median the
    # three poisoned samples still outvote, so confirmations now run
    # to FIVE rounds — a 7-sample median lets 4 clean samples decide,
    # while a genuinely slow plan flags on every sample and exits the
    # loop still flagged.  All confirmation samples land in "samples".
    if abs(sf - 0.1) < 1e-9:
        for _ in range(5):
            rf_jvm = rig_factor_of(cals)
            rf_py = rig_factor_of(cals_py, CAL_REF_PY)
            flagged = [
                n
                for n in names
                if gate_normalized(
                    n, median_of(samples[n]) / plan_rig_factor(n, rf_jvm, rf_py)
                )
            ]
            if not flagged:
                break
            cals.append(round(calibration_sec(spark), 4))
            cals_py.append(round(calibration_py_sec(spark), 4))
            for name in flagged:
                samples[name].append(round(run_plan(spark, name, sf_dir), 4))

    rig_factor = rig_factor_of(cals)
    rig_factor_py = rig_factor_of(cals_py, CAL_REF_PY)
    timings = {name: min(samples[name]) for name in names}
    medians = {name: median_of(samples[name]) for name in names}
    normalized = {
        name: round(t / plan_rig_factor(name, rig_factor, rig_factor_py), 4)
        for name, t in timings.items()
    }
    normalized_median = {
        name: round(t / plan_rig_factor(name, rig_factor, rig_factor_py), 4)
        for name, t in medians.items()
    }

    # regression diffs: normalized-vs-R06 is the binding gate; diffs
    # vs the frozen R01-R05 dicts stay for history (sf0.1 only —
    # other SFs have no recorded anchor)
    at_sf01 = abs(sf - 0.1) < 1e-9
    out = {
        "metric": "total_wall_sec_all_queries",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "queries_normalized": normalized,
        "queries_median": medians,
        "calibration": {
            "window_secs": cals,
            "ref_sec": CAL_REF,
            "rig_factor": rig_factor,
            "window_secs_py": cals_py,
            "ref_sec_py": CAL_REF_PY,
            "rig_factor_py": rig_factor_py,
            "py_mode_plans": sorted(PY_MODE_PLANS),
        },
        "samples": samples,
        "baseline_total_r01": round(sum(BASELINE_R01.values()), 2),
        "regressions_vs_r01": diff_vs(BASELINE_R01, "r01", timings) if at_sf01 else {},
        "regressions_vs_r02": diff_vs(BASELINE_R02, "r02", timings) if at_sf01 else {},
        "regressions_vs_r03": diff_vs(BASELINE_R03, "r03", timings) if at_sf01 else {},
        "regressions_vs_r04": diff_vs(BASELINE_R04, "r04", timings) if at_sf01 else {},
        "regressions_normalized_vs_r05": (
            diff_vs(BASELINE_R05, "r05", normalized_median) if at_sf01 else {}
        ),
        "regressions_normalized_vs_r06": (
            diff_vs(BASELINE_R06, "r06", normalized_median) if at_sf01 else {}
        ),
    }
    # full record to disk (auditable: every sample, cal window and
    # historical diff), COMPACT gate summary to stdout — the driver
    # keeps only the last 2,000 chars of output, which truncated the
    # full record's head in BENCH_r06.json ("parsed": null, total and
    # rig factor lost); the compact line carries the driver contract
    # (metric/value/unit/queries/sf) plus the binding-gate verdict and
    # fits the tail capture whole.  The record is ROUND-STAMPED by UTC
    # timestamp (ADVICE r07: overwriting one gitignored "latest" file
    # destroyed each previous round's audit trail) — the stamped file
    # is committable evidence; "latest" remains a gitignored pointer
    # copy for tooling that hard-coded the old name.
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
