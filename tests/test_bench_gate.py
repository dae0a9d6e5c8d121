"""Unit tests for bench.py's calibration-normalized regression gate.

The gate is the repo's only defense against silent performance decay,
so its logic is tested like an operator: a genuine per-plan slowdown
(the injected-sleep scenario) MUST flag, a uniform rig slowdown MUST
cancel, and the noise floors MUST hold.  These run without Spark —
pure arithmetic over synthetic timings.
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import bench  # noqa: E402


def test_injected_2x_sleep_still_flags():
    """The verdict-r04 acceptance test: a deliberately-injected 2×
    slowdown in ONE plan must flag even after normalization, because
    the calibration plan is untouched and the rig factor stays 1.0."""
    name = "gold_fact_lineitem"
    anchor = bench.BASELINE_R06[name]
    cals = [bench.CAL_REF] * 7  # quiet rig, factor 1.0
    rf = bench.rig_factor_of(cals)
    assert rf == 1.0
    assert bench.gate_normalized(name, (2.0 * anchor) / rf)


def test_uniform_rig_slowdown_cancels():
    """The r04 drift scenario: EVERYTHING (queries and calibration)
    runs 1.8× slow.  Raw numbers would flood the raw diffs; the
    normalized gate must stay quiet for every plan."""
    cals = [bench.CAL_REF * 1.8] * 7
    rf = bench.rig_factor_of(cals)
    assert abs(rf - 1.8) < 0.01
    for name, anchor in bench.BASELINE_R06.items():
        assert not bench.gate_normalized(name, (1.8 * anchor) / rf), name


def test_cal_spike_does_not_shift_median():
    """One window's calibration spiking 2× (measured: 1.77 s in an
    otherwise-0.8-0.95 s session) must not move the session factor —
    the median absorbs it where a mean would over-correct the whole
    session by ~15%."""
    quiet = [0.91, 0.80, 0.85, 0.64, 0.95, 0.81]
    assert bench.rig_factor_of(quiet + [1.77]) == bench.rig_factor_of(quiet + [0.9])


def test_factor_floor_at_one():
    """A lucky-cal session (median below the frozen quiet-rig CAL_REF)
    must not INFLATE normalized times — that would manufacture fake
    regressions out of calibration luck."""
    assert bench.rig_factor_of([bench.CAL_REF * 0.7] * 5) == 1.0


def test_absolute_floor_suppresses_subsecond_ratio_noise():
    """Sub-second queries swing ±0.4 s run-to-run on this box; a 1.75×
    ratio on a 0.2 s anchor is noise, not a regression."""
    assert not bench.gate_normalized("x", 0.35, {"x": 0.2})
    # ... but a large query at the same ratio flags
    assert bench.gate_normalized("x", 3.5, {"x": 2.0})


def test_every_registered_plan_is_anchored():
    """The binding anchor set (BASELINE_R06) must cover the whole
    registry — an unanchored plan is invisible to the gate (the
    round-2 lesson); R05 stays complete for the historical diff."""
    from olist_ecommerce_data_warehouse_spark.plans import REGISTRY

    assert set(bench.BASELINE_R06) == set(REGISTRY)
    assert set(bench.BASELINE_R05) == set(REGISTRY)


def test_compact_line_survives_tail_capture():
    """The driver records only the LAST 2,000 chars of bench stdout
    (BENCH_r06.json lost its total and rig factor to this) — the
    compact gate-summary line must fit whole, parse, and carry the
    driver contract plus the binding verdict even with every plan
    flagged (worst-case flags payload)."""
    import json

    full = {
        "metric": "total_wall_sec_all_queries",
        "value": 123.4567,
        "unit": "sec",
        "queries": {n: 12.3456 for n in bench.BASELINE_R06},
        "queries_median": {n: 13.5456 for n in bench.BASELINE_R06},
        "sf": 0.1,
        "calibration": {"rig_factor": 1.2345},
        "regressions_vs_r01": {},
        "regressions_normalized_vs_r06": {
            n: {"r06": 1.0, "now": 9.9999, "ratio": 9.99}
            for n in bench.BASELINE_R06
        },
        "full_record": "bench_ab/bench_full_20260101T000000Z.json",
    }
    line = bench.compact_line(full)
    assert len(line) < 2000, len(line)
    parsed = json.loads(line)
    for key in ("metric", "value", "unit", "queries", "sf"):
        assert key in parsed  # the driver contract
    assert parsed["rig_factor"] == 1.2345
    # since round 8 the map carries the GATE statistic (median), labeled,
    # so the number a flag reports is the number in the map (VERDICT r07)
    assert parsed["stat"] == "median"
    assert all(v == 13.546 for v in parsed["queries"].values())
    assert parsed["value_median"] == round(13.5456 * len(bench.BASELINE_R06), 3)
    flags = parsed["regressions_normalized_vs_r06"]
    assert flags["n_flagged"] == len(bench.BASELINE_R06)  # true count kept
    assert len(flags) == 11  # 10 worst ratios + the count


def test_diff_vs_reports_ratio():
    reg = bench.diff_vs({"a": 1.0, "b": 1.0}, "r05", {"a": 2.2, "b": 1.1})
    assert reg == {"a": {"r05": 1.0, "now": 2.2, "ratio": 2.2}}


def test_median_gate_resists_one_lucky_sample():
    """The round-6 bias fix: a bimodal-noise query that is slow on
    MOST samples must stay flagged even after one lucky confirmation
    sample — under the old min-of-samples statistic that single fast
    sample un-flagged it (the asymmetry the round-4/5 ADVICE called
    out)."""
    anchor = 2.0
    # slow on 3 of 4 samples; one lucky confirmation run at anchor speed
    samples = [6.0, 6.2, 2.0, 6.1]
    med = bench.median_of(samples)
    assert med > 1.5 * anchor  # median keeps the flag...
    assert bench.gate_normalized("x", med, {"x": anchor})
    assert not bench.gate_normalized("x", min(samples), {"x": anchor})  # ...min lost it


def test_median_gate_clears_single_outlier():
    """The symmetric case: ONE environment outlier among clean samples
    must not flag — the clean majority outvotes it."""
    anchor = 2.0
    samples = [2.1, 6.0, 2.0, 2.05]
    assert not bench.gate_normalized("x", bench.median_of(samples), {"x": anchor})


def test_median_of_definitions():
    assert bench.median_of([3.0]) == 3.0
    assert bench.median_of([1.0, 3.0]) == 2.0
    assert bench.median_of([1.0, 10.0, 3.0]) == 3.0
    assert bench.median_of([1.0, 2.0, 3.0, 10.0]) == 2.5


def test_canonical_rows_columnwise_parity():
    """The round-6 column-wise canonical_rows must produce EXACTLY the
    rows the original iterrows formulation did — including numpy
    scalar vs builtin repr parity, NaN/None/NaT canonicalization, and
    timestamp formatting."""
    import math

    import pandas as pd

    from tests.conftest import _canon_cell, canonical_rows

    pdf = pd.DataFrame(
        {
            "b": [1.5, float("nan"), 0.1, 1e300],
            "a": ["x", None, "z", "w"],
            "c": pd.to_datetime(
                ["2024-01-01", None, "2024-06-05 10:11:12", "1999-12-31"],
                format="mixed",
            ),
            "d": [1, 2, 3, 4],
        }
    )
    cols = sorted(pdf.columns)
    want = sorted(
        tuple(_canon_cell(row[c]) for c in cols) for _, row in pdf[cols].iterrows()
    )
    got = [tuple(r) for r in canonical_rows(pdf)]
    assert got == want
    assert canonical_rows(pd.DataFrame()) == []
    assert math.isnan(float("nan"))  # sanity: NaN maps to the null token
    assert got[0][cols.index("b")] != "nan"


def test_epoch_poisoned_initial_samples_resolve_with_third_confirmation():
    """A session-start noise EPOCH can inflate BOTH initial samples
    (measured: first two samples 5-20× across many plans while the cal
    windows read 2.2/1.9 s).  With only two confirmation rounds the
    4-sample median sits between the modes and spuriously flags; the
    third round's 5th sample lets the clean majority decide — while a
    genuine regression (slow on every sample) still flags."""
    anchor = 0.3
    epoch_then_clean = [4.4, 6.3, 0.27, 0.23]  # after 2 confirmations
    assert bench.gate_normalized(
        "x", bench.median_of(epoch_then_clean), {"x": anchor}
    )  # the 4-sample median still flags → a 3rd confirmation fires
    resolved = epoch_then_clean + [0.25]
    assert not bench.gate_normalized(
        "x", bench.median_of(resolved), {"x": anchor}
    )
    genuine = [4.4, 6.3, 4.1, 4.3, 4.2]
    assert bench.gate_normalized("x", bench.median_of(genuine), {"x": anchor})


def test_three_sample_epoch_resolves_within_five_confirmations():
    """The round-8 observation (sequence_packing, bench_full_
    20260815T234417Z.json): an epoch can poison THREE samples — the
    two initial passes AND the first confirmation — leaving 3-of-5
    slow, which a 5-sample median cannot outvote.  With five
    confirmation rounds the 7-sample median lets the 4 clean samples
    decide, while a genuine regression (slow on every sample) still
    flags after all five."""
    anchor = 0.6977  # the real sequence_packing anchor
    epoch = [1.3304, 1.3157, 1.2047, 0.6222, 0.5468]  # the real session
    assert bench.gate_normalized(
        "x", bench.median_of(epoch), {"x": anchor}
    )  # 3 rounds were not enough -> rounds 4 and 5 fire
    resolved = epoch + [0.62, 0.58]
    assert not bench.gate_normalized("x", bench.median_of(resolved), {"x": anchor})
    genuine = [1.33, 1.31, 1.25, 1.28, 1.3, 1.27, 1.29]
    assert bench.gate_normalized("x", bench.median_of(genuine), {"x": anchor})


# ---------------------------------------------------- round 10: two-mode rig


def test_py_mode_slow_session_does_not_inflate_python_plans():
    """The round-10 acceptance test (verdict task 1): a session whose
    PYTHON kernels run 1.8× slow (interpreter/Arrow drift — the
    multimodal bimodality) while the JVM kernels stay quiet must NOT
    flag a Python-mode plan timed at 1.8× its anchor: the plan's own
    mode factor normalizes it away.  Under the old single-factor model
    the JVM factor stayed 1.0 and the plan spuriously flagged."""
    rf_jvm = bench.rig_factor_of([bench.CAL_REF] * 7)
    rf_py = bench.rig_factor_of([bench.CAL_REF_PY * 1.8] * 7, bench.CAL_REF_PY)
    assert rf_jvm == 1.0 and abs(rf_py - 1.8) < 0.01
    name = "multimodal_metadata"
    assert name in bench.PY_MODE_PLANS
    anchor = bench.BASELINE_R06[name]
    raw = 1.8 * anchor
    factor = bench.plan_rig_factor(name, rf_jvm, rf_py)
    assert factor == rf_py
    assert not bench.gate_normalized(name, raw / factor)
    # ... while the single JVM factor would have flagged it
    assert bench.gate_normalized(name, raw / rf_jvm)


def test_py_mode_slow_session_leaves_jvm_plans_untouched():
    """The complement: the slow-Python session must not RELAX the gate
    for JVM plans — a genuine 2× regression in a JVM plan still flags
    because it normalizes by the (quiet) JVM factor, not the inflated
    Python one."""
    rf_jvm = bench.rig_factor_of([bench.CAL_REF] * 7)
    rf_py = bench.rig_factor_of([bench.CAL_REF_PY * 1.8] * 7, bench.CAL_REF_PY)
    name = "gold_fact_lineitem"
    assert name not in bench.PY_MODE_PLANS
    factor = bench.plan_rig_factor(name, rf_jvm, rf_py)
    assert factor == rf_jvm == 1.0
    assert bench.gate_normalized(name, 2.0 * bench.BASELINE_R06[name] / factor)


def test_injected_sleep_python_plan_still_flags_on_quiet_rig():
    """Per-mode injected-sleep (the round-5 device, Python edition): a
    genuine 2× slowdown in a Python-mode plan on a QUIET rig (both
    cal kernels at reference) must flag — per-mode normalization must
    not open a hole for real Python-plan regressions."""
    rf_jvm = bench.rig_factor_of([bench.CAL_REF] * 7)
    rf_py = bench.rig_factor_of([bench.CAL_REF_PY] * 7, bench.CAL_REF_PY)
    assert rf_jvm == rf_py == 1.0
    name = "ann_ivf_topk"
    assert name in bench.PY_MODE_PLANS
    factor = bench.plan_rig_factor(name, rf_jvm, rf_py)
    assert bench.gate_normalized(name, 2.0 * bench.BASELINE_R06[name] / factor)


def test_uniform_py_rig_slowdown_cancels_for_python_plans():
    """The symmetric cancel: every Python plan AND the Python cal
    kernel 1.8× slow (a pure interpreter epoch) → no Python plan
    flags."""
    rf_py = bench.rig_factor_of([bench.CAL_REF_PY * 1.8] * 7, bench.CAL_REF_PY)
    for name in bench.PY_MODE_PLANS:
        anchor = bench.BASELINE_R06[name]
        assert not bench.gate_normalized(name, 1.8 * anchor / rf_py), name


def test_py_mode_plans_are_registered():
    """Every labeled Python-mode plan must exist in the registry (a
    renamed slot would silently fall back to the JVM factor)."""
    from olist_ecommerce_data_warehouse_spark.plans import REGISTRY

    assert bench.PY_MODE_PLANS <= set(REGISTRY)


def test_py_rig_factor_floor_at_one():
    """A lucky Python-cal session must not inflate Python-plan
    normalized times — same floor contract as the JVM factor."""
    assert bench.rig_factor_of([bench.CAL_REF_PY * 0.7] * 5, bench.CAL_REF_PY) == 1.0


def test_r9_subsecond_jitter_stays_under_gate():
    """Round-10 verdict task 6, pinned with the real round-9 numbers:
    the worst raw drifts of r9 (volumetrics 1.42×, cleanse_accent_fold
    _dedup 1.41× — both sub-second plans swinging on ±0.15-0.25 s of
    session noise) must stay under the binding gate, because the flag
    rule has carried an absolute floor (>0.5 s over anchor) alongside
    the 1.5× ratio since round 5.  Documented in BASELINE.md
    §"Gate arithmetic"."""
    assert not bench.gate_normalized(
        "volumetrics", 1.42 * bench.BASELINE_R06["volumetrics"]
    )
    assert not bench.gate_normalized(
        "cleanse_accent_fold_dedup",
        1.41 * bench.BASELINE_R06["cleanse_accent_fold_dedup"],
    )
    # the floor does NOT shelter a real regression on a heavy plan
    assert bench.gate_normalized(
        "corpus_mixing", 1.6 * bench.BASELINE_R06["corpus_mixing"]
    )


def test_scratch_sweep_bounds_planted_stale_dirs(tmp_path):
    """Round-10 verdict task 5: the session-lifecycle sweep (run at
    bench.py / verify_driver.py startup) must remove a planted stale
    IVF index, a stale CSV fixture and a stale sf tree — and keep
    fresh artifacts and every bench_ab record: stamped records (they
    are committed evidence), anchoring records and
    bench_full_latest.json."""
    import os
    import sys
    import time
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "scripts"))
    from clean_scratch import sweep

    scratch = tmp_path / ".scratch"
    bench_ab = tmp_path / "bench_ab"
    scratch.mkdir()
    bench_ab.mkdir()
    old = time.time() - 10 * 86400.0
    stale = [
        scratch / "ivf_index_stale_v1",
        scratch / "csv_roundtrip_sf0.1",
        scratch / "sf1",
    ]
    fresh = [scratch / "ivf_index_fresh_v1", scratch / "csv_roundtrip_sf0.01"]
    for d in stale + fresh:
        d.mkdir()
        (d / "part").write_text("x")
    for d in stale:
        os.utime(d, (old, old))
    for i in range(15):
        (bench_ab / f"bench_full_2026010{i % 10}T00000{i}Z.json").write_text("{}")
    (bench_ab / "bench_full_latest.json").write_text("{}")
    (bench_ab / "anchoring_r6_run1.json").write_text("{}")

    removed = sweep(scratch=str(scratch))
    removed_names = {os.path.basename(p) for p in removed}
    assert {"ivf_index_stale_v1", "csv_roundtrip_sf0.1", "sf1"} <= removed_names
    for d in stale:
        assert not d.exists()
    for d in fresh:
        assert d.exists()
    stamped_left = [
        n for n in os.listdir(bench_ab)
        if n.startswith("bench_full_") and n != "bench_full_latest.json"
    ]
    assert len(stamped_left) == 15
    assert (bench_ab / "bench_full_latest.json").exists()
    assert (bench_ab / "anchoring_r6_run1.json").exists()
    # idempotent: a second sweep removes nothing
    assert sweep(scratch=str(scratch)) == []
