"""Unit tests for bench.py's rig-normalized regression gate.

The gate is the repo's only defense against silent performance decay,
so its logic is tested like an operator: a genuine per-plan slowdown
(the injected-sleep scenario) MUST flag, a uniform rig slowdown MUST
cancel, and the noise floors MUST hold.  These run without Spark —
pure arithmetic over synthetic timings — except the traced-pass test,
which runs two plans through the full record's tracer.
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import bench  # noqa: E402


def _at(scale: dict[str, float] | float = 1.0) -> dict[str, list[float]]:
    """Two samples per anchored plan at ``scale`` × its anchor (one
    factor for every plan, or a per-plan map defaulting to 1.0)."""
    out = {}
    for name, anchor in bench.BASELINE.items():
        k = scale if isinstance(scale, float) else scale.get(name, 1.0)
        out[name] = [k * anchor, k * anchor]
    return out


def test_injected_2x_sleep_still_flags():
    """A deliberately-injected 2× slowdown in ONE plan must flag even
    after normalization: one plan cannot move the median ratio, so the
    rig factor stays 1.0."""
    name = "gold_fact_lineitem"
    samples = _at({name: 2.0})
    assert bench.rig_factor_of(samples) == 1.0
    assert set(bench.regressions_of(samples)) == {name}


def test_twenty_of_fifty_plans_2x_slow_flag_exactly():
    """The 20 heaviest of the 50 plans 2× slow, the other 30 at their
    anchor: the median ratio over plans is still 1.0, so the slow
    plans do not feed the rig factor — all 20 flag and none of the 30
    do."""
    names = sorted(bench.BASELINE, key=lambda n: -bench.BASELINE[n])
    slow = names[:20]
    assert all(bench.BASELINE[n] > 0.5 for n in slow)  # all clear the floor
    samples = _at({n: 2.0 for n in slow})
    assert bench.rig_factor_of(samples) == 1.0
    assert set(bench.regressions_of(samples)) == set(slow)


def test_uniform_rig_slowdown_cancels():
    """The drift scenario: EVERY plan runs 1.8× slow.  The factor reads
    the slowdown and the normalized gate stays quiet for every plan."""
    samples = _at(1.8)
    assert abs(bench.rig_factor_of(samples) - 1.8) < 0.01
    assert bench.regressions_of(samples) == {}


def test_factor_floor_at_one():
    """A session faster than the anchors must not INFLATE normalized
    times — that would manufacture fake regressions out of luck."""
    assert bench.rig_factor_of(_at(0.7)) == 1.0


def test_absolute_floor_suppresses_subsecond_ratio_noise():
    """Sub-second queries swing ±0.4 s run-to-run on this box; a 1.75×
    ratio on a 0.2 s anchor is noise, not a regression."""
    assert not bench.gate_normalized("x", 0.35, {"x": 0.2})
    # ... but a large query at the same ratio flags
    assert bench.gate_normalized("x", 3.5, {"x": 2.0})


def test_every_registered_plan_is_anchored():
    """The anchor set must cover exactly the registry — an unanchored
    plan is invisible to the gate and to the rig factor."""
    from olist_ecommerce_data_warehouse_spark.plans import REGISTRY

    assert set(bench.BASELINE) == set(REGISTRY)


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
        "queries": {n: 12.3456 for n in bench.BASELINE},
        "queries_median": {n: 13.5456 for n in bench.BASELINE},
        "sf": 0.1,
        "rig_factor": 1.2345,
        "regressions": {
            n: {"anchor": 1.0, "now": 9.9999, "ratio": 9.99} for n in bench.BASELINE
        },
        "full_record": "bench_ab/bench_full_20260101T000000Z.json",
    }
    line = bench.compact_line(full)
    assert len(line) < 2000, len(line)
    parsed = json.loads(line)
    for key in ("metric", "value", "unit", "queries", "sf"):
        assert key in parsed  # the driver contract
    assert parsed["rig_factor"] == 1.2345
    # the map carries the GATE statistic (median), labeled, so the
    # number a flag reports is the number in the map
    assert parsed["stat"] == "median"
    assert all(v == 13.546 for v in parsed["queries"].values())
    assert parsed["value_median"] == round(13.5456 * len(bench.BASELINE), 3)
    flags = parsed["regressions"]
    assert flags["n_flagged"] == len(bench.BASELINE)  # true count kept
    assert len(flags) == 11  # 10 worst ratios + the count


def test_diff_vs_reports_ratio():
    anchors = dict.fromkeys("abcde", 1.0)
    samples = {"a": [2.2], "b": [1.4], "c": [1.0], "d": [1.0], "e": [0.9]}
    assert bench.rig_factor_of(samples, anchors) == 1.0
    reg = bench.regressions_of(samples, anchors)
    assert reg == {"a": {"anchor": 1.0, "now": 2.2, "ratio": 2.2}}


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


def test_r9_subsecond_jitter_stays_under_gate():
    """Round-10 verdict task 6, pinned with the real round-9 numbers:
    the worst raw drifts of r9 (volumetrics 1.42×, cleanse_accent_fold
    _dedup 1.41× — both sub-second plans swinging on ±0.15-0.25 s of
    session noise) must stay under the binding gate, because the flag
    rule has carried an absolute floor (>0.5 s over anchor) alongside
    the 1.5× ratio since round 5.  Documented in BASELINE.md
    §"Gate arithmetic"."""
    assert not bench.gate_normalized(
        "volumetrics", 1.42 * bench.BASELINE["volumetrics"]
    )
    assert not bench.gate_normalized(
        "cleanse_accent_fold_dedup",
        1.41 * bench.BASELINE["cleanse_accent_fold_dedup"],
    )
    # the floor does NOT shelter a real regression on a heavy plan
    assert bench.gate_normalized(
        "corpus_mixing", 1.6 * bench.BASELINE["corpus_mixing"]
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


def test_bench_ab_stamps_dirty_trees(tmp_path):
    """``bench_ab.sha`` stamps a clean checkout with its bare HEAD sha
    and an edited one with ``<sha>+dirty.<hash>`` over the diff and the
    untracked files, so an A/B of an uncommitted change records a head
    distinct from its parent."""
    import subprocess

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "scripts"))
    from bench_ab import sha

    def git(*args):
        return subprocess.check_output(
            ["git", "-c", "user.name=t", "-c", "user.email=t@t", *args],
            cwd=tmp_path, text=True,
        ).strip()

    git("init", "-q")
    (tmp_path / "f.txt").write_text("a\n")
    git("add", "f.txt")
    git("commit", "-q", "-m", "init")
    head = git("rev-parse", "HEAD")
    assert sha(tmp_path) == head

    (tmp_path / "f.txt").write_text("b\n")
    dirty = sha(tmp_path)
    assert dirty != head and dirty.startswith(head + "+dirty.")
    assert len(dirty) == len(head) + len("+dirty.") + 12

    # an untracked file changes the stamp too
    (tmp_path / "new.txt").write_text("c\n")
    with_new = sha(tmp_path)
    assert with_new != dirty and with_new.startswith(head + "+dirty.")


def test_traced_pass_fills_every_field(spark):
    """The full record's ``traced`` map, over two cheap plans at sf0.01:
    every field is present and numeric, each plan ran jobs and tasks,
    and the span wall is the two call walls plus the recorder's own
    in-span bookkeeping, to within 3% (e2ebench's span-cover
    tolerance)."""
    from tests.conftest import SF_DIR_MID

    names = ["date_dimension", "cleanse_validity_filter"]
    traced = bench.traced_pass(spark, names, SF_DIR_MID, dict.fromkeys(names, 0.1))
    fields = {
        "wall_s", "build_s", "exec_s", "build_jobs", "exec_jobs", "tasks",
        "shuffle_mb", "exec_busy_s", "gc_s", "driver_gap_s",
        "traced_minus_timed_s", "overhead_s",
    }
    assert set(traced) == set(names)
    for name, t in traced.items():
        assert set(t) == fields, name
        assert all(isinstance(v, (int, float)) and v >= 0 for k, v in t.items()
                   if k != "traced_minus_timed_s"), (name, t)
        assert t["exec_jobs"] >= 1 and t["tasks"] >= 1 and t["exec_busy_s"] > 0, (name, t)
        assert abs(t["traced_minus_timed_s"] - (t["build_s"] + t["exec_s"] - 0.1)) < 1e-3
        parts = t["build_s"] + t["exec_s"] + t["overhead_s"]
        assert abs(t["wall_s"] - parts) <= 0.03 * t["wall_s"], (name, t)


def test_one_tracer_outside_e2ebench():
    """e2ebench's ``Recorder`` is the one reader of Spark's execution
    statistics: no other Python file in the repo reads the status store
    or status tracker, the event log, a listener's events or the UI's
    REST API.  (This file is skipped: it names them.)"""
    repo = Path(__file__).resolve().parents[1]
    readers = re.compile(r"statusStore|statusTracker|eventLog|SparkListener|/api/v1")
    found = []
    for path in repo.rglob("*.py"):
        rel = path.relative_to(repo)
        if rel.parts[0] in ("e2ebench", ".git", ".scratch") or path == Path(__file__).resolve():
            continue
        for i, line in enumerate(path.read_text().splitlines(), 1):
            if readers.search(line):
                found.append(f"{rel}:{i}")
    assert found == []
