"""Retention sweep for the gitignored scratch areas (round 9, verdict
task 6 — .scratch growth was unbounded across rounds; round 10 wired
it into the session lifecycle: ``bench.py`` and
``scripts/verify_driver.py`` run the full sweep at startup, so every
bench/verify session bounds the scratch areas instead of the policy
existing only as a manually-run script).

What accumulates and the policy applied:

- ``.scratch/ivf_index_*`` — the per-construction IVF index dirs
  ``ann_ivf_topk`` writes (one fresh dir per construction, never
  rewritten) and ``.scratch/csv_roundtrip_sf*`` — per-scale CSV ingest
  fixtures the csv_roundtrip_ingest plan re-materializes
  deterministically on each run: both age-swept (default 24 h).
- ``.scratch/sf1`` / ``.scratch/sf10`` … — synthesized scale-stress
  parquet trees (gen_sf1 pattern, the big one: ~177 MB at sf1): kept
  ``--keep-sf-days`` (default 7) since re-synthesis costs minutes.

``bench_ab/`` is never touched: its stamped ``bench_full_*.json``
records are committed evidence (``bench.py`` cites them), and git, not
this sweep, bounds that history.

Run ``python scripts/clean_scratch.py`` (add ``--dry-run`` to list
without deleting), or call :func:`sweep` — one policy, one code path.
The retention contract is documented in SCALING.md §"Scratch
retention".
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRATCH = os.path.join(REPO, ".scratch")


def _rm(path: str, dry: bool, removed: list[str]) -> None:
    removed.append(path)
    if not dry:
        if os.path.isdir(path):
            shutil.rmtree(path, ignore_errors=True)
        else:
            try:
                os.remove(path)
            except OSError:
                pass


def sweep(
    scratch: str = SCRATCH,
    dry_run: bool = False,
    max_age_hours: float = 24.0,
    keep_sf_days: float = 7.0,
) -> list[str]:
    """Apply the full retention policy (module docstring) and return
    the removed (or, under ``dry_run``, would-be-removed) paths.  The
    session-lifecycle entry point: bench.py / verify_driver.py call
    this at startup so a dirty scratch tree is provably bounded by any
    bench or verify session (round 10; planted-stale-dir test in
    tests/test_bench_gate.py).  Idempotent; never touches ``bench_ab/``."""
    now = time.time()
    removed: list[str] = []

    if os.path.isdir(scratch):
        for name in sorted(os.listdir(scratch)):
            p = os.path.join(scratch, name)
            try:
                mtime = os.path.getmtime(p)
            except OSError:
                continue
            # 1. per-construction IVF indexes and per-session CSV fixtures
            if name.startswith(("ivf_index_", "csv_roundtrip_")):
                if mtime < now - max_age_hours * 3600.0:
                    _rm(p, dry_run, removed)
            # 2. synthesized scale trees (sf1, sf10, ...)
            elif name.startswith("sf") and name[2:].replace(".", "").isdigit():
                if mtime < now - keep_sf_days * 86400.0:
                    _rm(p, dry_run, removed)
    return removed


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--dry-run", action="store_true")
    ap.add_argument("--max-age-hours", type=float, default=24.0,
                    help="age limit for per-session artifacts")
    ap.add_argument("--keep-sf-days", type=float, default=7.0,
                    help="age limit for synthesized sf* parquet trees")
    args = ap.parse_args()

    removed = sweep(
        dry_run=args.dry_run,
        max_age_hours=args.max_age_hours,
        keep_sf_days=args.keep_sf_days,
    )
    tag = "would remove" if args.dry_run else "removed"
    for p in removed:
        print(f"{tag}: {os.path.relpath(p, REPO)}")
    print(f"{tag}: {len(removed)} item(s)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
