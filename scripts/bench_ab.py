"""Paired A/B re-timing — the adjudication protocol for bench flags and
the only way to claim a speed-up.

When a query trips the regression gate, the question is always "did
the CODE get slower, or the RIG?".  This tool answers it by timing the
same queries on two checkouts in alternating fresh-process sessions:

- the reference side is a plain checkout directory (``git clone`` the
  commit to compare against); the other side is this working tree;
- each side's session imports ``get_spark`` and ``run_plan`` from that
  side's own ``bench.py``, so both sides pay exactly the hygiene and
  clock boundaries their bench pays;
- ``--pairs`` pairs of sessions run, alternating which side goes first
  (decorrelates the box's slow epochs from the side); each session
  times every query once;
- per query it prints each side's median and quartiles, the number of
  pairs the working tree won, and the verdict of the paired rule: a
  gain (or loss) needs ≥ 9/10 of the pairs AND a median gap larger than
  the reference side's interquartile range;
- ``--out FILE`` appends the full record (every sample) as one JSON
  line; without it nothing is written.

Usage:
    python scripts/bench_ab.py --ref-dir <clone> --queries q1,q2 \
        [--pairs 10] [--sf-dir DIR] [--out FILE]
"""

from __future__ import annotations

import argparse
import hashlib
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]

# Runner executed with cwd = one side's checkout: everything it times
# comes from that side's bench.py.  The two warmups mirror bench.py's
# main (JVM/codegen, then the session's first Arrow worker fork).
_RUNNER = r"""
import json, sys
sys.path.insert(0, ".")
from bench import get_spark, run_plan

queries, sf_dir = sys.argv[1].split(","), sys.argv[2]
spark = get_spark("bench_ab")
run_plan(spark, "flagship_revenue_by_brand", sf_dir)
spark.range(32).mapInPandas(lambda it: it, "id long").write.format("noop").mode(
    "overwrite"
).save()
print("AB_RESULT " + json.dumps({q: round(run_plan(spark, q, sf_dir), 4) for q in queries}))
spark.stop()
"""


def run_session(side_dir: Path, queries: list[str], sf_dir: str) -> dict[str, float]:
    proc = subprocess.run(
        [sys.executable, "-c", _RUNNER, ",".join(queries), sf_dir],
        cwd=side_dir,
        capture_output=True,
        text=True,
        timeout=1200,
    )
    for line in proc.stdout.splitlines():
        if line.startswith("AB_RESULT "):
            return json.loads(line[len("AB_RESULT ") :])
    raise RuntimeError(f"runner produced no result; stderr tail:\n{proc.stderr[-2000:]}")


def sha(d: Path) -> str:
    """The checkout's HEAD sha; for a tree with uncommitted changes,
    ``<sha>+dirty.<first 12 hex of sha256>`` over ``git diff HEAD
    --binary`` and the path and content of every untracked,
    non-ignored file, so an A/B of an uncommitted change never records
    the parent's sha on both sides, and two trees that differ only in
    new files get different stamps."""

    def git(*args: str) -> bytes:
        return subprocess.check_output(["git", *args], cwd=d)

    head = git("rev-parse", "HEAD").decode().strip()
    if not git("status", "--porcelain").strip():
        return head
    h = hashlib.sha256(git("diff", "HEAD", "--binary"))
    for rel in git("ls-files", "-z", "--others", "--exclude-standard").split(b"\0"):
        if rel:
            h.update(b"\0" + rel + b"\0" + (d / rel.decode()).read_bytes())
    return f"{head}+dirty.{h.hexdigest()[:12]}"


def summarize(ref: list[float], head: list[float]) -> dict:
    """Each side's median and quartiles, head's win count over the
    pairs (ties count for neither side) and the paired-rule verdict."""

    def stats(xs: list[float]) -> dict:
        q25, q50, q75 = statistics.quantiles(xs, n=4, method="inclusive")
        return {"median": round(q50, 4), "q25": round(q25, 4), "q75": round(q75, 4)}

    r, h = stats(ref), stats(head)
    n = len(ref)
    head_wins = sum(b < a for a, b in zip(ref, head))
    ref_wins = sum(a < b for a, b in zip(ref, head))
    iqr = r["q75"] - r["q25"]
    gap = r["median"] - h["median"]
    if head_wins >= 0.9 * n and gap > iqr:
        verdict = "gain"
    elif ref_wins >= 0.9 * n and -gap > iqr:
        verdict = "loss"
    else:
        verdict = "no claim"
    return {
        "ref": r,
        "head": h,
        "head_wins": f"{head_wins}/{n}",
        "head_over_ref": round(h["median"] / r["median"], 3),
        "ref_iqr": round(iqr, 4),
        "verdict": verdict,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--ref-dir", required=True, type=Path, help="checkout to compare against")
    ap.add_argument("--queries", required=True, help="comma-separated query names")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--out", type=Path, help="append the full record to this JSONL file")
    args = ap.parse_args()

    queries = args.queries.split(",")
    sides = {"ref": args.ref_dir.resolve(), "head": REPO}
    pairs = []
    for i in range(args.pairs):
        order = ("ref", "head") if i % 2 == 0 else ("head", "ref")
        pair = {"first": order[0]}
        for side in order:
            pair[side] = run_session(sides[side], queries, args.sf_dir)
        print(json.dumps(pair), flush=True)
        pairs.append(pair)

    summary = {
        q: summarize([p["ref"][q] for p in pairs], [p["head"][q] for p in pairs])
        for q in queries
    }
    print(json.dumps(summary, indent=2))
    if args.out:
        record = {
            "ts": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            "head": sha(REPO),
            "ref": sha(sides["ref"]),
            "sf_dir": args.sf_dir,
            "queries": queries,
            "pairs": pairs,
            "summary": summary,
        }
        with args.out.open("a") as f:
            f.write(json.dumps(record) + "\n")


if __name__ == "__main__":
    main()
