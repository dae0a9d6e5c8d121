"""local-cluster smoke of the registry's expensive tail (round 10,
verdict r09 task 2).

``local[32]`` structurally masks executor topology: broadcast builds
land on the driver heap, Python workers inherit the driver process's
environment, and closure serialization / torrent-broadcast costs are
invisible.  This script runs a plan set (default: the BENCH_r09
top-10; ``--plans all`` sweeps the full 50-plan registry) twice —
once under the engine's normal ``local[32]`` session and once under
``local-cluster[2,4,4096]`` (two separate-process executors, 4 cores /
4 GiB each) — and compares canonical result multisets, so the claims
local mode cannot test are tested:

- every Arrow kernel closure round-trips through real serialization to
  a separate executor JVM + its forked Python workers;
- executor Python workers must IMPORT the package (cloudpickle
  serializes module-level functions by reference) — exercised via the
  ``addPyFile`` package-zip shipping in ``session.get_spark``;
- broadcasts (dim tables, centroids, λ tables, BPE merges) travel over
  torrent broadcast instead of a driver-local reference;
- the IVF index is loaded back from a directory that EXECUTORS wrote.

Each side runs in its own subprocess (one JVM per master — restarting
a SparkContext with a different master inside one process leaks config
across sides).  Results land in ``bench_ab/local_cluster_smoke_r10.json``
and the SCALING.md table is derived from that record.

Usage: ``python scripts/local_cluster_smoke.py [--sf-dir DIR]
[--plans top10|all|name,name,...]`` (``--side ref|cluster --out F``
is the internal child mode only).
"""

from __future__ import annotations

import argparse
import hashlib
import importlib.util
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CLUSTER_MASTER = "local-cluster[2,4,4096]"

# BENCH_r09 queries_median descending — the expensive tail the verdict
# names.  Frozen as a literal so the smoke set is stable across rounds
# even as medians drift.
TOP10 = [
    "corpus_mixing",
    "text_lang_id",
    "ann_ivf_topk",
    "multimodal_metadata",
    "dedup_ngram_jaccard",
    "dedup_cluster_cc",
    "text_metrics",
    "dedup_minhash_lsh",
    "gold_fact_lineitem",
    "text_repetition",
]


def _canonical_rows():
    """tests/conftest.py::canonical_rows — the driver gate's comparator,
    imported by file path (tests/ is not a package)."""
    spec = importlib.util.spec_from_file_location(
        "olist_conftest", os.path.join(REPO, "tests", "conftest.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.canonical_rows


def _plan_list(plans_arg: str) -> list[str]:
    """``top10`` (default), ``all`` (the full 50-plan registry, sorted),
    or an explicit comma list."""
    if plans_arg == "top10":
        return TOP10
    if plans_arg == "all":
        if REPO not in sys.path:
            sys.path.insert(0, REPO)
        from olist_ecommerce_data_warehouse_spark.plans import REGISTRY

        return sorted(REGISTRY)
    return plans_arg.split(",")


def run_side(side: str, sf_dir: str, out: str, plans: list[str]) -> None:
    if REPO not in sys.path:
        sys.path.insert(0, REPO)
    if side == "cluster":
        os.environ["SPARK_GRAFT_MASTER"] = CLUSTER_MASTER
        os.environ.setdefault("SPARK_HOME", os.path.dirname(__import__("pyspark").__file__))
    else:
        os.environ.pop("SPARK_GRAFT_MASTER", None)

    from olist_ecommerce_data_warehouse_spark.plans import REGISTRY
    from olist_ecommerce_data_warehouse_spark.session import get_spark

    canonical_rows = _canonical_rows()
    spark = get_spark(f"lc_smoke_{side}", cpus=32)
    results: dict[str, dict] = {}
    for name in plans:
        t0 = time.perf_counter()
        pdf = REGISTRY[name].fn(spark, sf_dir).toPandas()
        wall = round(time.perf_counter() - t0, 3)
        digest = hashlib.sha256(
            "\n".join("|".join(r) for r in canonical_rows(pdf)).encode()
        ).hexdigest()
        results[name] = {"wall_sec": wall, "rows": len(pdf), "hash": digest}
        print(f"[{side}] {name}: {wall}s {len(pdf)} rows", file=sys.stderr, flush=True)
    results["_master"] = {"master": spark.sparkContext.master}
    spark.stop()
    with open(out, "w") as f:
        json.dump(results, f, indent=1, sort_keys=True)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--side", choices=["ref", "cluster"])
    ap.add_argument("--out")
    ap.add_argument("--plans", default="top10",
                    help="top10 | all | comma-separated plan names")
    args = ap.parse_args()

    if args.side:
        run_side(args.side, args.sf_dir, args.out, _plan_list(args.plans))
        return 0

    plan_names = _plan_list(args.plans)
    record: dict = {"sf_dir": args.sf_dir, "cluster_master": CLUSTER_MASTER,
                    "plan_set": args.plans, "plans": {}}
    sides: dict[str, dict] = {}
    for side in ("ref", "cluster"):
        out = os.path.join(REPO, "bench_ab", f".lc_smoke_{side}.json")
        subprocess.run(
            [sys.executable, os.path.abspath(__file__),
             "--side", side, "--sf-dir", args.sf_dir, "--out", out,
             "--plans", args.plans],
            check=True, cwd=REPO,
        )
        with open(out) as f:
            sides[side] = json.load(f)
        os.unlink(out)

    all_ok = True
    for name in plan_names:
        r, c = sides["ref"][name], sides["cluster"][name]
        identical = r["hash"] == c["hash"] and r["rows"] == c["rows"]
        all_ok &= identical
        record["plans"][name] = {
            "wall_local32_sec": r["wall_sec"],
            "wall_cluster_sec": c["wall_sec"],
            "rows": r["rows"],
            "identical": identical,
        }
        print(f"{name}: local[32] {r['wall_sec']}s | {CLUSTER_MASTER} "
              f"{c['wall_sec']}s | rows {r['rows']} | identical={identical}")
    record["all_identical"] = all_ok

    dest = os.path.join(
        REPO, "bench_ab",
        "local_cluster_smoke_r10.json" if args.plans == "top10"
        else f"local_cluster_smoke_r10_{args.plans.replace(',', '_')[:40]}.json",
    )
    with open(dest, "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    print(("ALL IDENTICAL" if all_ok else "MISMATCH") + f" -> {dest}")
    return 0 if all_ok else 1


if __name__ == "__main__":
    sys.exit(main())
