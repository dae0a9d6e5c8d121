"""Run one benchmark workload and print its metrics.

    python3 e2ebench/run.py --workload warehouse_build --seed 1 --seconds 10 --trace 0

Run from the repository root.  The run starts one Spark session at
``local[<cores>]``, makes the workload's inputs from ``--seed``, then runs
closed-loop jobs (one client, next job after the last one ends) until
``--seconds`` have passed; the first job always runs, so a job longer
than ``--seconds`` gives one sample.  Outputs are checked after the
clock.  With ``--trace 0`` the last stdout line carries the end-to-end
metrics; with ``--trace 1`` the calls are traced and it carries the
per-layer metrics.  The exit code is 1 when an output check fails or a
job raised.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def _engine_on_path() -> None:
    """Make the engine importable here and in Spark's Python workers."""
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)


def _stop(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def measure(wl, seconds: float) -> tuple[list[float], int]:
    """Closed loop: jobs back to back until ``seconds`` have passed.
    Returns the walls of the jobs that completed and the number that raised."""
    walls, raised, i = [], 0, 0
    t_start = time.perf_counter()
    while i == 0 or time.perf_counter() - t_start < seconds:
        t0 = time.perf_counter()
        try:
            wl.job(i)
            walls.append(time.perf_counter() - t0)
        except Exception as e:  # counted as a failure; the loop goes on
            raised += 1
            print(f"job {i} raised {type(e).__name__}: {e}", file=sys.stderr)
        i += 1
    return walls, raised


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    _engine_on_path()
    t0 = time.perf_counter()
    from olist_ecommerce_data_warehouse_spark.session import get_spark

    import metrics
    from tracing import Recorder, peak_rss_mb
    from workloads import WORKLOADS, spark_layer_metrics

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}")
    spark = get_spark(f"e2ebench_{args.workload}")
    session_s = time.perf_counter() - t0

    run_id = f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"
    work = os.path.join(BENCH, ".work", run_id)
    try:
        rec = Recorder(spark, bool(args.trace), run_id)
        wl = WORKLOADS[args.workload](spark, rec, work, args.seed)
        inputs_s = wl.setup()

        walls, raised = measure(wl, args.seconds)
        attempted = sum(len(v) for v in rec.walls.values())
        failed = max(sum(rec.failures.values()), raised)
        problems = wl.check() if walls else ["no job completed"]
        for p in problems:
            print(f"CHECK FAILED: {p}", file=sys.stderr)

        if args.trace:
            values = {name: 0.0 for name, _u, _b in metrics.per_layer()}
            values.update({"session.start_s": session_s, "setup.inputs_s": inputs_s})
            values.update(wl.layer_metrics())
            values.update(spark_layer_metrics(rec))
            top = [s for s in rec.spans if s.parent is None]
            values["jvm.peak_rss_mb"] = peak_rss_mb(
                spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
            values["trace.job_s"] = statistics.median(walls) if walls else 0.0
            values["trace.overhead_s"] = rec.overhead_s
            values["trace.span_cover"] = (sum(s.wall for s in top) / sum(walls)
                                          if walls else 0.0)
            rec.write_spans(os.path.join(BENCH, ".work", "spans", f"{run_id}.jsonl"))
            units = {n: u for n, u, _b in metrics.per_layer()}
        else:
            values = {
                "setup_s": session_s + inputs_s,
                "job_s": statistics.median(walls) if walls else 0.0,
            }
            units = {n: u for n, u, _b, _d in metrics.END_TO_END}
        n_of = {"job_s": len(walls), "trace.job_s": len(walls)}
        for name, v in values.items():
            print(f"{name} {v:.6g} {units[name]} n={n_of.get(name, 1)}")
        correct = not problems and failed == 0
        print(json.dumps({
            "correct": correct,
            "attempted": max(1, attempted),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
        }))
        return 0 if correct else 1
    finally:
        _stop(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
