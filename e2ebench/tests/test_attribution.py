"""Self-tests of the benchmark's timing and attribution.

Run from the repository root: ``python3 -m pytest e2ebench/tests -q``.
They start their own small Spark session (``local[2]``) with a tiny
status-store retention, so id-keyed attribution is tested past eviction.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
for p in (BENCH, ROOT):
    if p not in sys.path:
        sys.path.insert(0, p)
os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

import metrics  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402
from tracing import Recorder, _union_s  # noqa: E402

SLEEP = 0.4
RETAINED = 5


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (SparkSession.builder.master("local[2]").appName("e2ebench_selftest")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.retainedJobs", str(RETAINED))
         .config("spark.ui.retainedStages", str(RETAINED))
         .config("spark.sql.shuffle.partitions", "2")
         .getOrCreate())
    yield s
    s.stop()


class ThreeCalls(workloads.Workload):
    """A job of three public calls; each runs exactly ``jobs[name]`` Spark jobs."""

    jobs = {"toy.a": 1, "toy.b": 2, "toy.c": 1}

    def setup(self) -> float:
        return 0.0

    def _spark_jobs(self, n: int) -> None:
        for _ in range(n):
            self.spark.sparkContext.range(0, 2000, numSlices=2).count()

    def job(self, i: int) -> int:
        for name, n in self.jobs.items():
            self.rec.call(name, self._spark_jobs, n)
        return len(self.jobs)


def _run_toy(spark, tmp_path, sleep_in: str | None, jobs: int = 5):
    """``jobs`` closed-loop toy jobs, traced; ``sleep_in`` names the call
    whose wrapper sleeps ``SLEEP`` seconds inside the clock."""
    import time

    rec = Recorder(spark, traced=True, run_id="selftest")
    if sleep_in:
        rec.before_call = lambda name: time.sleep(SLEEP) if name == sleep_in else None
    wl = ThreeCalls(spark, rec, str(tmp_path), seed=0)
    wl.job(-1)  # warm the code path outside the measurement
    rec.walls.clear()
    rec.spans.clear()
    walls = [w for _ in range(jobs) for w in run.measure(wl, seconds=0.0)[0]]
    return rec, walls


def test_sleep_moves_its_layer_and_the_job_only(spark, tmp_path):
    base, base_walls = _run_toy(spark, tmp_path, None)
    slow, slow_walls = _run_toy(spark, tmp_path, "toy.b")
    med = lambda r, n: statistics.median(r.walls[n])  # noqa: E731

    assert med(slow, "toy.b") - med(base, "toy.b") == pytest.approx(SLEEP, abs=0.15)
    assert statistics.median(slow_walls) - statistics.median(base_walls) == pytest.approx(
        SLEEP, abs=0.2)
    for other in ("toy.a", "toy.c"):
        assert abs(med(slow, other) - med(base, other)) < 0.15
    # the sleep runs no Spark job: it lands in toy.b's driver gap, and
    # every call still owns exactly its own jobs
    for rec in (base, slow):
        for s in rec.spans:
            assert s.work.jobs == ThreeCalls.jobs[s.name]
    gap = lambda r: statistics.median(  # noqa: E731
        s.wall - s.work.job_union_s for s in r.spans if s.name == "toy.b")
    assert gap(slow) - gap(base) == pytest.approx(SLEEP, abs=0.15)


def test_attribution_survives_status_store_eviction(spark, tmp_path):
    rec, _walls = _run_toy(spark, tmp_path, None, jobs=4)
    # more jobs ran than the store retains, yet each call kept its own
    ran = 4 * sum(ThreeCalls.jobs.values())
    assert ran > RETAINED
    assert sum(s.work.jobs for s in rec.spans) == ran
    st = spark.sparkContext._jsc.sc().statusStore()
    assert st.jobsList(None).size() <= RETAINED


def test_exception_counts_as_failure_and_other_plans_run(spark, tmp_path, monkeypatch):
    plans = ["dedup_exact", "dedup_minhash_lsh"]
    monkeypatch.setattr(workloads, "BATCH_PLANS", plans)
    rec = Recorder(spark, traced=False, run_id="selftest")

    def boom(name):
        if name == f"plans.build.{plans[0]}":
            raise RuntimeError("injected")

    rec.before_call = boom
    wl = workloads.NeardupStream(spark, rec, str(tmp_path), seed=3)
    wl.setup()
    walls, raised = run.measure(wl, seconds=0.0)

    assert raised == 0 and len(walls) == 1  # the job itself completed
    assert rec.failures == {f"plans.build.{plans[0]}": 1}
    assert f"plans.exec.{plans[1]}" in rec.walls  # the other plan still ran
    assert wl.failed_plans == {plans[0]}
    attempted = sum(len(v) for v in rec.walls.values())
    assert sum(rec.failures.values()) / attempted > 0


def test_union_of_job_intervals():
    assert _union_s([(0, 1000), (500, 1500), (3000, 3500)]) == 2.0
    assert _union_s([]) == 0.0


def test_benchmark_json_lists_every_metric():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    assert [(m["name"], m["unit"], m["better"], m["bound"]) for m in spec["end_to_end"]] == [
        tuple(m) for m in metrics.END_TO_END]
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == [
        tuple(m) for m in metrics.per_layer()]
