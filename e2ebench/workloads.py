"""The benchmark's workloads.

Each workload is a class with three steps, run in this order by
``run.py``:

- ``setup()`` makes the seeded inputs and lands them under the work
  directory (timed as part of ``setup_s``);
- ``job(i)`` runs one closed-loop job through the engine's public calls,
  each wrapped by the :class:`tracing.Recorder`;
- ``check()`` verifies the outputs of the first job, outside the clock,
  and returns a list of failure messages.

``layer_metrics()`` gives the per-layer metrics from the recorder.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time

import docs_gen
import olist_gen
import oracle
import pyarrow as pa
import pyarrow.parquet as pq
from tracing import Recorder

# The batch twin of the stream, run through the plan registry over the
# same documents: the stream's control (same signature math, batch form)
# and the benchmark's path through ``plans``.  The other 49 registry plans
# stay with bench.py: even a six-plan subset with its oracle checks adds
# ~40 s a run, more than the per-run budget of three workloads leaves.
BATCH_PLANS = ["dedup_minhash_lsh"]

GOLD_ORDER = ["dim_date", "dim_customer", "dim_product", "dim_seller",
              "fact_orders", "fact_order_items", "fact_reviews"]
CORPUS_CALLS = ["ingest_bronze", "load_silver_filtered", "load_silver_deduped",
                "score_lm_buckets", "load_gold_corpus", "export_shards"]
STREAM_DURATIONS = ["addBatch", "queryPlanning", "getBatch", "walCommit", "commitOffsets"]
SPARK_LAYERS = ["medallion", "corpus", "stream", "plans"]

OLIST_SCALE = 0.03     # share of the real Olist row counts
CORPUS_DOCS = 1000     # base documents; 10% more are injected copies
STREAM_DROPS = 8       # parquet files, one micro-batch each
SETUP_REPEATS = 3      # input generation is repeated; setup_s takes the median


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _repeat_median(fn) -> float:
    walls = []
    for _ in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t0)
    return _median(walls)


def spark_layer_metrics(rec: Recorder) -> dict[str, float]:
    out = {}
    for layer in SPARK_LAYERS:
        w, gap = rec.layer_work(layer)
        out.update({
            f"{layer}.jobs": w.jobs,
            f"{layer}.tasks": w.tasks,
            f"{layer}.shuffle_mb": w.shuffle_bytes / 2**20,
            f"{layer}.exec_busy_s": w.exec_run_ms / 1000.0,
            f"{layer}.gc_s": w.gc_ms / 1000.0,
            f"{layer}.driver_gap_s": gap,
        })
    return out


def _audit_cover(pipelines, rec: Recorder, prefix: str) -> float:
    """Summed SUCCESS audit spans over the summed wall of the stage calls."""
    audited = sum(
        (r[7] - r[6]).total_seconds()
        for p in pipelines for r in p.audit.rows if r[8] == "SUCCESS"
    )
    wall = sum(sum(v) for k, v in rec.walls.items() if k.startswith(prefix + "."))
    return audited / wall if wall else 0.0


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Workload:
    name = ""
    why = ""

    def __init__(self, spark, rec: Recorder, work: str, seed: int):
        self.spark, self.rec, self.work, self.seed = spark, rec, work, seed

    def setup(self) -> float:
        """Make and land the inputs; returns the median generation wall."""
        raise NotImplementedError

    def job(self, i: int) -> None:
        raise NotImplementedError

    def check(self) -> list[str]:
        raise NotImplementedError

    def layer_metrics(self) -> dict[str, float]:
        return {}


class WarehouseBuild(Workload):
    """The paper's own job: Olist CSV → bronze → silver → gold star."""

    name = "warehouse_build"
    why = "write-heavy medallion build: CSV parsing, cleansing, dedup, SK joins, Parquet writes"

    def setup(self) -> float:
        raw = os.path.join(self.work, "raw")

        def gen():
            self.tables = olist_gen.generate(self.seed, OLIST_SCALE)
            self.paths = olist_gen.write_csvs(self.tables, raw)
            self.expected = olist_gen.expected_counts(self.tables)

        wall = _repeat_median(gen)
        self.counts: dict[str, int] = {}
        self.pipelines = []
        return wall

    def job(self, i: int) -> None:
        from olist_ecommerce_data_warehouse_spark.pipeline.medallion import (
            SILVER_ORDER,
            MedallionPipeline,
        )

        p = MedallionPipeline(self.spark, os.path.join(self.work, f"wh{i}"))
        self.pipelines.append(p)
        counts = {}
        for t in SILVER_ORDER:
            counts[f"bronze.{t}"] = self.rec.call(
                f"medallion.bronze.{t}", p.ingest_bronze, t, self.paths[t],
                multi_line=(t == "order_reviews"))
        for t in SILVER_ORDER:
            counts[f"silver.{t}"] = self.rec.call(
                f"medallion.silver.{t}", getattr(p, f"load_silver_{t}"))
        for t in GOLD_ORDER:
            counts[f"gold.{t}"] = self.rec.call(
                f"medallion.gold.{t}", getattr(p, f"load_gold_{t}"))
        if i == 0:
            self.counts = counts

    def check(self) -> list[str]:
        bad = [f"{k}: {self.counts.get(k)} rows, expected {v}"
               for k, v in self.expected.items() if self.counts.get(k) != v]
        failed = [r for p in self.pipelines for r in p.audit.rows if r[8] == "FAILED"]
        return bad + [f"FAILED audit row for {r[4]}" for r in failed]

    def layer_metrics(self) -> dict[str, float]:
        from olist_ecommerce_data_warehouse_spark.pipeline.medallion import SILVER_ORDER

        out = {}
        for layer, names in [("bronze", SILVER_ORDER), ("silver", SILVER_ORDER),
                             ("gold", GOLD_ORDER)]:
            for t in names:
                out[f"medallion.{layer}.{t}_s"] = _median(
                    self.rec.walls.get(f"medallion.{layer}.{t}", []))
        out["medallion.audit_cover"] = _audit_cover(self.pipelines, self.rec, "medallion")
        return out


class _Documents(Workload):
    """Lands the seeded documents: a JSONL file with corrupt lines for the
    corpus build and parquet drops for the stream (see
    :func:`docs_gen.corpus_inputs`)."""

    def setup(self) -> float:
        src = os.path.join(self.work, "drops")
        jsonl = os.path.join(self.work, "corpus.jsonl")
        sf = os.path.join(self.work, "sf")  # the documents as a plan input table

        def gen():
            self.inputs = docs_gen.corpus_inputs(self.seed, CORPUS_DOCS, STREAM_DROPS)
            lines = [json.dumps({k: d[k] for k in ("doc_id", "text", "lang", "source")})
                     for d in self.inputs["docs"]]
            corrupt = self.inputs["corrupt"]
            for k, line in enumerate(corrupt):
                lines.insert((k + 1) * len(lines) // (len(corrupt) + 1), line)
            os.makedirs(self.work, exist_ok=True)
            with open(jsonl, "w") as f:
                f.write("\n".join(lines) + "\n")
            shutil.rmtree(src, ignore_errors=True)
            os.makedirs(src)
            now = time.time()
            for k, tb in enumerate(self.inputs["drops"]):
                path = os.path.join(src, f"drop{k:03d}.parquet")
                pq.write_table(tb, path)
                # the file source takes files oldest first: order the drops
                os.utime(path, (now + k - len(self.inputs["drops"]),) * 2)
            os.makedirs(sf, exist_ok=True)
            pq.write_table(pa.Table.from_pylist(self.inputs["docs"]),
                           os.path.join(sf, "documents.parquet"))

        wall = _repeat_median(gen)
        self.jsonl, self.src, self.sf = jsonl, src, sf
        return wall


class CorpusBuild(_Documents):
    """LLM-data path: JSONL → gates → dedup → LM buckets → gold → shards."""

    name = "corpus_build"
    why = "Python/Arrow-heavy corpus build: gates, MinHash dedup, CC, LM scoring, packing, shards"

    def setup(self) -> float:
        wall = super().setup()
        self.pipelines, self.out = [], {}
        return wall

    def job(self, i: int) -> None:
        from olist_ecommerce_data_warehouse_spark.pipeline.corpus import CorpusPipeline

        p = CorpusPipeline(self.spark, os.path.join(self.work, f"cp{i}"))
        self.pipelines.append(p)
        for name in CORPUS_CALLS:
            args = (self.jsonl,) if name == "ingest_bronze" else ()
            out = self.rec.call(f"corpus.{name}", getattr(p, name), *args)
            if i == 0:
                self.out[name] = out

    def check(self) -> list[str]:
        bad = []
        n_corrupt = len(self.inputs["corrupt"])
        got = self.out["ingest_bronze"]["quarantined"]
        if got != n_corrupt:
            bad.append(f"quarantine holds {got} lines, injected {n_corrupt}")
        kept = {r.doc_id for r in
                self.pipelines[0].read("silver", "deduped").select("doc_id").collect()}
        leaked = sorted(set(self.inputs["exact"]) & kept)
        if leaked:
            bad.append(f"{len(leaked)} exact copies survived dedup, e.g. {leaked[:3]}")
        failed = [r for p in self.pipelines for r in p.audit.rows if r[8] == "FAILED"]
        return bad + [f"FAILED audit row for {r[4]}" for r in failed]

    def layer_metrics(self) -> dict[str, float]:
        out = {f"corpus.{n}_s": _median(self.rec.walls.get(f"corpus.{n}", []))
               for n in CORPUS_CALLS}
        out["corpus.audit_cover"] = _audit_cover(self.pipelines, self.rec, "corpus")
        return out


class NeardupStream(_Documents):
    """Stateful MinHash-LSH near-dup stream, drained from a fresh checkpoint
    (``availableNow``, one parquet drop per micro-batch), then the batch
    near-dup plan over the same documents, built and run to a noop sink."""

    name = "neardup_stream"
    why = ("the only path through streaming and the state store (state grows every "
           "batch), then its batch twin through the plan registry")

    def setup(self) -> float:
        wall = super().setup()
        self.progress, self.failed_plans = [], set()
        return wall

    def _drain(self, i: int) -> list[dict]:
        from olist_ecommerce_data_warehouse_spark.streaming.neardup import (
            streaming_lsh_neardup,
        )

        stream = (self.spark.readStream.schema("doc_id long, text string")
                  .option("maxFilesPerTrigger", 1).parquet(self.src))
        # the memory sink keeps the drain's rows for the check; they are
        # 4 small rows per document, a negligible share of a batch
        q = (streaming_lsh_neardup(stream).writeStream.format("memory")
             .queryName(f"neardup_{i}").outputMode("append")
             .option("checkpointLocation", os.path.join(self.work, f"ckpt{i}"))
             .trigger(availableNow=True).start())
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        return [p for p in q.recentProgress if p["numInputRows"] > 0]

    def job(self, i: int) -> None:
        from olist_ecommerce_data_warehouse_spark.plans import REGISTRY
        from olist_ecommerce_data_warehouse_spark.plans.registry import (
            release_stale_checkpoints,
        )

        self.progress.append(self.rec.call("stream.drain", self._drain, i))
        for name in BATCH_PLANS:
            # plan hygiene before the clock, as bench.py does; the registry
            # wrapper repeats it inside ``fn`` but then finds nothing to free
            release_stale_checkpoints(self.spark)
            with self.rec.span(f"plans.{name}"):
                try:
                    df = self.rec.call(f"plans.build.{name}", REGISTRY[name].fn,
                                       self.spark, self.sf)
                    self.rec.call(f"plans.exec.{name}", _noop, df)
                except Exception:  # one failing plan must not abort the others
                    self.failed_plans.add(name)

    def plan_wall(self, name: str) -> float:
        b = self.rec.walls.get(f"plans.build.{name}", [])
        e = self.rec.walls.get(f"plans.exec.{name}", [])
        return _median([x + y for x, y in zip(b, e)])

    def check(self) -> list[str]:
        """Every streamed (doc, band) row must name its bucket's first
        document as anchor, with buckets from the batch MinHash operator
        and "first" meaning the earliest drop, then the lowest id; every
        exact copy must collide in every band; the final state must hold
        one row per distinct bucket."""
        from olist_ecommerce_data_warehouse_spark.operators.textdedup import (
            minhash_band_signatures,
            shingle_hash_table,
        )

        drop_of = {int(i): k for k, tb in enumerate(self.inputs["drops"])
                   for i in tb.column("doc_id").to_pylist()}
        sigs = minhash_band_signatures(
            shingle_hash_table(self.spark.read.parquet(self.src))).collect()
        first: dict[tuple, tuple[int, int]] = {}
        for r in sigs:
            key, cand = (r.band, r.sig), (drop_of[r.doc_id], r.doc_id)
            first[key] = min(first.get(key, cand), cand)
        want = {(r.doc_id, r.band, first[(r.band, r.sig)][1]) for r in sigs}
        rows = self.spark.table("neardup_0").collect()
        got = {(r.doc_id, r.band, r.anchor_doc_id) for r in rows}
        bad = []
        if got != want:
            bad.append(f"{len(got ^ want)} stream rows differ from the batch anchors")
        collided = {(r.doc_id, r.band) for r in rows if r.is_anchor == 0}
        missed = [c for c in self.inputs["exact"]
                  if any((c, b) not in collided for b in {r.band for r in sigs})]
        if missed:
            bad.append(f"{len(missed)} exact copies did not collide in every band")
        state = self.progress[0][-1]["stateOperators"][0]["numRowsTotal"]
        if state != len(first):
            bad.append(f"stream state holds {state} rows, batch has {len(first)} buckets")
        return bad + self._check_plans()

    def _check_plans(self) -> list[str]:
        """Each batch plan's rows and order-independent hash against its
        DuckDB oracle over the same parquet tables."""
        from olist_ecommerce_data_warehouse_spark.plans import REGISTRY

        bad = []
        with oracle.duckdb_views(self.sf) as con:
            for name in BATCH_PLANS:
                try:
                    got = oracle.digest(REGISTRY[name].fn(self.spark, self.sf).toPandas())
                except Exception as e:
                    bad.append(f"{name}: raised {type(e).__name__}")
                    continue
                want = oracle.digest(con.execute(REGISTRY[name].oracle).df())
                if got != want:
                    bad.append(f"{name}: {got[0]} rows / {got[1][:12]}, oracle "
                               f"{want[0]} rows / {want[1][:12]}")
        return bad

    def layer_metrics(self) -> dict[str, float]:
        from olist_ecommerce_data_warehouse_spark.streaming.neardup import band_signature_rows

        out = {}
        batches = [p for drain in self.progress for p in drain]
        for k in STREAM_DURATIONS:
            out[f"stream.{k}_ms"] = _median([p["durationMs"].get(k, 0) for p in batches])
        ops = [p["stateOperators"][0] for p in batches]
        out["stream.state_commit_ms"] = _median([o["commitTimeMs"] for o in ops])
        out["stream.state_update_ms"] = _median([o["allUpdatesTimeMs"] for o in ops])
        last = self.progress[-1][-1]["stateOperators"][0]
        out["stream.state_rows"] = last["numRowsTotal"]
        out["stream.state_mb"] = last["memoryUsedBytes"] / 2**20
        lat = [p["durationMs"]["triggerExecution"] for p in batches]
        out["stream.batch_p50_ms"] = _median(lat)
        out["stream.batch_max_ms"] = max(lat)
        out["stream.batches"] = len(lat)
        out["stream.docs_per_s"] = (sum(p["numInputRows"] for p in batches)
                                    / sum(self.rec.walls["stream.drain"]))
        # the stream's signature map alone, as a static frame
        t0 = time.perf_counter()
        _noop(band_signature_rows(self.spark.read.parquet(self.src)))
        out["stream.signature_s"] = time.perf_counter() - t0
        out.update({f"plans.{n}_s": self.plan_wall(n) for n in BATCH_PLANS})
        out["plans.build_s"] = sum(_median(self.rec.walls.get(f"plans.build.{n}", []))
                                   for n in BATCH_PLANS)
        out["plans.exec_s"] = sum(_median(self.rec.walls.get(f"plans.exec.{n}", []))
                                  for n in BATCH_PLANS)
        return out


WORKLOADS = {w.name: w for w in (WarehouseBuild, CorpusBuild, NeardupStream)}
