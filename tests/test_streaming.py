"""Structured Streaming tests: stream the driver's events table
through file-source → watermarked windows / sessions / custom stateful
op → memory sink, and check streaming results equal the batch twins."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from olist_ecommerce_data_warehouse_spark.catalog import table
from olist_ecommerce_data_warehouse_spark.streaming import drain
from olist_ecommerce_data_warehouse_spark.streaming.events import (
    read_event_stream,
    running_user_totals,
    session_counts,
    sliding_counts,
    tumbling_counts,
)
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def event_source(spark, tmp_path_factory):
    """Driver events re-landed as a micro-batch file source (two
    parquet drops so availableNow processes >1 file)."""
    src = tmp_path_factory.mktemp("events_stream")
    ev = table(spark, SF_DIR, "events")
    ev.filter(F.col("event_id") % 2 == 0).write.parquet(f"{src}/drop1")
    ev.filter(F.col("event_id") % 2 == 1).write.parquet(f"{src}/drop2")
    # file source reads a directory of files, so flatten the drops
    flat = str(src / "flat")
    ev.write.mode("overwrite").parquet(flat)
    return flat


def _drain(spark, sdf, name, mode="update"):
    """Drain everything in the source into an in-memory sink
    (incremental-backfill trigger) and return the sink's table."""
    drain(
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    return spark.table(name)


def test_streaming_tumbling_equals_batch(spark, event_source):
    stream = read_event_stream(spark, event_source)
    got = _drain(spark, tumbling_counts(stream), "t_tumbling", mode="append")
    batch = (
        table(spark, SF_DIR, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "total_value")
    )
    g = {(r["window_start"], r["event_type"]): r["n_events"] for r in got.collect()}
    b = {(r["window_start"], r["event_type"]): r["n_events"] for r in batch.collect()}
    # append mode only emits windows closed by the watermark; every
    # emitted window must match batch exactly, and most windows close.
    assert g and all(b[k] == v for k, v in g.items())
    assert len(g) >= len(b) - 8


def test_streaming_sliding_runs(spark, event_source):
    stream = read_event_stream(spark, event_source)
    got = _drain(spark, sliding_counts(stream), "t_sliding", mode="append")
    assert got.count() > 0
    # every event contributes to 4 overlapping windows
    total = got.agg(F.sum("n_events")).first()[0]
    n_events = table(spark, SF_DIR, "events").count()
    assert total <= 4 * n_events


def test_streaming_sessions_run(spark, event_source):
    stream = read_event_stream(spark, event_source)
    got = _drain(spark, session_counts(stream), "t_sessions", mode="append")
    assert got.count() > 0
    assert got.filter(F.col("session_end") < F.col("session_start")).count() == 0


def test_custom_stateful_running_totals(spark, event_source):
    stream = read_event_stream(spark, event_source)
    got = _drain(spark, running_user_totals(stream), "t_running", mode="update")
    # final update per user equals the batch per-user totals
    batch = (
        table(spark, SF_DIR, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    g = {r["user_id"]: r["n_events"] for r in got.collect()}
    for r in batch.collect():
        assert g[r["user_id"]] == r["n_events"]


def test_streaming_dedup_drops_replayed_events(spark, tmp_path_factory):
    """A re-dropped (duplicated) source file must dedup to exactly the
    batch-distinct row set within the watermark horizon."""
    from olist_ecommerce_data_warehouse_spark.streaming.events import streaming_dedup

    src = str(tmp_path_factory.mktemp("events_dup") / "flat")
    ev = table(spark, SF_DIR, "events")
    ev.write.mode("overwrite").parquet(src)
    ev.filter(F.col("event_id") % 3 == 0).write.mode("append").parquet(src)  # replay
    stream = read_event_stream(spark, src)
    got = _drain(spark, streaming_dedup(stream), "t_dedup", mode="append")
    assert got.count() == ev.count()
    assert got.select("event_id").distinct().count() == ev.count()


def test_streaming_upsert_merges_incrementally(spark, tmp_path_factory):
    """Two micro-batch drops upsert into one parquet target: batch 2's
    rows overwrite batch 1's on shared keys (latest-by-ts wins), new
    keys insert, untouched keys survive — and replaying the same drop
    is idempotent (MERGE, not append)."""
    from olist_ecommerce_data_warehouse_spark.streaming.merge import (
        streaming_upsert,
        upsert_batch,
    )

    base = tmp_path_factory.mktemp("upsert")
    src, target, ckpt = f"{base}/src", f"{base}/target", f"{base}/ckpt"
    rows1 = [(1, 100, "a", 1.0), (2, 100, "b", 2.0), (2, 150, "b", 2.5)]
    spark.createDataFrame(
        rows1, "k long, ts long, name string, val double"
    ).write.parquet(f"{src}/d1.parquet")
    def read_src():
        # each drop is a parquet DIRECTORY under src — the file stream
        # source needs recursiveFileLookup to see nested files
        return (
            spark.readStream.schema("k long, ts long, name string, val double")
            .option("recursiveFileLookup", "true")
            .parquet(src)
        )

    q = streaming_upsert(read_src(), target, ckpt, keys=["k"])
    drain(q)
    got = {r["k"]: r for r in spark.read.parquet(target).collect()}
    assert len(got) == 2
    assert got[2]["val"] == 2.5  # within-batch dedup kept the latest ts

    # second drop: update k=1, insert k=3
    rows2 = [(1, 200, "a2", 9.0), (3, 200, "c", 3.0)]
    spark.createDataFrame(
        rows2, "k long, ts long, name string, val double"
    ).write.parquet(f"{src}/d2.parquet")
    q2 = streaming_upsert(read_src(), target, ckpt, keys=["k"])
    drain(q2)
    got = {r["k"]: r for r in spark.read.parquet(target).collect()}
    assert len(got) == 3
    assert got[1]["name"] == "a2" and got[1]["val"] == 9.0
    assert got[2]["val"] == 2.5  # untouched key survives
    assert got[3]["name"] == "c"

    # idempotent replay: re-applying drop 2 changes nothing
    batch2 = spark.createDataFrame(rows2, "k long, ts long, name string, val double")
    upsert_batch(batch2, target, keys=["k"], order_col="ts")
    again = {r["k"]: r for r in spark.read.parquet(target).collect()}
    assert {k: (r["name"], r["val"]) for k, r in again.items()} == {
        k: (r["name"], r["val"]) for k, r in got.items()
    }


def test_stream_static_enrichment_equals_batch(spark, event_source):
    """Stream-static broadcast enrichment must produce exactly the
    batch join's rows."""
    from olist_ecommerce_data_warehouse_spark.streaming.events import enrich_with_dim

    ev = table(spark, SF_DIR, "events")
    dim = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("user_total_events"))
    stream = read_event_stream(spark, event_source)
    got = _drain(
        spark,
        enrich_with_dim(stream, dim).select("event_id", "user_id", "user_total_events"),
        "t_enrich",
        mode="append",
    )
    want = ev.join(dim, "user_id").select("event_id", "user_id", "user_total_events")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_upsert_batch_schema_drift_raises(spark, tmp_path_factory):
    """A batch whose schema does not match the target must RAISE — the
    old blanket except would silently overwrite the whole table with
    the one bad batch."""
    import pytest

    from olist_ecommerce_data_warehouse_spark.streaming.merge import upsert_batch

    base = tmp_path_factory.mktemp("drift")
    target = f"{base}/target"
    spark.createDataFrame(
        [(1, 100, "a")], "k long, ts long, name string"
    ).write.parquet(target)
    bad = spark.createDataFrame([(2, 200)], "k long, ts long")  # missing column
    with pytest.raises(ValueError, match="schemas differ"):
        upsert_batch(bad, target, keys=["k"], order_col="ts")
    # target untouched
    assert spark.read.parquet(target).count() == 1


def test_greedy_packing_stateful_across_restarts(spark, tmp_path_factory):
    """Greedy first-fit packing via applyInPandasWithState: (1) result
    equals the driver-side reference packer; (2) state survives a
    query RESTART through the checkpoint — the second availableNow run
    continues filling the sequence the first run left open instead of
    restarting at (0, 0)."""
    from pyspark.sql import types as T

    from olist_ecommerce_data_warehouse_spark.streaming.packing import (
        greedy_pack_reference,
        greedy_packing,
    )

    base = tmp_path_factory.mktemp("packing")
    src = f"{base}/src"
    ckpt = f"{base}/ckpt"
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("lang", T.StringType()),
            T.StructField("n_tokens", T.LongType()),
        ]
    )
    batch1 = [(i, "en" if i % 2 == 0 else "de", 100 + (i * 37) % 400) for i in range(20)]
    batch2 = [(i, "en" if i % 2 == 0 else "de", 100 + (i * 37) % 400) for i in range(20, 40)]

    def run_once(out_dir):
        # memory sink cannot recover from a checkpoint; foreachBatch +
        # parquet can — and is the realistic sink for this operator
        stream = spark.readStream.schema(schema).parquet(src)
        return (
            greedy_packing(stream, budget=512)
            .writeStream.foreachBatch(
                lambda bdf, _bid: bdf.write.mode("append").parquet(out_dir)
            )
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    spark.createDataFrame(batch1, schema).coalesce(1).write.mode("append").parquet(src)
    out1 = f"{base}/out1"
    q = run_once(out1)
    drain(q)
    got1 = sorted(map(tuple, spark.read.parquet(out1).collect()))
    assert got1 == greedy_pack_reference([(d, l, n) for d, l, n in batch1], 512)

    # second drop + RESTARTED query on the same checkpoint: continues
    # from persisted per-key state
    spark.createDataFrame(batch2, schema).coalesce(1).write.mode("append").parquet(src)
    out2 = f"{base}/out2"
    q2 = run_once(out2)
    drain(q2)
    got2 = sorted(map(tuple, spark.read.parquet(out2).collect()))
    want_full = greedy_pack_reference([(d, l, n) for d, l, n in batch1 + batch2], 512)
    want2 = sorted(t for t in want_full if t[0] >= 20)
    assert got2 == want2
    # continuity: batch2's first en-doc did NOT restart at seq 0 offset 0
    first_en = min(t for t in got2 if t[1] == "en")
    assert (first_en[3], first_en[4]) != (0, 0)


def test_greedy_pack_batch_equals_streaming_layout(spark):
    """The BATCH first-fit packer must produce the identical layout as
    the streaming twin (both share one _first_fit loop; the streaming
    side is separately asserted equal to greedy_pack_reference, so
    batch ≡ reference ⇒ batch ≡ streaming) — checked on the real
    sf0.01 corpus sized by the engine's own tokenizer, plus the
    oversized-document edge (n_tokens > budget → a sequence alone)."""
    from olist_ecommerce_data_warehouse_spark.catalog import table
    from olist_ecommerce_data_warehouse_spark.functions.text import token_count
    from olist_ecommerce_data_warehouse_spark.streaming.packing import (
        greedy_pack_batch,
        greedy_pack_reference,
    )
    from tests.conftest import SF_DIR_MID

    sized = (
        table(spark, SF_DIR_MID, "documents")
        .select("doc_id", "lang", token_count("text").cast("long").alias("n_tokens"))
    )
    got = sorted(map(tuple, greedy_pack_batch(sized, budget=512).collect()))
    want = greedy_pack_reference(
        [(r["doc_id"], r["lang"], r["n_tokens"]) for r in sized.collect()], 512
    )
    assert got == want

    # oversized doc takes a sequence alone, following docs open fresh
    tiny = spark.createDataFrame(
        [(1, "en", 600), (2, "en", 100), (3, "en", 100)],
        "doc_id long, lang string, n_tokens long",
    )
    rows = {r["doc_id"]: r for r in greedy_pack_batch(tiny, budget=512).collect()}
    assert (rows[1]["seq_no"], rows[1]["seq_offset"]) == (0, 0)
    assert (rows[2]["seq_no"], rows[2]["seq_offset"]) == (1, 0)
    assert (rows[3]["seq_no"], rows[3]["seq_offset"]) == (1, 100)


def test_stream_range_enrich_equals_batch(spark, event_source):
    """Stream-static range join: streaming clicks enriched against a
    static table of 15-minute error windows must produce EXACTLY the
    batch range_join rows (same bucketized rewrite, same bins), with
    stateless stream-side processing — and reject misuse (batch points
    / streaming intervals)."""
    import pytest as _pytest

    from olist_ecommerce_data_warehouse_spark.operators.rangejoin import range_join
    from olist_ecommerce_data_warehouse_spark.streaming.rangejoin import (
        stream_range_enrich,
    )

    ev = table(spark, SF_DIR, "events")
    clicks_b = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    windows = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("w_id"),
        F.col("ts").alias("w_start"),
        (F.col("ts") + F.expr("INTERVAL 15 MINUTES")).alias("w_end"),
    )
    stream = read_event_stream(spark, event_source)
    clicks_s = stream.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    enriched = stream_range_enrich(
        clicks_s, windows, "ts", "w_start", "w_end"
    )
    got = _drain(spark, enriched, "t_range_enrich", mode="append")
    want = range_join(clicks_b, windows, "ts", "w_start", "w_end")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))

    with _pytest.raises(ValueError, match="must be a streaming"):
        stream_range_enrich(clicks_b, windows, "ts", "w_start", "w_end")
    with _pytest.raises(ValueError, match="must be static"):
        stream_range_enrich(clicks_s, clicks_s, "ts", "w_start", "w_end")


def test_upsert_batch_recovers_from_crashed_swap(spark, tmp_path_factory):
    """A crash between the swap's two renames leaves the live dir
    missing and the previous table in __old; the next batch must
    RESTORE it and merge into it — not bootstrap from the bare batch
    and silently discard the table."""
    import os

    from olist_ecommerce_data_warehouse_spark.streaming.merge import upsert_batch

    base = tmp_path_factory.mktemp("swapcrash")
    target = f"{base}/target"
    spark.createDataFrame(
        [(1, 100, "a"), (2, 100, "b")], "k long, ts long, name string"
    ).write.parquet(target)
    # simulate the crash window: live renamed aside into the hidden
    # .upsert_tmp namespace (where the swap stages it), new table
    # never swapped in
    trash = f"{base}/.upsert_tmp/target__old"
    os.makedirs(f"{base}/.upsert_tmp")
    os.rename(target, trash)
    assert not os.path.exists(target)

    batch = spark.createDataFrame([(2, 200, "b2"), (3, 200, "c")], "k long, ts long, name string")
    upsert_batch(batch, target, keys=["k"], order_col="ts")
    got = {r["k"]: r["name"] for r in spark.read.parquet(target).collect()}
    # row 1 (only in the crashed-aside table) must survive
    assert got == {1: "a", 2: "b2", 3: "c"}
    assert not os.path.exists(trash)


def test_streaming_topk_equals_batch(spark, tmp_path_factory):
    """Streaming vector search: draining a stream of query vectors
    through streaming_topk must produce EXACTLY the batch
    brute_force_topk rows for the same queries (the foreachBatch twin
    runs the identical operator per micro-batch), across multiple
    micro-batches."""
    from pyspark.sql import functions as F  # noqa: F811

    from olist_ecommerce_data_warehouse_spark.catalog import table
    from olist_ecommerce_data_warehouse_spark.operators.similarity import (
        brute_force_topk,
        quantized,
    )
    from olist_ecommerce_data_warehouse_spark.streaming.similarity import streaming_topk

    base = tmp_path_factory.mktemp("stream_ann")
    emb = table(spark, SF_DIR, "embeddings")
    corpus = emb.select("vec_id", quantized("embedding").alias("cvec"))
    queries = emb.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("query_id"), quantized("embedding").alias("qvec")
    )
    # two drops → availableNow processes >1 micro-batch
    src = f"{base}/src"
    queries.filter(F.col("query_id") % 50 == 0).write.parquet(f"{src}/d1")
    queries.filter(F.col("query_id") % 50 != 0).write.parquet(f"{src}/d2")
    flat = f"{base}/flat"
    queries.write.parquet(flat)

    out_dir = f"{base}/out"
    stream = spark.readStream.schema(queries.schema).parquet(flat)
    q = streaming_topk(
        stream,
        corpus,
        sink=lambda df, _bid: df.write.mode("append").parquet(out_dir),
        checkpoint=f"{base}/ckpt",
    )
    drain(q)
    got = sorted(map(tuple, spark.read.parquet(out_dir).collect()))
    want = sorted(map(tuple, brute_force_topk(queries, corpus).collect()))
    assert got == want

    import pytest as _pytest

    with _pytest.raises(ValueError, match="must be a streaming"):
        streaming_topk(queries, corpus, lambda d, b: None, f"{base}/c2")


def test_upsert_batch_preserves_sibling_suffix_tables(spark, tmp_path_factory):
    """A genuine user table that happens to live at ``<target>__old``
    or ``<target>__staging`` must survive upserts untouched — the
    swap's staging/trash dirs are namespaced under ``.upsert_tmp/``,
    never bare sibling suffixes nothing reserves."""
    from olist_ecommerce_data_warehouse_spark.streaming.merge import upsert_batch

    base = tmp_path_factory.mktemp("siblings")
    target = f"{base}/t"
    user_old = f"{base}/t__old"
    user_staging = f"{base}/t__staging"
    spark.createDataFrame([(9, "keep")], "k long, name string").write.parquet(user_old)
    spark.createDataFrame([(8, "keep2")], "k long, name string").write.parquet(user_staging)
    for ts in (100, 200):
        batch = spark.createDataFrame(
            [(1, ts, f"v{ts}")], "k long, ts long, name string"
        )
        upsert_batch(batch, target, keys=["k"], order_col="ts")
    assert {r["name"] for r in spark.read.parquet(user_old).collect()} == {"keep"}
    assert {r["name"] for r in spark.read.parquet(user_staging).collect()} == {"keep2"}
    assert {r["name"] for r in spark.read.parquet(target).collect()} == {"v200"}


def test_streaming_lsh_neardup_matches_batch_and_survives_restart(
    spark, tmp_path_factory
):
    """Streaming MinHash-LSH near-dup: (a) the per-row signature map
    must equal the batch explode+groupBy formulation signature-for-
    signature; (b) bucket anchoring must match a driver-side replay of
    the same arrival order; (c) state must survive a query restart —
    drop2 processed after a stop/start still sees drop1's anchors."""
    import os

    from olist_ecommerce_data_warehouse_spark.operators.textdedup import (
        minhash_band_signatures,
        shingle_hash_table,
    )
    from olist_ecommerce_data_warehouse_spark.streaming.neardup import (
        band_signature_rows,
        streaming_lsh_neardup,
    )

    docs = table(spark, SF_DIR, "documents").select("doc_id", "text")
    # inject exact copies under new ids so buckets collide for sure
    dupes = docs.filter(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    corpus = docs.unionByName(dupes)

    # (a) signature parity: map formulation == batch formulation
    map_sigs = sorted(map(tuple, band_signature_rows(corpus).collect()))
    batch_sigs = sorted(
        map(tuple, minhash_band_signatures(shingle_hash_table(corpus)).collect())
    )
    assert map_sigs == batch_sigs

    import glob
    import shutil

    base = tmp_path_factory.mktemp("lsh_stream")
    src = str(base / "src")
    os.makedirs(src)
    d1 = corpus.filter(F.col("doc_id") < 100000)
    d2 = corpus.filter(F.col("doc_id") >= 100000)

    def land(df, tag):
        # the file source watches a flat directory — land each drop's
        # part files directly in src under unique names
        stage = str(base / f"stage_{tag}")
        df.coalesce(1).write.parquet(stage)
        for i, p in enumerate(sorted(glob.glob(f"{stage}/part-*.parquet"))):
            shutil.copy(p, f"{src}/{tag}_{i}.parquet")

    land(d1, "drop1")

    ckpt, out = str(base / "ckpt"), str(base / "out")

    def run():
        stream = spark.readStream.schema(corpus.schema).parquet(src)
        q = (
            streaming_lsh_neardup(stream)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        drain(q)

    run()  # batch 1: originals only
    land(d2, "drop2")
    run()  # RESTARTED query: dupes arrive against drop1's state

    got = spark.read.parquet(out)
    # every (doc, band) emitted exactly once across both runs
    assert got.groupBy("doc_id", "band").count().filter("count > 1").count() == 0

    # (c)+(b): replay expectation — drop1 docs claim buckets in doc_id
    # order, drop2 docs must all collide with drop1 anchors
    sig_rows = band_signature_rows(corpus).collect()
    first_seen: dict[tuple, int] = {}
    expect: dict[tuple, tuple] = {}
    for phase_docs in (d1, d2):
        ids = {r["doc_id"] for r in phase_docs.select("doc_id").collect()}
        for r in sorted(sig_rows, key=lambda r: r["doc_id"]):
            if r["doc_id"] not in ids:
                continue
            key = (r["band"], r["sig"])
            if key not in first_seen:
                first_seen[key] = r["doc_id"]
            expect[(r["doc_id"], r["band"])] = (
                first_seen[key],
                int(first_seen[key] == r["doc_id"]),
            )
    got_map = {
        (r["doc_id"], r["band"]): (r["anchor_doc_id"], r["is_anchor"])
        for r in got.collect()
    }
    assert got_map == expect
    # the injected exact copies are all flagged as collisions
    dupe_ids = {r["doc_id"] for r in dupes.select("doc_id").collect()}
    flagged = {r["doc_id"] for r in got.filter("is_anchor = 0").collect()}
    with_sigs = {r["doc_id"] for r in sig_rows}
    assert (dupe_ids & with_sigs) <= flagged

    import pytest as _pytest

    with _pytest.raises(ValueError, match="must be a streaming"):
        streaming_lsh_neardup(corpus)


def test_streaming_ppl_score_equals_batch(spark, tmp_path_factory):
    """Streaming perplexity gating: draining a doc stream through
    streaming_ppl_score under a pre-trained static LM must produce
    EXACTLY the batch scorer's rows (same fixed-point integer scores,
    same gate verdicts) across multiple micro-batches."""
    from pyspark.sql import functions as F  # noqa: F811

    from olist_ecommerce_data_warehouse_spark.catalog import table
    from olist_ecommerce_data_warehouse_spark.functions.text import tokens
    from olist_ecommerce_data_warehouse_spark.operators.ngram_lm import (
        bigram_pairs,
        ngram_lm_score,
        ngram_lm_train,
    )
    from olist_ecommerce_data_warehouse_spark.streaming.lm import streaming_ppl_score

    base = tmp_path_factory.mktemp("stream_lm")
    docs = table(spark, SF_DIR, "documents").select("doc_id", "text")
    train = docs.filter(F.col("doc_id") % 3 == 0)
    bigram, context, v = ngram_lm_train(
        bigram_pairs(train, tokens("text")), persist_fn=lambda t: t.persist()
    )

    probe = docs.filter(F.col("doc_id") % 3 != 0).limit(200)
    src = f"{base}/src"
    probe.filter(F.col("doc_id") % 2 == 0).write.parquet(f"{src}/d1")
    probe.filter(F.col("doc_id") % 2 != 0).write.parquet(f"{src}/d2")
    flat = f"{base}/flat"
    probe.write.parquet(flat)

    out_dir = f"{base}/out"
    stream = spark.readStream.schema(probe.schema).parquet(flat)
    q = streaming_ppl_score(
        stream,
        bigram,
        context,
        v,
        sink=lambda df, _bid: df.write.mode("append").parquet(out_dir),
        checkpoint=f"{base}/ckpt",
    )
    drain(q)
    got = sorted(map(tuple, spark.read.parquet(out_dir).collect()))
    want = sorted(
        map(
            tuple,
            ngram_lm_score(
                probe, bigram_pairs(probe, tokens("text")), bigram, context, v
            ).collect(),
        )
    )
    assert got == want and len(got) == 200
    bigram.unpersist()

    import pytest as _pytest

    with _pytest.raises(ValueError, match="must be a streaming"):
        streaming_ppl_score(probe, bigram, context, v, lambda d, b: None, f"{base}/c2")
