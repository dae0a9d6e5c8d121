"""End-to-end TRAINING-CORPUS pipeline — the medallion counterpart for
LLM data: every stage is an operator this engine already ships,
composed with the same audited fail-fast conventions as
``MedallionPipeline`` (reference: 03_load_csv_to_bronze.sql's
TRY/CATCH lifecycle, applied to the corpus-prep tier the driver
mandates).

    bronze   ingest JSONL, quarantine corrupt lines
    silver   quality gates (token bounds + fasttext-style classifier)
             → exact dedup → MinHash-LSH near-dup → CC clustering →
             one keeper per duplicate family
    gold     deterministic train/val/test split → 5-gram
             decontamination of TRAIN against the eval splits →
             weighted domain mixing → greedy sequence packing

Every stage writes a parquet table under its layer, records a
STARTED → SUCCESS(rows)/FAILED(error) audit pair, and re-raises on
failure so downstream stages never run on partial data.  Stage order
is dependency order (C2); each stage reads the PREVIOUS stage's table
from disk.

Scale posture is inherited from the operators: the only corpus-sized
shuffles are the dedup signature aggregate, the LSH band join, the CC
edge rounds, and the packing key shuffle — every gate/split/mixing
stage is a pure map, and the decontamination runtime-filters train
grams against the (small) eval gram set before any wide join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from olist_ecommerce_data_warehouse_spark.functions.text import token_count, tokens
from olist_ecommerce_data_warehouse_spark.operators.graph import connected_components
from olist_ecommerce_data_warehouse_spark.operators.lineage import cut_lineage, release_cut
from olist_ecommerce_data_warehouse_spark.operators.quality import quality_scored
from olist_ecommerce_data_warehouse_spark.operators.sampling import sample_by_weight
from olist_ecommerce_data_warehouse_spark.operators.textdedup import (
    GRAM_M,
    gramk_expr,
    hex_to_long,
    jaccard_on_pairs,
    lsh_candidate_pairs,
    minhash_band_signatures,
    shingle_hash_table,
    token_hashes_expr,
)
from olist_ecommerce_data_warehouse_spark.sources.audit import AuditLog
from olist_ecommerce_data_warehouse_spark.sources.csv import write_table
from olist_ecommerce_data_warehouse_spark.sources.jsonl import read_jsonl, split_corrupt
from olist_ecommerce_data_warehouse_spark.streaming.packing import greedy_pack_batch

DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
    ]
)

CONTAM_N = 5  # decontamination n-gram order (GPT-3-style)
CONTAM_THRESHOLD_PCT = 50  # drop a train doc when ≥ this % of its grams leak
MAX_TOKENS = 100_000  # length gate: longer documents are "too_long"
JACCARD_THRESHOLD = 0.8  # near-dup verification cut for LSH candidates
SEQ_BUDGET = 512  # tokens per packed training sequence


def _split_col() -> F.Column:
    """Deterministic 90/5/5 train/val/test assignment by content-stable
    hash: bucket = md5(doc_id || ':split') mod 100.  The salt string
    keeps this split independent of any other hash use of doc_id;
    determinism (vs ``rand(seed)``) means retries, backfills and
    incremental runs land every document in the same split forever —
    the property that prevents train/test leakage when the corpus is
    rebuilt.  Pure map-side expression: no shuffle, no state, scales
    with input splits.  The one definition engine-wide: the gold
    split here, the ``sequence_packing`` plan (which oracle-gates it)
    and the ``corpus_splits`` SQL view all use it."""
    bucket = hex_to_long(
        F.substring(
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":split"))), 1, 8
        )
    ) % 100
    return (
        F.when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test")
    )


def _collapse_neardups(docs: DataFrame, sh: DataFrame) -> tuple[DataFrame, DataFrame]:
    """One keeper per near-dup family of ``docs`` (with ``sh`` its
    shingle table): LSH candidates → exact Jaccard ≥
    ``JACCARD_THRESHOLD`` → connected components → drop every endpoint
    whose component (the family's minimum doc_id) is not itself, with
    one left-anti join.  Returns ``(kept, labels)``; ``labels`` is the
    persisted CC table, which the caller unpersists after its write."""
    pairs = lsh_candidate_pairs(minhash_band_signatures(sh))
    verified = jaccard_on_pairs(pairs, sh).filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    labels = connected_components(
        verified.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    )
    dropped = labels.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias("doc_id")
    )
    return docs.join(dropped, "doc_id", "left_anti"), labels


class CorpusPipeline:
    def __init__(
        self,
        spark: SparkSession,
        base_dir: str,
        *,
        min_tokens: int = 3,
    ):
        self.spark = spark
        self.base = base_dir.rstrip("/")
        self.audit = AuditLog(spark)
        self.min_tokens = min_tokens

    # ------------------------------------------------------------ plumbing

    def path(self, layer: str, name: str) -> str:
        return f"{self.base}/{layer}/{name}"

    def read(self, layer: str, name: str) -> DataFrame:
        # silver/filtered and silver/rejected are partition-pruned
        # VIEWS of the single-pass silver/gated write (round 5): the
        # quality classifier runs once, the split costs a partition
        # filter, and both logical datasets keep their pre-round-5
        # schemas (rejected carries reject_reason, filtered doesn't).
        if (layer, name) == ("silver", "filtered"):
            return (
                self.spark.read.parquet(self.path("silver", "gated"))
                .filter(F.col("gate") == "keep")
                .drop("gate")
            )
        if (layer, name) == ("silver", "rejected"):
            return (
                self.spark.read.parquet(self.path("silver", "gated"))
                .filter(F.col("gate") != "keep")
                .withColumn("reject_reason", F.col("gate"))
                .drop("gate")
            )
        return self.spark.read.parquet(self.path(layer, name))

    # -------------------------------------------------------------- bronze

    def ingest_bronze(self, jsonl_path: str) -> dict[str, int]:
        """JSONL → bronze/documents (+ bronze/quarantine for corrupt
        lines — quarantined WITH their raw text, never dropped), both
        under the one documents audit row."""
        out = {}

        def documents() -> DataFrame:
            clean, corrupt = split_corrupt(read_jsonl(self.spark, jsonl_path, DOC_SCHEMA))
            out["quarantined"] = write_table(corrupt, self.path("bronze", "quarantine"))
            return clean

        out["documents"] = self.audit.write_table(
            documents, self.base, "bronze", "documents",
            source_object=jsonl_path, source_path=jsonl_path,
        )
        return out

    def ingest_bronze_df(self, docs: DataFrame) -> dict[str, int]:
        """Bronze from an in-engine frame (parquet-sourced corpora —
        the driver's documents table): same layer contract, no
        quarantine split needed."""
        n = self.audit.write_table(
            docs.select("doc_id", "text", "lang", "source"), self.base, "bronze", "documents"
        )
        return {"documents": n, "quarantined": 0}

    # -------------------------------------------------------------- silver

    def _apply_gates(self, docs: DataFrame) -> DataFrame:
        """Token bounds + classifier, with a reject_reason column (NULL
        = keep) — shared by the full load and incremental drops."""
        toks = docs.select(
            "*", token_count("text").alias("n_tokens")
        )
        scored = toks.join(quality_scored(docs, tokens("text")), "doc_id")
        reason = (
            F.when(F.col("n_tokens") < self.min_tokens, "too_short")
            .when(F.col("n_tokens") > MAX_TOKENS, "too_long")
            .when(F.col("qc_pass") == 0, "quality_fail")
        )
        return scored.select("*", reason.alias("reject_reason"))

    def load_silver_filtered(self) -> int:
        """Quality gates: token-count bounds + classifier pass, in ONE
        corpus pass (round 5 — the previous shape wrote rejected and
        filtered as two separate jobs, re-running the classifier over
        the full corpus twice; measured at 100×: 286 s for what one
        pass does in ~½).  The gate columns are computed once and
        written once, PARTITIONED by outcome (gate = 'keep' |
        reject_reason); silver/filtered and silver/rejected are
        partition-pruned views of that single write (see :meth:`read`).
        Rejected docs keep their reject_reason — a filter you cannot
        audit is a filter you cannot trust."""
        flagged = self._apply_gates(self.read("bronze", "documents"))
        keep = Observation()
        gated = (
            flagged.withColumn("gate", F.coalesce(F.col("reject_reason"), F.lit("keep")))
            .drop("reject_reason")
            .observe(keep, F.count_if(F.col("gate") == "keep").alias("n"))
        )
        # the total is the write's own count(1); the keep count rides
        # along the same write — no re-read of the partitions
        self.audit.write_table(
            gated, self.base, "silver", "gated",
            source_object="bronze/documents", partition_by=["gate"],
        )
        return keep.get["n"]

    def load_silver_deduped(self) -> int:
        """Exact dedup (content-fingerprint hash-agg, min doc_id kept)
        → MinHash-LSH candidates → exact-Jaccard verification →
        connected components over the verified near-dup graph → one
        keeper (min doc_id) per duplicate family.

        Also persists the two INDEX side tables incremental drops
        dedup against without reprocessing the corpus
        (:meth:`apply_increment`): content fingerprints and LSH band
        signatures of every kept document."""
        docs = self.read("silver", "filtered")
        # exact: one hash-aggregate on the fingerprint
        keeper = docs.groupBy(F.md5("text").alias("__fp")).agg(
            F.min("doc_id").alias("doc_id")
        )
        exact = docs.join(keeper.select("doc_id"), "doc_id")
        # near-dup over the exact survivors
        survivors, labels = _collapse_neardups(exact, shingle_hash_table(exact))
        n = self.audit.write_table(survivors, self.base, "silver", "deduped")
        labels.unpersist()
        kept = self.read("silver", "deduped")
        self.audit.write_table(
            kept.select("doc_id", F.md5("text").alias("fp")),
            self.base, "silver", "index_fingerprints",
        )
        self.audit.write_table(
            minhash_band_signatures(shingle_hash_table(kept)),
            self.base, "silver", "index_band_sigs",
        )
        return n

    def score_lm_buckets(self) -> dict:
        """CCNet perplexity stage (optional, additive): train the
        bigram LM on the deduped corpus — which already passed the
        classifier gate, making it the in-corpus stand-in for CCNet's
        clean reference model — score EVERY deduped doc under it, and
        bucket per language into head/middle/tail tertiles
        (`operators/ngram_lm.py`).  Writes silver/lm_scored with the
        full score row + ppl_bucket; downstream mixing can weight
        buckets (CCNet keeps head+middle) without re-scoring."""
        from olist_ecommerce_data_warehouse_spark.operators.ngram_lm import (
            bigram_pairs,
            ngram_lm_score,
            ngram_lm_train,
            ppl_buckets,
        )

        docs = self.read("silver", "deduped")
        pairs = bigram_pairs(docs, tokens("text"))
        bigram, context, v = ngram_lm_train(pairs, persist_fn=lambda df: df.persist())
        # eager: this count is the one job that fills the bigram cache
        # before the scoring query's three broadcast subtrees (bigram /
        # context / V) read it concurrently
        bigram.count()
        scored = ngram_lm_score(docs, pairs, bigram, context, v, keep_cols=("lang",))
        n = self.audit.write_table(ppl_buckets(scored), self.base, "silver", "lm_scored")
        vocab = int(v.first()["__v"])
        bigram.unpersist()
        return {"lm_scored": n, "lm_vocab": vocab}

    def corpus_report(self) -> DataFrame:
        """Data card (the Dolma/Pile release-doc table): one small
        DataFrame — (layer, source, lang, n_docs, n_tokens) — tracing
        the corpus funnel through every written layer, so attrition
        per source/language is quotable without ad-hoc queries.  Reads
        only already-written layers; each layer is one map-side-partial
        aggregation (shuffle rows = |sources × langs| per layer), so
        the report costs about one scan of each layer even at 100 TB.
        Bronze tokenizes on the fly (n_tokens lands in silver);
        train_mixture counts epoch replicas — its n_docs EXCEEDING
        deduped is upsampling doing its job, not a bug."""
        layers = [
            (
                "bronze/documents",
                self.read("bronze", "documents").select(
                    "source",
                    "lang",
                    token_count("text").alias("n_tokens"),
                ),
            ),
            ("silver/filtered", self.read("silver", "filtered")),
            ("silver/deduped", self.read("silver", "deduped")),
            ("gold/decontaminated", self.read("gold", "decontaminated")),
            ("gold/train_mixture", self.read("gold", "train_mixture")),
        ]
        parts = [
            df.groupBy("source", "lang").agg(
                F.count("*").alias("n_docs"),
                F.sum("n_tokens").cast("bigint").alias("n_tokens"),
            ).select(F.lit(layer).alias("layer"), "*")
            for layer, df in layers
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def apply_increment(self, new_docs: DataFrame) -> dict[str, int]:
        """Incremental drop: gate → dedup the increment against ITSELF
        and against the EXISTING corpus via the persisted index tables
        — never rescanning corpus text except for the (small) verified-
        candidate set.  The 100 TB contract: per-drop work is
        O(|drop| + |collisions|); the only corpus-sized inputs touched
        are the fingerprint and band-signature indexes (8-byte/hash
        rows, join-pruned), and old-document shingles are RECOMPUTED
        only for candidate partners instead of storing a corpus-sized
        shingle table.  Appends survivors to silver/deduped and updates
        both indexes; returns per-fate counts."""
        def stage() -> tuple[int, dict[str, int]]:
            # lineage cuts at stage boundaries: each stage is read
            # several times downstream (counts + two join consumers),
            # and the combined gates→LSH→CC→append lineage otherwise
            # grows past what plan stringification/codegen tolerate —
            # at scale these barriers are the staging tables a real
            # incremental job writes anyway.  All four are released
            # once the last count has run.
            flagged = cut_lineage(self._apply_gates(new_docs))
            gated = flagged.filter(F.col("reject_reason").isNull()).drop(
                "reject_reason"
            )
            n_rejected = flagged.filter(F.col("reject_reason").isNotNull()).count()

            fps = self.read("silver", "index_fingerprints")
            with_fp = gated.select("*", F.md5("text").alias("fp"))
            # exact vs history + within-increment (min id wins)
            no_hist = with_fp.join(fps.select("fp"), "fp", "left_anti")
            first = no_hist.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
            exact_new = cut_lineage(no_hist.join(first.select("doc_id"), "doc_id"))
            n_exact_dropped = gated.count() - exact_new.count()

            new_sh = shingle_hash_table(exact_new).persist()
            new_sigs = minhash_band_signatures(new_sh).persist()
            old_sigs = self.read("silver", "index_band_sigs")
            # new-vs-old candidates: band equi-join against the stored
            # index; new-vs-new: the standard pair join on the drop
            cand_old = (
                new_sigs.alias("n")
                .join(
                    old_sigs.alias("o"),
                    (F.col("n.band") == F.col("o.band"))
                    & (F.col("n.sig") == F.col("o.sig")),
                )
                .select(
                    F.col("n.doc_id").alias("doc_new"),
                    F.col("o.doc_id").alias("doc_old"),
                )
                .distinct()
            )
            # verification shingles for JUST the implicated old docs
            old_partner_docs = (
                self.read("silver", "deduped")
                .join(
                    cand_old.select(F.col("doc_old").alias("doc_id")).distinct(),
                    "doc_id",
                )
            )
            ver_sh = new_sh.unionByName(shingle_hash_table(old_partner_docs))
            old_hits = (
                jaccard_on_pairs(
                    cand_old.select(
                        F.col("doc_new").alias("doc_a"),
                        F.col("doc_old").alias("doc_b"),
                    ),
                    ver_sh,
                )
                .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
                .select(F.col("doc_a").alias("doc_id"))
                .distinct()
            )
            survivors_vs_old = cut_lineage(exact_new.join(old_hits, "doc_id", "left_anti"))

            # within-increment near-dup family collapse (batch rule)
            survivors, labels = _collapse_neardups(
                survivors_vs_old,
                new_sh.join(survivors_vs_old.select("doc_id"), "doc_id"),
            )
            added = cut_lineage(survivors)
            n_neardup_dropped = exact_new.count() - added.count()

            # append with the EXACT silver schema (gate columns ride
            # along) — a narrower appended file would shadow columns on
            # the next read
            silver_cols = self.read("silver", "deduped").columns
            added_cols = added.select(*silver_cols)
            added_cols.write.mode("append").parquet(self.path("silver", "deduped"))
            added.select("doc_id", "fp").write.mode("append").parquet(
                self.path("silver", "index_fingerprints")
            )
            minhash_band_signatures(
                shingle_hash_table(added_cols)
            ).write.mode("append").parquet(self.path("silver", "index_band_sigs"))
            n_added = added.count()
            for cut in (flagged, exact_new, survivors_vs_old, added):
                release_cut(cut)
            labels.unpersist()
            new_sh.unpersist()
            new_sigs.unpersist()
            return n_added, {
                "rejected": n_rejected,
                "dropped_exact": n_exact_dropped,
                "dropped_neardup": n_neardup_dropped,
                "added": n_added,
            }

        return self.audit.audited(stage, "silver", "deduped", source_object="increment")

    # ---------------------------------------------------------------- gold

    def load_gold_corpus(self, weights: dict[str, float] | None = None) -> dict[str, int]:
        """Split → decontaminate train against val/test → mix → pack."""
        docs = self.read("silver", "deduped").select(
            "*", _split_col().alias("split")
        )
        grams = F.array_distinct(
            F.transform(gramk_expr("__th", CONTAM_N), lambda x: x % GRAM_M)
        )
        th = docs.select(
            "doc_id", "split", token_hashes_expr().alias("__th")
        ).select("doc_id", "split", grams.alias("__g"))
        eval_grams = (
            th.filter(F.col("split") != "train")
            .select(F.explode("__g").alias("gh"))
            .distinct()
        )
        # eval side is benchmark-sized → broadcast semi-join runtime
        # filter; per-doc overlap then decides the drop
        train_overlap = (
            th.filter(F.col("split") == "train")
            .select("doc_id", F.size("__g").alias("n_g"), F.explode("__g").alias("gh"))
            .join(F.broadcast(eval_grams), "gh", "left_semi")
            .groupBy("doc_id", "n_g")
            .agg(F.count(F.lit(1)).alias("n_overlap"))
            .filter(100 * F.col("n_overlap") >= CONTAM_THRESHOLD_PCT * F.col("n_g"))
            .select("doc_id")
        )
        decon = docs.join(train_overlap, "doc_id", "left_anti")
        n_clean = self.audit.write_table(decon, self.base, "gold", "decontaminated")

        mixed = sample_by_weight(
            self.read("gold", "decontaminated").filter(F.col("split") == "train"),
            weights or {},
        )
        n_mixed = self.audit.write_table(mixed, self.base, "gold", "train_mixture")

        sized = self.read("gold", "train_mixture").select(
            # epoch replicas must pack as distinct rows: synthesize a
            # replica-unique packing id (epoch in the high bits)
            (F.col("doc_id") + F.col("epoch") * 10_000_000).alias("doc_id"),
            "lang",
            token_count("text").alias("n_tokens"),
        )
        packed = greedy_pack_batch(sized, SEQ_BUDGET)
        n_packed = self.audit.write_table(packed, self.base, "gold", "packed")
        return {"decontaminated": n_clean, "train_mixture": n_mixed, "packed": n_packed}

    def export_shards(self, n_shards: int = 8) -> dict:
        """gold/packed → gold/shards: the dataloader last mile.  Whole
        packed sequences shard together (group id = lang:seq_no) with
        within-sequence order pinned by seq_offset; the epoch-0
        shuffle rebuilds byte-stable.  Audited like every other stage."""
        from olist_ecommerce_data_warehouse_spark.operators.export import (
            export_training_shards,
        )

        packed = self.read("gold", "packed").withColumn(
            "seq_id", F.concat_ws(":", "lang", F.col("seq_no").cast("string"))
        )

        def stage() -> tuple[int, dict]:
            manifest = export_training_shards(
                packed,
                self.path("gold", "shards"),
                n_shards,
                id_col="seq_id",
                order_cols=["seq_offset", "doc_id"],
            )
            return manifest["n_rows"], manifest

        return self.audit.audited(stage, "gold", "shards", source_object="gold/packed")

    def streaming_ingest(self, doc_stream: DataFrame, checkpoint: str):
        """Continuous corpus growth: every micro-batch of documents
        runs :meth:`apply_increment` (gates → exact dedup vs the
        fingerprint index → LSH near-dup vs the signature index →
        within-batch collapse → append + index update).  Because the
        fingerprint index is consulted BEFORE any append, a replayed
        micro-batch after a crash is content-idempotent — its docs are
        exact-dropped on the second pass — so the foreachBatch sink
        needs no transactional write.  Returns the started
        StreamingQuery (availableNow — drain then stop; production
        swaps a processingTime trigger)."""
        if not doc_stream.isStreaming:
            raise ValueError("streaming_ingest: doc side must be a streaming DataFrame")

        def process(batch_df: DataFrame, batch_id: int) -> None:
            if batch_df.head(1):
                self.apply_increment(batch_df)

        return (
            doc_stream.writeStream.foreachBatch(process)
            .option("checkpointLocation", checkpoint)
            .queryName("corpus_streaming_ingest")
            .trigger(availableNow=True)
            .start()
        )

    # ----------------------------------------------------------------- run

    def run_all(
        self, jsonl_path: str, weights: dict[str, float] | None = None
    ) -> dict[str, int]:
        """C1/C2: dependency-ordered, fail-fast (any stage error leaves
        its FAILED audit row and propagates — nothing downstream runs)."""
        out: dict[str, int] = {}
        bronze = self.ingest_bronze(jsonl_path)
        out["bronze_documents"] = bronze["documents"]
        out["bronze_quarantined"] = bronze["quarantined"]
        out["silver_filtered"] = self.load_silver_filtered()
        out["silver_deduped"] = self.load_silver_deduped()
        gold = self.load_gold_corpus(weights)
        out["gold_decontaminated"] = gold["decontaminated"]
        out["gold_train_mixture"] = gold["train_mixture"]
        out["gold_packed"] = gold["packed"]
        return out
