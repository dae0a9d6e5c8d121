"""DSIR — Data Selection via Importance Resampling (Xie et al.,
"Data Selection for Language Models via Importance Resampling",
NeurIPS 2023).

The selection-family member the quality classifier and perplexity
filter don't cover: given a small TARGET sample (the domain you want
more of — e.g. encyclopedic text, code, a benchmark's training split)
and the RAW corpus, select raw documents whose hashed-n-gram
distribution looks like the target, by importance resampling under
two bag-of-hashed-ngrams models:

  features  x_d[b]   — hashed uni+bigram counts folded into B buckets
                       (the same hashing trick / shared rolling-hash
                       machinery as the fasttext-style classifier;
                       DSIR's paper uses B = 10^4, the default here);
  models    p̂_r[b] = (r_b + 1) / (R + B)          (raw, add-one)
            p̂_t[b] = (t_b + μ·p̂_r[b]) / (T + μ)   (target, DIRICHLET-
                       PRIOR smoothed on the raw model — Zhai &
                       Lafferty 2001)
  weight    log ŵ_d = Σ_b x_d[b] · λ[b],  λ[b] = ln p̂_t[b] − ln p̂_r[b]
                    = ln((t_b/p̂_r[b] + μ) / (T + μ))
  selection Gumbel-top-k:  key_d = log ŵ_d + g_d  with g_d standard
            Gumbel  ⇒  the top-n by key is an exact sample without
            replacement with P(d) ∝ ŵ_d  (Vieira 2014) — the paper's
            importance resampling, deterministically.

Why Dirichlet-prior smoothing instead of the paper's symmetric add-α:
a practical target sample is ORDERS smaller than the raw corpus
(T ≪ R), and add-α then mis-prices the no-evidence cases — a bucket
unseen in BOTH corpora gets λ0 = ln((R+αB)/(T+αB)) > 0 (hapax/junk
vocabulary UP-weighted), and matched-rate buckets get a small negative
bias that accumulates per token into a length penalty.  Measured at
100×: selection became ANTI-enriched (64.6% target-like picks vs a
78% base rate).  Anchoring the target model on the raw model fixes
both analytically: λ = 0 EXACTLY when target and raw rates match
(any T/R), and every target-unseen feature costs the same constant
ln(μ/(T+μ)) instead of a raw-frequency-dependent bonus.

Dataflow at 100 TB: the combined (bucket, t_b, r_b) model table and
the λ table are MODEL-sized (≤ B rows) — one aggregation over the
per-document feature counts builds them, λ broadcasts, per-doc
scoring is a map-side join + one integer aggregate, and the top-n is
a TakeOrdered (per-partition heads, no global sort).  Nothing corpus-sized ever sits on the driver.

Determinism (the ngram_lm policy): float ``ln`` appears exactly ONCE
per bucket — λ[b] quantizes to fixed-point ``lam_fp = round(λ·2^20)``
as a pure function of the integer tuple (t_b, T, r_b, R, B, μ) — and
ONCE per document for the Gumbel noise, whose uniform input is
``(md5-prefix(id, seed) + 0.5) / 2^32`` (a pure function of id and
seed — replayable, partitioning-independent; see :func:`gumbel_key`).
Per-doc weights are INTEGER sums of cnt·lam_fp, so scores are
bit-stable under any repartitioning.  ``ln`` itself is libm (1-ulp
across engines), so the operator is pytest-gated like the LM: integer
machinery exact, per-bucket log-ratios within quantization tolerance
of a driver-side reference.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DSIR_BUCKETS = 10_000  # the paper's order of magnitude
FP_BITS = 20
_FP = 1 << FP_BITS


def round_half_away(x: float) -> int:
    """Round half AWAY from zero — Spark ``F.round``'s rule on doubles
    (and DuckDB's).  Python's builtin ``round`` is half-to-even, so a
    λ landing exactly on a .5 fp boundary would diverge between the
    engine and any driver/SQL twin for a reason other than the
    documented 1-ulp libm tolerance; every driver-side quantization in
    this module goes through this helper instead."""
    return math.floor(x + 0.5) if x >= 0 else -math.floor(-x + 0.5)


def dsir_log_ratio(
    spark, rows, buckets: int = DSIR_BUCKETS, mu: int = 2000
) -> tuple[DataFrame, int]:
    """Fixed-point log-ratio table under Dirichlet-prior smoothing (see
    module doc) from the COLLECTED combined model table: ``rows`` is
    the driver-side list of ``(bucket, t_b, r_b)`` target and raw
    counts over every bucket either corpus hits — ≤ ``buckets`` rows,
    the same model-sized tier as the broadcast λ itself ("nothing
    corpus-sized ever sits on the driver" still holds).  Returns
    ``(lam, lam0_fp)`` where ``lam`` is (bucket, lam_fp) for every
    bucket with target evidence and ``lam0_fp = round(ln(μ/(T+μ))·2^20)``
    is the constant weight of EVERY target-unseen bucket (seen only in
    raw and seen in neither alike — under this smoothing absence from
    the target prices the same regardless of raw frequency).

    λ[b] = ln((t_b/p̂_r[b] + μ) / (T + μ)) with t_b/p̂_r[b] =
    t_b·(R+B)/(r_b+1) — one JVM ``ln`` per bucket, quantized once.
    ``mu`` is the Dirichlet mass (≈ a typical document's token count;
    2000 is the IR-standard default).  Both totals fold driver-side
    from the same rows, and λ is a projection over a LOCAL relation —
    a LocalTableScan the broadcast build evaluates with NO cluster
    stage.  ``buckets`` must be the bucket count the
    feature counts were folded into (``quality.hashed_feature_counts``)."""
    t_total = sum(int(r[1]) for r in rows)
    r_total = sum(int(r[2]) for r in rows)
    log_denom = math.log(t_total + mu)
    lam0_fp = round_half_away((math.log(mu) - log_denom) * _FP)
    tc = spark.createDataFrame(
        [(int(b), int(t_b), int(r_b)) for b, t_b, r_b in rows if t_b > 0],
        "bucket bigint, t_b bigint, r_b bigint",
    )
    lam = tc.select(
        "bucket",
        F.round(
            (
                F.log(
                    F.col("t_b").cast("double")
                    * F.lit(float(r_total + buckets))
                    / (F.coalesce("r_b", F.lit(0)) + F.lit(1)).cast("double")
                    + F.lit(float(mu))
                )
                - F.lit(log_denom)
            )
            * F.lit(float(_FP))
        )
        .cast("bigint")
        .alias("lam_fp"),
    )
    return lam, lam0_fp


def dsir_score(
    docs: DataFrame,
    fc: DataFrame,
    lam: DataFrame,
    lam0_fp: int,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(doc_id, *keep_cols, n_features, weight_fp) — integer fixed-point
    log importance weight per document (bit-stable under partitioning)
    from the (doc_id, bucket, cnt) table ``fc``
    (``quality.hashed_feature_counts`` with DSIR's bucket count), so one
    feature pass builds the models AND scores.  Featureless docs score
    (0, 0): no evidence either way.

    ``keep_cols`` names doc columns carried through the left join
    (e.g. the grouping language) so callers don't pay a second
    corpus-grain shuffle join to reunite scores with doc attributes —
    the same contract as ``ngram_lm_score`` (round 11)."""
    scored = (
        fc.join(F.broadcast(lam), "bucket", "left")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_features"),
            F.sum(
                F.col("cnt") * F.coalesce(F.col("lam_fp"), F.lit(lam0_fp))
            ).alias("weight_fp"),
        )
    )
    return docs.select("doc_id", *keep_cols).join(scored, "doc_id", "left").select(
        "doc_id",
        *keep_cols,
        F.coalesce("n_features", F.lit(0)).alias("n_features"),
        F.coalesce("weight_fp", F.lit(0)).alias("weight_fp"),
    )


def gumbel_key(weight_fp_col, id_col, seed: int = 0):
    """key_fp = weight_fp + round(Gumbel(u)·2^20) with u a pure
    function of (id, seed): top-n by this key samples without
    replacement with P ∝ exp(weight) — the Gumbel-top-k trick.

    The uniform source is the md5 device (round 6 — previously
    xxhash64, which DuckDB cannot replay): v = first-8-hex-digits of
    md5('id:dsir:seed') ∈ [0, 2^32), u = (v + 0.5) / 2^32.  v is exact
    in a double (< 2^53), +0.5 is exact, and the divisor is a POWER OF
    TWO so the division is exact too — u is bit-identical in Spark,
    DuckDB and Python, leaving the two libm ``ln``s as the only float
    ops (their post-quantization flip margins are measured ≫ 1-ulp in
    tests/test_operators.py::test_dsir_gate_rounding_margins)."""
    from olist_ecommerce_data_warehouse_spark.operators.textdedup import (
        hex_to_long,
    )

    v = hex_to_long(
        F.substring(
            F.md5(
                F.concat(
                    F.col(id_col).cast("string"), F.lit(f":dsir:{seed}")
                )
            ),
            1,
            8,
        )
    )
    u = (v.cast("double") + F.lit(0.5)) / F.lit(float(1 << 32))
    g = -F.log(-F.log(u))
    return (F.col(weight_fp_col) + F.round(g * F.lit(float(_FP))).cast("bigint")).alias(
        "key_fp"
    )


def gumbel_key_sql(id_expr: str, seed: int = 0) -> str:
    """SQL twin of the round-6 :func:`gumbel_key` noise term:
    round(Gumbel(u)·2^20) as a BIGINT expression (add the caller's
    weight_fp column).  Exact-u md5 device, see gumbel_key."""
    from olist_ecommerce_data_warehouse_spark.operators.textdedup import (
        hex2int_sql,
    )

    h = f"substr(md5(CAST({id_expr} AS VARCHAR) || ':dsir:{seed}'), 1, 8)"
    v = hex2int_sql("{h}").format(h=h)
    u = f"((CAST({v} AS DOUBLE) + 0.5) / 4294967296.0)"
    return f"CAST(round(-ln(-ln({u})) * {float(_FP)!r}) AS BIGINT)"


def dsir_resample(scored: DataFrame, n: int, seed: int = 0) -> DataFrame:
    """Top-``n`` Gumbel keys over ``doc_id`` = an importance-resampled
    selection (without replacement, P ∝ exp(weight)).  TakeOrdered
    shape: per-partition heads merge on the driver, no global sort;
    ties break to the lower id for determinism."""
    keyed = scored.select("doc_id", "weight_fp", gumbel_key("weight_fp", "doc_id", seed))
    return keyed.orderBy(F.desc("key_fp"), F.col("doc_id")).limit(n)


# --------------------------------------------------------- reference twin


def dsir_reference(
    doc_feats: dict[int, dict[int, int]],
    target_counts: dict[int, int],
    raw_counts: dict[int, int],
    buckets: int = DSIR_BUCKETS,
    mu: int = 2000,
) -> tuple[dict[int, int], int, dict[int, int]]:
    """Driver-side reference: returns (lam_fp table, lam0_fp,
    weight_fp per doc) from pre-hashed feature counts — the
    distributed integer machinery must match bucket-for-bucket within
    the documented ±1 fp quantization tolerance of libm ``ln``, and
    EXACTLY once the λ table is fixed."""
    t_total = sum(target_counts.values())
    r_total = sum(raw_counts.values())
    log_denom = math.log(t_total + mu)
    lam0_fp = round_half_away((math.log(mu) - log_denom) * _FP)
    lam = {
        b: round_half_away(
            (
                math.log(
                    t_b * float(r_total + buckets) / (raw_counts.get(b, 0) + 1)
                    + float(mu)
                )
                - log_denom
            )
            * _FP
        )
        for b, t_b in target_counts.items()
    }
    weights = {
        d: sum(cnt * lam.get(b, lam0_fp) for b, cnt in feats.items())
        for d, feats in doc_feats.items()
    }
    return lam, lam0_fp, weights
