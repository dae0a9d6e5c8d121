"""Deterministic corpus sampling / domain mixing.

Training-data pipelines don't feed sources through at their natural
proportions — they MIX: each source (domain) gets a weight, applied as
down-sampling (weight < 1: keep a deterministic fraction) or
up-sampling (weight > 1: replicate epochs, the Pile/Dolma practice of
seeing high-quality sources multiple times per epoch).

Both directions are pure functions of (doc id, salt):

- keep/drop uses the same md5-bucket device as ``train_eval_split``
  (a hash in [0, 1e6) compared to the weight's fractional part) —
  NOT ``rand()``/``df.sample``: task retries and corpus rebuilds must
  make the SAME keep decision for every document, or incremental runs
  silently churn the training set;
- replication explodes ``ceil(weight)`` copies and drops the last
  copy for documents whose hash falls above the fractional part —
  expected multiplicity exactly ``weight`` per source, each copy
  tagged with an epoch index (so downstream shuffling/packing can
  spread copies apart);
- the salt isolates this hash use from the split/other hashes of the
  same id (independent pseudo-random streams).

Scale shape: pure map-side expressions — no shuffle, no state, no
driver data; composes with the split/pack/dedup plans unchanged.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from olist_ecommerce_data_warehouse_spark.operators.textdedup import hex_to_long

_M = 1_000_000
# config sizes up to this use an inline conditional; larger ones a
# broadcast-joined weights table (see sample_by_weight docstring)
_EXPR_LOOKUP_MAX = 32


def _hash_frac(id_col: Column, salt: str) -> Column:
    """Deterministic value in [0, 1e6) from (id, salt)."""
    return (
        hex_to_long(
            F.substring(F.md5(F.concat(id_col.cast("string"), F.lit(salt))), 1, 8)
        )
        % _M
    )


def sample_by_weight(
    df: DataFrame,
    weights: dict[str, float],
    source_col: str = "source",
) -> DataFrame:
    """Weighted domain mixing: every input row yields ``weight(source)``
    expected copies, deterministically.

    weight 0.25 → keep 25% of the source's docs (one copy each);
    weight 2.5  → every doc twice, plus a deterministic 50% third copy.
    Copies carry ``epoch`` ∈ 0..ceil(w)-1, and the extra copy is picked
    by a salted hash of ``doc_id``.  Unlisted sources get weight 1.

    The weight lookup auto-selects by config size: up to
    ``_EXPR_LOOKUP_MAX`` domains it stays a codegen'd conditional
    (zero extra jobs — a 3-entry mixing config should not pay a
    broadcast build); beyond that it becomes a BROADCAST-JOINED
    weights table, because a production config can carry thousands of
    domains and a per-domain conditional grows the Catalyst expression
    tree (and codegen size) linearly while a broadcast hash join stays
    one O(1)-per-row probe regardless of domain count (1,000-domain
    case exercised in tests/test_operators.py).  Both paths compute
    the identical weight per row."""
    for w in weights.values():
        if w < 0:
            raise ValueError(f"negative weight: {w}")
    if "__w" in df.columns:
        raise ValueError("sample_by_weight: '__w' is a reserved column name")
    if len(weights) > _EXPR_LOOKUP_MAX:
        wdf = df.sparkSession.createDataFrame(
            [(str(s), float(w)) for s, w in weights.items()],
            f"{source_col} string, __w double",
        )
        df = df.join(F.broadcast(wdf), source_col, "left")
        weight = F.coalesce(F.col("__w"), F.lit(1.0))
    elif weights:
        src = F.col(source_col)
        weight = F.lit(1.0)
        for s, w in weights.items():
            weight = F.when(src == s, F.lit(float(w))).otherwise(weight)
    else:
        weight = F.lit(1.0)
    n_full = F.floor(weight).cast("int")
    # round() before the cast: 0.3 in binary is 0.29999…, and a bare
    # bigint cast truncates 299999.999… to 299999 — a persistent
    # one-in-a-million under-bias vs the documented exact multiplicity.
    frac_scaled = F.round((weight - F.floor(weight)) * _M).cast("bigint")
    takes_extra = _hash_frac(F.col("doc_id"), ":mix") < frac_scaled
    n_copies = (n_full + takes_extra.cast("int")).alias("__n")
    return (
        df.withColumn("__n", n_copies)
        .filter(F.col("__n") > 0)
        .withColumn("epoch", F.explode(F.sequence(F.lit(0), F.col("__n") - 1)))
        .drop("__n", "__w")
    )


def mixing_report(df: DataFrame, mixed: DataFrame) -> DataFrame:
    """(source, n_input, n_mixed, realized_weight) — the sanity report
    a mixing run ships with: realized multiplicity per source for
    comparison against the requested weights."""
    inp = df.groupBy("source").agg(F.count(F.lit(1)).alias("n_input"))
    out = mixed.groupBy("source").agg(F.count(F.lit(1)).alias("n_mixed"))
    return (
        inp.join(out, "source", "left")
        .select(
            "source",
            "n_input",
            F.coalesce("n_mixed", F.lit(0)).alias("n_mixed"),
            (F.coalesce("n_mixed", F.lit(0)).cast("double") / F.col("n_input")).alias(
                "realized_weight"
            ),
        )
    )
