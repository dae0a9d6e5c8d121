"""Near-duplicate detection operators (extension tier — the LLM-corpus
dedup family: exact, n-gram Jaccard, MinHash+LSH banding, SimHash).

Everything is expressed with JVM-side array/regexp/hash expressions
(no Python UDFs) and is deliberately *portable*: hash values derive
from md5 hex strings via an explicit hex→int expansion, so an ANSI-SQL
oracle computes bit-identical signatures.

Scale notes (100 TB posture):

- exact dedup: one hash-aggregate on the content fingerprint; map-side
  partial agg collapses dupes before the shuffle.
- n-gram Jaccard via shingle self-join is quadratic in the worst case
  — it is the *verifier*, run only on candidate pairs.
- MinHash+LSH is the scale path: signatures are a narrow map + one
  groupBy(doc); banding turns all-pairs into an equi-join on
  (band, signature) whose output is only the collision set.  Hot
  bands (boilerplate docs) are the skew risk → AQE skew-join or
  salt the band key.
- SimHash: one narrow aggregation per doc; pairing again via banding
  (prefix buckets) at scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from olist_ecommerce_data_warehouse_spark.functions.text import tokens, toks_sql

HEX_DIGITS = "0123456789abcdef"

# MinHash parameters: K hash functions in B bands of R rows (K = B*R).
MINHASH_K = 16
MINHASH_BANDS = 4
MINHASH_ROWS = 4
SHINGLE_N = 3  # word n-gram length of every dedup shingle
SIMHASH_BITS = 32
PREFIX_T = (3, 5)  # prefix-filter Jaccard threshold, an exact rational

# Universal-hash family over one md5-derived base value:
#   h_i(s) = (A[i] * base(s) + C[i]) % MINHASH_P
# base(s) < 2^32 and A[i] < 2^29 keep the product < 2^61 — no BIGINT
# overflow in either engine, so Spark and an ANSI-SQL oracle compute
# bit-identical signatures from plain integer arithmetic.  This costs
# ONE md5 per shingle instead of K.
MINHASH_P = (1 << 31) - 1


def minhash_coeffs() -> tuple[list[int], list[int]]:
    """Deterministic (A, C) multiplier/offset lists shared by the Spark
    plan and the SQL oracle."""
    a = [((i * 2654435761 + 12345) % (1 << 29)) | 1 for i in range(MINHASH_K)]
    c = [(i * 97531 + 7) % MINHASH_P for i in range(MINHASH_K)]
    return a, c


def hex_to_long(col: Column) -> Column:
    """hex-string → BIGINT.  One JVM base-conversion call; the SQL
    oracle computes the identical value with a portable positional
    expansion sum(strpos(ch_j)-1) * 16^(8-j) — same number either
    way for lowercase md5 hex, so hashes stay engine-independent."""
    return F.conv(col, 16, 10).cast("bigint")


def hex2int_sql(hex_expr: str) -> str:
    """THE SQL twin of :func:`hex_to_long` — the single source of the
    positional hex→BIGINT expansion every oracle uses (minhash bases,
    split buckets, gram hashes).  One definition: if the scheme ever
    changes, Spark and every oracle move together instead of three
    hand-rolled copies silently diverging."""
    terms = " + ".join(
        f"(CAST(strpos('0123456789abcdef', substr({hex_expr}, {j}, 1)) AS BIGINT) - 1)"
        f" * {16 ** (8 - j)}"
        for j in range(1, 9)
    )
    return f"({terms})"


TOKS_SQL = toks_sql()  # oracle-side tokenizer twin

# Rolling gram-hash parameters: gram identity = polynomial combination
# of per-TOKEN 32-bit md5-derived hashes (h(t₁)·P + h(t₂), mod-folded
# to stay in int64).  Versus building gram STRINGS and md5-ing each
# (round-2 shape): each token is hashed once instead of appearing in
# ~5 gram strings (2-gram + 3-gram windows), no string concatenation
# at all, and the exploded rows are 8-byte ints — measured 4.1 s →
# 0.75 s for the count pipeline at sf0.1.  Both engines compute the
# identical arithmetic, so the (rare) collision merges the same two
# grams on BOTH sides — results stay hash-equal and the stats remain
# a faithful heuristic.  This is also the library's document
# ROLLING-HASH fingerprint primitive.
GRAM_P = 1_000_003  # multiplier (prime > 2^19)
GRAM_M = 4_294_967_296  # 2^32 fold keeps every product within int64

# Exact-substring (cross-document span) dedup parameters: window
# length in tokens (Lee et al. use 50 on web corpora; 8 here because
# the driver's documents run 15–80 tokens — the criterion, ≥k-token
# verbatim overlap across documents, is the same), and the
# deterministic boilerplate sentence injected into every 5th document
# so the detector has true positives (10 tokens → 3 shared spans per
# injected doc).
SPAN_K = 8
SPAN_BOILER = (
    "subscribe to our newsletter for updates and exclusive offers today"
)

_TH_SQL = f"list_transform({TOKS_SQL}, t -> {hex2int_sql('md5(t)')})"


# ---- Rolling k-gram hashes, one function per engine: ``gramk_expr``
# is the PRODUCTION Spark expression (text_repetition and the quality
# features build on it), ``_gramk_sql`` its DuckDB twin the oracles and
# the cross-engine fuzz test use — one definition per side, so neither
# twin can drift against the other unobserved.

def token_hashes_expr():
    """array<bigint>: 32-bit md5-derived hash per token of ``text``."""
    return token_hashes_from_tokens(tokens("text"))


def token_hashes_from_tokens(toks_col: Column | str):
    """:func:`token_hashes_expr` over an already-tokenized
    array<string> column (the shared-scan shape — tokenize once,
    derive every hash stream from the persisted token table)."""
    c = toks_col if isinstance(toks_col, Column) else F.col(toks_col)
    return F.transform(c, lambda t: hex_to_long(F.substring(F.md5(t), 1, 8)))


def _combine(a, b):
    return (a * GRAM_P) % GRAM_M + b


def gramk_expr(th_col, k: int):
    """k-window rolling hashes (k ≥ 2) of a token-hash array column:
    k−1 chained ``zip_with`` folds over shifted slices, intermediate
    steps mod-folded to stay in int64, all codegen'd JVM expressions
    (no interpreted per-window lambdas, no gram strings).  Slice
    bounds use greatest() so short arrays yield EMPTY."""
    if k < 2:
        raise ValueError("gramk_expr: k must be >= 2")
    n_th = F.size(th_col)
    m = F.greatest(n_th - (k - 1), F.lit(0))
    acc = F.slice(th_col, 1, m)
    for j in range(2, k + 1):
        nxt = F.slice(th_col, j, m)
        if j < k:
            acc = F.zip_with(acc, nxt, lambda a, b: _combine(a, b) % GRAM_M)
        else:
            acc = F.zip_with(acc, nxt, _combine)
    return acc


def _gramk_sql(th: str, k: int) -> str:
    """SQL twin of :func:`gramk_expr` (DuckDB list_zip/list_transform
    fold over the same shifted slices — ``list_zip`` pads to the
    LONGEST input, so every slice is cut to the same m elements)."""
    if k < 2:
        raise ValueError("_gramk_sql: k must be >= 2")

    def sl(j: int) -> str:
        # elements j .. len-(k-j): exactly m = len-k+1 per slice
        return f"{th}[{j}:greatest(len({th}) - {k - j}, 0)]"

    acc = sl(1)
    for j in range(2, k + 1):
        inner = f"((p[1] * {GRAM_P}) % {GRAM_M} + p[2])"
        if j < k:
            inner += f" % {GRAM_M}"
        acc = f"list_transform(list_zip({acc}, {sl(j)}), p -> {inner})"
    return acc



def shingles(col: Column | str) -> Column:
    """Distinct word ``SHINGLE_N``-gram shingles as array<string>
    (space-joined; set membership).

    Built as n−1 chained ``zip_with`` concats over shifted slices of
    the token array (the same fold shape as ``plans.text.gramk_expr``)
    rather than ``transform(sequence(...), i -> concat_ws(slice(...)))``:
    in the transform formulation the ``toks`` subtree sits INSIDE the
    lambda and re-evaluates (tokenize + regex) once per ELEMENT — the
    zip_with arguments evaluate once per ROW, measured ~2× on the
    shingle-heavy plans.  Output strings are identical.

    Documents with fewer than n tokens yield an EMPTY array (the slice
    length is clamped to ≥ 0)."""
    toks = tokens(col)
    m = F.greatest(F.size(toks) - (SHINGLE_N - 1), F.lit(0))
    acc = F.slice(toks, 1, m)
    for j in range(2, SHINGLE_N + 1):
        acc = F.zip_with(
            acc,
            F.slice(toks, j, m),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    return F.array_distinct(acc)


def shingle_table(docs: DataFrame) -> DataFrame:
    """(doc_id, shingle) exploded distinct-shingle table (STRING
    shingles — the readable/debuggable form; production dedup plans
    use :func:`shingle_hash_table`)."""
    return docs.select("doc_id", F.explode(shingles("text")).alias("shingle"))


def shingle_hash_table(docs: DataFrame) -> DataFrame:
    """(doc_id, shingle) exploded distinct-shingle table with INT
    shingle identity: the 32-bit-folded rolling n-gram hash of
    per-token hashes (``gramk_expr % GRAM_M``) instead of the joined
    string — no shingle strings are ever built, each token is hashed
    once per document, and every downstream shuffle (frequency agg,
    prefix join, LSH bands, Jaccard arrays) carries 8-byte ints.
    Collision note: identity is 32-bit, the same class as the md5
    substring base the string path derived anyway; a collision merges
    the same two shingles in BOTH engines (identical arithmetic), so
    results stay hash-equal and Jaccard remains a faithful estimate.
    The token-hash array lands in a projected column before the fold
    (slices re-evaluate a raw expression k times — measured 8×)."""
    th = docs.select("doc_id", token_hashes_expr().alias("__th"))
    grams = F.transform(gramk_expr("__th", SHINGLE_N), lambda x: x % GRAM_M)
    return th.select("doc_id", F.explode(F.array_distinct(grams)).alias("shingle"))


# Murmur-style 32-bit finalizer applied to INT shingle ids before the
# MinHash universal-hash family: the rolling gram hash is STRUCTURED
# (a polynomial in token hashes — low bits dominated by the last
# token), and an affine family h_i(x) = (A_i·x + C_i) mod P over a
# structured x loses the near-pairwise-independence LSH banding needs
# (observed: one injected near-dup pair missed all 4 bands that the
# md5 base caught).  Two xorshift+multiply rounds (odd multipliers
# < 2^31, so every product stays inside int64 in BOTH engines)
# decorrelate the bits; parity Python↔DuckDB↔Spark is fuzz-tested.
_MIX_M1 = 2143378733  # 0x7FEB352D (lowbias32-class odd multiplier)
_MIX_M2 = 1935683991  # 0x735A2D97
_MIX_M = 1 << 32


def mix32(col: Column) -> Column:
    """32-bit integer finalizer (see _MIX_* notes) over a [0, 2^32)
    BIGINT column — all codegen'd int ops, no md5."""
    x = col.bitwiseXOR(F.shiftright(col, 16))
    x = (x * F.lit(_MIX_M1)) % F.lit(_MIX_M)
    x = x.bitwiseXOR(F.shiftright(x, 13))
    x = (x * F.lit(_MIX_M2)) % F.lit(_MIX_M)
    return x.bitwiseXOR(F.shiftright(x, 16))


def mix32_sql_expr(x: str) -> str:
    """EXPRESSION-form SQL twin of :func:`mix32`, usable inside list
    lambdas (the subquery form ``mix32_based_sql`` can't be).  Inlining
    duplicates each stage's input (the final xor references s4 twice,
    s4 references s3 twice, …) so ``x`` appears 8× — ~30 integer ops
    per evaluation, still trivial per element.  Keep ``x`` a simple
    variable/column reference, not a heavy subexpression."""
    s1 = f"xor({x}, ({x} >> 16))"
    s2 = f"(({s1}) * CAST({_MIX_M1} AS BIGINT)) % {_MIX_M}"
    s3 = f"xor({s2}, (({s2}) >> 13))"
    s4 = f"(({s3}) * CAST({_MIX_M2} AS BIGINT)) % {_MIX_M}"
    return f"xor({s4}, (({s4}) >> 16))"


def mix32_based_sql() -> str:
    """SQL twin of :func:`mix32` as a FROM-able subquery over
    ``sh(doc_id, shingle)`` → (doc_id, b): staged selects so each
    intermediate evaluates once."""
    return f"""(
        SELECT doc_id, xor(s4, (s4 >> 16)) AS b FROM (
        SELECT doc_id, (s3 * CAST({_MIX_M2} AS BIGINT)) % {_MIX_M} AS s4 FROM (
        SELECT doc_id, xor(s2, (s2 >> 13)) AS s3 FROM (
        SELECT doc_id, (s1 * CAST({_MIX_M1} AS BIGINT)) % {_MIX_M} AS s2 FROM (
        SELECT doc_id, xor(shingle, (shingle >> 16)) AS s1 FROM sh)))))"""


def shingle_hash_sql() -> str:
    """SQL twin of :func:`shingle_hash_table` over the ``corrupted``
    relation (FROM-clause fragment)."""
    return f"""
    SELECT doc_id,
           unnest(list_distinct(list_transform({_gramk_sql("th", SHINGLE_N)}, x -> x % {GRAM_M}))) AS shingle
    FROM (SELECT doc_id, {_TH_SQL} AS th FROM corrupted)
"""


def minhash_band_signatures(sh: DataFrame) -> DataFrame:
    """(doc_id, band, sig): per-doc MinHash signature split into LSH
    bands, where hash_i(s) = (A[i]*base(s) + C[i]) % P over ONE
    md5-derived 32-bit base per shingle (see MINHASH_A/C/P) — portable
    and 16× fewer md5 calls than hashing per (i, shingle).

    Single-shuffle formulation: ONE groupBy(doc_id) with k independent
    ``MIN((A[i]*base + C[i]) % P)`` aggregates.  All k minimums run
    inside whole-stage codegen with map-side partial aggregation — the
    shuffle carries one k-column row per (doc, map partition), not the
    per-shingle hash vectors.  The previous formulation buffered a
    ``collect_list`` of per-shingle 16-element arrays and folded them
    with Catalyst higher-order lambdas (``aggregate``/``zip_with``),
    which evaluate INTERPRETED per element — measured ~10× slower and
    the bulk of round-1's 30 s ``dedup_minhash_lsh``.  The naive shape
    (explode ×k → groupBy(doc,i) → groupBy(doc,band)) is worse still:
    k× the shuffled rows through two wide stages.

    Shingle-type aware: INT shingles (``shingle_hash_table`` — already
    32-bit uniform) are the base directly; STRING shingles get the
    md5-substring base.  Both keep base < 2^32, so A[i]·base stays
    inside int64 in either engine."""
    coeff_a, coeff_c = minhash_coeffs()
    if dict(sh.dtypes).get("shingle") in ("bigint", "int", "long"):
        base = mix32(F.col("shingle"))
    else:
        base = hex_to_long(F.substring(F.md5(F.col("shingle")), 1, 8))
    per_doc = (
        sh.select("doc_id", base.alias("__base"))
        .groupBy("doc_id")
        .agg(
            *[
                F.min(
                    (F.lit(coeff_a[i]) * F.col("__base") + F.lit(coeff_c[i]))
                    % F.lit(MINHASH_P)
                ).alias(f"__mh{i}")
                for i in range(MINHASH_K)
            ]
        )
        .select(
            "doc_id", F.array(*[F.col(f"__mh{i}") for i in range(MINHASH_K)]).alias("mh_arr")
        )
    )
    sig = F.md5(
        F.concat_ws(
            "|",
            F.transform(
                F.slice("mh_arr", F.col("band") * MINHASH_ROWS + 1, MINHASH_ROWS),
                lambda m: m.cast("string"),
            ),
        )
    )
    return (
        per_doc.select(
            "doc_id",
            F.explode(F.sequence(F.lit(0), F.lit(MINHASH_BANDS - 1))).alias("band"),
            "mh_arr",
        )
        .select("doc_id", "band", sig.alias("sig"))
    )


def prefix_filter_candidates(sh: DataFrame) -> DataFrame:
    """Exact prefix-filtered candidate pairs for Jaccard ≥ t_num/t_den
    = ``PREFIX_T`` (PPJoin/All-Pairs prefix principle, Bayardo WWW'07).

    Under ANY global total order of shingles, two sets with
    J(A,B) ≥ t must share an element within each other's first
    |S| - ⌈t·|S|⌉ + 1 elements — so joining only on those prefixes
    loses NO qualifying pair.  Ordering by ascending document
    frequency puts the *rarest* shingles in the prefixes, which is
    what kills the quadratic blowup of common shingles in a naive
    shingle self-join.  The threshold is a rational (3/5) and
    ⌈t·n⌉ is computed in integer arithmetic — float ceil(0.6·5) =
    ceil(3.0000000000000004) = 4 would silently shrink the prefix and
    drop true pairs.

    Returns distinct (doc_a < doc_b) candidates; callers verify with
    exact Jaccard (``jaccard_on_pairs``)."""
    from pyspark.sql import Window

    t_num, t_den = PREFIX_T

    # Doc-frequency ranking: the freq table is a partial-aggregated
    # groupBy (output = |distinct shingles|, far smaller than the
    # shingle table) BROADCAST back onto the shingles — the shingle
    # table itself never shuffles for the frequency attach.  Per-doc
    # size rides the SAME doc_id window shuffle as the rank (a window
    # COUNT over the identical partitioning — one Exchange, two Window
    # execs) instead of a separate groupBy + join.  Net: one tiny agg
    # shuffle + one doc_id shuffle, vs round-1's four full-table
    # shuffles (freq join, rank window, sizes agg, sizes join).
    # A shingle-partitioned window COUNT was tried and is WORSE: no
    # partial agg, and boilerplate shingles skew the partitions.
    # At corpus scales where the distinct-shingle freq table outgrows
    # broadcast (~10s of GB), drop the hint: the optimizer falls back
    # to a shuffle join and the algorithm is unchanged.
    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("__df"))
    order = Window.partitionBy("doc_id").orderBy("__df", "shingle")
    # p = n - ceil(t*n) + 1, with ceil(t_num*n/t_den) = (t_num*n + t_den-1) div t_den
    p = (
        F.col("__n_sh")
        - F.floor((F.lit(t_num) * F.col("__n_sh") + F.lit(t_den - 1)) / F.lit(t_den))
        + 1
    )
    prefix = (
        sh.join(F.broadcast(freq), "shingle")
        .withColumn("__n_sh", F.count(F.lit(1)).over(Window.partitionBy("doc_id")))
        .withColumn("__rn", F.row_number().over(order))
        .filter(F.col("__rn") <= p)
        # a df=1 shingle occurs in exactly one doc — it can rank inside
        # a prefix (rare-first ordering favors it) but can never match
        # a DIFFERENT doc in the self-join, so drop it from the join
        # inputs.  Lossless, and it removes the long tail of unique
        # shingles that dominates prefix volume on natural text.  (The
        # rank __rn was already assigned OVER the full prefix, so the
        # positional bound below is unchanged.)
        .filter(F.col("__df") >= 2)
        .select("doc_id", "shingle", "__n_sh", "__rn")
    )
    a = prefix.alias("a")
    b = prefix.alias("b")
    # size filter: J(A,B) ≥ t forces t·|A| ≤ |B| ≤ |A|/t — integer
    # cross-multiplied so no float compare can flip at the boundary
    size_ok = (F.lit(t_den) * F.col("b.__n_sh") >= F.lit(t_num) * F.col("a.__n_sh")) & (
        F.lit(t_den) * F.col("a.__n_sh") >= F.lit(t_num) * F.col("b.__n_sh")
    )
    # PPJoin positional filter: J ≥ t needs overlap ≥ α =
    # ⌈t/(1+t)·(|A|+|B|)⌉, and a match at prefix ranks (i, j) bounds
    # the overlap by min(|A|−i, |B|−j)+1 (everything ranked after the
    # matched shingle, plus itself).  LOSSLESS for the pair: the FIRST
    # common shingle in the global rank order has every other common
    # shingle ranked after it in both docs, so its bound ≥ true overlap
    # ≥ α — that match always survives.  Integer cross-multiplied:
    # bound ≥ ⌈t_num·(na+nb)/(t_num+t_den)⌉ ⟺ (t_num+t_den)·bound ≥
    # t_num·(na+nb).  Cuts candidates ~2× on boilerplate-heavy corpora
    # at zero recall cost.
    pos_ok = F.lit(t_num + t_den) * (
        F.least(
            F.col("a.__n_sh") - F.col("a.__rn"), F.col("b.__n_sh") - F.col("b.__rn")
        )
        + 1
    ) >= F.lit(t_num) * (F.col("a.__n_sh") + F.col("b.__n_sh"))
    return (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & size_ok
            & pos_ok,
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def lsh_candidate_pairs(bands_df: DataFrame) -> DataFrame:
    """Distinct (doc_a < doc_b) pairs colliding in ≥1 band — the LSH
    equi-join that replaces all-pairs comparison."""
    a = bands_df.alias("a")
    b = bands_df.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def jaccard_on_pairs(pairs: DataFrame, sh: DataFrame) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs via per-doc
    shingle arrays + ``array_intersect``.

    One groupBy builds (doc_id, sorted shingle array, size); two
    narrow joins attach both arrays to each pair; the intersection is
    a per-row JVM set operation.  Compared to the pair×shingle
    equi-join shape this removes the candidate-count × shingles-per-doc
    row blowup (a 400k-pair verify would otherwise shuffle ~20M rows).
    Per-doc arrays are bounded by document length, so executor memory
    stays flat at any corpus size."""
    sets = sh.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("shingle")).alias("arr"),
        F.count(F.lit(1)).alias("n_sh"),
    )
    pa = sets.select(
        F.col("doc_id").alias("doc_a"), F.col("arr").alias("a_arr"), F.col("n_sh").alias("n_a")
    )
    pb = sets.select(
        F.col("doc_id").alias("doc_b"), F.col("arr").alias("b_arr"), F.col("n_sh").alias("n_b")
    )
    n_inter = F.size(F.array_intersect("a_arr", "b_arr")).cast("bigint")
    # shuffle-hash, not sort-merge: the build side carries the shingle
    # arrays, and SMJ would sort those wide rows on both joins — the
    # dominant (and unstable) cost at every scale.  Hash join on the
    # bigint doc key never touches the array payload.
    return (
        pairs.join(pa.hint("shuffle_hash"), "doc_a")
        .join(pb.hint("shuffle_hash"), "doc_b")
        .withColumn("n_inter", n_inter)
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("n_inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double")
            ).alias("jaccard"),
        )
    )


def simhash_table(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash): SimHash signatures via explode + hash-agg.

    Per-token 32-bit hash (portable md5-derived), signed bit votes,
    sign → bit, assembled into a BIGINT — shaped for throughput: tokens
    explode to rows, the per-bit signed votes are ``SIMHASH_BITS`` conditional
    SUM aggregates (all whole-stage-codegen'd, map-side partial agg),
    and the signature assembles in one final projection.  A
    column-expression formulation walks Catalyst higher-order lambdas,
    which are evaluated *interpreted* per element — ~10× slower on
    wide corpora."""
    tok = docs.select("doc_id", F.explode(tokens("text")).alias("token"))
    h = hex_to_long(F.substring(F.md5(F.col("token")), 1, 8))
    votes = [
        F.sum(
            F.when(h.bitwiseAND(F.lit(1 << j).cast("bigint")) != 0, 1).otherwise(-1)
        ).alias(f"__v{j}")
        for j in range(SIMHASH_BITS)
    ]
    sig = sum(
        [F.when(F.col(f"__v{j}") > 0, F.lit(2**j).cast("bigint")).otherwise(F.lit(0).cast("bigint")) for j in range(SIMHASH_BITS)],
        start=F.lit(0).cast("bigint"),
    )
    return tok.groupBy("doc_id").agg(*votes).select("doc_id", sig.alias("simhash"))
