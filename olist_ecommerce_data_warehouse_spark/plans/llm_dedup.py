"""Near-duplicate dedup plans (extension tier: exact, n-gram Jaccard,
MinHash+LSH, SimHash — the LLM-corpus dedup family).

The driver's ``documents`` table has no duplicates, so each plan
injects them deterministically: exact copies (mod-3 doc_ids,
whitespace-padded) and near-duplicates (mod-5 doc_ids with the first
two tokens dropped), offset into a disjoint id range.  The oracle
performs the identical injection, so the comparison exercises the
dedup operator itself.

Signature portability: all hash values derive from md5 hex via an
explicit positional hex→int expansion (operators.textdedup.hex_to_long
⇔ ``hex2int_sql``) and the shared rolling gram-hash folds, so Spark
and DuckDB compute bit-identical shingle ids and MinHash/SimHash
signatures.  Shingle identity is the INT rolling 3-gram hash
(``shingle_hash_table`` — round 4): no shingle strings anywhere, every
dedup shuffle carries 8-byte ints.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from olist_ecommerce_data_warehouse_spark.catalog import table
from olist_ecommerce_data_warehouse_spark.functions.text import fingerprint_md5, tokens, toks_sql
from olist_ecommerce_data_warehouse_spark.functions.url import (
    canonical_url_sql,
    canonicalize_url,
)
from olist_ecommerce_data_warehouse_spark.operators.textdedup import (
    MINHASH_K,
    hex2int_sql,
    MINHASH_P,
    MINHASH_ROWS,
    jaccard_on_pairs,
    lsh_candidate_pairs,
    minhash_band_signatures,
    minhash_coeffs,
    mix32_based_sql,
    prefix_filter_candidates,
    shingle_hash_sql,
    shingle_hash_table,
    simhash_table,
)
from olist_ecommerce_data_warehouse_spark.plans.registry import query, track_persist

# ---------------------------------------------------------------- corruption

NEARDUP_SQL = f"""
    SELECT doc_id + 100000 AS doc_id,
           array_to_string(({toks_sql()})[3:], ' ') AS text
    FROM documents WHERE doc_id % 5 = 0
"""

CORRUPTED_SQL = f"""
    SELECT doc_id, text FROM documents
    UNION ALL {NEARDUP_SQL}
"""


def _near_dups(docs: DataFrame) -> DataFrame:
    toks = tokens("text")
    return docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat_ws(" ", F.slice(toks, 3, F.greatest(F.size(toks), F.lit(3)))).alias("text"),
    )


def _corrupted(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    # the documents table is a single small file (1-2 scan partitions)
    # but every downstream plan runs CPU-heavy per-doc transforms
    # (tokenize/shingle/hash) — spread the rows across all cores
    # first.  At 100 TB the scan is already wide and AQE would keep
    # this a no-op-sized shuffle of raw text.
    return docs.unionAll(_near_dups(docs)).repartition(
        spark.sparkContext.defaultParallelism
    )


# the oracle's minhash constants come from the SAME Python source as
# the Spark plan's (operators.textdedup.minhash_coeffs)
_A, _C = minhash_coeffs()
_COEFF_VALUES = ", ".join(f"({i}, {_A[i]}, {_C[i]})" for i in range(MINHASH_K))

TOKS = toks_sql()
# INT shingle identity (rolling 3-gram hash of token hashes, 32-bit
# folded) — ONE definition with the Spark side (operators.textdedup
# shingle_hash_table / shingle_hash_sql): no shingle strings anywhere,
# every dedup shuffle carries 8-byte ints.
SHINGLES_SQL = shingle_hash_sql()


# ---------------------------------------------------------------- exact dedup

# Deterministic MESSY URL per document for the kind='url' branch: the
# documents table has no URL column, so one is derived from
# (source, doc_id) with every canonicalization hazard injected —
# uppercase scheme/host, www. prefix, default ports, trailing slash,
# scrambled + tracking-polluted query, fragment.  Docs sharing
# (source, doc_id parity, doc_id mod 50) canonicalize to the SAME URL
# and must collapse.  The SQL twin below is the same derivation
# verbatim, so the oracle exercises canonical_url_sql against
# canonicalize_url on identical inputs (the NEARDUP_SQL injection
# discipline applied to URLs).
_MESSY_URL_SQL = """
    CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'HTTP' END || '://'
    || CASE WHEN doc_id % 3 = 0 THEN 'WWW.' || upper(source) || '.com'
            ELSE source || '.com' END
    || CASE WHEN doc_id % 5 = 0 THEN
            CASE WHEN doc_id % 2 = 0 THEN ':443' ELSE ':80' END
       ELSE '' END
    || '/item/' || CAST(doc_id % 50 AS VARCHAR)
    || CASE WHEN doc_id % 7 = 0 THEN '/' ELSE '' END
    || CASE WHEN doc_id % 2 = 0 THEN '?b=2&utm_source=feed&a=1'
            ELSE '?a=1&b=2&gclid=x' END
    || CASE WHEN doc_id % 11 = 0 THEN '#frag' ELSE '' END
"""


def _messy_url() -> F.Column:
    """Spark twin of _MESSY_URL_SQL (over doc_id, source columns)."""
    d = F.col("doc_id")
    return F.concat(
        F.when(d % 2 == 0, F.lit("https")).otherwise(F.lit("HTTP")),
        F.lit("://"),
        F.when(
            d % 3 == 0,
            F.concat(F.lit("WWW."), F.upper(F.col("source")), F.lit(".com")),
        ).otherwise(F.concat(F.col("source"), F.lit(".com"))),
        F.when(
            d % 5 == 0,
            F.when(d % 2 == 0, F.lit(":443")).otherwise(F.lit(":80")),
        ).otherwise(F.lit("")),
        F.lit("/item/"),
        (d % 50).cast("string"),
        F.when(d % 7 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(d % 2 == 0, F.lit("?b=2&utm_source=feed&a=1")).otherwise(
            F.lit("?a=1&b=2&gclid=x")
        ),
        F.when(d % 11 == 0, F.lit("#frag")).otherwise(F.lit("")),
    )


@query(
    "dedup_exact",
    oracle=f"""
    WITH corrupted AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 200000, '  ' || text || ' '
        FROM documents WHERE doc_id % 3 = 0
    )
    SELECT 'content' AS kind,
           md5(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS fp,
           MIN(doc_id) AS keeper_doc_id,
           COUNT(*) AS n_copies
    FROM corrupted
    GROUP BY 2
    UNION ALL
    SELECT 'url' AS kind,
           {canonical_url_sql(f"({_MESSY_URL_SQL})")} AS fp,
           MIN(doc_id) AS keeper_doc_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY 2
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup, two kinds sharing one output shape (the
    events_windows discriminator device):

    kind='content' — hash-groupBy on the normalized content
    fingerprint, keep the lowest doc_id; whitespace-padded copies
    collapse onto their originals.
    kind='url' — URL-level dedup (C4/CCNet/RefinedWeb stage 1):
    group by ``canonicalize_url`` over deterministically-derived messy
    URLs (see _MESSY_URL_SQL) — scheme/host case, default ports,
    www., trailing slashes, tracking params and fragments all collapse.

    Both branches are one shuffle on the dedup key with map-side
    partial agg — the 100 TB-safe shape; URL canonicalization itself
    is pure codegen string ops at scan speed."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "text", "source")
    padded = docs.filter(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(F.lit("  "), F.col("text"), F.lit(" ")).alias("text"),
    )
    content = (
        docs.select("doc_id", "text")
        .unionAll(padded)
        .groupBy(fingerprint_md5("text").alias("fp"))
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count(F.lit(1)).alias("n_copies"))
        .select(F.lit("content").alias("kind"), "fp", "keeper_doc_id", "n_copies")
    )
    url = (
        docs.select("doc_id", _messy_url().alias("u"))
        .groupBy(canonicalize_url("u").alias("fp"))
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count(F.lit(1)).alias("n_copies"))
        .select(F.lit("url").alias("kind"), "fp", "keeper_doc_id", "n_copies")
    )
    return content.unionAll(url)


# ----------------------------------------------------------- n-gram Jaccard


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH corrupted AS ({CORRUPTED_SQL}),
    sh AS ({SHINGLES_SQL}),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           CAST(n_inter AS DOUBLE) / (za.n_sh + zb.n_sh - n_inter) AS jaccard
    FROM inter
    JOIN sizes za ON inter.doc_a = za.doc_id
    JOIN sizes zb ON inter.doc_b = zb.doc_id
    WHERE CAST(n_inter AS DOUBLE) / (za.n_sh + zb.n_sh - n_inter) >= 0.6
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup detection by exact 3-gram shingle Jaccard ≥ 0.6 (= 3/5).

    Candidate generation is PPJoin-style prefix filtering (provably no
    false negatives — operators.textdedup.prefix_filter_candidates),
    then exact Jaccard verification on candidates only.  A naive
    shingle self-join is quadratic in the per-shingle document
    frequency — boilerplate shingles alone make it explode at corpus
    scale; the rare-first prefix join is the shape that survives
    100 TB.  The oracle stays the ground-truth all-pairs join, so the
    hash match also proves the prefix filter loses nothing."""
    corrupted = _corrupted(spark, sf_dir)
    # the shingle table feeds the frequency ranking, the candidate
    # join AND the verification stage — persist once instead of
    # re-tokenizing/exploding every document per branch.  Tracked
    # persist, not localCheckpoint: lineage stays intact, so block
    # loss at cluster scale recomputes instead of failing the job.
    sh = track_persist(shingle_hash_table(corrupted))
    cand = prefix_filter_candidates(sh)
    return jaccard_on_pairs(cand, sh).filter(F.col("jaccard") >= 0.6)


# ------------------------------------------------------------- MinHash + LSH


@query(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH corrupted AS ({CORRUPTED_SQL}),
    sh AS ({SHINGLES_SQL}),
    based AS (
        SELECT doc_id, b FROM {mix32_based_sql()}
    ),
    mh AS (
        SELECT doc_id, ks.i AS i, MIN((ks.a * b + ks.c) % {MINHASH_P}) AS mh
        FROM based CROSS JOIN (VALUES {_COEFF_VALUES}) ks(i, a, c)
        GROUP BY doc_id, ks.i
    ),
    bands AS (
        SELECT doc_id, i // {MINHASH_ROWS} AS band,
               md5(string_agg(CAST(mh AS VARCHAR), '|' ORDER BY i)) AS sig
        FROM mh GROUP BY doc_id, i // {MINHASH_ROWS}
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
        SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
        FROM cand c
        JOIN sh a ON a.doc_id = c.doc_a
        JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
        GROUP BY 1, 2
    )
    SELECT i.doc_a, i.doc_b,
           CAST(n_inter AS DOUBLE) / (za.n_sh + zb.n_sh - n_inter) AS jaccard
    FROM inter i
    JOIN sizes za ON i.doc_a = za.doc_id
    JOIN sizes zb ON i.doc_b = zb.doc_id
    WHERE CAST(n_inter AS DOUBLE) / (za.n_sh + zb.n_sh - n_inter) >= 0.5
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pipeline — the 100 TB scale path:
    shingle → 16 portable minhashes → 4-band signatures → equi-join on
    (band, sig) for candidates → exact Jaccard verification ≥ 0.5 on
    candidates only.  All-pairs never materializes; the only wide ops
    are groupBys on doc_id and the banded equi-join."""
    corrupted = _corrupted(spark, sf_dir)
    # reused by minhash signatures AND the verification stage — one
    # fault-tolerant tracked persist of the exploded shingles
    sh = track_persist(shingle_hash_table(corrupted))
    bands = minhash_band_signatures(sh)
    cand = lsh_candidate_pairs(bands)
    return jaccard_on_pairs(cand, sh).filter(F.col("jaccard") >= 0.5)


# ------------------------------------------------------------------ SimHash


@query(
    "dedup_simhash",
    oracle=f"""
    WITH corrupted AS ({CORRUPTED_SQL}),
    tok AS (
        SELECT doc_id, unnest({TOKS}) AS token FROM corrupted
    ),
    th AS (
        SELECT doc_id, substr(md5(token), 1, 8) AS h FROM tok
    ),
    votes AS (
        SELECT doc_id, bits.j AS j,
               SUM((({hex2int_sql("h")} >> bits.j) % 2) * 2 - 1) AS vote
        FROM th CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS j) bits
        GROUP BY doc_id, bits.j
    ),
    sig AS (
        SELECT doc_id,
               CAST(SUM(CASE WHEN vote > 0 THEN CAST(1 AS BIGINT) << j ELSE 0 END)
                    AS BIGINT) AS simhash
        FROM votes GROUP BY doc_id
    )
    SELECT CAST(orig.doc_id AS BIGINT) AS doc_a, CAST(dup.doc_id AS BIGINT) AS doc_b,
           orig.simhash AS simhash_a, dup.simhash AS simhash_b,
           CAST(bit_count(xor(orig.simhash, dup.simhash)) AS BIGINT) AS hamming
    FROM sig orig JOIN sig dup ON dup.doc_id = orig.doc_id + 100000
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash signatures (32-bit, portable md5-derived bit votes over
    the token multiset) + Hamming distance between each original and
    its injected near-duplicate.  Per-doc signature is one narrow
    aggregation — at scale, pairing runs through prefix-bucket banding
    exactly like MinHash bands."""
    corrupted = _corrupted(spark, sf_dir)
    # NOT persisted: the self-join does evaluate the signature subtree
    # twice, but a measured track_persist variant was ~1.5x SLOWER at
    # sf0.1 — the eager materialization barrier + cache write + release
    # GC cost more than the second 0.9s evaluation.  At cluster scale
    # with a fat corpus the trade flips; persist there.
    sig = simhash_table(corrupted)
    orig = sig.alias("o")
    dup = sig.alias("d")
    return orig.join(
        dup, F.col("d.doc_id") == F.col("o.doc_id") + 100000
    ).select(
        F.col("o.doc_id").alias("doc_a"),
        F.col("d.doc_id").alias("doc_b"),
        F.col("o.simhash").alias("simhash_a"),
        F.col("d.simhash").alias("simhash_b"),
        F.bit_count(F.col("o.simhash").bitwiseXOR(F.col("d.simhash"))).cast("bigint").alias("hamming"),
    )


# -------------------------------------------------- duplicate clustering (CC)

PADDED_SQL = """
    SELECT doc_id + 200000 AS doc_id, '  ' || text || ' ' AS text
    FROM documents WHERE doc_id % 3 = 0
"""

# three-way corruption: originals + token-dropped near-dups (mod-5,
# +100000) + whitespace-padded exact copies (mod-3, +200000).  A mod-15
# doc yields a 3-node component reachable only TRANSITIVELY (pad ↔
# neardup have no direct edge) — exactly what pairwise dedup output
# cannot express and component clustering exists to recover.
CORRUPTED_CC_SQL = f"""
    SELECT doc_id, text FROM documents
    UNION ALL {NEARDUP_SQL}
    UNION ALL {PADDED_SQL}
"""


@query(
    "dedup_cluster_cc",
    oracle=f"""
    WITH RECURSIVE corrupted AS ({CORRUPTED_CC_SQL}),
    sh AS ({SHINGLES_SQL}),
    based AS (
        SELECT doc_id, b FROM {mix32_based_sql()}
    ),
    mh AS (
        SELECT doc_id, ks.i AS i, MIN((ks.a * b + ks.c) % {MINHASH_P}) AS mh
        FROM based CROSS JOIN (VALUES {_COEFF_VALUES}) ks(i, a, c)
        GROUP BY doc_id, ks.i
    ),
    bands AS (
        SELECT doc_id, i // {MINHASH_ROWS} AS band,
               md5(string_agg(CAST(mh AS VARCHAR), '|' ORDER BY i)) AS sig
        FROM mh GROUP BY doc_id, i // {MINHASH_ROWS}
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
    ),
    fp AS (
        SELECT doc_id, md5(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS fp
        FROM corrupted
    ),
    exact_pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
    ),
    edges AS (
        SELECT doc_a, doc_b FROM cand
        UNION
        SELECT doc_a, doc_b FROM exact_pairs
    ),
    sym AS (
        SELECT doc_a AS src, doc_b AS dst FROM edges
        UNION
        SELECT doc_b AS src, doc_a AS dst FROM edges
    ),
    comp(doc_id, label) AS (
        SELECT doc_id, doc_id FROM corrupted
        UNION
        SELECT e.dst, c.label FROM comp c JOIN sym e ON e.src = c.doc_id
    ),
    labels AS (SELECT doc_id, MIN(label) AS cluster_rep FROM comp GROUP BY doc_id),
    sizes AS (SELECT cluster_rep, COUNT(*) AS cluster_size FROM labels GROUP BY cluster_rep)
    SELECT l.doc_id, l.cluster_rep, s.cluster_size,
           CASE WHEN l.doc_id = l.cluster_rep THEN 1 ELSE 0 END AS is_keeper
    FROM labels l JOIN sizes s ON l.cluster_rep = s.cluster_rep
    """,
)
def dedup_cluster_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-GROUP recovery: connected components over the union of
    exact-duplicate pairs (content-fingerprint equality) and MinHash-LSH
    candidate pairs, then one keeper (component-minimum doc_id) per
    cluster.

    Pairwise near-dup output alone cannot drive deletion — duplicates
    chain (A≈B, B≈C without A≈C surfacing), and dropping "the second
    doc of every pair" both over- and under-deletes.  The industry-
    standard fix (Lee et al., "Deduplicating Training Data Makes
    Language Models Better", ACL'22 — their suffix/MinHash stages both
    end in component grouping) is exactly this plan: pairs → undirected
    graph → connected components → keep min-id doc per component.

    Scale shape: edges come from the LSH band equi-join (no all-pairs)
    + a fingerprint hash-aggregate self-join (groups are tiny);
    components come from ``operators.graph.connected_components`` —
    per-round one equi-join + one min-aggregation, both shuffling on
    the vertex id, rounds bounded by component diameter (near-dup
    clusters are pairs/triples, so 2-3 rounds).  The oracle recomputes
    the identical clustering with a recursive CTE, proving the
    iterative DataFrame loop equals the declarative fixpoint."""
    from olist_ecommerce_data_warehouse_spark.operators.graph import connected_components

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    padded = docs.filter(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(F.lit("  "), F.col("text"), F.lit(" ")).alias("text"),
    )
    corrupted = (
        docs.unionAll(_near_dups(docs))
        .unionAll(padded)
        .repartition(spark.sparkContext.defaultParallelism)
    )
    # one tracked persist feeds BOTH edge generators and the vertex set
    corrupted = track_persist(corrupted)

    sh = shingle_hash_table(corrupted)
    cand = lsh_candidate_pairs(minhash_band_signatures(sh))

    fps = corrupted.select("doc_id", fingerprint_md5("text").alias("fp"))
    a, b = fps.alias("a"), fps.alias("b")
    exact_pairs = (
        a.join(b, (F.col("a.fp") == F.col("b.fp")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
    )

    # no distinct on the edge union: connected_components tolerates
    # parallel edges (min-agg semantics), and the dedup shuffle would
    # cost more than the duplicate messages it removes
    edges = cand.unionByName(exact_pairs)
    # CC runs on edge endpoints only (the dup subgraph — a sliver of
    # the corpus); sizes/keepers are decorated on that small set, and
    # the corpus-wide path is ONE anti-join producing fully-formed
    # singleton rows (self-cluster: size 1, keeper).  At 100 TB this
    # keeps every per-round shuffle proportional to |duplicates|, not
    # |corpus|.
    labels = track_persist(
        connected_components(
            edges.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        ),
        # eager=False: the label blocks are already materialized by the
        # loop's last convergence action — registering ownership must
        # not cost another job
        eager=False,
    ).select(F.col("id").alias("doc_id"), F.col("component").alias("cluster_rep"))
    sizes = labels.groupBy("cluster_rep").agg(F.count(F.lit(1)).alias("cluster_size"))
    clustered = labels.join(sizes, "cluster_rep").select(
        "doc_id",
        "cluster_rep",
        "cluster_size",
        F.when(F.col("doc_id") == F.col("cluster_rep"), 1).otherwise(0).alias("is_keeper"),
    )
    singles = (
        corrupted.select("doc_id")
        .join(labels.select("doc_id"), "doc_id", "left_anti")
        .select(
            "doc_id",
            F.col("doc_id").alias("cluster_rep"),
            F.lit(1).cast("bigint").alias("cluster_size"),
            F.lit(1).alias("is_keeper"),
        )
    )
    return clustered.unionByName(singles)
