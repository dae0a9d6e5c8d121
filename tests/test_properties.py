"""Property-based tests (hypothesis) for the invariants whose failure
modes are silent: prefix-filter candidate generation must NEVER drop a
true near-dup pair (a lost pair is undetectable downstream), and the
scalable surrogate-key numbering must be exactly the single-window
numbering for arbitrary key distributions (negative, clustered,
string)."""

from __future__ import annotations

from itertools import combinations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from olist_ecommerce_data_warehouse_spark.operators.surrogate import (
    add_surrogate_key,
    add_surrogate_key_simple,
)
from olist_ecommerce_data_warehouse_spark.operators.textdedup import (
    jaccard_on_pairs,
    prefix_filter_candidates,
    shingle_table,
)

_SETTINGS = settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

_VOCAB = ["alpha", "bravo", "cat", "dog", "echo", "fox", "gum", "hat"]


def _py_shingles(toks: list[str], n: int = 3) -> set[str]:
    """Python twin of operators.textdedup.shingles (distinct word
    n-grams, space-joined)."""
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


@_SETTINGS
@given(
    docs=st.lists(
        st.lists(st.sampled_from(_VOCAB), min_size=3, max_size=10),
        min_size=2,
        max_size=7,
    )
)
def test_prefix_filter_pipeline_equals_ground_truth(spark, docs):
    """End-to-end: candidates ⊇ every true pair with J ≥ 3/5, and the
    verified output equals the brute-force ground truth exactly —
    including pairs at exactly the 0.6 boundary (the float-ceil trap)."""
    sets = {i: _py_shingles(t) for i, t in enumerate(docs)}
    truth = {}
    for a, b in combinations(sorted(sets), 2):
        sa, sb = sets[a], sets[b]
        if not sa or not sb:
            continue
        inter = len(sa & sb)
        union = len(sa | sb)
        # integer cross-multiplication, no float: J >= 3/5
        if 5 * inter >= 3 * union:
            truth[(a, b)] = inter / union
    df = spark.createDataFrame(
        [(i, " ".join(t)) for i, t in enumerate(docs)], "doc_id long, text string"
    )
    sh = shingle_table(df)
    cand = {
        (r["doc_a"], r["doc_b"])
        for r in prefix_filter_candidates(sh).collect()
    }
    assert set(truth) <= cand, f"prefix filter dropped true pairs: {set(truth) - cand}"
    verified = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in jaccard_on_pairs(
            prefix_filter_candidates(sh), sh
        )
        .filter(F.col("jaccard") >= 0.6)
        .collect()
    }
    assert verified == {k: v for k, v in truth.items()}, (verified, truth)


@given(
    docs=st.lists(
        st.lists(st.sampled_from(_VOCAB), min_size=0, max_size=10).map(" ".join),
        min_size=1,
        max_size=8,
    )
)
@_SETTINGS
def test_int_shingles_equal_string_shingles_pipeline(spark, docs):
    """The INT rolling-hash shingle path (production) and the STRING
    shingle path must drive the dedup pipeline identically: same
    per-doc shingle COUNTS, same MinHash band signatures collision
    structure, same LSH candidate pair set — on any corpus small
    enough that 32-bit collisions are impossible, the two
    representations are isomorphic."""
    from olist_ecommerce_data_warehouse_spark.operators.textdedup import (
        lsh_candidate_pairs,
        minhash_band_signatures,
        shingle_hash_table,
        shingle_table,
    )

    df = spark.createDataFrame(
        list(enumerate(docs)), "doc_id long, text string"
    )
    sh_s = shingle_table(df)
    sh_i = shingle_hash_table(df)
    counts_s = {r["doc_id"]: r["n"] for r in sh_s.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n")).collect()}
    counts_i = {r["doc_id"]: r["n"] for r in sh_i.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert counts_s == counts_i
    pairs_s = {(r["doc_a"], r["doc_b"]) for r in lsh_candidate_pairs(minhash_band_signatures(sh_s)).collect()}
    pairs_i = {(r["doc_a"], r["doc_b"]) for r in lsh_candidate_pairs(minhash_band_signatures(sh_i)).collect()}
    # signatures differ (different base hash family inputs) but the
    # COLLISION STRUCTURE they induce on identical shingle sets must:
    # identical docs collide in every band under both schemes
    ident = {
        (a, b)
        for a in counts_s
        for b in counts_s
        if a < b and docs[a].split() and docs[a] == docs[b]
    }
    assert ident <= pairs_s and ident <= pairs_i


@given(xs=st.lists(st.integers(0, 2**32 - 1), min_size=1, max_size=30))
@_SETTINGS
def test_mix32_cross_engine_parity(spark, ddb, xs):
    """The minhash base finalizer (mix32) must be bit-identical across
    Python, Spark and DuckDB for any 32-bit input — LSH banding
    correctness rests on both engines mixing the structured rolling
    hashes the same way."""
    from olist_ecommerce_data_warehouse_spark.operators.textdedup import (
        _MIX_M1,
        _MIX_M2,
        mix32,
        mix32_based_sql,
    )

    def mix_py(x: int) -> int:
        x ^= x >> 16
        x = (x * _MIX_M1) % (1 << 32)
        x ^= x >> 13
        x = (x * _MIX_M2) % (1 << 32)
        return x ^ (x >> 16)

    df = spark.createDataFrame(
        [(i, x) for i, x in enumerate(xs)], "doc_id long, shingle long"
    )
    got = {r["doc_id"]: r["b"] for r in df.select("doc_id", mix32(F.col("shingle")).alias("b")).collect()}
    assert got == {i: mix_py(x) for i, x in enumerate(xs)}
    ddb.execute("CREATE OR REPLACE TABLE _mix_sh (doc_id BIGINT, shingle BIGINT)")
    for i, x in enumerate(xs):
        ddb.execute("INSERT INTO _mix_sh VALUES (?, ?)", [i, x])
    duck = dict(
        ddb.execute(
            f"WITH sh AS (SELECT * FROM _mix_sh) SELECT doc_id, b FROM {mix32_based_sql()}"
        ).fetchall()
    )
    assert duck == got


@_SETTINGS
@given(
    keys=st.lists(
        st.integers(min_value=-(10**9), max_value=10**9), min_size=1, max_size=40, unique=True
    )
)
def test_surrogate_key_matches_simple_for_any_keys(spark, keys):
    """Two-phase bucketed numbering ≡ global-window numbering for any
    integer key distribution (negative, clustered, single-value)."""
    df = spark.createDataFrame([(k,) for k in keys], "k long")
    fast = {r["k"]: r["sk"] for r in add_surrogate_key(df, ["k"], num_partitions=5).collect()}
    slow = {r["k"]: r["sk"] for r in add_surrogate_key_simple(df, ["k"]).collect()}
    assert fast == slow


@_SETTINGS
@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=14),
            st.integers(min_value=0, max_value=14),
        ),
        min_size=0,
        max_size=20,
    )
)
def test_connected_components_matches_union_find(spark, edges):
    """Iterative min-label propagation ≡ classic union-find for ANY
    small graph (self-loops, parallel edges, disconnected vertices,
    long chains), over the vertices that touch an edge."""
    from olist_ecommerce_data_warehouse_spark.operators.graph import connected_components

    n = 15
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical truth: every vertex → minimum id in its component
    comp: dict[int, list[int]] = {}
    for v in range(n):
        comp.setdefault(find(v), []).append(v)
    truth = {v: min(members) for members in comp.values() for v in members}

    edf = spark.createDataFrame(edges, "src long, dst long") if edges else (
        spark.createDataFrame([], "src long, dst long")
    )
    labels = connected_components(edf)
    got = {r["id"]: r["component"] for r in labels.collect()}
    labels.unpersist()
    # only vertices that touch an edge are labelled
    endpoints = {v for e in edges for v in e}
    assert got == {v: truth[v] for v in endpoints}


@given(
    target=st.lists(
        st.tuples(st.integers(0, 20), st.integers(-5, 5), st.sampled_from("abc")),
        max_size=15,
    ),
    source=st.lists(
        st.tuples(st.integers(0, 20), st.integers(-5, 5), st.sampled_from("abc")),
        max_size=15,
    ),
)
@_SETTINGS
def test_merge_upsert_laws(spark, target, source):
    """MERGE algebra on arbitrary tables: (1) merging is IDEMPOTENT —
    applying the same delta twice yields the same table, with every
    previously-applied row now flagged unchanged; (2) an empty delta is
    the identity (all rows kept); (3) the merged table's key set is
    exactly target ∪ source keys."""
    from olist_ecommerce_data_warehouse_spark.operators.merge import merge_upsert

    # unique keys per side (MERGE contract: source key-unique)
    tgt_rows = list({k: (k, v, s) for k, v, s in target}.values())
    src_rows = list({k: (k, v, s) for k, v, s in source}.values())
    schema = "k int, v int, s string"
    t = spark.createDataFrame(tgt_rows, schema) if tgt_rows else spark.createDataFrame([], schema)
    s = spark.createDataFrame(src_rows, schema) if src_rows else spark.createDataFrame([], schema)

    once = merge_upsert(t, s, ["k"])
    data_once = sorted(
        (r["k"], r["v"], r["s"]) for r in once.collect()
    )
    twice = merge_upsert(once.drop("__merge_action"), s, ["k"])
    rows_twice = twice.collect()
    assert sorted((r["k"], r["v"], r["s"]) for r in rows_twice) == data_once
    src_keys = {k for k, _, _ in src_rows}
    for r in rows_twice:
        if r["k"] in src_keys:
            assert r["__merge_action"] == "unchanged", r

    empty = merge_upsert(t, s.filter(F.lit(False)), ["k"])
    assert sorted((r["k"], r["v"], r["s"]) for r in empty.collect()) == sorted(tgt_rows)
    assert all(r["__merge_action"] == "keep" for r in empty.collect())

    assert {r["k"] for r in once.collect()} == {k for k, _, _ in tgt_rows} | src_keys


@given(
    base=st.lists(
        st.tuples(st.integers(0, 12), st.sampled_from("xyz")), min_size=1, max_size=10
    ),
    snap=st.lists(
        st.tuples(st.integers(0, 12), st.sampled_from("xyz")), max_size=10
    ),
)
@_SETTINGS
def test_scd2_apply_laws(spark, base, snap):
    """SCD-2 apply on arbitrary dims/snapshots: (1) re-applying the
    SAME snapshot at a later date changes nothing (idempotence — the
    current rows already carry the snapshot attrs); (2) exactly one
    current row per key; (3) closed rows keep their attrs and end at
    the apply date."""
    import datetime as dt

    from olist_ecommerce_data_warehouse_spark.operators.scd import (
        scd2_apply_snapshot,
        scd2_from_history,
    )

    hist_rows = [
        (k, v, dt.datetime(2024, 1, 1)) for k, v in {k: v for k, v in base}.items()
    ]
    hist = spark.createDataFrame(hist_rows, "k int, attr string, ts timestamp")
    dim = scd2_from_history(hist, ["k"], "ts")
    snap_rows = list({k: (k, v) for k, v in snap}.items())
    snap_df = (
        spark.createDataFrame([v for _, v in snap_rows], "k int, attr string")
        if snap_rows
        else spark.createDataFrame([], "k int, attr string")
    )
    applied = scd2_apply_snapshot(dim, snap_df, ["k"], dt.datetime(2024, 6, 1))
    rows1 = sorted(map(tuple, applied.collect()))
    again = scd2_apply_snapshot(applied, snap_df, ["k"], dt.datetime(2024, 9, 1))
    assert sorted(map(tuple, again.collect())) == rows1  # idempotent

    cur = [r for r in applied.collect() if r["is_current"] == 1]
    per_key = {}
    for r in cur:
        per_key[r["k"]] = per_key.get(r["k"], 0) + 1
    assert all(n == 1 for n in per_key.values())
    snap_attr = {k: v for k, v in (v for _, v in snap_rows)}
    # rows closed AT the apply date exist only for snapshotted keys
    # whose attr actually changed
    for r in applied.collect():
        if r["is_current"] == 0 and r["effective_end"] == dt.datetime(2024, 6, 1):
            assert r["k"] in snap_attr and snap_attr[r["k"]] != r["attr"], r
    for k, v in snap_attr.items():
        cur_k = [r for r in cur if r["k"] == k]
        assert len(cur_k) == 1 and cur_k[0]["attr"] == v  # snapshot wins


@given(
    weights=st.dictionaries(
        st.sampled_from(["a", "b", "c"]),
        st.one_of(st.integers(0, 3).map(float), st.sampled_from([0.5, 1.5, 2.5])),
        max_size=3,
    ),
    docs=st.lists(
        st.tuples(st.integers(0, 50), st.sampled_from(["a", "b", "c", "d"])),
        max_size=20,
    ),
)
@_SETTINGS
def test_sampling_multiplicity_exact(spark, weights, docs):
    """Weighted mixing: integer weights give EXACT multiplicity for
    every doc; fractional weights give floor(w) or floor(w)+1 copies,
    deterministically — the same docs get the extra copy on re-run."""
    from olist_ecommerce_data_warehouse_spark.operators.sampling import sample_by_weight

    doc_rows = list({d: (d, s) for d, s in docs}.values())
    if not doc_rows:
        return
    df = spark.createDataFrame(doc_rows, "doc_id int, source string")
    out1 = sample_by_weight(df, weights, source_col="source")
    counts1 = {}
    for r in out1.collect():
        counts1[r["doc_id"]] = counts1.get(r["doc_id"], 0) + 1
    for d, s in doc_rows:
        w = weights.get(s, 1.0)
        n = counts1.get(d, 0)
        if w == int(w):
            assert n == int(w), (d, s, w, n)
        else:
            assert n in (int(w), int(w) + 1), (d, s, w, n)
    # determinism: identical multiset on re-run
    counts2 = {}
    for r in sample_by_weight(df, weights, source_col="source").collect():
        counts2[r["doc_id"]] = counts2.get(r["doc_id"], 0) + 1
    assert counts1 == counts2


@given(
    docs=st.lists(
        st.tuples(
            st.integers(0, 100),
            st.sampled_from(["en", "de", "fr"]),
            st.integers(0, 700),  # includes oversized (> budget) docs
        ),
        max_size=30,
    ),
    budget=st.sampled_from([64, 512]),
)
@_SETTINGS
def test_greedy_pack_batch_matches_reference_fuzz(spark, docs, budget):
    """Fuzz the batch first-fit packer against the driver-side
    reference on arbitrary (doc_id, lang, n_tokens) multis — incl.
    zero-token and oversized documents: layouts must be identical (the
    invariant that also pins the streaming twin, which shares the same
    _first_fit loop)."""
    from olist_ecommerce_data_warehouse_spark.streaming.packing import (
        greedy_pack_batch,
        greedy_pack_reference,
    )

    doc_rows = list({(d, lg): (d, lg, n) for d, lg, n in docs}.values())
    if not doc_rows:
        return
    # reference keys by doc_id within lang — keep doc_id unique per lang
    uniq = {}
    for d, lg, n in doc_rows:
        uniq[(d, lg)] = (d, lg, n)
    rows = sorted(uniq.values())
    # drop cross-lang doc_id duplicates to keep doc_id a stable sort key
    seen, final = set(), []
    for d, lg, n in rows:
        if d not in seen:
            seen.add(d)
            final.append((d, lg, n))
    df = spark.createDataFrame(final, "doc_id long, lang string, n_tokens long")
    got = sorted(map(tuple, greedy_pack_batch(df, budget=budget).collect()))
    assert got == greedy_pack_reference(final, budget=budget)


# mixed-script alphabet for tokenizer fuzzing: Latin (upper/lower),
# accents, CJK, Cyrillic, digits, punctuation, whitespace — AND the
# Turkish İ/ı pair, whose JVM-vs-DuckDB lower() divergence the
# tokenizer twins now remove via pre-translate (functions/text.py
# TOKEN_RE): parity must hold even on the formerly pathological
# code points.
_FUZZ_ALPHABET = (
    "abcXYZ éñü 这表格 русский 012 İı ,.!-_()\n\t"
)


@given(texts=st.lists(st.text(alphabet=_FUZZ_ALPHABET, max_size=60), min_size=1, max_size=12))
@_SETTINGS
def test_tokenizer_cross_engine_parity(spark, ddb, texts):
    """Fuzz the tokenizer twins: Spark `tokens()` and the oracle's
    `toks_sql()` must produce IDENTICAL token arrays on arbitrary
    mixed-script text — every tokenizing oracle in the registry rests
    on this equivalence."""
    from olist_ecommerce_data_warehouse_spark.functions.text import tokens, toks_sql

    df = spark.createDataFrame(list(enumerate(texts)), "i long, text string")
    got = {r["i"]: list(r["t"]) for r in df.select("i", tokens("text").alias("t")).collect()}
    for i, s in enumerate(texts):
        duck = ddb.execute(f"select {toks_sql('?')}", [s]).fetchone()[0]
        assert list(duck) == got[i], (s, duck, got[i])


@given(
    vecs=st.lists(
        st.lists(
            st.floats(-2.0, 2.0, allow_nan=False, width=32), min_size=4, max_size=4
        ),
        min_size=1,
        max_size=8,
    )
)
@_SETTINGS
def test_quantize_kernel_cross_engine_parity(spark, ddb, vecs):
    """Fuzz the int8-quantization kernel against its SQL twin on
    arbitrary float32 vectors (including near-zero and all-zero):
    l2_norm, scale, the md5 code fingerprint and max_abs_err must be
    BIT-identical — the kernel's left-fold contract."""
    from olist_ecommerce_data_warehouse_spark.functions.embedding import (
        quantize_int8_stats,
    )
    import __spark_entry__ as e

    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {
        r["vec_id"]: r
        for r in quantize_int8_stats(df).collect()
    }
    ddb.execute("CREATE OR REPLACE TABLE _fuzz_emb AS SELECT * FROM (VALUES (NULL::BIGINT, NULL::FLOAT[])) t(vec_id, embedding) WHERE FALSE")
    for i, v in rows:
        ddb.execute("INSERT INTO _fuzz_emb VALUES (?, ?)", [i, v])
    # project the int8 columns by name: the slot's oracle also carries
    # the round-5 PQ gate, whose 64-dim subspace slices are not
    # meaningful on these 4-dim fuzz vectors
    oracle = e.oracle_sql()["embedding_quantize"].replace("embeddings", "_fuzz_emb")
    cols = "vec_id, l2_norm, scale, codes_fp, max_abs_err, in_bounds"
    for r in ddb.execute(f"SELECT {cols} FROM ({oracle})").fetchall():
        vid, l2, sc, fp, err, inb = r
        g = got[vid]
        assert repr(g["l2_norm"]) == repr(l2), (vid, g["l2_norm"], l2)
        assert repr(g["scale"]) == repr(sc)
        assert g["codes_fp"] == fp, vid
        assert repr(g["max_abs_err"]) == repr(err)
        assert g["in_bounds"] == inb


@given(
    texts=st.lists(
        st.lists(st.sampled_from(_VOCAB), min_size=0, max_size=6).map(" ".join),
        min_size=1,
        max_size=10,
    )
)
@_SETTINGS
def test_rolling_gram_hash_cross_engine_parity(spark, ddb, texts):
    """Fuzz the rolling gram-hash twins (text_repetition's gram
    identity) on arbitrary SHORT documents — 0/1/2-token docs are the
    trap: DuckDB slice ends go NEGATIVE there and would wrap to
    from-the-end indexing without the greatest() guards.  The
    (doc, n, gh, count) multisets must be identical across engines."""
    import duckdb as _d

    # BOTH twins come from production (plans/text.py) — a drift on
    # either side fails here instead of surviving behind a stale copy
    from olist_ecommerce_data_warehouse_spark.plans.text import (
        _gramk_sql,
        _TH_SQL,
        gramk_expr,
        token_hashes_expr,
    )

    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    dt_df = df.select("doc_id", token_hashes_expr().alias("th"))
    g2 = gramk_expr("th", 2)
    g3 = gramk_expr("th", 3)
    got = {
        (r["doc_id"], 2): sorted(r["g2"]) for r in dt_df.select("doc_id", g2.alias("g2")).collect()
    } | {
        (r["doc_id"], 3): sorted(r["g3"]) for r in dt_df.select("doc_id", g3.alias("g3")).collect()
    }

    con = _d.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    for i, t in enumerate(texts):
        con.execute("INSERT INTO documents VALUES (?, ?)", [i, t])
    rows = con.execute(
        f"SELECT doc_id, {_gramk_sql(f'({_TH_SQL})', 2)} AS g2, "
        f"{_gramk_sql(f'({_TH_SQL})', 3)} AS g3 FROM documents"
    ).fetchall()
    for doc_id, g2d, g3d in rows:
        assert sorted(g2d) == got[(doc_id, 2)], (texts[doc_id], g2d, got[(doc_id, 2)])
        assert sorted(g3d) == got[(doc_id, 3)], (texts[doc_id], g3d, got[(doc_id, 3)])

    # gramk(5) (the contamination gram) must agree cross-engine too —
    # incl. docs shorter than k
    gk = dt_df.select("doc_id", gramk_expr("th", 5).alias("k5"))
    got5 = {r["doc_id"]: sorted(r["k5"]) for r in gk.collect()}
    for doc_id, g5d in con.execute(
        f"SELECT doc_id, {_gramk_sql(f'({_TH_SQL})', 5)} FROM documents"
    ).fetchall():
        assert sorted(g5d) == got5[doc_id], texts[doc_id]


@given(
    vecs=st.lists(
        st.lists(st.integers(-1000, 1000), min_size=3, max_size=3),
        min_size=2,
        max_size=12,
        unique_by=lambda v: tuple(v),
    ),
    k=st.integers(2, 4),
)
@_SETTINGS
def test_kmeans_unrolled_lloyd_oracle_parity(spark, ddb, vecs, k):
    """Fuzz the trained-IVF contract: kmeans_train (distributed Lloyd)
    must be bit-identical to the oracle's unrolled-Lloyd SQL for
    arbitrary integer vector sets and k — including duplicate seed
    vectors and EMPTY clusters (a cluster losing all members must keep
    its previous centroid on both sides)."""
    import duckdb as _d

    from olist_ecommerce_data_warehouse_spark.operators.kmeans import kmeans_train
    from olist_ecommerce_data_warehouse_spark.operators.similarity import quantized
    from olist_ecommerce_data_warehouse_spark.plans.similarity import _lloyd_iter_sql

    k = min(k, len(vecs))
    rows = [(i, [float(x) / 1000.0 for x in v]) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    trained = kmeans_train(
        df.select("vec_id", quantized("embedding").alias("cvec")), k=k, n_iter=2
    )

    con = _d.connect()
    con.execute("CREATE TABLE embeddings (vec_id BIGINT, embedding FLOAT[])")
    for i, v in rows:
        con.execute("INSERT INTO embeddings VALUES (?, ?)", [i, v])
    qvec = "list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*1000000) AS BIGINT))"
    sql = f"""
    WITH c AS (SELECT vec_id, {qvec} AS cvec FROM embeddings),
    cents0 AS (
        SELECT ROW_NUMBER() OVER (ORDER BY h) - 1 AS cluster, cvec AS centvec
        FROM (SELECT md5(CAST(vec_id AS VARCHAR)) AS h, cvec FROM c ORDER BY h LIMIT {k})
    ),
    {_lloyd_iter_sql(1)},
    {_lloyd_iter_sql(2)}
    SELECT cluster, centvec FROM cents2 ORDER BY cluster
    """
    duck = {r[0]: list(r[1]) for r in con.execute(sql).fetchall()}
    assert len(duck) == k
    for i in range(k):
        assert duck[i] == [int(x) for x in trained[i]], (i, duck[i], trained[i])


@given(
    pts=st.lists(st.integers(0, 50_000), min_size=1, max_size=20),
    ivs=st.lists(
        st.tuples(st.integers(0, 50_000), st.integers(0, 20_000)), max_size=10
    ),
    bin_w=st.sampled_from([1, 7, 3600]),
)
@_SETTINGS
def test_range_join_equals_theta_join_fuzz(spark, pts, ivs, bin_w):
    """Bucketized range join ≡ naive theta join for arbitrary point
    sets, interval layouts (touching bin edges, zero-length, nested,
    disjoint) and bin widths including width 1 — the bin-boundary
    arithmetic is the part a unit test on one dataset cannot pin."""
    from olist_ecommerce_data_warehouse_spark.operators.rangejoin import range_join

    base = 1_700_000_000  # epoch anchor keeps timestamps in range
    p = spark.createDataFrame(
        [(i, t + base) for i, t in enumerate(pts)], "pid long, sec long"
    ).select("pid", F.timestamp_seconds("sec").alias("ts")).drop("sec")
    iv = spark.createDataFrame(
        [(j, s + base, s + base + ln) for j, (s, ln) in enumerate(ivs)],
        "ivid long, s long, e long",
    ).select(
        "ivid",
        F.timestamp_seconds("s").alias("iv_s"),
        F.timestamp_seconds("e").alias("iv_e"),
    )
    got = sorted(
        (r["pid"], r["ivid"])
        for r in range_join(
            p, iv, "ts", "iv_s", "iv_e", bin_width_sec=bin_w,
            # width-1 bins on 20k-second intervals legitimately exceed
            # the default 10k-bin safety cap — raise it for the fuzz
            max_bins_per_interval=100_000,
        ).collect()
    )
    want = sorted(
        (r["pid"], r["ivid"])
        for r in p.join(
            iv, (F.col("ts") >= F.col("iv_s")) & (F.col("ts") <= F.col("iv_e"))
        ).collect()
    )
    assert got == want

    # LEFT mode: unmatched points kept with NULL interval columns,
    # exactly like the theta left join (each point maps to one bin,
    # so left-outer on the bin equi-join is exact)
    got_left = sorted(
        (r["pid"], r["ivid"])
        for r in range_join(
            p, iv, "ts", "iv_s", "iv_e", bin_width_sec=bin_w,
            max_bins_per_interval=100_000, how="left",
        ).collect()
    )
    want_left = sorted(
        (r["pid"], r["ivid"])
        for r in p.join(
            iv,
            (F.col("ts") >= F.col("iv_s")) & (F.col("ts") <= F.col("iv_e")),
            "left",
        ).collect()
    )
    assert got_left == want_left


@given(
    texts=st.lists(
        st.text(
            alphabet="abzZ09@._-+() \t:/#%&',;!",
            max_size=40,
        ),
        min_size=1,
        max_size=10,
    )
)
@_SETTINGS
def test_pii_regex_cross_engine_parity(spark, ddb, texts):
    """Fuzz the PII regex twins: per-kind match counts and the fully
    redacted string must agree between Spark (Java regex) and DuckDB
    (RE2) on arbitrary punctuation-dense text — \\b, bounded repeats
    and alternations are where regex dialects drift, and text_metrics'
    oracle hash rests on their agreement."""
    from olist_ecommerce_data_warehouse_spark.functions.text import (
        PII_PATTERNS,
        pii_counts,
        redact_pii,
    )
    from olist_ecommerce_data_warehouse_spark.plans.text import (
        _pii_count_sql,
        _pii_redact_sql,
    )

    df = spark.createDataFrame(list(enumerate(texts)), "i long, text string")
    got = {
        r["i"]: r
        for r in df.select(
            "i",
            redact_pii("text").alias("red"),
            *[c.alias(k) for k, c in pii_counts("text").items()],
        ).collect()
    }
    for i, s in enumerate(texts):
        cnt_exprs = ", ".join(
            f"{_pii_count_sql('?', k)} AS c_{k.lower()}" for k in PII_PATTERNS
        )
        row = ddb.execute(
            f"select {_pii_redact_sql('?')} AS red, {cnt_exprs}".replace("?", "$1"),
            [s],
        ).fetchone()
        red = row[0]
        counts = dict(zip(PII_PATTERNS, row[1:]))
        assert red == got[i]["red"], (s, red, got[i]["red"])
        for k in PII_PATTERNS:
            assert counts[k] == got[i][k], (s, k, counts[k], got[i][k])


# Curated multi-script alphabet for classifier fuzzing: every block
# here is ancient (stable since Unicode 1-3), so `\p{L}` classifies
# identically under the JVM's Unicode tables (Java 17 ≈ Unicode 13)
# and DuckDB's RE2 / Python's unicodedata (≈ Unicode 14+).  An
# UNRESTRICTED category-L generator is wrong for a cross-engine test:
# hypothesis found U+0870 (a letter added in Unicode 14) tokenizing
# differently across engines — a Unicode-VERSION skew, not an engine
# bug, and one the driver corpus can never hit.  Documented boundary:
# codepoints added in Unicode 14+ may tokenize differently until the
# JVM's tables catch up.
_QC_FUZZ_ALPHABET = (
    "abcXYZ éñü 这表格 русский 012 İı ,.!-_()\n\t"
    "عربي देवनागरी 한국어 かなカナ"
)


@given(
    texts=st.lists(
        st.text(alphabet=_QC_FUZZ_ALPHABET, max_size=40),
        min_size=1,
        max_size=6,
    )
)
@_SETTINGS
def test_quality_classifier_cross_engine_parity(spark, ddb, texts):
    """The full quality-classifier pipeline (tokenize → uni+bigram
    feature hashes → double-mix32 bucketed weights → exact logit sum →
    score/gate) must be bit-identical Spark↔DuckDB across scripts —
    the plan oracle only checks the driver corpus; this fuzzes the
    tokenizer/feature/weight composition at the edges (empty text,
    punctuation-only, non-Latin scripts, İ) over the version-stable
    alphabet above."""
    from olist_ecommerce_data_warehouse_spark.functions.text import tokens
    from olist_ecommerce_data_warehouse_spark.operators.quality import (
        QC_W_HALF,
        _weight_sql,
        quality_features_sql,
        quality_scored,
    )

    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (
            r["qc_n_features"],
            r["qc_logit_sum"],
            r["qc_score"],
            r["qc_pass"],
        )
        for r in quality_scored(docs, tokens("text")).collect()
    }
    ddb.execute("CREATE OR REPLACE TABLE _qc_docs (doc_id BIGINT, text VARCHAR)")
    for i, t in enumerate(texts):
        ddb.execute("INSERT INTO _qc_docs VALUES (?, ?)", [i, t])
    rows = ddb.execute(
        f"""
        WITH feats AS (
            SELECT doc_id, {quality_features_sql()} AS f FROM _qc_docs
        ),
        qc AS (
            SELECT doc_id,
                   list_reduce(list_prepend(CAST(0 AS BIGINT),
                       list_transform(f, h -> {_weight_sql("h")})), (a, b) -> a + b) AS wsum,
                   len(f) AS n
            FROM feats
        )
        SELECT doc_id, CAST(n AS BIGINT), wsum,
               CASE WHEN n > 0 THEN CAST(wsum AS DOUBLE) / ({QC_W_HALF} * n) ELSE 0.0 END,
               CASE WHEN wsum >= 0 THEN 1 ELSE 0 END
        FROM qc
        """
    ).fetchall()
    want = {r[0]: (r[1], r[2], r[3], r[4]) for r in rows}
    assert got == want


@given(
    words=st.lists(
        st.text(alphabet="abcde", min_size=1, max_size=6),
        min_size=1,
        max_size=12,
    ),
    n_merges=st.integers(0, 6),
)
@_SETTINGS
def test_bpe_distributed_equals_reference(spark, words, n_merges):
    """Distributed BPE training must equal the driver-side reference
    trainer merge-for-merge on ARBITRARY corpora (the corpus test only
    covers the driver vocabulary) — including the tie-break rule and
    the <2-count early stop."""
    from olist_ecommerce_data_warehouse_spark.operators.bpe import (
        bpe_train,
        bpe_train_reference,
        word_counts,
    )

    docs = spark.createDataFrame(
        [(i, w) for i, w in enumerate(words)], "doc_id long, text string"
    )
    wc = [(r["word"], r["n"]) for r in word_counts(docs).collect()]
    assert bpe_train(docs, n_merges=n_merges) == bpe_train_reference(wc, n_merges)


@given(
    pts=st.lists(
        st.tuples(st.integers(-50, 150), st.integers(-50, 150)),
        min_size=1,
        max_size=25,
    ),
)
@_SETTINGS
def test_zorder_key_matches_reference_morton(spark, pts):
    """zorder_key must equal a reference Morton implementation for any
    points, including out-of-range values (clamped to edge buckets) —
    a wrong interleave silently destroys locality with no visible
    error."""
    from olist_ecommerce_data_warehouse_spark.operators.zorder import (
        ZORDER_BITS as bits,
        zorder_key,
    )

    lo, hi = 0, 100
    top = (1 << bits) - 1

    def scale(v):
        s = (v - lo) * (1 << bits) // (hi - lo)
        return max(0, min(top, s))

    def morton(x, y):
        out = 0
        for b in range(bits):
            out |= ((scale(x) >> b) & 1) << (2 * b)
            out |= ((scale(y) >> b) & 1) << (2 * b + 1)
        return out

    df = spark.createDataFrame(
        [(i, x, y) for i, (x, y) in enumerate(pts)], "i long, x long, y long"
    )
    got = {
        r["i"]: r["zk"]
        for r in df.select(
            "i", zorder_key([("x", lo, hi), ("y", lo, hi)]).alias("zk")
        ).collect()
    }
    assert got == {i: morton(x, y) for i, (x, y) in enumerate(pts)}


@given(
    pts=st.lists(
        st.tuples(st.integers(-50, 150), st.integers(-50, 150)),
        min_size=1,
        max_size=25,
    ),
)
@_SETTINGS
def test_morton_sql_matches_zorder_key(spark, ddb, pts):
    """The DuckDB twin (morton_sql, the approx_aggregates layout-gate
    oracle) must equal zorder_key exactly for arbitrary points,
    clamping included — the twins share literals but not code, so a
    divergence in either shift/mask expansion surfaces here before the
    driver gate sees it."""
    from olist_ecommerce_data_warehouse_spark.operators.zorder import (
        morton_sql,
        zorder_key,
    )

    lo, hi = 0.0, 100.0
    df = spark.createDataFrame(
        [(i, x, y) for i, (x, y) in enumerate(pts)], "i long, x long, y long"
    )
    got = {
        r["i"]: r["zk"]
        for r in df.select(
            "i", zorder_key([("x", lo, hi), ("y", lo, hi)]).alias("zk")
        ).collect()
    }
    sql = morton_sql([("x", lo, hi), ("y", lo, hi)])
    for i, (x, y) in enumerate(pts):
        (want,) = ddb.execute(
            f"SELECT {sql} FROM (SELECT ? AS x, ? AS y)", [x, y]
        ).fetchone()
        assert got[i] == want, (x, y)


@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 5),   # doc
            st.integers(0, 7),   # bucket
            st.integers(1, 4),   # cnt
        ),
        min_size=1,
        max_size=20,
    ),
    labels=st.lists(st.sampled_from([-1, 1]), min_size=6, max_size=6),
    rounds=st.integers(0, 5),
    batches=st.integers(1, 3),
    c=st.sampled_from([10, 100]),
)
@_SETTINGS
def test_pegasos_cross_engine_parity(spark, ddb, rows, labels, rounds, batches, c):
    """Mini-batch PEGASOS training must produce fixed-point weights
    identical to the driver-side reference AND the DuckDB unrolled
    replay for arbitrary sparse integer data — including the empty
    batches, truncating divisions, and pmod batch membership that are
    the cross-engine hazards of the decaying-step update."""
    from olist_ecommerce_data_warehouse_spark.operators.perceptron import (
        pegasos_oracle_ctes,
        pegasos_train,
        pegasos_train_reference,
    )

    dedup = {}
    for d, b, cnt in rows:
        dedup[(d, b)] = dedup.get((d, b), 0) + cnt
    feat_rows = [(d, b, cnt) for (d, b), cnt in dedup.items()]
    label_map = {d: labels[d] for d in range(6)}

    feats = spark.createDataFrame(feat_rows, "doc_id long, bucket long, cnt long")
    lab = spark.createDataFrame(list(label_map.items()), "doc_id long, y long")
    got = {
        r["bucket"]: r["w"]
        for r in pegasos_train(
            feats, lab, rounds=rounds, c=c, batches=batches
        ).collect()
    }
    want = pegasos_train_reference(feat_rows, label_map, rounds, c=c, batches=batches)
    assert got == want, (got, want)

    ddb.execute("CREATE OR REPLACE TABLE _pgf (doc_id BIGINT, bucket BIGINT, cnt BIGINT)")
    for d, b, cnt in feat_rows:
        ddb.execute("INSERT INTO _pgf VALUES (?, ?, ?)", [d, b, cnt])
    ddb.execute("CREATE OR REPLACE TABLE _pgl (doc_id BIGINT, y BIGINT)")
    for d, y in label_map.items():
        ddb.execute("INSERT INTO _pgl VALUES (?, ?)", [d, y])
    duck = dict(
        ddb.execute(
            "WITH pfeats AS (SELECT * FROM _pgf), plabels AS (SELECT * FROM _pgl), "
            + pegasos_oracle_ctes(rounds, c=c, batches=batches)
            + f" SELECT bucket, w FROM pgw{rounds}"
        ).fetchall()
    )
    assert duck == want, (duck, want)


@given(
    docs=st.lists(
        st.lists(st.sampled_from(["aa", "bb", "cc", "dd"]), max_size=8),
        min_size=1,
        max_size=6,
    ),
)
@_SETTINGS
def test_ngram_lm_reference_parity(spark, docs):
    """Distributed bigram-LM training must produce integer tables
    identical to the driver-side reference on arbitrary corpora, and
    scoring must match the reference within ±1 fixed-point unit per
    bigram (libm ulp allowance — rounding mode itself is pinned
    HALF_UP both sides)."""
    from olist_ecommerce_data_warehouse_spark.functions.text import tokens
    from olist_ecommerce_data_warehouse_spark.operators.ngram_lm import (
        bigram_pairs,
        ngram_lm_score,
        ngram_lm_score_reference,
        ngram_lm_train,
        ngram_lm_train_reference,
    )

    texts = {i: t for i, t in enumerate(docs)}
    df = spark.createDataFrame(
        [(i, " ".join(t)) for i, t in texts.items()], "doc_id long, text string"
    )
    pairs = bigram_pairs(df, tokens("text"))
    bigram, context, v = ngram_lm_train(pairs, persist_fn=lambda t: t.persist())
    ref_b, ref_c, ref_v = ngram_lm_train_reference(texts)
    assert {
        (r["prev"], r["w"]): r["c_bw"] for r in bigram.collect()
    } == ref_b
    assert {r["prev"]: r["c_u"] for r in context.collect()} == ref_c
    assert v.first()["__v"] == ref_v

    got = {
        r["doc_id"]: (r["n_bigrams"], r["oov_bigrams"], r["logprob_fp"])
        for r in ngram_lm_score(df, pairs, bigram, context, v).collect()
    }
    want = ngram_lm_score_reference(texts, ref_b, ref_c, ref_v)
    for d, (n, oov, lp) in want.items():
        gn, goov, glp = got[d]
        assert (gn, goov) == (n, oov)
        assert abs(glp - lp) <= n, (d, glp, lp)
    for d in set(got) - set(want):
        assert got[d] == (0, 0, 0)  # empty docs: zero-evidence rows
    bigram.unpersist()


# --------------------------------------------------------------------------
# URL canonicalization twins


_URL_SCHEMES = ["http", "HTTP", "https", "HTTPS", "ftp", "Http"]
_URL_HOSTS = ["Example.COM", "www.Example.com", "WWW.sub.x.ORG", "h", "X.Y", "www."]
_URL_PORTS = ["", ":80", ":443", ":8080", ":0443"]
_URL_PATHS = ["", "/", "/a", "/a/b/", "/A//B///", "/item/7"]
_URL_QUERIES = [
    "",
    "?a=1&b=2",
    "?b=2&a=1",
    "?utm_source=x&a=1",
    "?gclid=1",
    "?ref=z&refx=1&ref",
    "?x&=3&A=2&a=1&a=1",
    "?utm_medium=a&utm_campaign=b",
]
_URL_FRAGS = ["", "#frag", "#a?b=1"]


@given(
    parts=st.lists(
        st.tuples(
            st.sampled_from(_URL_SCHEMES),
            st.sampled_from(_URL_HOSTS),
            st.sampled_from(_URL_PORTS),
            st.sampled_from(_URL_PATHS),
            st.sampled_from(_URL_QUERIES),
            st.sampled_from(_URL_FRAGS),
        ),
        min_size=1,
        max_size=12,
    )
)
@_SETTINGS
def test_url_canonicalize_cross_engine_parity(spark, ddb, parts):
    """Fuzz the URL-canonicalization twins over every combination of
    the component hazards (scheme/host case, www., default and
    non-default ports, trailing/multiple slashes, tracking params,
    scrambled params, fragments): canonicalize_url (Spark codegen) and
    canonical_url_sql (DuckDB) must agree EXACTLY — dedup_exact's
    kind='url' oracle hash rests on this equivalence.  Also pins the
    canonical invariants: no fragment, no default port, no www.,
    params sorted, idempotence (canon(canon(u)) == canon(u))."""
    from olist_ecommerce_data_warehouse_spark.functions.url import (
        canonical_url_sql,
        canonicalize_url,
    )

    urls = [f"{s}://{h}{po}{pa}{q}{f}" for s, h, po, pa, q, f in parts]
    df = spark.createDataFrame(list(enumerate(urls)), "i long, u string")
    got = {
        r["i"]: r["c"]
        for r in df.select("i", canonicalize_url("u").alias("c")).collect()
    }
    # idempotence under a second pass (canonical output re-parses)
    got2 = {
        r["i"]: r["c"]
        for r in df.select(
            "i", canonicalize_url(canonicalize_url("u")).alias("c")
        ).collect()
    }
    for i, u in enumerate(urls):
        duck = ddb.execute(
            f"select {canonical_url_sql('u')} from (select ? as u)", [u]
        ).fetchone()[0]
        assert duck == got[i], (u, duck, got[i])
        assert got2[i] == got[i], (u, got[i], got2[i])
        c = got[i]
        assert "#" not in c, (u, c)
        assert "utm_" not in c and "gclid" not in c and "fbclid" not in c, (u, c)
        scheme = c.split("://")[0] if "://" in c else ""
        if scheme in ("http", "https"):
            hostport = c.split("://")[1].split("/")[0].split("?")[0]
            # only the DEFAULT port for the scheme is stripped —
            # http://h:443 keeps its (non-default) port
            default = ":80" if scheme == "http" else ":443"
            assert not hostport.endswith(default), (u, c)
            assert not hostport.startswith("www."), (u, c)


# ------------------------------------------------------------ Gopher twins

_GOPHER_ATOMS = [
    "the", "of", "and", "that", "have", "with", "data", "pipeline",
    "x", "#", "...", "…", "•", "-", "*", "12345", "!!!", "a" * 12,
    "ab", "\n", "\n- bullet", "\n• item", "...\n", "…\n", "  ",
    "İstanbul", "ılık", "漢字",
]


@given(
    parts=st.lists(st.sampled_from(_GOPHER_ATOMS), min_size=0, max_size=30),
    sep=st.sampled_from([" ", "  ", "\n"]),
)
@_SETTINGS
def test_gopher_flags_cross_engine_parity(spark, ddb, parts, sep):
    """Fuzz the Gopher rule battery twins over adversarial text
    (bullets, ellipses in both scripts, hash runs, pure digits,
    over-long words, Turkish İ/ı, CJK, newline salads): every rule's
    0/1 gate and the evidence count must agree EXACTLY — the battery
    is integer end-to-end, so any divergence is a regex/threshold
    drift between the twins, the exact bug class this pins."""
    from olist_ecommerce_data_warehouse_spark.functions.text import (
        gopher_flags,
        gopher_flags_sql,
    )

    text = sep.join(parts)
    fl = gopher_flags()
    df = spark.createDataFrame([(0, text)], "i long, text string")
    got = df.select(*[v.alias(k) for k, v in fl.items()]).collect()[0].asDict()
    sel = ", ".join(f"{v} AS {k}" for k, v in gopher_flags_sql().items())
    want = ddb.execute(
        f"SELECT {sel} FROM (SELECT ? AS text)", [text]
    ).fetchdf().iloc[0].to_dict()
    for k in got:
        assert int(got[k]) == int(want[k]), (k, text)


@_SETTINGS
@given(
    w=st.integers(min_value=1, max_value=40),
    h=st.integers(min_value=1, max_value=12),
    depth=st.sampled_from([1, 2, 4]),
    mid=st.integers(min_value=0, max_value=10**6),
)
def test_png_sub8_roundtrip_any_dims(w, h, depth, mid):
    """Round 8 fuzz: sub-8-bit grayscale PNGs round-trip exactly at
    arbitrary dims (every byte-alignment/pad-bit case), depths and
    content offsets — the pure-python synth+decode pair, no Spark."""
    from olist_ecommerce_data_warehouse_spark.operators.multimodal import (
        _png_pixels,
        _synth_png_sub8_bytes,
    )

    from olist_ecommerce_data_warehouse_spark.operators.multimodal import (
        _synth_png_sub8_adam7_bytes,
    )

    scale = 255 // ((1 << depth) - 1)
    for synth in (_synth_png_sub8_bytes, _synth_png_sub8_adam7_bytes):
        ww, hh, ch, px = _png_pixels(synth(w, h, depth, mid))
        assert (ww, hh, ch) == (w, h, 1)
        assert all(
            px[y * w + x] == ((x * 3 + y * 5 + mid) % (1 << depth)) * scale
            for y in range(h)
            for x in range(w)
        )


@_SETTINGS
@given(mid=st.integers(min_value=0, max_value=10**9))
def test_mp4_stbl_closed_forms_any_id(mid):
    """Round 8 fuzz: the sample-table field arithmetic stays
    internally consistent at any id — chunk count covers all samples,
    the stsc run-length encoding resolves to exactly n samples, and
    the synthesized container parses (non-Spark twin of the walker's
    resolution logic)."""
    from olist_ecommerce_data_warehouse_spark.operators.multimodal import (
        _mp4_stbl_fields,
        _synth_mp4_stbl_bytes,
    )

    n, sizes, spc, nc, n1, d1, d2, offsets = _mp4_stbl_fields(mid)
    assert len(sizes) == n and len(offsets) == nc
    assert (nc - 1) * spc < n <= nc * spc
    # resolve the runs the synthesizer writes, the way the walker does
    runs = [(1, spc)] if n % spc == 0 else [(1, spc), (nc, n % spc)]
    got = sum(
        ((runs[k + 1][0] if k + 1 < len(runs) else nc + 1) - fc) * s
        for k, (fc, s) in enumerate(runs)
    )
    assert got == n
    b = _synth_mp4_stbl_bytes(mid)
    assert b[4:8] == b"ftyp" and b"stbl" in b and b"stsz" in b


@_SETTINGS
@given(
    bw=st.integers(min_value=1, max_value=6),
    bh=st.integers(min_value=1, max_value=4),
    mid=st.integers(min_value=0, max_value=10**6),
)
def test_jpeg12_roundtrip_any_dims(bw, bh, mid):
    """Round 8 fuzz: 12-bit extended-sequential JPEGs round-trip
    exactly at arbitrary block grids, ids and both quant regimes —
    the pure-python synth+decode pair (16-bit DQT parse, SOF1 P=12,
    2048 level shift, deep DC categories), no Spark."""
    import numpy as np

    from olist_ecommerce_data_warehouse_spark.operators.multimodal import (
        _decode_jpeg,
        _synth_jpeg12_gray_bytes,
    )

    w, h = 8 * bw, 8 * bh
    dw, dh, planes, _ = _decode_jpeg(_synth_jpeg12_gray_bytes(w, h, mid))
    assert (dw, dh) == (w, h)
    p = planes[0]
    assert p.dtype == np.uint16
    for by in range(bh):
        for bx in range(bw):
            if (mid // 8) % 2 == 0:
                v = 2048 + 32 * (((bx * 7 + by * 13 + mid) % 64) - 32)
            else:
                v = (709 * bx + 1301 * by + 37 * mid) % 4096
            assert (p[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] == v).all()


@_SETTINGS
@given(
    w=st.integers(min_value=1, max_value=40),
    h=st.integers(min_value=1, max_value=11),
    mid=st.integers(min_value=0, max_value=10**6),
)
def test_tiff_roundtrip_any_dims(w, h, mid):
    """Round 8 fuzz: TIFFs round-trip exactly at arbitrary dims and
    ids across the endianness × compression matrix — strip layout,
    inline/external value resolution and PackBits row coding hold for
    every shape (pure-python pair, no Spark)."""
    from olist_ecommerce_data_warehouse_spark.operators.multimodal import (
        _parse_tiff,
        _synth_tiff_bytes,
    )

    want_spp = 1 + 2 * ((mid // 48) % 2)
    ww, hh, spp, px = _parse_tiff(_synth_tiff_bytes(w, h, mid))
    assert (ww, hh, spp) == (w, h, want_spp)
    assert px == bytes(
        ((x // 3) * 5 + y * 7 + mid + 91 * c) % 256
        for y in range(h) for x in range(w) for c in range(want_spp)
    )


@_SETTINGS
@given(mid=st.integers(min_value=0, max_value=10**6))
def test_flac_roundtrip_any_id(mid):
    """Round 8 fuzz: FLAC streams round-trip exactly at any id — the
    full variant matrix (subframe kinds, mono/stereo, decorrelation
    modes, partition orders, multi-frame with short tails) recovers
    the per-channel sample arithmetic bit-exactly (pure-python pair,
    no Spark)."""
    from olist_ecommerce_data_warehouse_spark.operators.multimodal import (
        _parse_flac,
        _synth_flac_bytes,
    )

    sr, ch, bps, chans = _parse_flac(_synth_flac_bytes(mid))
    n = 16 + mid % 32
    kind = ["verbatim", "fixed2", "lpc2", "constant"][(mid // 8) % 4]
    assert (sr, ch, bps) == (8000, 1 + mid % 2, 16)
    for c in range(ch):
        if kind == "constant":
            exp = [((mid * 37 + 100 * c) % 2048) - 1024] * n
        else:
            exp = [((j * (37 if c == 0 else 53)) % (2048 if c == 0 else 1024))
                   - (1024 if c == 0 else 512) for j in range(n)]
        assert chans[c] == exp
