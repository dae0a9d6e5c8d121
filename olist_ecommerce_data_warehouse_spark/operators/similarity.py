"""Vector similarity search (extension tier: brute-force cosine top-k
baseline + IVF-bucketed scale path).

Determinism strategy: embedding floats are quantized to BIGINT at 1e-6
resolution (``floor(double(x) * 1e6)`` — float→double is exact and
floor of one fp product is bit-deterministic in every IEEE engine), so
dot products and squared norms are EXACT integer arithmetic —
order-independent, hash-identical with any ANSI-SQL oracle.  The final
cosine divides two exact integers under one sqrt — correctly-rounded
IEEE ops, so bits still match.  Quantization error at 1e-6 on O(1)
embeddings is far below any meaningful similarity delta (the same
trade int8-quantized ANN indexes make, much coarser).

Scale notes: brute-force is the correctness baseline (O(Q·N·d) but
embarrassingly parallel map-side work after broadcasting Q query
vectors — no shuffle until top-k).  The IVF variant buckets vectors by
nearest centroid so each query scans only nprobe clusters — the
standard billion-scale layout.  Centroids are one ``list[list[int]]``
(what ``kmeans_train`` returns and ``IVFIndex`` holds); assignment
(``ivf_assign``) is one narrow Arrow map whose kernel closes over the
k×d matrix and takes the argmin of ``l2sq`` — the one exact-integer
L2² builder that k-means, IVF and PQ share."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

QUANT = 1_000_000


def quantized(col: Column | str) -> Column:
    """array<float> → array<bigint> at 1e-6 resolution (exact ops)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: F.floor(x.cast("double") * QUANT).cast("bigint"))


def l2sq(a, b):
    """Exact int64 squared L2 distances between the rows of ``a`` (n×d)
    and ``b`` (k×d): the (n, k) matrix |a|² + |b|² − 2·a·bᵀ.  The |a|²
    term is constant per row, so it never moves a row's argmin; numpy's
    argmin takes the FIRST minimum, i.e. ties go to the lowest column
    (centroid/code) id — the oracle's tie rule."""
    import numpy as np

    a = np.asarray(a, dtype=np.int64)
    b = np.asarray(b, dtype=np.int64)
    an = np.einsum("ij,ij->i", a, a)
    bn = np.einsum("ij,ij->i", b, b)
    return an[:, None] + bn[None, :] - 2 * (a @ b.T)


def _collect_query_matrix(queries: DataFrame):
    """Collect (query_id, qvec) into sorted numpy arrays.  The query
    set is broadcast-sized by contract (Q ≪ N — the same assumption a
    broadcast hash join makes about a dim table); collecting Q·d int64s
    to the driver and re-broadcasting them is the standard Spark
    pattern for shipping a small matrix into an Arrow kernel.

    An EMPTY input returns empty arrays (shape (0, 0) matrix) rather
    than letting ``np.stack([])`` throw — callers emit empty results
    for zero queries."""
    import numpy as np

    rows = sorted(queries.collect(), key=lambda r: r[0])
    if not rows:
        return (
            np.empty(0, dtype=np.int64),
            np.zeros((0, 0), dtype=np.int64),
            np.empty(0, dtype=np.float64),
        )
    qids = np.array([r[0] for r in rows], dtype=np.int64)
    qm = np.stack([np.asarray(r[1], dtype=np.int64) for r in rows])
    qn = np.sqrt(np.einsum("ij,ij->i", qm, qm).astype(np.float64))
    return qids, qm, qn


def _safe_cos(gram, na, nb):
    """cosine = dot / (|a|·|b|) with zero-norm vectors scoring 0.0
    instead of NaN: 0/0 cosines would sort nondeterministically (numpy
    lexsort puts NaN last, Spark DESC treats NaN as largest, SQL NULL
    sorts per engine) and silently break the bit-identical-to-oracle
    contract on corpora containing zero/padding embeddings."""
    import numpy as np

    denom = np.outer(na, nb)
    return np.divide(
        gram.astype(np.float64),
        denom,
        out=np.zeros_like(gram, dtype=np.float64),
        where=denom > 0,
    )


def _topk_rows(ids, cos_col, query_id, k):
    """Indices of the top-k (cosine DESC, vec_id ASC) rows of one
    query's cosine column, self-match excluded — numpy lexsort, exact
    same ordering as the final ROW_NUMBER window."""
    import numpy as np

    mask = ids != query_id
    idx = np.flatnonzero(mask)
    order = np.lexsort((ids[idx], -cos_col[idx]))
    return idx[order[:k]]


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
) -> DataFrame:
    """Top-k cosine neighbors for each query vector.

    ``queries``: (query_id, qvec quantized); ``corpus``: (vec_id, cvec
    quantized).  The Q·d query matrix is collected and broadcast (Q ≪ N
    by contract — dim-table sized); each corpus Arrow batch is scored
    against ALL queries with ONE int64 Gram matmul (exact integer dots
    — no float accumulation, no interpreted per-element lambdas, which
    measured ~10× slower as Catalyst ``aggregate``/``zip_with``), keeps
    its per-query partial top-k, and only those ≤ Q·k rows per batch
    reach the global top-k window.  That partial-combine is the scale
    shape: shuffle volume is Q·k per partition, independent of corpus
    size.  Cosine = double(int dot) / (√|q|²·√|c|²) in correctly-rounded
    IEEE ops — bit-identical to the SQL oracle."""
    import numpy as np
    import pandas as pd

    bq = queries.sparkSession.sparkContext.broadcast(
        _collect_query_matrix(queries.select("query_id", "qvec"))
    )

    def kernel(batches):
        qids, qm, qn = bq.value
        for pdf in batches:
            if not len(pdf) or qids.size == 0:
                continue
            ids = pdf["vec_id"].to_numpy()
            cm = np.stack([np.asarray(v, dtype=np.int64) for v in pdf["cvec"]])
            gram = cm @ qm.T  # (n, Q) exact int64 dots
            cn = np.sqrt(np.einsum("ij,ij->i", cm, cm).astype(np.float64))
            cos = _safe_cos(gram, cn, qn)
            out_q, out_v, out_c = [], [], []
            for j, qid in enumerate(qids):
                keep = _topk_rows(ids, cos[:, j], qid, k)
                out_q.extend([qid] * len(keep))
                out_v.extend(ids[keep])
                out_c.extend(cos[keep, j])
            yield pd.DataFrame(
                {
                    "query_id": pd.Series(out_q, dtype="int64"),
                    "vec_id": pd.Series(out_v, dtype="int64"),
                    "cosine": pd.Series(out_c, dtype="float64"),
                }
            )

    scored = corpus.select("vec_id", "cvec").mapInPandas(
        kernel, "query_id bigint, vec_id bigint, cosine double"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "vec_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def ivf_assign(corpus: DataFrame, centroids: list[list[int]]) -> DataFrame:
    """Assign every ``(vec_id, cvec)`` corpus vector to its nearest
    centroid by exact integer L2² (``l2sq``; ties → lowest
    centroid_id, the list index), as one narrow mapInPandas: per Arrow
    batch a single int64 matmul and an argmin — no per-pair
    interpreted lambdas, no shuffle.  ``centroids`` is the k×d int64
    list ``kmeans_train`` returns; the kernel closes over it (nlist ≪ N,
    model-sized).  Output carries the vector through so the scoring
    stage needs no re-join: (vec_id, centroid_id, cvec, cn)."""
    import numpy as np
    import pandas as pd

    if not centroids:
        raise ValueError("ivf_assign: centroid set is empty (nlist must be >= 1)")
    centm = np.asarray(centroids, dtype=np.int64)

    def kernel(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            cm = np.stack([np.asarray(v, dtype=np.int64) for v in pdf["cvec"]])
            out = pdf[["vec_id", "cvec"]].copy()
            out["centroid_id"] = pd.Series(
                np.argmin(l2sq(cm, centm), axis=1), index=pdf.index, dtype="int64"
            )
            out["cn"] = pd.Series(
                np.sqrt(np.einsum("ij,ij->i", cm, cm).astype(np.float64)),
                index=pdf.index,
                dtype="float64",
            )
            yield out[["vec_id", "centroid_id", "cvec", "cn"]]

    return corpus.select("vec_id", "cvec").mapInPandas(
        kernel, "vec_id bigint, centroid_id bigint, cvec array<bigint>, cn double"
    )


def ivf_probes(
    queries: DataFrame, centroids: list[list[int]], nprobe: int = 2
) -> dict[int, list]:
    """Driver-side probe selection: each query's ``nprobe`` nearest
    centroids by exact integer L2² (``l2sq``; ties → lowest
    centroid_id).  Queries are broadcast-sized (Q ≪ N) and the
    centroid list is model-sized, so this is one tiny collect + an
    O(Q·nlist) numpy pass — the same work a vector-search coordinator
    does per request batch."""
    import numpy as np

    qids, qm, qn = _collect_query_matrix(queries.select("query_id", "qvec"))
    if qids.size == 0 or not centroids:
        return {}
    d2 = l2sq(qm, centroids)
    probes: dict[int, list] = {}
    for i, qid in enumerate(qids):
        # stable sort: equal distances keep ascending centroid_id
        for ci in np.argsort(d2[i], kind="stable")[:nprobe]:
            probes.setdefault(int(ci), []).append((int(qid), qm[i], float(qn[i])))
    return probes


def srp_hyperplanes(d: int, n_bits: int = 4, n_tables: int = 8):
    """Deterministic signed-random-projection hyperplanes for L
    independent LSH tables: an (n_tables, n_bits, d) int64 tensor
    derived from md5 of (table, bit, dim) — no ``rand()``, so
    signatures are identical across runs/retries (the library-wide
    determinism rule).  Values spread over [-1000, 1000]; exact-int
    dot products with 1e-6-quantized vectors stay far inside int64."""
    import hashlib

    import numpy as np

    m = np.empty((n_tables, n_bits, d), dtype=np.int64)
    for t in range(n_tables):
        for i in range(n_bits):
            for j in range(d):
                h = hashlib.md5(f"srp:{t}:{i}:{j}".encode()).hexdigest()
                m[t, i, j] = int(h[:8], 16) % 2001 - 1000
    return m


def _srp_sigs(mat, hp):
    """(n, L) bucket ids: per-table sign-bit signature offset into the
    table's id space (bucket = table·2^bits + signature)."""
    import numpy as np

    n_tables, n_bits, _ = hp.shape
    weights = np.int64(1) << np.arange(n_bits, dtype=np.int64)
    out = np.empty((mat.shape[0], n_tables), dtype=np.int64)
    for t in range(n_tables):
        proj = mat @ hp[t].T  # n × n_bits exact int64
        sig = ((proj >= 0).astype(np.int64) * weights[None, :]).sum(axis=1)
        out[:, t] = (np.int64(t) << np.int64(n_bits)) + sig
    return out


def srp_assign(corpus: DataFrame, hyperplanes) -> DataFrame:
    """Assign every corpus vector to its LSH bucket in EACH of the L
    tables: signature = sign-bit pattern of the hyperplane projections
    (Charikar's SRP — P[bit match] = 1 − θ/π, so cosine-close vectors
    collide; L independent tables turn per-table collision probability
    p^bits into 1−(1−p^bits)^L recall — the standard LSH memory/recall
    trade: the index stores L rows per vector).  Output shape matches
    ``ivf_assign`` (vec_id, centroid_id=bucket, cvec, cn) so
    ``ivf_topk`` scores the buckets unchanged — the bucketing strategy
    is pluggable, the scoring engine is shared."""
    import numpy as np
    import pandas as pd

    bc = corpus.sparkSession.sparkContext.broadcast(np.asarray(hyperplanes))

    def kernel(batches):
        hp = bc.value
        n_tables = hp.shape[0]
        for pdf in batches:
            if not len(pdf):
                continue
            cm = np.stack([np.asarray(v, dtype=np.int64) for v in pdf["cvec"]])
            cn = np.sqrt(np.einsum("ij,ij->i", cm, cm).astype(np.float64))
            buckets = _srp_sigs(cm, hp)  # n × L
            out = pdf.loc[pdf.index.repeat(n_tables), ["vec_id", "cvec"]].reset_index(
                drop=True
            )
            out["centroid_id"] = buckets.reshape(-1)
            out["cn"] = np.repeat(cn, n_tables)
            yield out[["vec_id", "centroid_id", "cvec", "cn"]]

    return corpus.select("vec_id", "cvec").mapInPandas(
        kernel, "vec_id bigint, centroid_id bigint, cvec array<bigint>, cn double"
    )


def srp_probes(queries: DataFrame, hyperplanes, multiprobe: int = 1) -> dict[int, list]:
    """Driver-side bucket probes per query (same contract as
    ``ivf_probes``): in every table, the query's own signature plus
    every signature within Hamming distance ``multiprobe`` — the
    standard recall boost that probes the buckets borderline
    projections could have flipped into (0 = own bucket only; each
    extra unit widens the flip radius at C(bits, r) cost).  Queries
    are broadcast-sized by contract.  A vector can collide with a
    query in several tables, so score with
    ``ivf_topk(..., dedup_candidates=True)``."""
    from itertools import combinations

    import numpy as np

    qids, qm, qn = _collect_query_matrix(queries.select("query_id", "qvec"))
    if qids.size == 0:
        return {}
    hp = np.asarray(hyperplanes)
    n_tables, n_bits, _ = hp.shape
    sigs = _srp_sigs(qm, hp)  # Q × L bucket ids
    flip_masks = [0] + [
        sum(1 << b for b in bits)
        for r in range(1, min(multiprobe, n_bits) + 1)
        for bits in combinations(range(n_bits), r)
    ]
    probes: dict[int, list] = {}
    for i, qid in enumerate(qids):
        entry = (int(qid), qm[i], float(qn[i]))
        targets = {int(sigs[i, t]) ^ m for t in range(n_tables) for m in flip_masks}
        for tgt in targets:
            probes.setdefault(tgt, []).append(entry)
    return probes


def ivf_topk(
    assigned: DataFrame,
    probes: dict[int, list],
    k: int = 5,
    dedup_candidates: bool = False,
) -> DataFrame:
    """Per-cluster scoring for IVF search: ``assigned`` is the output
    of ``ivf_assign``; ``probes`` maps centroid_id → list of
    (query_id, qvec int64 ndarray, qn float) for the queries probing
    that cluster (computed driver-side from the broadcast-sized query
    and centroid sets).

    Scoring is a BATCH-BOUNDED ``mapInPandas`` pass: each Arrow batch
    groups its rows by centroid, scores every group against that
    cluster's probing queries with one Gram matmul, and emits each
    query's per-batch partial top-k; a final window takes the global
    top-k.  No shuffle in the scoring stage at all (probes are
    broadcast, so co-locating a cluster is unnecessary for
    correctness), and executor memory is bounded by the Arrow batch
    size — an earlier formulation materialized ONE pandas frame per
    cluster via ``groupBy(centroid_id).applyInPandas``, which at
    nlist=8 means ~1/8 of the corpus per group and OOMs exactly at the
    scale IVF exists for.  Shuffle volume: ≤ nprobe·k rows per query
    into the final window."""
    import numpy as np
    import pandas as pd

    bp = assigned.sparkSession.sparkContext.broadcast(probes)

    def kernel(batches):
        pr = bp.value
        for pdf in batches:
            if not len(pdf):
                continue
            out_q, out_v, out_c = [], [], []
            for cid, grp in pdf.groupby("centroid_id"):
                plist = pr.get(int(cid), [])
                if not plist:
                    continue
                ids = grp["vec_id"].to_numpy()
                cm = np.stack([np.asarray(v, dtype=np.int64) for v in grp["cvec"]])
                cn = grp["cn"].to_numpy()
                qm = np.stack([np.asarray(q[1], dtype=np.int64) for q in plist])
                qn = np.array([q[2] for q in plist], dtype=np.float64)
                cos = _safe_cos(cm @ qm.T, cn, qn)
                for j, (qid, _, _) in enumerate(plist):
                    keep = _topk_rows(ids, cos[:, j], qid, k)
                    out_q.extend([qid] * len(keep))
                    out_v.extend(ids[keep])
                    out_c.extend(cos[keep, j])
            yield pd.DataFrame(
                {
                    "query_id": pd.Series(out_q, dtype="int64"),
                    "vec_id": pd.Series(out_v, dtype="int64"),
                    "cosine": pd.Series(out_c, dtype="float64"),
                }
            )

    scored = assigned.mapInPandas(
        kernel, "query_id bigint, vec_id bigint, cosine double"
    )
    if dedup_candidates:
        # multi-table LSH assignment scores a (query, vector) pair once
        # per colliding table; without collapsing them the top-k window
        # would count the same neighbor k times.  The cosine is
        # identical across duplicates (exact-int math), so MAX is a
        # pure dedup.  Cost: one extra exchange — the groupBy hashes on
        # (query_id, vec_id), which does NOT satisfy the window's
        # ClusteredDistribution(query_id), so the window re-shuffles;
        # both shuffles carry ≤ probes·k rows per query, far below the
        # scoring volume they sit on top of.
        scored = scored.groupBy("query_id", "vec_id").agg(
            F.max("cosine").alias("cosine")
        )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "vec_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def blocked_cosine_pairs(
    blocked: DataFrame,
    block_col: str = "label",
    threshold: float = 0.99,
) -> DataFrame:
    """All qualifying cosine pairs (vec_id_a < vec_id_b, cosine ≥
    threshold) among the (vec_id, v) rows of each block, via a
    per-block integer Gram matrix in numpy — the vectorized-Pandas-UDF
    scale path for embedding near-dup.

    Each block (an IVF/LSH bucket at scale — here the corpus label)
    becomes ONE ``applyInPandas`` group: stack the block's quantized
    vectors into an int64 (n, d) matrix, one ``M @ Mᵀ`` gives every
    pairwise dot exactly (int64 — no float accumulation), norms come
    off the diagonal, and the upper triangle is thresholded in bulk.
    Identical bits to the JVM expression path: exact integer dots, one
    correctly-rounded IEEE division per pair.

    Why not a pair-level join: a blocked self-join evaluates the
    d-element dot per pair through interpreted Catalyst lambdas and
    ships both vectors per candidate row.  Here each vector crosses
    Arrow once and the O(n²d) work runs as one C-loop matmul.  Blocks
    must fit an executor (bucket sizing at scale: n·d·8 bytes plus the
    n² Gram — cap bucket size accordingly)."""
    import numpy as np
    import pandas as pd

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id")
        ids = pdf["vec_id"].to_numpy()
        m = np.stack([np.asarray(v, dtype=np.int64) for v in pdf["v"]])
        gram = m @ m.T
        norms = np.sqrt(np.diag(gram).astype(np.float64))
        cos = _safe_cos(gram, norms, norms)
        ia, ib = np.triu_indices(len(ids), k=1)
        keep = cos[ia, ib] >= threshold
        return pd.DataFrame(
            {
                "vec_id_a": ids[ia][keep],
                "vec_id_b": ids[ib][keep],
                "cosine": cos[ia, ib][keep],
            }
        )

    return blocked.select(block_col, "vec_id", "v").groupBy(block_col).applyInPandas(
        kernel, "vec_id_a bigint, vec_id_b bigint, cosine double"
    )


def semdedup_pairs(
    vectors: DataFrame, centroids: list[list[int]], threshold: float
) -> DataFrame:
    """SemDeDup: assign quantized (vec_id, v) vectors to trained
    centroids with ``ivf_assign`` (which carries each vector through
    its kernel), then one Gram pass per ``centroid_id`` block — the
    `dedup_embedding_cosine` kind='semdedup' pipeline.  Every cluster
    must fit an executor (see ``blocked_cosine_pairs``)."""
    assigned = ivf_assign(
        vectors.select("vec_id", F.col("v").alias("cvec")), centroids
    ).select("vec_id", "centroid_id", F.col("cvec").alias("v"))
    return blocked_cosine_pairs(assigned, block_col="centroid_id", threshold=threshold)
