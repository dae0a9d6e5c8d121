"""Embedding-column utilities: normalization and int8 quantization.

The billion-vector storage story: float32 embeddings at 100 TB scale
are mostly DEAD WEIGHT for retrieval — production ANN systems store
int8-quantized vectors (4× smaller, SIMD-friendlier) and keep cosine
fidelity by normalizing first.  These are the column-level primitives;
they compose with the IVF/brute-force search operators (which run on
the library's exact-int64 grid regardless).

All expressions are built-in higher-order array functions (JVM-side;
no Python in the path).  Note Catalyst evaluates higher-order lambdas
interpreted per element — fine for these narrow per-row transforms
(one pass per vector), NOT for hot aggregation loops (see the MinHash
fold lesson, operators/textdedup.py).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def l2_norm(col: Column | str) -> Column:
    """||v||₂ as double."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sqrt(
        F.aggregate(c, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))
    )


def l2_normalize(col: Column | str) -> Column:
    """v / ||v||₂ (array<double>); zero vectors pass through unchanged
    (guard against division by zero)."""
    c = F.col(col) if isinstance(col, str) else col
    n = l2_norm(c)
    return F.when(n == 0.0, c.cast("array<double>")).otherwise(
        F.transform(c, lambda x: x.cast("double") / n)
    )


def quantize_int8(col: Column | str) -> Column:
    """Symmetric int8 quantization: round(v / s * 127) clamped to
    [-127, 127], with s = max|v| per vector (the standard per-vector
    absmax scheme).  Returns array<tinyint>; pair with the
    per-vector scale (``absmax``) to dequantize."""
    c = F.col(col) if isinstance(col, str) else col
    s = absmax(c)
    q = F.transform(
        c,
        lambda x: F.greatest(
            F.lit(-127),
            F.least(F.lit(127), F.round(x.cast("double") / s * 127).cast("int")),
        ).cast("tinyint"),
    )
    # zero scale (all-zero vector) → all-zero codes
    return F.when(s == 0.0, F.transform(c, lambda x: F.lit(0).cast("tinyint"))).otherwise(q)


def absmax(col: Column | str) -> Column:
    """max|vᵢ| as double — the per-vector quantization scale."""
    c = F.col(col) if isinstance(col, str) else col
    return F.aggregate(
        c, F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x.cast("double")))
    )


def dequantize_int8(codes: Column | str, scale: Column) -> Column:
    """int8 codes + per-vector scale → array<double> approximation of
    the original vector (max abs error ≤ scale/254 per component)."""
    c = F.col(codes) if isinstance(codes, str) else codes
    return F.transform(c, lambda q: q.cast("double") * scale / 127.0)


def quantize_int8_stats(vectors, pq_codebooks=None):
    """Normalize + int8-quantize every ``(vec_id, embedding)`` vector
    and emit per-vector quantization statistics in ONE Arrow-batched
    pass: (vec_id, l2_norm,
    scale, codes_fp, max_abs_err, in_bounds).

    ``pq_codebooks`` (round 5): a trained ``operators.pq`` codebook
    list fuses PQ ENCODING into the same pass — extra columns
    pq_code_{j} per subspace and the integer pq_recon_err.  Fusion is
    the scale point: the plan stays a single exchange-free Arrow map
    (asserted in tests/test_plan_quality.py); a join of two separate
    derivations of the same scan would shuffle the corpus twice for
    nothing.  The in-kernel grid (floor(float64(x)·10^6)) is the same
    IEEE op sequence as operators.similarity.quantized, so codes are
    bit-identical to the standalone pq_encode path.

    This is the HOT-path twin of the column expressions above.  The
    expression path evaluates higher-order lambdas interpreted per
    element, and chained transforms (normalize → absmax → quantize →
    dequantize → error) re-inline the norm fold inside every lambda —
    measured ~70 ms/row at d=64, useless beyond toy scale.  The kernel
    does the same math vectorized per Arrow batch.

    Bit-compatibility contract (what makes this oracle-checkable): all
    reductions are LEFT FOLDS in element order (explicit per-dimension
    loops, NOT np.sum/np.max pairwise trees), rounding is half-away-
    from-zero (sign·floor(|y|+0.5), matching Spark F.round and DuckDB
    round — numpy's own round() is half-even and would diverge), and
    elementwise IEEE ops are performed in the same association order as
    the SQL twin — so float64 results are bit-identical to DuckDB's
    ``list_reduce`` fold and the md5 code fingerprint is exact."""
    import hashlib

    import numpy as np
    import pandas as pd

    def kernel(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            vm = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            )  # n × d
            d = vm.shape[1]
            # left-fold sum of squares (matches list_reduce order)
            acc = np.zeros(len(vm))
            for j in range(d):
                acc = acc + vm[:, j] * vm[:, j]
            nrm = np.sqrt(acc) + 0.0  # +0.0 canonicalizes -0.0 (parity)
            safe = np.where(nrm == 0.0, 1.0, nrm)
            u = vm / safe[:, None]
            u[nrm == 0.0] = vm[nrm == 0.0]
            # left-fold max of |u|
            s = np.zeros(len(vm))
            for j in range(d):
                aj = np.abs(u[:, j])
                s = np.where(aj > s, aj, s)  # CASE WHEN a > b THEN a ELSE b
            # -0.0 components fold to a -0.0 scale in DuckDB (its abs
            # keeps the sign of negative zero) but +0.0 here — add 0.0
            # on BOTH sides so the outputs are bit-identical (IEEE:
            # -0.0 + 0.0 = +0.0); the s == 0 branch is sign-blind
            s = s + 0.0
            safe_s = np.where(s == 0.0, 1.0, s)
            y = u / safe_s[:, None] * 127.0
            codes = np.sign(y) * np.floor(np.abs(y) + 0.5)  # half-away
            codes = np.clip(codes, -127, 127).astype(np.int64)
            codes[s == 0.0] = 0
            deq = codes.astype(np.float64) * safe_s[:, None] / 127.0
            deq[s == 0.0] = 0.0
            err = np.abs(u - deq).max(axis=1) + 0.0  # +0.0: -0.0 parity
            fp = [
                hashlib.md5(",".join(str(int(c)) for c in row).encode()).hexdigest()
                for row in codes
            ]
            out = {
                "vec_id": pdf["vec_id"].to_numpy(),
                "l2_norm": nrm,
                "scale": s,
                "codes_fp": fp,
                "max_abs_err": err,
                "in_bounds": (err <= s / 254.0 + 1e-12).astype("int32"),
            }
            if pq_codebooks is not None:
                # same grid as operators.similarity.quantized, same
                # argmin core as pq_encode (shared helper — one
                # implementation, two call sites, no drift)
                from olist_ecommerce_data_warehouse_spark.operators.pq import (
                    pq_encode_block,
                )

                qv = np.floor(vm * 1_000_000.0).astype(np.int64)
                pq_codes, recon = pq_encode_block(qv, pq_codebooks)
                for j in range(len(pq_codebooks)):
                    out[f"pq_code_{j}"] = pq_codes[:, j]
                out["pq_recon_err"] = recon
            yield pd.DataFrame(out)

    schema = (
        "vec_id bigint, l2_norm double, scale double, codes_fp string, "
        "max_abs_err double, in_bounds int"
    )
    if pq_codebooks is not None:
        schema += (
            ", "
            + ", ".join(f"pq_code_{j} int" for j in range(len(pq_codebooks)))
            + ", pq_recon_err bigint"
        )
    return vectors.select("vec_id", "embedding").mapInPandas(kernel, schema)
