"""Media header-probe stress at 100× driver scale.

Claim under test: `probe_media_headers` is O(header bytes) per row in
one Arrow map (no shuffle), so a corpus-wide metadata pass costs one
scan — the reason pipelines probe BEFORE deciding what to decode.

500k rows (sf0.1 documents ×100, disjoint ids) are synthesized into
real PNG/JPEG/WAV/MP4 containers and probed; the closed-form field
sums from `_synth_fields` verify every parsed header at this scale
too (same invariant the driver oracle checks at sf0.01).

Usage: python scripts/stress_probe.py [replicas]   (default 100)
Prints one JSON line; measured row recorded in SCALING.md.
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from pyspark.sql import functions as F  # noqa: E402

from olist_ecommerce_data_warehouse_spark.catalog import table  # noqa: E402
from olist_ecommerce_data_warehouse_spark.operators.multimodal import (  # noqa: E402
    _synth_container_bytes,
    _synth_fields,
    probe_media_headers,
    synthesize,
)
from olist_ecommerce_data_warehouse_spark.session import get_spark  # noqa: E402


def main() -> None:
    replicas = int(sys.argv[1]) if len(sys.argv) > 1 else 100
    spark = get_spark("stress_probe", cpus=32)
    sf = "/root/testdata/sf0.1"

    docs = table(spark, sf, "documents").select("doc_id")
    ids = [r["doc_id"] for r in docs.collect()]
    rep = spark.range(replicas).select((F.col("id") * 1_000_000).alias("__shift"))
    big = (
        docs.crossJoin(rep)
        .select((F.col("doc_id") + F.col("__shift")).alias("doc_id"))
        .repartition(64)
    )

    t0 = time.time()
    probed = probe_media_headers(synthesize(big, _synth_container_bytes))
    got = {
        r["format"]: r
        for r in probed.groupBy("format")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("width").alias("sw"),
            F.sum("height").alias("sh"),
            F.sum("progressive").alias("sp"),
        )
        .collect()
    }
    wall = round(time.time() - t0, 2)

    # closed-form check over the full replicated id set
    want: dict[str, list[int]] = {}
    for base in ids:
        for r in range(replicas):
            mid = base + r * 1_000_000
            fmt, w, h, ch, rate, depth, prog = _synth_fields(mid)
            acc = want.setdefault(fmt, [0, 0, 0, 0])
            acc[0] += 1
            acc[1] += w
            acc[2] += h
            acc[3] += prog
    ok = all(
        (got[f]["n"], got[f]["sw"], got[f]["sh"], got[f]["sp"]) == tuple(v)
        for f, v in want.items()
    )

    n_rows = sum(v[0] for v in want.values())
    print(
        json.dumps(
            {
                "rows": n_rows,
                "replicas": replicas,
                "formats": {f: got[f]["n"] for f in sorted(got)},
                "all_sums_match_closed_form": ok,
                "wall_s": wall,
                "rows_per_s": int(n_rows / wall),
            }
        )
    )
    spark.stop()
    if not ok:
        sys.exit(1)


if __name__ == "__main__":
    main()
