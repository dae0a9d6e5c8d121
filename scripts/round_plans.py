"""Capture `explain("formatted")` snapshots for one optimization round.

    python scripts/round_plans.py r11 before q1 q2 ...
    python scripts/round_plans.py r11 after  q1 q2 ...

Writes plans/<round>/<query>_<tag>.txt — the committed evidence the
optimization deliverable requires.  Output is the full formatted plan,
capped at 400 lines (the iterative plans unroll megabytes of lineage;
the shape claims live in the first segment)."""

from __future__ import annotations

import contextlib
import io
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

SF = "/root/testdata/sf0.001"
CAP = 400


def main() -> None:
    rnd, tag = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    from olist_ecommerce_data_warehouse_spark.plans import REGISTRY
    from olist_ecommerce_data_warehouse_spark.session import get_spark

    out_dir = REPO / "plans" / rnd
    out_dir.mkdir(parents=True, exist_ok=True)
    spark = get_spark(f"{rnd}_plans", cpus=8)
    for name in names:
        df = REGISTRY[name].fn(spark, SF)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        text = buf.getvalue()
        lines = text.splitlines()
        if len(lines) > CAP:
            text = "\n".join(lines[:CAP]) + f"\n… ({len(lines) - CAP} more lines trimmed)"
        (out_dir / f"{name}_{tag}.txt").write_text(text + "\n")
        print(f"{name}_{tag}.txt: {min(len(lines), CAP)} lines, "
              f"{text.count('Exchange')} Exchange refs")
    spark.stop()


if __name__ == "__main__":
    main()
