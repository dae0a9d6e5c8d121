import sys, json, time
sys.path.insert(0, "/root/repo")
import duckdb
import __spark_entry__ as e
from olist_ecommerce_data_warehouse_spark.session import get_spark
sys.path.insert(0, "/root/repo/tests")
from conftest import canonical_rows

import os, threading
SF = os.environ.get("VERIFY_SF_DIR", "/root/testdata/sf0.01")
# Optional per-oracle wall cap for correctness-at-scale sweeps: some
# oracles are deliberately QUADRATIC ground truth (all-pairs Jaccard)
# that is feasible at the driver's sf0.01 gate and at sf0.1 but not at
# sf1 — with a cap set, an over-budget oracle is interrupted and
# recorded under TIMEOUTS (not FAILS), keeping the sweep honest about
# what was checked vs what is infeasible to ground-truth at that SF.
ORACLE_TIMEOUT = float(os.environ.get("ORACLE_TIMEOUT_SEC", "0") or 0)
# SCALE_ORACLES=1 (round 9): substitute the checked-in LINEAR replay
# oracles (scripts/scale_oracles.py) for the two plans whose naive
# primary ground truths are infeasible past ~sf0.1 — the sweep then
# reads 50/50 MATCH with those rows labeled "OK (replay oracle)".
# Replay ≡ primary is itself hash-proven at sf0.01 in
# tests/test_correctness.py::test_scale_oracles_match_primary.
USE_SCALE_ORACLES = os.environ.get("SCALE_ORACLES", "") == "1"
if USE_SCALE_ORACLES:
    sys.path.insert(0, "/root/repo/scripts")
    from scale_oracles import SCALE_ORACLES
else:
    SCALE_ORACLES = {}
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

# Session-lifecycle scratch retention (round 10, verdict task 5): the
# full policy sweep runs at startup so any verify session bounds a
# dirty .scratch instead of the policy being manual-only.
sys.path.insert(0, "/root/repo/scripts")
from clean_scratch import sweep as _scratch_sweep
_swept = _scratch_sweep()
if _swept:
    print(f"scratch sweep: removed {len(_swept)} stale item(s)", flush=True)

spark = get_spark("verify")
n = len(e.entry(spark).collect())
print("entry rows:", n, flush=True)
assert n > 0

con = duckdb.connect()
for t in TABLES:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")

oracles = e.oracle_sql()
# VERIFY_ONLY=a,b,c: restrict to a subset (spot-sweeps at big SFs)
only = {s for s in os.environ.get("VERIFY_ONLY", "").split(",") if s}
fails = []
timeouts = []
walls = {}
for name, fn in e.queries().items():
    if only and name not in only:
        continue
    try:
        t0 = time.perf_counter()
        spdf = fn(spark, SF).toPandas()
        t_spark = time.perf_counter() - t0
        if name not in oracles:
            print(f"{name}: rows-only {len(spdf)}", flush=True)
            continue
        if name in SCALE_ORACLES:
            t0 = time.perf_counter()
            odf = SCALE_ORACLES[name](con)
            t_oracle = time.perf_counter() - t0
            walls[name] = {"spark_sec": round(t_spark, 2),
                           "oracle_sec": round(t_oracle, 2)}
            ok = canonical_rows(spdf) == canonical_rows(odf)
            print(f"{name}: {'OK (replay oracle)' if ok else 'MISMATCH (replay oracle)'} "
                  f"({len(spdf)} vs {len(odf)}) "
                  f"spark={t_spark:.1f}s oracle={t_oracle:.1f}s", flush=True)
            if not ok:
                fails.append(name)
            continue
        t0 = time.perf_counter()
        timer = None
        if ORACLE_TIMEOUT:
            timer = threading.Timer(ORACLE_TIMEOUT, con.interrupt)
            timer.start()
        try:
            odf = con.execute(oracles[name]).fetchdf()
        except duckdb.InterruptException:
            timeouts.append(name)
            print(f"{name}: ORACLE-TIMEOUT after {ORACLE_TIMEOUT:.0f}s "
                  f"(spark={t_spark:.1f}s, {len(spdf)} rows — quadratic ground "
                  f"truth infeasible at this SF)", flush=True)
            walls[name] = {"spark_sec": round(t_spark, 2), "oracle_sec": None}
            continue
        finally:
            if timer:
                timer.cancel()
        t_oracle = time.perf_counter() - t0
        walls[name] = {"spark_sec": round(t_spark, 2), "oracle_sec": round(t_oracle, 2)}
        srows, orows = canonical_rows(spdf), canonical_rows(odf)
        ok = srows == orows
        print(f"{name}: {'OK' if ok else 'MISMATCH'} ({len(spdf)} vs {len(odf)}) "
              f"spark={t_spark:.1f}s oracle={t_oracle:.1f}s", flush=True)
        if not ok:
            fails.append(name)
            # show first diff
            for i, (a, b) in enumerate(zip(srows, orows)):
                if a != b:
                    print("  first diff row", i, "spark:", a[:4], "oracle:", b[:4], flush=True)
                    break
    except Exception as ex:
        print(f"{name}: ERROR {ex}", flush=True)
        fails.append(name)
print("WALLS:", json.dumps(walls), flush=True)
print("TIMEOUTS:", timeouts, flush=True)
print("FAILS:", fails, flush=True)
spark.stop()
sys.exit(1 if fails else 0)
