"""Shared fixtures: one SparkSession per test run, a DuckDB connection
with the driver's views registered, and the oracle comparator.

Topology re-run (round 10): the WHOLE suite also passes under real
separate-process executors —
``SPARK_GRAFT_MASTER='local-cluster[2,4,4096]' python -m pytest tests/``
(the session factory ships the package zip to executor Python workers
via addPyFile; see SCALING.md §"Round-10 local-cluster smoke").  Worth
re-running after any change to Arrow kernels, broadcast usage, or
stateful streaming."""

from __future__ import annotations

import math
import sys
from decimal import Decimal
from pathlib import Path

import duckdb
import pytest

REPO = Path(__file__).resolve().parents[1]
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

from olist_ecommerce_data_warehouse_spark.catalog import TABLES  # noqa: E402
from olist_ecommerce_data_warehouse_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"  # tests use the smallest tier for speed
SF_DIR_MID = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    # width from $SPARK_GRAFT_CPUS (else all local cores), as the bench runs
    s = get_spark("olist_spark_tests")
    yield s
    # every streaming test drains and stops its queries; one left running
    # would keep scheduling batches beside the tests that follow it
    assert not s.streams.active, [q.name for q in s.streams.active]


@pytest.fixture(scope="session")
def ddb():
    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{SF_DIR}/{name}.parquet')"
        )
    yield con
    con.close()


def _canon_cell(v) -> str:
    """Canonicalize one cell for order-insensitive multiset compare."""
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "∅"
        return repr(v)
    if isinstance(v, Decimal):
        return str(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon_cell(x) for x in v) + "]"
    try:
        import pandas as pd

        if v is pd.NaT:
            return "∅"
        if isinstance(v, pd.Timestamp):
            return v.isoformat()
    except Exception:
        pass
    return str(v)


def canonical_rows(pdf) -> list[tuple[str, ...]]:
    """Sort columns by name, canonicalize cells, sort rows.

    Column-wise (Series.tolist + per-cell canon + zip) rather than
    iterrows: IDENTICAL output — tolist yields builtin scalars whose
    reprs match the numpy scalars iterrows yields (asserted in
    test_canonical_rows_columnwise_parity) — but ~15× faster, which is
    what makes the 6M-row sf1 sweep comparisons tractable."""
    cols = sorted(pdf.columns)
    if not cols:
        return []
    canon = [[_canon_cell(v) for v in pdf[c].tolist()] for c in cols]
    return sorted(zip(*canon))


def assert_matches_oracle(spark_df, ddb_con, oracle: str, name: str = "") -> None:
    """Driver-gate replica: row count + column names + order-insensitive
    exact value match between a Spark DataFrame and DuckDB SQL."""
    spdf = spark_df.toPandas()
    odf = ddb_con.execute(oracle).df()
    assert sorted(spdf.columns) == sorted(odf.columns), (
        f"{name}: column mismatch spark={sorted(spdf.columns)} oracle={sorted(odf.columns)}"
    )
    assert len(spdf) == len(odf), f"{name}: row count spark={len(spdf)} oracle={len(odf)}"
    srows, orows = canonical_rows(spdf), canonical_rows(odf)
    if srows != orows:
        diffs = [(a, b) for a, b in zip(srows, orows) if a != b][:5]
        raise AssertionError(f"{name}: value mismatch; first diffs: {diffs}")
