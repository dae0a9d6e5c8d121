"""Order-independent comparison of a plan's rows with its DuckDB oracle."""

from __future__ import annotations

import hashlib
import math
import os
from decimal import Decimal

import duckdb
import pandas as pd

def _cell(v) -> str:
    if v is None or v is pd.NaT:
        return "∅"
    if isinstance(v, float):
        return "∅" if math.isnan(v) else repr(v)
    if isinstance(v, Decimal):
        return str(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if hasattr(v, "tolist") and not isinstance(v, str):  # numpy arrays
        return _cell(v.tolist())
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    return str(v)


def digest(pdf: pd.DataFrame) -> tuple[int, str]:
    """(rows, sha1 over sorted canonical rows with columns sorted by name)."""
    cols = sorted(pdf.columns)
    canon = [[_cell(v) for v in pdf[c].tolist()] for c in cols]
    rows = sorted("\x1f".join(r) for r in zip(*canon)) if cols else []
    h = hashlib.sha1("\x1e".join(cols).encode())
    for r in rows:
        h.update(r.encode())
        h.update(b"\x1e")
    return len(pdf), h.hexdigest()


def duckdb_views(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A connection with one view per ``<table>.parquet`` file in ``sf_dir``."""
    con = duckdb.connect()
    for f in sorted(os.listdir(sf_dir)):
        if f.endswith(".parquet"):
            path = os.path.join(sf_dir, f)
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{path}')")
    return con
