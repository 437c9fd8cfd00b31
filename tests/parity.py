"""Parity harness: run a suite query in Spark AND its DuckDB oracle,
canonicalize both results, and assert exact equality.

This mirrors the driver's t2 gate (row-count + schema + order-
insensitive value hash) but is stricter: we require exact value
equality after canonicalization, so any float-rounding strategy that
would break the driver's hash breaks here first.
"""

from __future__ import annotations

import math
import os

import duckdb
import numpy as np
import pandas as pd

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def duckdb_conn(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def write_table(spark, tmp_path, name: str, df) -> str:
    """Write ``df`` as ``<tmp_path>/<name>.parquet`` (one file) and
    return the directory, to stand in for an sf_dir."""
    df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(str(tmp_path), f"{name}.parquet")
    )
    return str(tmp_path)


def _canon_value(v):
    """Canonical scalar: nested arrays → tuples, floats normalized."""
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_canon_value(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _canon_value(x)) for k, x in v.items()))
    if isinstance(v, (float, np.floating)):
        f = float(v)
        return "NaN" if math.isnan(f) else f
    if isinstance(v, (np.integer,)):
        return int(v)
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    if v is None or v is pd.NaT:
        return None
    return v


def canonicalize(df: pd.DataFrame) -> list[tuple]:
    cols = sorted(df.columns)
    out = []
    for row in df[cols].itertuples(index=False, name=None):
        out.append(tuple(_canon_value(v) for v in row))
    out.sort(key=lambda r: tuple(str(x) for x in r))
    return out


def _dtype_kind(dt) -> str:
    s = str(dt)
    if s.startswith("datetime64"):
        return "datetime"
    return s


def compare(spark_df, oracle_df: pd.DataFrame, name: str = "query") -> None:
    spd = spark_df.toPandas()
    assert sorted(spd.columns) == sorted(oracle_df.columns), (
        f"{name}: column mismatch spark={sorted(spd.columns)} "
        f"oracle={sorted(oracle_df.columns)}"
    )
    for c in spd.columns:
        ka, kb = _dtype_kind(spd[c].dtype), _dtype_kind(oracle_df[c].dtype)
        assert ka == kb, f"{name}: dtype mismatch on {c!r}: spark={ka} oracle={kb}"
    a, b = canonicalize(spd), canonicalize(oracle_df)
    assert len(a) == len(b), f"{name}: row count spark={len(a)} oracle={len(b)}"
    mismatches = [i for i, (x, y) in enumerate(zip(a, b)) if x != y]
    if mismatches:
        i = mismatches[0]
        raise AssertionError(
            f"{name}: {len(mismatches)}/{len(a)} canonical rows differ; "
            f"first at {i}:\n  spark : {a[i]}\n  oracle: {b[i]}"
        )
