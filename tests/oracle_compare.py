"""Local re-implementation of the driver's Spark-vs-DuckDB compare.

Row count + column-name set + order-insensitive value compare with columns
sorted by name.

Round-2 hardening: the driver canonicalizes BOTH sides through pandas
(observed from its r01 traceback: `DataFrame.sort_values` over all columns,
Categorical factorization). That conversion is semantically loaded:
- DuckDB `SUM(BIGINT)` returns HUGEINT, which pandas renders as float64 —
  so an uncast integer SUM hash-mismatches Spark's int64 even when every
  value is equal (the r01 `docs_pretraining_mix` failure);
- list-valued cells are unhashable and crash the canonicalizer (the r01
  `text_postings` failure).
This harness therefore converts via `toPandas()` / `.df()` and runs the
same all-columns `sort_values` before comparing, so both failure modes
reproduce locally at sf0.001 instead of surfacing in the driver run.
"""

from __future__ import annotations

import math
from datetime import date, datetime

import duckdb

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def _norm(v):
    import numpy as np
    import pandas as pd

    if isinstance(v, np.generic):
        v = v.item()
    if v is None or v is pd.NaT:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # full-precision repr: we promise bit-exact doubles via exact
        # decimal aggregation; tiny numbers still compare exactly
        return repr(v)
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, datetime):
        return v.isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    try:
        import decimal

        if isinstance(v, decimal.Decimal):
            # DRIVER-FAITHFUL (round-9 fix): the driver hashes the Decimal's
            # string form, so a Spark DECIMAL(18,2) "506627.00" mismatches
            # DuckDB's float64 "506627.0" even when values are equal — the
            # exact class the r8 q_weighted_median driver-red exposed. The
            # old `repr(float(v))` erased that difference and made the
            # local gate blind to it. Registered queries must not expose
            # DecimalType outputs at all (tests/test_registered_queries.py);
            # this normalization makes any violation fail locally first.
            return str(v)
    except ImportError:
        pass
    return v


def _canon(pd_df):
    """Mirror the driver: select columns sorted by name, sort rows over all
    columns (raises TypeError on unhashable cells — lists/ndarrays — exactly
    like the driver's canonicalizer), then normalize values."""
    cols = sorted(pd_df.columns)
    df = pd_df[cols].sort_values(by=cols)
    rows = [
        tuple(_norm(v) for v in row)
        for row in df.itertuples(index=False, name=None)
    ]
    # defensive second sort on normalized values: sort_values ties on
    # float-repr vs raw float, NaN placement etc. must not flip the compare
    rows.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return cols, rows


def compare(spark_df, con: duckdb.DuckDBPyConnection, sql: str):
    """Return (ok, message). Mirrors the driver's t2 gate."""
    s_pd = spark_df.toPandas()
    d_pd = con.execute(sql).df()

    if sorted(s_pd.columns) != sorted(d_pd.columns):
        return (
            False,
            f"schema mismatch: spark={sorted(s_pd.columns)} "
            f"duck={sorted(d_pd.columns)}",
        )
    if len(s_pd) != len(d_pd):
        return False, f"rowcount mismatch: spark={len(s_pd)} duck={len(d_pd)}"
    try:
        _, sn = _canon(s_pd)
    except TypeError as e:
        return False, f"spark result not canonicalizable (driver would crash): {e}"
    try:
        _, dn = _canon(d_pd)
    except TypeError as e:
        return False, f"oracle result not canonicalizable (driver would crash): {e}"
    if sn != dn:
        diffs = [(a, b) for a, b in zip(sn, dn) if a != b][:3]
        return False, f"value mismatch, first diffs: {diffs}"
    return True, f"ok ({len(sn)} rows)"
