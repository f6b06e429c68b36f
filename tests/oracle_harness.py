"""Local stand-in for the driver's DuckDB-oracle comparison.

Runs a queries() callable on Spark and its oracle_sql() on DuckDB over the
same parquet fixtures, then compares: row count, column-name set, and values
(columns sorted by name, rows sorted by all columns).  Floats are compared
EXACTLY — the engine's fold order is pinned so Spark and DuckDB agree
bit-for-bit; any drift is a bug, not noise.
"""

from __future__ import annotations

import math
import os

import duckdb
import numpy as np
import pandas as pd

from binaryvectordb_spark.sources.tables import TABLE_NAMES


def duck_con(sf_dir: str, tables=TABLE_NAMES) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in tables:
        path = os.path.join(sf_dir, f"{t}.parquet")
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = pd.to_datetime(df[c]).dt.tz_localize(None)
        elif df[c].dtype == object:
            import datetime

            def _norm(v):
                if isinstance(v, (list, np.ndarray)):
                    return tuple(v)
                if isinstance(v, datetime.date) and not isinstance(v, datetime.datetime):
                    return pd.Timestamp(v)
                return v
            df[c] = df[c].map(_norm)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def compare(spark_df, sql: str, con: duckdb.DuckDBPyConnection,
            name: str = "?") -> None:
    s = _normalize(spark_df.toPandas())
    o = _normalize(con.sql(sql).df())
    assert len(s) == len(o), f"{name}: row count {len(s)} vs oracle {len(o)}"
    assert list(s.columns) == list(o.columns), \
        f"{name}: columns {list(s.columns)} vs {list(o.columns)}"
    for c in s.columns:
        sv, ov = s[c].to_numpy(), o[c].to_numpy()
        # The driver's value-hash distinguishes int from float (DuckDB HUGEINT
        # lands as float64: 0.0 vs Spark bigint 0 hash-mismatches even though
        # values are equal).  Mirror that strictness: an int column on one
        # side and a float column on the other is a FAILURE — fix the oracle
        # with CAST(... AS BIGINT), not the comparison.
        s_int = pd.api.types.is_integer_dtype(s[c])
        o_int = pd.api.types.is_integer_dtype(o[c])
        s_flt = pd.api.types.is_float_dtype(s[c])
        o_flt = pd.api.types.is_float_dtype(o[c])
        assert not ((s_int and o_flt) or (s_flt and o_int)), (
            f"{name}.{c}: dtype kind mismatch — spark {s[c].dtype} vs oracle "
            f"{o[c].dtype}; the driver's hash treats these as different "
            f"(CAST the oracle aggregate to BIGINT/DOUBLE to match)")
        if pd.api.types.is_float_dtype(s[c]) or pd.api.types.is_float_dtype(o[c]):
            sv = sv.astype(np.float64)
            ov = ov.astype(np.float64)
            both_nan = np.isnan(sv) & np.isnan(ov)
            exact = (sv == ov) | both_nan
            if not exact.all():
                bad = np.flatnonzero(~exact)[:5]
                diffs = [(int(i), float(sv[i]), float(ov[i])) for i in bad]
                raise AssertionError(
                    f"{name}.{c}: {len(np.flatnonzero(~exact))} mismatches, "
                    f"first {diffs}")
        else:
            eq = pd.Series(sv).astype(object).eq(pd.Series(ov).astype(object))
            # NULL == NULL for comparison purposes
            nulls = pd.Series(sv).isna() & pd.Series(ov).isna()
            assert (eq | nulls).all(), \
                f"{name}.{c}: mismatch at rows {list(np.flatnonzero(~(eq | nulls))[:5])}"
