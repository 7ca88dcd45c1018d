"""Checks each distinct query result the harness dumped against DuckDB.

Every query the benchmark times has a twin in `SparkEntry.oracleSql` (the
harness writes them to `oracle_sql.json`), evaluated by DuckDB over the same
parquet files. Queries whose output order is not observable have no twin;
for those (listed in ROWS_ONLY) only the row count is checked. The value
comparison follows the repository's own oracle rules: columns sorted by
name, integer and float kinds never mixed, floats equal within 1e-9.
"""
import glob
import os

import duckdb
import numpy as np
import pandas as pd

# Rows-only queries and the DuckDB count their output must have.
ROWS_ONLY = {"q_sort_within": "SELECT count(*) FROM documents"}


def _kind(col):
    d = col.dtype
    if pd.api.types.is_bool_dtype(d):
        return "bool"
    if pd.api.types.is_float_dtype(d):
        return "float"
    if pd.api.types.is_integer_dtype(d):
        return "int"
    if pd.api.types.is_datetime64_any_dtype(d):
        return "datetime"
    return "object"


def _canon(df):
    df = df[sorted(df.columns)].reset_index(drop=True)
    for c in df.columns:
        k = _kind(df[c])
        if k == "float":
            df[c] = df[c].astype("float64")
        elif k == "int":
            df[c] = df[c].astype("int64")
    return df


def _same(a, b):
    """True when two object cells are equal, arrays compared element-wise."""
    if isinstance(a, np.ndarray) or isinstance(b, np.ndarray):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    if a is None or b is None or (isinstance(a, float) and np.isnan(a)):
        return (a is None or a != a) and (b is None or b != b)
    if isinstance(a, float) or isinstance(b, float):
        return abs(a - b) <= 1e-9
    return a == b


def compare(spark_df, duck_df):
    """None when equal, else a one-line reason."""
    s, d = _canon(spark_df), _canon(duck_df)
    if list(s.columns) != list(d.columns):
        return f"columns {list(s.columns)} != {list(d.columns)}"
    if s.shape != d.shape:
        return f"shape {s.shape} != {d.shape}"
    for c in s.columns:
        a, b = s[c], d[c]
        if _kind(a) != _kind(b):
            return f"column {c}: kind {_kind(a)} != {_kind(b)}"
        if _kind(a) == "float":
            ok = np.isclose(a.to_numpy(), b.to_numpy(), rtol=0, atol=1e-9, equal_nan=True)
        elif _kind(a) == "datetime":
            av, bv = pd.to_datetime(a), pd.to_datetime(b)
            ok = ((av == bv) | (av.isna() & bv.isna())).to_numpy()
        else:
            ok = np.array([_same(x, y) for x, y in zip(a, b)], dtype=bool)
        if not ok.all():
            row = int(np.argmin(ok))
            return f"column {c} row {row}: {a[row]!r} != {b[row]!r}"
    return None


class Oracle:
    """DuckDB over every table of `data_dir`, evaluating `sql_by_query`."""

    def __init__(self, data_dir, sql_by_query, threads):
        self.con = duckdb.connect()
        self.con.execute(f"SET threads = {int(threads)}")
        self.con.execute("SET enable_progress_bar = false")
        for f in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
            name = os.path.basename(f)[:-len(".parquet")]
            self.con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{f}')")
        self.sql = sql_by_query
        self.expected = {}

    def check(self, query, dump_dir):
        """None when the dumped result matches the twin, else the reason."""
        files = sorted(glob.glob(os.path.join(dump_dir, "*.parquet")))
        got = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True) if files else None
        if got is None:
            return "no result dump"
        if query in ROWS_ONLY:
            if query not in self.expected:
                self.expected[query] = self.con.execute(ROWS_ONLY[query]).fetchone()[0]
            n = self.expected[query]
            return None if len(got) == n else f"rows {len(got)} != {n}"
        if query not in self.sql:
            return "no DuckDB twin and not rows-only"
        if query not in self.expected:
            self.expected[query] = self.con.execute(self.sql[query]).fetchdf()
        return compare(got, self.expected[query])
