"""Output checks against DuckDB, at the tolerance of the repository's
oracle gate (tools/check.py): same column names, same numeric kinds, same
row count, and values equal within an absolute 1e-9 after sorting columns
by name and rows by value. A copy, not an import, so that a change to the
program's own tools cannot change what the benchmark accepts."""
import glob
import os

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def connect(lake: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        p = f"{lake}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def _norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        elif df[c].dtype == object:
            df[c] = df[c].apply(lambda v: tuple(v) if isinstance(v, (list, tuple))
                                or type(v).__name__ == "ndarray" else v)
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("Int64")
        elif pd.api.types.is_bool_dtype(df[c]):
            df[c] = df[c].astype("boolean")
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def read_spark_output(path: str) -> pd.DataFrame:
    files = sorted(glob.glob(f"{path}/*.parquet"))
    if not files:
        raise ValueError(f"no parquet output under {path}")
    return pd.concat([pd.read_parquet(f) for f in files])


def compare(got: pd.DataFrame, exp: pd.DataFrame) -> str:
    """None when equal, else the first difference found."""
    got, exp = _norm(got), _norm(exp)
    if list(got.columns) != list(exp.columns):
        return f"columns {list(got.columns)} vs {list(exp.columns)}"
    for c in got.columns:
        for kind in (pd.api.types.is_float_dtype, pd.api.types.is_integer_dtype):
            if kind(got[c]) != kind(exp[c]):
                return f"dtype kind of {c}: {got[c].dtype} vs {exp[c].dtype}"
    if len(got) != len(exp):
        return f"rows {len(got)} vs {len(exp)}"
    try:
        pd.testing.assert_frame_equal(got, exp, check_dtype=False, check_exact=False,
                                      rtol=0, atol=1e-9)
    except AssertionError as e:
        return f"values: {str(e)[:300]}"
    return None


def check_sql(con, output: str, sql: str) -> str:
    """Compare a written Spark result with the rows DuckDB computes."""
    try:
        got = read_spark_output(output)
        exp = con.execute(sql).df()
    except Exception as e:  # an unreadable output or oracle is a failed check
        return f"{type(e).__name__}: {str(e)[:300]}"
    return compare(got, exp)
