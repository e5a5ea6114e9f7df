"""Compares query results with the engine's DuckDB oracle SQL.

The same comparison the repository's correctness gate makes: the oracle
SQL runs in DuckDB over the same parquet tables; columns are compared by
sorted name, rows after sorting, values exactly (floats included).
"""
import glob
import os

import duckdb
import numpy as np

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _norm(df):
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if str(df[c].dtype) == "object":
            df[c] = df[c].map(lambda v: str(v) if v is not None else None)
        if "datetime" in str(df[c].dtype):
            df[c] = df[c].astype("datetime64[us]")
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def _compare(sp, du):
    if sorted(sp.columns) != sorted(du.columns):
        return f"columns: spark={sorted(sp.columns)} duckdb={sorted(du.columns)}"
    if len(sp) != len(du):
        return f"rows: spark={len(sp)} duckdb={len(du)}"
    sp, du = _norm(sp), _norm(du)
    for c in sp.columns:
        a, b = sp[c], du[c]
        if np.issubdtype(a.dtype, np.floating) or np.issubdtype(b.dtype, np.floating):
            af, bf = a.astype(float).to_numpy(), b.astype(float).to_numpy()
            same = (af == bf) | (np.isnan(af) & np.isnan(bf))
            if not same.all():
                return f"float column {c}: {int((~same).sum())} values differ"
        else:
            same = (a == b) | (a.isna() & b.isna())
            if not same.all():
                i = int(np.argmax(~same.to_numpy()))
                return f"column {c} row {i}: spark={a.iloc[i]!r} duckdb={b.iloc[i]!r}"
    return None


def check(input_dir, result_dir, oracle_sql):
    """Returns {query: None if equal else the first difference}."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        p = os.path.join(input_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    out = {}
    for name, sql in oracle_sql.items():
        files = glob.glob(os.path.join(result_dir, name, "*.parquet"))
        if not files:
            out[name] = "no result written"
            continue
        try:
            sp = con.execute("SELECT * FROM read_parquet([" +
                             ",".join(f"'{f}'" for f in files) + "])").fetchdf()
            du = con.execute(sql).fetchdf()
            out[name] = _compare(sp, du)
        except Exception as e:  # an oracle that cannot run is a failed check
            out[name] = f"{type(e).__name__}: {e}"
    return out
