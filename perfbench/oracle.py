"""Output checks against DuckDB: each engine output is compared with the
engine's own registered oracle SQL, run by DuckDB over the same
generated corpus. Both sides are canonicalized the same way: columns
sorted by name, doubles rounded to 4 decimals, timestamps as text, rows
sorted."""
import glob
import os

import duckdb
import pandas as pd


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype.kind == "f":
            df[c] = df[c].round(4)
        if str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype("datetime64[us]").astype(str)
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def compare(got, exp):
    """None when the two frames agree, else a one-line reason."""
    g, e = canon(got), canon(exp)
    if list(g.columns) != list(e.columns):
        return f"columns {list(g.columns)} vs {list(e.columns)}"
    if len(g) != len(e):
        return f"rows {len(g)} vs {len(e)}"
    if not g.equals(e):
        bad = (g != e).any(axis=1)
        return f"{int(bad.sum())}/{len(g)} rows differ, first {g[bad].head(1).to_dict('records')}"
    return None


def check_all(entries):
    """entries: name -> {sql, tables, output}, where `tables` is the
    directory holding the `documents.parquet` the SQL reads. Returns
    name -> reason for every mismatch (an empty dict when all agree)."""
    bad = {}
    cons = {}
    for name, e in sorted(entries.items()):
        con = cons.get(e["tables"])
        if con is None:
            con = cons[e["tables"]] = duckdb.connect()
            p = os.path.join(e["tables"], "documents.parquet")
            con.execute(f"CREATE VIEW documents AS SELECT * FROM '{p}'")
        try:
            if not glob.glob(os.path.join(e["output"], "*.parquet")):
                raise RuntimeError("no output written")
            reason = compare(pd.read_parquet(e["output"]), con.execute(e["sql"]).df())
        except Exception as ex:  # a failing oracle or unreadable output is a failed check
            reason = f"{type(ex).__name__}: {ex}"[:300]
        if reason:
            bad[name] = reason
    for con in cons.values():
        con.close()
    return bad
