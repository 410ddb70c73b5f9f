"""DuckDB oracle check of the query workload's results.

The benchmark process writes each query's first result as Parquet and
lists, per query, its oracle SQL, the result directory and how many
timed operations ran it (later results were checked equal to the first
one inside the process). Each query's oracle SQL runs in DuckDB over the
same generated Parquet, and both sides are compared after the
normalization of scripts/check_oracle.py: columns sorted by name, rows
sorted by every column, floats printed to six significant digits.
"""
import glob
import os
import sys

import duckdb
import pandas as pd


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    try:
        df = df.sort_values(by=list(df.columns), kind="mergesort")
    except Exception:
        pass
    return df.reset_index(drop=True)


def value_repr(df: pd.DataFrame) -> list:
    out = []
    for row in df.itertuples(index=False):
        out.append("|".join(f"{v:.6g}" if isinstance(v, float) else str(v) for v in row))
    return out


def check(spec: dict, corrupt: bool = False) -> int:
    """Returns the number of timed operations whose result the oracle rejects."""
    con = duckdb.connect()
    for table, path in spec["_tables"].items():
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}/*.parquet')")
    failed = 0
    for name, q in sorted(spec.items()):
        if name.startswith("_"):
            continue
        files = glob.glob(os.path.join(q["result"], "*.parquet"))
        try:
            got = norm(pd.concat([pd.read_parquet(f) for f in files]))
            exp = con.execute(q["sql"]).df()
            if corrupt:  # a deliberately wrong expectation must be caught
                exp = pd.concat([exp, exp.head(1)]) if len(exp) else exp.assign(_corrupt=1)
            exp = norm(exp)
            ok = (list(got.columns) == list(exp.columns) and len(got) == len(exp)
                  and value_repr(got) == value_repr(exp))
            why = "" if ok else f"cols {list(got.columns)} vs {list(exp.columns)}, rows {len(got)} vs {len(exp)}"
        except Exception as e:  # an oracle that cannot run rejects the result
            ok, why = False, f"error: {e}"
        if not ok:
            failed += q["ops"]
            print(f"[perfbench] ORACLE MISMATCH {name}: {why}", file=sys.stderr, flush=True)
    return failed
