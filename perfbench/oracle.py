"""Independent output checks, run in DuckDB over the generated input files.

Collected outputs arrive as parquet under out/<key>/ with out/oracle.json
mapping each key to the program's DuckDB twin (SparkEntry.oracleSql, with
drawn parameters substituted). The compare follows the rules of
tools/check_oracle.py: columns sorted by name, rows sorted by every column,
the same row count, the same dtype kind per column, and exactly equal
values (NULL equals NULL).
"""
import glob
import json
import os

import duckdb
import pandas as pd

TABLES = ["events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort")
    return df.reset_index(drop=True)


def _kind(dtype) -> str:
    return "i" if dtype.kind in "iu" else dtype.kind


def compare(got: pd.DataFrame, want: pd.DataFrame) -> str:
    """Empty string when equal, else the first difference found."""
    got, want = canon(got), canon(want)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} vs oracle {list(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows vs oracle {len(want)}"
    for c in got.columns:
        if _kind(got[c].dtype) != _kind(want[c].dtype):
            return f"dtype {c}: {got[c].dtype} vs oracle {want[c].dtype}"
    neq = (got != want) & ~(got.isna() & want.isna())
    if neq.to_numpy().any():
        i = got.index[neq.any(axis=1)][0]
        return (f"{int(neq.any(axis=1).sum())} rows differ, e.g. "
                f"{got.loc[i].to_dict()} vs oracle {want.loc[i].to_dict()}")
    return ""


def _connect(input_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        p = f"{input_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def check_outputs(out_dir: str, input_dir: str) -> list:
    """[(ok, name)] for every collected output handed to the oracle."""
    path = f"{out_dir}/oracle.json"
    if not os.path.exists(path):
        return []
    with open(path) as f:
        twins = json.load(f)
    con = _connect(input_dir)
    checks = []
    for key, sql in sorted(twins.items()):
        try:
            got = con.execute(
                f"SELECT * FROM '{out_dir}/{key}/*.parquet'").df()
            diff = compare(got, con.execute(sql).df())
        except Exception as e:  # noqa: BLE001 — any failure is a mismatch
            diff = str(e)
        if diff:
            print(f"[perfbench] oracle mismatch {key}: {diff}", flush=True)
        checks.append((not diff, key))
    return checks


def check_fingerprint_store(store: str, crawl_dir: str, batches: int) -> tuple:
    """The fingerprint store holds each distinct normalised text of the
    base plus the processed batches exactly once."""
    files = [f"{crawl_dir}/base.parquet"] + [
        f"{crawl_dir}/batch-{b:03d}.parquet" for b in range(batches)]
    con = duckdb.connect()
    seg = sorted(glob.glob(f"{store}/*.parquet"))
    try:
        stored = con.execute(
            f"SELECT norm FROM read_parquet({seg!r})").df()["norm"]
        want = con.execute(
            "SELECT DISTINCT regexp_replace(lower(trim(text)), '\\s+', ' ', "
            f"'g') AS norm FROM read_parquet({files!r})").df()["norm"]
    except Exception as e:  # noqa: BLE001 — an unreadable store is a mismatch
        print(f"[perfbench] fingerprint store: {e}", flush=True)
        return False, "fingerprint_store"
    ok = stored.is_unique and set(stored) == set(want)
    if not ok:
        print(f"[perfbench] fingerprint store: {len(stored)} rows "
              f"({stored.nunique()} distinct) vs {len(want)} distinct texts",
              flush=True)
    return ok, "fingerprint_store"
