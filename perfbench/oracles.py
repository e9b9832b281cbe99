"""Result hashing and DuckDB oracle answers.

A result is hashed in the canonical form of the engine's differential
check (columns by name, rows sorted, values compared as text except
floats, which compare by value). The oracle's answer for each query is
computed once per input fingerprint and kept on disk, so repeated runs
over the same inputs never pay for it again, and no run times it.
"""

from __future__ import annotations

import hashlib
import json
import math
import os

import pandas as pd


def _cell(x) -> str:
    if x is None:
        return "\x00"
    if isinstance(x, float):
        return "\x00" if math.isnan(x) else repr(x)
    return str(x)


def result_hash(df: pd.DataFrame) -> str:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    df = df.sort_values(by=list(df.columns), kind="mergesort")
    h = hashlib.sha256("\x1f".join(df.columns).encode())
    for row in df.itertuples(index=False, name=None):
        h.update(("\x1e" + "\x1f".join(map(_cell, row))).encode())
    return f"{len(df)}:{h.hexdigest()}"


def fingerprint(table_dir: str) -> str:
    """Digest of the input files: names, sizes and contents."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(table_dir)):
        path = os.path.join(table_dir, name)
        with open(path, "rb") as f:
            data = f.read()
        h.update(f"{name}:{len(data)}:".encode())
        h.update(hashlib.sha256(data).digest())
    return h.hexdigest()


def oracle_hashes(queries: dict[str, str], table_dir: str, cache_dir: str, tables) -> dict[str, str]:
    """Hash of each query's DuckDB oracle answer over ``table_dir``."""
    key = hashlib.sha256(
        (fingerprint(table_dir) + json.dumps(queries, sort_keys=True)).encode()
    ).hexdigest()
    path = os.path.join(cache_dir, f"oracle-{key}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET threads=2")
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_dir}/{t}.parquet')")
        out = {name: result_hash(con.execute(sql).df()) for name, sql in queries.items()}
    finally:
        con.close()
    os.makedirs(cache_dir, exist_ok=True)
    tmp = path + f".{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(out, f)
    os.replace(tmp, path)
    return out
