"""Output checks: compare the engine's results with DuckDB.

An operation's result is compared with the DuckDB result of its oracle SQL
(`graft.SparkEntry.oracleSql`) run on the same input files. Both sides are
put in a canonical form first, the one the engine's own correctness script
uses (columns by name, rows sorted, every value as `str`), and hashed.
Operations without oracle SQL are approximate top-k probes; for those the
invariants of a top-k answer are checked instead.
"""
import glob
import hashlib
import os

import duckdb
import numpy as np
import pandas as pd


def connect(data_dir: str, tables) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in tables:
        path = os.path.join(data_dir, f"{t}.parquet")
        if os.path.isdir(path):
            path = os.path.join(path, "*.parquet")
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def read_result(result_dir: str) -> pd.DataFrame:
    files = sorted(glob.glob(os.path.join(result_dir, "*.parquet")))
    return pd.concat([pd.read_parquet(f) for f in files]) if files else pd.DataFrame()


def canonical(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df.columns):
        df = df.sort_values(by=list(df.columns), ignore_index=True,
                            key=lambda s: s.astype(str))
    return df.map(str) if len(df) else df


def digest(df: pd.DataFrame) -> str:
    c = canonical(df)
    h = hashlib.sha256("\x1f".join(c.columns).encode())
    for row in c.itertuples(index=False):
        h.update(b"\x1e" + "\x1f".join(row).encode())
    return h.hexdigest()


def compare(expected: pd.DataFrame, actual: pd.DataFrame):
    """None when the two results hash the same, else why they differ."""
    if digest(expected) == digest(actual):
        return None
    e, a = canonical(expected), canonical(actual)
    if list(e.columns) != list(a.columns):
        return f"columns: oracle {list(e.columns)} engine {list(a.columns)}"
    if len(e) != len(a):
        return f"rows: oracle {len(e)} engine {len(a)}"
    for c in e.columns:
        bad = (e[c] != a[c]).to_numpy().nonzero()[0]
        if len(bad):
            i = bad[0]
            return f"value: column {c} row {i} oracle {e[c][i]} engine {a[c][i]}"
    return "digest differs"


def check_sql(con, sql: str, result_dir: str):
    try:
        expected = con.sql(sql).df()
    except Exception as e:  # noqa: BLE001 - reported as the failure reason
        return f"oracle error: {e}"
    return compare(expected, read_result(result_dir))


def exact_topk(vectors: dict, query_id: int, k: int):
    """Exact cosine top-k of `query_id` among the other vectors (ties by
    id), as (ids, similarities)."""
    ids = np.array(sorted(i for i in vectors if i != query_id))
    m = np.array([vectors[i] for i in ids], dtype=np.float64)
    q = np.asarray(vectors[query_id], dtype=np.float64)
    sims = m @ q / (np.linalg.norm(m, axis=1) * np.linalg.norm(q))
    order = np.lexsort((ids, -sims))[:k]
    return ids[order].tolist(), sims[order].tolist()


def check_topk(result: pd.DataFrame, vectors: dict, query_id: int, k: int,
               min_recall: float = 0.0):
    """Invariants of an approximate top-k answer with columns (vec_id,
    cos_sim_r): k distinct rows other than the query, each similarity equal
    to the exact cosine rounded to 3 places, in non-increasing order, and
    recall against the exact top-k of at least `min_recall`.
    Returns (failure reason or None, recall against the exact top-k)."""
    ids = result["vec_id"].tolist() if len(result) else []
    sims = result["cos_sim_r"].tolist() if len(result) else []
    exact, _ = exact_topk(vectors, query_id, k)
    recall = len(set(ids) & set(exact)) / k
    if len(ids) != k:
        return f"top-k: {len(ids)} rows, expected {k}", recall
    if len(set(ids)) != k or query_id in ids or not all(i in vectors for i in ids):
        return f"top-k: ids not k distinct corpus vectors: {ids}", recall
    q = np.asarray(vectors[query_id], dtype=np.float64)
    for i, s in zip(ids, sims):
        v = np.asarray(vectors[i], dtype=np.float64)
        cos = float(v @ q / (np.linalg.norm(v) * np.linalg.norm(q)))
        if abs(cos - s) > 0.0005 + 1e-9:
            return f"top-k: vec {i} similarity {s}, exact {cos:.6f}", recall
    if any(a < b for a, b in zip(sims, sims[1:])):
        return f"top-k: similarities not non-increasing: {sims}", recall
    if recall < min_recall - 1e-9:
        return f"top-k: recall {recall:.2f} below the recorded {min_recall:.2f}", recall
    return None, recall


def load_vectors(con, table: str = "embeddings") -> dict:
    rows = con.sql(f"SELECT vec_id, embedding FROM {table}").fetchall()
    return {int(i): v for i, v in rows}
