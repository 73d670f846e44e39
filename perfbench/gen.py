"""Seeded input generators for the benchmark workloads.

The tables have the shape of the engine's fixture tables (TESTDATA.md: a
TPC-H-like star schema plus `events`, `documents` and `embeddings`), so
every query in `graft.SparkEntry.queries` runs on them unchanged. Values
are drawn from `numpy.random.default_rng(seed)` and written with fixed
pyarrow writer settings, so one seed always yields byte-identical files.
"""
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TPCH_TABLES = ["region", "nation", "customer", "supplier", "part",
               "orders", "lineitem"]
ALL_TABLES = TPCH_TABLES + ["events", "documents", "embeddings"]

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "new"]
_PART_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
          "filter", "group", "hash", "join", "key", "line", "merge", "order",
          "part", "query", "row", "scan", "slow", "small", "sort", "spark",
          "stream", "table", "the", "value", "vector", "window"]
_LANGS = ["en", "zh", "de", "fr", "es"]
_LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
EMBED_DIM = 64

_DAY_US = 86_400_000_000


def _us(date: str) -> int:
    return int(np.datetime64(date, "us").astype(np.int64))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, first: str, last: str, n):
    lo, hi = _us(first) // _DAY_US, _us(last) // _DAY_US
    return pa.array(rng.integers(lo, hi + 1, n) * _DAY_US,
                    pa.timestamp("us"))


def _choice(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[
        rng.choice(len(values), n, p=p)], pa.string())


def _fmt(prefix: str, keys) -> pa.Array:
    return pa.array([f"{prefix}{k:09d}" for k in keys], pa.string())


def tpch_tables(rng, sf: float) -> dict:
    """TPC-H-shaped tables at scale factor `sf` (lineitem = 6M x sf rows)."""
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord, n_line = int(200_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    ck = np.arange(n_cust, dtype=np.int64)
    t["customer"] = pa.table({
        "c_custkey": ck, "c_name": _fmt("Customer#", ck),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _choice(rng, _SEGMENTS, n_cust)})
    sk = np.arange(n_supp, dtype=np.int64)
    t["supplier"] = pa.table({
        "s_suppkey": sk, "s_name": _fmt("Supplier#", sk),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part, dtype=np.int64)
    names = [f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN]
    t["part"] = pa.table({
        "p_partkey": pk, "p_name": _choice(rng, names, n_part),
        "p_brand": _choice(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _choice(rng, _PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1)})
    ok = np.arange(n_ord, dtype=np.int64)
    t["orders"] = pa.table({
        "o_orderkey": ok, "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": _choice(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": _choice(rng, _PRIORITIES, n_ord)})
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _choice(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _choice(rng, ["F", "O"], n_line),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line)})
    return t


def events_table(rng, n: int, users: int) -> pa.Table:
    """Click-stream events over 30 days, ordered by time."""
    start = _us("2024-01-01")
    ts = np.sort(rng.integers(start, start + 30 * _DAY_US, n))
    k = rng.integers(0, 100, n)
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, users, n),
        "event_type": _choice(rng, _EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": pa.array([f'{{"k": {v}}}' for v in k], pa.string())})


def documents_table(rng, n: int) -> pa.Table:
    """Word-salad documents; 5% are near-duplicates (another text + ' dup')."""
    lens = rng.integers(10, 101, n)
    words = np.asarray(_WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(words), m)]) for m in lens]
    dups = rng.choice(n, n // 20, replace=False)
    originals = np.setdiff1d(np.arange(n), dups)
    for d, o in zip(dups, rng.choice(originals, len(dups))):
        texts[d] = texts[o] + " dup"
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids, "text": pa.array(texts, pa.string()),
        "lang": _choice(rng, _LANGS, n, _LANG_P),
        "source": pa.array([f"src{i % 20}" for i in ids], pa.string()),
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64)})


def random_embeddings(rng, n: int) -> pa.Table:
    """n unit-norm vectors with a random label in 0..9."""
    x = rng.standard_normal((n, EMBED_DIM))
    vecs = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    offsets = pa.array(np.arange(0, vecs.size + 1, EMBED_DIM, dtype=np.int32))
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(offsets, pa.array(vecs.reshape(-1))),
        "label": pa.array(rng.integers(0, 10, n), pa.int32())})


def base_tables(seed: int, sf: float) -> dict:
    """All ten fixture-shaped tables at scale factor `sf`."""
    rng = np.random.default_rng(seed)
    t = tpch_tables(rng, sf)
    t["events"] = events_table(rng, int(1_000_000 * sf), int(15_000 * sf))
    t["documents"] = documents_table(rng, max(500, int(50_000 * sf)))
    t["embeddings"] = random_embeddings(rng, max(500, int(20_000 * sf)))
    return t


# Per-replica key offset (as in graft.ScaleRehearsal.replicate): larger
# than any generated key, so replicas never share a key.
REPLICA_KEY_STRIDE = 10_000_000
_KEY_COLS = {"customer": ["c_custkey"], "supplier": ["s_suppkey"],
             "part": ["p_partkey"], "orders": ["o_orderkey", "o_custkey"],
             "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"]}
_NAME_COLS = {"customer": "c_name", "supplier": "s_name", "part": "p_name"}


def replicate_tpch(base: dict, copies: int, rng) -> dict:
    """`copies` content-disjoint replicas of the TPC-H tables.

    Replica k offsets every key by k * REPLICA_KEY_STRIDE and suffixes the
    identifying strings with `_k`; nation and region stay as they are. The
    rows of each replicated table are then put in a seeded random order.
    Returns {table: [one pyarrow table per output file]}.
    """
    out = {"region": [base["region"]], "nation": [base["nation"]]}
    for name in ["customer", "supplier", "part", "orders", "lineitem"]:
        parts = []
        for k in range(copies):
            t = base[name]
            for c in _KEY_COLS[name]:
                i = t.schema.get_field_index(c)
                t = t.set_column(i, c, pa.array(
                    t[c].to_numpy() + k * REPLICA_KEY_STRIDE, pa.int64()))
            if name in _NAME_COLS:
                c = _NAME_COLS[name]
                i = t.schema.get_field_index(c)
                t = t.set_column(i, c, pa.array(
                    [f"{s}_{k}" for s in t[c].to_pylist()], pa.string()))
            parts.append(t)
        whole = pa.concat_tables(parts)
        whole = whole.take(rng.permutation(whole.num_rows))
        step = -(-whole.num_rows // copies)
        out[name] = [whole.slice(i, step) for i in range(0, whole.num_rows, step)]
    return out


def write_tables(tables: dict, root: str) -> None:
    """Write `<root>/<name>.parquet`: one file for a table, or a directory
    of part files for a list of tables."""
    os.makedirs(root, exist_ok=True)
    for name, t in tables.items():
        path = os.path.join(root, f"{name}.parquet")
        if isinstance(t, list):
            os.makedirs(path)
            for i, part in enumerate(t):
                _write(part, os.path.join(path, f"part-{i:05d}.parquet"))
        else:
            _write(t, path)


def _write(t: pa.Table, path: str) -> None:
    pq.write_table(t, path, compression="snappy", row_group_size=1 << 20,
                   write_statistics=True)


def files_digest(root: str) -> str:
    """sha256 over every file's relative path and bytes, in path order."""
    h = hashlib.sha256()
    for dirpath, dirs, files in sorted(os.walk(root)):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(dirpath, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def tree_stats(root: str) -> tuple:
    """(files, bytes) of every regular file under `root`."""
    n = size = 0
    for dirpath, _, files in os.walk(root):
        for f in files:
            n += 1
            size += os.path.getsize(os.path.join(dirpath, f))
    return n, size
