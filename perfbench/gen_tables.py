"""Seeded relational + text tables for the headline workloads.

``generate(out, sf, seed)`` writes the ten tables the registered queries
read (``region nation customer supplier part orders lineitem events
documents embeddings``, one ``<table>.parquet`` file each) with the
schemas, row counts per scale factor and value distributions of the
synthetic test tables the query oracles were written against: uniform
keys and dates, two-decimal prices, a 30-word document vocabulary with a
share of near-duplicate and exact-duplicate documents, unit-norm
64-dimensional embeddings.

``replicate(base, out, replicas, seed)`` builds an R-times scale-up of a
generated base: every surrogate key is offset per replica, each
replica's rows are a seeded reordering of the base rows, every document
token of replicas 1..R-1 gets a letters-only replica prefix (so replicas
do not share vocabulary), and a fixed share of documents in each replica
stays a one-token edit of its replica-0 original, so near-duplicate
detection has cross-replica pairs to find.
"""

from __future__ import annotations

import re
from datetime import datetime, timedelta
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

DOC_WORDS = [
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row",
    "the", "agg", "key", "query", "a", "scan", "batch",
]
NEAR_DUP_SHARE = 0.05   # documents that are a copy of another plus one token
EXACT_DUP_SHARE = 0.002
CROSS_DUP_SHARE = 0.01  # scale-up documents kept as an edit of replica 0
EMBED_DIM = 64

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["blue", "red", "green", "large", "small", "hot", "cold", "dark",
        "light", "steel", "brass", "copper", "plated"]
_NOUN = ["ring", "bolt", "anvil", "widget", "gear"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = np.array(["en", "de", "es", "fr", "zh"])
_LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]

# Key columns offset per replica.  A foreign key uses the stride of the
# table it references, so each replica joins only within itself.
OFFSET_GROUPS: dict[str, list[tuple[str, str]]] = {
    "documents": [("doc_id", "documents")],
    "events": [("event_id", "events"), ("user_id", "events_users")],
    "embeddings": [("vec_id", "embeddings")],
    "orders": [("o_orderkey", "orders"), ("o_custkey", "customer")],
    "lineitem": [("l_orderkey", "orders"), ("l_partkey", "part"),
                 ("l_suppkey", "supplier")],
    "customer": [("c_custkey", "customer")],
    "supplier": [("s_suppkey", "supplier")],
    "part": [("p_partkey", "part")],
}
# stride authority -> (table, key column) whose max+1 is the stride
_AUTHORITIES = {
    "documents": ("documents", "doc_id"),
    "events": ("events", "event_id"),
    "events_users": ("events", "user_id"),
    "embeddings": ("embeddings", "vec_id"),
    "orders": ("orders", "o_orderkey"),
    "customer": ("customer", "c_custkey"),
    "part": ("part", "p_partkey"),
    "supplier": ("supplier", "s_suppkey"),
}
SHARED_DIMS = ["region", "nation"]


def _ts_us(year: int, month: int, day: int) -> int:
    return (datetime(year, month, day) - datetime(1970, 1, 1)) // timedelta(microseconds=1)


def _days(rng, n, lo, hi) -> pa.Array:
    """n uniform midnight timestamps in [lo, hi] (microseconds)."""
    day = 86_400 * 1_000_000
    d = rng.integers(0, (hi - lo) // day + 1, n)
    return pa.array(lo + d * day, type=pa.timestamp("us"))


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n: int) -> pa.Table:
    words = np.array(DOC_WORDS, dtype=object)
    lengths = rng.integers(10, 101, n)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lengths]
    for i in range(1, n):
        u = rng.random()
        if u < EXACT_DUP_SHARE:
            texts[i] = texts[int(rng.integers(0, i))]
        elif u < EXACT_DUP_SHARE + NEAR_DUP_SHARE:
            toks = texts[int(rng.integers(0, i))].split(" ")
            toks.insert(int(rng.integers(0, len(toks) + 1)), "dup")
            texts[i] = " ".join(toks)
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(_LANGS, n, p=_LANG_P), pa.string()),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n: int) -> pa.Table:
    v = rng.standard_normal((n, EMBED_DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    offs = pa.array(np.arange(n + 1, dtype=np.int32) * EMBED_DIM)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.ListArray.from_arrays(offs, pa.array(v.ravel(), pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def generate(out: Path, sf: float, seed: int) -> dict[str, int]:
    """Write the ten tables for scale factor ``sf``; return row counts."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(15, int(15_000 * sf))
    n_docs, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    ids = lambda n: pa.array(np.arange(n), pa.int64())  # noqa: E731
    nat = lambda n: pa.array(rng.integers(0, 25, n), pa.int32())  # noqa: E731
    t = {
        "region": pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": _REGIONS}),
        "nation": pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                            "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        "customer": pa.table({
            "c_custkey": ids(n_cust),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": nat(n_cust),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": pa.array(rng.choice(_SEGMENTS, n_cust), pa.string())}),
        "supplier": pa.table({
            "s_suppkey": ids(n_supp),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": nat(n_supp),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)}),
        "part": pa.table({
            "p_partkey": ids(n_part),
            "p_name": pa.array([f"{_ADJ[a]} {_NOUN[b]}" for a, b in zip(
                rng.integers(0, len(_ADJ), n_part), rng.integers(0, len(_NOUN), n_part))]),
            "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, n_part)]),
            "p_type": pa.array(rng.choice(_PTYPES, n_part), pa.string()),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1)}),
        "orders": pa.table({
            "o_orderkey": ids(n_ord),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord), pa.string()),
            "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
            "o_orderdate": _days(rng, n_ord, _ts_us(1995, 1, 1), _ts_us(2001, 8, 1)),
            "o_orderpriority": pa.array(rng.choice(_PRIORITIES, n_ord), pa.string())}),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, n_line, 900.0, 105000.0),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line), pa.string()),
            "l_linestatus": pa.array(rng.choice(["F", "O"], n_line), pa.string()),
            "l_shipdate": _days(rng, n_line, _ts_us(1995, 1, 2), _ts_us(2001, 11, 4))}),
        "events": pa.table({
            "event_id": ids(n_ev),
            "ts": pa.array(np.sort(_ts_us(2024, 1, 1) + rng.integers(
                0, 30 * 86_400 * 1_000_000, n_ev)), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
            "event_type": pa.array(rng.choice(_EVENT_TYPES, n_ev), pa.string()),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])}),
        "documents": _documents(rng, n_docs),
        "embeddings": _embeddings(rng, n_emb),
    }
    out.mkdir(parents=True, exist_ok=True)
    for name, tbl in t.items():
        pq.write_table(tbl, out / f"{name}.parquet")
    return {name: tbl.num_rows for name, tbl in t.items()}


# -- scale-up --------------------------------------------------------------

def _alpha(k: int) -> str:
    """Replica tag in letters only, so the ``\\p{L}+`` tokenizer keeps the
    prefixed token whole (a digit would split it back into shared
    tokens)."""
    s, k = "", k + 1
    while k:
        k, r = divmod(k - 1, 26)
        s = chr(ord("a") + r) + s
    return s


_WS = re.compile(r"(\s+)")


def remap_text(text: str | None, k: int) -> str | None:
    """Prefix every whitespace-delimited token with the replica tag,
    keeping every separator (spaces, tabs, newlines) as it was."""
    if text is None:
        return None
    pre = f"q{_alpha(k)}q"
    return "".join(p if not p or p.isspace() else pre + p for p in _WS.split(text))


def _strides(tables: dict[str, pa.Table]) -> dict[str, int]:
    """Stride per authority, failing with the table's name when a table
    that a present table's keys refer to is missing."""
    needed = {auth for t in tables for _, auth in OFFSET_GROUPS.get(t, [])}
    missing = sorted({_AUTHORITIES[a][0] for a in needed} - set(tables))
    if missing:
        raise ValueError(
            f"cannot replicate: key strides need table(s) {missing}, "
            f"which are missing from the base directory")
    return {a: pc.max(tables[_AUTHORITIES[a][0]][_AUTHORITIES[a][1]]).as_py() + 1
            for a in needed}


def _near_dup(text: str, rng) -> str:
    toks = text.split()
    toks[int(rng.integers(0, len(toks)))] = "dup"
    return " ".join(toks)


def replicate(base: Path, out: Path, replicas: int, seed: int) -> dict[str, int]:
    """Write an R-times scale-up of the tables under ``base``; return row
    counts.  One file per table, one row group per replica."""
    tables = {p.stem: pq.read_table(p) for p in sorted(base.glob("*.parquet"))}
    strides = _strides(tables)
    rng = np.random.default_rng(seed)
    out.mkdir(parents=True, exist_ok=True)
    rows = {}
    for name, tbl in tables.items():
        if name in SHARED_DIMS:
            pq.write_table(tbl, out / f"{name}.parquet")
            rows[name] = tbl.num_rows
            continue
        with pq.ParquetWriter(out / f"{name}.parquet", tbl.schema) as w:
            for k in range(replicas):
                part = tbl.take(pa.array(rng.permutation(tbl.num_rows)))
                cols = dict(zip(part.column_names, part.columns))
                for col, auth in OFFSET_GROUPS.get(name, []):
                    cols[col] = pc.add(cols[col], pa.scalar(strides[auth] * k,
                                                            type=cols[col].type))
                if name == "documents" and k > 0:
                    texts = cols["text"].to_pylist()
                    dup = rng.random(len(texts)) < CROSS_DUP_SHARE
                    texts = [_near_dup(t, rng) if d and t else remap_text(t, k)
                             for t, d in zip(texts, dup)]
                    cols["text"] = pa.array(texts, pa.string())
                    cols["n_chars"] = pa.array(
                        [None if t is None else len(t) for t in texts], pa.int64())
                w.write_table(pa.table(cols, schema=tbl.schema))
        rows[name] = tbl.num_rows * replicas
    return rows
