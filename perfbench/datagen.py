"""Seeded generator for the benchmark's input tables.

Writes the ten tables the registry reads (``sources.tables.TABLE_NAMES``)
as one parquet file each, with the column names, types and value domains
documented in FIXTURES.md Part A, at a chosen scale factor. Row counts
follow the fixture convention (lineitem = 6M x sf, orders = 1.5M x sf,
...); values are drawn uniformly, documents carry 5 % near-duplicates
(another document's text plus " dup"), and embeddings are unit-norm
64-dim float vectors. The same (sf, seed) always gives the same bytes.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "new"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_WEIGHTS = [0.15, 0.4, 0.15, 0.15, 0.15]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMBED_DIM = 64
DUP_SHARE = 0.05


def row_counts(sf: float) -> dict[str, int]:
    return {
        "region": 5,
        "nation": 25,
        "customer": int(150_000 * sf),
        "supplier": max(10, int(10_000 * sf)),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _days(rng, start: str, end: str, n: int) -> pa.Array:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    d = rng.integers(lo, hi + 1, n).astype("datetime64[D]").astype("datetime64[us]")
    return pa.array(d, pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def build_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = row_counts(sf)
    i32, i64 = pa.int32(), pa.int64()
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )
    nc, ns, np_, no, nl = (
        n["customer"], n["supplier"], n["part"], n["orders"], n["lineitem"]
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), i64),
            "c_name": _names("Customer", nc),
            "c_nationkey": pa.array(rng.integers(0, 25, nc), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, nc)],
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), i64),
            "s_name": _names("Supplier", ns),
            "s_nationkey": pa.array(rng.integers(0, 25, ns), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }
    )
    pk = np.arange(np_)
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(pk, i64),
            "p_name": np.char.add(
                np.char.add(np.array(PART_ADJ)[rng.integers(0, 8, np_)], " "),
                np.array(PART_NOUN)[rng.integers(0, 8, np_)],
            ),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, np_).astype(str)),
            "p_type": np.array(PART_TYPES)[rng.integers(0, 6, np_)],
            "p_size": pa.array(rng.integers(1, 51, np_), i32),
            "p_retailprice": 900.0 + (pk % 1000) / 10.0,
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), i64),
            "o_custkey": pa.array(rng.integers(0, nc, no), i64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, no),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", no),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, no)],
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl), i64),
            "l_partkey": pa.array(rng.integers(0, np_, nl), i64),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", nl),
        }
    )
    t["events"] = _events(rng, n["events"], max(15, int(15_000 * sf)))
    t["documents"] = _documents(rng, n["documents"])
    t["embeddings"] = _embeddings(rng, n["embeddings"])
    return t


def _events(rng, ne: int, users: int) -> pa.Table:
    lo = np.datetime64("2024-01-01", "us").astype(np.int64)
    span = 30 * 86_400 * 1_000_000
    ts = np.sort(lo + rng.integers(0, span, ne)).astype("datetime64[us]")
    return pa.table(
        {
            "event_id": pa.array(np.arange(ne), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, users, ne), pa.int64()),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, ne)],
            "value": np.round(rng.exponential(50.0, ne), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )


def _documents(rng, nd: int) -> pa.Table:
    vocab = np.array(WORDS)
    texts = [
        " ".join(vocab[rng.integers(0, len(WORDS), rng.integers(10, 101))])
        for _ in range(nd)
    ]
    dups = rng.choice(nd, int(nd * DUP_SHARE), replace=False)
    for d in dups:
        texts[d] = texts[int(rng.integers(0, nd))] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(nd), pa.int64()),
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(5, nd, p=LANG_WEIGHTS)],
            "source": [f"src{i % 20}" for i in range(nd)],
            "n_chars": pa.array([len(x) for x in texts], pa.int64()),
        }
    )


def _embeddings(rng, nv: int) -> pa.Table:
    v = rng.standard_normal((nv, EMBED_DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(nv), pa.int64()),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, nv), pa.int32()),
        }
    )


def write_tables(out_dir: str, sf: float, seed: int) -> str:
    """Write every table under ``out_dir`` (tmp + rename per file) and
    return ``out_dir``; the directory is the ``sf_dir`` the registry's
    builders and the DuckDB oracle views read."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in build_tables(sf, seed).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        tmp = f"{path}.tmp{os.getpid()}"
        pq.write_table(table, tmp)
        os.replace(tmp, path)
    return out_dir
