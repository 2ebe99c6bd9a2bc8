"""Seeded generator for the query workloads' input tables.

Writes the ten tables the registry queries read (`region nation
customer supplier part orders lineitem events documents embeddings`),
one plain parquet file each, `<dir>/<table>.parquet`, with the schemas
and value distributions of the repository's fixture corpus: uniform
TPC-H-shaped keys and measures, an `events` click stream over one
month, a 30-word document corpus with ~5% near-duplicates (a copy of
another document plus " dup") and a few exact copies, and 64-d unit
embeddings with ten labels. The same seed gives byte-identical tables.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJECTIVES = ["blue", "old", "large", "hot", "cold", "small", "new", "red"]
_NOUNS = ["ring", "gear", "bolt", "plate", "rod", "anvil", "widget", "gizmo"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_WEIGHTS = [0.4, 0.15, 0.15, 0.15, 0.15]


def _days(rng: np.random.Generator, first: str, last: str, n: int) -> np.ndarray:
    lo = np.datetime64(first, "D")
    span = int((np.datetime64(last, "D") - lo).astype(int)) + 1
    return (lo + rng.integers(0, span, n)).astype("datetime64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    codes = rng.choice(len(values), size=n, p=p)
    return pa.DictionaryArray.from_arrays(
        pa.array(codes, pa.int32()), pa.array(values)
    ).cast(pa.string())


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    lengths = rng.integers(10, 101, n)
    words = rng.integers(0, len(_WORDS), int(lengths.sum()))
    texts, pos = [], 0
    for length in lengths:
        texts.append(" ".join(_WORDS[w] for w in words[pos : pos + length]))
        pos += length
    # near-duplicates: another document's text plus one marker token;
    # exact copies: another document's text verbatim
    kind = rng.random(n)
    source = rng.integers(0, n, n)
    for i in range(n):
        j = int(source[i])
        if j == i:
            continue
        if kind[i] < 0.05:
            texts[i] = texts[j] + " dup"
        elif kind[i] < 0.0515:
            texts[i] = texts[j]
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": pa.array(texts),
            "lang": _pick(rng, _LANGS, n, _LANG_WEIGHTS),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    vecs = rng.standard_normal((n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(vecs.ravel()), dim
            ).cast(pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n).astype(np.int32),
        }
    )


def generate(sf: float, seed: int, n_doc: int, n_emb: int) -> dict[str, pa.Table]:
    """All ten tables: the relational ones at scale factor `sf` (sf 1 =
    6M lineitem rows), `n_doc` documents and `n_emb` embeddings."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": _REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": np.arange(25, dtype=np.int32) % 5,
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": _names("Customer", n_cust),
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": _names("Supplier", n_supp),
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    partkey = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table(
        {
            "p_partkey": partkey,
            "p_name": pa.array(
                [
                    f"{_ADJECTIVES[a]} {_NOUNS[b]}"
                    for a, b in zip(
                        rng.integers(0, 8, n_part), rng.integers(0, 8, n_part)
                    )
                ]
            ),
            "p_brand": pa.array(
                [f"Brand#{k}" for k in rng.integers(1, 26, n_part)]
            ),
            "p_type": _pick(rng, _PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900 + (partkey % 1000) / 10.0, 2),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
            "o_orderpriority": _pick(rng, _PRIORITIES, n_ord),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
            "l_linestatus": _pick(rng, ["F", "O"], n_line),
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line),
        }
    )
    month_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, month_us, n_ev)) + np.datetime64(
        datetime(2024, 1, 1), "us"
    ).astype(np.int64)
    t["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": rng.integers(0, max(1, int(15_000 * sf)), n_ev).astype(np.int64),
            "event_type": _pick(rng, _EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
        }
    )
    t["documents"] = _documents(rng, n_doc)
    t["embeddings"] = _embeddings(rng, n_emb)
    return t


def write(out_dir: str, sf: float, seed: int, n_doc: int, n_emb: int) -> dict[str, int]:
    """Generate and write all tables. Returns their total rows, their
    in-memory Arrow bytes and the parquet bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    stats = {"rows": 0, "raw_bytes": 0, "parquet_bytes": 0}
    for name, table in generate(sf, seed, n_doc, n_emb).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        stats["rows"] += table.num_rows
        stats["raw_bytes"] += table.nbytes
        stats["parquet_bytes"] += os.path.getsize(path)
    return stats

