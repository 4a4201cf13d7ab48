"""Seeded input generators for the benchmark.

Every table is a pure function of ``(seed, scale)``: the same seed writes
byte-identical parquet. Schemas and value domains follow the engine's
TPC-H-ish star schema plus the ``events``, ``documents`` and
``embeddings`` tables (see FIXTURES.md at the repository root), so the
registry's query functions and oracle SQL run on these files unchanged.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "cold", "old"]
PART_NOUN = ["ring", "widget", "bolt", "plate", "gear"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
WORDS = [
    "the", "a", "merge", "window", "customer", "spark", "part", "group",
    "stream", "filter", "sort", "scan", "vector", "join", "query", "big",
    "hash", "column", "data", "agg", "table", "line", "small", "slow", "key",
    "fast", "order", "row", "value", "batch",
]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]

_DAY_US = 86_400 * 1_000_000
_EPOCH = np.datetime64("1970-01-01", "D")


def _days(date: str) -> int:
    return int((np.datetime64(date, "D") - _EPOCH).astype(np.int64))


def _ts_days(days: np.ndarray) -> pa.Array:
    return pa.array(days.astype(np.int64) * _DAY_US, pa.timestamp("us"))


def _write(path: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), path)


@dataclass(frozen=True)
class Scale:
    """Row counts; ``sf`` scales the TPC-H tables like the fixture."""

    sf: float = 0.05
    events: int = 60_000
    docs: int = 2_000
    near_dups: int = 150

    @property
    def customers(self) -> int:
        return int(150_000 * self.sf)

    @property
    def suppliers(self) -> int:
        return int(10_000 * self.sf)

    @property
    def parts(self) -> int:
        return int(200_000 * self.sf)

    @property
    def orders(self) -> int:
        return int(1_500_000 * self.sf)

    @property
    def lineitems(self) -> int:
        return int(6_000_000 * self.sf)


def write_tpch(out_dir: str, seed: int, scale: Scale) -> None:
    """region, nation, customer, supplier, part, orders, lineitem."""
    rng = np.random.default_rng([seed, 1])
    _write(f"{out_dir}/region.parquet", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    _write(f"{out_dir}/nation.parquet", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    n = scale.customers
    _write(f"{out_dir}/customer.parquet", {
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n)],
    })
    n = scale.suppliers
    _write(f"{out_dir}/supplier.parquet", {
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2),
    })
    n = scale.parts
    adj = np.array(PART_ADJ)[rng.integers(0, len(PART_ADJ), n)]
    noun = np.array(PART_NOUN)[rng.integers(0, len(PART_NOUN), n)]
    _write(f"{out_dir}/part.parquet", {
        "p_partkey": pa.array(np.arange(n), pa.int64()),
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n).astype(str)),
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n)],
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) / 10.0, 2),
    })
    n_orders = n = scale.orders
    lo, hi = _days("1995-01-01"), _days("2001-08-01")
    _write(f"{out_dir}/orders.parquet", {
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, scale.customers, n), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n), 2),
        "o_orderdate": _ts_days(rng.integers(lo, hi + 1, n)),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n)],
    })
    n = scale.lineitems
    lo, hi = _days("1995-01-02"), _days("2001-11-04")
    _write(f"{out_dir}/lineitem.parquet", {
        "l_orderkey": pa.array(rng.integers(0, n_orders, n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, scale.parts, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, scale.suppliers, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": _ts_days(rng.integers(lo, hi + 1, n)),
    })


def events_table(seed: int, n: int) -> pa.Table:
    """30 days of events from 2024-01-01, sorted by ``ts`` (µs)."""
    rng = np.random.default_rng([seed, 2])
    start = _days("2024-01-01") * _DAY_US
    ts = np.sort(rng.integers(start, start + 30 * _DAY_US, n))
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, n // 66), n), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def documents_table(seed: int, n: int, near_dups: int) -> pa.Table:
    """``n`` pseudo-word documents plus ``near_dups`` near-duplicate copies.

    Each copy rewrites one word of a random original, so long originals
    and their copies have word-3-gram Jaccard above 0.9 and the
    near-dedup operators find real pairs. Copies take the ids after the
    originals.
    """
    rng = np.random.default_rng([seed, 3])
    words = np.array(WORDS)
    texts = [
        " ".join(words[rng.integers(0, len(WORDS), int(k))])
        for k in rng.integers(10, 101, n)
    ]
    for src in rng.integers(0, n, near_dups):
        ws = texts[src].split(" ")
        ws[int(rng.integers(0, len(ws)))] = "dup"
        texts.append(" ".join(ws))
    total = len(texts)
    return pa.table({
        "doc_id": pa.array(np.arange(total), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(len(LANGS), total, p=LANG_P)],
        "source": np.char.add("src", (np.arange(total) % 20).astype(str)),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def clustered_vectors(seed: int, n: int, dim: int = 64, clusters: int = 32,
                      spread: float = 0.35) -> np.ndarray:
    """``n`` unit vectors around ``clusters`` random unit centres."""
    rng = np.random.default_rng([seed, 4])
    centres = rng.standard_normal((clusters, dim))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    which = rng.integers(0, clusters, n)
    v = centres[which] + spread * rng.standard_normal((n, dim)) / np.sqrt(dim)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return v.astype(np.float32)


def embeddings_table(vecs: np.ndarray, first_id: int = 0) -> pa.Table:
    n = len(vecs)
    ids = np.arange(first_id, first_id + n)
    return pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(ids % 10, pa.int32()),
    })


def write_all(out_dir: str, seed: int, scale: Scale) -> None:
    """Every table the registry reads, one parquet file each."""
    os.makedirs(out_dir, exist_ok=True)
    write_tpch(out_dir, seed, scale)
    pq.write_table(events_table(seed, scale.events), f"{out_dir}/events.parquet")
    pq.write_table(documents_table(seed, scale.docs, scale.near_dups),
                   f"{out_dir}/documents.parquet")
    pq.write_table(embeddings_table(clustered_vectors(seed, 500)),
                   f"{out_dir}/embeddings.parquet")
