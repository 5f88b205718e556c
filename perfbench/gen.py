"""Seeded generator for the benchmark's input tables.

``base_tables`` writes the ten warehouse tables the registry's queries
read (TPC-H-ish star schema, an ``events`` stream, a ``documents``
corpus with planted near-duplicates and ``embeddings``), with the same
schemas, cardinalities and value domains as the shipped sf fixtures:
uniform independent columns, ``p_retailprice = 900 + (partkey % 1000)
/ 10``, events sorted by ``ts`` with ``event_id`` in time order, 5% of
documents a copy of another document plus the token ``dup``.

A directory is written once per (seed, sf), and a digest of its files
is stored beside them (``DIGEST``), so a rerun reuses the files and the
digest names exactly what was measured.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPE = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIO = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT = ["click", "error", "purchase", "signup", "view"]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANG = (["en", "de", "es", "fr", "zh"], [0.4, 0.15, 0.15, 0.15, 0.15])

_DAY_US = 86_400_000_000


def _days_us(start: str, n_days: int, rng, size) -> np.ndarray:
    base = np.datetime64(start, "us").astype(np.int64)
    return base + rng.integers(0, n_days + 1, size) * _DAY_US


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us, type=pa.timestamp("us"))


def _write(out: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}{i:09d}" for i in range(n)]


def _digest(path: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(path)):
        if name.endswith(".parquet"):
            h.update(name.encode())
            with open(os.path.join(path, name), "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def read_digest(out: str) -> str | None:
    try:
        with open(os.path.join(out, "DIGEST")) as f:
            return f.read().strip()
    except OSError:
        return None


def base_tables(out: str, seed: int, sf: float) -> str:
    """Write the ten base tables into ``out`` (once); return the digest."""
    digest = read_digest(out)
    if digest:
        return digest
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = int(15_000 * sf)
    n_docs, n_vecs = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))

    _write(tmp, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(tmp, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": pa.array([k % 5 for k in range(25)], pa.int32()),
    })

    def acctbal(n):
        return np.round(rng.uniform(-999.99, 9999.99, n), 2)

    _write(tmp, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": _names("Customer#", n_cust),
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": acctbal(n_cust),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    _write(tmp, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": _names("Supplier#", n_supp),
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": acctbal(n_supp),
    })
    pk = np.arange(n_part, dtype=np.int64)
    _write(tmp, "part", {
        "p_partkey": pk,
        "p_name": np.char.add(
            np.char.add(np.array(_ADJ)[rng.integers(0, 8, n_part)], " "),
            np.array(_NOUN)[rng.integers(0, 8, n_part)],
        ),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(_PTYPE)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
    })
    _write(tmp, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2),
        "o_orderdate": _ts(_days_us("1995-01-01", 2403, rng, n_ord)),
        "o_orderpriority": np.array(_PRIO)[rng.integers(0, 5, n_ord)],
    })
    _write(tmp, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(_days_us("1995-01-02", 2498, rng, n_li)),
    })
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(start + rng.integers(0, 30 * _DAY_US, n_ev))
    _write(tmp, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(ts),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": np.array(_EVENT)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    vocab = np.array(_VOCAB)
    texts = [
        " ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))])
        for _ in range(n_docs)
    ]
    for i in rng.choice(n_docs, n_docs // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n_docs))] + " dup"
    _write(tmp, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(_LANG[0])[rng.choice(5, n_docs, p=_LANG[1])],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    vec = rng.normal(0.0, 1.0, (n_vecs, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    _write(tmp, "embeddings", {
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vecs).astype(np.int32),
    })
    digest = _digest(tmp)
    with open(os.path.join(tmp, "DIGEST"), "w") as f:
        f.write(digest + "\n")
    os.replace(tmp, out)
    return digest
