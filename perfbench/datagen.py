"""Deterministic benchmark inputs: the operator tables and the crawl seeds.

The operator queries read ten parquet tables (``sources/readers.TABLES``).
``write_tables`` writes them at a scale factor ``sf`` with the column
names, types and value ranges of the repo's test fixtures: a TPC-H-like
star schema, an ``events`` stream, random-word ``documents`` with
planted near-duplicates, and unit-norm 64-d ``embeddings``. Everything is
drawn from one numpy generator, so the same ``(sf, data_seed)`` always
gives byte-identical files.

``seed_urls`` makes the crawl seed list: ~40% of seeds on the hot host
(the skew of ``corpus.distributed_seed_urls``), slugs salted by the run
seed, and the raw-URL shapes the canonicalizer must handle (http,
https, schemeless, whitespace-padded, periodic duplicates).
"""

from __future__ import annotations

import hashlib
import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SKEW_HOST = "host0.example.com"
N_HOSTS = 20

_VOCAB = (
    "key agg row scan slow fast table value part hash merge batch spark a "
    "the line sort window order data column join small customer query big "
    "group filter stream vector"
).split()
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["small", "red", "blue", "hot", "cold", "big", "green", "steel"]
_PART_NOUN = ["ring", "widget", "bolt", "gear", "valve", "pipe", "nut", "spring"]
_PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_LANGS = ["en", "de", "fr", "es", "zh"]


def _ts(start: str, offsets_us: np.ndarray) -> pa.Array:
    base = np.datetime64(datetime.fromisoformat(start), "us")
    return pa.array(base + offsets_us.astype("timedelta64[us]"), pa.timestamp("us"))


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _documents(rng: np.random.Generator, n: int) -> list[str]:
    """Random-word texts; ~5% share a prefix with an earlier text and
    ~0.5% repeat one exactly, so the dedup operators find real pairs."""
    texts: list[str] = []
    for i in range(n):
        roll = rng.random()
        if i > 10 and roll < 0.005:
            texts.append(texts[int(rng.integers(0, i))])
            continue
        words = list(rng.choice(_VOCAB, size=int(rng.integers(10, 90))))
        if i > 10 and roll < 0.05:
            src = texts[int(rng.integers(0, i))].split()
            keep = max(5, len(src) * 3 // 4)
            words = src[:keep] + words[: max(1, len(src) - keep)]
        texts.append(" ".join(words))
    return texts


def write_tables(out_dir: str, sf: float, data_seed: int = 42) -> None:
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(data_seed)
    n_cust = max(50, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(100, int(200_000 * sf))
    n_ord = max(500, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_ev = max(1000, int(1_000_000 * sf))
    n_users = max(50, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_vec = max(500, int(20_000 * sf))

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-1000, 10000, n_cust), 2),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-1000, 10000, n_supp), 2),
    })
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [
            f"{a} {b}"
            for a, b in zip(rng.choice(_PART_ADJ, n_part), rng.choice(_PART_NOUN, n_part))
        ],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
    })
    day_us = 86_400 * 10**6
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_ord), 2),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, 2404, n_ord) * day_us),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105_000, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["O", "F"], n_line),
        "l_shipdate": _ts("1995-01-02", rng.integers(0, 2498, n_line) * day_us),
    })
    gaps = rng.integers(1, 2 * 30 * day_us // n_ev, n_ev)
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts("2024-01-01", np.cumsum(gaps)),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": rng.choice(_EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts = _documents(rng, n_docs)
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": rng.choice(_LANGS, n_docs),
        "source": [f"src{k}" for k in rng.integers(0, 20, n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    vecs = rng.standard_normal((n_vec, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec), pa.int32()),
    })


def _h(seed: int, tag: str, i: int) -> int:
    return int.from_bytes(hashlib.md5(f"{seed}|{tag}|{i}".encode()).digest()[:8], "big")


def seed_urls(n: int, seed: int) -> list[str]:
    out: list[str] = []
    for i in range(n):
        if i > 0 and i % 17 == 0:
            out.append(out[i - 1])  # duplicate seed
            continue
        pick = _h(seed, "hostpick", i) % 100
        host = SKEW_HOST if pick < 40 else f"host{pick % N_HOSTS}.example.com"
        slug = f"{_h(seed, 'slug', i):016x}"[:12]
        url = f"{host}/p/{slug}"
        form = _h(seed, "form", i) % 4
        if form == 0:
            url = "http://" + url
        elif form == 1:
            url = "https://" + url
        elif form == 3:
            url = "  https://" + url + "  "
        out.append(url)
    return out


def write_seeds(path: str, urls: list[str]) -> None:
    """One file, one row group: the rows reach Spark in seed_rank order,
    which the reference-mode crawl relies on (``assume_sorted``)."""
    pq.write_table(
        pa.table({
            "seed_rank": pa.array(range(len(urls)), pa.int64()),
            "url": pa.array(urls, pa.string()),
        }),
        path,
    )
