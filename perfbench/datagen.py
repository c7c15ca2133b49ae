"""Seeded generator for the benchmark corpus.

Writes the ten tables the engine's source registry scans (the TPC-H-ish
star schema plus ``events``, ``documents`` and ``embeddings``) as one
parquet file each, with the schemas, value domains and row counts per scale
factor of the repository's test corpus. The same ``(sf, seed)`` always
writes the same bytes, so a benchmark run is reproducible from its seed.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_DAY_US = 86_400_000_000
_EPOCH_1995 = int(np.datetime64("1995-01-01", "us").astype(np.int64))
_EPOCH_2024 = int(np.datetime64("2024-01-01", "us").astype(np.int64))


def _rng(seed: int, table: str) -> np.random.Generator:
    return np.random.default_rng([seed, TABLES.index(table)])


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None):
    return pa.array(np.asarray(values)[rng.choice(len(values), n, p=p)])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start_us: int, span: int, n: int):
    days = rng.integers(0, span, n)
    return pa.array(start_us + days * _DAY_US, type=pa.timestamp("us"))


def _i32(values) -> pa.Array:
    return pa.array(np.asarray(values, dtype=np.int32))


def _sizes(sf: float) -> dict[str, int]:
    return {
        "customer": max(1, round(150_000 * sf)),
        "supplier": max(1, round(10_000 * sf)),
        "part": max(1, round(200_000 * sf)),
        "orders": max(1, round(1_500_000 * sf)),
        "events": max(1, round(1_000_000 * sf)),
        "users": max(1, round(15_000 * sf)),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def _build(name: str, sf: float, seed: int) -> pa.Table:
    size = _sizes(sf)
    rng = _rng(seed, name)
    if name == "region":
        return pa.table({"r_regionkey": _i32(range(5)), "r_name": _REGIONS})
    if name == "nation":
        return pa.table({
            "n_nationkey": _i32(range(25)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": _i32(rng.integers(0, 5, 25)),
        })
    if name == "customer":
        n = size["customer"]
        return pa.table({
            "c_custkey": np.arange(n),
            "c_name": [f"Customer#{i:09d}" for i in range(n)],
            "c_nationkey": _i32(rng.integers(0, 25, n)),
            "c_acctbal": _money(rng, -999.99, 9999.99, n),
            "c_mktsegment": _pick(rng, _SEGMENTS, n),
        })
    if name == "supplier":
        n = size["supplier"]
        return pa.table({
            "s_suppkey": np.arange(n),
            "s_name": [f"Supplier#{i:09d}" for i in range(n)],
            "s_nationkey": _i32(rng.integers(0, 25, n)),
            "s_acctbal": _money(rng, -999.99, 9999.99, n),
        })
    if name == "part":
        n = size["part"]
        keys = np.arange(n)
        names = [f"{a} {b}" for a in _ADJ for b in _NOUN]
        return pa.table({
            "p_partkey": keys,
            "p_name": _pick(rng, names, n),
            "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n),
            "p_type": _pick(rng, _PTYPES, n),
            "p_size": _i32(rng.integers(1, 51, n)),
            "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1),
        })
    if name == "orders":
        n = size["orders"]
        return pa.table({
            "o_orderkey": np.arange(n),
            "o_custkey": rng.integers(0, size["customer"], n),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n),
            "o_orderdate": _days(rng, _EPOCH_1995, 2404, n),
            "o_orderpriority": _pick(rng, _PRIORITIES, n),
        })
    if name == "lineitem":
        n = 4 * size["orders"]
        return pa.table({
            "l_orderkey": rng.integers(0, size["orders"], n),
            "l_partkey": rng.integers(0, size["part"], n),
            "l_suppkey": rng.integers(0, size["supplier"], n),
            "l_linenumber": _i32(rng.integers(1, 8, n)),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n),
            "l_linestatus": _pick(rng, ["F", "O"], n),
            "l_shipdate": _days(rng, _EPOCH_1995 + _DAY_US, 2499, n),
        })
    if name == "events":
        n = size["events"]
        ts = np.sort(_EPOCH_2024 + rng.integers(0, 30 * _DAY_US, n))
        return pa.table({
            "event_id": np.arange(n),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": rng.integers(0, size["users"], n),
            "event_type": _pick(rng, _EVENT_TYPES, n),
            "value": np.maximum(0.01, np.round(rng.exponential(50.0, n), 2)),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        })
    if name == "documents":
        n = size["documents"]
        lengths = rng.integers(10, 100, n)
        words = np.asarray(_WORDS)
        texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lengths]
        # one document in twenty is a near-duplicate of another: the dedup
        # and shingle gates need real candidate pairs to verify
        for i in np.flatnonzero(rng.random(n) < 0.05):
            texts[i] = texts[int(rng.integers(0, n))] + " dup"
        return pa.table({
            "doc_id": np.arange(n),
            "text": texts,
            "lang": _pick(rng, _LANGS, n, p=_LANG_P),
            "source": _pick(rng, [f"src{i}" for i in range(20)], n),
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        })
    if name == "embeddings":
        n = size["embeddings"]
        vecs = rng.standard_normal((n, 64)).astype(np.float32)
        vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
        return pa.table({
            "vec_id": np.arange(n),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": _i32(rng.integers(0, 10, n)),
        })
    raise ValueError(f"unknown table {name!r}")


def generate(out_dir: str, sf: float, seed: int) -> str:
    """Write the corpus for ``(sf, seed)`` under ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    for name in TABLES:
        pq.write_table(_build(name, sf, seed), os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
