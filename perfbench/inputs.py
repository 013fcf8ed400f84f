"""Seeded input generator: an sf-style directory of the ten benchmark tables.

The tables follow the schemas and value domains of the project's
TPC-H-ish fixtures (``FIXTURES.md``): a star schema around ``lineitem``,
an ``events`` stream, a word-soup ``documents`` corpus with planted
near-duplicates, and unit-norm ``embeddings`` with a weak label pull.
``scale`` plays the role of the scale factor (0.1 gives 600k lineitem
rows). Every value comes from one numpy PCG64 stream seeded by ``seed``;
row order and document ids are a seeded permutation, so the planted
duplicate chains land at random ids and connected components needs more
than two rounds. Same (seed, scale) -> identical parquet bytes.
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
_ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS, _LANG_P = ["en", "es", "zh", "de", "fr"], [0.41, 0.15, 0.15, 0.145, 0.145]
_DUP_RATE = 0.05
_EMB_DIM, _EMB_LABELS = 64, 10


def _days(rng: np.random.Generator, start: str, n_days: int, n: int) -> np.ndarray:
    return (np.datetime64(start) + rng.integers(0, n_days, n).astype("timedelta64[D]")).astype(
        "datetime64[us]"
    )


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i and rng.random() < _DUP_RATE:
            src = texts[int(rng.integers(0, i))]
            texts.append(src + " dup" if rng.random() < 0.97 else src)
        else:
            words = rng.choice(len(_WORDS), int(rng.integers(10, 101)))
            texts.append(" ".join(_WORDS[w] for w in words))
    ids = rng.permutation(n).astype(np.int64)
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": _pick(rng, _LANGS, n, _LANG_P),
        "source": [f"src{d % 20}" for d in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    cents = rng.standard_normal((_EMB_LABELS, _EMB_DIM))
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    labels = rng.integers(0, _EMB_LABELS, n)
    v = rng.standard_normal((n, _EMB_DIM)) + 0.07 * cents[labels] * np.sqrt(_EMB_DIM)
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(v.ravel()), _EMB_DIM).cast(
        pa.list_(pa.float32())
    )
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": emb,
        "label": labels.astype(np.int32),
    })


def make_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    """Build all ten tables in memory (rows in seeded-permuted order)."""
    rng = np.random.Generator(np.random.PCG64(seed))
    n_cust = max(150, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(200, int(200_000 * scale))
    n_ord = max(1_500, int(1_500_000 * scale))
    n_line = max(6_000, int(6_000_000 * scale))
    n_ev = max(1_000, int(1_000_000 * scale))
    n_users = max(15, n_cust // 10)
    n_doc = max(500, int(50_000 * scale))
    n_vec = max(500, int(20_000 * scale))

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    adj, noun = rng.integers(0, 8, n_part), rng.integers(0, 8, n_part)
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": _pick(rng, _PTYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", 2404, n_ord),
        "o_orderpriority": _pick(rng, _PRIORITIES, n_ord),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _days(rng, "1995-01-02", 2499, n_line),
    })
    offs = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": (np.datetime64("2024-01-01", "us") + offs.astype("timedelta64[us]")),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": _pick(rng, _EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    t["documents"] = _documents(rng, n_doc)
    t["embeddings"] = _embeddings(rng, n_vec)
    return {name: tab.take(rng.permutation(tab.num_rows)) for name, tab in t.items()}


def write_sf_dir(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """Write ``<table>.parquet`` for every table; return rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, tab in make_tables(seed, scale).items():
        pq.write_table(tab, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = tab.num_rows
    return rows
