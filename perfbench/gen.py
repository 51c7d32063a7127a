"""Seeded synthetic inputs for the benchmark.

Writes the ten tables the engine's registry lanes and the citibike
pipeline read (``sources/testdata.TESTDATA_TABLES``) as one parquet file
each, with the same schemas and value domains as the engine's testdata
star schema: TPC-H-ish dims and facts, an ``events`` stream with a JSON
``props`` column, a ``documents`` corpus (with planted exact and near
duplicates, so the dedup lanes find something) and 64-dim clustered
``embeddings``. The same ``(seed, sf)`` always gives the same tables.

Row counts follow the testdata scaling: ``lineitem`` = 6M x sf, and
ship dates cover 2,499 consecutive days starting 1995-01-02, so a
day-file holds about ``6M x sf / 2499`` trip documents.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SHIP_DAYS = 2499
SHIP_EPOCH = dt.datetime(1995, 1, 2)
_WORDS = (
    "a the batch part spark line column order small sort fast value scan "
    "hash slow group agg filter query big key window row table stream "
    "merge data join plan shuffle task stage file"
).split()
_LANGS = ("en", "de", "fr", "es", "zh")
_ADJ = ("large", "hot", "blue", "small", "red", "cold")
_NOUN = ("ring", "bolt", "nut", "gear", "pipe")


def _micros(d: dt.datetime) -> int:
    return int((d - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us.astype("int64"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _text(rng: np.random.Generator, n_words: int) -> str:
    return " ".join(_WORDS[i] for i in rng.integers(0, len(_WORDS), n_words))


def tables(seed: int, sf: float, names=None,
           ship_window: tuple[int, int] | None = None) -> dict[str, pa.Table]:
    """The requested tables (all ten by default). Each table draws from
    its own seeded stream, so a subset equals the same tables of the
    full set. ``ship_window`` = (first, stop) day offsets keeps only the
    lineitem rows shipped in that window."""
    names = set(names or ("region", "nation", "customer", "supplier", "part",
                          "orders", "lineitem", "events", "documents", "embeddings"))
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_orders, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_events, n_docs, n_vecs = int(1_000_000 * sf), int(50_000 * sf), int(20_000 * sf)
    day_us = 86_400 * 1_000_000
    build = {
        "region": lambda rng: {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        },
        "nation": lambda rng: {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        },
        "customer": lambda rng: {
            "c_custkey": np.arange(n_cust, dtype="int64"),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust),
        },
        "supplier": lambda rng: {
            "s_suppkey": np.arange(n_supp, dtype="int64"),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        },
        "part": lambda rng: {
            "p_partkey": np.arange(n_part, dtype="int64"),
            "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in zip(
                rng.integers(0, len(_ADJ), n_part), rng.integers(0, len(_NOUN), n_part))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "SMALL", "STANDARD"], n_part),
            "p_size": rng.integers(1, 51, n_part).astype("int32"),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
        },
        "orders": lambda rng: {
            "o_orderkey": np.arange(n_orders, dtype="int64"),
            "o_custkey": rng.integers(0, n_cust, n_orders),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_orders),
            "o_orderdate": _ts(_micros(dt.datetime(1995, 1, 1))
                               + rng.integers(0, 2404, n_orders) * day_us),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_orders),
        },
        "lineitem": lambda rng: _lineitem(rng, n_line, n_orders, n_part, n_supp),
        "events": lambda rng: {
            "event_id": np.arange(n_events, dtype="int64"),
            "ts": _ts(np.sort(_micros(dt.datetime(2024, 1, 1))
                              + rng.integers(0, 30 * day_us, n_events))),
            "user_id": rng.integers(0, max(1, n_events // 66), n_events),
            "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_events),
            "value": _money(rng, 0.0, 100.0, n_events) * rng.integers(1, 6, n_events),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        },
        "documents": lambda rng: _documents(rng, n_docs),
        "embeddings": lambda rng: _embeddings(rng, n_vecs),
    }
    out = {}
    for k, (name, make) in enumerate(build.items()):
        if name in names:
            out[name] = pa.table(make(np.random.default_rng([seed, k])))
    if ship_window is not None and "lineitem" in out:
        t = out["lineitem"]
        lo, hi = (_micros(SHIP_EPOCH) + d * day_us for d in ship_window)
        us = t["l_shipdate"].cast(pa.int64()).to_numpy()
        out["lineitem"] = t.filter(pa.array((us >= lo) & (us < hi)))
    return out


def _lineitem(rng: np.random.Generator, n: int, n_orders: int, n_part: int,
              n_supp: int) -> dict:
    # lines are dealt round-robin over the ship days (then shuffled), so
    # every day holds n / SHIP_DAYS lines give or take one: a day window
    # never skips, and a day-file is the same size whatever the seed
    ship_day = rng.permutation(np.arange(n) % SHIP_DAYS)
    return {
        "l_orderkey": rng.integers(0, n_orders, n),
        "l_partkey": rng.integers(0, n_part, n),
        "l_suppkey": rng.integers(0, n_supp, n),
        "l_linenumber": rng.integers(1, 8, n).astype("int32"),
        "l_quantity": rng.integers(1, 51, n).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 50_000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n),
        "l_linestatus": rng.choice(["F", "O"], n),
        "l_shipdate": _ts(_micros(SHIP_EPOCH) + ship_day * 86_400 * 1_000_000),
    }


def _documents(rng: np.random.Generator, n: int) -> dict:
    """Random word-salad docs; ~2% exact copies and ~5% near copies
    (one word swapped) of earlier docs."""
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.02:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.07:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = _WORDS[int(rng.integers(0, len(_WORDS)))]
            texts.append(" ".join(words))
        else:
            texts.append(_text(rng, int(rng.integers(8, 100))))
    return {
        "doc_id": np.arange(n, dtype="int64"),
        "text": texts,
        "lang": rng.choice(_LANGS, n),
        "source": [f"src{s}" for s in rng.integers(0, 20, n)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    }


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64,
                k: int = 10) -> dict:
    centers = rng.normal(0.0, 1.0, (k, dim))
    labels = rng.integers(0, k, n)
    vecs = centers[labels] + rng.normal(0.0, 0.35, (n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return {
        "vec_id": np.arange(n, dtype="int64"),
        "embedding": pa.array(list(vecs.astype("float32")), pa.list_(pa.float32())),
        "label": labels.astype("int32"),
    }


def write(out_dir: str, seed: int, sf: float, names=None,
          ship_window: tuple[int, int] | None = None) -> str:
    """Write the tables as ``<out_dir>/<name>.parquet``; returns out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(seed, sf, names, ship_window).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
