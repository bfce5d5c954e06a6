"""Seeded input generator: writes the ten tables the package reads
(``sources.tables.TABLES``) as parquet, with the schemas and value
distributions of the project's sf0.01 test tables.

The same seed gives byte-identical tables; every seed gives the same row
counts, so run time differs across seeds only through the values.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SIZES = {
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "documents": 500,
    "embeddings": 500,
}
N_SYMBOLS = 150
N_DAYS = 30
EVENT_START = np.datetime64("2024-01-01T00:00:00", "us")
WORDS = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch"
).split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "hot", "small", "old", "red", "new", "cold", "large"]
NOUN = ["bolt", "gear", "anvil", "widget", "ring", "rod", "plate", "gizmo"]
PTYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _days(rng: np.random.Generator, n: int, lo: str, span_days: int) -> np.ndarray:
    return np.datetime64(lo, "us") + rng.integers(0, span_days, n).astype("timedelta64[D]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def events(rng: np.random.Generator, n: int) -> dict:
    """Ticks: ``user_id`` is the symbol, ``value`` the price.  Timestamps
    rise with ``event_id`` and carry microseconds, like the test tables."""
    span_us = N_DAYS * 86_400_000_000
    ts = np.sort(rng.integers(0, span_us, n)).astype("timedelta64[us]") + EVENT_START
    value = np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01)
    return {
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, N_SYMBOLS, n, dtype=np.int64)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n)),
        "value": pa.array(value),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    }


def documents(rng: np.random.Generator, n: int) -> dict:
    """Random texts over a 31-word vocabulary; 5% are an earlier text with
    `` dup`` appended (near duplicates) and 0.2% repeat one exactly."""
    texts: list[str] = []
    for i in range(n):
        u = rng.random()
        if i and u < 0.05:
            texts.append(texts[rng.integers(0, i)] + " dup")
        elif i and u < 0.052:
            texts.append(texts[rng.integers(0, i)])
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 101)))))
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> dict:
    v = rng.standard_normal((n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n, dtype=np.int32)),
    }


def generate(out_dir: str, seed: int) -> str:
    """Write every table under ``out_dir``; returns ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    s = SIZES
    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(s["customer"], dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(s["customer"])]),
        "c_nationkey": pa.array(rng.integers(0, 25, s["customer"], dtype=np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, s["customer"])),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, s["customer"])),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(s["supplier"], dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(s["supplier"])]),
        "s_nationkey": pa.array(rng.integers(0, 25, s["supplier"], dtype=np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, s["supplier"])),
    })
    np_ = s["part"]
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(np_, dtype=np.int64)),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(rng.choice(ADJ, np_), rng.choice(NOUN, np_))]),
        "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, np_)]),
        "p_type": pa.array(rng.choice(PTYPES, np_)),
        "p_size": pa.array(rng.integers(1, 51, np_, dtype=np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(np_) % 1000) * 0.1, 2)),
    })
    no = s["orders"]
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, s["customer"], no, dtype=np.int64)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], no)),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, no)),
        "o_orderdate": pa.array(_days(rng, no, "1995-01-01", 2404), pa.timestamp("us")),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, no)),
    })
    nl = s["lineitem"]
    qty = rng.integers(1, 51, nl).astype(np.float64)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, no, nl, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, np_, nl, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, s["supplier"], nl, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, nl, dtype=np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, nl), 2)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], nl)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], nl)),
        "l_shipdate": pa.array(_days(rng, nl, "1995-01-02", 2498), pa.timestamp("us")),
    })
    _write(out_dir, "events", events(rng, s["events"]))
    _write(out_dir, "documents", documents(rng, s["documents"]))
    _write(out_dir, "embeddings", embeddings(rng, s["embeddings"]))
    return out_dir
