"""Deterministic star-schema tables for the serving benchmark.

Generates the tables the three serving cubes read (``SalesCube``,
``DocsCube``, ``EventsCube``) with the same schemas, key ranges and
value grids as the repository's sf0.1 fixture: 600k ``lineitem`` rows,
150k ``orders``, 15k ``customer``, 20k ``part``, 1k ``supplier``,
25 ``nation``, 5 ``region``, 5k ``documents`` and 100k ``events``.
Prices are on a 2-decimal grid and quantities are whole numbers, which
the engine's exact money sums rely on.

The tables depend only on ``DATA_SEED`` and ``SCALE``; the request
streams, not the data, vary with the benchmark's ``--seed``. The result
is written once per checkout and reused (see :func:`ensure_data`).
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Bump when the generated content changes, so a stale cache is rebuilt.
DATA_VERSION = "v1"
DATA_SEED = 42
SCALE = 0.1

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PART_WORDS = ["large", "hot", "blue", "ring", "bolt", "steel", "green",
               "small", "brass", "nut", "red", "plate"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "en", "en", "de", "fr", "zh", "es"]
_WORDS = ["spark", "line", "column", "order", "small", "sort", "fast",
          "value", "scan", "batch", "part", "vector", "query", "agg",
          "table", "hash", "join", "slow", "filter", "customer", "stream",
          "key", "group", "big", "merge", "the", "a"]

_DAY_US = 86_400_000_000


def _epoch_us(iso: str) -> int:
    return int(np.datetime64(iso, "us").astype(np.int64))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int
           ) -> np.ndarray:
    """Uniform prices on the 2-decimal grid (whole cents / 100)."""
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _days(rng: np.random.Generator, start: str, end: str, n: int
          ) -> pa.Array:
    lo, hi = _epoch_us(start), _epoch_us(end)
    days = rng.integers(0, (hi - lo) // _DAY_US + 1, n)
    return pa.array(lo + days * _DAY_US, pa.timestamp("us"))


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    idx = rng.integers(0, len(values), n)
    return pa.array(np.asarray(values, dtype=object)[idx], pa.string())


def build_tables(seed: int = DATA_SEED, scale: float = SCALE
                 ) -> dict[str, pa.Table]:
    """All tables, as Arrow, from ``seed`` alone."""
    rng = np.random.default_rng(seed)
    n_li, n_ord = int(6_000_000 * scale), int(1_500_000 * scale)
    n_cust, n_part = int(150_000 * scale), int(200_000 * scale)
    n_supp, n_docs, n_ev = int(10_000 * scale), 5_000, 100_000
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(_REGIONS)})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, _SEGMENTS, n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    words = np.asarray(_PART_WORDS, dtype=object)
    w1, w2 = rng.integers(0, len(words), (2, n_part))
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array(words[w1] + " " + words[w2], pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in
                             rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, _PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": _pick(rng, _PRIORITIES, n_ord)})
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * _money(rng, 900.0, 2100.0, n_li),
                                    2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_li)})

    vocab = np.asarray(_WORDS, dtype=object)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)])
             for k in rng.integers(8, 90, n_docs)]
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _pick(rng, _LANGS, n_docs),
        "source": _pick(rng, [f"src{i}" for i in range(20)], n_docs),
        "n_chars": pa.array([len(s) for s in texts], pa.int64())})
    start = _epoch_us("2024-01-01")
    ts = np.sort(rng.integers(start, start + 30 * _DAY_US, n_ev))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, n_ev)),
        "event_type": _pick(rng, _EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": pa.array([json.dumps({"k": int(k)})
                           for k in rng.integers(0, 100, n_ev)])})
    return t


def ensure_data(root: str) -> str:
    """Directory holding ``<table>.parquet`` for every table, generated
    under ``root`` on first use and reused afterwards. Generation writes
    to a temporary sibling and renames it into place, so an interrupted
    run never leaves a half-written data set behind."""
    final = os.path.join(root, f"data-{DATA_VERSION}-{DATA_SEED}-{SCALE}")
    if os.path.isdir(final):
        return final
    tmp = final + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in build_tables().items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    os.rename(tmp, final)
    return final
