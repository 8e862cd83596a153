"""Seeded synthetic fixtures with the engine's ten-table schema.

The engine reads one parquet file per table from a scale-factor
directory (`graft.sources.Tables`). This module writes such directories
from a seed alone, so a run needs nothing outside its checkout. Columns,
types, domains and distributions are those of the engine's test fixtures
(FIXTURES.md; `profile_fixture.py` prints the figures to compare, and
perfbench/README.md records them): uniform keys and categoricals,
exponential event values, documents of 10-99 words drawn from a 30-word
vocabulary of which 5% are overwritten, one after another, by a copy of
another document plus " dup", and unit-norm 64-d embeddings.

Row counts scale with `sf` (lineitem = 6,000,000 x sf). `documents` and
`embeddings` have a floor of 500 rows, as the engine's small fixtures do.
Each lineitem row draws its order uniformly and is numbered 1..k within
its order, so (l_orderkey, l_linenumber) is unique, as the queries that
sort on it assume. Rows are written in generation order. The same
arguments always give byte-identical files.
"""
import datetime as dt
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ORDER_STATUS = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
DIM = 64


def _days(lo, hi, n, rng):
    """n uniform midnights in [lo, hi] as timestamp[us]."""
    span = (hi - lo).days
    d = rng.integers(0, span + 1, n)
    base = np.datetime64(lo.isoformat(), "us")
    return base + d.astype("timedelta64[D]").astype("timedelta64[us]")


def _money(lo, hi, n, rng):
    return np.round(rng.uniform(lo, hi, n), 2)


def _line_numbers(okey):
    """1..k for the k rows of each order, in row order."""
    by_key = np.argsort(okey, kind="stable")
    k = okey[by_key]
    first = np.flatnonzero(np.r_[True, k[1:] != k[:-1]])
    rank = np.arange(len(k)) - np.repeat(first, np.diff(np.r_[first, len(k)]))
    out = np.empty(len(k), np.int32)
    out[by_key] = rank + 1
    return out


def _write(dst, name, cols):
    pq.write_table(pa.table(cols), os.path.join(dst, f"{name}.parquet"))


def generate(dst, sf, seed):
    """Write the ten tables for scale factor `sf` into `dst`."""
    os.makedirs(dst, exist_ok=True)
    rng = np.random.default_rng([seed, int(round(sf * 1000))])
    n_cust, n_supp = int(150000 * sf), int(10000 * sf)
    n_part, n_ord = int(200000 * sf), int(1500000 * sf)
    n_line, n_ev = int(6000000 * sf), int(1000000 * sf)
    n_doc, n_vec = max(500, int(50000 * sf)), max(500, int(20000 * sf))
    i32 = pa.int32()

    _write(dst, "region", {
        "r_regionkey": pa.array(range(5), i32), "r_name": REGIONS})
    _write(dst, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    _write(dst, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(-999.99, 9999.99, n_cust, rng),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    _write(dst, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(-999.99, 9999.99, n_supp, rng)})
    pk = np.arange(n_part, dtype=np.int64)
    _write(dst, "part", {
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(
            np.array(PART_ADJ)[rng.integers(0, 8, n_part)], " "),
            np.array(PART_NOUN)[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900 + (pk % 1000) * 0.1, 2)})
    _write(dst, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(ORDER_STATUS)[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(1000, 500000, n_ord, rng),
        "o_orderdate": _days(dt.date(1995, 1, 1), dt.date(2001, 8, 1), n_ord, rng),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    okey = rng.integers(0, n_ord, n_line)
    line = {
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": _line_numbers(okey),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(900, 105000, n_line, rng),
        "l_discount": np.round(rng.integers(0, 11, n_line) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) * 0.01, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _days(dt.date(1995, 1, 2), dt.date(2001, 11, 4), n_line, rng)}
    _write(dst, "lineitem", line)
    month_us = 30 * 86400 * 10**6
    ts = np.sort(rng.integers(0, month_us, n_ev))
    _write(dst, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01T00:00:00", "us") + ts.astype("timedelta64[us]"),
        "user_id": rng.integers(0, int(15000 * sf), n_ev),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(VOCAB), rng.integers(10, 100))])
             for _ in range(n_doc)]
    for i in np.sort(rng.choice(n_doc, n_doc // 20, replace=False)):
        j = int(rng.integers(0, n_doc - 1))
        texts[i] = texts[j + (j >= i)] + " dup"
    _write(dst, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    v = rng.standard_normal((n_vec, DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    _write(dst, "embeddings", {
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(v.ravel(), DIM).cast(
            pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec), i32)})


def fingerprint(d):
    """sha256 over every table file's bytes, first 16 hex digits."""
    h = hashlib.sha256()
    for t in TABLES:
        with open(os.path.join(d, f"{t}.parquet"), "rb") as f:
            h.update(t.encode())
            h.update(f.read())
    return h.hexdigest()[:16]
