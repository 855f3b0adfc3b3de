"""Seeded input tables in the shape of the repo's sf0.1 test data.

Every table keeps the column names and Arrow types of the test-data
schema and the sf0.1 shape: row counts, key ranges and fan-out (about 4
lines per order, 10 orders per customer, 67 events per user), uniform
categorical columns, an exponential event value, half the event log
before the cleaning rules' 2024-01-15 flag date (so the rules find
violations at the same rates), and a document corpus with about 5%
near-duplicates (a copy of another document plus the word "dup") and
0.16% exact duplicates. The same (seed, variant) always gives the same
files; another seed gives other rows of the same size.
"""
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS = {"region": 5, "nation": 25, "customer": 15000, "supplier": 1000,
        "part": 20000, "orders": 150000, "lineitem": 600000,
        "events": 100000, "documents": 5000, "embeddings": 2000}
TABLES = list(ROWS)

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
NEAR_DUP_RATE = 0.05
EXACT_DUP_RATE = 0.0016


def rng(seed, variant, table):
    """One independent stream per (seed, variant, table), from a hash."""
    h = hashlib.sha256(f"{seed}/{variant}/{table}".encode()).digest()
    return np.random.default_rng(int.from_bytes(h[:8], "little"))


def _days(r, start, n_days, n):
    base = np.datetime64(start, "us")
    return base + r.integers(0, n_days, n).astype("timedelta64[D]")


def _money(r, lo, hi, n):
    return np.round(r.uniform(lo, hi, n), 2)


def _pick(r, values, n, p=None):
    return np.asarray(values, dtype=object)[r.choice(len(values), n, p=p)]


def _ids(n):
    return np.arange(n, dtype=np.int64)


def region(r, n):
    return {"r_regionkey": pa.array(np.arange(n, dtype=np.int32)),
            "r_name": pa.array(REGIONS[:n])}


def nation(r, n):
    k = np.arange(n, dtype=np.int32)
    return {"n_nationkey": pa.array(k),
            "n_name": pa.array([f"NATION_{i}" for i in k]),
            "n_regionkey": pa.array(k % 5)}


def customer(r, n):
    return {"c_custkey": pa.array(_ids(n)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
            "c_nationkey": pa.array(r.integers(0, 25, n, dtype=np.int32)),
            "c_acctbal": pa.array(_money(r, -1000, 10000, n)),
            "c_mktsegment": pa.array(_pick(r, SEGMENTS, n), pa.string())}


def supplier(r, n):
    return {"s_suppkey": pa.array(_ids(n)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)]),
            "s_nationkey": pa.array(r.integers(0, 25, n, dtype=np.int32)),
            "s_acctbal": pa.array(_money(r, -1000, 10000, n))}


def part(r, n):
    k = _ids(n)
    names = [f"{a} {b}" for a, b in zip(_pick(r, PART_ADJ, n), _pick(r, PART_NOUN, n))]
    return {"p_partkey": pa.array(k), "p_name": pa.array(names),
            "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, n)]),
            "p_type": pa.array(_pick(r, PART_TYPES, n), pa.string()),
            "p_size": pa.array(r.integers(1, 51, n, dtype=np.int32)),
            "p_retailprice": pa.array(900.0 + (k % 1000) / 10.0)}


def orders(r, n):
    return {"o_orderkey": pa.array(_ids(n)),
            "o_custkey": pa.array(r.integers(0, ROWS["customer"], n)),
            "o_orderstatus": pa.array(_pick(r, ["P", "O", "F"], n), pa.string()),
            "o_totalprice": pa.array(_money(r, 1000, 500000, n)),
            "o_orderdate": pa.array(_days(r, "1995-01-01", 2400, n)),
            "o_orderpriority": pa.array(_pick(r, PRIORITIES, n), pa.string())}


def lineitem(r, n):
    return {"l_orderkey": pa.array(r.integers(0, ROWS["orders"], n)),
            "l_partkey": pa.array(r.integers(0, ROWS["part"], n)),
            "l_suppkey": pa.array(r.integers(0, ROWS["supplier"], n)),
            "l_linenumber": pa.array(r.integers(1, 8, n, dtype=np.int32)),
            "l_quantity": pa.array(r.integers(1, 51, n).astype(np.float64)),
            "l_extendedprice": pa.array(_money(r, 900, 105000, n)),
            "l_discount": pa.array(np.round(r.uniform(0, 10, n)) / 100),
            "l_tax": pa.array(np.round(r.uniform(0, 8, n)) / 100),
            "l_returnflag": pa.array(_pick(r, ["A", "N", "R"], n), pa.string()),
            "l_linestatus": pa.array(_pick(r, ["F", "O"], n), pa.string()),
            "l_shipdate": pa.array(_days(r, "1995-01-02", 2500, n))}


def events(r, n):
    span_us = 30 * 86400 * 10**6
    ts = np.sort(r.integers(0, span_us, n)).astype("timedelta64[us]")
    return {"event_id": pa.array(_ids(n)),
            "ts": pa.array(np.datetime64("2024-01-01", "us") + ts),
            "user_id": pa.array(r.integers(0, 1500, n)),
            "event_type": pa.array(_pick(r, EVENT_TYPES, n), pa.string()),
            "value": pa.array(np.round(r.exponential(50.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n)])}


def documents(r, n, dialects=1):
    """`dialects` > 1 grows the corpus on the breadth axis, as the
    program's decade fixtures do: doc i writes in dialect i % dialects, a
    copy of the vocabulary with every word suffixed (dialect 0 is bare),
    so per-dialect gram statistics stay at sf0.1 levels."""
    lens = r.integers(10, 101, n)
    dialect = np.repeat(np.arange(n) % dialects, lens)
    word = r.integers(0, len(VOCAB), int(lens.sum()))
    vocab = np.asarray([w + (f"x{d}" if d else "") for d in range(dialects) for w in VOCAB],
                       dtype=object)
    flat = vocab[dialect * len(VOCAB) + word]
    cuts = np.cumsum(lens)[:-1]
    text = [" ".join(ws) for ws in np.split(flat, cuts)]
    # near-duplicates first, then exact copies, each of a random other doc
    for i in r.choice(n, int(n * NEAR_DUP_RATE), replace=False):
        text[i] = text[int(r.integers(0, n))] + " dup"
    for i in r.choice(n, int(n * EXACT_DUP_RATE), replace=False):
        text[i] = text[int(r.integers(0, n))]
    return {"doc_id": pa.array(_ids(n)), "text": pa.array(text),
            "lang": pa.array(_pick(r, LANGS, n, LANG_P), pa.string()),
            "source": pa.array([f"src{i % (20 * dialects)}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in text], dtype=np.int64))}


def embeddings(r, n):
    v = r.standard_normal((n, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    emb = pa.ListArray.from_arrays(pa.array(np.arange(0, 64 * n + 1, 64, dtype=np.int32)),
                                   pa.array(v.reshape(-1)))
    return {"vec_id": pa.array(_ids(n)), "embedding": emb,
            "label": pa.array(r.integers(0, 10, n, dtype=np.int32))}


def generate(out_dir, seed, variant=0, tables=TABLES, dialects=1):
    """Write `<table>.parquet` files under `out_dir`. With `dialects` > 1
    the document corpus is that many sf0.1 corpora wide."""
    os.makedirs(out_dir, exist_ok=True)
    for t in tables:
        r = rng(seed, variant, t)
        cols = (documents(r, ROWS[t] * dialects, dialects) if t == "documents"
                else globals()[t](r, ROWS[t]))
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{t}.parquet"),
                       compression="snappy")
    return out_dir


if __name__ == "__main__":
    import sys
    generate(sys.argv[1], int(sys.argv[2]))  # usage: datagen.py <out_dir> <seed>
