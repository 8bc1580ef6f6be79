"""Seeded inputs of the `queries` workload.

Writes the six tables the 20 headline queries read, drawn from the same
distributions as the sf0.1 star-schema fixture, written the same way
(pyarrow, one snappy-compressed, dictionary-encoded row group per table, one
file `<dir>/<table>.parquet` per table). LAYERS.md sets the two side by side.

- lineitem (600k), orders (150k), customer (15k): uniform keys, flags,
  priorities and segments; prices uniform on the fixture's ranges; discount
  and tax uniform, rounded to cents; whole-day dates.
- events (100k): 1,500 users; timestamps are 100k sorted uniform instants in
  30 days at microsecond precision (so the gaps are exponential); values
  exponential with mean 50.
- documents (5k): 10-99 words from a 30-word vocabulary; 5% are the text of
  another document plus " dup" (near-duplicates; two picking the same
  original are exact duplicates); `source` is `src<doc_id % 20>`.
- embeddings (2k): 64-dimensional Gaussian vectors scaled to unit norm.

One seed gives the same files on every run.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a the data spark line column order small sort fast value scan hash slow "
         "group agg filter query big key window row table stream merge vector "
         "customer join part batch").split()


def days(rng, start, n_days, size):
    """Midnight timestamps uniform over `n_days` days from `start`."""
    d = np.datetime64(start, "D") + rng.integers(0, n_days, size).astype("timedelta64[D]")
    return d.astype("datetime64[us]")


def cents(rng, lo, hi, size):
    return np.round(rng.uniform(lo, hi, size), 2)


def pick(rng, values, size, p=None):
    return rng.choice(np.array(list(values), dtype=object), size, p=p)


def lineitem(rng, n=600_000):
    return {
        "l_orderkey": rng.integers(0, 150_000, n),
        "l_partkey": rng.integers(0, 20_000, n),
        "l_suppkey": rng.integers(0, 1_000, n),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": cents(rng, 900, 105_000, n),
        "l_discount": cents(rng, 0, 0.1, n),
        "l_tax": cents(rng, 0, 0.08, n),
        "l_returnflag": pick(rng, "ANR", n),
        "l_linestatus": pick(rng, "OF", n),
        "l_shipdate": days(rng, "1995-01-02", 2_499, n),
    }


def orders(rng, n=150_000):
    return {
        "o_orderkey": np.arange(n),
        "o_custkey": rng.integers(0, 15_000, n),
        "o_orderstatus": pick(rng, "FOP", n),
        "o_totalprice": cents(rng, 1_000, 500_000, n),
        "o_orderdate": days(rng, "1995-01-01", 2_405, n),
        "o_orderpriority": pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                      "5-LOW"], n),
    }


def customer(rng, n=15_000):
    return {
        "c_custkey": np.arange(n),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": cents(rng, -1_000, 10_000, n),
        "c_mktsegment": pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                   "MACHINERY"], n),
    }


def events(rng, n=100_000):
    span_us = 30 * 86_400 * 1_000_000
    return {
        "event_id": np.arange(n),
        "ts": np.datetime64("2024-01-01", "us")
              + np.sort(rng.integers(0, span_us, n)).astype("timedelta64[us]"),
        "user_id": rng.integers(0, 1_500, n),
        "event_type": pick(rng, ["click", "error", "purchase", "signup", "view"], n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    }


def documents(rng, n=5_000):
    vocab = np.array(WORDS, dtype=object)
    text = [" ".join(rng.choice(vocab, k)) for k in rng.integers(10, 100, n)]
    for i in rng.choice(n, n // 20, replace=False):
        text[i] = text[rng.integers(0, n)] + " dup"
    return {
        "doc_id": np.arange(n),
        "text": text,
        "lang": pick(rng, ["en", "de", "es", "fr", "zh"], n, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in text], dtype=np.int64),
    }


def embeddings(rng, n=2_000, dim=64):
    v = rng.standard_normal((n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return {
        "vec_id": np.arange(n),
        "embedding": pa.array(list(v), type=pa.list_(pa.field("element", pa.float32()))),
        "label": rng.integers(0, 10, n).astype(np.int32),
    }


TABLES = {"lineitem": lineitem, "orders": orders, "customer": customer,
          "events": events, "documents": documents, "embeddings": embeddings}


def write(seed, out_dir):
    """One `<out_dir>/<table>.parquet` per table; every table draws from its
    own stream of `seed`, so one table's draws do not shift another's."""
    os.makedirs(out_dir, exist_ok=True)
    for i, (name, make) in enumerate(TABLES.items()):
        rng = np.random.default_rng([int(seed) & 0x7FFFFFFF, i])
        pq.write_table(pa.table(make(rng)), os.path.join(out_dir, f"{name}.parquet"))
