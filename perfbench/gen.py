"""Seeded inputs for the benchmark.

Two kinds of input, both deterministic:

* the base tables (``documents``, ``events``, ``orders``, ``customer``,
  ``nation``, ``region``) in the schema the registry queries read, written
  once per checkout from the fixed ``DATA_SEED`` with NumPy and PyArrow
  (no Spark), and the HTML corpora built from them by the package's own
  ``build_html_corpus``;
* the per-run workload inputs that ``--seed`` selects: which pages seed a
  crawl, and the order the queries run in.

Nothing here reads outside the directory it is given.
"""

from __future__ import annotations

import hashlib
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
# Bump when the generator's output changes: the cache path embeds it.
DATA_FORMAT = 1

# Words the registry queries search for ("spark join window", "crawled
# pages ordering", "key order", ...) are in the vocabulary, so every
# search query has hits.
VOCAB = (
    "a the spark join window key order sort hash scan filter group agg "
    "table column row value data stream batch merge query part line "
    "vector customer fast slow big small crawled pages ordering index"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
ORDER_STATUS = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
DUP_SHARE = 0.05


def documents(n: int, rng: np.random.Generator) -> pa.Table:
    """``n`` documents of 10-100 vocabulary words; DUP_SHARE of them are
    near-duplicates of an earlier document (its text plus `` dup``), and
    every tenth of those an exact copy of an earlier near-duplicate, so
    the dedup queries find clusters."""
    lens = rng.integers(10, 101, size=n)
    words = rng.integers(0, len(VOCAB), size=int(lens.sum()))
    vocab = np.array(VOCAB, dtype=object)
    texts, pos = [], 0
    for ln in lens:
        texts.append(" ".join(vocab[words[pos : pos + ln]]))
        pos += ln
    dups: list[int] = []
    for i in sorted(rng.choice(np.arange(1, n), size=int(n * DUP_SHARE), replace=False)):
        if dups and len(dups) % 10 == 9:
            texts[i] = texts[dups[int(rng.integers(len(dups)))]]
        else:
            texts[i] = texts[int(rng.integers(i))] + " dup"
        dups.append(int(i))
    lang = rng.choice(LANGS, size=n, p=LANG_P)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(lang, pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def events(n: int, n_users: int, rng: np.random.Generator) -> pa.Table:
    """``n`` events over 30 days, ordered by time."""
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, size=n))
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(start + offs.astype("timedelta64[us]"), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, size=n), pa.int64()),
            "event_type": pa.array(rng.choice(EVENT_TYPES, size=n), pa.string()),
            "value": pa.array(np.round(rng.exponential(50.0, size=n), 2), pa.float64()),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)], pa.string()
            ),
        }
    )


def orders(n: int, n_cust: int, rng: np.random.Generator) -> pa.Table:
    start = np.datetime64("1995-01-01", "D")
    days = rng.integers(0, 2404, size=n).astype("timedelta64[D]")
    return pa.table(
        {
            "o_orderkey": pa.array(np.arange(n), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, size=n), pa.int64()),
            "o_orderstatus": pa.array(rng.choice(ORDER_STATUS, size=n), pa.string()),
            "o_totalprice": pa.array(
                np.round(rng.uniform(1000.0, 500000.0, size=n), 2), pa.float64()
            ),
            "o_orderdate": pa.array(
                (start + days).astype("datetime64[us]"), pa.timestamp("us")
            ),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, size=n), pa.string()),
        }
    )


def customer(n: int, rng: np.random.Generator) -> pa.Table:
    return pa.table(
        {
            "c_custkey": pa.array(np.arange(n), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)], pa.string()),
            "c_nationkey": pa.array(rng.integers(0, 25, size=n), pa.int32()),
            "c_acctbal": pa.array(
                np.round(rng.uniform(-999.99, 9999.99, size=n), 2), pa.float64()
            ),
            "c_mktsegment": pa.array(rng.choice(SEGMENTS, size=n), pa.string()),
        }
    )


def nation() -> pa.Table:
    return pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )


def region() -> pa.Table:
    return pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(REGIONS, pa.string()),
        }
    )


def write_tables(out_dir: str, n_docs: int, seed: int = DATA_SEED) -> str:
    """Write the base tables for ``n_docs`` documents (events, orders and
    customers scale with it as in the sf tables: 20, 30 and 3 per
    document) as ``<out_dir>/<table>.parquet/part-0.parquet``."""
    rng = np.random.default_rng(seed)
    n_cust = 3 * n_docs
    tables = {
        "documents": documents(n_docs, rng),
        "events": events(20 * n_docs, 1500, rng),
        "orders": orders(30 * n_docs, n_cust, rng),
        "customer": customer(n_cust, rng),
        "nation": nation(),
        "region": region(),
    }
    for name, table in tables.items():
        d = os.path.join(out_dir, f"{name}.parquet")
        os.makedirs(d, exist_ok=True)
        pq.write_table(table, os.path.join(d, "part-0.parquet"))
    return out_dir


def seed_urls(urls: list[str], seed: int, buckets: int, keep: int) -> list[str]:
    """The crawl seeds for one run: the pages whose salted url hash falls
    in ``keep`` of ``buckets`` buckets, so each seed draws a different
    subset of about keep/buckets of the pages."""
    salt = (seed % 2**64).to_bytes(8, "little")

    def bucket(url: str) -> int:
        h = hashlib.blake2b(url.encode(), digest_size=8, salt=salt)
        return int.from_bytes(h.digest(), "little") % buckets

    return sorted(u for u in urls if bucket(u) < keep)


def query_order(names: list[str], seed: int) -> list[str]:
    out = list(names)
    random.Random(seed).shuffle(out)
    return out
