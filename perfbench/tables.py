"""Fixed synthetic tables for the ``card_catalog`` workload.

The engine's registry queries read a TPC-H-shaped star schema plus a
``documents`` corpus and an ``events`` stream (one parquet file per
table). This module writes the tables those catalog queries touch, at
the row counts of the sf0.1 scale, from one fixed seed: the table data is
the same for every ``--seed`` (the seed only orders the ops), so the
catalog numbers of two runs differ by the op order alone.

The files are cached under a directory named after ``TABLES_VERSION``
and written through a temp directory plus a rename, so a crashed writer
never leaves a half-built cache behind.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: bump when the generator's output changes
TABLES_VERSION = "tables-v2"
TABLES = ("region", "nation", "customer", "orders", "lineitem", "documents", "events")
SEED = 20241017

#: customer, orders, lineitem, documents, events rows at sf0.1
SIZES = (15_000, 150_000, 600_000, 5_000, 100_000)

VOCAB = (
    "the a spark join filter window row data slow small customer line batch "
    "value merge table agg sort part column key big fast vector hash query "
    "stream scan order dup group"
).split()
LANGS = ("en", "en", "en", "en", "de", "fr", "es", "zh")
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")


def _ts_ns(rng: np.random.Generator, n: int, start: str, days: int) -> pa.Array:
    """Nanosecond timestamps on whole microseconds: the engine's real
    inputs store ``events.ts`` as TIMESTAMP(NANOS), which the catalog
    reads through its own nanosecond path."""
    base = np.datetime64(start, "ns")
    offs = (rng.integers(0, days * 86_400_000_000, n) * 1000).astype("timedelta64[ns]")
    return pa.array(base + offs, type=pa.timestamp("ns"))


def _days(rng: np.random.Generator, n: int, start: str, days: int) -> pa.Array:
    base = np.datetime64(start, "D").astype("datetime64[us]")
    offs = (rng.integers(0, days, n) * 86_400_000_000).astype("timedelta64[us]")
    return pa.array(base + offs, type=pa.timestamp("us"))


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def build_tables(scale: float = 1.0) -> dict[str, pa.Table]:
    """The catalog tables; ``scale`` shrinks the row counts (1.0 is the
    sf0.1 size the benchmark runs, 0.01 an sf0.001-sized set for tests)."""
    rng = np.random.default_rng(SEED)
    n_customer, n_orders, n_lineitem, n_documents, n_events = (
        max(10, int(n * scale)) for n in SIZES
    )
    region = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    nation = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
        }
    )
    customer = pa.table(
        {
            "c_custkey": np.arange(n_customer, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_customer)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_customer), pa.int32()),
            "c_acctbal": _money(rng, n_customer, -999.99, 9999.99),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_customer)],
        }
    )
    orders = pa.table(
        {
            "o_orderkey": np.arange(n_orders, dtype=np.int64),
            "o_custkey": rng.integers(0, n_customer, n_orders),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)],
            "o_totalprice": _money(rng, n_orders, 1000.0, 500000.0),
            "o_orderdate": _days(rng, n_orders, "1995-01-01", 2405),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_orders)],
        }
    )
    quantity = rng.integers(1, 51, n_lineitem).astype(np.float64)
    lineitem = pa.table(
        {
            "l_orderkey": np.sort(rng.integers(0, n_orders, n_lineitem)),
            "l_partkey": rng.integers(0, 20_000, n_lineitem),
            "l_suppkey": rng.integers(0, 1_000, n_lineitem),
            "l_linenumber": pa.array(rng.integers(1, 8, n_lineitem), pa.int32()),
            "l_quantity": quantity,
            "l_extendedprice": np.round(quantity * rng.uniform(900.0, 2100.0, n_lineitem), 2),
            "l_discount": np.round(rng.integers(0, 11, n_lineitem) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, n_lineitem) / 100.0, 2),
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_lineitem)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_lineitem)],
            "l_shipdate": _days(rng, n_lineitem, "1995-01-02", 2498),
        }
    )
    vocab = np.array(VOCAB)
    n_words = rng.integers(8, 90, n_documents)
    words = vocab[rng.integers(0, len(vocab), int(n_words.sum()))]
    bounds = np.concatenate([[0], np.cumsum(n_words)])
    texts = [" ".join(words[bounds[i]:bounds[i + 1]]) for i in range(n_documents)]
    documents = pa.table(
        {
            "doc_id": np.arange(n_documents, dtype=np.int64),
            "text": texts,
            "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n_documents)],
            "source": [f"src{i}" for i in rng.integers(0, 20, n_documents)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    k = rng.integers(0, 100, n_events)
    malformed = rng.random(n_events) < 0.01
    props = [
        '{"k": ' if bad else f'{{"k": {v}}}' for v, bad in zip(k.tolist(), malformed.tolist())
    ]
    events = pa.table(
        {
            "event_id": np.arange(n_events, dtype=np.int64),
            "ts": _ts_ns(rng, n_events, "2024-01-01", 30),
            "user_id": rng.integers(0, 1_500, n_events),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_events)],
            "value": _money(rng, n_events, 0.0, 500.0),
            "props": props,
        }
    )
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "orders": orders,
        "lineitem": lineitem,
        "documents": documents,
        "events": events,
    }


def write_tables(out_dir: str, scale: float = 1.0) -> None:
    for name, table in build_tables(scale).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def ensure_tables(cache_root: str) -> str:
    """Return the directory holding the tables, writing them if absent."""
    out = os.path.join(cache_root, TABLES_VERSION)
    if all(os.path.exists(os.path.join(out, f"{t}.parquet")) for t in TABLES):
        return out
    os.makedirs(cache_root, exist_ok=True)
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    write_tables(tmp)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out
