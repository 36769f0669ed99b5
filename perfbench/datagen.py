"""Seeded synthetic inputs for the benchmark.

Writes the TPC-H-shaped star schema plus the ``documents`` corpus the
LLM curation operators read, one parquet file per table, with the column
names and types the engine's registered queries and their DuckDB oracles
expect. Everything is drawn from one
``numpy.random.Generator`` seeded by the caller, so the same seed gives
byte-identical inputs.

Sizes scale with ``sf`` like TPC-H (lineitem ≈ 6M·sf rows). Ship dates
span TPC-H's 1992-01-02..1998-12-01 at every ``sf``, so the registered
queries select non-empty sets (q3's 1998-03-15 cutoff, q5's 1996). Of
that span's 2,526 days every ``SHIP_STEP``-th is used: 253 ship dates,
one bronze partition each in the medallion flow. At sf0.01 that is about
240 rows per partition, the same as TPC-H's 2,526 daily partitions at
sf0.1 (all 2,526 at sf0.01 make one medallion pass take about 55 s, too
long for the benchmark's time budget). Order dates span 1995-1998.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"]
VOCAB = (
    "scan column window order sort part agg value line key join merge group "
    "query vector hash slow stream filter fast batch spark table small data "
    "big customer row"
).split()
STOPWORDS = ["the", "a", "is", "of", "and"]
LANGS = ["en", "fr", "es", "de", "zh"]

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_SHIP_START = np.datetime64("1992-01-02", "us").astype(np.int64)
SHIP_SPAN_DAYS = 2526  # 1992-01-02 .. 1998-12-01
SHIP_STEP = 10
SHIP_DAYS = len(range(0, SHIP_SPAN_DAYS, SHIP_STEP))


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tpch_tables(rng: np.random.Generator, sf: float) -> dict[str, pa.Table]:
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_orders = max(1_500, int(1_500_000 * sf))

    region = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": REGIONS,
    })
    nation = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    customer = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    retail = np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)
    part = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"part {i}" for i in range(n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": retail,
    })
    order_days = rng.integers(0, 4 * 365, n_orders)
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)],
        "o_totalprice": _money(rng, 1_000.0, 500_000.0, n_orders),
        "o_orderdate": _ts(_EPOCH_1995 + order_days * _DAY_US),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_orders)],
    })

    # 1..7 lines per order, so (l_orderkey, l_linenumber) is a key
    lines = rng.integers(1, 8, n_orders)
    l_orderkey = np.repeat(np.arange(n_orders), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    l_linenumber = np.arange(len(l_orderkey)) - starts + 1
    n_li = len(l_orderkey)
    l_partkey = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    lineitem = pa.table({
        "l_orderkey": pa.array(l_orderkey, pa.int64()),
        "l_partkey": pa.array(l_partkey, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(l_linenumber, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[l_partkey], 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(
            _SHIP_START + rng.integers(0, SHIP_DAYS, n_li) * SHIP_STEP * _DAY_US
        ),
    })
    return {
        "region": region, "nation": nation, "customer": customer,
        "supplier": supplier, "part": part, "orders": orders,
        "lineitem": lineitem,
    }


def corpus_tables(rng: np.random.Generator, n_docs: int) -> dict[str, pa.Table]:
    """Documents with planted near-duplicates, repetitive and too-short
    texts, so every curation gate both keeps and drops."""
    vocab = np.array(VOCAB + STOPWORDS)
    texts: list[str] = []
    for i in range(n_docs):
        kind = rng.random()
        if i > 10 and kind < 0.12:
            words = texts[int(rng.integers(0, i))].split()
            j = int(rng.integers(0, len(words)))
            words[j] = str(rng.choice(vocab))
            texts.append(" ".join(words + ["dup"]))
        elif kind < 0.17:
            pair = list(rng.choice(vocab, 2))
            texts.append(" ".join(pair * int(rng.integers(8, 20))))
        elif kind < 0.20:
            texts.append(" ".join(rng.choice(vocab, int(rng.integers(3, 9)))))
        else:
            texts.append(" ".join(rng.choice(vocab, int(rng.integers(20, 90)))))
    documents = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n_docs)],
        "source": [f"src{i % 5}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    return {"documents": documents}


def generate(out_dir: str, seed: int, sf: float, n_docs: int, tables=None) -> dict[str, pa.Table]:
    """Write ``<out_dir>/<table>.parquet`` for every table (or only the
    named ``tables``) and return the Arrow tables by name."""
    rng = np.random.default_rng(seed)
    data = tpch_tables(rng, sf)
    data.update(corpus_tables(rng, n_docs))
    if tables is not None:
        data = {k: v for k, v in data.items() if k in tables}
    os.makedirs(out_dir, exist_ok=True)
    for name, table in data.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return data
