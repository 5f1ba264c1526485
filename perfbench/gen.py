"""Seeded generator for the benchmark's input tables.

Writes parquet files with the column names and types of the repo's
TPC-H-ish test schema (``<dir>/<table>.parquet``), so the registry query
functions and their DuckDB oracles run on them unmodified. The same seed
and scale always give byte-identical tables; nothing is read from outside
the output directory.

``scale=1.0`` is the size of the sf0.1 test set: 150,000 orders and about
600,000 lineitem rows. Fact tables grow linearly with ``scale``; order keys
are the even numbers ``0, 2, 4, ...`` so every odd key inside the key range
is a known-absent key for point lookups.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_ORDERS = 150_000
BASE_CUSTOMERS = 15_000
BASE_SUPPLIERS = 1_000
BASE_PARTS = 20_000

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
LANGS = ["en", "de", "fr", "es", "zh"]

DAY_US = 86_400 * 1_000_000
EPOCH_1992 = np.datetime64("1992-01-01", "us").astype(np.int64)
EPOCH_1995_06_17 = np.datetime64("1995-06-17", "us").astype(np.int64)
ORDER_DAYS = int((np.datetime64("1998-08-02") - np.datetime64("1992-01-01")).astype(int))

WORDS = (
    "the a of and to in is for on with data table scan join merge key value row column "
    "segment index block page sort hash group order filter query batch stream window "
    "spark vector model token corpus text line part small big fast slow store load "
    "write read commit file cache plan stage task shuffle bloom zone range point"
).split()


def _pick(rng: np.random.Generator, choices: list[str], n: int) -> pa.Array:
    idx = rng.integers(0, len(choices), n).astype(np.int32)
    return pa.DictionaryArray.from_arrays(pa.array(idx), pa.array(choices)).cast(pa.string())


def _names(prefix: str, keys: np.ndarray) -> pa.Array:
    return pa.array([f"{prefix}#{k:09d}" for k in keys.tolist()])


def _money(rng: np.random.Generator, lo: int, hi: int, n: int) -> np.ndarray:
    """Two-decimal amounts in [lo, hi) dollars, as the nearest doubles."""
    return np.round(rng.integers(lo * 100, hi * 100, n) / 100.0, 2)


def _write(out_dir: str, name: str, table: pa.Table) -> None:
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def orders_table(rng: np.random.Generator, n_orders: int, n_customers: int) -> pa.Table:
    keys = np.arange(n_orders, dtype=np.int64) * 2
    dates = EPOCH_1992 + rng.integers(0, ORDER_DAYS, n_orders) * DAY_US
    return pa.table(
        {
            "o_orderkey": keys,
            "o_custkey": rng.integers(0, n_customers, n_orders).astype(np.int64),
            "o_orderstatus": _pick(rng, STATUSES, n_orders),
            "o_totalprice": _money(rng, 1_000, 400_000, n_orders),
            "o_orderdate": pa.array(dates, pa.timestamp("us")),
            "o_orderpriority": _pick(rng, PRIORITIES, n_orders),
        }
    )


def lineitem_table(
    rng: np.random.Generator, orders: pa.Table, n_parts: int, n_suppliers: int
) -> pa.Table:
    okeys = orders["o_orderkey"].to_numpy()
    odates = orders["o_orderdate"].cast(pa.int64()).to_numpy()
    per_order = rng.integers(1, 8, len(okeys))
    n = int(per_order.sum())
    l_orderkey = np.repeat(okeys, per_order)
    starts = np.repeat(np.cumsum(per_order) - per_order, per_order)
    l_linenumber = (np.arange(n) - starts + 1).astype(np.int32)
    ship = np.repeat(odates, per_order) + rng.integers(1, 122, n) * DAY_US
    qty = rng.integers(1, 51, n).astype(np.float64)
    price = _money(rng, 900, 2_000, n)
    shipped = ship <= EPOCH_1995_06_17
    flag = np.where(shipped, np.where(rng.random(n) < 0.5, "R", "A"), "N")
    return pa.table(
        {
            "l_orderkey": l_orderkey,
            "l_partkey": rng.integers(0, n_parts, n).astype(np.int64),
            "l_suppkey": rng.integers(0, n_suppliers, n).astype(np.int64),
            "l_linenumber": l_linenumber,
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * price, 2),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": pa.array(flag),
            "l_linestatus": pa.array(np.where(shipped, "F", "O")),
            "l_shipdate": pa.array(ship, pa.timestamp("us")),
        }
    )


def _dimension_tables(rng: np.random.Generator, n_customers: int) -> dict[str, pa.Table]:
    ckeys = np.arange(n_customers, dtype=np.int64)
    skeys = np.arange(BASE_SUPPLIERS, dtype=np.int64)
    pkeys = np.arange(BASE_PARTS, dtype=np.int64)
    return {
        "region": pa.table(
            {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": ckeys,
                "c_name": _names("Customer", ckeys),
                "c_nationkey": rng.integers(0, 25, n_customers).astype(np.int32),
                "c_acctbal": _money(rng, -999, 10_000, n_customers),
                "c_mktsegment": _pick(rng, SEGMENTS, n_customers),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": skeys,
                "s_name": _names("Supplier", skeys),
                "s_nationkey": rng.integers(0, 25, len(skeys)).astype(np.int32),
                "s_acctbal": _money(rng, -999, 10_000, len(skeys)),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pkeys,
                "p_name": _names("Part", pkeys),
                "p_brand": pa.array([f"Brand#{i % 25 + 1}" for i in range(len(pkeys))]),
                "p_type": _pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "SMALL", "STANDARD"], len(pkeys)),
                "p_size": rng.integers(1, 51, len(pkeys)).astype(np.int32),
                "p_retailprice": _money(rng, 900, 2_000, len(pkeys)),
            }
        ),
    }


def write_star(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """The six tables of the OLAP shapes (orders, lineitem and their
    dimensions). Returns row counts by table."""
    rng = np.random.default_rng([seed, 1])
    n_customers = max(100, int(BASE_CUSTOMERS * scale))
    tables = _dimension_tables(rng, n_customers)
    tables["orders"] = orders_table(rng, max(100, int(BASE_ORDERS * scale)), n_customers)
    tables["lineitem"] = lineitem_table(rng, tables["orders"], BASE_PARTS, BASE_SUPPLIERS)
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        _write(out_dir, name, tbl)
    return {name: tbl.num_rows for name, tbl in tables.items()}


def write_corpus(out_dir: str, seed: int, n_docs: int, n_vectors: int) -> dict[str, int]:
    """``documents`` where every sixth document is a lightly edited copy of
    a distinct original (so the near-duplicate structure, and with it the
    work of the dedup operators, is the same for every seed), plus
    clustered ``embeddings``."""
    rng = np.random.default_rng([seed, 2])
    words = np.array(WORDS)
    texts: list[str] = []
    for i in range(n_docs):
        if i % 6 == 5:
            toks = texts[i - 5].split()
            for _ in range(2):
                toks[int(rng.integers(0, len(toks)))] = str(rng.choice(words))
        else:
            toks = rng.choice(words, int(rng.integers(24, 72))).tolist()
        texts.append(" ".join(toks))
    documents = pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": _pick(rng, LANGS, n_docs),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    labels = rng.integers(0, 10, n_vectors)
    centers = rng.normal(size=(10, 64))
    vecs = (centers[labels] + 0.6 * rng.normal(size=(n_vectors, 64))).astype(np.float32)
    embeddings = pa.table(
        {
            "vec_id": np.arange(n_vectors, dtype=np.int64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": labels.astype(np.int32),
        }
    )
    os.makedirs(out_dir, exist_ok=True)
    _write(out_dir, "documents", documents)
    _write(out_dir, "embeddings", embeddings)
    return {"documents": n_docs, "embeddings": n_vectors}
