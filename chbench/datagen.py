"""Deterministic benchmark dataset, shaped like the sf0.1 test tables.

The benchmark may read only its own checkout, so it builds the tables it
queries instead of reading an installed data directory. Row counts,
column names, parquet types, key ranges and value ranges follow the
sf0.1 tables (lineitem 600k rows, orders 150k, customer 15k, ...). As in
those files, every timestamp is stored as ``timestamp[us]`` without a
time zone. The data never depends on the run's ``--seed``: the seed picks
statements and literals only, so it cannot change what a statement costs.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_VERSION = "v3"
DATA_SEED = 20261017

N_CUSTOMER = 15_000
N_SUPPLIER = 1_000
N_PART = 20_000                 # l_partkey range; no part table is queried
N_ORDERS = 150_000
N_LINEITEM = 600_000
N_EVENTS = 100_000
N_USERS = 1_500
N_DOCS = 5_000

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_WEIGHTS = [0.14, 0.41, 0.15, 0.15, 0.15]
# the documents' vocabulary: 30 words, each about equally frequent
WORDS = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()

_US_PER_DAY = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator) -> pa.Table:
    """10-100 words each from WORDS; a few documents are exact copies."""
    texts = [" ".join(rng.choice(WORDS, int(rng.integers(10, 101))))
             for _ in range(N_DOCS)]
    for dst, src in rng.integers(0, N_DOCS, (8, 2)):
        texts[dst] = texts[src]
    return pa.table({
        "doc_id": pa.array(np.arange(N_DOCS, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, N_DOCS, p=LANG_WEIGHTS)),
        "source": pa.array([f"src{i % 20}" for i in range(N_DOCS)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], np.int64)),
    })


def build_tables() -> dict[str, pa.Table]:
    rng = np.random.default_rng(DATA_SEED)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS)})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(N_CUSTOMER, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(N_CUSTOMER)]),
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, N_CUSTOMER)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, N_CUSTOMER))})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(N_SUPPLIER, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(N_SUPPLIER)]),
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, N_SUPPLIER))})
    odate = _EPOCH_1995 + rng.integers(0, 2404, N_ORDERS) * _US_PER_DAY
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(N_ORDERS, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], N_ORDERS)),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, N_ORDERS)),
        "o_orderdate": _ts(odate),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, N_ORDERS))})
    lok = rng.integers(0, N_ORDERS, N_LINEITEM)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(lok),
        "l_partkey": pa.array(rng.integers(0, N_PART, N_LINEITEM)),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, N_LINEITEM)),
        "l_linenumber": pa.array(rng.integers(1, 8, N_LINEITEM).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, N_LINEITEM).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, N_LINEITEM)),
        "l_discount": pa.array(rng.integers(0, 11, N_LINEITEM) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, N_LINEITEM) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], N_LINEITEM)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], N_LINEITEM)),
        # as in sf0.1, independent of the order's date
        "l_shipdate": _ts(_EPOCH_1995 + rng.integers(1, 2499, N_LINEITEM)
                          * _US_PER_DAY)})
    ets = np.sort(_EPOCH_2024 + rng.integers(0, 30 * _US_PER_DAY, N_EVENTS))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(N_EVENTS, dtype=np.int64)),
        "ts": _ts(ets),
        "user_id": pa.array(rng.integers(0, N_USERS, N_EVENTS)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, N_EVENTS)),
        "value": pa.array(np.round(rng.exponential(50.0, N_EVENTS), 2)),
        "props": pa.array([f'{{"k": {k}}}'
                           for k in rng.integers(0, 100, N_EVENTS)])})
    t["documents"] = _documents(rng)
    return t


def ensure_dataset(root: str) -> tuple[str, bool]:
    """Return (directory of <table>.parquet files, built_now).

    Built once per checkout into ``root``; a finished build is marked by
    a ``_DONE`` file so an interrupted one is redone, never half-read.
    """
    out = os.path.join(root, f"data-{DATA_VERSION}")
    if os.path.exists(os.path.join(out, "_DONE")):
        return out, False
    tmp = f"{out}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in build_tables().items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out, True
