"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of ``(seed, size)``: the same seed
gives byte-identical Arrow tables, so two runs with one seed measure the
same inputs and the program under test only ever sees the files written
from them. Shapes follow the TPC-H-style tables and the ``documents``
corpus the engine's registry queries read (TESTDATA.md), generated here
because the benchmark must not depend on data outside its checkout.
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pyarrow as pa

EPOCH = dt.datetime(1992, 1, 1)
ORDER_DAYS = 2405  # 1992-01-01 .. 1998-08-02, the TPC-H order-date window
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
VOCAB = np.array(
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window".split()
)
LANGS = np.array(["en", "en", "en", "zh", "es", "fr", "de"])
# TPC-H's line-status cut-over date: lines shipped after it are still open
CURRENT_DAY = (dt.datetime(1995, 6, 17) - EPOCH).days


def _rng(seed: int, stream: str) -> np.random.Generator:
    """One independent stream per table, so growing one table never
    shifts another table's values for the same seed."""
    return np.random.default_rng([seed, sum(map(ord, stream))])


def _micros(days: np.ndarray) -> pa.Array:
    base = int((EPOCH - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    return pa.array(base + days.astype(np.int64) * 86_400_000_000, pa.timestamp("us", tz="UTC"))


def orders(seed: int, n_orders: int, n_customers: int) -> pa.Table:
    rng = _rng(seed, "orders")
    days = rng.integers(0, ORDER_DAYS, n_orders)
    return pa.table(
        {
            "o_orderkey": pa.array(np.arange(1, n_orders + 1), pa.int64()),
            "o_custkey": pa.array(rng.integers(1, n_customers + 1, n_orders), pa.int64()),
            "o_orderstatus": pa.array(rng.choice(np.array(["F", "O", "P"]), n_orders)),
            "o_totalprice": pa.array(rng.integers(90_000, 50_000_000, n_orders) / 100.0),
            "o_orderdate": _micros(days),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_orders)),
        }
    )


def lineitem(seed: int, n_orders: int) -> pa.Table:
    """1-7 lines per order, sorted by ``l_orderkey`` so row groups carry
    tight key ranges (range lookups prune on them). Money columns are
    exact cents/percent values, as in TPC-H."""
    rng = _rng(seed, "lineitem")
    order_days = _rng(seed, "orders").integers(0, ORDER_DAYS, n_orders)
    lines = rng.integers(1, 8, n_orders)
    n = int(lines.sum())
    orderkey = np.repeat(np.arange(1, n_orders + 1), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    linenumber = np.arange(n) - starts + 1
    partkey = rng.integers(1, 20_001, n)
    retail_cents = 90_000 + (partkey // 10) % 20_001 + 100 * (partkey % 1_000)
    qty = rng.integers(1, 51, n)
    ship_days = np.repeat(order_days, lines) + rng.integers(1, 122, n)
    shipped = ship_days <= CURRENT_DAY
    returnflag = np.where(shipped, rng.choice(np.array(["A", "R"]), n), "N")
    return pa.table(
        {
            "l_orderkey": pa.array(orderkey, pa.int64()),
            "l_partkey": pa.array(partkey, pa.int64()),
            "l_suppkey": pa.array(rng.integers(1, 1_001, n), pa.int64()),
            "l_linenumber": pa.array(linenumber, pa.int32()),
            "l_quantity": pa.array(qty.astype(np.float64)),
            "l_extendedprice": pa.array(qty * retail_cents / 100.0),
            "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
            "l_returnflag": pa.array(returnflag),
            "l_linestatus": pa.array(np.where(shipped, "F", "O")),
            "l_shipdate": _micros(ship_days),
        }
    )


def customer(seed: int, n_customers: int) -> pa.Table:
    rng = _rng(seed, "customer")
    keys = np.arange(1, n_customers + 1)
    return pa.table(
        {
            "c_custkey": pa.array(keys, pa.int64()),
            "c_name": pa.array([f"Customer#{k:09d}" for k in keys]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_customers), pa.int32()),
            "c_acctbal": pa.array(rng.integers(-99_999, 1_000_000, n_customers) / 100.0),
            "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_customers)),
        }
    )


def documents(seed: int, n_docs: int, dup_share: float = 0.2) -> pa.Table:
    """Word-vocabulary documents with planted near-duplicates: a
    ``dup_share`` of documents copy an earlier one and substitute a few
    words (sometimes appending the ``dup`` marker), so every similarity
    join has true pairs to find. The seed also permutes document order,
    so doc ids and arrival order differ between seeds."""
    rng = _rng(seed, "documents")
    texts: list[str] = []
    for i in range(n_docs):
        if i > 0 and rng.random() < dup_share:
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(0, 3))):
                words[int(rng.integers(0, len(words)))] = str(rng.choice(VOCAB))
            if rng.random() < 0.5:
                words.append("dup")
        else:
            words = list(rng.choice(VOCAB, int(rng.integers(10, 101))))
        texts.append(" ".join(words))
    order = rng.permutation(n_docs)
    text = [texts[j] for j in order]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": pa.array(text),
            "lang": pa.array(rng.choice(LANGS, n_docs)),
            "source": pa.array([f"src{j % 20}" for j in range(n_docs)]),
            "n_chars": pa.array([len(t) for t in text], pa.int64()),
        }
    )
