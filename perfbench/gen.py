"""Seeded synthetic input tables for the benchmark.

The tables reproduce the shapes measured on the repository's sf0.1
fixtures (``orders``, ``lineitem``, ``customer``, ``documents``) at a
smaller row count, drawn from ``numpy.random.default_rng(seed)``: one
seed always yields the same inputs, and the benchmark reads nothing
outside its own checkout.  Only the columns the exercised code paths
read are generated.

Shapes taken from sf0.1:

* orders: dates uniform over 1995-01-01 .. 2001-08-01 (midnight);
  customers = orders / 10, parts = customers * 4 / 3; line items per
  order Poisson(4) (1.8% of orders have none, so their permits carry no
  PIN); status and priority uniform.
* documents: texts of 10..99 words drawn uniformly from the fixture's
  30-word vocabulary (27,000 possible 3-word shingles, which sets the
  shingle posting lengths the pair join pays for); 5% of documents are a
  near duplicate, another document's text plus the word ``dup``; 0.16%
  are exact twins of another document; 20 sources; no URLs; languages
  en 41%, zh/es/fr/de about 15% each.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
STATUSES = np.array(["O", "F", "P"])
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
ORDER_DAY0 = np.datetime64("1995-01-01", "us")
ORDER_DAYS = 2405  # 1995-01-01 .. 2001-08-01 inclusive
LINES_PER_ORDER = 4.0
VOCAB = np.array(
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window".split()
)
DOC_WORDS = (10, 100)  # uniform, upper bound exclusive
NEAR_DUP_SHARE = 0.05
TWIN_SHARE = 0.0016
N_SOURCES = 20
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = np.array([0.41, 0.15, 0.15, 0.15, 0.14])


def tpch_tables(out_dir: str, seed: int, n_orders: int) -> dict[str, int]:
    """Write ``orders``, ``lineitem`` and ``customer`` parquet files under
    ``out_dir``; return their row counts.  An order's line items' part
    keys become its permit's PIN list."""
    rng = np.random.default_rng(seed)
    n_customers = n_orders // 10
    n_parts = n_customers * 4 // 3
    okeys = np.arange(n_orders, dtype=np.int64)
    days = rng.integers(0, ORDER_DAYS, n_orders).astype("timedelta64[D]")
    orders = pa.table(
        {
            "o_orderkey": okeys,
            "o_custkey": rng.integers(0, n_customers, n_orders, dtype=np.int64),
            "o_orderstatus": STATUSES[rng.integers(0, 3, n_orders)],
            "o_totalprice": np.round(rng.uniform(1_000.0, 500_000.0, n_orders), 2),
            "o_orderdate": pa.array(ORDER_DAY0 + days, pa.timestamp("us")),
            "o_orderpriority": PRIORITIES[rng.integers(0, 5, n_orders)],
        }
    )
    l_orderkey = np.repeat(okeys, rng.poisson(LINES_PER_ORDER, n_orders))
    n_lines = len(l_orderkey)
    lineitem = pa.table(
        {
            "l_orderkey": l_orderkey,
            "l_partkey": rng.integers(0, n_parts, n_lines, dtype=np.int64),
        }
    )
    customer = pa.table(
        {
            "c_custkey": np.arange(n_customers, dtype=np.int64),
            "c_mktsegment": SEGMENTS[rng.integers(0, 5, n_customers)],
        }
    )
    pq.write_table(orders, os.path.join(out_dir, "orders.parquet"))
    pq.write_table(lineitem, os.path.join(out_dir, "lineitem.parquet"))
    pq.write_table(customer, os.path.join(out_dir, "customer.parquet"))
    return {"orders": n_orders, "lineitem": n_lines, "customer": n_customers}


def documents_table(out_dir: str, seed: int, n_docs: int) -> dict[str, int]:
    """Write ``documents.parquet`` with the sf0.1 document shape (see the
    module docstring); return its row count."""
    rng = np.random.default_rng(seed)
    n_near = round(n_docs * NEAR_DUP_SHARE)
    n_twins = max(1, round(n_docs * TWIN_SHARE))
    n_base = n_docs - n_near - n_twins
    texts = [
        " ".join(VOCAB[rng.integers(0, len(VOCAB), int(rng.integers(*DOC_WORDS)))])
        for _ in range(n_base)
    ]
    texts += [texts[k] + " dup" for k in rng.choice(n_base, n_near, replace=False)]
    texts += [texts[k] for k in rng.choice(n_base, n_twins, replace=False)]
    texts = [texts[k] for k in rng.permutation(n_docs)]
    table = pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": LANGS[rng.choice(len(LANGS), n_docs, p=LANG_P)],
            "source": [f"src{i % N_SOURCES}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    pq.write_table(table, os.path.join(out_dir, "documents.parquet"))
    return {"documents": n_docs}
