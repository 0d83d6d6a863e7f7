"""Seeded generator of the analytics tables the hot query mix reads.

Writes `lineitem.parquet` (read by q110) and `documents.parquet` (read by
q104) with the column names and types of the engine's synthetic test tables
and the size of their sf0.01 versions:
  - lineitem: 15,000 orders with Poisson(4) lines each over 2,000 parts and
    100 suppliers, so orders are co-purchase baskets of a part graph;
  - documents: 500 texts of 10-100 words from a 30-word vocabulary, five
    languages, ~5% near-duplicates (an earlier text plus " dup") and a few
    exact duplicates.
The same seed always gives the same tables.

Usage: python3 gen_tables.py <out_dir> <seed>
"""
import datetime
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a the data query table row column key value hash join merge sort group "
         "agg filter scan window stream batch vector line part order customer "
         "spark fast slow big small").split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def lineitem(rng):
    n_orders, n_parts, n_supp = 15000, 2000, 100
    per_order = rng.poisson(4, n_orders)
    orderkey = np.repeat(np.arange(n_orders, dtype=np.int64), per_order)
    n = len(orderkey)
    starts = np.repeat(np.cumsum(per_order) - per_order, per_order)
    linenumber = (np.arange(n) - starts + 1).astype(np.int32)
    quantity = rng.integers(1, 51, n).astype(np.float64)
    first = datetime.datetime(1995, 1, 2)
    shipdate = np.datetime64(first, "us") + \
        rng.integers(0, 2499, n).astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.table({
        "l_orderkey": orderkey,
        "l_partkey": rng.integers(0, n_parts, n, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n, dtype=np.int64),
        "l_linenumber": linenumber,
        "l_quantity": quantity,
        "l_extendedprice": np.round(quantity * rng.uniform(900, 2100, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, n)]),
        "l_shipdate": pa.array(shipdate, type=pa.timestamp("us")),
    })


def documents(rng):
    n = 500
    texts, langs = [], []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:          # near-duplicate of an earlier text
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.052:       # exact duplicate
            texts.append(texts[int(rng.integers(0, i))])
        else:
            words = rng.integers(0, len(VOCAB), int(rng.integers(10, 101)))
            texts.append(" ".join(VOCAB[w] for w in words))
        langs.append(LANGS[int(rng.choice(len(LANGS), p=LANG_P))])
    return pa.table({
        "doc_id": pa.array(range(n), type=pa.int64()),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })


def generate(out_dir, seed):
    os.makedirs(out_dir, exist_ok=True)
    for i, (name, make) in enumerate([("lineitem", lineitem), ("documents", documents)]):
        rng = np.random.default_rng([seed, i])
        pq.write_table(make(rng), os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]))
