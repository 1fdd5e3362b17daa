"""Seeded synthetic tables for the relational leaves (RelationalMix).

The schemas are those of the repository's TPC-H-like test tables (see
TESTDATA.md), restricted to the tables those leaves read. Values
are drawn from ``numpy.random.default_rng(seed)``, so one seed gives
byte-identical parquet files. Row counts are those of sf0.1 (150,000
orders, 5,000 documents, 2,000 embeddings).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from raster_functions_spark.text import LANG_MARKERS

TABLES = ("orders", "documents", "embeddings")

_WORDS = ("data scan sort hash join agg group key row table value part line "
          "window stream batch filter merge query spark vector column order "
          "customer small big fast slow a").split()
_PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])


def _documents(rng, n: int) -> dict:
    langs = rng.choice(list(LANG_MARKERS), n, p=[0.4, 0.15, 0.15, 0.15, 0.15])
    texts = []
    for i in range(n):
        k = int(rng.integers(8, 80))
        words = list(rng.choice(_WORDS, k))
        for _ in range(int(rng.integers(0, 4))):
            words.insert(int(rng.integers(0, k)), str(rng.choice(LANG_MARKERS[langs[i]])))
        texts.append(" ".join(words))
    return {"doc_id": np.arange(n, dtype=np.int64), "text": texts,
            "lang": langs, "source": np.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": np.array([len(t) for t in texts], np.int64)}


def generate(out_dir: str, seed: int) -> None:
    """Write the tables as ``<out_dir>/<name>.parquet``."""
    rng = np.random.default_rng(seed)
    n_ord, n_doc, n_emb = 150000, 5000, 2000
    lo = np.datetime64("1995-01-01", "us").astype(np.int64)
    hi = np.datetime64("2001-08-02", "us").astype(np.int64)
    t = {
        "orders": {"o_orderkey": np.arange(n_ord, dtype=np.int64),
                   "o_custkey": rng.integers(0, 15000, n_ord),
                   "o_orderstatus": rng.choice(np.array(["F", "O", "P"]), n_ord),
                   "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
                   "o_orderdate": pa.array(rng.integers(lo, hi, n_ord), pa.timestamp("us")),
                   "o_orderpriority": rng.choice(_PRIORITIES, n_ord)},
        "documents": _documents(rng, n_doc),
        "embeddings": {"vec_id": np.arange(n_emb, dtype=np.int64),
                       "embedding": pa.array(
                           list(rng.standard_normal((n_emb, 64)).astype(np.float32)),
                           pa.list_(pa.float32())),
                       "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())},
    }
    os.makedirs(out_dir, exist_ok=True)
    for name in TABLES:
        pq.write_table(pa.table(t[name]), os.path.join(out_dir, f"{name}.parquet"))
