"""Seeded input generator for the benchmark.

The content of every table is fixed (one generator seed for the whole
benchmark); ``--seed`` only permutes the row order of each file. Results
must not depend on row order, so every seed must give the same answers
while exercising a different physical layout.

Tables follow the schemas of the synthetic TPC-H-ish fixtures the package
reads (``io.TABLES``). Only the four tables the workloads touch are written:
orders and lineitem (the report pipeline's raw input, mapped to accounts and
activities by ``domain``), documents and embeddings (the curation corpus).
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CONTENT_SEED = 42

# Rows per table at scale 1.0 (the sf0.1 fixture sizes).
BASE_ROWS = {
    "orders": 150_000,
    "lineitem": 600_000,
    "customers": 15_000,
    "parts": 20_000,
    "suppliers": 1_000,
}

WORDS = (
    "a the data spark query table join scan sort hash agg group filter key "
    "row column line part order customer window stream batch merge value "
    "vector index small big fast slow"
).split()
LANGS = ("en", "es", "zh", "de", "fr")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

_EPOCH = dt.datetime(1970, 1, 1)
_DAY_US = 86_400 * 1_000_000


def _days_us(start: dt.date, days: np.ndarray) -> np.ndarray:
    base = int((dt.datetime(start.year, start.month, start.day) - _EPOCH).total_seconds())
    return base * 1_000_000 + days.astype(np.int64) * _DAY_US


def _orders(rng: np.random.Generator, n: int, n_cust: int) -> pa.Table:
    return pa.table(
        {
            "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n, dtype=np.int64)),
            "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n)]),
            "o_totalprice": pa.array(np.round(rng.uniform(1_000, 500_000, n), 2)),
            "o_orderdate": pa.array(
                _days_us(dt.date(1995, 1, 1), rng.integers(0, 2404, n)),
                pa.timestamp("us"),
            ),
            "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n)]),
        }
    )


def _lineitem(
    rng: np.random.Generator, n: int, n_orders: int, n_parts: int, n_supp: int
) -> pa.Table:
    qty = rng.integers(1, 51, n).astype(np.float64)
    return pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_orders, n, dtype=np.int64)),
            "l_partkey": pa.array(rng.integers(0, n_parts, n, dtype=np.int64)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n, dtype=np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n, dtype=np.int32)),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2_100, n), 2)),
            "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
            "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, n)]),
            "l_shipdate": pa.array(
                _days_us(dt.date(1995, 1, 2), rng.integers(0, 2498, n)),
                pa.timestamp("us"),
            ),
        }
    )


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Word-salad documents with planted exact duplicates (1%) and
    one-word-edit near duplicates (3%), so the dedup operators have work
    that is value-checked rather than empty."""
    words = np.array(WORDS)
    texts = [
        " ".join(words[rng.integers(0, len(words), rng.integers(8, 100))])
        for _ in range(n)
    ]
    for i in rng.choice(n, n // 100, replace=False):
        texts[i] = texts[int(rng.integers(0, n))]
    for i in rng.choice(n, 3 * n // 100, replace=False):
        toks = texts[int(rng.integers(0, n))].split(" ")
        toks[int(rng.integers(0, len(toks)))] = str(words[rng.integers(0, len(words))])
        texts[i] = " ".join(toks)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)]),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    """Ten labelled clusters of 64-d float32 vectors."""
    labels = rng.integers(0, 10, n).astype(np.int32)
    centers = rng.standard_normal((10, dim)) * 0.15
    vecs = (centers[labels] + rng.standard_normal((n, dim)) * 0.12).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels),
        }
    )


def build_tables(scale: float, n_docs: int, n_embs: int) -> dict[str, pa.Table]:
    """The seed-independent content, at ``scale`` times the sf0.1 sizes."""
    rng = np.random.default_rng(CONTENT_SEED)
    rows = {k: max(10, int(v * scale)) for k, v in BASE_ROWS.items()}
    return {
        "orders": _orders(rng, rows["orders"], rows["customers"]),
        "lineitem": _lineitem(
            rng, rows["lineitem"], rows["orders"], rows["parts"], rows["suppliers"]
        ),
        "documents": _documents(rng, n_docs),
        "embeddings": _embeddings(rng, n_embs),
    }


def write_inputs(
    out_dir: str, seed: int, scale: float, n_docs: int, n_embs: int
) -> dict[str, int]:
    """Write each table as ``<out_dir>/<name>.parquet`` (one row group,
    like the fixtures) with its rows permuted by ``seed``. Returns the
    row count per table."""
    os.makedirs(out_dir, exist_ok=True)
    perm_rng = np.random.default_rng(seed)
    counts = {}
    for name, table in build_tables(scale, n_docs, n_embs).items():
        shuffled = table.take(pa.array(perm_rng.permutation(table.num_rows)))
        pq.write_table(
            shuffled,
            os.path.join(out_dir, f"{name}.parquet"),
            row_group_size=shuffled.num_rows,
        )
        counts[name] = shuffled.num_rows
    return counts
