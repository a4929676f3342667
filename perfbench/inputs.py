"""Seeded input generators, written as parquet that the engine then reads.

Two kinds of input:

* ``zipf_edges(seed, n)`` -- a directed power-law graph with the capped
  degree law of ``sources.corpus.scale_fixture_edges``: vertex ``v`` gets
  ``min(floor(1/u) + 1, 64)`` out-edges, ``u`` uniform, each to a uniform
  random target; self-loops are dropped and duplicate (src, dst) pairs
  collapsed, so the parquet holds exactly the binary adjacency the engine
  builds.  Made from the workload seed.
* ``tpch_tables(sf)`` -- the TPC-H-ish tables the ``__spark_entry__``
  queries read (customer, orders, lineitem, documents), with the row counts
  and value laws of the repository's TPC-H-ish test tables (TESTDATA.md) at
  scale factor ``sf``.  Like those tables they are fixed: one generator
  seed (``TABLES_SEED``) for every run, so their DuckDB oracles are
  computed once per checkout.

Each input is generated once into the cache directory and reused.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES_SEED = 42
MAX_DEGREE = 64
VOCAB = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
DUP_SHARE = 0.05


def _write(path: str, table: pa.Table) -> None:
    tmp = path + ".tmp"
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def zipf_arrays(seed: int, n: int) -> tuple[np.ndarray, np.ndarray]:
    """Deduplicated (src, dst) int64 arrays, sorted by (src, dst)."""
    rng = np.random.default_rng(seed)
    u = rng.random(n)
    deg = np.minimum(np.floor(1.0 / np.maximum(u, 1e-12)).astype(np.int64) + 1, MAX_DEGREE)
    src = np.repeat(np.arange(n, dtype=np.int64), deg)
    dst = rng.integers(0, n, src.size, dtype=np.int64)
    keep = src != dst
    key = np.unique(src[keep] * n + dst[keep])
    return key // n, key % n


def zipf_edges(cache: str, seed: int, n: int) -> tuple[str, np.ndarray, np.ndarray]:
    """Path of the seed's edge parquet (i long, j long) plus its arrays."""
    src, dst = zipf_arrays(seed, n)
    path = os.path.join(cache, f"zipf-n{n}-seed{seed}.parquet")
    if not os.path.exists(path):
        _write(path, pa.table({"i": src, "j": dst}))
    return path, src, dst


def _documents(rng: np.random.Generator, n_docs: int) -> pa.Table:
    vocab = np.array(VOCAB)
    texts = []
    for d in range(n_docs):
        if d > 0 and rng.random() < DUP_SHARE:
            texts.append(texts[int(rng.integers(0, d))] + " dup")
        else:
            words = vocab[rng.integers(0, len(vocab), int(rng.integers(10, 101)))]
            texts.append(" ".join(words))
    lang = np.array(LANGS)[rng.choice(len(LANGS), n_docs, p=LANG_P)]
    return pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": lang,
        "source": [f"src{d % 20}" for d in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def tpch_tables(cache: str, sf: float) -> str:
    """Directory holding the fixed sf tables; generated on first use."""
    out = os.path.join(cache, f"tpch-sf{sf}-seed{TABLES_SEED}")
    done = os.path.join(out, "_DONE")
    if os.path.exists(done):
        return out
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(TABLES_SEED)
    n_cust, n_supp, n_part = round(150000 * sf), round(10000 * sf), round(200000 * sf)
    n_ord, n_docs = 10 * n_cust, round(50000 * sf)
    n_li = 4 * n_ord
    _write(os.path.join(out, "customer.parquet"), pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
    }))
    _write(os.path.join(out, "orders.parquet"), pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
    }))
    _write(os.path.join(out, "lineitem.parquet"), pa.table({
        "l_orderkey": np.repeat(np.arange(n_ord, dtype=np.int64), 4),
        "l_partkey": rng.integers(0, n_part, n_li, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li, dtype=np.int64),
    }))
    _write(os.path.join(out, "documents.parquet"), _documents(rng, n_docs))
    open(done, "w").close()
    return out


def customer_graph_edges(sf_dir: str) -> int:
    """Edge count of ``sources.tpch_graph.customer_graph`` on these tables."""
    n = pq.read_metadata(os.path.join(sf_dir, "customer.parquet")).num_rows
    o = pq.read_table(os.path.join(sf_dir, "orders.parquet")).to_pandas()
    src, dst = o["o_custkey"].to_numpy(), o["o_orderkey"].to_numpy() % n
    keep = src != dst
    return int(np.unique(src[keep] * n + dst[keep]).size)


def supplier_part_edges(sf_dir: str) -> int:
    """Edge count of ``sources.tpch_graph.supplier_part_graph``."""
    li = pq.read_table(os.path.join(sf_dir, "lineitem.parquet"),
                       columns=["l_suppkey", "l_partkey"]).to_pandas()
    return int(li.drop_duplicates().shape[0])


def doc_token_edges(sf_dir: str) -> int:
    """Distinct (doc, word) pairs: the incidence matrix minhash_lsh bands."""
    docs = pq.read_table(os.path.join(sf_dir, "documents.parquet"), columns=["text"])
    return sum(len(set(t.split())) for t in docs.column("text").to_pylist())
