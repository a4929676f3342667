"""Reference results the benchmark checks every operation against.

* PageRank: a NumPy power iteration over the same edge arrays the engine
  reads, with the semantics of ``oracles/algos.pagerank_3f`` (dangling
  vertices contribute teleport only) but ``bincount`` instead of a dense
  matrix, so it scales to the generated graph.
* ``__spark_entry__`` queries: the DuckDB result of ``oracle_sql()`` on the
  same parquet, computed once per table set and cached, compared with
  ``scripts/check_oracles.compare``.
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pandas as pd


def pagerank_3f(src: np.ndarray, dst: np.ndarray, iterations: int,
                damping: float = 0.85) -> tuple[np.ndarray, np.ndarray]:
    """(vertex ids, scores) after exactly ``iterations`` steps from 1/n."""
    ids, idx = np.unique(np.concatenate([src, dst]), return_inverse=True)
    s, d = idx[:src.size], idx[src.size:]
    n = ids.size
    d_out = np.bincount(s, minlength=n).astype(float)
    inv_d = np.divide(damping, d_out, out=np.zeros(n), where=d_out > 0)
    teleport = (1.0 - damping) / n
    r = np.full(n, 1.0 / n)
    for _ in range(iterations):
        r = teleport + np.bincount(d, weights=(r * inv_d)[s], minlength=n)
    return ids, r


def check_pagerank(scores: pd.DataFrame, ids: np.ndarray, ref: np.ndarray) -> list[str]:
    got = scores.sort_values("id")
    if len(got) != ids.size or not np.array_equal(got["id"].to_numpy(), ids):
        return [f"vertex set: spark={len(got)} reference={ids.size}"]
    err = np.abs(got["score"].to_numpy() - ref)
    if not np.all(err <= 1e-9 * np.abs(ref) + 1e-15):
        return [f"score: max |diff| = {err.max():.3e}"]
    return []


def _check_oracles():
    """``scripts/check_oracles.py`` of the checkout (run from its root)."""
    scripts = os.path.join(os.getcwd(), "scripts")
    if scripts not in sys.path:
        sys.path.insert(0, scripts)
    import check_oracles
    return check_oracles


def duckdb_oracles(sf_dir: str, names: list[str], cache: str) -> dict[str, pd.DataFrame]:
    """{query: oracle result}; each computed once into ``cache``."""
    import __spark_entry__ as entry

    os.makedirs(cache, exist_ok=True)
    out, todo = {}, []
    for name in names:
        path = os.path.join(cache, f"{name}.parquet")
        if os.path.exists(path):
            out[name] = pd.read_parquet(path)
        else:
            todo.append(name)
    if todo:
        import duckdb

        sqls = entry.oracle_sql()
        tmp = os.path.join(cache, "duckdb-tmp")
        con = duckdb.connect()
        try:
            con.execute(f"SET temp_directory='{tmp}'")
            con.execute("SET memory_limit='2GB'")
            for f in sorted(os.listdir(sf_dir)):
                if f.endswith(".parquet"):
                    con.execute(f"CREATE VIEW {f[:-8]} AS "
                                f"SELECT * FROM '{os.path.join(sf_dir, f)}'")
            for name in todo:
                df = con.execute(sqls[name]).df()
                path = os.path.join(cache, f"{name}.parquet")
                df.to_parquet(path + ".tmp", index=False)
                os.replace(path + ".tmp", path)
                out[name] = pd.read_parquet(path)
        finally:
            con.close()
    return out


def check_query(name: str, got: pd.DataFrame, oracle: pd.DataFrame) -> list[str]:
    return _check_oracles().compare(name, got, oracle)
