"""Interchange connectors (reference io module, SURVEY.md §2.6).

COO is canonical; parquet is the at-scale persistence format.  scipy /
networkx / Matrix Market converters are driver-side (test-oracle scale) and
gated behind import-try, mirroring the reference's optional backends
(``graphblas/io/_scipy.py``, ``_networkx.py``, ``_matrixmarket.py``).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graph_python_spark.operators.matrix import MatrixFrame
from graph_python_spark.operators.vector import VectorFrame


# -- parquet (the scale path) -------------------------------------------------
def write_matrix(m: MatrixFrame, path: str, mode: str = "overwrite") -> None:
    m.df.write.mode(mode).parquet(path)


def read_matrix(spark: SparkSession, path: str,
                nrows: Optional[int] = None, ncols: Optional[int] = None) -> MatrixFrame:
    return MatrixFrame(spark.read.parquet(path), nrows, ncols)


# -- scipy.sparse (reference io/_scipy.py:8-118) ------------------------------
def from_scipy(spark: SparkSession, mat, dtype: str = "double") -> MatrixFrame:
    coo = mat.tocoo()
    rows = [(int(r), int(c), float(v)) for r, c, v in zip(coo.row, coo.col, coo.data)]
    df = spark.createDataFrame(rows, f"i long, j long, v {dtype}")
    return MatrixFrame(df, coo.shape[0], coo.shape[1])


def to_scipy(m: MatrixFrame, format: str = "csr"):
    try:
        import scipy.sparse as sp
    except ImportError as exc:  # pragma: no cover
        raise ImportError("scipy not available in this environment") from exc
    r, c, v = m.to_coo()
    out = sp.coo_matrix((v, (r, c)), shape=(m.nrows, m.ncols))
    return out.asformat(format)


# -- networkx (reference io/_networkx.py:5-60) --------------------------------
def from_networkx(spark: SparkSession, graph, weight: Optional[str] = None) -> MatrixFrame:
    try:
        import networkx as nx  # noqa: F401
    except ImportError as exc:  # pragma: no cover
        raise ImportError("networkx not available in this environment") from exc
    nodes = sorted(graph.nodes())
    idx = {n: k for k, n in enumerate(nodes)}
    rows = [
        (idx[u], idx[v], float(d.get(weight, 1.0)) if weight else 1.0)
        for u, v, d in graph.edges(data=True)
    ]
    df = spark.createDataFrame(rows, "i long, j long, v double")
    return MatrixFrame(df, len(nodes), len(nodes))


def to_networkx(m: MatrixFrame, edge_attribute: Optional[str] = "weight"):
    """Export as ``nx.DiGraph`` (reference io/_networkx.py to_networkx):
    one edge per stored cell, value carried as ``edge_attribute`` (or
    dropped when None, matching the reference's unweighted mode).
    Driver-side by construction — an export to an in-memory library."""
    try:
        import networkx as nx
    except ImportError as exc:  # pragma: no cover
        raise ImportError("networkx not available in this environment") from exc
    g = nx.DiGraph()
    for r in m.df.toLocalIterator():
        if edge_attribute is None:
            g.add_edge(int(r["i"]), int(r["j"]))
        else:
            g.add_edge(int(r["i"]), int(r["j"]), **{edge_attribute: r["v"]})
    return g


# -- Arrow record-batch interchange (reference core/ss/matrix.py:538-3663 ----
# export/import: the reference exposes 10 raw-buffer formats with give/take
# ownership; the Spark-honest analogue of a zero-copy interchange surface is
# Arrow — toArrow() drains the JVM result as Arrow batches without a pandas
# hop, and createDataFrame(pa.Table) ingests them back.  Logical shape rides
# in the table-level schema metadata so round-trips preserve nrows/ncols.)
_ARROW_META_NROWS = b"graph_python_spark.nrows"
_ARROW_META_NCOLS = b"graph_python_spark.ncols"
_ARROW_META_SIZE = b"graph_python_spark.size"


def _guard_driver_materialize(df, max_rows: Optional[int], what: str):
    """Optional size guard for driver-materializing exports: counting is
    one extra job, so it only runs when the caller asks for a bound."""
    if max_rows is not None:
        n = df.count()
        if n > int(max_rows):
            raise ValueError(
                f"{what}: {n} stored values exceed max_rows={max_rows}; "
                "the whole frame would be pulled through the driver")


def to_arrow(m: MatrixFrame, max_rows: Optional[int] = None) -> "object":
    """Export a MatrixFrame as a ``pyarrow.Table`` (columns i, j, v; the
    value column keeps its Spark type — struct<re,im> for FC64, structs
    for UDT values).  Shape is attached as schema metadata.

    DRIVER-MATERIALIZING: like ``collect()``, this drains the entire
    distributed frame through the driver as Arrow batches — a large
    MatrixFrame can OOM the driver.  For big frames write parquet with
    :func:`save` instead; pass ``max_rows`` to fail fast (one count job)
    rather than attempt the transfer."""
    import pyarrow  # noqa: F401  (baked into the environment)

    _guard_driver_materialize(m.df, max_rows, "to_arrow")
    tbl = m.df.toArrow()
    meta = dict(tbl.schema.metadata or {})
    if m._nrows is not None:
        meta[_ARROW_META_NROWS] = str(int(m._nrows)).encode()
    if m._ncols is not None:
        meta[_ARROW_META_NCOLS] = str(int(m._ncols)).encode()
    return tbl.replace_schema_metadata(meta)


def from_arrow(spark: SparkSession, table,
               nrows: Optional[int] = None,
               ncols: Optional[int] = None) -> MatrixFrame:
    """Ingest a ``pyarrow.Table`` with columns (i, j, v) — e.g. one
    produced by :func:`to_arrow`, possibly on another cluster — as a
    MatrixFrame.  Shape falls back to the table's schema metadata."""
    meta = table.schema.metadata or {}
    if nrows is None and _ARROW_META_NROWS in meta:
        nrows = int(meta[_ARROW_META_NROWS])
    if ncols is None and _ARROW_META_NCOLS in meta:
        ncols = int(meta[_ARROW_META_NCOLS])
    return MatrixFrame(spark.createDataFrame(table.select(["i", "j", "v"])),
                       nrows, ncols)


def vector_to_arrow(v: VectorFrame, max_rows: Optional[int] = None) -> "object":
    """Export a VectorFrame as a ``pyarrow.Table`` (columns i, v).

    DRIVER-MATERIALIZING — see :func:`to_arrow`; pass ``max_rows`` to
    fail fast instead of pulling an oversized frame through the driver."""
    import pyarrow  # noqa: F401

    _guard_driver_materialize(v.df, max_rows, "vector_to_arrow")
    tbl = v.df.toArrow()
    meta = dict(tbl.schema.metadata or {})
    if v._size is not None:
        meta[_ARROW_META_SIZE] = str(int(v._size)).encode()
    return tbl.replace_schema_metadata(meta)


def vector_from_arrow(spark: SparkSession, table,
                      size: Optional[int] = None) -> VectorFrame:
    """Ingest a ``pyarrow.Table`` with columns (i, v) as a VectorFrame."""
    meta = table.schema.metadata or {}
    if size is None and _ARROW_META_SIZE in meta:
        size = int(meta[_ARROW_META_SIZE])
    return VectorFrame(spark.createDataFrame(table.select(["i", "v"])), size)


# -- Matrix Market (reference io/_matrixmarket.py:6-63) -----------------------
def mmread(spark: SparkSession, path: str) -> MatrixFrame:
    """Minimal MatrixMarket coordinate reader: the tiny header line is read
    driver-side (robust for multi-split files — no reliance on Spark's
    partition ordering), the body parses JVM-side with column expressions
    (1-based -> 0-based indices)."""
    with open(path) as f:
        for line in f:
            if not line.startswith("%"):
                hdr = line.split()
                break
        else:
            raise ValueError(f"no MatrixMarket header in {path}")
    nrows, ncols, nnz = int(hdr[0]), int(hdr[1]), int(hdr[2])

    lines = spark.read.text(path)
    data = lines.filter(~F.col("value").startswith("%"))
    parts = F.split(F.trim(F.col("value")), r"\s+")
    parsed = data.select(
        parts.getItem(0).cast("long").alias("a"),
        parts.getItem(1).cast("long").alias("b"),
        F.coalesce(parts.getItem(2).cast("double"), F.lit(1.0)).alias("v"),
        F.monotonically_increasing_id().alias("_ord"),
    )
    # drop exactly the header row: it is line 1 of the file, so among rows
    # carrying the header's values it has the minimal file position
    hmatch = parsed.filter(
        (F.col("a") == nrows) & (F.col("b") == ncols) & (F.col("v") == float(nnz))
    )
    drop = hmatch.agg(F.min("_ord").alias("_ord"))
    body = parsed.join(drop, "_ord", "left_anti").select(
        (F.col("a") - 1).alias("i"), (F.col("b") - 1).alias("j"), "v"
    )
    return MatrixFrame(body, nrows, ncols)


def mmwrite(m: MatrixFrame, path: str) -> None:
    """Driver-side writer (test scale)."""
    r, c, v = m.to_coo()
    with open(path, "w") as f:
        f.write("%%MatrixMarket matrix coordinate real general\n")
        f.write(f"{m.nrows} {m.ncols} {len(r)}\n")
        for a, b, x in zip(r, c, v):
            f.write(f"{a + 1} {b + 1} {x}\n")


# -- dense / dicts (reference matrix.py:1458-1901) ----------------------------
def from_dense(spark: SparkSession, arr, dtype: str = "double") -> MatrixFrame:
    rows = [
        (r, c, float(arr[r][c]))
        for r in range(len(arr))
        for c in range(len(arr[0]))
    ]
    df = spark.createDataFrame(rows, f"i long, j long, v {dtype}")
    return MatrixFrame(df, len(arr), len(arr[0]))


def vector_from_dense(spark: SparkSession, arr, dtype: str = "double") -> VectorFrame:
    df = spark.createDataFrame([(k, float(x)) for k, x in enumerate(arr)], f"i long, v {dtype}")
    return VectorFrame(df, len(arr))


# -- pydata/sparse COO adapters (reference io/_sparse.py:8-110) ----------------
# The pydata `sparse` package is optional (absent in this sandbox): imports
# are lazy and the conversion itself is the canonical COO path, so these are
# thin driver-side shims for notebook-scale interchange — the engine-scale
# interchange formats remain parquet / Arrow record batches (to_arrow).
def from_pydata_sparse(spark: SparkSession, arr, dtype: str = "double"):
    """Build a MatrixFrame / VectorFrame from a pydata ``sparse`` array
    (COO/GCXS/DOK — anything ``sparse.as_coo`` accepts).  1-D arrays map
    to VectorFrame, 2-D to MatrixFrame."""
    try:
        import sparse as _sp
    except ImportError as exc:
        raise ImportError(
            "from_pydata_sparse requires the optional `sparse` package"
        ) from exc
    coo = _sp.as_coo(arr)
    if coo.ndim == 1:
        return VectorFrame.from_coo(
            spark, coo.coords[0].tolist(), coo.data.tolist(),
            size=coo.shape[0], dtype=dtype)
    if coo.ndim != 2:
        raise ValueError(f"only 1-D/2-D sparse arrays supported, got {coo.ndim}-D")
    return MatrixFrame.from_coo(
        spark, coo.coords[0].tolist(), coo.coords[1].tolist(),
        coo.data.tolist(), nrows=coo.shape[0], ncols=coo.shape[1],
        dtype=dtype)


def to_pydata_sparse(m) -> "object":
    """Export a MatrixFrame / VectorFrame as a pydata ``sparse.COO``
    (driver-side collect — notebook scale, like the reference's)."""
    try:
        import numpy as np
        import sparse as _sp
    except ImportError as exc:
        raise ImportError(
            "to_pydata_sparse requires the optional `sparse` package"
        ) from exc
    if isinstance(m, VectorFrame):
        idx, vals = m.to_coo()
        return _sp.COO(np.array([idx]), np.array(vals), shape=(m.size,))
    r, c, v = m.to_coo()
    return _sp.COO(np.array([r, c]), np.array(v), shape=(m.nrows, m.ncols))


# -- awkward-array adapters (reference io/_awkward.py:10-180) ------------------
# Same logical surface as the reference: formats vec | csr | csc | hypercsr |
# hypercsc; the result carries top-level parameters ``format`` and ``shape``
# and exposes ``values`` / ``indices`` (plus ``offset_labels`` for the hyper
# formats).  awkward is optional (absent in this sandbox) so imports are lazy;
# the conversion reuses the tested CSR/CSC/DCSR/DCSC driver exports.
def to_awkward(m, format: Optional[str] = None):
    """Export a MatrixFrame / VectorFrame as an ``awkward.Array`` (ragged
    rows of ``{indices, values}`` records for the matrix formats)."""
    try:
        import awkward as ak
        import numpy as np
    except ImportError as exc:
        raise ImportError(
            "to_awkward requires the optional `awkward` package") from exc

    if isinstance(m, VectorFrame):
        fmt = format or "vec"
        if fmt != "vec":
            raise ValueError(f"Invalid format for Vector: {fmt}")
        idx, vals = m.to_coo()
        out = ak.zip({"values": np.asarray(vals), "indices": np.asarray(idx, dtype=np.int64)})
        shape = [m.size]
    else:
        fmt = (format or "csr").lower()
        if fmt == "csr":
            indptr, minors, vals = m.to_csr()
            labels = None
        elif fmt == "csc":
            indptr, minors, vals = m.to_csc()
            labels = None
        elif fmt == "hypercsr":
            labels, indptr, minors, vals = m.to_dcsr()
        elif fmt == "hypercsc":
            labels, indptr, minors, vals = m.to_dcsc()
        else:
            raise ValueError(f"Invalid format for Matrix: {fmt}")
        inner = ak.zip({"indices": np.asarray(minors, dtype=np.int64),
                        "values": np.asarray(vals)})
        lists = ak.unflatten(inner, np.diff(np.asarray(indptr, dtype=np.int64)))
        if labels is None:
            out = lists
        else:
            out = ak.zip({"data": lists,
                          "offset_labels": np.asarray(labels, dtype=np.int64)},
                         depth_limit=1)
        shape = [m.nrows, m.ncols]
    out = ak.with_parameter(out, "format", fmt)
    return ak.with_parameter(out, "shape", shape)


def from_awkward(spark: SparkSession, arr, dtype: str = "double"):
    """Rebuild a MatrixFrame / VectorFrame from an array produced by
    :func:`to_awkward` (parameters ``format`` + ``shape`` required, like the
    reference's ``from_awkward``)."""
    try:
        import awkward as ak
        import numpy as np
    except ImportError as exc:
        raise ImportError(
            "from_awkward requires the optional `awkward` package") from exc

    params = arr.layout.parameters
    if missing := {"format", "shape"} - params.keys():
        raise ValueError(f"Missing parameters: {missing}")
    fmt, shape = params["format"], params["shape"]
    if len(shape) == 1:
        if fmt != "vec":
            raise ValueError(f"Invalid format for Vector: {fmt}")
        return VectorFrame.from_coo(
            spark, np.asarray(arr.indices).tolist(),
            np.asarray(arr.values).tolist(), size=shape[0], dtype=dtype)
    nrows, ncols = shape
    if fmt in ("hypercsr", "hypercsc"):
        labels = np.asarray(arr.offset_labels).tolist()
        lists = arr.data
    elif fmt in ("csr", "csc"):
        labels, lists = None, arr
    else:
        raise ValueError(f"Invalid format for Matrix: {fmt}")
    counts = np.asarray(ak.num(lists), dtype=np.int64)
    indptr = np.r_[0, np.cumsum(counts)].tolist()
    minors = np.asarray(ak.flatten(lists.indices)).tolist()
    vals = np.asarray(ak.flatten(lists.values)).tolist()
    if fmt == "csr":
        return MatrixFrame.from_csr(spark, indptr, minors, vals,
                                    nrows=nrows, ncols=ncols, dtype=dtype)
    if fmt == "csc":
        return MatrixFrame.from_csc(spark, indptr, minors, vals,
                                    nrows=nrows, ncols=ncols, dtype=dtype)
    if fmt == "hypercsr":
        return MatrixFrame.from_dcsr(spark, labels, indptr, minors, vals,
                                     nrows=nrows, ncols=ncols, dtype=dtype)
    return MatrixFrame.from_dcsc(spark, labels, indptr, minors, vals,
                                 nrows=nrows, ncols=ncols, dtype=dtype)
