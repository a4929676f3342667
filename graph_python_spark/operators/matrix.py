"""MatrixFrame — GraphBLAS Matrix as an edge DataFrame E(i: long, j: long, v: T).

Reference: ``graphblas/core/matrix.py`` (Matrix, ~3800 LoC).  Row ``i`` is the
source, column ``j`` the destination (adjacency convention stated in
``notebooks/Connected Components -- FastSV.ipynb``).  Transpose is a free
column swap, exactly like the reference's zero-copy TransposedMatrix view
(``matrix.py:3614-3660``).

Every method is a lazy DataFrame plan; Catalyst supplies predicate pushdown,
column pruning, partial aggregation and join-strategy selection — the
counterparts of SuiteSparse's internal kernels (SURVEY.md §4).
"""

from __future__ import annotations

from typing import Any, Callable, Iterable, Optional, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from graph_python_spark.functions.ops import Monoid, binary as _binary
from graph_python_spark.functions.semiring import Semiring
from graph_python_spark.operators.masks import Mask
from graph_python_spark.operators.merge import merge_into
from graph_python_spark.operators.vector import VectorFrame


class MatrixFrame:
    _keys = ["i", "j"]

    def __init__(self, df: DataFrame, nrows: Optional[int] = None, ncols: Optional[int] = None):
        assert set(df.columns) >= {"i", "j", "v"}, df.columns
        self.df = df.select("i", "j", "v")
        self._nrows = nrows
        self._ncols = ncols

    # -- construction (reference matrix.py:885-1056 from_coo/from_edgelist) --
    @classmethod
    def from_coo(
        cls,
        spark: SparkSession,
        rows: Iterable[int],
        cols: Iterable[int],
        values: Iterable[Any] | Any,
        nrows: Optional[int] = None,
        ncols: Optional[int] = None,
        dup_op: Optional[Callable] = None,
        dtype: str = "double",
    ) -> "MatrixFrame":
        rows, cols = list(rows), list(cols)
        vals = values if isinstance(values, (list, tuple)) else [values] * len(rows)
        coerce = float if dtype in ("double", "float") else (int if "int" in dtype or dtype == "long" else (lambda x: x))
        df = spark.createDataFrame(
            [(int(r), int(c), coerce(v)) for r, c, v in zip(rows, cols, vals)],
            schema=f"i long, j long, v {dtype}",
        )
        if dup_op is not None:
            df = df.groupBy("i", "j").agg(dup_op(F.col("v")).alias("v"))
        elif len({(r, c) for r, c in zip(rows, cols)}) != len(rows):
            raise ValueError("duplicate coordinates without dup_op")
        return cls(df, nrows, ncols)

    @classmethod
    def from_edgelist(cls, df: DataFrame, src: str = "src", dst: str = "dst",
                      weight: Optional[str] = None,
                      nrows: Optional[int] = None, ncols: Optional[int] = None) -> "MatrixFrame":
        """Adopt an arbitrary edge DataFrame (reference matrix.py:963-1056)."""
        v = F.col(weight) if weight else F.lit(1.0)
        out = df.select(F.col(src).cast("long").alias("i"),
                        F.col(dst).cast("long").alias("j"),
                        v.alias("v"))
        return cls(out, nrows, ncols)

    # -- CSR/CSC/DCSR/DCSC + dicts (reference matrix.py:1136-1397 from_*,
    #    1704-1853 to_*, 1577-1901 from_dicts/to_dicts).  These are LOCAL
    #    construction/export entry points like from_coo — driver-side numpy
    #    expansion in, driver-side collect out; distributed data flows in
    #    through from_edgelist / parquet instead. ---------------------------
    @classmethod
    def _from_compressed(cls, spark, major_ids, indptr, minor_indices, values,
                         rowwise: bool, nrows, ncols, dtype):
        import numpy as np

        indptr = np.asarray(indptr, dtype=np.int64)
        minor = np.asarray(minor_indices, dtype=np.int64)
        counts = np.diff(indptr)
        major = np.repeat(np.asarray(major_ids, dtype=np.int64), counts)
        nnz = len(minor)
        vals = (np.full(nnz, values) if np.isscalar(values)
                else np.asarray(values))
        rows, cols = (major, minor) if rowwise else (minor, major)
        return cls.from_coo(spark, rows.tolist(), cols.tolist(),
                            list(vals.tolist()) if nnz else [],
                            nrows=nrows, ncols=ncols, dtype=dtype)

    @classmethod
    def from_csr(cls, spark: SparkSession, indptr, col_indices, values=1.0,
                 nrows: Optional[int] = None, ncols: Optional[int] = None,
                 dtype: str = "double") -> "MatrixFrame":
        """Standard CSR import: row i's columns are
        col_indices[indptr[i]:indptr[i+1]] (reference matrix.py:1136-1180)."""
        n = len(indptr) - 1
        if nrows is not None and nrows != n:
            raise ValueError(f"nrows must equal len(indptr) - 1 = {n}")
        return cls._from_compressed(spark, range(n), indptr, col_indices,
                                    values, True, n, ncols, dtype)

    @classmethod
    def from_csc(cls, spark: SparkSession, indptr, row_indices, values=1.0,
                 nrows: Optional[int] = None, ncols: Optional[int] = None,
                 dtype: str = "double") -> "MatrixFrame":
        """Standard CSC import (reference matrix.py:1182-1226)."""
        n = len(indptr) - 1
        if ncols is not None and ncols != n:
            raise ValueError(f"ncols must equal len(indptr) - 1 = {n}")
        return cls._from_compressed(spark, range(n), indptr, row_indices,
                                    values, False, nrows, n, dtype)

    @classmethod
    def from_dcsr(cls, spark: SparkSession, compressed_rows, indptr,
                  col_indices, values=1.0, nrows: Optional[int] = None,
                  ncols: Optional[int] = None, dtype: str = "double") -> "MatrixFrame":
        """Doubly-compressed (hypersparse) CSR: only rows in
        ``compressed_rows`` are stored (reference matrix.py:1228-1312)."""
        return cls._from_compressed(spark, compressed_rows, indptr,
                                    col_indices, values, True, nrows, ncols, dtype)

    @classmethod
    def from_dcsc(cls, spark: SparkSession, compressed_cols, indptr,
                  row_indices, values=1.0, nrows: Optional[int] = None,
                  ncols: Optional[int] = None, dtype: str = "double") -> "MatrixFrame":
        """Doubly-compressed CSC (reference matrix.py:1314-1397)."""
        return cls._from_compressed(spark, compressed_cols, indptr,
                                    row_indices, values, False, nrows, ncols, dtype)

    @classmethod
    def from_dicts(cls, spark: SparkSession, nested, order: str = "rowwise",
                   nrows: Optional[int] = None, ncols: Optional[int] = None,
                   dtype: str = "double") -> "MatrixFrame":
        """{major: {minor: val}} dict-of-dicts, or [{minor: val}, ...] list
        where position is the major index (reference matrix.py:1577-1673)."""
        rowwise = order == "rowwise"
        items = (enumerate(nested) if isinstance(nested, (list, tuple))
                 else nested.items())
        rows, cols, vals = [], [], []
        for maj, d in items:
            for mnr, v in d.items():
                r, c = (maj, mnr) if rowwise else (mnr, maj)
                rows.append(int(r))
                cols.append(int(c))
                vals.append(v)
        if isinstance(nested, (list, tuple)):
            n = len(nested)
            if rowwise:
                nrows = n if nrows is None else nrows
            else:
                ncols = n if ncols is None else ncols
        return cls.from_coo(spark, rows, cols, vals, nrows=nrows, ncols=ncols,
                            dtype=dtype)

    def _to_compressed(self, rowwise: bool, dense_majors: Optional[int]):
        import numpy as np

        maj_c, mnr_c = ("i", "j") if rowwise else ("j", "i")
        rows = self.df.orderBy(maj_c, mnr_c).collect()
        majors = np.array([r[maj_c] for r in rows], dtype=np.int64)
        minors = np.array([r[mnr_c] for r in rows], dtype=np.int64)
        values = np.array([r["v"] for r in rows])
        if dense_majors is None:  # doubly compressed: only present majors
            uniq, starts = np.unique(majors, return_index=True)
            indptr = np.r_[starts, len(majors)].astype(np.int64)
            return uniq, indptr, minors, values
        counts = np.bincount(majors, minlength=dense_majors)
        indptr = np.r_[0, np.cumsum(counts)].astype(np.int64)
        return indptr, minors, values

    def to_csr(self):
        """(indptr, col_indices, values) — reference matrix.py:1704-1735."""
        return self._to_compressed(True, self.nrows)

    def to_csc(self):
        """(indptr, row_indices, values) — reference matrix.py:1737-1768."""
        return self._to_compressed(False, self.ncols)

    def to_dcsr(self):
        """(compressed_rows, indptr, col_indices, values) —
        reference matrix.py:1770-1810."""
        return self._to_compressed(True, None)

    def to_dcsc(self):
        """(compressed_cols, indptr, row_indices, values) —
        reference matrix.py:1812-1853."""
        return self._to_compressed(False, None)

    def to_dicts(self, order: str = "rowwise") -> dict:
        """{major: {minor: val}} (reference matrix.py:1855-1901)."""
        rowwise = order == "rowwise"
        out: dict = {}
        for r in self.df.collect():
            maj, mnr = (r["i"], r["j"]) if rowwise else (r["j"], r["i"])
            out.setdefault(maj, {})[mnr] = r["v"]
        return {k: dict(sorted(v.items())) for k, v in sorted(out.items())}

    # -- metadata -------------------------------------------------------------
    @property
    def nrows(self) -> int:
        if self._nrows is None:
            row = self.df.agg(F.max("i"), F.max("j")).first()
            hi = max([x for x in row if x is not None], default=-1)
            self._nrows = hi + 1
            if self._ncols is None:
                self._ncols = hi + 1
        return self._nrows

    @property
    def ncols(self) -> int:
        if self._ncols is None:
            self.nrows
        return self._ncols

    @property
    def nvals(self) -> int:
        return self.df.count()

    @property
    def T(self) -> "MatrixFrame":
        """Zero-cost transpose view (reference matrix.py:3614-3660)."""
        out = self.df.select(
            F.col("j").alias("i"), F.col("i").alias("j"), F.col("v")
        )
        return MatrixFrame(out, self._ncols, self._nrows)

    @property
    def S(self) -> Mask:
        return Mask(self, structural=True)

    @property
    def V(self) -> Mask:
        return Mask(self, structural=False)

    def dup(self) -> "MatrixFrame":
        return MatrixFrame(self.df, self._nrows, self._ncols)

    # -- element-wise (reference matrix.py:1912-2161) --------------------------
    def ewise_mult(self, other: "MatrixFrame", op: Callable = _binary.times) -> "MatrixFrame":
        """Intersection == inner join on (i, j)."""
        a = self.df.withColumnRenamed("v", "_va")
        b = other.df.withColumnRenamed("v", "_vb")
        out = a.join(b, ["i", "j"]).select("i", "j", op(F.col("_va"), F.col("_vb")).alias("v"))
        return MatrixFrame(out, self._nrows, self._ncols)

    def ewise_add(self, other: "MatrixFrame", op: Callable = _binary.plus) -> "MatrixFrame":
        """Union; lone values pass through == full outer join + passthrough."""
        a = self.df.withColumnRenamed("v", "_va")
        b = other.df.withColumnRenamed("v", "_vb")
        both = F.col("_va").isNotNull() & F.col("_vb").isNotNull()
        merged = (
            F.when(both, op(F.col("_va"), F.col("_vb")))
            .when(F.col("_va").isNotNull(), F.col("_va"))
            .otherwise(F.col("_vb"))
        )
        out = a.join(b, ["i", "j"], "full_outer").select("i", "j", merged.alias("v"))
        return MatrixFrame(out, self._nrows, self._ncols)

    def ewise_union(self, other: "MatrixFrame", op: Callable,
                    left_default: Any, right_default: Any) -> "MatrixFrame":
        """Union with defaults (reference matrix.py:2044-2161)."""
        a = self.df.withColumnRenamed("v", "_va")
        b = other.df.withColumnRenamed("v", "_vb")
        out = a.join(b, ["i", "j"], "full_outer").select(
            "i", "j",
            op(F.coalesce(F.col("_va"), F.lit(left_default)),
               F.coalesce(F.col("_vb"), F.lit(right_default))).alias("v"),
        )
        return MatrixFrame(out, self._nrows, self._ncols)

    def ewise_add_vector(self, vec: VectorFrame, op: Callable = _binary.plus,
                         axis: str = "cols") -> "MatrixFrame":
        """Matrix⊕Vector broadcast with the reference's UNION semantics
        (recipe _m_add_v, reference matrix.py:57-89): temp = dense-extent
        outer(full, v) — i.e. temp[i, j] = v[j] for EVERY row i of the
        matrix extent (axis='cols') — then ewise_add(self, temp).  Cells
        present only in the matrix keep their value; cells (i, j∈supp(v))
        absent from the matrix get v[j].

        Plan: the vector broadcasts into a crossJoin with a range() of the
        dense axis (the output is inherently extent × |v| cells — that cost
        is the semantics, not the plan), merged with the matrix by a
        full-outer join on (i, j).
        """
        key = "j" if axis == "cols" else "i"
        other_key = "i" if axis == "cols" else "j"
        extent = self.nrows if axis == "cols" else self.ncols
        spark = self.df.sparkSession
        dense_axis = spark.range(extent).select(F.col("id").alias(other_key))
        vdf = vec.df.select(F.col("i").alias(key), F.col("v").alias("_vb"))
        temp = dense_axis.crossJoin(F.broadcast(vdf))
        a = self.df.withColumnRenamed("v", "_va")
        both = F.col("_va").isNotNull() & F.col("_vb").isNotNull()
        merged = (
            F.when(both, op(F.col("_va"), F.col("_vb")))
            .when(F.col("_va").isNotNull(), F.col("_va"))
            .otherwise(F.col("_vb"))
        )
        out = a.join(temp, ["i", "j"], "full_outer").select(
            "i", "j", merged.alias("v")
        )
        return MatrixFrame(out, self._nrows, self._ncols)

    def ewise_union_vector(self, vec: VectorFrame, op: Callable = _binary.minus,
                           left_default: Any = 0, right_default: Any = 0,
                           axis: str = "cols") -> "MatrixFrame":
        """Matrix⊕Vector union with defaults (recipe _m_union_v, reference
        matrix.py:82-89): same dense-extent broadcast as ewise_add_vector,
        but one-sided cells combine against the given default instead of
        passing through."""
        key = "j" if axis == "cols" else "i"
        other_key = "i" if axis == "cols" else "j"
        extent = self.nrows if axis == "cols" else self.ncols
        spark = self.df.sparkSession
        dense_axis = spark.range(extent).select(F.col("id").alias(other_key))
        vdf = vec.df.select(F.col("i").alias(key), F.col("v").alias("_vb"))
        temp = dense_axis.crossJoin(F.broadcast(vdf))
        a = self.df.withColumnRenamed("v", "_va")
        out = a.join(temp, ["i", "j"], "full_outer").select(
            "i", "j",
            op(F.coalesce(F.col("_va"), F.lit(left_default)),
               F.coalesce(F.col("_vb"), F.lit(right_default))).alias("v"),
        )
        return MatrixFrame(out, self._nrows, self._ncols)

    def ewise_mult_vector(self, vec: VectorFrame, op: Callable = _binary.times,
                          axis: str = "cols") -> "MatrixFrame":
        """A ⊗ v broadcast over matching axis (recipe _m_mult_v)."""
        key = "j" if axis == "cols" else "i"
        vdf = vec.df.select(F.col("i").alias(key), F.col("v").alias("_vb"))
        a = self.df.withColumnRenamed("v", "_va")
        out = a.join(F.broadcast(vdf), key).select(
            "i", "j", op(F.col("_va"), F.col("_vb")).alias("v")
        )
        return MatrixFrame(out, self._nrows, self._ncols)

    # -- apply / select ---------------------------------------------------------
    def apply(self, op: Callable, right: Any = None, left: Any = None) -> "MatrixFrame":
        """Map over stored values (reference matrix.py:2294-2450)."""
        if left is not None:
            expr = op(F.lit(left), F.col("v"))
        elif right is not None:
            expr = op(F.col("v"), F.lit(right))
        else:
            expr = op(F.col("v"))
        return MatrixFrame(self.df.select("i", "j", expr.alias("v")), self._nrows, self._ncols)

    def apply_indexunary(self, op: Callable, thunk: Any = 0) -> "MatrixFrame":
        """apply(indexunary.*) — positional ops read i/j directly."""
        expr = op(F.col("v"), F.col("i"), F.col("j"), thunk)
        return MatrixFrame(self.df.select("i", "j", expr.alias("v")), self._nrows, self._ncols)

    def select(self, pred: Callable | Column, thunk: Any = 0) -> "MatrixFrame":
        """Filter elements by value/position (reference matrix.py:2452-2551).

        ``pred`` is an indexunary-style callable (v, i, j, thunk) -> bool
        Column, or a ready Column predicate. Catalyst pushes it to the scan.
        """
        cond = pred(F.col("v"), F.col("i"), F.col("j"), thunk) if callable(pred) else pred
        return MatrixFrame(self.df.filter(cond), self._nrows, self._ncols)

    def select_mask(self, mask: Mask) -> "MatrixFrame":
        """A.select(mask) recipe (reference vector.py:80-93)."""
        return MatrixFrame(mask.apply(self.df), self._nrows, self._ncols)

    # -- reductions (reference matrix.py:2553-2676) -------------------------------
    def reduce_rowwise(self, op: Monoid) -> VectorFrame:
        out = self.df.groupBy("i").agg(op.agg(F.col("v")).alias("v"))
        return VectorFrame(out, self._nrows)

    def reduce_columnwise(self, op: Monoid) -> VectorFrame:
        out = self.df.groupBy(F.col("j").alias("i")).agg(op.agg(F.col("v")).alias("v"))
        return VectorFrame(out, self._ncols)

    def reduce_rowwise_agg(self, aggfn) -> VectorFrame:
        """Per-row reduction with an Aggregator recipe (mean, std, norms,
        count — reference agg/__init__.py; multi-phase recipes map to
        Spark's partial+final aggregation automatically).  Positional
        aggregators (first/last/first_index/last_index) get the column
        index as their position."""
        from graph_python_spark.functions.ops import PositionalAgg

        expr = (aggfn.build(F.col("v"), F.col("j"))
                if isinstance(aggfn, PositionalAgg) else aggfn(F.col("v")))
        out = self.df.groupBy("i").agg(expr.alias("v"))
        return VectorFrame(out, self._nrows)

    def reduce_columnwise_agg(self, aggfn) -> VectorFrame:
        from graph_python_spark.functions.ops import PositionalAgg

        expr = (aggfn.build(F.col("v"), F.col("i"))
                if isinstance(aggfn, PositionalAgg) else aggfn(F.col("v")))
        out = self.df.groupBy(F.col("j").alias("i")).agg(expr.alias("v"))
        return VectorFrame(out, self._ncols)

    def argmin_rowwise(self) -> VectorFrame:
        """ss argmin aggregator: per-row column index of the smallest value
        (ties -> smallest j). Returns Vector of positions."""
        out = self.df.groupBy("i").agg(
            F.min_by(F.col("j"), F.struct(F.col("v"), F.col("j"))).alias("v")
        )
        return VectorFrame(out, self._nrows)

    def argmax_rowwise(self) -> VectorFrame:
        out = self.df.groupBy("i").agg(
            F.max_by(F.col("j"), F.struct(F.col("v"), -F.col("j"))).alias("v")
        )
        return VectorFrame(out, self._nrows)

    def reduce_scalar(self, op: Monoid, allow_empty: bool = True) -> Any:
        row = self.df.agg(op.agg(F.col("v")).alias("v")).first()
        if row["v"] is None and not allow_empty:
            return op.identity
        return row["v"]

    # -- matrix multiply (the join+agg kernels; reference matrix.py:2163-2292) ----
    def mxv(self, vec: VectorFrame, op: Semiring) -> VectorFrame:
        """y = A·x : join edges on column j == x.i, ⊕-aggregate by row i.

        One shuffle (the groupBy); the vector side is broadcast when small —
        Catalyst/AQE picks that automatically since x is usually ≪ E.
        """
        x = vec.df.select(F.col("i").alias("_xj"), F.col("v").alias("_xv"))
        joined = self.df.join(x, self.df["j"] == x["_xj"])
        out = (
            joined.select(F.col("i"), op.mul(F.col("v"), F.col("_xv")).alias("_m"))
            .groupBy("i")
            .agg(op.add_agg(F.col("_m")).alias("v"))
        )
        return VectorFrame(out, self._nrows)

    def mxm(self, other: "MatrixFrame", op: Semiring) -> "MatrixFrame":
        """C = A·B over a semiring — the canonical join+aggregate
        (reference matrix.py:2206-2251).  Shuffles on the contraction key k;
        the ⊕ groupBy gets map-side partial aggregation for free."""
        a = self.df.select(F.col("i"), F.col("j").alias("_k"), F.col("v").alias("_va"))
        b = other.df.select(F.col("i").alias("_k"), F.col("j"), F.col("v").alias("_vb"))
        out = (
            a.join(b, "_k")
            .select("i", "j", op.mul(F.col("_va"), F.col("_vb")).alias("_m"))
            .groupBy("i", "j")
            .agg(op.add_agg(F.col("_m")).alias("v"))
        )
        return MatrixFrame(out, self._nrows, other._ncols)

    def mxm_masked(self, other: "MatrixFrame", op: Semiring, mask: Mask) -> "MatrixFrame":
        """C(M) = A·B with the mask pushed INTO the join (masked SpGEMM).

        The reference applies the mask after GrB_mxm; at scale that
        materializes A·B. We instead semi-join the contraction output keys
        against the mask BEFORE the ⊕-aggregate, and — when the mask is
        structural and non-complemented — push it into the join itself so
        only masked (i,j) pairs are ever produced (the triangle-counting
        plan; SURVEY.md §4.3 item 5).
        """
        a = self.df.select(F.col("i"), F.col("j").alias("_k"), F.col("v").alias("_va"))
        b = other.df.select(F.col("i").alias("_k"), F.col("j"), F.col("v").alias("_vb"))
        prod = a.join(b, "_k").select("i", "j", op.mul(F.col("_va"), F.col("_vb")).alias("_m"))
        how = "left_anti" if mask.complement else "left_semi"
        prod = prod.join(mask._true_keys(), on=["i", "j"], how=how)
        out = prod.groupBy("i", "j").agg(op.add_agg(F.col("_m")).alias("v"))
        return MatrixFrame(out, self._nrows, other._ncols)

    def kronecker(self, other: "MatrixFrame", op: Callable = _binary.times) -> "MatrixFrame":
        """Kronecker product (reference matrix.py:2253-2292): crossJoin +
        index arithmetic i = a.i*B.nrows + b.i."""
        bn, bm = other.nrows, other.ncols
        a = self.df.select(F.col("i").alias("_ai"), F.col("j").alias("_aj"), F.col("v").alias("_va"))
        b = other.df.select(F.col("i").alias("_bi"), F.col("j").alias("_bj"), F.col("v").alias("_vb"))
        out = a.crossJoin(F.broadcast(b)).select(
            (F.col("_ai") * bn + F.col("_bi")).alias("i"),
            (F.col("_aj") * bm + F.col("_bj")).alias("j"),
            op(F.col("_va"), F.col("_vb")).alias("v"),
        )
        nr = None if self._nrows is None else self._nrows * bn
        nc = None if self._ncols is None else self._ncols * bm
        return MatrixFrame(out, nr, nc)

    def power(self, n: int, op: Semiring) -> "MatrixFrame":
        """A^n by repeated squaring (reference recipe matrix.py:95-154).

        localCheckpoint truncates lineage every second squaring so the
        plan doesn't grow exponentially across iterations.
        """
        if n < 1:
            raise ValueError("power requires n >= 1")
        result: Optional[MatrixFrame] = None
        base = self
        steps = 0
        while n:
            if n & 1:
                result = base if result is None else result.mxm(base, op)
            n >>= 1
            if n:
                base = base.mxm(base, op)
                steps += 1
                if steps % 2 == 0:
                    base = MatrixFrame(base.df.localCheckpoint(eager=False),
                                       base._nrows, base._ncols)
        return result

    # -- structure ops -------------------------------------------------------------
    def diag(self, k: int = 0) -> VectorFrame:
        """Extract the k-th diagonal as a Vector (reference matrix.py:735-777)."""
        out = self.df.filter(F.col("j") == F.col("i") + k).select(
            F.col("i"), F.col("v")
        )
        return VectorFrame(out, self._nrows)

    def reposition(self, row_offset: int = 0, col_offset: int = 0) -> "MatrixFrame":
        """Shift all indices (reference matrix.py:2679-2752); out-of-bounds drop."""
        nr, nc = self.nrows, self.ncols
        out = (
            self.df.select(
                (F.col("i") + row_offset).alias("i"),
                (F.col("j") + col_offset).alias("j"),
                "v",
            )
            .filter((F.col("i") >= 0) & (F.col("i") < nr) & (F.col("j") >= 0) & (F.col("j") < nc))
        )
        return MatrixFrame(out, nr, nc)

    # -- extract / assign (EP3; reference matrix.py:2811-3317) -----------------------
    def element(self, i: int, j: int, default: Any = None) -> Any:
        row = self.df.filter((F.col("i") == i) & (F.col("j") == j)).first()
        return default if row is None else row["v"]

    def extract(self, rows: Optional[Sequence[int]] = None,
                cols: Optional[Sequence[int]] = None, reindex: bool = True,
                input_mask: Optional[Mask] = None) -> "MatrixFrame":
        """A[rows, cols] with dense output reindexing (reference
        _prep_for_extract matrix.py:2840-2876).  Index maps are broadcast
        joins — tiny dimension tables against the big edge relation.

        ``input_mask`` (reference expr.py:333-377 _input_mask_to_mask):
        filters the INPUT matrix to positions the mask allows before the
        extraction — one semi-join (anti-join for a complemented mask) on
        (i, j), pushed ahead of the index maps."""
        spark = self.df.sparkSession
        df = self.df
        if input_mask is not None:
            df = input_mask.apply(df)
        nr, nc = self._nrows, self._ncols
        if rows is not None:
            rmap = spark.createDataFrame(
                [(int(o), n) for n, o in enumerate(rows)], "i long, _ni long"
            )
            df = df.join(F.broadcast(rmap), "i")
            df = df.select(F.col("_ni").alias("i"), "j", "v") if reindex else df.drop("_ni")
            nr = len(rows) if reindex else nr
        if cols is not None:
            cmap = spark.createDataFrame(
                [(int(o), n) for n, o in enumerate(cols)], "j long, _nj long"
            )
            df = df.join(F.broadcast(cmap), "j")
            df = df.select("i", F.col("_nj").alias("j"), "v") if reindex else df.drop("_nj")
            nc = len(cols) if reindex else nc
        return MatrixFrame(df.select("i", "j", "v"), nr, nc)

    def extract_row(self, i: int) -> VectorFrame:
        out = self.df.filter(F.col("i") == i).select(F.col("j").alias("i"), "v")
        return VectorFrame(out, self._ncols)

    def extract_col(self, j: int) -> VectorFrame:
        out = self.df.filter(F.col("j") == j).select(F.col("i"), "v")
        return VectorFrame(out, self._nrows)

    def update(self, delta: "MatrixFrame", mask: Optional[Mask] = None,
               accum: Optional[Callable] = None, replace: bool = False) -> "MatrixFrame":
        """C(mask, accum, replace) << delta — all reference assign variants
        reduce to this one merge (SURVEY.md §2.2)."""
        out = merge_into(self.df, delta.df, self._keys, mask, accum, replace)
        return MatrixFrame(out, self._nrows, self._ncols)

    def remove_element(self, i: int, j: int) -> "MatrixFrame":
        out = self.df.filter(~((F.col("i") == i) & (F.col("j") == j)))
        return MatrixFrame(out, self._nrows, self._ncols)

    def delete_region(self, rows: Sequence[int], cols: Sequence[int]) -> "MatrixFrame":
        """del C[rows, cols] == anti-join on the region."""
        spark = self.df.sparkSession
        region = spark.createDataFrame(
            [(int(r), int(c)) for r in rows for c in cols], "i long, j long"
        )
        return MatrixFrame(self.df.join(F.broadcast(region), ["i", "j"], "left_anti"),
                           self._nrows, self._ncols)

    # -- ss extensions (reference core/ss/matrix.py) -----------------------------------
    @staticmethod
    def _row_order(how: str, seed: int = 0):
        """Per-row orderings for sort/selectk/compactify.  'random' is a
        deterministic seeded-hash shuffle (xxhash64 of (i, j, seed)) — the
        reproducible stand-in for the reference's RNG-based ``random`` mode
        (ss/matrix.py:3815-3876); every engine with xxhash64 replays it."""
        return {
            "smallest": [F.col("v").asc(), F.col("j").asc()],
            "largest": [F.col("v").desc(), F.col("j").asc()],
            "first": [F.col("j").asc()],
            "last": [F.col("j").desc()],
            "random": [F.xxhash64(F.col("i"), F.col("j"), F.lit(seed)).asc(),
                       F.col("j").asc()],
        }[how]

    def sort_rowwise(self, ascending: bool = True, permutation: bool = False):
        """ss.sort: sort values within each row; returns values compacted
        left with the sort rank as new column index
        (reference ss/matrix.py:3991-4056).

        ``permutation=True`` additionally returns P with P[i, rank] =
        original column index of the rank'th value — the reference's
        (C, P) pair — computed from the same window, no second shuffle."""
        order = [F.col("v").asc(), F.col("j").asc()] if ascending else [F.col("v").desc(), F.col("j").asc()]
        w = Window.partitionBy("i").orderBy(*order)
        ranked = self.df.select(
            "i", "j", "v", (F.row_number().over(w) - 1).alias("_rk")
        )
        values = MatrixFrame(
            ranked.select("i", F.col("_rk").alias("j"), "v"),
            self._nrows, self._ncols,
        )
        if not permutation:
            return values
        perm = MatrixFrame(
            ranked.select("i", F.col("_rk").alias("j"), F.col("j").cast("long").alias("v")),
            self._nrows, self._ncols,
        )
        return values, perm

    def selectk_rowwise(self, k: int, how: str = "smallest", seed: int = 0) -> "MatrixFrame":
        """ss.selectk: keep k entries per row (reference ss/matrix.py:3815-3876)."""
        w = Window.partitionBy("i").orderBy(*self._row_order(how, seed))
        out = (
            self.df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= k)
            .drop("_rn")
        )
        return MatrixFrame(out, self._nrows, self._ncols)

    def compactify_rowwise(self, how: str = "first", seed: int = 0) -> "MatrixFrame":
        """ss.compactify: squeeze stored values left (reference
        ss/matrix.py:3877-3990)."""
        w = Window.partitionBy("i").orderBy(*self._row_order(how, seed))
        out = self.df.select("i", (F.row_number().over(w) - 1).alias("j"), "v")
        return MatrixFrame(out, self._nrows, self._ncols)

    def scan_rowwise(self, op: Monoid = None) -> "MatrixFrame":
        """ss.scan along rows (reference core/ss/prefix_scan.py:12-183):
        a Spark window replaces the O(log n) mxm up/down-sweep recipe."""
        from graph_python_spark.functions.ops import monoid as _monoid

        op = op or _monoid.plus
        w = Window.partitionBy("i").orderBy("j").rowsBetween(Window.unboundedPreceding, Window.currentRow)
        out = self.df.select("i", "j", op.agg(F.col("v")).over(w).alias("v"))
        return MatrixFrame(out, self._nrows, self._ncols)

    def flatten(self, order: str = "rowwise") -> VectorFrame:
        """ss.flatten: linearize indices (reference ss/matrix.py:3717-3814)."""
        nr, nc = self.nrows, self.ncols
        idx = (F.col("i") * nc + F.col("j")) if order == "rowwise" else (F.col("j") * nr + F.col("i"))
        return VectorFrame(self.df.select(idx.alias("i"), "v"), nr * nc)

    @classmethod
    def reshape_from_vector(cls, vec: VectorFrame, nrows: int, ncols: int,
                            order: str = "rowwise") -> "MatrixFrame":
        if order == "rowwise":
            out = vec.df.select((F.col("i") / ncols).cast("long").alias("i"),
                                (F.col("i") % ncols).alias("j"), "v")
        else:
            out = vec.df.select((F.col("i") % nrows).alias("i"),
                                (F.col("i") / nrows).cast("long").alias("j"), "v")
        return cls(out, nrows, ncols)

    # -- comparison (reference matrix.py:357-444) -----------------------------------
    def isequal(self, other: "MatrixFrame") -> bool:
        a = self.df.withColumnRenamed("v", "_va")
        b = other.df.withColumnRenamed("v", "_vb")
        j = a.join(b, ["i", "j"], "full_outer")
        bad = j.filter(
            F.col("_va").isNull() | F.col("_vb").isNull() | (F.col("_va") != F.col("_vb"))
        )
        return bad.limit(1).count() == 0

    def isclose(self, other: "MatrixFrame", rel_tol: float = 1e-7, abs_tol: float = 0.0) -> bool:
        # same kernel as binary.isclose — the reference's SYMMETRIC
        # math.isclose formula, so every isclose surface agrees
        from graph_python_spark.functions.ops import _isclose_factory

        a = self.df.withColumnRenamed("v", "_va")
        b = other.df.withColumnRenamed("v", "_vb")
        j = a.join(b, ["i", "j"], "full_outer")
        close = _isclose_factory(rel_tol, abs_tol)(F.col("_va"), F.col("_vb"))
        bad = j.filter(F.col("_va").isNull() | F.col("_vb").isNull() | ~close)
        return bad.limit(1).count() == 0

    # -- export ----------------------------------------------------------------------
    def to_coo(self) -> tuple[list[int], list[int], list[Any]]:
        rows = self.df.orderBy("i", "j").collect()
        return ([r["i"] for r in rows], [r["j"] for r in rows], [r["v"] for r in rows])

    def to_arrow(self, max_rows=None):
        """Arrow record-batch export (the Spark-honest analogue of the
        reference's ss export surface, core/ss/matrix.py:538-3663); shape
        rides in the schema metadata.  DRIVER-MATERIALIZING like
        ``collect()`` — pass ``max_rows`` to fail fast on oversized
        frames.  See sources/io.py."""
        from graph_python_spark.sources.io import to_arrow
        return to_arrow(self, max_rows=max_rows)

    @classmethod
    def from_arrow(cls, spark: SparkSession, table,
                   nrows: Optional[int] = None,
                   ncols: Optional[int] = None) -> "MatrixFrame":
        from graph_python_spark.sources.io import from_arrow
        return from_arrow(spark, table, nrows, ncols)

    def __reduce__(self):
        """Pickle support (reference ``Matrix.__reduce__``,
        matrix.py:257-273, which serializes via the ss export): serialize
        as driver-side COO + logical shape + value type; unpickling
        rebuilds the DataFrame on the process's active SparkSession.  A
        collect, so sized for driver-fitting matrices — parquet
        checkpoints (plans/iterate.py) remain the at-scale path."""
        r, c, v = self.to_coo()
        return (_rebuild_matrix,
                (r, c, v, self.nrows, self.ncols,
                 self.df.schema["v"].dataType.simpleString()))

    # (to_dicts defined with the csr/dict import-export block above)

    def head(self, n: int = 10) -> list[tuple[int, int, Any]]:
        """First n stored triples in (i, j) order (reference ss head —
        a bounded limit, never a full collect)."""
        return [(r["i"], r["j"], r["v"])
                for r in self.df.orderBy("i", "j").limit(n).collect()]

    def iter_triples(self, prefetch_partitions: int = 1):
        """Streaming iterator over stored triples via toLocalIterator —
        one partition in driver memory at a time (reference iterator
        surface ss/matrix.py itervalues/iterkeys)."""
        for r in self.df.orderBy("i", "j").toLocalIterator(prefetch_partitions):
            yield (r["i"], r["j"], r["v"])


# -- ss.concat / ss.split (reference ss/matrix.py:281-382, ss/_core.py:73-109) ------
def concat(tiles: Sequence[Sequence[MatrixFrame]]) -> MatrixFrame:
    """Tile matrices together: union with index offsets."""
    row_heights = [row[0].nrows for row in tiles]
    col_widths = [m.ncols for m in tiles[0]]
    parts = []
    roff = 0
    for r, row in enumerate(tiles):
        coff = 0
        for c, m in enumerate(row):
            parts.append(
                m.df.select((F.col("i") + roff).alias("i"), (F.col("j") + coff).alias("j"), "v")
            )
            coff += col_widths[c]
        roff += row_heights[r]
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    return MatrixFrame(df, sum(row_heights), sum(col_widths))


def split(m: MatrixFrame, row_splits: Sequence[int], col_splits: Sequence[int]) -> list[list[MatrixFrame]]:
    """Partition into tiles: filters by index range (reference ss split)."""
    out: list[list[MatrixFrame]] = []
    roff = 0
    for rh in row_splits:
        row_tiles = []
        coff = 0
        for cw in col_splits:
            tile = m.df.filter(
                (F.col("i") >= roff) & (F.col("i") < roff + rh)
                & (F.col("j") >= coff) & (F.col("j") < coff + cw)
            ).select((F.col("i") - roff).alias("i"), (F.col("j") - coff).alias("j"), "v")
            row_tiles.append(MatrixFrame(tile, rh, cw))
            coff += cw
        out.append(row_tiles)
        roff += rh
    return out


def _rebuild_matrix(rows, cols, vals, nrows, ncols, vtype) -> "MatrixFrame":
    """Unpickle target for MatrixFrame.__reduce__ (module-level so pickle
    can resolve it by name)."""
    from graph_python_spark.operators.vector import _active_spark

    spark = _active_spark()
    df = spark.createDataFrame(list(zip(rows, cols, vals)),
                               f"i long, j long, v {vtype}")
    return MatrixFrame(df, nrows, ncols)
