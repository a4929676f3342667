"""Mask combinators, vector ss ops, aggregator reductions, custom semirings,
and io round-trips."""

import math

import pytest
from pyspark.sql import functions as F

from graph_python_spark import MatrixFrame, VectorFrame, semiring
from graph_python_spark.functions.ops import agg as A_, binary, monoid
from graph_python_spark.sources import io as gio
from tests.fixtures import A7_COLS, A7_N, A7_ROWS, A7_VALS, V7_IDX, V7_N, V7_VALS


@pytest.fixture(scope="module")
def A(spark):
    return MatrixFrame.from_coo(spark, A7_ROWS, A7_COLS, A7_VALS, A7_N, A7_N, dtype="long")


@pytest.fixture(scope="module")
def v(spark):
    return VectorFrame.from_coo(spark, V7_IDX, V7_VALS, V7_N, dtype="long")


def mat_dict(m):
    return {(i, j): val for i, j, val in zip(*m.to_coo())}


def test_mask_combinators(A, spark):
    tri = A.select(lambda val, i, j, t: j > i)     # strictly upper entries
    delta = MatrixFrame(
        A.df.select("i", "j", F.lit(1).cast("long").alias("v"))
    )
    d = {(i, j) for i, j, _ in zip(*A.to_coo())}
    upper = {(i, j) for (i, j) in d if j > i}
    # AND: positions in A's structure AND strictly-upper structure
    got = set(mat_dict(MatrixFrame((A.S & tri.S).apply(delta.df))).keys())
    assert got == upper
    # OR with a complement: in tri OR not in A  (delta keys all in A)
    got = set(mat_dict(MatrixFrame((tri.S | ~A.S).apply(delta.df))).keys())
    assert got == upper
    # De Morgan: ~(A.S & tri.S) over delta == keys outside upper
    got = set(mat_dict(MatrixFrame((~(A.S & tri.S)).apply(delta.df))).keys())
    assert got == d - upper
    # keep_outside consistency
    comp = (A.S & tri.S).keep_outside(delta.df)
    assert set(mat_dict(MatrixFrame(comp)).keys()) == d - upper


def test_vector_ss_ops(v):
    d = dict(zip(V7_IDX, V7_VALS))
    got = {r["i"]: r["v"] for r in v.sort().df.collect()}
    assert got == {k: val for k, val in enumerate(sorted(V7_VALS))}
    got = {r["i"]: r["v"] for r in v.compactify("first").df.collect()}
    assert got == {n: d[i] for n, i in enumerate(sorted(V7_IDX))}
    got = {r["i"]: r["v"] for r in v.reposition(2).df.collect()}
    assert got == {i + 2: val for i, val in d.items() if i + 2 < V7_N}
    assert v.argmin() == 6  # value 0 at index 6
    assert v.argmax() == 4  # value 2 at index 4
    assert v.selectk(2, "largest").to_dict() == {4: 2, 1: 1}


def test_aggregator_reductions(A, v):
    vals = list(zip(A7_ROWS, A7_VALS))
    by_row = {}
    for r, val in vals:
        by_row.setdefault(r, []).append(val)
    got = A.reduce_rowwise_agg(A_.mean).to_dict()
    assert got == {r: pytest.approx(sum(vs) / len(vs)) for r, vs in by_row.items()}
    got = A.reduce_rowwise_agg(A_.count).to_dict()
    assert got == {r: len(vs) for r, vs in by_row.items()}
    got = A.reduce_rowwise_agg(A_.L2_norm).to_dict()
    assert got == {r: pytest.approx(math.sqrt(sum(x * x for x in vs)))
                   for r, vs in by_row.items()}
    # argmin/argmax positions
    d = {(i, j): val for i, j, val in zip(A7_ROWS, A7_COLS, A7_VALS)}
    am = A.argmax_rowwise().to_dict()
    for r, vs in by_row.items():
        best = max((val, -j) for (i, j), val in d.items() if i == r)
        assert am[r] == -best[1]
    assert v.reduce_agg(A_.mean) == pytest.approx(1.0)
    assert v.reduce_agg(A_.sum_of_squares) == 6


def test_custom_semiring_registration(A, v, spark):
    """UDF extension point (reference register_new): plus_absdiff through
    mxv, vxm and mxm against a Python reference."""
    sr = semiring.register(
        "plus_absdiff", monoid.plus, lambda a, b: F.abs(a - b), identity=0,
    )
    d = {(i, j): val for i, j, val in zip(A7_ROWS, A7_COLS, A7_VALS)}
    xv = dict(zip(V7_IDX, V7_VALS))
    want = {}
    for (i, j), val in d.items():
        if j in xv:
            want[i] = want.get(i, 0) + abs(val - xv[j])
    assert A.mxv(v, sr).to_dict() == want
    # vᵀ·A: ⊕ over in-edges of j from vector entries i
    want = {}
    for (i, j), val in d.items():
        if i in xv:
            want[j] = want.get(j, 0) + abs(xv[i] - val)
    assert v.vxm(A, sr).to_dict() == want
    # A·A: ⊕ over the contraction key k
    want = {}
    for (i, k), a in d.items():
        for (k2, j), b in d.items():
            if k2 == k:
                want[(i, j)] = want.get((i, j), 0) + abs(a - b)
    assert mat_dict(A.mxm(A, sr)) == want


def test_io_roundtrips(A, spark, tmp_path):
    # parquet
    gio.write_matrix(A, str(tmp_path / "m"))
    back = gio.read_matrix(spark, str(tmp_path / "m"))
    assert back.isequal(A)
    # matrix market
    gio.mmwrite(A, str(tmp_path / "a.mtx"))
    back = gio.mmread(spark, str(tmp_path / "a.mtx"))
    assert back.nrows == A7_N and back.ncols == A7_N
    assert {k: val for k, val in mat_dict(back).items()} == {
        k: float(val) for k, val in mat_dict(A).items()
    }
    # dense
    dense = [[0.0, 2.0], [3.0, 0.0]]
    m = gio.from_dense(spark, dense)
    assert mat_dict(m) == {(0, 0): 0.0, (0, 1): 2.0, (1, 0): 3.0, (1, 1): 0.0}


def test_matrix_contains_get_iter(A):
    assert A.element(3, 0) == 3
    assert A.element(0, 0) is None
    d = A.to_dicts()
    assert d[3][0] == 3 and d[0][1] == 2


def test_op_registry(A, spark):
    """Generic unary/binary registration (reference UnaryOp.register_new /
    BinaryOp.register_new, core/operator/unary.py:207-260)."""
    from graph_python_spark.functions.ops import unary

    # Column-builder fast path, dotted name -> nested namespace
    unary.register("math.plus_one", lambda x: x + 1)
    got = mat_dict(A.apply(unary.math.plus_one))
    assert got == {k: val + 1 for k, val in mat_dict(A).items()}

    # numpy kernel slow path (Arrow pandas UDF)
    import numpy as np

    binary.register("absdiff_np", np_fn=lambda a, b: np.abs(a - b))
    got = mat_dict(A.ewise_mult(A, op=binary.absdiff_np))
    assert got == {k: 0.0 for k in mat_dict(A)}

    anon = unary.register_anonymous(np_fn=lambda a: a * 2.0)
    got = mat_dict(A.apply(anon))
    assert got == {k: 2.0 * val for k, val in mat_dict(A).items()}


def test_networkx_roundtrip(A):
    nx = pytest.importorskip("networkx")
    g = gio.to_networkx(A)
    assert isinstance(g, nx.DiGraph)
    want = mat_dict(A)
    assert {(u, vtx): d["weight"] for u, vtx, d in g.edges(data=True)} == want
    back = gio.from_networkx(A.df.sparkSession, g, weight="weight")
    # node relabeling is dense over the touched nodes; compare edge values
    assert sorted(v for _, v in mat_dict(back).items()) == sorted(want.values())


def test_register_parameterized_column_op(spark):
    from graph_python_spark.functions.ops import ParameterizedOp, binary as B

    op = B.register(
        "ext.addk",
        lambda k: (lambda a, b: a + b + F.lit(float(k))),
        parameterized=True, arity=2, samples=((1.0,), (10.0,)))
    assert isinstance(op, ParameterizedOp)
    assert isinstance(B["ext"]["addk"], ParameterizedOp)
    df = spark.createDataFrame([(1.0, 2.0), (3.0, 4.0)], "a double, b double")
    got = [r[0] for r in df.select(B.ext.addk(10.0)(F.col("a"), F.col("b"))
                                   ).collect()]
    assert got == [13.0, 17.0]


def test_register_parameterized_np_kernel(spark):
    import numpy as np

    from graph_python_spark.functions.ops import unary as U

    op = U.register_anonymous(
        np_fn=lambda p: (lambda x: np.power(np.abs(x), p)),
        parameterized=True, arity=1, samples=((2.0,),))
    df = spark.createDataFrame([(-3.0,), (2.0,)], "x double")
    got = [r[0] for r in df.select(op(2.0)(F.col("x"))).collect()]
    assert got == [9.0, 4.0]
