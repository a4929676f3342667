"""k-truss — maximal subgraph where every edge closes >= k-2 triangles.

GraphBLAS formulation (LAGraph ktruss; same primitive family as the
reference's masked plus_pair triangle count, SURVEY.md §2.8): iterate
C = A·A ⊙ A (plus_pair, mask = A), select entries >= k-2, until nnz is
stable.  The edge-support relation IS the masked SpGEMM output, so the
Spark plan reuses the triangle machinery (algorithms/triangles.py).

Spark shape: the state is the canonical (a < b) edge relation
``(a, b, support, _ok)``, marked then swept.  A round is one
``plans/iterate.fixpoint`` step: it sweeps the edges the last round
marked (``_ok`` false), closes wedges over the rest with the same 3-way
self-join as ``triangles_df`` (the a < b < c orientation bounds hub
skew: a hub only expands on its higher-id side), stacks each
triangle's three edges, counts support with one map-side-combining
groupBy that also takes one row per swept edge, so the triangle-free
ones stay at support 0, and marks the edges below k-2 support.  The
edge state only ever shrinks, and truss peeling is monotone, so the
fixpoint is unique and rounds past it are identity (which is what lets
a fixed-unroll SQL oracle check a run-to-convergence loop).  The loop
stops on the first round that marks no edge, read off the pin — no
per-round count; the support computed in that round is the final truss
support, so it ships with the result for free.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graph_python_spark.operators.blocks import undirected
from graph_python_spark.plans.iterate import (fixpoint, iterative,
                                              loop_shuffle_width, materialize,
                                              release)


def _edge_support(cur: DataFrame) -> DataFrame:
    """(a, b, support) for every edge of ``cur`` (a, b): the number of
    triangles of ``cur`` it closes, 0 included.  Each triangle stacks a
    row per edge carrying its third vertex; each edge adds one row
    without, so the count of third vertices is the support and the
    triangle-free edges stay in the one aggregate, with no join back."""
    e1 = cur.select("a", "b")
    e2 = cur.select(F.col("a").alias("b"), F.col("b").alias("c"))
    e3 = cur.select("a", F.col("b").alias("c"))
    tri = e1.join(e2, "b").join(e3, ["a", "c"]).select("a", "b", "c")
    stacked = (
        tri.select("a", "b", F.col("c").alias("x"))
        .unionAll(tri.select(F.col("b").alias("a"), F.col("c").alias("b"),
                             F.col("a").alias("x")))
        .unionAll(tri.select("a", F.col("c").alias("b"),
                             F.col("b").alias("x")))
        .unionAll(e1.select("a", "b", F.lit(None).cast("long").alias("x")))
    )
    return stacked.groupBy("a", "b").agg(F.count("x").alias("support"))


@iterative
def ktruss(
    edges: DataFrame,
    k: int,
    max_rounds: int = 50,
    partitions: Optional[int] = None,
) -> tuple[DataFrame, int]:
    """Peel to the k-truss of the undirected simple graph under ``edges``
    (long columns i, j; direction, weights and duplicates ignored).

    Returns ``(truss(a, b, support), rounds)``: the surviving canonical
    a < b edges with their support inside the truss, and the number of
    peeling rounds executed (including the final no-change round that
    proves the fixpoint).  Requires k >= 3.
    """
    if k < 3:
        raise ValueError("k-truss requires k >= 3")
    sym = undirected(edges)
    if partitions is not None:
        sym = sym.repartition(partitions, "a")
    start = materialize(sym.select("a", "b",
                                   F.lit(None).cast("long").alias("support"),
                                   F.lit(True).alias("_ok")))

    def step(state: DataFrame) -> DataFrame:
        sup = _edge_support(state.filter(F.col("_ok")).select("a", "b"))
        return sup.select("a", "b", "support",
                          (F.col("support") >= k - 2).alias("_ok"))

    with loop_shuffle_width(edges.sparkSession, max(start.count(), 1)):
        state, rounds = fixpoint(start, step, max_rounds,
                                 changed=F.max(~F.col("_ok")))
        if rounds < max_rounds:
            # the last round marked nothing: its support is final
            return state.select("a", "b", "support"), rounds
        # max_rounds exhausted: report the swept state's support
        cur = state.filter(F.col("_ok")).select("a", "b")
        out = materialize(_edge_support(cur).filter(F.col("support") >= k - 2))
    release(state)
    return out, rounds


def trussness_rounds(edges: DataFrame, rounds: int = 8,
                     partitions: Optional[int] = None) -> DataFrame:
    """Full truss decomposition (per-EDGE truss support number) by the
    triangle h-index fixpoint — the edge analog of ``coreness_rounds``
    (Sariyüce, Seshadhri, Pinar 2017 local truss decomposition): start
    t(e) = support(e) and synchronously update

        t(e) ← h-index of { min(t(f), t(g)) : (e, f, g) a triangle }.

    Estimates only decrease and the fixpoint is exactly the truss support
    θ(e) (e survives in the k-truss iff θ(e) >= k-2); updating a fixpoint
    is the identity, so the FIXED-round unroll is SQL-expressible — the
    same idempotent-past-fixpoint trick as coreness.

    Unlike ``ktruss`` peeling the edge/triangle relations never shrink:
    the a < b < c oriented triangle relation is built ONCE and cached, and
    each round is three (a,b)-keyed joins of the O(E) estimate vector to
    it plus one per-edge window over triangle contributions (frame =
    support(e), the same bounded-hub caveat as every per-neighbor
    aggregate).  One decomposition run replaces a k-sweep of peels.

    Returns (a, b, trussness) for every canonical edge in >= 1 triangle
    (triangle-free edges have trussness 0 and are omitted, as no k-truss
    holds them).  The result reads the last
    pinned estimate vector; the edge and triangle pins are freed.
    """
    from pyspark.sql.window import Window

    cur = undirected(edges)
    if partitions is not None:
        cur = cur.repartition(partitions, "a")
    cur = materialize(cur)
    e2 = cur.select(F.col("a").alias("b"), F.col("b").alias("c"))
    e3 = cur.select("a", F.col("b").alias("c"))
    tri = materialize(cur.join(e2, "b").join(e3, ["a", "c"])
                      .select("a", "b", "c"))
    stacked = (
        tri.select("a", "b")
        .unionAll(tri.select(F.col("b").alias("a"), F.col("c").alias("b")))
        .unionAll(tri.select("a", F.col("c").alias("b")))
    )
    t = materialize(stacked.groupBy("a", "b")
                    .agg(F.count("*").cast("long").alias("t")))
    release(cur)
    w = Window.partitionBy("a", "b").orderBy(F.desc("x"))

    def step(t):
        t1 = t.select("a", "b", F.col("t").alias("_t1"))
        t2 = t.select(F.col("a").alias("b"), F.col("b").alias("c"),
                      F.col("t").alias("_t2"))
        t3 = t.select("a", F.col("b").alias("c"), F.col("t").alias("_t3"))
        tt = tri.join(t1, ["a", "b"]).join(t2, ["b", "c"]).join(t3, ["a", "c"])
        contribs = (
            tt.select("a", "b", F.least("_t2", "_t3").alias("x"))
            .unionAll(tt.select(F.col("b").alias("a"), F.col("c").alias("b"),
                                F.least("_t1", "_t3").alias("x")))
            .unionAll(tt.select("a", F.col("c").alias("b"),
                                F.least("_t1", "_t2").alias("x")))
        )
        return (
            contribs.select("a", "b", "x", F.row_number().over(w).alias("_rn"))
            .select("a", "b",
                    F.least(F.col("_rn").cast("long"), F.col("x")).alias("_h"))
            .groupBy("a", "b")
            .agg(F.max("_h").alias("t"))
        )

    with loop_shuffle_width(edges.sparkSession, max(tri.count(), 1)):
        t, _ = fixpoint(t, step, rounds)
    release(tri)
    return t.select("a", "b", F.col("t").alias("trussness"))
