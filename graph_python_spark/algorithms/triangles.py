"""Triangle counting — masked plus_pair SpGEMM, edge-based plan.

Reference ingredients (SURVEY.md §2.8): plus_pair semiring
(``graphblas/core/operator/semiring.py:181``), tril/triu select
(``core/operator/indexunary.py:105``), masked mxm — count =
reduce(plus) of C(L.S) = L·Lᵀ with L the strictly-upper triangle.

Spark plan: never materialize A·A.  Take the a<b edges
(``operators/blocks.undirected``), then a
3-way self-join closes wedges a<b<c with the (a,c) edge — i.e. the mask is
pushed INTO the join (same effect as C(L.S)).  Two shuffles total; the
ordering constraint a<b<c counts each triangle exactly once and keeps the
join sides skew-bounded (hub vertices only expand on their higher-id side).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graph_python_spark.operators.blocks import (mirror, simple, symmetric,
                                                 undirected)
from graph_python_spark.plans.iterate import materialize, release


def triangle_count(edges: DataFrame) -> int:
    return triangles_df(edges).agg(F.count("*").alias("n")).first()["n"]


def triangles_df(edges: DataFrame) -> DataFrame:
    """One row (a, b, c) per triangle, a<b<c."""
    ue = undirected(edges).cache()
    e1 = ue.select(F.col("a"), F.col("b"))
    e2 = ue.select(F.col("a").alias("b"), F.col("b").alias("c"))
    e3 = ue.select(F.col("a"), F.col("b").alias("c"))
    # wedge a<b<c via (a,b),(b,c); close with (a,c)  == mask semi-join on L
    return e1.join(e2, "b").join(e3, ["a", "c"]).select("a", "b", "c")


def triangles_per_vertex(edges: DataFrame) -> DataFrame:
    """Vector of per-vertex triangle counts (LAGraph tricount variant)."""
    t = triangles_df(edges)
    stacked = (
        t.select(F.col("a").alias("id"))
        .unionAll(t.select(F.col("b").alias("id")))
        .unionAll(t.select(F.col("c").alias("id")))
    )
    return stacked.groupBy("id").agg(F.count("*").alias("triangles"))


def directed_triangle_census(edges: DataFrame) -> DataFrame:
    """Directed-triangle census over the deduped directed simple graph:
    one row (cyclic, transitive).

    * ``cyclic``      # of directed 3-cycles i→j→k→i, each cycle counted
                      once (rotation representative: i = min of the three,
                      i.e. i < j AND i < k; the two orientations of a
                      vertex set are distinct cycles and both count when
                      reciprocal edges provide both).
    * ``transitive``  # of transitive triples i→j→k with the shortcut
                      i→k — no rotation symmetry, every ordered triple is
                      a distinct instance (the triad-census 030T unit).

    GraphBLAS formulation: cyclic = reduce(plus) of (A·A ⊙ Aᵀ) over
    plus_pair / 3, transitive = reduce(plus) of (A·A ⊙ A) — the same
    masked-SpGEMM shape as `triangles_df` with orientation-aware masks
    (reference plus_pair semiring `core/operator/semiring.py:181`).

    Spark plan: ONE cached wedge relation (i→j→k) closed twice — by the
    k→i edge for cycles and the i→k edge for transitive triples.  The
    mask is pushed into equi-joins exactly as in `triangles_df`; two
    shuffles for the wedge, one per closure.  Skew note: the wedge
    fan-out is quadratic in hub mid-degree — at web scale feed this the
    `sparsify`/`max_degree`-capped edge table like every other wedge plan
    here.
    """
    e = simple(edges).cache()
    # cache: both closures consume the (quadratic-in-hub-degree) wedge
    # relation — without it the dominant join would execute twice
    wedges = e.join(
        e.select(F.col("i").alias("j"), F.col("j").alias("k")), "j").cache()
    # the closing edge runs k→i: its source binds to the wedge's k, its
    # destination to the wedge's i
    cyc = wedges.join(
        e.select(F.col("i").alias("k"), F.col("j").alias("i")), ["k", "i"]) \
        .filter((F.col("i") < F.col("j")) & (F.col("i") < F.col("k")))
    trans = wedges.join(e.select("i", F.col("j").alias("k")), ["i", "k"])
    return cyc.agg(F.count("*").cast("long").alias("cyclic")).crossJoin(
        trans.agg(F.count("*").cast("long").alias("transitive")))


def clustering_coefficients(edges: DataFrame) -> DataFrame:
    """Local clustering coefficient per vertex: 2·t(v) / (d(v)·(d(v)-1)),
    over the undirected simple graph (self-loops and duplicates dropped);
    0.0 for degree < 2.  Returns (id, degree, triangles, coeff).

    GraphBLAS recipe (same ingredients as LAGraph's tricount-based
    variant): t = per-vertex reduce of the masked plus_pair SpGEMM,
    d = reduce_rowwise of one(A) — both single-pass aggregates here, with
    the triangle join's a < b < c orientation bounding hub-side skew.
    """
    ue = undirected(edges).cache()
    deg = (
        ue.select(F.col("a").alias("id"))
        .unionAll(ue.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("degree"))
    )
    tri = triangles_per_vertex(ue.select(F.col("a").alias("i"),
                                         F.col("b").alias("j")))
    d = F.col("degree")
    t = F.coalesce(F.col("triangles"), F.lit(0)).cast("long")
    return (
        deg.join(tri, "id", "left_outer")
        .select(
            "id",
            d.alias("degree"),
            t.alias("triangles"),
            F.when(d >= 2, 2.0 * t / (d * (d - 1)))
            .otherwise(F.lit(0.0))
            .alias("coeff"),
        )
    )


def four_cycle_count(edges: DataFrame, max_degree: int | None = None) -> DataFrame:
    """Global 4-cycle count of the undirected simple graph: every 4-cycle
    u–x–v–y–u is determined twice by a pair of OPPOSITE vertices and an
    unordered pair of their common neighbors, so
    C4 = ½ Σ_{u<v} C(cn(u, v), 2) — exact integer arithmetic throughout
    (the double-count makes the sum even).  The quadrilateral census
    complements the triangle count (together: the clustering signature).

    ``max_degree``: optional stop-hub cap — wedge fan-out is
    Σ_x C(deg(x), 2), so one 1e6-degree hub contributes 5e11 wedge rows;
    capping skips wedges CENTERED at hubs (documented undercount, the
    same guard as jaccard_neighbors).  None = exact.

    Plan: one wedge self-join on the center key, one groupBy on the
    opposite-pair key (map-side combine), one scalar aggregate.

    Returns ONE row (n_four_cycles).
    """
    sym = symmetric(edges)
    if max_degree is not None:
        deg = sym.groupBy("s").agg(F.count("*").alias("_deg"))
        sym = (sym.join(deg.filter(F.col("_deg") <= max_degree), "s",
                        "left_semi"))
    a = sym.select(F.col("s").alias("x"), F.col("d").alias("u"))
    b = sym.select(F.col("s").alias("x"), F.col("d").alias("v"))
    cn = (
        a.join(b, "x")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count("*").alias("cn"))
    )
    # C4 = ½ Σ C(cn,2) = Σ cn(cn−1) / 4 — `div` keeps the whole computation
    # in 64-bit integers (Spark's `/` on longs is double division and loses
    # exactness past 2^53); with max_degree pruning the % 4 == 0 identity
    # no longer holds, and integer floor-division is then the defined result
    return cn.agg(
        F.expr("sum(cn * (cn - 1)) div 4").alias("n_four_cycles")
    )


def triangles_incremental(edges_old: DataFrame,
                          edges_all: DataFrame) -> DataFrame:
    """Δ-triangle count for a GROWING graph (edges only added — the
    crawl-to-crawl precondition ``pagerank_incremental``/
    ``cc_incremental`` share): the number of triangles of the new graph
    that use at least one added edge, counted WITHOUT re-enumerating the
    old graph's triangles.

    new_total = old_total + delta — the caller keeps old_total from the
    previous crawl; this op's cost is O(|added| · avg_degree), not
    O(E^1.5), which is the point when a crawl adds 0.1% of edges.

    Plan: added = canonical(all) ∖ canonical(old) (one anti-join);
    candidate triangles come from joining each added edge's endpoints
    against the full symmetric adjacency (common-neighbor wedge close,
    the same masked-SpGEMM shape as :func:`triangles_df` but seeded by
    the added edges); each candidate is canonicalized to its sorted
    (a, b, c) and deduped, so triangles with 2 or 3 added edges count
    once — no inclusion-exclusion bookkeeping.

    Returns one row: (n_added_edges, n_new_triangles).
    """
    o = undirected(edges_old)
    a = undirected(edges_all)
    added = a.join(o, ["a", "b"], "left_anti").cache()
    sym = mirror(a.select(F.col("a").alias("u"), F.col("b").alias("v")), "u", "v")
    # common neighbors z of the added edge (x, y) over the FULL graph
    cand = (
        added.select(F.col("a").alias("x"), F.col("b").alias("y"))
        .join(sym.select(F.col("u").alias("x"), F.col("v").alias("z")), "x")
        .join(sym.select(F.col("u").alias("y"),
                         F.col("v").alias("z")), ["y", "z"])
    )
    tri = cand.select(
        F.least("x", "y", "z").alias("ta"),
        F.greatest(F.least("x", "y"), F.least(
            F.greatest("x", "y"), F.col("z"))).alias("tb"),
        F.greatest("x", "y", "z").alias("tc"),
    ).distinct()
    n_added = added.count()
    # pinned so the cached delta can be freed: the result no longer reads it
    out = materialize(tri.agg(
        F.lit(n_added).cast("long").alias("n_added_edges"),
        F.count(F.lit(1)).cast("long").alias("n_new_triangles")))
    release(added)
    return out
