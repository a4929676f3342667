"""BFS (level / parent) and SSSP — frontier-push SpMV loops.

Reference recipes:
  * level BFS  ``notebooks/Example B.1 -- Level BFS.ipynb``:
      q(~v.S, replace) << q.vxm(A, lor_land)      — frontier expansion is a
      vxm masked by "not yet visited": the candidates the state lacks.
  * parent BFS ``notebooks/Example B.3 -- Parent BFS.ipynb``: min_first
      semiring — smallest-id parent wins == groupBy(dst).min(src).
  * SSSP       ``notebooks/Intro to GraphBLAS + SSSP example.ipynb``:
      w(binary.min) << w.vxm(m, min_plus) to fixpoint.

The matrix is fixed and pinned once before the loop; the state is one
vertex frame, and a round is one ``fixpoint`` step: the adjacency joins
the state's frontier rows once, a ``groupBy`` reduces the candidates per
vertex, and they merge back into the state.  Level and parent BFS carry
``(id, level | parent, _new)`` on ``plans/iterate.frontier_fixpoint`` and
stop on the round that adds no vertex, read off the pin; the frontier
(``_new``) is always the small side.
"""

from __future__ import annotations

import sys

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from graph_python_spark.operators.blocks import simple, symmetric, vertex_ids
from graph_python_spark.plans.iterate import (fixpoint, frontier_fixpoint,
                                              iterative, loop_shuffle_width,
                                              materialize, release)


def _improved() -> Column:
    """A full-merge min-plus round's change flag: the vertex is new (no
    old distance ``v``) or its candidate ``_nd`` beats the old one."""
    return F.coalesce(F.col("_nd") < F.col("v"), F.col("v").isNull())


def _frontier_bfs(edges: DataFrame, start: DataFrame, reach: Column,
                  max_rounds: int) -> DataFrame:
    """Frontier-push BFS from the one-row ``start`` ``(id, <value>)``
    over the pinned simple adjacency: a round joins the frontier rows to
    the adjacency once and reduces each reached vertex with ``reach``
    (an aggregate over the frontier's ``s`` and value columns)."""
    value = start.columns[1]
    adj = materialize(simple(edges).toDF("s", "d"))
    state, _ = frontier_fixpoint(
        start,
        lambda f: (adj.join(f.select(F.col("id").alias("s"), value), "s")
                   .groupBy(F.col("d").alias("id")).agg(reach.alias(value))),
        ["id"], max_rounds)
    release(adj)
    return state.select("id", value)


@iterative
def bfs_levels(edges: DataFrame, source: int, max_depth: int = 10**9) -> DataFrame:
    """Returns levels(id, level) for reachable vertices; level[source]=0.
    The levels are a projection of the last pinned round."""
    start = edges.sparkSession.createDataFrame(
        [(source, 0)], "id long, level int")
    return _frontier_bfs(edges, start, F.min("level") + 1, max_depth)


@iterative
def bfs_parents(edges: DataFrame, source: int) -> DataFrame:
    """Returns parents(id, parent); parent[source]=source; min-id parent
    wins (the min_first semiring)."""
    start = edges.sparkSession.createDataFrame(
        [(source, source)], "id long, parent long")
    return _frontier_bfs(edges, start, F.min("s"), sys.maxsize)


@iterative
def minplus_fixed_rounds(edges: DataFrame, source: int, rounds: int,
                         weight: str | None = None) -> DataFrame:
    """Exactly ``rounds`` synchronous min-plus relaxations from ``source``
    (full-merge each round) — deterministic output for the DuckDB-checked
    queries.  weight=None means unit weights (result = BFS levels for
    vertices within ``rounds`` hops).  Min-plus past the fixpoint is the
    identity, so the loop stops early on the round that improves no
    distance, read off the pin: the output is the same.

    Returns dist(id, v) with integer distances when weights are integral.
    """
    w_col = F.col(weight).cast("long") if weight else F.lit(1).cast("long")
    e = (
        edges.select(F.col("i").alias("s"), F.col("j").alias("d"), w_col.alias("w"))
        .groupBy("s", "d").agg(F.min("w").alias("w"))
        .cache()
    )

    def step(dist):
        cand = (
            e.join(dist.select(F.col("id").alias("s"), "v"), "s")
            .groupBy(F.col("d").alias("id"))
            .agg(F.min(F.col("v") + F.col("w")).alias("_nd"))
        )
        return (
            dist.select("id", "v").join(cand, "id", "full_outer")
            .select("id", F.least(F.col("v"), F.col("_nd")).alias("v"),
                    _improved().alias("_chg"))
        )

    dist, _ = fixpoint(
        edges.sparkSession.createDataFrame([(source, 0)], "id long, v long"),
        step, rounds, changed=F.max("_chg"))
    release(e)
    return dist.select("id", "v")


@iterative
def bfs_parents_fixed(edges: DataFrame, source: int, rounds: int) -> DataFrame:
    """Deterministic parent BFS (min_first semantics, Parent BFS notebook):
    dist = ``rounds`` unit-weight min-plus relaxations, then
    parent[d] = MIN src s with an edge s→d and dist[s] + 1 = dist[d]
    (the smallest-id predecessor on a shortest path — exactly the
    ``min_first`` semiring's tie-break); parent[source] = source.

    Non-iterative given dist — one join + groupBy(min), no extra loop.
    """
    dist = minplus_fixed_rounds(edges, source, rounds)
    rel = (
        edges.select(F.col("i").alias("s"), F.col("j").alias("d")).distinct()
    )
    ds = dist.select(F.col("id").alias("s"), F.col("v").alias("_vs"))
    dd = dist.select(F.col("id").alias("d"), F.col("v").alias("_vd"))
    par = (
        rel.join(ds, "s").join(dd, "d")
        .filter(F.col("_vs") + 1 == F.col("_vd"))
        .groupBy(F.col("d").alias("id"))
        .agg(F.min("s").alias("parent"))
    )
    return (
        dist.select("id")
        .join(par, "id", "left_outer")
        .select("id", F.when(F.col("id") == source, F.lit(source).cast("long"))
                .otherwise(F.col("parent")).alias("parent"))
        .filter(F.col("parent").isNotNull())
    )


@iterative
def sssp(edges: DataFrame, source: int, weight: str = "v",
         max_rounds: int = 10**9) -> DataFrame:
    """Min-plus SSSP to fixpoint. edges: (i, j, v); returns dist(id, distance)."""
    e = (
        edges.select(F.col("i").alias("s"), F.col("j").alias("d"),
                     F.col(weight).cast("double").alias("w"))
        .groupBy("s", "d").agg(F.min("w").alias("w"))
        .cache()
    )

    def step(state):
        # the frontier is the vertices whose distance improved last round
        frontier = state.filter(F.col("_improved"))
        cand = (
            e.join(frontier.select(F.col("id").alias("s"), "distance"), "s")
            .groupBy(F.col("d").alias("id"))
            .agg(F.min(F.col("distance") + F.col("w")).alias("_nd"))  # min_plus
        )
        return (
            state.select("id", "distance").join(cand, "id", "full_outer")
            .select(
                "id",
                F.least(F.coalesce(F.col("distance"), F.lit(float("inf"))),
                        F.coalesce(F.col("_nd"), F.lit(float("inf")))).alias("distance"),
                (F.col("_nd").isNotNull()
                 & (F.col("distance").isNull() | (F.col("_nd") < F.col("distance")))).alias("_improved"),
            )
        )

    dist, _ = fixpoint(
        edges.sparkSession.createDataFrame(
            [(source, 0.0, True)], "id long, distance double, _improved boolean"),
        step, max_rounds, changed=F.max("_improved"))
    release(e)
    return dist.select("id", "distance")


@iterative
def pseudo_diameter(edges: DataFrame, rounds: int = 8) -> DataFrame:
    """Double-sweep BFS pseudo-diameter of the undirected (symmetrized)
    simple graph: BFS from the smallest vertex id, then BFS from the
    farthest vertex found (tie-break smallest id); the second sweep's
    eccentricity is the standard diameter lower bound (the classic
    double-sweep heuristic).  Each sweep is exactly ``rounds`` synchronous
    unit-weight min-plus relaxations — the same fixed-round semantics as
    ``minplus_fixed_rounds``, so the result is a deterministic function of
    the graph and SQL-replayable.

    Returns ONE row (start, far_a, far_b, diameter_lb).  The two
    between-sweep selections are O(1)-row driver actions (like the Louvain
    m2 scalar), not data collects; each sweep moves frontier-sized rows.
    """
    sym = symmetric(edges).select(F.col("s").alias("i"), F.col("d").alias("j"))
    v0 = sym.agg(F.min("i")).first()[0]
    d1 = minplus_fixed_rounds(sym, v0, rounds)
    a_row = d1.orderBy(F.col("v").desc(), F.col("id").asc()).first()
    a = a_row["id"]
    d2 = minplus_fixed_rounds(sym, a, rounds)
    far = d2.orderBy(F.col("v").desc(), F.col("id").asc()).limit(1)
    return far.select(
        F.lit(v0).cast("long").alias("start"),
        F.lit(a).cast("long").alias("far_a"),
        F.col("id").cast("long").alias("far_b"),
        F.col("v").cast("long").alias("diameter_lb"),
    )


@iterative
def dag_longest_path_levels(edges: DataFrame, rounds: int = 16) -> DataFrame:
    """Longest-path layering of a DAG: level(v) = length of the longest
    directed path ending at v (sources = 0) — the critical-path /
    topological-layer assignment, i.e. the max-plus twin of the min-plus
    BFS loop (same SpMV shape, ``max`` monoid instead of ``min``).

    ``edges`` (i, j) MUST be acyclic (callers pass e.g. the i < j
    restriction of a general edge table); with exactly ``rounds``
    synchronous max-plus relaxations the result is a deterministic
    function of the input even if ``rounds`` undershoots the true depth,
    so the query is SQL-unrollable.  Converged when ``rounds`` ≥ depth;
    max-plus past the fixpoint is the identity, so the loop stops on the
    round that raises no level, read off the pin.

    Scale shape: identical to ``minplus_fixed_rounds`` — the edge table is
    partitioned by source once and every round's join reuses that
    partitioning; the per-round shuffle is O(reached edges); state is one
    (id, level) row per vertex.
    """
    e = edges.select(F.col("i").alias("s"), F.col("j").alias("d")).distinct()
    verts = vertex_ids(e, "s", "d")
    spark = edges.sparkSession
    with loop_shuffle_width(spark, verts.count()) as width:
        e = materialize(e.repartition(width, "s"))

        def step(lvl):
            cand = (
                e.join(lvl.select(F.col("id").alias("s"), "level"), "s")
                .groupBy(F.col("d").alias("id"))
                .agg((F.max("level") + 1).alias("_nl"))  # max_plus
            )
            nl = F.greatest(F.col("level"), F.coalesce(F.col("_nl"), F.lit(0)))
            return (
                lvl.select("id", "level").join(cand, "id", "left")
                .select("id", nl.alias("level"),
                        (nl != F.col("level")).alias("_chg"))
            )

        lvl, _ = fixpoint(
            materialize(verts.select("id", F.lit(0).cast("long").alias("level"))),
            step, rounds, changed=F.max("_chg"))
    release(e)
    return lvl.select("id", "level")


@iterative
def landmark_distances(edges: DataFrame, landmarks: list[int],
                       rounds: int) -> DataFrame:
    """Multi-source BFS distance sketch from ``landmarks`` — the classic
    landmark / distance-oracle primitive for web-scale graphs (estimate
    dist(u, v) ≲ min_L dist(u, L) + dist(L, v) without per-pair BFS).

    Exactly ``rounds`` synchronous unit-weight min-plus relaxations with
    the state keyed by (lm, id) — all |L| sources advance in ONE frontier
    relation per round, so the loop costs the same number of shuffles as a
    single-source BFS regardless of |L| (state and shuffle volume scale as
    |L|·V, an explicit, bounded replication — at 10^9 vertices and 16
    landmarks the state is ~16 GB of longs spread over the cluster, not a
    per-source job storm).  Deterministic fixed unroll (min-plus past the
    fixpoint is the identity, so the loop stops early on the round that
    improves no distance), so the result is DuckDB-oracle-checkable.

    Reference semantics: the same lor_land/min_plus frontier expansion as
    ``bfs_levels`` (notebooks/Example B.1), vectorized over sources the way
    ``graphblas`` batches BFS as a Matrix frontier (one row per source).

    Returns (lm, id, dist) for vertices within ``rounds`` hops of each
    landmark; dist[lm, lm] = 0.
    """
    e = (
        edges.select(F.col("i").alias("s"), F.col("j").alias("d"))
        .distinct()
        .cache()
    )

    def step(dist):
        cand = (
            e.join(dist.select("lm", F.col("id").alias("s"), "v"), "s")
            .groupBy("lm", F.col("d").alias("id"))
            .agg(F.min(F.col("v") + 1).alias("_nd"))
        )
        return (
            dist.select("lm", "id", "v").join(cand, ["lm", "id"], "full_outer")
            .select("lm", "id", F.least(F.col("v"), F.col("_nd")).alias("v"),
                    _improved().alias("_chg"))
        )

    dist, _ = fixpoint(
        edges.sparkSession.createDataFrame(
            [(int(lm), int(lm), 0) for lm in landmarks], "lm long, id long, v long"),
        step, rounds, changed=F.max("_chg"))
    release(e)
    return dist.select("lm", "id", F.col("v").alias("dist"))
