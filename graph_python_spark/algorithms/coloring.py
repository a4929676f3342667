"""Distance-1 greedy graph coloring — deterministic Jones–Plassmann.

GraphBLAS formulation (same select/mask family as LAGraph MIS, SURVEY
§2.8): each round the vertices whose priority beats every UNCOLORED
neighbor's (mxv min over the uncolored mask + ewise compare) color
themselves with the smallest color absent from their already-colored
neighborhoods (the mex).  Winners of one round form an independent set,
so their mex computations never conflict; two adjacent vertices can
never win the same round, so the coloring is proper.

Deterministic variant: priority(v) = (v * 2654435761) mod 1000000007 —
the same Z_p bijection as ``algorithms/mis.py``, unique for any vertex
universe below p, so rounds are tie-free and the whole run is a pure
function of the graph (fixed-unroll SQL replay: rounds past the fixpoint
see an empty uncolored set and are identity).

Spark shape: the matrix is fixed — the symmetric adjacency, pinned once
— and the state is one vertex frame ``(id, color, _t)``: color is null
while the vertex is uncolored, and ``_t`` is the round number, so the
round's priority salt is computed from a column and the round plan is
the same every round.  A round is one ``fixpoint`` step: the state
joins the adjacency once on its source column, keeping the adjacency's
partitioning, one ``groupBy`` on the other end yields each vertex's
minimum uncolored-neighbor priority and its neighbors' color set, and
that aggregate joins back to the state, where winners take the mex
(``array_except(sequence(0, |set|), set)``, all JVM-side).  The loop
stops on the round that leaves no vertex uncolored, read off the pin.
Every round reads all of the adjacency, not a shrinking residual graph.
Expected rounds: O(log n) for hash priorities (Jones & Plassmann 1993).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from graph_python_spark.algorithms.mis import PRIO_MOD, PRIO_MULT
from graph_python_spark.operators.blocks import symmetric
from graph_python_spark.plans.iterate import (fixpoint, iterative,
                                              loop_shuffle_width, materialize,
                                              release)

ROUND_SALT = 777767777


def round_prio(col: Column, t: Column) -> Column:
    """Fresh priority each round: ((v + t*SALT) * MULT) mod P — a bijection
    on Z_p in v for every round t (unique priorities, no ties), but
    uncorrelated across rounds, which breaks the long monotone-priority
    chains that make fixed-priority Jones–Plassmann need O(chain) rounds:
    with per-round re-salting the expected round count is O(log n)
    (Luby-style analysis), measured 47 -> ~12 on the sf0.01 fixture.
    The round salt is reduced mod P first and the pre-multiply ``mod P``
    keeps every engine-side intermediate below 2^62 (int64 bounds hold
    identically in Spark and DuckDB)."""
    salt = (t * F.lit(ROUND_SALT)) % F.lit(PRIO_MOD)
    return (((col + salt) % F.lit(PRIO_MOD))
            * F.lit(PRIO_MULT)) % F.lit(PRIO_MOD)


@iterative
def greedy_coloring(
    edges: DataFrame,
    max_rounds: int = 60,
    partitions: Optional[int] = None,
) -> tuple[DataFrame, int]:
    """Deterministic Jones–Plassmann coloring of the undirected simple
    graph under ``edges`` (long columns i, j; direction/duplicates
    ignored, self-loops dropped).

    Returns ``(colors(id, color), rounds)``: a proper coloring (adjacent
    vertices never share a color; colors are dense small ints starting at
    0) and the number of rounds run, the last being the one that colored
    the last vertices (no extra round checks that none is left).  The
    colors are a projection of the last pinned round; every other round's
    state is freed.
    """
    spark = edges.sparkSession
    adj = materialize(symmetric(edges, partitions=partitions))
    n_edges = adj.count()

    def step(state: DataFrame) -> DataFrame:
        # the adjacency is symmetric: join the state on s, which keeps
        # the adjacency's hash(s) partitioning, and reduce per d
        nbr = (
            adj.join(state.select(F.col("id").alias("s"), "color", "_t"), "s")
            .groupBy(F.col("d").alias("id"))
            .agg(
                # min over uncolored neighbors; none left -> null -> a win
                F.min(F.when(F.col("color").isNull(),
                             round_prio(F.col("s"), F.col("_t")))).alias("_m"),
                F.collect_set("color").alias("_cs"),
            )
        )
        wins = (F.col("color").isNull()
                & (F.col("_m").isNull()
                   | (round_prio(F.col("id"), F.col("_t")) < F.col("_m"))))
        mex = F.array_min(F.array_except(
            F.sequence(F.lit(0).cast("long"), F.size("_cs").cast("long")),
            F.col("_cs")))
        # every vertex of the state has a neighbor, so an inner join
        # keeps them all
        return (
            state.join(nbr, "id")
            .select("id",
                    F.when(wins, mex).otherwise(F.col("color")).alias("color"),
                    (F.col("_t") + 1).alias("_t"))
        )

    start = adj.select(F.col("s").alias("id")).distinct().select(
        "id", F.lit(None).cast("long").alias("color"),
        F.lit(1).cast("long").alias("_t"))
    with loop_shuffle_width(spark, max(n_edges, 1)):
        state, rounds = fixpoint(start, step, max_rounds,
                                 changed=F.max(F.col("color").isNull()))
    release(adj)
    return state.filter(F.col("color").isNotNull()).select("id", "color"), rounds
