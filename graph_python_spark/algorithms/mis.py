"""Maximal independent set — deterministic Luby rounds.

GraphBLAS formulation (LAGraph MIS; SURVEY §2.8's select/mask family):
each round a vertex joins the set iff its priority beats every active
neighbor's (mxv with the min_second semiring + ewise compare), and the
neighbors of the set leave the active set.  Deterministic variant:
priority(v) = (v * 2654435761) mod 1000000007 — multiplication by a
unit is a bijection on Z_p, so priorities are UNIQUE for any vertex
universe below p and no tie-break is needed.  The result is the
lexicographically-first MIS in priority order (a vertex joins iff no
lower-priority neighbor does), a pure function of the graph whatever the
round schedule — which is what lets a fixed-unroll SQL oracle replay it
exactly (rounds past the fixpoint see an empty active set and are
identity).

Spark shape: the matrix is fixed — the symmetric adjacency, pinned once
— and the state is one vertex frame ``(id, st)`` with st = 0 active,
1 in the set, 2 removed.  A round is one ``fixpoint`` step: the state
joins the adjacency once on its source column, keeping the adjacency's
partitioning, one ``groupBy`` on the other end yields each vertex's
minimum active-neighbor priority and whether a neighbor is in the set,
and that aggregate joins back to the state.  An active vertex with a
neighbor in the set is removed; otherwise it joins the set
if it beats every active neighbor (none left counts as a win).  A
winner's neighbors therefore retire one round after it wins, while the
next winners are picked.  The loop stops on the round that leaves no
vertex active, read off the pin.  Expected rounds: O(log n) (Luby).
"""

from __future__ import annotations

import warnings
from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graph_python_spark.operators.blocks import symmetric
from graph_python_spark.plans.iterate import (fixpoint, iterative,
                                              loop_shuffle_width, materialize,
                                              release)

PRIO_MULT = 2654435761
PRIO_MOD = 1000000007


def prio(col):
    return (col * F.lit(PRIO_MULT)) % F.lit(PRIO_MOD)


@iterative
def maximal_independent_set(
    edges: DataFrame,
    max_rounds: int = 30,
    partitions: Optional[int] = None,
) -> tuple[DataFrame, int]:
    """Deterministic-Luby MIS over the undirected simple graph under
    ``edges`` (long columns i, j; direction/duplicates ignored).

    Returns ``(mis(id), rounds)``: the selected vertices (every vertex of
    the graph is either selected or adjacent to a selected one, no two
    selected vertices are adjacent) and the number of rounds run, the
    last being the one that left no vertex active (no extra round checks
    that none is left).  A round both picks winners and retires the
    previous round's winners' neighbors, so the winners of Luby rounds
    1..L are all in the set after 2L rounds, and a run takes up to 2L + 1
    rounds.  ``max_rounds`` bounds the Luby rounds: the loop runs at most
    ``2 * max_rounds`` rounds, and a graph that needs more Luby rounds
    gets an independent set that need not be maximal, with a
    ``RuntimeWarning``.
    """
    spark = edges.sparkSession
    adj = materialize(symmetric(edges, partitions=partitions))
    n_edges = adj.count()

    def step(state: DataFrame) -> DataFrame:
        # the adjacency is symmetric: join the state on s, which keeps
        # the adjacency's hash(s) partitioning, and reduce per d (hashing
        # the state side: its size estimate grows every round)
        nbr = (
            adj.join(state.select(F.col("id").alias("s"),
                                  F.col("st").alias("_ss"))
                     .hint("shuffle_hash"), "s")
            .groupBy(F.col("d").alias("id"))
            .agg(F.min(F.when(F.col("_ss") == 0,
                              prio(F.col("s")))).alias("_m"),
                 F.max(F.col("_ss") == 1).alias("_in"))
        )
        st = (
            F.when(F.col("st") != 0, F.col("st"))
            .when(F.col("_in"), F.lit(2))
            .when(F.col("_m").isNull() | (prio(F.col("id")) < F.col("_m")),
                  F.lit(1))
            .otherwise(F.lit(0))
        )
        # every vertex of the state has a neighbor, so an inner join
        # keeps them all
        return (state.join(nbr, "id")
                .select("id", st.cast("int").alias("st")))

    start = adj.select(F.col("s").alias("id")).distinct().select(
        "id", F.lit(0).alias("st"))
    with loop_shuffle_width(spark, max(n_edges, 1)):
        state, rounds = fixpoint(start, step, 2 * max_rounds,
                                 changed=F.max(F.col("st") == 0))
    release(adj)
    # a run cut at the cap may have left vertices active; only then is
    # the state probed
    if (rounds == 2 * max_rounds
            and not state.filter(F.col("st") == 0).isEmpty()):
        warnings.warn(
            f"maximal_independent_set stopped after max_rounds={max_rounds} "
            "Luby rounds with vertices still active; the returned set is "
            "independent but need not be maximal — raise max_rounds",
            RuntimeWarning, stacklevel=3)
    return state.filter(F.col("st") == 1).select("id"), rounds
