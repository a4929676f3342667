"""Maximal independent set — deterministic Luby rounds.

GraphBLAS formulation (LAGraph MIS; SURVEY §2.8's select/mask family):
each round a vertex joins the set iff its priority beats every active
neighbor's (mxv with the min_second semiring + ewise compare), then the
winners and their neighborhoods leave the active set.  Deterministic
variant: priority(v) = (v * 2654435761) mod 1000000007 — multiplication
by a unit is a bijection on Z_p, so priorities are UNIQUE for any vertex
universe below p and no tie-break is needed; the result is a pure
function of the graph (which is what lets a fixed-unroll SQL oracle
replay it exactly — rounds past the fixpoint see an empty active set and
are identity).

Spark shape: the iterated state is (active vertices, surviving edges
among them), both only ever SHRINKING.  The per-round neighbor-minimum is
one exchange-free aggregate over the edge state (partitioned once on s);
winners + their neighborhoods are removed with the same small-delta
plumbing as k-core (InSet filter for small deltas, broadcast anti-join
otherwise).  Expected rounds: O(log n) (Luby).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graph_python_spark.operators.blocks import symmetric
from graph_python_spark.plans.iterate import (iterative, loop_shuffle_width,
                                              materialize, release)

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
    selected vertices are adjacent) and the number of rounds executed
    (including the final round that empties the active set).
    """
    cur = materialize(symmetric(edges, partitions=partitions))
    n_edges = cur.count()
    spark = edges.sparkSession
    # vertices with no surviving neighbor are auto-selected, so the active
    # vertex set is implicit in the edge state plus this isolated pool
    isolated_mis: list[DataFrame] = []
    mis_parts: list[DataFrame] = []
    inset_cap = 50_000

    rounds = 0
    with loop_shuffle_width(spark, max(n_edges, 1)):
        for _ in range(max_rounds):
            rounds += 1
            if cur.isEmpty():
                break
            # winners: prio(s) below the minimum neighbor priority
            nbr_min = cur.groupBy("s").agg(F.min(prio(F.col("d"))).alias("_m"))
            winners = materialize(
                nbr_min.filter(prio(F.col("s")) < F.col("_m")).select("s")
            )
            mis_parts.append(winners)
            # remove winners + their whole neighborhoods from the edge state
            nbrs = (
                cur.join(winners, "s").select(F.col("d").alias("s")).distinct()
            )
            gone = materialize(winners.unionByName(nbrs).distinct())
            probe = gone.limit(inset_cap + 1).collect()
            if len(probe) <= inset_cap:
                ids = [r[0] for r in probe]
                nxt = cur.filter(~F.col("s").isin(ids)
                                 & ~F.col("d").isin(ids))
            else:
                rm_s, rm_d = gone, gone.withColumnRenamed("s", "d")
                nxt = (cur.join(rm_s, "s", "left_anti")
                       .join(rm_d, "d", "left_anti"))
            # vertices whose every neighbor vanished without being removed
            # themselves become isolated -> auto-selected next round; fold
            # that into THIS state by keeping them as the remaining actives
            survivors_before = cur.select("s").distinct() \
                .join(gone, "s", "left_anti")
            nxt = materialize(nxt)
            still_connected = nxt.select("s").distinct()
            isolated = materialize(
                survivors_before.join(still_connected, "s", "left_anti"))
            isolated_mis.append(isolated)
            release(cur, gone)
            cur = nxt

    out = None
    for part in mis_parts + isolated_mis:
        out = part if out is None else out.unionByName(part)
    if out is None:
        release(cur)
        return spark.createDataFrame([], "id long"), rounds
    out = materialize(out.select(F.col("s").alias("id")).distinct())
    # the union is pinned; release the per-round winner/isolated blocks
    release(*mis_parts, *isolated_mis, cur)
    return out, rounds
