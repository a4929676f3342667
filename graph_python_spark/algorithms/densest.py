"""Densest-subgraph approximation — Bahmani, Kumar, Vassilvitskii,
"Densest Subgraph in Streaming and MapReduce" (PVLDB 2012).

Greedy parallel peeling: repeat — compute the current density
ρ = |E|/|V|, delete EVERY vertex whose degree ≤ (1+ε)·2ρ, remember the
round with the best density — for O(log_{1+ε} V) rounds; the best round's
subgraph is a 2(1+ε)-approximation of the densest subgraph.  This is the
canonical MapReduce formulation: each round is one degree aggregation +
one semi-join, so the whole run is a handful of O(E) shuffles (unlike
exact Goldberg flow, which does not distribute).

Engine-parity contract: the peel condition is evaluated in INTEGER
arithmetic — with ε = p/q, a vertex is peeled iff
``deg · V · q ≤ 2E · (p + q)`` — so there is no float threshold to
disagree across engines, and the DuckDB oracle unrolls the identical
rounds.  Reference note: python-graphblas has no densest-subgraph
routine; the nearest surface is the degree reductions its notebooks
build peeling on (reference graphblas/core/matrix.py reduce_rowwise),
which this loop iterates.

Scale shape: the vertex state only shrinks; each round is (1) a degree
groupBy on the live symmetric relation, (2) two 1-row count folds
broadcast into the predicate, (3) a semi-join shrinking the edge state.
The symmetric relation (``operators/blocks.symmetric``) comes out of its
one dedupe shuffle partitioned on its join key, and the per-round
exchanges ride on it (the PageRank adjacency pattern).
"""

from __future__ import annotations

from fractions import Fraction
from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graph_python_spark.operators.blocks import symmetric
from graph_python_spark.plans.iterate import (iterative, loop_shuffle_width,
                                              materialize, release)


@iterative
def densest_subgraph(
    edges: DataFrame,
    epsilon: Fraction = Fraction(1, 2),
    max_rounds: int = 16,
    partitions: Optional[int] = None,
) -> tuple[DataFrame, DataFrame]:
    """Peel the undirected graph under ``edges`` (i, j; direction and
    duplicates ignored, self-loops dropped) and return
    ``(summary, members)``:

    * ``summary`` — one row per executed round:
      (round, n_vertices, n_edges, density, is_best) with density =
      round(E/V, 6) BEFORE that round's peel and is_best = 1 on the
      best-density round (earliest wins ties).
    * ``members`` — (id,) vertex set of the best round's subgraph, the
      2(1+ε)-approximate densest subgraph itself.

    ``epsilon`` must be a :class:`fractions.Fraction` so the peel
    predicate stays integer-exact (see module docstring).
    """
    eps = Fraction(epsilon)
    p, q = eps.numerator, eps.denominator
    if p < 0 or q <= 0:
        raise ValueError("epsilon must be a non-negative Fraction")

    spark = edges.sparkSession
    n0 = symmetric(edges).select("s").distinct().count()

    with loop_shuffle_width(spark, max(n0, 1)) as width:
        live = materialize(symmetric(edges, partitions=partitions or width))
        rounds_rows = []
        best = None          # (round, density_fraction, state)
        peeled_dry = False   # loop reached the empty graph (true fixpoint)
        for r in range(max_rounds):
            counts = live.agg(
                (F.count(F.lit(1)) / 2).cast("long").alias("_e"),
                F.count_distinct("s").alias("_v")).first()
            n_e, n_v = int(counts["_e"]), int(counts["_v"])
            if n_v == 0:
                peeled_dry = True
                break
            rounds_rows.append((r, n_v, n_e, round(n_e / n_v, 6)))
            # exact-rational best comparison; keep at most ONE snapshot
            # alive beyond the loop state (earliest round wins ties)
            if best is None or Fraction(n_e, n_v) > best[1]:
                if best is not None and best[2] is not live:
                    release(best[2])
                best = (r, Fraction(n_e, n_v), live)
            # peel: deg·V·q <= 2E·(p+q), all 64-bit integers
            deg = live.groupBy("s").agg(F.count(F.lit(1)).alias("_deg"))
            keep = deg.filter(
                F.col("_deg") * F.lit(n_v) * F.lit(q)
                > F.lit(2 * n_e) * F.lit(p + q)).select("s")
            new_live = materialize(
                live.join(keep, "s", "left_semi")
                .join(keep.withColumnRenamed("s", "d"), "d", "left_semi")
                .repartition(partitions or width, "s"))
            if live is not best[2]:
                release(live)
            live = new_live

        if not peeled_dry:
            # the loop can exhaust max_rounds on the very peel that
            # emptied the graph — that IS a complete run, so re-check
            # the live state before claiming truncation
            peeled_dry = live.limit(1).count() == 0
        if not peeled_dry:
            # ε = 0 needs O(V) rounds, not O(log V): an exhausted
            # max_rounds means the 2(1+ε) guarantee only covers the
            # rounds actually executed — surface it, don't truncate
            # silently (the summary/best-round schema is unchanged)
            import warnings
            warnings.warn(
                f"densest_subgraph stopped after max_rounds={max_rounds} "
                f"with live edges remaining (epsilon={eps}); the returned "
                "best round is the best of the executed rounds only — "
                "raise max_rounds or use epsilon > 0 for O(log V) rounds",
                RuntimeWarning, stacklevel=2)
        best_r = best[0] if best else 0
        summary = spark.createDataFrame(
            [(r, v, e, d, 1 if r == best_r else 0)
             for (r, v, e, d) in rounds_rows],
            "round long, n_vertices long, n_edges long, "
            "density double, is_best long")
        if best is not None:
            members = best[2].select(F.col("s").alias("id")).distinct() \
                .localCheckpoint(eager=True)
            release(best[2])
        else:
            members = spark.createDataFrame([], "id long")
        release(live)
    return summary, members
