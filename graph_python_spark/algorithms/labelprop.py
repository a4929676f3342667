"""Label propagation — synchronous argmax-over-neighbor-labels iteration.

Not present in the reference library; defined by BASELINE.json's north star
as "argmax-over-neighbors semiring iteration" with deterministic tie-break
(smallest label wins — BASELINE.md).  The per-sweep kernel is the
``max_second``-flavored SpMV generalized to (count, label) pairs:

    counts[v, l] = |{u ~ v : label[u] = l}|          groupBy(dst, label)
    label'[v]    = argmax_l counts with min-l ties   min_by over struct

Both steps are single-shuffle groupBys with map-side combine; labels are the
only state that moves between iterations.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graph_python_spark.operators.blocks import mirror
from graph_python_spark.plans.iterate import (fixpoint, iterative, materialize,
                                              release)


@iterative
def label_propagation(
    edges: DataFrame,
    vertices: Optional[DataFrame] = None,
    max_sweeps: int = 100,
    partitions: Optional[int] = None,
    fixed_sweeps: Optional[int] = None,
) -> tuple[DataFrame, int]:
    """Returns (labels(id, label), sweeps).

    ``fixed_sweeps``: run exactly that many synchronous sweeps with no
    convergence test (deterministic, used by the oracle-checked query).
    Otherwise sweeps run until one changes no label, read from a flag in
    the pinned sweep.  The adjacency and vertex caches are freed after
    the loop; the result reads only the last pinned labels.
    """
    from graph_python_spark.operators.blocks import adjacency_table

    # self-loops dropped: a vertex's own label must not vote for itself
    adj = adjacency_table(mirror(edges).filter(F.col("i") != F.col("j")),
                          "i", "j", partitions)
    if vertices is None:
        vertices = adj.select(F.col("s").alias("id")).distinct()  # s covers all; distinct: hub rows may be chunked
    vertices = vertices.select("id").cache()

    def step(labels):
        best = _best_labels(adj, labels)
        # _chg rides along in the pinned sweep, so the driver reads
        # convergence off the pin itself, in the same job
        return (
            labels.join(best, "i", "left_outer")
            .select("i", F.coalesce(F.col("_best"), F.col("lbl")).alias("lbl"),
                    (F.col("_best").isNotNull()
                     & (F.col("_best") != F.col("lbl"))).alias("_chg"))
        )

    labels = materialize(
        vertices.select(F.col("id").alias("i"), F.col("id").alias("lbl")))
    if fixed_sweeps is None:
        labels, sweeps = fixpoint(labels, step, max_sweeps,
                                  changed=F.max("_chg"))
    else:
        labels, sweeps = fixpoint(labels, step, fixed_sweeps)
    release(adj, vertices)
    return labels.select(F.col("i").alias("id"), F.col("lbl").alias("label")), sweeps


def _best_labels(adj: DataFrame, labels: DataFrame) -> DataFrame:
    """(i, _best): each vertex's most frequent neighbor label, smallest
    label on ties.  Counts neighbor labels per vertex in the adjacency
    form (O(V) join probe, O(E) explode inline with the partial agg; one
    shuffle), then takes the argmax as the min over (-n, lbl)."""
    counts = (
        adj.join(labels.select(F.col("i").alias("s"), "lbl"), "s")
        .select(F.explode("ds").alias("i"), "lbl")
        .groupBy("i", "lbl")
        .agg(F.count("*").alias("n"))
    )
    return counts.groupBy("i").agg(
        F.min_by(F.col("lbl"),
                 F.struct((-F.col("n")).alias("negn"), F.col("lbl"))).alias("_best"))


def seeded_label_propagation(
    edges: DataFrame,
    seeds: DataFrame,
    rounds: int = 4,
    partitions: Optional[int] = None,
) -> DataFrame:
    """Semi-supervised label spreading: ``seeds`` (id, label) are CLAMPED
    and every other vertex takes, each synchronous round, the argmax label
    over its currently-labeled neighbors (smallest label on ties — the
    same deterministic kernel as the unsupervised sweep above, so a
    fixed-round SQL unroll oracles it).  Vertices unreached within
    ``rounds`` are absent from the output (no NULL labels).

    Plan per round: the labeled vector joins the cached adjacency
    exchange-free on the adjacency side, the O(E) fan-out explodes inline
    with the (vertex, label) partial agg, and the clamp is one
    anti-join-free union (seeds override by construction: the candidate
    relation is computed for non-seeds only after a left anti join).
    State is O(labeled vertices) and only grows toward O(V).
    """
    from graph_python_spark.operators.blocks import adjacency_table

    adj = adjacency_table(mirror(edges).filter(F.col("i") != F.col("j")),
                          "i", "j", partitions)
    seed_rel = materialize(
        seeds.select(F.col("id").alias("i"), F.col("label").alias("lbl")))

    def step(labels):
        best = _best_labels(adj, labels).withColumnRenamed("_best", "lbl")
        return seed_rel.unionByName(
            best.join(seed_rel.select("i"), "i", "left_anti"))

    # the driver releases the state it is given: start from a projection
    # of seed_rel, which every round still reads
    labels, _ = fixpoint(seed_rel.select("i", "lbl"), step, rounds)
    release(adj)
    if rounds:
        release(seed_rel)
    return labels.select(F.col("i").alias("id"), F.col("lbl").alias("label"))
