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
from graph_python_spark.plans.iterate import materialize, iterative


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
    convergence action (deterministic, used by the oracle-checked query).
    """
    from graph_python_spark.operators.blocks import adjacency_table

    # self-loops dropped: a vertex's own label must not vote for itself
    adj = adjacency_table(mirror(edges).filter(F.col("i") != F.col("j")),
                          "i", "j", partitions)
    if vertices is None:
        vertices = adj.select(F.col("s").alias("id")).distinct()  # s covers all; distinct: hub rows may be chunked
    vertices = vertices.select("id").cache()

    labels = vertices.select(F.col("id").alias("i"), F.col("id").alias("lbl"))
    labels = materialize(labels)
    sweeps = 0
    total = fixed_sweeps if fixed_sweeps is not None else max_sweeps
    for k in range(total):
        # count neighbor labels per vertex (adjacency form: O(V) join probe,
        # O(E) explode inline with the partial agg; one shuffle)
        counts = (
            adj.join(labels.withColumnRenamed("i", "s"), "s")
            .select(F.explode("ds").alias("i"), "lbl")
            .groupBy("i", "lbl")
            .agg(F.count("*").alias("n"))
        )
        # argmax with smallest-label tie-break: min over (-n, lbl) lexicographic
        best = counts.groupBy("i").agg(
            F.min_by(F.col("lbl"), F.struct((-F.col("n")).alias("negn"), F.col("lbl"))).alias("_best")
        )
        new_labels = (
            labels.join(best, "i", "left_outer")
            .select("i", F.coalesce(F.col("_best"), F.col("lbl")).alias("lbl"))
        )
        new_labels = materialize(new_labels)
        sweeps = k + 1
        if fixed_sweeps is None:
            changed = (
                labels.withColumnRenamed("lbl", "_old")
                .join(new_labels, "i")
                .filter(F.col("_old") != F.col("lbl"))
                .limit(1)
                .count()
            )
            labels = new_labels
            if changed == 0:
                break
        else:
            labels = new_labels
    return labels.select(F.col("i").alias("id"), F.col("lbl").alias("label")), sweeps


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
    labels = seed_rel
    for _ in range(rounds):
        counts = (
            adj.join(labels.withColumnRenamed("i", "s"), "s")
            .select(F.explode("ds").alias("i"), "lbl")
            .groupBy("i", "lbl")
            .agg(F.count("*").alias("n"))
        )
        best = counts.groupBy("i").agg(
            F.min_by(F.col("lbl"),
                     F.struct((-F.col("n")).alias("negn"),
                              F.col("lbl"))).alias("lbl"))
        new_labels = seed_rel.unionByName(
            best.join(seed_rel.select("i"), "i", "left_anti"))
        prev, labels = labels, materialize(new_labels)
        if prev is not seed_rel:
            prev.unpersist()
    out = labels.select(F.col("i").alias("id"), "lbl")
    out = out.localCheckpoint(eager=True)
    labels.unpersist()
    seed_rel.unpersist()
    adj.unpersist()
    return out.select("id", F.col("lbl").alias("label"))
