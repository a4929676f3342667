"""Weisfeiler-Lehman vertex fingerprints — iterative neighborhood hashing.

The 1-WL (color refinement) relabeling that underpins graph kernels and
GNN expressiveness tests: every vertex starts from its degree and each
round re-hashes (own label ‖ sorted multiset of neighbor labels).  After r
rounds two vertices share a fingerprint iff their depth-r unfolded
neighborhood trees agree — the standard structural-role feature for
vertex classification / graph dedup at corpus scale.

Scale shape: each round is ONE join of the label vector to the
symmetrized edge list on the neighbor key plus ONE groupBy(vertex)
collecting the neighbor-label list (map-side partials; the list is
sorted array-locally, and its length is the vertex degree — the same
bounded-hub-row caveat as the adjacency cache, see
``operators/blocks.adjacency_table``).  Labels are md5 hex — engine-replayable, so a
fixed-round unroll is expressible in ANSI SQL for the oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graph_python_spark.operators.blocks import symmetric
from graph_python_spark.plans.iterate import fixpoint, materialize, release


def wl_fingerprints(edges: DataFrame, rounds: int = 2) -> DataFrame:
    """(id, label) after ``rounds`` WL refinements over the undirected
    simple graph under ``edges`` (i, j).  Round 0 label = md5(degree).

    Isolated-by-filtering vertices never appear (the vertex set is the
    edge support, as everywhere in this package).
    """
    sym = materialize(symmetric(edges))

    def step(labels):
        nbr = (
            sym.join(labels.select(F.col("id").alias("d"),
                                   F.col("label").alias("_nl")), "d")
            .groupBy(F.col("s").alias("id"))
            .agg(F.array_sort(F.collect_list("_nl")).alias("_nls"))
        )
        return (
            labels.join(nbr, "id")
            .select(
                "id",
                F.md5(F.concat(F.col("label"), F.lit("|"),
                               F.concat_ws(",", F.col("_nls")))).alias("label"),
            )
        )

    labels, _ = fixpoint(
        materialize(
            sym.groupBy(F.col("s").alias("id"))
            .agg(F.count("*").alias("_deg"))
            .select("id", F.md5(F.col("_deg").cast("string")).alias("label"))),
        step, rounds)
    release(sym)
    return labels


def wl_label_histogram(edges: DataFrame, rounds: int = 2) -> DataFrame:
    """Fingerprint → count histogram (the graph-level WL feature vector):
    one extra uniform-key groupBy over :func:`wl_fingerprints`."""
    return (
        wl_fingerprints(edges, rounds=rounds)
        .groupBy("label").agg(F.count("*").cast("long").alias("n_vertices"))
    )
