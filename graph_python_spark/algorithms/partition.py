"""Balanced label-propagation graph partitioning — the Spinner family
(Martella, Logothetis, Loukas, Siganos: "Spinner: Scalable Graph
Partitioning in the Cloud", ICDE 2017), made deterministic.

Why this operator exists in a link-graph engine: every iterative
algorithm here pays one edge ⋈ state shuffle per round, and that
shuffle's volume is governed by how many edges CROSS partition
boundaries.  A locality-aware k-way assignment (this op) is the
preprocessing step that turns a random vertex→executor mapping into a
community-aligned one — the same motivation as ``degree_relabel``'s
cache locality, lifted to the partition level.

Algorithm (synchronous, deterministic variant of Spinner's LPA):

  part₀(v) = v mod k                      (deterministic seed layout)
  each round:
    1. score(v, p) = cnt(v, p)·V − load(p) for every candidate part p
       among v's neighbors' parts plus its own (cnt from the previous
       round's state, load = previous part sizes, V = vertex count —
       all-integer, so no float threshold to disagree across engines);
       desired(v) = argmax with (score desc, p asc) tie-break.
    2. CAPACITY QUOTA (Spinner's migration cap, made deterministic):
       within each desired part, rank applicants by
       (score desc, id asc); the top ``capacity`` get the part, everyone
       else KEEPS their current part.  capacity = 21V/(20k) + 1 — 5%
       slack over perfect balance.  Without this quota, pure LPA
       collapses every connected graph into one label; with it, no part
       can exceed capacity through migration, so balance is structural,
       not a soft penalty.

  All moves are synchronous, so the result is a pure function of the
  input and the DuckDB oracle unrolls the identical rounds.

Scale shape: each round is ONE edge ⋈ state shuffle (the PageRank
adjacency pattern — the symmetric edge relation is pinned hash-partitioned
on its join key) + a (v, part) partial-agg count + a k-row load relation
broadcast into the scoring expression + one window PARTITIONED BY part
over the thin (id, part, score) applicant relation for the quota rank
(k-way parallel; a part everyone applies to sorts ~V thin rows — the
external-sort path, never a memory blowup).  State is one (id, part) row
per vertex.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from graph_python_spark.operators.blocks import symmetric, undirected
from graph_python_spark.plans.iterate import (fixpoint, iterative,
                                              loop_shuffle_width, materialize,
                                              release)


@iterative
def partition_assign(
    edges: DataFrame,
    k: int = 8,
    rounds: int = 4,
    partitions: Optional[int] = None,
) -> DataFrame:
    """k-way balanced LPA partitioning of the undirected graph under
    ``edges`` (i, j; direction/duplicates ignored, self-loops dropped).
    Returns (id, part) for every vertex with at least one real edge: the
    last pinned round itself.
    """
    if k <= 0:
        raise ValueError("k must be positive")
    both = symmetric(edges)
    verts = both.select(F.col("s").alias("id")).distinct()
    n_verts = verts.count()

    cap = (21 * n_verts) // (20 * k) + 1
    with loop_shuffle_width(edges.sparkSession, max(n_verts, 1)) as width:
        e = materialize(both.repartition(partitions or width, "d"))

        def step(state):
            loads = state.groupBy("part").agg(
                F.count(F.lit(1)).alias("_load"))
            # neighbor-part counts: edges keyed by d join the state of d,
            # grouped per (source, part) — one exchange, pinned edge side
            cnt = (
                e.join(state.select(F.col("id").alias("d"), "part"), "d")
                .groupBy(F.col("s").alias("id"), "part")
                .agg(F.count(F.lit(1)).alias("_cnt"))
            )
            cand = (
                cnt.unionByName(
                    state.select("id", "part",
                                 F.lit(0).cast("long").alias("_cnt")))
                .groupBy("id", "part").agg(F.max("_cnt").alias("_cnt"))
                .join(F.broadcast(loads), "part", "left")
                .select("id", "part",
                        (F.col("_cnt") * F.lit(n_verts)
                         - F.coalesce(F.col("_load"), F.lit(0)))
                        .alias("_score"))
            )
            w = Window.partitionBy("id").orderBy(F.col("_score").desc(),
                                                 F.col("part").asc())
            desired = (cand.withColumn("_rn", F.row_number().over(w))
                       .filter(F.col("_rn") == 1)
                       .select("id", "part", "_score"))
            wq = Window.partitionBy("part").orderBy(F.col("_score").desc(),
                                                    F.col("id").asc())
            winners = (desired.withColumn("_qr", F.row_number().over(wq))
                       .filter(F.col("_qr") <= cap)
                       .select("id", F.col("part").alias("_np")))
            return (
                state.join(winners, "id", "left")
                .select("id", F.coalesce("_np", F.col("part")).alias("part"))
            )

        state, _ = fixpoint(
            materialize(verts.select(
                "id", (F.col("id") % k).cast("long").alias("part"))),
            step, rounds)
    release(e)
    return state


def partition_quality(edges: DataFrame, assign: DataFrame) -> DataFrame:
    """Report the assignment's quality: one row per part with
    (part, n_vertices, internal_edges, cut_edges) over the undirected
    distinct edge set — cut_edges counts each crossing edge under BOTH
    endpoint parts (so Σ cut = 2 × crossing edges).  One vertex-key join
    per endpoint + one part-key aggregate."""
    sym = undirected(edges)
    pa = assign.select(F.col("id").alias("a"), F.col("part").alias("_pa"))
    pb = assign.select(F.col("id").alias("b"), F.col("part").alias("_pb"))
    tagged = sym.join(pa, "a").join(pb, "b")
    internal = (
        tagged.filter(F.col("_pa") == F.col("_pb"))
        .groupBy(F.col("_pa").alias("part"))
        .agg(F.count(F.lit(1)).alias("internal_edges"))
    )
    cut = (
        tagged.filter(F.col("_pa") != F.col("_pb"))
        .select(F.col("_pa").alias("part"))
        .unionByName(tagged.filter(F.col("_pa") != F.col("_pb"))
                     .select(F.col("_pb").alias("part")))
        .groupBy("part").agg(F.count(F.lit(1)).alias("cut_edges"))
    )
    sizes = assign.groupBy("part").agg(F.count(F.lit(1)).alias("n_vertices"))
    return (
        sizes.join(internal, "part", "left").join(cut, "part", "left")
        .select("part", "n_vertices",
                F.coalesce("internal_edges", F.lit(0)).cast("long")
                .alias("internal_edges"),
                F.coalesce("cut_edges", F.lit(0)).cast("long")
                .alias("cut_edges"))
    )
