"""Louvain community detection — synchronous modularity-greedy sweeps.

Reference: ``/root/reference/notebooks/Louvain.ipynb`` (AdjMatrix.
optimize_communities / louvain_levels / compute_modularity).  The reference
moves one node at a time (sequential greedy); that order-dependence cannot
be distributed, so this engine runs the standard SYNCHRONOUS variant: every
vertex evaluates the modularity gain of joining each neighboring community
against the CURRENT labeling and all vertices move simultaneously
(argmax ΔQ, ties to the smallest community id — fully deterministic, so a
fixed-sweep run is reproducible in any engine, including the DuckDB
correctness oracle).

Per sweep (one groupBy + three joins — all on vertex/community keys):

    k_v        = weighted degree                     (loop-invariant)
    Σ_tot(c)   = Σ_{v∈c} k_v                          groupBy(label)
    k_{v,c}    = Σ weight from v to community c       edges ⋈ labels, groupBy
                 (the own community c_v is ALWAYS a candidate, k_{v,c_v}
                 defaulting to 0 — staying must be able to win, otherwise a
                 vertex alone in its community is forced into a neighbor
                 community even at negative gain)
    score(v,c) = k_{v,c} − k_v·(Σ_tot(c) − [c=c_v]·k_v)/m2
    c'(v)      = argmax_c score  (max_by over (score, −c))

where m2 = Σ_v k_v (both edge directions counted).  The score is the
standard ΔQ·m2 up to the constant k_v²-terms common to all candidates, so
the argmax matches the textbook greedy.  ``modularity`` mirrors the
reference's compute_modularity: Q = Σ_c [Σ_in(c)/m2 − (Σ_tot(c)/m2)²].

At 100 TB scale each sweep shuffles O(E) once (the k_{v,c} groupBy) plus
two O(V) aggregations; labels are the only moving state and the sweep
count is fixed — same plan family as label propagation.
``louvain_levels`` adds the reference's multi-level contraction: collapse
each community to a vertex (one groupBy on (c_i, c_j)) and re-run sweeps
on the coarsened graph.  A community's internal weight becomes its
super-vertex's self-loop, which contributes to degrees and m2 (but not to
any k_{v,c}) — the invariant that makes coarsened optimization equivalent
to optimizing the original graph under the community constraint
(tests/test_louvain.py ring-of-cliques).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from typing import Optional

from graph_python_spark.operators.blocks import mirror, vertex_ids
from graph_python_spark.plans.iterate import (IterationState, iterative,
                                              loop_shuffle_width, materialize)


def _symmetrize(edges: DataFrame) -> DataFrame:
    """Undirected weighted edge relation: both directions (``mirror``),
    weights summed over duplicates.  A self-loop row (i, i, w) comes out
    as (i, i, 2w) — the mirror adds the reversed copy onto itself — which
    is exactly the doubled-directed convention's diagonal: it contributes
    2w to the vertex degree and 2w to m2, the invariants that make
    community contraction (where a community's internal weight becomes a
    super-vertex's self-loop) equivalent to optimizing the original graph
    under the community constraint."""
    e = edges.select(F.col("i"), F.col("j"),
                     F.col("v").cast("double").alias("w"))
    return mirror(e).groupBy("i", "j").agg(F.sum("w").alias("w"))


@iterative
def louvain_sweeps(edges: DataFrame, sweeps: int = 4,
                   checkpoint: Optional[IterationState] = None) -> DataFrame:
    """Fixed-sweep synchronous Louvain; returns (id, community).

    ``edges``: (i, j, v) — interpreted as undirected (symmetrized, weights
    summed).  Deterministic: argmax ties break to the smallest community.
    ``checkpoint``: optional durable IterationState — labels + sweep index
    are saved per sweep and a killed run resumes at the next sweep with
    identical results (the parity alternation keys off the ABSOLUTE sweep
    number, which the manifest preserves).
    """
    # degrees and m2 come from the self-loop-KEEPING relation (diagonal =
    # 2x self weight — the contraction invariant); k_{v,c} uses only the
    # off-diagonal rows (links from v to OTHER members of c).  On a
    # self-loop-free input graph the two relations coincide.
    sym_all = _symmetrize(edges).cache()
    sym = sym_all.filter(F.col("i") != F.col("j"))
    k = sym_all.groupBy("i").agg(F.sum("w").alias("k")).cache()
    m2 = sym_all.agg(F.sum("w")).first()[0]
    # the loop state carries k_v alongside the label: sigma and the scored
    # join then need NO per-sweep join against the degree relation (two
    # fewer shuffles per sweep at any scale; k is loop-invariant data
    # riding in an already-moving O(V) row)
    labels = k.select("i", F.col("i").alias("c"), "k")

    start = 0
    if checkpoint is not None:
        restored = checkpoint.restore()
        if restored is not None:
            start, states, _ = restored
            labels = states["labels"]

    with loop_shuffle_width(edges.sparkSession, k.count()):
        labels = _sweep_loop(sym, m2, labels, sweeps,
                             start=start, checkpoint=checkpoint)
    return labels.select(F.col("i").alias("id"), F.col("c").alias("community"))


def _sweep_loop(sym, m2, labels, sweeps, start=0, checkpoint=None):
    for sweep in range(start, sweeps):
        sigma = labels.groupBy("c").agg(F.sum("k").alias("sig"))
        nbr_lab = labels.select(F.col("i").alias("j"), F.col("c").alias("cn"))
        # the own-community candidate must ALWAYS be present (k_{v,c_v}
        # defaults to 0 when v has no links into its own community) —
        # otherwise a vertex alone in its community is forced into its
        # best neighbor community even at NEGATIVE gain, which collapses
        # contracted graphs (every super-vertex starts alone): staying,
        # score = -k_v(sig - k_v)/m2 relative baseline, must be able to win.
        # The O(V) stay rows ride into the same O(E) groupBy — no extra
        # shuffle stage.
        stay = labels.select("i", F.col("c").alias("cn"),
                             F.lit(0.0).alias("w"))
        kvc = (
            sym.join(nbr_lab, "j").select("i", "cn", "w")
            .unionByName(stay)
            .groupBy("i", "cn").agg(F.sum("w").alias("kvc"))
        )
        cur = labels.select("i", F.col("c").alias("cv"), "k")
        scored = (
            kvc.join(cur, "i")
            .join(sigma.select(F.col("c").alias("cn"), "sig"), "cn")
            .select(
                "i", "cn",
                (F.col("kvc")
                 - F.col("k") * (F.col("sig")
                                 - F.when(F.col("cn") == F.col("cv"), F.col("k"))
                                 .otherwise(F.lit(0.0))) / F.lit(m2)
                 ).alias("score"),
            )
        )
        # parity alternation: even sweeps move even vertices, odd sweeps odd
        # ones — the standard parallel-Louvain symmetry breaker (without it,
        # two vertices that each prefer the other's community swap labels
        # forever in a 2-cycle); deterministic and oracle-replicable
        best = (
            scored.filter(F.pmod(F.col("i"), F.lit(2)) == sweep % 2)
            .groupBy("i").agg(
                F.max_by(F.col("cn"), F.struct(F.col("score"), -F.col("cn"))).alias("c")
            )
        )
        # vertices off-parity or isolated keep their label
        labels = materialize(
            labels.select("i", F.col("c").alias("_old"), "k")
            .join(best, "i", "left_outer")
            .select("i", F.coalesce(F.col("c"), F.col("_old")).alias("c"), "k")
        )
        if checkpoint is not None:
            checkpoint.save(sweep + 1, {"labels": labels}, {"sweep": sweep + 1})
    return labels


def modularity(edges: DataFrame, labels: DataFrame) -> float:
    """Q = Σ_c [Σ_in(c)/m2 − (Σ_tot(c)/m2)²] — the reference's
    compute_modularity on an explicit labeling (labels: (id, community))."""
    sym = _symmetrize(edges)
    m2 = sym.agg(F.sum("w")).first()[0]
    lab = labels.select(F.col("id").alias("i"), F.col("community").alias("c"))
    k = sym.groupBy("i").agg(F.sum("w").alias("k"))
    sig = lab.join(k, "i").groupBy("c").agg(F.sum("k").alias("sig"))
    inside = (
        sym.join(lab, "i")
        .join(lab.select(F.col("i").alias("j"), F.col("c").alias("cj")), "j")
        .filter(F.col("c") == F.col("cj"))
        .agg(F.sum("w")).first()[0]
    ) or 0.0
    tot = sig.agg(F.sum(F.pow(F.col("sig") / F.lit(m2), 2))).first()[0] or 0.0
    return inside / m2 - tot


@dataclass
class LouvainLevel:
    """One contraction level (mirrors the notebook's LouvainResult)."""

    labels: DataFrame      # (id, community) in ORIGINAL vertex ids
    modularity: float
    n_communities: int


@iterative
def louvain_levels(edges: DataFrame, sweeps: int = 4,
                   max_levels: int = 3) -> list[LouvainLevel]:
    """Multi-level Louvain: sweep, contract communities to vertices
    (adj' = C·A·Cᵀ as one groupBy on relabeled endpoints), repeat while the
    community count shrinks (reference louvain_levels, cell 3)."""
    spark = edges.sparkSession
    cur = edges.select("i", "j", F.col("v").cast("double").alias("v"))
    mapping = None  # original id -> current community
    levels: list[LouvainLevel] = []
    for _ in range(max_levels):
        lab = louvain_sweeps(cur, sweeps)
        if mapping is None:
            mapping = lab
        else:
            mapping = (
                mapping.select("id", F.col("community").alias("_mid"))
                .join(lab.select(F.col("id").alias("_mid"),
                                 F.col("community")), "_mid")
                .select("id", "community")
            )
        mapping = mapping.localCheckpoint(eager=True)
        q = modularity(edges, mapping)
        n_comm = mapping.select("community").distinct().count()
        levels.append(LouvainLevel(mapping, q, n_comm))
        n_vertices = vertex_ids(cur).count()
        if n_comm >= n_vertices:
            break
        relab = lab.select(F.col("id").alias("i"), F.col("community").alias("ci"))
        cur = (
            cur.join(relab, "i")
            .join(relab.select(F.col("i").alias("j"), F.col("ci").alias("cj")), "j")
            .groupBy(F.col("ci").alias("i"), F.col("cj").alias("j"))
            .agg(F.sum("v").alias("v"))
        ).localCheckpoint(eager=True)
    return levels
