"""Connected components — FastSV-style min-label fixpoint.

Reference recipe (``notebooks/Connected Components -- FastSV.ipynb``):
hook ``mngp << min_second(A @ gp)``, reduce-assign with min, shortcut
``f << min(f | mngp)``, grandparent ``gp << f[f]``, terminate when labels
stop changing.  The fixpoint assigns every vertex the MINIMUM vertex id of
its (undirected) component — exact and permutation-invariant.

Spark shape per round (both are single-shuffle joins):
  * neighbor-min hook: cached adjacency ⋈ labels on src (O(V) probe),
    explode + groupBy(dst).min — the min_second SpMV;
  * pointer jumping (shortcut): labels self-join ``f[f]`` halves tree depth,
    giving O(log n) rounds instead of O(diameter) — this is what makes the
    plan survive a 100×-diameter scale-up.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graph_python_spark.operators.blocks import mirror, symmetric, vertex_ids
from graph_python_spark.plans.iterate import (IterationState, materialize,
                                              iterative, loop_shuffle_width)


@iterative
def connected_components(
    edges: DataFrame,
    vertices: Optional[DataFrame] = None,
    max_rounds: int = 50,
    partitions: Optional[int] = None,
    checkpoint: Optional[IterationState] = None,
) -> tuple[DataFrame, int]:
    """Returns (labels(id, component), rounds). component = min id in component.

    The adjacency is built over ``mirror(edges)``: its self-loops keep a
    vertex whose only edge is a self-loop, and the table dedupes itself."""
    from graph_python_spark.operators.blocks import adjacency_table

    adj = adjacency_table(mirror(edges), "i", "j", partitions)
    if vertices is None:
        vertices = adj.select(F.col("s").alias("id")).distinct()  # s covers all; distinct: hub rows may be chunked
    vertices = vertices.select("id").cache()

    start = 0
    f = vertices.select(F.col("id").alias("i"), F.col("id").alias("v"))
    if checkpoint is not None:
        restored = checkpoint.restore()
        if restored is not None:
            start, states, _ = restored
            f = states["labels"]
    f = materialize(f)

    rounds = start
    with loop_shuffle_width(edges.sparkSession, vertices.count()):
        f, rounds = _cc_converge_loop(
            adj, f, start, max_rounds, rounds, checkpoint)
    return f.select(F.col("i").alias("id"), F.col("v").alias("component")), rounds


def _cc_converge_loop(adj, f, start, max_rounds, rounds, checkpoint):
    for k in range(start, max_rounds):
        # hook: mngp[d] = min over neighbors s of f[s]   (min_second SpMV,
        # adjacency form: O(V) join probe, O(E) explode inline)
        nbrmin = (
            adj.join(f.withColumnRenamed("i", "s"), "s")
            .select(F.explode("ds").alias("i"), "v")
            .groupBy("i")
            .agg(F.min("v").alias("_nm"))
        )
        # shortcut/grandparent: gp[v] = f[f[v]]
        gp = (
            f.select(F.col("i"), F.col("v").alias("_p"))
            .join(f.select(F.col("i").alias("_p"), F.col("v").alias("_gp")), "_p")
            .select("i", "_gp")
        )
        nv = F.least(
            F.col("v"),
            F.coalesce(F.col("_nm"), F.col("v")),
            F.coalesce(F.col("_gp"), F.col("v")),
        )
        # _chg rides along in the materialized frame, so the convergence
        # check is one cheap aggregate over the cached checkpoint instead
        # of a second join + recompute per round
        new_f = (
            f.join(nbrmin, "i", "left_outer")
            .join(gp, "i", "left_outer")
            .select("i", nv.alias("_nv"), (nv != F.col("v")).alias("_chg"))
            .select("i", F.col("_nv").alias("v"), "_chg")
        )
        new_f = materialize(new_f)
        changed = int(new_f.agg(
            F.coalesce(F.max(F.col("_chg").cast("int")), F.lit(0))
        ).first()[0])
        f = new_f.drop("_chg")
        rounds = k + 1
        if checkpoint is not None:
            checkpoint.save(rounds, {"labels": f}, {"changed": changed})
        if changed == 0:
            break
    return f, rounds


@iterative
def cc_fixed_rounds(edges: DataFrame, vertices: Optional[DataFrame] = None,
                    rounds: int = 12) -> DataFrame:
    """Exactly ``rounds`` hook+shortcut rounds (no convergence action) —
    deterministic output for the DuckDB-checked correctness query."""
    esym = symmetric(edges).cache()
    if vertices is None:
        vertices = vertex_ids(edges)
    f = vertices.select(F.col("id").alias("i"), F.col("id").alias("v"))
    with loop_shuffle_width(edges.sparkSession, f.count()):
        return _cc_rounds(esym, f, rounds)


def _cc_rounds(esym: DataFrame, f: DataFrame, rounds: int) -> DataFrame:
    for _ in range(rounds):
        nbrmin = (
            esym.join(f.withColumnRenamed("i", "s"), "s")
            .groupBy(F.col("d").alias("i"))
            .agg(F.min("v").alias("_nm"))
        )
        f = (
            f.join(nbrmin, "i", "left_outer")
            .select("i", F.least(F.col("v"), F.coalesce(F.col("_nm"), F.col("v"))).alias("v"))
        )
        f = materialize(f)
    return f.select(F.col("i").alias("id"), F.col("v").alias("component"))


def cc_incremental(edges: DataFrame, init_labels: DataFrame,
                   rounds: int = 4) -> DataFrame:
    """Warm-started min-label propagation: exactly ``rounds`` hook rounds
    on ``edges`` starting from ``init_labels`` (id, component) computed on
    a SUBGRAPH (the growing-crawl case: edges only ADDED between
    snapshots — pair with ``metrics.snapshot_diff``).

    Soundness: an old label is the min vertex id of the vertex's OLD
    component, which is a subset of its NEW component — so the warm state
    is a valid intermediate lattice point of the same min-propagation and
    converges to the identical fixpoint, just from much closer (old
    components are already collapsed; only merges along added edges
    remain).  Vertices absent from ``init_labels`` (new pages) start at
    their own id.  NOT valid after edge REMOVALS (a stale merged label
    has no way back up) — recompute from scratch there.

    Same plan as ``cc_fixed_rounds`` plus one O(V) init join.
    """
    esym = symmetric(edges).cache()
    verts = vertex_ids(edges)
    # dedup defensively (min keeps the lattice-safe lower label): a
    # duplicate id in the init frame would duplicate the vertex row
    # through the left join and corrupt every round
    init_1 = init_labels.groupBy("id").agg(F.min("component").alias("_c0"))
    f = (
        verts.join(init_1, "id", "left_outer")
        .select(F.col("id").alias("i"),
                F.coalesce(F.col("_c0"), F.col("id")).alias("v"))
    )
    with loop_shuffle_width(edges.sparkSession, f.count()):
        return _cc_rounds(esym, f, rounds)


def bipartite_sides(edges: DataFrame, cc_rounds: int = 12,
                    bfs_rounds: int = 8) -> DataFrame:
    """Per-vertex 2-coloring side: BFS-layer parity from each component's
    min-id representative — the distributed bipartiteness primitive (a
    graph is bipartite iff no edge joins two same-side vertices; for
    bipartite components the side IS a proper 2-coloring, e.g. for
    host/page or user/item layers that arrive unlabeled).

    Deterministic composition of two fixed-round loops over ONE cached
    symmetric edge relation: min-label components (``cc_rounds`` hook
    rounds), then multi-source unit BFS seeded at every representative at
    once — all components advance in one O(V)-state frontier (the
    ``landmark_distances`` trick keyed by id alone, since components
    partition the vertex set).  Vertices further than ``bfs_rounds`` from
    their representative are dropped identically on any engine (fixed
    unroll, full-merge each round).

    Returns (id, component, side) with side ∈ {0, 1}.
    """
    esym = symmetric(edges).cache()
    vertices = vertex_ids(edges)
    f = vertices.select(F.col("id").alias("i"), F.col("id").alias("v"))
    with loop_shuffle_width(edges.sparkSession, f.count()):
        comp = materialize(_cc_rounds(esym, f, cc_rounds))
        dist = comp.filter(F.col("id") == F.col("component")).select(
            "id", F.lit(0).cast("long").alias("v"))
        for _ in range(bfs_rounds):
            cand = (
                esym.join(dist.withColumnRenamed("id", "s"), "s")
                .groupBy(F.col("d").alias("id"))
                .agg(F.min(F.col("v") + 1).alias("_nd"))
            )
            dist = (
                dist.join(cand, "id", "full_outer")
                .select("id", F.least(F.col("v"), F.col("_nd")).alias("v"))
            )
            dist = materialize(dist)
    out = (
        comp.join(dist, "id")
        .select("id", "component", (F.col("v") % 2).alias("side"))
    )
    esym.unpersist()
    return out
