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
from graph_python_spark.plans.iterate import (IterationState, fixpoint,
                                              iterative, loop_shuffle_width,
                                              materialize, release)


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
    vertex whose only edge is a self-loop, and the table dedupes itself.
    The adjacency and vertex caches are freed after the loop; the result
    reads only the last pinned labels."""
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

    def step(f):
        # hook: mngp[d] = min over neighbors s of f[s]   (min_second SpMV,
        # adjacency form: O(V) join probe, O(E) explode inline)
        nbrmin = (
            adj.join(f.select(F.col("i").alias("s"), "v"), "s")
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
        return (
            f.select("i", "v")
            .join(nbrmin, "i", "left_outer")
            .join(gp, "i", "left_outer")
            .select("i", nv.alias("v"), (nv != F.col("v")).alias("_chg"))
        )

    def after(_old, new, k):
        if checkpoint is not None:
            checkpoint.save(start + k + 1, {"labels": new.select("i", "v")}, {})

    # each round's _chg flag rides along in the pinned state, so the
    # driver reads convergence off the pin itself, in the same job
    with loop_shuffle_width(edges.sparkSession, vertices.count()):
        f, done = fixpoint(f, step, max_rounds - start,
                           changed=F.max("_chg"), after=after)
    release(adj, vertices)
    return (f.select(F.col("i").alias("id"), F.col("v").alias("component")),
            start + done)


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
        f = _cc_rounds(esym, f, rounds)
    release(esym)
    return f.select(F.col("i").alias("id"), F.col("v").alias("component"))


def _cc_rounds(esym: DataFrame, f: DataFrame, rounds: int) -> DataFrame:
    """Exactly ``rounds`` min-label hook rounds over the symmetric edge
    relation from labels ``f`` (i, v); returns the pinned (i, v) state."""
    def step(f):
        nbrmin = (
            esym.join(f.withColumnRenamed("i", "s"), "s")
            .groupBy(F.col("d").alias("i"))
            .agg(F.min("v").alias("_nm"))
        )
        return (
            f.join(nbrmin, "i", "left_outer")
            .select("i", F.least(F.col("v"), F.coalesce(F.col("_nm"), F.col("v"))).alias("v"))
        )

    return fixpoint(f, step, rounds)[0]


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
        f = _cc_rounds(esym, f, rounds)
    release(esym)
    return f.select(F.col("i").alias("id"), F.col("v").alias("component"))


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
        comp = _cc_rounds(esym, f, cc_rounds)

        def step(dist):
            cand = (
                esym.join(dist.withColumnRenamed("id", "s"), "s")
                .groupBy(F.col("d").alias("id"))
                .agg(F.min(F.col("v") + 1).alias("_nd"))
            )
            return (
                dist.join(cand, "id", "full_outer")
                .select("id", F.least(F.col("v"), F.col("_nd")).alias("v"))
            )

        dist, _ = fixpoint(
            comp.filter(F.col("i") == F.col("v")).select(
                F.col("i").alias("id"), F.lit(0).cast("long").alias("v")),
            step, bfs_rounds)
    out = (
        comp.select(F.col("i").alias("id"), F.col("v").alias("component"))
        .join(dist, "id")
        .select("id", "component", (F.col("v") % 2).alias("side"))
    )
    release(esym)
    return out
