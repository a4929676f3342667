"""Strongly connected components — forward-backward min-label coloring.

The FastSV-style min-label sweep (algorithms/components.py) gives WEAKLY
connected components; SCC needs mutual reachability.  This is the
distributed coloring algorithm (Orzan FB-coloring, the standard
vertex-centric SCC): repeat until every vertex is assigned —

  1. FORWARD color: c(v) = min id that reaches v along directed paths
     within the remaining graph (min-label propagation to fixpoint; v is
     its own ancestor, so the color-r partition contains r and only ids
     >= r, i.e. r is both that partition's root and its minimum).
  2. BACKWARD sweep WITHIN each color: g(v) = min id reachable FROM v
     inside v's color partition.  v reaches its root r iff g(v) = r, and
     {v in color r : g(v) = r} is exactly SCC(r) — mutual reachability
     with the root, all colors resolved simultaneously in ONE sweep
     (state keyed by vertex, colors just partition the join).
  3. Finalize those SCCs (component id = root id = the SCC's minimum
     vertex, matching the min-label convention of the weak-CC oracle),
     delete them, repeat on the remainder.

Every outer round removes at least each color's root SCC, so rounds are
bounded by the longest chain of SCCs; web graphs resolve in a handful
(the giant SCC goes in round 1).  All state is edge/vertex relations
with the same pinned-loop plumbing as the other sweeps: min-label
fixpoints are join + partial-agg rounds with a rides-along change flag
(one action per round), finalized vertices leave the edge state, and
the moving state only ever shrinks.

Oracle note: SCC labels are a pure graph property (min mutually-reachable
vertex), so the DuckDB oracle checks the ANSWER via a recursive
transitive-closure CTE without replicating this algorithm — fine at
sf0.01, while the Spark side never materializes a closure.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graph_python_spark.operators.blocks import simple, vertex_ids
from graph_python_spark.plans.iterate import (fixpoint, iterative,
                                              loop_shuffle_width, materialize,
                                              release)


def _min_prop(edges: DataFrame, verts: DataFrame, max_rounds: int) -> DataFrame:
    """Directed min-label fixpoint: f(v) = min id u with u ->* v (u = v
    included) over ``edges`` (s, d), for every vertex of ``verts`` (id).
    Returns the pinned (id, lbl, _chg) state.

    DELTA propagation: round t joins the edge table only against the rows
    whose label IMPROVED in round t-1 (round 1: everything) — if none of
    v's in-neighbors improved, f(v) already reflects them from earlier
    rounds.  Label fronts on web-shaped graphs die out fast, so the
    edge-side join volume collapses after the first rounds while the
    round count is unchanged; only the O(V) state merge + checkpoint
    remains per round (the delta relation is a filter on the pinned
    state, no extra checkpoint; convergence is read from the same pin)."""
    def step(f):
        delta = f.filter(F.col("_chg"))
        nbrmin = (
            edges.join(delta.select(F.col("id").alias("s"), "lbl"), "s")
            .groupBy(F.col("d").alias("id"))
            .agg(F.min("lbl").alias("_nm"))
        )
        nv = F.least(F.col("lbl"), F.coalesce(F.col("_nm"), F.col("lbl")))
        return (
            f.select("id", "lbl").join(nbrmin, "id", "left_outer")
            .select("id", nv.alias("lbl"), (nv != F.col("lbl")).alias("_chg"))
        )

    f, _ = fixpoint(
        materialize(verts.select("id", F.col("id").alias("lbl"),
                                 F.lit(True).alias("_chg"))),
        step, max_rounds, changed=F.max("_chg"))
    return f


@iterative
def strongly_connected_components(
    edges: DataFrame,
    max_outer: int = 20,
    max_label_rounds: int = 40,
    partitions: Optional[int] = None,
) -> tuple[DataFrame, int]:
    """SCC labels over the directed graph under ``edges`` (long columns
    i -> j; self-loops/duplicates ignored).  Returns ``(labels(id,
    component), outer_rounds)`` with component = the smallest vertex id in
    the SCC (exact, permutation-invariant).  The result reads the pinned
    per-round SCC parts; the loop state is freed.
    """
    eb = simple(edges).toDF("s", "d")
    # pin the edge state s-hash-partitioned so every min-prop round's
    # edges ⋈ delta join reuses the partitioning (the frontier side is
    # the only per-round exchange — the pagerank adjacency pattern)
    if partitions is not None:
        eb = eb.repartition(partitions, "s")
    else:
        eb = eb.repartition("s")
    cur = materialize(eb)
    verts = materialize(vertex_ids(cur, "s", "d"))
    n_edges = cur.count()
    done_parts: list[DataFrame] = []
    rounds = 0

    def trim(verts: DataFrame, cur: DataFrame,
             max_trim: int) -> tuple[DataFrame, DataFrame]:
        """TRIM phase (Slota/Hong-style FB-Trim hybrid): a vertex with no
        in-edge or no out-edge in the remaining graph is its own SCC —
        peel such vertices to fixpoint before paying a coloring round.
        Tendril/chain mass (most of a web graph outside the giant SCC)
        resolves here at ~4 cheap jobs per peeled layer instead of a full
        pair of min-label fixpoints per layer of the FB loop."""
        for _ in range(max_trim):
            ends = (
                cur.select(F.col("s").alias("id"), F.lit(1).alias("o"),
                           F.lit(0).alias("i"))
                .unionByName(cur.select(F.col("d").alias("id"),
                                        F.lit(0).alias("o"),
                                        F.lit(1).alias("i")))
            )
            both = materialize(
                ends.groupBy("id")
                .agg(F.max("o").alias("_ho"), F.max("i").alias("_hi"))
                .filter((F.col("_ho") == 1) & (F.col("_hi") == 1))
                .select("id")
            )
            triv = materialize(verts.join(both, "id", "left_anti"))
            if triv.isEmpty():
                release(triv, both)
                break
            done_parts.append(
                triv.select("id", F.col("id").alias("component")))
            new_verts = both
            new_cur = materialize(
                cur.join(triv.withColumnRenamed("id", "s"), "s", "left_anti")
                .join(triv.select(F.col("id").alias("d")), "d", "left_anti")
                .repartition("s")
            )
            release(verts, cur)
            verts, cur = new_verts, new_cur
        return verts, cur

    with loop_shuffle_width(edges.sparkSession, max(n_edges, 1)):
        while rounds < max_outer:
            verts, cur = trim(verts, cur, max_label_rounds)
            rounds += 1
            if verts.isEmpty():
                break
            fwd = _min_prop(cur, verts, max_label_rounds)  # (id, lbl)
            # backward sweep inside each color: restrict edges to
            # same-color endpoints and reverse them, then min-propagate
            fs = fwd.select(F.col("id").alias("s"), F.col("lbl").alias("_cs"))
            fd = fwd.select(F.col("id").alias("d"), F.col("lbl").alias("_cd"))
            rev = (
                cur.join(fs, "s").join(fd, "d")
                .filter(F.col("_cs") == F.col("_cd"))
                .select(F.col("d").alias("s"), F.col("s").alias("d"))
                .repartition("s")
            )
            rev = materialize(rev)
            bwd = _min_prop(rev, verts, max_label_rounds)  # (id, g)
            scc = materialize(
                fwd.select("id", "lbl")
                .join(bwd.select("id", F.col("lbl").alias("g")), "id")
                .filter(F.col("lbl") == F.col("g"))
                .select("id", F.col("lbl").alias("component"))
            )
            done_parts.append(scc)
            release(rev)
            # remove finalized vertices from the moving state
            gone = scc.select("id")
            new_verts = materialize(verts.join(gone, "id", "left_anti"))
            new_cur = materialize(
                cur.join(gone.withColumnRenamed("id", "s"), "s", "left_anti")
                .join(gone.withColumnRenamed("id", "d"), "d", "left_anti")
                .repartition("s")
            )
            release(fwd, bwd, verts, cur)
            verts, cur = new_verts, new_cur

    out = None
    for part in done_parts:
        out = part if out is None else out.unionByName(part)
    if out is None:
        out = edges.sparkSession.createDataFrame([], "id long, component long")
    # The parts are already-pinned LogicalRDDs, so the union is
    # lineage-shallow and needs no checkpoint of its own — and
    # re-checkpointing it trips a Spark 4 constraint-rewrite bug
    # (UnionBase.rewriteConstraints inside LogicalRDD.fromDataset throws
    # "key not found: id#N" once the union has >= 2 checkpointed children;
    # reproduced at 300k+ vertices).  The parts stay persisted because
    # they back the returned relation; only the loop state is dropped.
    release(verts, cur)
    return out, rounds


def condensation(
    edges: DataFrame,
    level_rounds: int = 16,
    max_outer: int = 20,
    max_label_rounds: int = 40,
) -> DataFrame:
    """Condensation (SCC quotient) of the directed graph: collapse every
    SCC to one vertex, keep the distinct inter-SCC edges, and layer the
    resulting DAG by longest path from its sources — the classic
    web-graph macro-structure view (the bow-tie's CORE is the largest
    row here; reference parity: the reachability compositions of
    ``notebooks/Example B.1`` stop at per-vertex labels, this is the
    quotient built on top of them).

    Returns one row per SCC: (component, n_members, level, out_comps)
    where ``component`` is the SCC's minimum vertex id (the
    :func:`strongly_connected_components` convention), ``n_members`` its
    vertex count, ``level`` the longest-path layer of the SCC in the
    condensation DAG (sources = 0; exact when ``level_rounds`` >= DAG
    depth, deterministic either way), and ``out_comps`` the SCC's
    out-degree in the quotient (distinct successor SCCs).

    Scale shape: SCC labels via the FB-Trim hybrid above; the quotient is
    two vertex-key hash joins + one group-pair distinct (the
    ``contract_graph`` plan); the layering is the max-plus SpMV loop over
    the quotient — which is orders of magnitude smaller than the input
    graph (the giant SCC is one row), so the condensation DAG work is
    negligible next to the SCC computation itself.
    """
    labels, _rounds = strongly_connected_components(
        edges, max_outer=max_outer, max_label_rounds=max_label_rounds)
    from graph_python_spark.algorithms.contract import contract_graph
    from graph_python_spark.algorithms.traversal import dag_longest_path_levels

    sizes = labels.groupBy(F.col("component")).agg(
        F.count(F.lit(1)).alias("n_members"))
    q = contract_graph(
        edges.select("i", "j", F.lit(1).cast("long").alias("v")), 
        labels.select("id", F.col("component").alias("group")),
        drop_self_loops=True, unmapped="drop")
    qe = q.select(F.col("gi").alias("i"), F.col("gj").alias("j"))
    out_deg = qe.groupBy(F.col("i").alias("component")).agg(
        F.count(F.lit(1)).alias("out_comps"))
    lvl = dag_longest_path_levels(qe, rounds=level_rounds)
    return (
        sizes.join(lvl.withColumnRenamed("id", "component"), "component",
                   "left_outer")
        .join(out_deg, "component", "left_outer")
        .select(
            "component", "n_members",
            F.coalesce("level", F.lit(0)).cast("long").alias("level"),
            F.coalesce("out_comps", F.lit(0)).cast("long").alias("out_comps"))
    )
