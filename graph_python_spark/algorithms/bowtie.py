"""Web bow-tie decomposition (Broder et al., WWW 2000).

Classifies every vertex of a directed graph into the six classic
link-graph regions relative to the largest strongly connected component:

  * ``CORE``         — the largest SCC (ties broken by smallest member id).
  * ``IN``           — reaches CORE, not in it.
  * ``OUT``          — reachable from CORE, not in it.
  * ``TUBE``         — on an IN -> OUT path that bypasses CORE
                       (reachable from IN AND reaches OUT).
  * ``TENDRIL``      — hangs off IN (reachable from IN) or into OUT
                       (reaches OUT), but not both.
  * ``DISCONNECTED`` — none of the above.

Reference parity: python-graphblas has no bow-tie helper, but its users
compose exactly this from BFS levels + SCC (reference
``graphblas/core/matrix.py`` mxv traversals; see also
``notebooks/Louvain.ipynb``-style composition); the decomposition itself
is the standard structure report for web-scale link graphs, which is this
engine's tier.

Plan shape: ONE (tag, s, d)-keyed union of the simple edge table and
its reverse (``scc.tagged_edges``), pinned once and hash-partitioned on
(tag, s), under ONE SCC run (FB-Trim, ``algorithms/scc.py``) and TWO
tagged multi-source reachability loops — the forward-from-CORE /
backward-from-CORE sweeps advance together over it, and likewise
forward-from-IN / backward-from-OUT, so each loop pays max(diameters)
rounds instead of the sum.  Each loop is one
``frontier_fixpoint`` over one vertex state (tag, id, _new): a round
joins the ``_new`` frontier to the edges, dedupes the reached pairs and
merges the ones the state lacks, so its exchange is frontier-sized; the
loop stops on the round that adds none, read off the pin.  The final
labeling is five hash left-joins on the vertex key + one CASE — no
closure is ever materialized (the DuckDB oracle builds the recursive
closure instead; fine at sf0.01, impossible at 100 TB).  Once the regions
are pinned, every frame the call pinned is freed, the SCC labels too.

Scale notes (100 TB): frontier rounds are bounded by the directed
diameter of each region; on real web graphs the giant CORE makes the
sweeps converge in tens of rounds.  All sweeps and the label joins
shuffle on the vertex key only; the reach state grows monotonically to
O(V) (tag, id) rows, no payload.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graph_python_spark.algorithms.scc import _scc, tagged_edges
from graph_python_spark.operators.blocks import simple
from graph_python_spark.plans.iterate import (frontier_fixpoint, iterative,
                                              loop_shuffle_width, materialize,
                                              release)


def _reach_tagged(tagged_edges: DataFrame, tagged_seeds: DataFrame,
                  max_rounds: int = 100) -> DataFrame:
    """Per-tag reachability: vertices reachable from that tag's seeds
    along that tag's edges, seeds included.  ``tagged_edges``:
    (tag, s, d); ``tagged_seeds``: (tag, id).  All tags advance in ONE
    frontier state keyed (tag, id), so k sweeps cost max (not sum) of
    their round counts.  Returns the pinned state; the caller releases
    it."""
    return frontier_fixpoint(
        tagged_seeds.select("tag", "id").distinct(),
        lambda f: (tagged_edges.join(f.select("tag", F.col("id").alias("s")),
                                     ["tag", "s"])
                   .select("tag", F.col("d").alias("id")).distinct()),
        ["tag", "id"], max_rounds)


def reach_from(edges: DataFrame, seeds: DataFrame,
               max_rounds: int = 100) -> DataFrame:
    """Vertices reachable from ``seeds`` (id) along ``edges`` (s, d),
    seeds included.  Frontier BFS over the simple graph, pinned once:
    each round ships only the frontier through the edge join; the
    exchange is O(frontier-adjacent), not O(V).  Returns (id), a
    projection of the last pinned round."""
    tagged = materialize(simple(edges, "s", "d")
                         .select(F.lit("f").alias("tag"), "s", "d")
                         .repartition("tag", "s"))
    out = _reach_tagged(tagged, seeds.select(F.lit("f").alias("tag"), "id"),
                        max_rounds)
    release(tagged)
    return out.select("id")


@iterative
def bowtie_decomposition(
    edges: DataFrame,
    max_rounds: int = 100,
    partitions: Optional[int] = None,
) -> DataFrame:
    """Bow-tie region per vertex of the directed graph under ``edges``
    (long columns i -> j; self-loops and duplicates ignored).  Returns
    (id long, region string) with region in {CORE, IN, OUT, TUBE,
    TENDRIL, DISCONNECTED}; deterministic (largest SCC, ties by min id).
    """
    spark = edges.sparkSession
    # one (tag, s, d) relation for the SCC run and both sweep pairs,
    # pinned (tag, s)-hash-partitioned so every round's
    # tagged ⋈ frontier join reuses the partitioning (only the
    # frontier-sized side exchanges per round)
    tagged = materialize(tagged_edges(edges, partitions))
    labels, _rounds = _scc(tagged, max_label_rounds=max_rounds)
    n_verts = labels.count()
    # largest SCC, ties by smallest component id (= smallest member id,
    # since the SCC label is its minimum vertex)
    top = (labels.filter(F.col("component").isNotNull())
           .groupBy("component").count()
           .orderBy(F.desc("count"), F.asc("component"))
           .select("component").first())
    core = materialize(
        labels.filter(F.col("component") == top["component"]).select("id"))

    with loop_shuffle_width(spark, max(n_verts, 1)):
        # sweep pair 1: forward + backward from CORE, one tagged loop
        r1 = _reach_tagged(
            tagged,
            core.select(F.lit("f").alias("tag"), "id")
            .unionByName(core.select(F.lit("b").alias("tag"), "id")),
            max_rounds,
        )
        fwd = r1.filter(F.col("tag") == "f").select("id")
        bwd = r1.filter(F.col("tag") == "b").select("id")
        in_ = materialize(bwd.join(core, "id", "left_anti"))
        out = materialize(fwd.join(core, "id", "left_anti"))
        release(r1)
        # sweep pair 2: forward from IN + backward from OUT, one loop
        r2 = _reach_tagged(
            tagged,
            in_.select(F.lit("f").alias("tag"), "id")
            .unionByName(out.select(F.lit("b").alias("tag"), "id")),
            max_rounds,
        )
        fin = r2.filter(F.col("tag") == "f").select("id")
        bout = r2.filter(F.col("tag") == "b").select("id")

    def flag(df: DataFrame, name: str) -> DataFrame:
        return df.select("id", F.lit(True).alias(name))

    region = (
        F.when(F.col("_core"), "CORE")
        .when(F.col("_in"), "IN")
        .when(F.col("_out"), "OUT")
        .when(F.col("_fin") & F.col("_bout"), "TUBE")
        .when(F.col("_fin") | F.col("_bout"), "TENDRIL")
        .otherwise("DISCONNECTED")
    )
    res = (
        labels.select("id")
        .join(flag(core, "_core"), "id", "left_outer")
        .join(flag(in_, "_in"), "id", "left_outer")
        .join(flag(out, "_out"), "id", "left_outer")
        .join(flag(fin, "_fin"), "id", "left_outer")
        .join(flag(bout, "_bout"), "id", "left_outer")
        .na.fill(False, ["_core", "_in", "_out", "_fin", "_bout"])
        .select("id", region.alias("region"))
    )
    res = materialize(res)
    release(tagged, labels, core, in_, out, r2)
    return res
