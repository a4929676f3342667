"""k-core peeling — maximal subgraph with minimum (undirected) degree >= k.

Not a reference notebook algorithm, but the standard link-graph companion to
triangle counting / Louvain (GraphBLAS formulation: iterate ``select`` on a
degree vector until fixpoint — the same reduce_rowwise + select primitives
SURVEY §2.1 maps).  Semantics: repeatedly delete every vertex whose degree
in the CURRENT subgraph is < k; the fixpoint is the k-core, independent of
deletion order (peeling is monotone, so the fixpoint is unique and any
extra rounds past convergence are identity — which is what lets a
fixed-unroll SQL oracle check a run-to-convergence Spark loop).

Spark shape (LAGraph's k-core, as ``algorithms/mis.py`` runs MIS): the
matrix is fixed — the symmetric adjacency, pinned once, hash(s)-
partitioned — and the state is one vertex frame ``(id, deg, _live)``
with ``deg`` the vertex's degree among the live vertices.  A round is
one ``plans/iterate.fixpoint`` step: the vertices that stay live (live,
degree >= k) join the adjacency once on ``s``, keeping its
partitioning, one ``groupBy`` on ``d`` counts each vertex's live
neighbors (``s_core`` sums their edge weights instead), and that
aggregate joins back to the state.  A vertex dies when its degree falls
below k or its last live neighbor dies; it keeps its last degree for
that one round and loses it the round after, so the loop stops on the
first round that kills no vertex, read off the pin — no count,
emptiness probe or driver-side delta.

The trade: every round reads all of the adjacency, not the shrinking
residual edge relation, but the state is O(V), the plan is the same
every round, and the only per-round exchange is the degree aggregate.
Rounds are O(peeling depth); for web-scale graphs this is typically
< 100.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from graph_python_spark.operators.blocks import mirror, symmetric
from graph_python_spark.plans.iterate import (fixpoint, iterative,
                                              loop_shuffle_width, materialize,
                                              release)


def _peel(adj: DataFrame, degree: Column, floor: int, rounds: int,
          start: Optional[DataFrame] = None,
          after=None) -> tuple[DataFrame, int]:
    """Peel the vertex state ``(id, deg, _live)`` over the pinned
    hash(s)-partitioned adjacency ``adj`` ``(s, d, ...)`` for at most
    ``rounds`` rounds, from ``start`` (default: every vertex live, with
    ``deg`` the ``degree`` aggregate over its adjacency rows).  Each
    round drops the live vertices whose ``deg`` is below ``floor`` and
    recomputes ``deg`` of the rest over their live neighbors' rows; a
    vertex left with no live neighbor drops in the same round, as it
    leaves a peeled edge relation.  Returns ``(core(id, deg), rounds
    run)``: the live vertices at or above ``floor``, a projection of the
    last pinned state; the caller releases ``adj``."""
    if start is None:
        start = (adj.groupBy(F.col("s").alias("id"))
                 .agg(degree.alias("deg"))
                 .select("id", "deg", F.lit(True).alias("_live")))

    def step(state: DataFrame) -> DataFrame:
        keep = F.col("_live") & (F.col("deg") >= floor)
        # the pinned state's size estimate grows every round, so the
        # planner would broadcast the adjacency instead: a job and a
        # driver round trip of all of E per round.  Hash the kept side.
        kept = state.filter(keep).select(F.col("id").alias("s"))
        nbr = (
            adj.join(kept.hint("shuffle_hash"), "s")
            .groupBy(F.col("d").alias("id"))
            .agg(degree.alias("_nd"))
        )
        live = keep & F.col("_nd").isNotNull()
        return (
            state.join(nbr, "id", "left")
            .select("id",
                    F.when(live, F.col("_nd"))
                    .when(F.col("_live"), F.col("deg")).alias("deg"),
                    live.alias("_live"))
        )

    with loop_shuffle_width(adj.sparkSession, max(adj.count(), 1)):
        state, done = fixpoint(start, step, rounds, after=after,
                               changed=F.max(~F.col("_live")
                                             & F.col("deg").isNotNull()))
    core = state.filter(F.col("_live") & (F.col("deg") >= floor))
    return core.select("id", "deg"), done


@iterative
def kcore(
    edges: DataFrame,
    k: int,
    max_rounds: int = 50,
    partitions: Optional[int] = None,
    checkpoint=None,
) -> tuple[DataFrame, int]:
    """Peel to the k-core of the undirected simple graph under ``edges``
    (long columns i, j; direction and duplicate edges ignored).

    Returns ``(core(id, kdeg), rounds)`` where ``kdeg`` is each surviving
    vertex's degree INSIDE the k-core and ``rounds`` is the number of
    peeling rounds executed (including the final no-change round that
    proves the fixpoint).

    ``checkpoint``: optional durable ``plans.iterate.IterationState`` — the
    vertex state is saved every round (metrics: round #), and a killed
    run resumes peeling from the last saved round with identical results
    (the state is the whole fixpoint input; peeling is deterministic).
    The result is a projection of the last pinned state; the adjacency
    and every other round's state are freed.
    """
    adj = materialize(symmetric(edges, partitions=partitions))
    done, start, save = 0, None, None
    if checkpoint is not None:
        restored = checkpoint.restore()
        if restored is not None:
            done, states, _metrics = restored
            start = states["state"]

        def save(_old, new, r):
            checkpoint.save(done + r + 1, {"state": new},
                            {"round": done + r + 1})

    core, rounds = _peel(adj, F.count("*"), k, max_rounds - done,
                         start=start, after=save)
    release(adj)
    return core.select("id", F.col("deg").alias("kdeg")), done + rounds


def coreness_rounds(edges: DataFrame, rounds: int = 8,
                    partitions: Optional[int] = None) -> DataFrame:
    """Full core decomposition (coreness number per vertex) by the
    distributed h-index fixpoint (Montresor, De Pellegrini, Miorandi 2011):
    start c(v) = deg(v) and synchronously update

        c(v) ← h-index of { c(u) : u ∈ N(v) }

    (the largest h with ≥ h neighbors whose estimate is ≥ h).  Estimates
    only decrease and the fixpoint is exactly the coreness; updating a
    fixpoint is the identity, so a run past convergence is deterministic
    and a FIXED-round unroll is SQL-expressible — the same
    idempotent-past-fixpoint trick the k-core/k-truss oracles use.

    Per round: ONE join of the O(V) estimate vector to the pinned
    symmetric edge state (exchange-free on the edge side), a hash
    aggregate onto the (vertex, estimate-value) HISTOGRAM, and a
    cumulative count over the per-vertex distinct values:

        h(v) = MAX over distinct values x of LEAST(x, N_{>=x}(v))

    where N_{>=x}(v) = #neighbors of v with estimate >= x (the running
    sum of histogram counts in descending value order).  This is the
    textbook sorted-rank h-index identity with equal values grouped —
    within a value-x group the best LEAST(rank, value) is attained at
    the group's last rank, which IS the cumulative count — so the value
    is bit-identical to the rank formulation while the window frame
    shrinks from deg(v) rows to the number of DISTINCT neighbor
    estimates.  That count is globally bounded by the number of
    distinct live estimate values (at round 0, distinct degrees —
    O(sqrt E) on any graph since k distinct degrees force >= k(k+1)/2
    edge endpoints), so a 10^8-degree hub contributes a ~10^4-row frame
    instead of a 10^8-row single-task sort.  Order-independent, so any
    engine computes the identical value (the r3 row_number formulation
    sorted the full E-sized neighbor relation every round — the 1.71x
    regression this replaces).

    Returns (id, coreness).  Unlike :func:`kcore` (one k, shrinking
    state), the state here is a dense O(V) vector and the edge relation
    never shrinks — h-index trades peeling's data reduction for a round
    count bounded by the coreness value instead of the peel depth.
    """
    from pyspark.sql.window import Window

    sym = materialize(symmetric(edges, partitions=partitions))
    c = (sym.groupBy(F.col("s").alias("id"))
         .agg(F.count("*").cast("long").alias("c")))
    w = Window.partitionBy("s").orderBy(F.desc("cu"))
    # the fixed unroll needs NO mid-loop convergence check, so rounds
    # chain LAZILY and only every 4th iterate is cut into a job — plan
    # depth stays bounded while the job count (the dominant small-data
    # cost: one scheduling barrier per job) drops 4-fold (measured
    # 6.2 s -> 4.2 s at sf0.1)
    mats: list[DataFrame] = []
    for r in range(rounds):
        nb = sym.join(c.select(F.col("id").alias("d"),
                               F.col("c").alias("cu")), "d")
        hist = nb.groupBy("s", "cu").agg(F.count(F.lit(1)).alias("_n"))
        c = (
            hist.select("s", "cu", F.sum("_n").over(w).alias("_ge"))
            .select("s", F.least(F.col("cu"), F.col("_ge")).alias("_h"))
            .groupBy(F.col("s").alias("id"))
            .agg(F.max("_h").alias("c"))
        )
        if (r + 1) % 4 == 0 and r + 1 < rounds:
            c = materialize(c)
            mats.append(c)
    out = c.select("id", F.col("c").alias("coreness"))
    out = out.localCheckpoint(eager=True)
    release(*mats, sym)
    return out


@iterative
def s_core(
    edges: DataFrame,
    s: float,
    max_rounds: int = 50,
    partitions: Optional[int] = None,
) -> DataFrame:
    """Weighted s-core (generalized core decomposition — Eidsaa & Almaas,
    "s-core network decomposition", PRE 2013): the maximal subgraph in
    which every vertex's weighted degree (sum of incident edge weights,
    multi-edges collapsed with dup_op=max) is >= ``s``; repeatedly peel
    below-``s`` vertices until the fixpoint, which is unique by
    monotonicity — so extra rounds are identity and a fixed-unroll SQL
    oracle checks the run-to-convergence loop.

    Engine-parity contract: weights are quantized to micro-units ONCE at
    ingest (round(w·1e6) as BIGINT), so every weighted degree is an exact
    integer sum and the peel predicate has no float boundary to disagree
    across engines.  Returns surviving vertices (id, wdeg) with wdeg the
    fixpoint weighted degree (micro-units / 1e6, exact).

    Scale shape: the :func:`kcore` peel, with ``deg`` the sum of the
    live neighbors' micro-unit weights; the loop stops on the first
    round that kills no vertex, read off the pin.
    """
    s_micro = int(round(s * 1e6))
    fwd = edges.select(F.least("i", "j").alias("a"),
                       F.greatest("i", "j").alias("b"),
                       F.round(F.col("v") * 1e6, 0).cast("long").alias("_w"))
    und = (fwd.filter(F.col("a") != F.col("b"))
           .groupBy("a", "b").agg(F.max("_w").alias("_w")))
    sym = mirror(und.select(F.col("a").alias("s"), F.col("b").alias("d"), "_w"),
                 "s", "d")
    width = partitions or int(
        edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    adj = materialize(sym.repartition(width, "s"))
    # the peel compares the exact BIGINT micro-sum (the peel predicate's
    # own arithmetic) — dividing first and comparing wdeg*1e6 >= s in
    # floating point can round one ulp below the integer sum for
    # ~2^50-micro-unit degrees and wrongly drop a boundary vertex
    core, _ = _peel(adj, F.sum("_w"), s_micro, max_rounds)
    release(adj)
    return core.select("id", F.round(F.col("deg").cast("double") / 1e6,
                                     6).alias("wdeg"))
