"""k-core peeling — maximal subgraph with minimum (undirected) degree >= k.

Not a reference notebook algorithm, but the standard link-graph companion to
triangle counting / Louvain (GraphBLAS formulation: iterate ``select`` on a
degree vector until fixpoint — the same reduce_rowwise + select primitives
SURVEY §2.1 maps).  Semantics: repeatedly delete every vertex whose degree
in the CURRENT subgraph is < k; the fixpoint is the k-core, independent of
deletion order (peeling is monotone, so the fixpoint is unique and any
extra rounds past convergence are identity — which is what lets a
fixed-unroll SQL oracle check a run-to-convergence Spark loop).

Spark shape: the iterated state is the SURVIVING EDGE relation itself,
hash-partitioned ONCE on the source endpoint.  Each round computes degrees
with an exchange-free groupBy (the state's partitioning satisfies the agg's
required distribution), derives the PEELED DELTA (vertices whose degree
just dropped below k — after round 1 this is a small frontier, not the
survivor set), and removes the delta's edges without shuffling: a tiny
delta becomes a literal InSet filter (one job, no join — no more driver
memory than the broadcast join it replaces), a medium one two broadcast
anti-joins, a huge one (typically only round 1) shuffled anti-joins.
Neither the filter nor a broadcast join disturbs the state's
partitioning, so after the initial repartition every subsequent round is
exchange-free end to end.
Convergence = empty delta (no vertex peeled ⇔ degrees stable).

At 100 TB the plan holds: no per-vertex arrays are built, the moving state
is monotonically SHRINKING (round t only ever touches the subgraph that
survived round t-1 — never the original O(E) relation again), the per-round
delta is the natural broadcast side (peeling fronts are tiny compared to
the graph; rounds whose delta exceeds the broadcast budget — typically only
round 1 — fall back to a shuffled anti-join), and power-law hubs are just
heavy groupBy keys handled by partial aggregation.  Rounds are O(peeling
depth); for web-scale graphs this is typically < 100.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graph_python_spark.operators.blocks import mirror, symmetric
from graph_python_spark.plans.iterate import (iterative, loop_shuffle_width,
                                              materialize, release)


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
    surviving-edge state is saved every round (metrics: round #,
    surviving edges), and a killed run resumes peeling from the last saved
    round with identical results (the state is the whole fixpoint input;
    peeling is deterministic).  The result reads only its own pinned
    degrees; every round's edge state is freed.
    """
    rounds = 0
    cur = None
    if checkpoint is not None:
        restored = checkpoint.restore()
        if restored is not None:
            rounds, states, _metrics = restored
            cur = states["edges"]
            if partitions is not None:
                cur = cur.repartition(partitions, "s")
            else:
                cur = cur.repartition("s")
            cur = materialize(cur)
    if cur is None:
        cur = materialize(symmetric(edges, partitions=partitions))
    n_edges = cur.count()
    # peeled deltas up to this size become a literal InSet filter — one
    # job, no join, no exchange (a broadcast join collects to the driver
    # anyway, so this costs no more driver memory than the alternative)
    inset_cap = 50_000
    # a delta bigger than this is shuffled, not broadcast (first-round
    # peels of a sparse graph can be a large fraction of all vertices)
    broadcast_cap = 4_000_000

    with loop_shuffle_width(edges.sparkSession, max(n_edges, 1)):
        while rounds < max_rounds:
            deg = cur.groupBy("s").agg(F.count("*").alias("kdeg"))
            dead_df = deg.filter(F.col("kdeg") < k).select("s")
            probe = dead_df.limit(inset_cap + 1).collect()
            rounds += 1
            if not probe:
                # fixpoint: nothing peeled, so current degrees are final
                out = materialize(deg.filter(F.col("kdeg") >= k))
                release(cur)
                return out.select(F.col("s").alias("id"), "kdeg"), rounds
            if len(probe) <= inset_cap:
                ids = [r[0] for r in probe]
                nxt = materialize(cur.filter(~F.col("s").isin(ids)
                                             & ~F.col("d").isin(ids)))
                release(cur)
                cur = nxt
            else:
                dead = materialize(dead_df)
                rm_s, rm_d = dead, dead.withColumnRenamed("s", "d")
                if dead.count() <= broadcast_cap:
                    rm_s, rm_d = F.broadcast(rm_s), F.broadcast(rm_d)
                nxt = materialize(
                    cur.join(rm_s, "s", "left_anti")
                    .join(rm_d, "d", "left_anti")
                )
                release(cur, dead)
                cur = nxt
            if checkpoint is not None:
                checkpoint.save(rounds, {"edges": cur},
                                {"round": rounds, "peeled": len(probe)})
    # max_rounds exhausted without a proven fixpoint: report current degrees
    out = materialize(
        cur.groupBy("s").agg(F.count("*").alias("kdeg")).filter(F.col("kdeg") >= k)
    )
    release(cur)
    return out.select(F.col("s").alias("id"), "kdeg"), rounds


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

    Scale shape: the :func:`kcore` story — the iterated state is the
    shrinking edge relation, pinned hash-partitioned on ``s`` so each
    round's degree groupBy is exchange-free; removal is two semi-joins
    against the surviving-vertex relation; convergence = stable edge
    count (one bounded driver scalar per round).
    """
    s_micro = int(round(s * 1e6))
    fwd = edges.select(F.least("i", "j").alias("a"),
                       F.greatest("i", "j").alias("b"),
                       F.round(F.col("v") * 1e6, 0).cast("long").alias("_w"))
    und = (fwd.filter(F.col("a") != F.col("b"))
           .groupBy("a", "b").agg(F.max("_w").alias("_w")))
    sym = mirror(und.select(F.col("a").alias("s"), F.col("b").alias("d"), "_w"),
                 "s", "d")
    spark = edges.sparkSession
    with loop_shuffle_width(spark, max(sym.count(), 1)) as width:
        cur = materialize(sym.repartition(partitions or width, "s"))
        n_prev = cur.count()
        for _ in range(max_rounds):
            wdeg = cur.groupBy("s").agg(F.sum("_w").alias("_wd"))
            keep = wdeg.filter(F.col("_wd") >= s_micro).select("s")
            new = materialize(
                cur.join(keep, "s", "left_semi")
                .join(keep.withColumnRenamed("s", "d"), "d", "left_semi")
                .repartition(partitions or width, "s"))
            n_new = new.count()
            release(cur)
            cur = new
            if n_new == n_prev or n_new == 0:
                break
            n_prev = n_new
        # keep-filter on the exact BIGINT micro-sum (the peel predicate's
        # own arithmetic) — dividing first and comparing wdeg*1e6 >= s
        # in floating point can round one ulp below the integer sum for
        # ~2^50-micro-unit degrees and wrongly drop a boundary vertex
        out = (cur.groupBy(F.col("s").alias("id"))
               .agg(F.sum("_w").alias("_wm"))
               .filter(F.col("_wm") >= s_micro)
               .select("id", F.round(F.col("_wm").cast("double") / 1e6,
                                     6).alias("wdeg"))
               .localCheckpoint(eager=True))
        release(cur)
    return out
