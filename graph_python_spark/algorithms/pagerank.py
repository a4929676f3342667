"""PageRank — iterated plus_second SpMV, LAGraph `pagerank_3f` semantics.

Reference recipe (``/root/reference/notebooks/Pagerank Demo.ipynb`` cell 9):

    teleport = (1 - damping) / n ;  r = 1/n (dense)
    d = d_out / damping                      # only vertices with out-edges
    loop until rdiff <= tol:
        w = t ⊘ d                            # ewise_mult ⇒ INTERSECTION:
                                             #   dangling vertices drop out,
                                             #   they contribute teleport only
        r = teleport  (dense)
        r += Aᵀ·w  over plus_second          # sum of w over in-neighbors
        rdiff = sum |t - r|                  # L1 convergence

Spark shape — the loop iterates on the SPARSE contribution vector only
(r is never materialized densely inside the loop), over a CACHED ADJACENCY
table rather than the raw edge list:

    adj      = (i, js: array<long>, inv_d)        built once, hash(i), cached
    w_k      = (teleport + contrib_k) ⊙ inv_d     adj ⋈ contrib on i — O(V) probe
    contrib' = Σ explode(js) w_k                  explode + groupBy(dst)

  * identical arithmetic to the dense recipe: r_k = teleport + contrib_k
    (vertices with no in-edges sit at teleport and, if dangling, never feed
    back); the dense r materializes once, after the loop;
  * the adjacency form collapses A = one(A) binarization, out-degree, and
    src-partitioning into ONE prep shuffle (repartition(i) then
    array_sort(collect_set(j)) in the JVM), and the per-iteration join
    probes V adjacency rows instead of E edge rows — the O(E) fan-out
    happens inline via explode in the same whole-stage-codegen span as the
    partial aggregation (measured 4× over the edge-join loop at 57M edges);
  * adj is built at the loop's shuffle width, so contrib comes out of each
    groupBy hash-partitioned by i exactly like adj; the step joins them as
    a shuffled hash join building on contrib — no exchange, no sort, no
    broadcast job, whatever contrib's size.  The one shuffle per step is
    the O(distinct-dst) partial-agg exchange;
  * every iteration is pinned by the loop driver (plans/iterate.fixpoint),
    which releases the old state after its last read, so each step runs
    the same plan shape over a pinned contrib; a durable IterationState
    save every iteration gives the north-rule resume guarantee.  Cold,
    10 iterations on a 100k-vertex / 570k-edge Zipf graph (4 vCPU) take
    6.9 s, against 10.5 s with a broadcast step join and a pin every
    third iteration;
  * rdiff = Σ|contrib' - contrib| exactly (the dense teleport terms cancel).

At 1000-executor / 100 TB scale the plan holds: the adjacency table stays
partitioned by src across iterations (per-row arrays bounded by max degree;
a hub row's explode is one task's sequential scan), the rank vector is the
only moving state, and power-law dst skew is handled by map-side partial
aggregation (⊕ associativity makes partial merges exact).
"""

from __future__ import annotations

from contextlib import contextmanager
from dataclasses import dataclass
from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graph_python_spark.operators.blocks import vertex_ids
from graph_python_spark.plans.iterate import (IterationState, fixpoint,
                                                loop_conf, loop_shuffle_width,
                                                materialize, release)


@dataclass
class PreparedGraph:
    """Loop-invariant PageRank state, built once per job: the cached
    adjacency table (with damping baked into inv_d), the vertex set, and
    its count.  Build with :func:`prepare_graph`; pass to ``pagerank`` /
    ``pagerank_fixed`` via ``prepared=`` to amortize the one-time build
    across runs (and to time the iteration loop alone, BASELINE.md)."""

    adj: DataFrame        # (i, js: array<long>, inv_d: double), hash(i), cached
    vertices: DataFrame   # (id: long), cached
    n: int
    damping: float
    width: Optional[int] = None   # adj's partition count = the loop's shuffle width


@contextmanager
def _loop(spark, n: int, width: Optional[int] = None):
    """loop_conf at the loop's shuffle width: ``width`` when given (the
    width adj was built at), else loop_shuffle_width's size-derived one.
    Each step's contrib then comes out of its groupBy co-partitioned with
    adj, so the step join needs no exchange on either side."""
    with loop_conf(spark), loop_shuffle_width(spark, n) as w:
        if width:
            w = width
            spark.conf.set("spark.sql.shuffle.partitions", str(w))
        yield w


def prepare_graph(edges: DataFrame, vertices: Optional[DataFrame] = None,
                  damping: float = 0.85,
                  partitions: Optional[int] = None) -> PreparedGraph:
    """Materialize the loop-invariant state once: the vertex set first,
    then the cached adjacency table (A = one(A): arrays deduped) with
    per-row damping/out-degree, hash(i) partitioned at the width the loop
    will run at (``partitions``, else loop_shuffle_width's for n) so the
    loop's step join is exchange-free.  The array build is JVM-only
    (operators/blocks.adjacency_table) and runs under loop_conf, so the
    cached plan is a plain, non-adaptive one."""
    from graph_python_spark.operators.blocks import adjacency_table

    e = edges.select(F.col("i"), F.col("j"))
    if vertices is None:
        vertices = vertex_ids(e)
    vertices = vertices.select("id").cache()
    n = vertices.count()
    with _loop(edges.sparkSession, n, partitions) as width:
        table = adjacency_table(e, "i", "j", width)
        # cache the projection the loop reads instead of the table under
        # it (nothing is computed yet), so release(adj) frees the build
        release(table)
        # deg (not size(js)): hub rows may be segmented into several bounded
        # chunks, each carrying the vertex's TOTAL out-degree
        adj = table.select(
            F.col("s").alias("i"), F.col("ds").alias("js"),
            (F.lit(damping) / F.col("deg")).alias("inv_d"),
        ).cache()
        adj.count()
    return PreparedGraph(adj, vertices, n, damping, width)


def _step(adj, teleport: float, r0: float, contrib: Optional[DataFrame]) -> DataFrame:
    """One pagerank_3f SpMV step: w = (teleport + contrib) ⊙ inv_d on adj's
    domain, then contrib' = Σ_{i→j} w[i] (explode + partial-agg groupBy).
    contrib=None is the first step from the dense uniform r0.

    The join is a shuffled hash join building on contrib: adj and contrib
    share hash(i) partitioning at the loop width, so it plans no exchange
    and no sort on either side, whatever contrib's size.  The one shuffle
    left is the partial-aggregation exchange on the exploded dst."""
    if contrib is None:
        src = adj.select((F.lit(r0) * F.col("inv_d")).alias("w"), "js")
    else:
        src = (
            adj.join(contrib.hint("shuffle_hash"), "i", "left_outer")
            .select(((F.lit(teleport) + F.coalesce(F.col("c"), F.lit(0.0)))
                     * F.col("inv_d")).alias("w"), "js")
        )
    return (
        src.select(F.explode("js").alias("i"), "w")
        .groupBy("i")
        .agg(F.sum("w").alias("c"))
    )


def _finalize(vertices, contrib, teleport) -> DataFrame:
    return (
        vertices.select(F.col("id").alias("i"))
        .join(contrib, "i", "left_outer")
        .select(F.col("i").alias("id"),
                (F.lit(teleport) + F.coalesce(F.col("c"), F.lit(0.0))).alias("score"))
    )


def pagerank(
    edges: DataFrame,
    vertices: Optional[DataFrame] = None,
    damping: float = 0.85,
    tol: float = 1e-4,
    itermax: int = 100,
    partitions: Optional[int] = None,
    checkpoint: Optional[IterationState] = None,
    prepared: Optional[PreparedGraph] = None,
) -> tuple[DataFrame, int, list[float]]:
    """Run to L1 convergence. Returns (scores(id, score), iters, rdiff trace).

    ``edges``: DataFrame with long columns i (src), j (dst); duplicates OK
    (binarized).  ``checkpoint``: optional durable IterationState, saved
    every iteration — a killed run resumes from the last saved iteration
    with identical results.  ``prepared``: pre-built loop-invariant state
    (its baked damping wins); it stays the caller's to free.  Without it
    the adjacency built here is freed once the loop is done; the result
    reads the vertex cache and the last pinned contrib.
    """
    own = prepared is None
    if own:
        prepared = prepare_graph(edges, vertices, damping, partitions)
    adj, vertices, n, damping = (prepared.adj, prepared.vertices,
                                 prepared.n, prepared.damping)
    if n == 0:
        empty = edges.sparkSession.createDataFrame([], "id long, score double")
        return empty, 0, []
    teleport = (1.0 - damping) / n

    start_iter = 0
    rdiffs: list[float] = []
    contrib: Optional[DataFrame] = None
    if checkpoint is not None:
        restored = checkpoint.restore()
        if restored is not None:
            start_iter, states, metrics = restored
            contrib = states["contrib"]
            rdiffs = list(metrics.get("rdiffs", []))
            if rdiffs and rdiffs[-1] <= tol:
                if own:
                    release(adj)
                return _finalize(vertices, contrib, teleport), start_iter, rdiffs

    def after(old_contrib, new_contrib, k):
        # Σ|r_new - r_old|: teleport cancels; vertices never receiving
        # contributions never change. First iteration diffs against r0=1/n
        # on contribution-receiving vertices, plus the unchanged remainder:
        # matches the dense recipe because r0 is uniform.
        if old_contrib is None:
            # |r1 - r0| = Σ_receiving |tel + c - 1/n| + (n - receiving)·|tel - 1/n|
            row = new_contrib.agg(
                F.sum(F.abs(F.lit(teleport) + F.col("c") - F.lit(1.0 / n))).alias("d"),
                F.count("*").alias("m"),
            ).first()
            rdiff = float(row["d"] or 0.0) + (n - row["m"]) * abs(teleport - 1.0 / n)
        else:
            row = (
                old_contrib.withColumnRenamed("c", "_co")
                .join(new_contrib, "i", "full_outer")
                .agg(F.sum(F.abs(F.coalesce(F.col("c"), F.lit(0.0))
                                 - F.coalesce(F.col("_co"), F.lit(0.0)))).alias("d"))
                .first()
            )
            rdiff = float(row["d"] or 0.0)
        rdiffs.append(rdiff)
        iters_now = start_iter + k + 1
        if checkpoint is not None:
            checkpoint.save(iters_now, {"contrib": new_contrib},
                            {"rdiffs": rdiffs, "n": n})
        return rdiff <= tol

    with _loop(adj.sparkSession, n, prepared.width):
        contrib, done = fixpoint(
            contrib, lambda c: _step(adj, teleport, 1.0 / n, c),
            itermax - start_iter, after=after)
    if own:
        release(adj)
    return _finalize(vertices, contrib, teleport), start_iter + done, rdiffs


def iteration_times(prepared: PreparedGraph, iterations: int = 7,
                    warmups: int = 2) -> list[float]:
    """Steady-state per-iteration wall-clock of the SpMV loop (BASELINE.md
    measurement protocol): each iteration is eagerly materialized
    (localCheckpoint) so the timing covers the full join + explode +
    partial-agg + shuffle + pin cycle; the first ``warmups`` iterations are
    discarded (the first compiles the no-join path, the second the join
    path — whole-stage codegen + JIT).  Report the MEDIAN of the returned
    list: individual iterations spike 2-3× on GC pauses in a single shared
    JVM, which a multi-executor cluster doesn't serialize.
    """
    import time

    adj, n = prepared.adj, prepared.n
    teleport = (1.0 - prepared.damping) / n
    stamps = [time.time()]
    with _loop(adj.sparkSession, n, prepared.width):
        contrib, _ = fixpoint(
            None, lambda c: _step(adj, teleport, 1.0 / n, c),
            warmups + iterations,
            after=lambda _old, _new, _k: stamps.append(time.time()))
    release(contrib)
    return [b - a for a, b in zip(stamps, stamps[1:])][warmups:]


def pagerank_fixed(
    edges: DataFrame,
    vertices: Optional[DataFrame] = None,
    damping: float = 0.85,
    iterations: int = 20,
    partitions: Optional[int] = None,
    prepared: Optional[PreparedGraph] = None,
) -> DataFrame:
    """Exactly ``iterations`` pagerank_3f steps, no convergence action —
    deterministic output used by the DuckDB-checked correctness queries.
    An adjacency built here (no ``prepared``) is freed after the loop."""
    own = prepared is None
    if own:
        prepared = prepare_graph(edges, vertices, damping, partitions)
    adj, vertices, n, damping = (prepared.adj, prepared.vertices,
                                 prepared.n, prepared.damping)
    if n == 0:
        return edges.sparkSession.createDataFrame([], "id long, score double")
    teleport = (1.0 - damping) / n

    with _loop(adj.sparkSession, n, prepared.width):
        contrib, _ = fixpoint(
            None, lambda c: _step(adj, teleport, 1.0 / n, c), iterations)
    if own:
        release(adj)
    return _finalize(vertices, contrib, teleport)


def pagerank_weighted_fixed(
    edges: DataFrame,
    damping: float = 0.85,
    iterations: int = 20,
    partitions: Optional[int] = None,
) -> DataFrame:
    """Weighted pagerank_3f twin over (i, j, v): transition mass out of a
    vertex splits proportionally to edge weight, p_ij = damping · w_ij /
    Σ_j w_ij — the anchor-count / click-count link-graph variant (the
    reference's pagerank operates on one(A); this is the same semiring
    SpMV with plus_times over the stochastic weights instead).

    Exactly ``iterations`` steps — deterministic, so a fixed SQL unroll
    oracles it.  Plan: the transition-probability edge table is built once
    (dup edges collapsed plus_times-style, one groupBy + one src-key join),
    hash(i)-partitioned and pinned; every iteration then joins the O(V)
    contribution vector to it exchange-free on the edge side and shuffles
    only the O(distinct dst) partial sums.

    Measured ablation (22.9M edges / 4M vertices, local[32]): a weighted
    CSR array loop (aligned ``ds``/``ws`` adjacency arrays with
    damping·w/Σw folded in, explode-of-zipped-arrays fan-out) runs the SAME
    ~7-8.6 s/iteration as this edge join — the unweighted loop's 4× array
    win comes from exploding bare long arrays; zipping a weight alongside
    puts a struct in the explode and gives the gain back — while its 18 s
    build never amortizes.  Edge form kept.
    """
    spark = edges.sparkSession
    npart = int(partitions or spark.conf.get("spark.sql.shuffle.partitions"))
    e = edges.groupBy("i", "j").agg(F.sum("v").alias("w"))
    ow = e.groupBy("i").agg(F.sum("w").alias("ow"))
    trans = materialize(
        e.join(ow, "i")
        .select("i", "j",
                (F.lit(damping) * F.col("w") / F.col("ow")).alias("p"))
        .repartition(npart, "i")
    )
    vertices = vertex_ids(e).cache()
    n = vertices.count()
    if n == 0:
        return spark.createDataFrame([], "id long, score double")
    teleport = (1.0 - damping) / n
    r0 = 1.0 / n

    def step_fn(contrib):
        if contrib is None:
            src = trans.select("j", (F.lit(r0) * F.col("p")).alias("x"))
        else:
            src = trans.join(contrib, "i", "left_outer").select(
                "j",
                ((F.lit(teleport) + F.coalesce(F.col("c"), F.lit(0.0)))
                 * F.col("p")).alias("x"))
        return src.groupBy(F.col("j").alias("i")).agg(F.sum("x").alias("c"))

    with _loop(spark, n):
        contrib, _ = fixpoint(None, step_fn, iterations)
    # contrib is pinned, so the lazy result no longer reads trans
    release(trans)
    return _finalize(vertices, contrib, teleport)


def pagerank_incremental(
    edges: DataFrame,
    init_scores: DataFrame,
    damping: float = 0.85,
    iterations: int = 5,
    partitions: Optional[int] = None,
) -> DataFrame:
    """Warm-started PageRank: run exactly ``iterations`` pagerank_3f steps
    on ``edges`` starting from ``init_scores`` (id, score) — the
    incremental-recompute primitive for crawl-to-crawl snapshots (pair
    with ``metrics.snapshot_diff``): scores converged on graph@t are a
    far better initial vector for graph@t+Δ than the uniform prior, so a
    handful of iterations recovers convergence instead of dozens.

    Vertices of the new graph absent from ``init_scores`` (new pages)
    enter at the uniform prior 1/n; scores for vertices that left the
    graph are dropped.  With ``init_scores`` = converged scores of the
    SAME graph, the output is a fixpoint (regression-tested).

    Same plan as ``pagerank_fixed``: cached co-partitioned adjacency,
    one O(distinct-dst) shuffle per iteration, adjacency freed after
    the loop; the init join is one extra O(V) hash join before it.
    """
    prepared = prepare_graph(edges, None, damping, partitions)
    adj, vertices, n = prepared.adj, prepared.vertices, prepared.n
    if n == 0:
        return edges.sparkSession.createDataFrame([], "id long, score double")
    teleport = (1.0 - damping) / n
    # dedup defensively: a duplicate id in the init frame would duplicate
    # the vertex row through the left join and corrupt every iteration
    init_1 = (init_scores.groupBy("id")
              .agg(F.max("score").alias("_s0")))
    contrib0 = (
        vertices.select(F.col("id").alias("i"))
        .join(init_1.select(F.col("id").alias("i"), "_s0"), "i", "left_outer")
        .select("i", (F.coalesce(F.col("_s0"), F.lit(1.0 / n))
                      - F.lit(teleport)).alias("c"))
    )
    with _loop(adj.sparkSession, n, prepared.width):
        contrib, _ = fixpoint(
            materialize(contrib0),
            lambda c: _step(adj, teleport, 1.0 / n, c), iterations)
    release(adj)
    return _finalize(vertices, contrib, teleport)
