"""HITS (hubs & authorities) and personalized PageRank — link-analysis
centralities built on the same sparse-SpMV loop shape as
``algorithms/pagerank.py``.

HITS (Kleinberg): a = A^T h ; h = A a, normalized each round.  With L1
normalization over non-negative iterates, per-round normalization only
rescales — the direction after K rounds is identical to normalizing ONCE at
the end, so the loop runs UNNORMALIZED (two sparse SpMVs per round, no
per-round global aggregate/action) and divides by the final sums when
materializing scores.  That both halves the per-round stage count and makes
the fixed-K unrolled SQL oracle exact.  SALSA is the same loop with
degree-normalized edge weights; both run one pinned (id, x, y) state, one
job of three stages per round.

Personalized PageRank: PageRank with the teleport vector concentrated on a
seed set S (uniform 1/|S|), pagerank_3f dangling convention (dangling
vertices contribute teleport only — reference
``notebooks/Pagerank Demo.ipynb`` cell 9's ewise-mult intersection).  The
rank vector is kept SPARSE: its support is exactly the vertices within K
hops of S, so on a 10^9-vertex graph a 5-seed PPR touches only the seed
neighborhood — the frontier-sized shuffles are the whole point of running
this sparse instead of reusing the dense-teleport pagerank loop.

Every loop here — HITS/SALSA, PPR, Katz, eigenvector, the distance
waves and both Brandes waves — builds its edge relation once and runs on
the loop driver ``plans/iterate.fixpoint``: one pinned state per round,
the replaced state freed, no driver probe inside the loop, shuffle width
derived from the moving-state size (``loop_shuffle_width``), zero
per-row Python.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graph_python_spark.operators.blocks import vertex_ids
from graph_python_spark.plans.iterate import (fixpoint, frontier_fixpoint,
                                              iterative, loop_shuffle_width,
                                              materialize, release)


def hits_fixed(
    edges: DataFrame,
    iterations: int = 8,
    partitions: Optional[int] = None,
) -> DataFrame:
    """Exactly ``iterations`` HITS rounds on the deduped directed edge set
    (long columns i -> j).  Returns (id, hub, auth) over ALL vertices,
    L1-normalized (each column sums to 1; a vertex with no out-edges has
    hub 0, no in-edges auth 0).  h_0 = 1 on every vertex.
    """
    def weigh(eb: DataFrame) -> tuple[DataFrame, DataFrame]:
        # a = Aᵀh reads h by source, h = A a reads a by target
        one = F.lit(1.0).alias("w")
        return (eb.select(F.col("i").alias("k"), F.col("j").alias("o"), one),
                eb.select(F.col("j").alias("k"), F.col("i").alias("o"), one))

    return _hub_authority(edges, weigh, iterations, partitions, start="hub")


def salsa_fixed(
    edges: DataFrame,
    iterations: int = 6,
    partitions: Optional[int] = None,
) -> DataFrame:
    """SALSA (Lempel & Moran) — HITS's random-walk cousin: hubs and
    authorities from the alternating backward/forward DEGREE-NORMALIZED
    walk instead of raw mutual reinforcement, which makes it robust to the
    tightly-knit-community effect that inflates HITS scores.

        h_i ← Σ_{i→j} a_j / din(j)        (backward: pick a random in-link)
        a_j ← Σ_{i→j} h_i / dout(i)       (forward: pick a random out-link)

    Exactly ``iterations`` rounds from a uniform authority vector,
    L1-normalized at the end — deterministic, so a fixed SQL unroll
    oracles it.  (Known limit: within a connected bipartite support
    component, authority converges to din/Σdin — the sanity property the
    tests check.)

    Plan: the HITS loop with the two normalization factors baked into
    its pinned edge copies as per-EDGE constants (1/din(j) on the
    backward half, 1/dout(i) on the forward half).
    """
    def weigh(eb: DataFrame) -> tuple[DataFrame, DataFrame]:
        din = eb.groupBy("j").agg(F.count("*").alias("_di"))
        dout = eb.groupBy("i").agg(F.count("*").alias("_do"))
        return (eb.join(din, "j").select(
                    F.col("j").alias("k"), F.col("i").alias("o"),
                    (F.lit(1.0) / F.col("_di")).alias("w")),
                eb.join(dout, "i").select(
                    F.col("i").alias("k"), F.col("j").alias("o"),
                    (F.lit(1.0) / F.col("_do")).alias("w")))

    return _hub_authority(edges, weigh, iterations, partitions, start="auth")


@iterative
def _hub_authority(edges: DataFrame, weigh, iterations: int,
                   partitions: Optional[int], start: str) -> DataFrame:
    """The HITS/SALSA loop: exactly ``iterations`` rounds of y = W₁ᵀx,
    x = W₂ᵀy from x = 1 (x the ``start`` vector, "hub" or "auth") on
    every vertex of the deduped directed edge set; ``weigh(eb)`` maps
    its edges (i, j) to the two half-step relations (k, o, w), which send
    k's value times w to o.  Returns (id, hub, auth), each column
    divided by its sum (a missing value is 0).

    The state is one vertex frame (id, x, y), one pinned job a round.
    The second relation also carries a row (v, v, null) per vertex, so
    ONE join of the first half-step's y to it yields both the new x's
    contributions and each vertex's own y for ONE groupBy(id): y is
    computed once (unioning y with the contributions would plan a
    second, unreused copy of it).  Both relations are pinned hash(k) at
    the loop width, as is every aggregate, so no join side exchanges;
    the two per-round shuffles are the SpMV re-keyings themselves.  (The
    PageRank adjacency-ARRAY form costs more than it saves over <=8
    rounds — break-even at 22.9M edges — so the edge form stays.)"""
    spark = edges.sparkSession
    eb = materialize(edges.select("i", "j").dropDuplicates(["i", "j"]))
    vertices = vertex_ids(eb)
    with loop_shuffle_width(spark, vertices.count()) as width:
        w = partitions if partitions is not None else width
        if partitions is not None:
            # align the loop aggregates' output width with the pinned
            # edge copies (the context restores the session value on exit)
            spark.conf.set("spark.sql.shuffle.partitions", str(partitions))
        first, second = weigh(eb)
        diagonal = vertices.select(F.col("id").alias("k"),
                                   F.col("id").alias("o"),
                                   F.lit(None).cast("double").alias("w"))
        first = materialize(first.repartition(w, "k"))
        second = materialize(second.unionByName(diagonal).repartition(w, "k"))

        def spmv(rel: DataFrame, vec: DataFrame) -> DataFrame:
            # hash the vector: its size estimate grows every round
            return (rel.join(vec.toDF("k", "_v").hint("shuffle_hash"), "k")
                    .groupBy(F.col("o").alias("id")))

        def step(state: DataFrame) -> DataFrame:
            y = spmv(first, state.select("id", "x")).agg(
                F.sum(F.col("_v") * F.col("w")).alias("y"))
            return spmv(second, y).agg(
                F.sum(F.col("_v") * F.col("w")).alias("x"),
                F.sum(F.when(F.col("w").isNull(), F.col("_v"))).alias("y"))

        state, _ = fixpoint(
            vertices.select("id", F.lit(1.0).alias("x"),
                            F.lit(None).cast("double").alias("y")),
            step, iterations)
    release(eb, first, second)
    hub, auth = ("x", "y") if start == "hub" else ("y", "x")
    sums = state.agg(F.sum(hub), F.sum(auth)).first()
    hsum, asum = float(sums[0]), float(sums[1])
    return state.select(
        "id",
        (F.coalesce(F.col(hub), F.lit(0.0)) / F.lit(hsum)).alias("hub"),
        (F.coalesce(F.col(auth), F.lit(0.0)) / F.lit(asum)).alias("auth"),
    )


@iterative
def ppr_fixed(
    edges: DataFrame,
    seeds: DataFrame,
    iterations: int = 6,
    damping: float = 0.85,
    partitions: Optional[int] = None,
) -> DataFrame:
    """Exactly ``iterations`` personalized-PageRank steps from ``seeds``
    (column id).  r_0 = p = uniform(seeds); r_{t+1} = (1-d) p + d A_row^T r_t
    with out-degree row normalization over the deduped edge set (binarized,
    Matrix ``one(A)`` convention) and pagerank_3f dangling semantics.

    Returns the SPARSE result (id, score): exactly the vertices with
    score > 0 — seeds plus everything within ``iterations`` hops.
    """
    n_seeds = seeds.count()
    if n_seeds == 0:
        return edges.sparkSession.createDataFrame([], "id long, score double")
    return _seeded_pagerank(edges, seeds, n_seeds, iterations, damping,
                           partitions)


def _seeded_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    norm: int,
    iterations: int,
    damping: float,
    partitions: Optional[int],
) -> DataFrame:
    """Exactly ``iterations`` steps of r_{t+1} = (1-d)·p + d·A_row^T r_t
    with p = 1/``norm`` on ``seeds`` (column id), 0 elsewhere, and
    r_0 = p — sparse support, pagerank_3f dangling convention.  The one
    seeded loop: ``ppr_fixed`` passes norm = |seeds|, TrustRank's
    core-biased PageRank norm = |V|.  As in the oracles, the teleport
    term is written (1-d)/norm and r_0 as 1/norm.

    Returns the sparse (id, score) relation, reading only the last
    pinned state once a step has run."""
    eb = edges.select("i", "j").distinct()
    if partitions is not None:
        eb = eb.repartition(partitions, "i")
    # fold out-degree normalization + damping into the edge relation once:
    # (i, j, t = d / deg_out(i)) — the loop is then a single join + agg
    et = materialize(
        eb.join(eb.groupBy("i").agg(F.count("*").alias("_deg")), "i")
        .select("i", "j", (F.lit(damping) / F.col("_deg")).alias("t"))
    )
    tel = materialize(
        seeds.select(F.col("id").alias("i"),
                     F.lit((1.0 - damping) / norm).alias("p"))
    )

    def step(r):
        contrib = (
            et.join(r, "i")
            .select(F.col("j").alias("i"), (F.col("t") * F.col("v")).alias("w"))
            .groupBy("i")
            .agg(F.sum("w").alias("c"))
        )
        return (
            tel.join(contrib, "i", "full_outer")
            .select("i", (F.coalesce(F.col("p"), F.lit(0.0))
                          + F.coalesce(F.col("c"), F.lit(0.0))).alias("v"))
        )

    # width bound: support can grow to O(V) <= O(E); sizing by the edge
    # count never under-partitions an expansive graph, while a genuinely
    # local PPR still gets the narrow-loop win from the configured cap
    with loop_shuffle_width(edges.sparkSession, max(et.count(), 1)):
        r, done = fixpoint(tel.select("i", F.lit(1.0 / norm).alias("v")),
                           step, iterations)
    # with no step run, r is still a view of tel
    release(et, tel if done else None)
    return r.select(F.col("i").alias("id"), F.col("v").alias("score"))


@iterative
def ppr_batch(
    edges: DataFrame,
    seeds: DataFrame,
    iterations: int = 6,
    damping: float = 0.85,
    partitions: Optional[int] = None,
) -> DataFrame:
    """Batch personalized PageRank: an INDEPENDENT PPR vector per seed,
    all advanced in one loop — the state is keyed (seed, i), so k seeds
    cost the same number of shuffles as one (the multi-source batching of
    ``landmark_distances`` applied to the PPR contrib loop).  This is the
    shape personalization runs at scale: one job for a whole batch of
    users/pages, not a job per seed.

    Per seed: r_0 = e_seed; r_{t+1} = (1-d) e_seed + d A_row^T r_t over
    the deduped binarized edge set (same conventions as ``ppr_fixed``).
    State and shuffle volume are O(k x support); the transition relation
    is built once and reused every iteration.

    Returns the sparse (seed, id, score) relation: for each seed exactly
    the vertices within ``iterations`` hops.
    """
    eb = edges.select("i", "j").distinct()
    if partitions is not None:
        eb = eb.repartition(partitions, "i")
    et = materialize(
        eb.join(eb.groupBy("i").agg(F.count("*").alias("_deg")), "i")
        .select("i", "j", (F.lit(damping) / F.col("_deg")).alias("t"))
    )
    tel = materialize(
        seeds.select(F.col("id").alias("s"), F.col("id").alias("i"),
                     F.lit(1.0 - damping).alias("p"))
    )

    def step(r):
        contrib = (
            et.join(r, "i")
            .select("s", F.col("j").alias("i"),
                    (F.col("t") * F.col("v")).alias("w"))
            .groupBy("s", "i")
            .agg(F.sum("w").alias("c"))
        )
        return (
            tel.join(contrib, ["s", "i"], "full_outer")
            .select("s", "i", (F.coalesce(F.col("p"), F.lit(0.0))
                               + F.coalesce(F.col("c"), F.lit(0.0))).alias("v"))
        )

    with loop_shuffle_width(edges.sparkSession, max(et.count(), 1)):
        r, done = fixpoint(tel.select("s", "i", F.lit(1.0).alias("v")),  # r_0 = e_seed
                           step, iterations)
    release(et, tel if done else None)
    return r.select(F.col("s").alias("seed"), F.col("i").alias("id"),
                    F.col("v").alias("score"))


@iterative
def betweenness_sources(
    edges: DataFrame,
    sources: DataFrame,
    max_levels: int = 8,
    partitions: Optional[int] = None,
) -> DataFrame:
    """Brandes betweenness restricted to a source set, batched multi-source
    (the LAGraph batch-BC shape: forward sigma wave = masked plus_times
    SpMV per level, backward dependency wave = transposed SpMV — SURVEY
    §2.8's traversal kernels reused twice).

    Directed, unweighted, over the deduped edge set.  Runs at most
    ``max_levels`` BFS levels (stops early when the frontier empties —
    further levels are identity, which is what lets a fixed-unroll SQL
    oracle check it) then accumulates dependencies level by level:

        delta(v) = sum over successors w one level deeper:
                   sigma(v)/sigma(w) * (1 + delta(w))

    Returns (id, bc): for every vertex reached at level >= 1 from any
    source, the summed dependency over the batch (unnormalized, exact for
    the given sources; vertices never on any shortest path get bc 0.0).

    All levels are processed for the WHOLE batch at once — the state is
    keyed (src, v), so a 1000-source batch on a 1000-executor cluster is
    one wave of joins per level, not 1000 sequential BFS runs.  Both
    waves run on the loop driver over ONE pinned state
    (src, v, sigma, level): the forward wave is a frontier push, and the
    backward wave adds ``delta`` and a level cursor ``_d`` and fills in
    one level per round, deepest first.  The edge relation is pinned
    partitioned on its join key.
    """
    spark = edges.sparkSession
    eb = edges.select("i", "j")
    if partitions is not None:
        eb = eb.repartition(partitions, "i")
    else:
        eb = eb.repartition("i")
    eb = materialize(eb.dropDuplicates(["i", "j"]))
    n_edges = eb.count()

    def forward(front: DataFrame) -> DataFrame:
        # hash the state side: its size estimate grows every round
        return (
            eb.join(front.select("src", F.col("v").alias("i"), "sigma",
                                 "level").hint("shuffle_hash"), "i")
            .groupBy("src", F.col("j").alias("v"))
            .agg(F.sum("sigma").alias("sigma"),
                 (F.max("level") + 1).alias("level"))
        )

    def backward(state: DataFrame) -> DataFrame:
        # dependency step for level _d: v's successors on the shortest-
        # path DAG are exactly its out-neighbors one level deeper
        at = F.col("level") - F.col("_d")
        succ = state.filter(at == 1).select(
            "src", F.col("v").alias("j"), F.col("sigma").alias("sigma_w"),
            F.col("delta").alias("delta_w"))
        cur = state.filter(at == 0).select("src", F.col("v").alias("i"),
                                            "sigma")
        contrib = (
            eb.join(cur.hint("shuffle_hash"), "i")
            .join(succ, ["src", "j"])
            .groupBy("src", F.col("i").alias("v"))
            .agg(F.sum((F.col("sigma").cast("double") / F.col("sigma_w"))
                       * (F.lit(1.0) + F.col("delta_w"))).alias("_dv"))
        )
        return (
            state.join(contrib, ["src", "v"], "left")
            .select("src", "v", "sigma", "level",
                    F.coalesce("_dv", "delta").alias("delta"),
                    (F.col("_d") - 1).alias("_d"))
        )

    with loop_shuffle_width(spark, max(n_edges, 1)):
        reached, rounds = frontier_fixpoint(
            sources.select(F.col("id").alias("src"), F.col("id").alias("v"),
                           F.lit(1).cast("long").alias("sigma"),
                           F.lit(0).alias("level")),
            forward, ["src", "v"], max_levels)
        # every round but the last adds a level; a run cut at max_levels
        # may have added one in its last round too
        depth = rounds if rounds == max_levels else rounds - 1
        state, _ = fixpoint(
            reached.select("src", "v", "sigma", "level",
                           F.lit(0.0).alias("delta"),
                           F.lit(depth - 1).alias("_d")),
            backward, depth - 1)
        out = materialize(state.filter(F.col("level") >= 1)
                          .groupBy(F.col("v").alias("id"))
                          .agg(F.sum("delta").alias("bc")))
    release(reached, state, eb)
    return out


@iterative
def katz_fixed(
    edges: DataFrame,
    iterations: int = 6,
    alpha: float = 0.1,
    partitions: Optional[int] = None,
) -> DataFrame:
    """Exactly ``iterations`` Katz-centrality steps on the deduped directed
    edge set: x_{t+1}(j) = 1 + alpha * sum_{i->j} x_t(i), x_0 = 1 — the
    truncated Neumann series sum_k (alpha*A^T)^k 1 (converges for
    alpha < 1/rho(A); fixed-K keeps the unrolled SQL oracle exact).
    Returns (id, katz) over all vertices, unnormalized.

    Same loop shape as the other SpMV centralities: edge table pinned
    once partitioned on the join key, one O(E) contribution shuffle per
    round, per-round state pinned.
    """
    x = _in_spmv_fixed(
        edges, iterations, partitions, F.lit(1.0),
        lambda c: F.lit(1.0) + F.lit(alpha) * F.coalesce(c, F.lit(0.0)))
    return x.select("id", F.col("v").alias("katz"))


@iterative
def eigenvector_fixed(
    edges: DataFrame,
    iterations: int = 6,
    partitions: Optional[int] = None,
) -> DataFrame:
    """Exactly ``iterations`` power-iteration steps of eigenvector
    centrality on the binarized deduped edge set (long columns i -> j):
    x_{t+1}(j) = sum_{i->j} x_t(i)  (an A^T x SpMV — the same plus_times
    kernel as ``katz_fixed`` without the teleport term), x_0 = 1.

    With a non-negative matrix and non-negative iterates, per-round
    normalization only rescales, so the loop runs UNNORMALIZED on exact
    64-bit integers — every partial sum is order-independent, making the
    result bit-identical across engines and partitionings — and divides by
    the final L1 sum once when materializing scores (reference analogue:
    repeated ``mxv`` over plus_times, SURVEY §2.1).  Integer growth is
    bounded by n * max_in_degree^K; at 100 TB scale with large K switch the
    accumulator to double and accept last-ulp noise.  Returns (id, score)
    over all vertices, L1-normalized (score sums to 1; vertices with no
    in-edges reached within K rounds score 0).
    """
    x = _in_spmv_fixed(
        edges, iterations, partitions, F.lit(1).cast("long"),
        lambda c: F.coalesce(c, F.lit(0)).cast("long"))
    total = x.agg(F.sum("v")).first()[0] or 1
    return x.select(
        "id", (F.col("v").cast("double") / F.lit(float(total))).alias("score"))


def _in_spmv_fixed(edges: DataFrame, iterations: int,
                   partitions: Optional[int], x0, update) -> DataFrame:
    """Exactly ``iterations`` rounds of x(j) ← update(Σ_{i→j} x(i)) over
    every vertex of the deduped directed edge set, from x = ``x0``;
    ``update`` maps the summed contribution Column (null where nothing
    flows in) to the new value.  Returns (id, v): the last pinned round,
    which reads nothing else once a round has run."""
    spark = edges.sparkSession
    raw = edges.select("i", "j")
    vertices = materialize(vertex_ids(raw))
    n = vertices.count()
    with loop_shuffle_width(spark, n) as width:
        w = partitions if partitions is not None else width
        if partitions is not None:
            spark.conf.set("spark.sql.shuffle.partitions", str(partitions))
        eb = materialize(raw.repartition(w, "i").dropDuplicates(["i", "j"]))

        def step(x):
            contrib = (
                eb.join(x.withColumnRenamed("id", "i"), "i")
                .groupBy(F.col("j").alias("id"))
                .agg(F.sum("v").alias("c"))
            )
            return (vertices.join(contrib, "id", "left_outer")
                    .select("id", update(F.col("c")).alias("v")))

        x, done = fixpoint(vertices.select("id", x0.alias("v")), step,
                           iterations)
    # with no round run, x is still a view of vertices
    release(eb, vertices if done else None)
    return x


def _multi_source_distances(
    edges: DataFrame,
    sources: DataFrame,
    rounds: int,
    partitions: Optional[int],
) -> DataFrame:
    """Batched multi-source fixed-round min-plus distances, pinned:
    (src, id, v) for every vertex reached from a source within ``rounds``
    synchronous relaxations (v = 0 on the sources themselves).

    The state is keyed (src, v) like the batch-Brandes forward wave: a
    1000-source sample is ONE wave of joins per round, not 1000 BFS runs,
    and the per-round shuffle is O(reached (src, v) pairs)."""
    spark = edges.sparkSession
    eb = edges.select("i", "j")
    if partitions is not None:
        eb = eb.repartition(partitions, "i")
    else:
        eb = eb.repartition("i")
    eb = materialize(eb.dropDuplicates(["i", "j"]))
    n_edges = eb.count()

    def step(dist):
        cand = (
            eb.join(dist.withColumnRenamed("id", "i"), "i")
            .groupBy("src", F.col("j").alias("id"))
            .agg(F.min(F.col("v") + 1).alias("_nd"))
        )
        return (
            dist.join(cand, ["src", "id"], "full_outer")
            .select("src", "id",
                    F.least(F.col("v"), F.col("_nd")).alias("v"))
        )

    with loop_shuffle_width(spark, max(n_edges, 1)):
        dist, _ = fixpoint(
            materialize(sources.select(
                F.col("id").alias("src"), F.col("id").alias("id"),
                F.lit(0).cast("long").alias("v"))),
            step, rounds)
    release(eb)
    return dist


@iterative
def harmonic_centrality(
    edges: DataFrame,
    sources: DataFrame,
    rounds: int = 8,
    partitions: Optional[int] = None,
) -> DataFrame:
    """Harmonic centrality restricted to a source sample, batched
    multi-source:  H(v) = Σ_{s ∈ S, d(s,v) ≥ 1}  1 / d(s,v), with d the
    directed unweighted shortest-path distance after exactly ``rounds``
    synchronous min-plus relaxations (the same fixed-round semantics as
    ``minplus_fixed_rounds``, so the result is a deterministic function of
    the graph and SQL-unrollable).  Returns (id, harmonic) for every
    vertex reached from at least one source at distance >= 1.
    """
    dist = _multi_source_distances(edges, sources, rounds, partitions)
    out = (
        dist.filter(F.col("v") > 0)
        .groupBy("id")
        .agg(F.sum(F.lit(1.0) / F.col("v")).alias("harmonic"))
    )
    out = out.localCheckpoint(eager=True)
    release(dist)
    return out


@iterative
def closeness_centrality(
    edges: DataFrame,
    sources: DataFrame,
    rounds: int = 8,
    partitions: Optional[int] = None,
) -> DataFrame:
    """Sampled closeness centrality (Wasserman–Faust inward form over a
    source sample): for each vertex v reached from at least one source at
    distance >= 1,

        closeness(v) = n_reached(v) / Σ_{s ∈ S, d(s,v) ≥ 1} d(s, v)

    with the same batched fixed-round min-plus distances as
    ``harmonic_centrality`` — integer distance sums, one division at the
    end, so any engine computes identical bits.  Returns
    (id, n_reached, sum_dist, closeness).
    """
    dist = _multi_source_distances(edges, sources, rounds, partitions)
    out = (
        dist.filter(F.col("v") > 0)
        .groupBy("id")
        .agg(F.count("*").cast("long").alias("n_reached"),
             F.sum("v").cast("long").alias("sum_dist"))
        .select("id", "n_reached", "sum_dist",
                (F.col("n_reached").cast("double")
                 / F.col("sum_dist").cast("double")).alias("closeness"))
    )
    out = out.localCheckpoint(eager=True)
    release(dist)
    return out
