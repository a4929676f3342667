"""Approximate neighborhood function (ANF / HyperANF-style) via
k-minimum-values sketches.

N(v, r) = |{u : d(v → u) ≤ r}| for every vertex at once.  Exact
computation is an all-pairs BFS (O(V) state per vertex — the batched
Brandes/closeness loops do it for a source *sample*); the classic
scale answer (Palmer et al. ANF, KDD'02; Boldi et al. HyperANF,
WWW'11) keeps a fixed-size distinct-counting sketch per vertex and
iterates sketch(v) ← sketch(v) ∪ ⋃_{v→u} sketch(u), one min-plus-shaped
shuffle per radius, O(V·k) total state at any radius.

HyperANF uses HyperLogLog registers; here we use k-minimum-values (KMV,
Bar-Yossef et al.) over md5 — deliberately, for engine parity: the
sketch is the k smallest int64 digests (first 15 md5 hex chars — numeric
order equals the hex prefix's lexicographic order), so the whole loop is
expressible in portable SQL (the DuckDB oracle replays it exactly),
union = array merge + sort + truncate, and the estimator
(k−1)/frac(kth digest) is a deterministic function of the input.  At
k = 16 the KMV estimate has ~26% relative standard error per vertex —
the same accuracy class HyperANF runs at; sums over vertices (the
neighborhood function itself) concentrate much tighter.

Scale shape: state is (v, sketch: array<long> ≤ k); each round is ONE
shuffle — edges(i,j) ⋈ state(j) then groupBy(i) flatten/sort/slice, all
JVM array expressions — on the same key the edge table is pre-partitioned
by, exactly the SpMV plan PageRank runs.  Sketch rows are bounded (k·8
bytes), so there is no hub-row blowup: a 10⁸-degree vertex still carries
a ≤ k-element sketch.

No reference counterpart (python-graphblas has no sketching); closest is
iterated mxv reachability (``notebooks/Example B.1``) which this bounds
in memory.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graph_python_spark.operators.blocks import simple, vertex_ids
from graph_python_spark.plans.iterate import iterative, loop_shuffle_width, materialize


def _digest64():
    """Vertex digest: first 15 hex chars of md5(id) as int64 (60 bits).
    Numeric order equals lexicographic order of the fixed-width
    lowercase-hex prefix, so the SQL replay stays exact while the
    per-round sketch exchange carries 8-byte longs instead of 33-byte
    strings (~5x lighter; measured 4x on the 22.9M-edge fixture)."""
    return F.conv(
        F.substring(F.md5(F.col("id").cast("string")), 1, 15), 16, 10
    ).cast("long")


def _merge_sketches(col, k: int):
    """k smallest distinct digests of a flattened array-of-arrays."""
    return F.slice(F.array_sort(F.array_distinct(F.flatten(col))), 1, k)


@iterative
def anf_sketches(
    edges: DataFrame,
    radius: int = 3,
    k: int = 16,
    partitions: Optional[int] = None,
) -> DataFrame:
    """KMV sketches of the out-ball of every vertex after ``radius``
    rounds.  Returns (id, n_exact, est_reach):

    * ``n_exact`` — the sketch size; when < k the ball was counted
      EXACTLY (every member's digest is in the sketch), and est_reach
      equals it.
    * ``est_reach`` — KMV estimate (k−1)/U(kth digest) when the sketch
      saturated, where U maps the int64 digest to (0,1); rounded
      to 1e-6.  The ball includes v itself.
    """
    e = edges.select(F.col("i").alias("s"), F.col("j").alias("d")).distinct()
    verts = vertex_ids(e, "s", "d")
    n_verts = verts.count()

    with loop_shuffle_width(edges.sparkSession, n_verts) as width:
        # edges partitioned by source once; every round's join reuses it
        e = materialize(e.repartition(partitions or width, "s"))
        state = materialize(
            verts.select("id", F.array(_digest64()).alias("sketch")))
        for _ in range(radius):
            nbr = (
                e.join(state.select(F.col("id").alias("d"), "sketch"), "d")
                .groupBy(F.col("s").alias("id"))
                .agg(F.collect_list("sketch").alias("nbr_sketches"))
            )
            new = (
                state.join(nbr, "id", "left")
                .select(
                    "id",
                    _merge_sketches(
                        F.concat(F.array(F.col("sketch")),
                                 F.coalesce(F.col("nbr_sketches"),
                                            F.array().cast("array<array<long>>"))),
                        k).alias("sketch"))
            )
            prev, state = state, materialize(new)
            prev.unpersist()

    kth_frac = (F.element_at("sketch", k).cast("double")
                / F.lit(float(16 ** 15)))
    n_exact = F.size("sketch").cast("long")
    out = (
        state.select(
            "id", n_exact.alias("n_exact"),
            F.round(
                F.when(n_exact < k, n_exact.cast("double"))
                .otherwise(F.lit(float(k - 1)) / kth_frac), 6).alias("est_reach"))
    )
    out = out.localCheckpoint(eager=True)
    state.unpersist()
    e.unpersist()
    return out


@iterative
def neighborhood_function(
    edges: DataFrame,
    radius: int = 3,
    k: int = 16,
    partitions: Optional[int] = None,
) -> DataFrame:
    """The neighborhood function N(r) = Σ_v |ball(v, r)| for r = 0..radius,
    estimated from the same KMV sketch loop as :func:`anf_sketches`, plus
    the effective-diameter curve: ``frac`` = N(r) / N(radius).  The
    effective diameter at q is the smallest r with frac ≥ q (ANF's
    canonical use — Palmer et al. KDD'02 §4).

    Per-vertex estimates are quantized to integer micro-units BEFORE the
    global sum (`sum(round(est*1e6))` as BIGINT) so the total is
    order-independent and engine-bit-identical — the same trick the
    k-means centroid update uses.  One extra 1-row aggregate per round;
    no driver-side collect anywhere.
    """
    e = edges.select(F.col("i").alias("s"), F.col("j").alias("d")).distinct()
    verts = vertex_ids(e, "s", "d")
    n_verts = verts.count()

    def _total(state: DataFrame, r: int) -> DataFrame:
        kth_frac = (F.element_at("sketch", k).cast("double")
                    / F.lit(float(16 ** 15)))
        n_exact = F.size("sketch")
        est = (F.when(n_exact < k, n_exact.cast("double"))
               .otherwise(F.lit(float(k - 1)) / kth_frac))
        return state.agg(
            F.lit(r).cast("long").alias("r"),
            F.sum(F.round(est * 1e6, 0).cast("long")).alias("total_micro"))

    with loop_shuffle_width(edges.sparkSession, n_verts) as width:
        e = materialize(e.repartition(partitions or width, "s"))
        state = materialize(
            verts.select("id", F.array(_digest64()).alias("sketch")))
        totals = [materialize(_total(state, 0))]
        for t in range(1, radius + 1):
            nbr = (
                e.join(state.select(F.col("id").alias("d"), "sketch"), "d")
                .groupBy(F.col("s").alias("id"))
                .agg(F.collect_list("sketch").alias("nbr_sketches"))
            )
            new = (
                state.join(nbr, "id", "left")
                .select(
                    "id",
                    _merge_sketches(
                        F.concat(F.array(F.col("sketch")),
                                 F.coalesce(F.col("nbr_sketches"),
                                            F.array().cast("array<array<long>>"))),
                        k).alias("sketch"))
            )
            prev, state = state, materialize(new)
            prev.unpersist()
            totals.append(materialize(_total(state, t)))
        state.unpersist()
        e.unpersist()

    curve = totals[0]
    for t in totals[1:]:
        curve = curve.unionByName(t)
    final = totals[-1].select(F.col("total_micro").alias("_tm"))
    out = (
        curve.crossJoin(F.broadcast(final))
        .select("r", "total_micro",
                F.round(F.col("total_micro").cast("double") / F.col("_tm"), 6)
                .alias("frac"))
    )
    out = out.localCheckpoint(eager=True)
    for t in totals:
        t.unpersist()
    return out


@iterative
def hyperball_harmonic(
    edges: DataFrame,
    radius: int = 3,
    k: int = 16,
    reverse: bool = True,
    partitions: Optional[int] = None,
) -> DataFrame:
    """HyperBall-style approximate harmonic centrality (Boldi & Vigna,
    "In-core computation of geometric centralities with HyperBall",
    ICDMW'14): H(v) = Σ_u 1/d(u → v), estimated from the per-radius ball
    growth of the same KMV sketch loop as :func:`anf_sketches` —

        H(v) ≈ Σ_{r=1..radius} (|B(v,r)| − |B(v,r−1)|) / r

    with |B(v,r)| the sketch estimate after round r.  ``reverse=True``
    (the default, and the centrality's definition) grows balls along
    REVERSED edges so distances are incoming; ``reverse=False`` gives the
    out-harmonic.  Truncation at ``radius`` is the standard HyperBall
    trade: vertices farther than ``radius`` contribute 0 (their weight
    1/d is the smallest anyway).

    Exactness contract: when a ball stays under k members the estimate is
    its exact size, so on graphs whose ``radius``-balls fit in k the
    result is the exact truncated harmonic centrality; the DuckDB oracle
    replays the identical KMV loop (digit-for-digit: same digests, same
    (k−1)/U estimator, same left-associated Δ/r accumulation), so the
    parity check holds even for saturated sketches.

    Digests are the first 15 hex chars of md5(id) as int64 (60 bits) —
    NOT the 33-byte hex strings anf_sketches carries: at 4M vertices the
    per-round sketch exchange drops ~5× (16·8B longs vs 16·33B strings)
    and the merge sorts machine ints, while lexicographic order of the
    fixed-width lowercase-hex prefix equals numeric order, so the SQL
    replay stays exact (prefix collisions fold identically in both
    engines).

    Scale shape: identical to :func:`anf_sketches` — one edge ⋈ state
    shuffle per radius over a pinned source-partitioned edge table,
    O(V·k) state; the per-round (id, est) snapshots are O(V)-thin and
    only joined once at the end.  No reference counterpart
    (python-graphblas has no sketches); this is the scale path the exact
    ``algorithms/centrality.harmonic_sampled`` cannot take past a few
    thousand sources.
    """
    src, dst = ("j", "i") if reverse else ("i", "j")
    e = simple(edges, src, dst).toDF("s", "d")
    verts = vertex_ids(e, "s", "d")
    n_verts = verts.count()

    def _est(state: DataFrame) -> DataFrame:
        kth_frac = (F.element_at("sketch", k).cast("double")
                    / F.lit(float(16 ** 15)))
        n_exact = F.size("sketch")
        return state.select(
            "id",
            F.when(n_exact < k, n_exact.cast("double"))
            .otherwise(F.lit(float(k - 1)) / kth_frac).alias("est"))

    digest = F.conv(
        F.substring(F.md5(F.col("id").cast("string")), 1, 15), 16, 10
    ).cast("long")
    with loop_shuffle_width(edges.sparkSession, n_verts) as width:
        e = materialize(e.repartition(partitions or width, "s"))
        state = materialize(
            verts.select("id", F.array(digest).alias("sketch")))
        ests = [materialize(_est(state))]
        for _ in range(radius):
            nbr = (
                e.join(state.select(F.col("id").alias("d"), "sketch"), "d")
                .groupBy(F.col("s").alias("id"))
                .agg(F.collect_list("sketch").alias("nbr_sketches"))
            )
            new = (
                state.join(nbr, "id", "left")
                .select(
                    "id",
                    _merge_sketches(
                        F.concat(F.array(F.col("sketch")),
                                 F.coalesce(F.col("nbr_sketches"),
                                            F.array().cast("array<array<long>>"))),
                        k).alias("sketch"))
            )
            prev, state = state, materialize(new)
            prev.unpersist()
            ests.append(materialize(_est(state)))
        state.unpersist()
        e.unpersist()

    # left-associated Δ/r accumulation — the oracle mirrors this exact
    # expression tree, so the double arithmetic is engine-bit-identical
    out = ests[0].select("id", F.col("est").alias("est0"))
    for r in range(1, radius + 1):
        out = out.join(
            ests[r].select("id", F.col("est").alias(f"est{r}")), "id")
    h = F.lit(0.0)
    for r in range(1, radius + 1):
        h = h + (F.col(f"est{r}") - F.col(f"est{r - 1}")) / F.lit(float(r))
    out = out.select("id", F.round(h, 6).alias("harmonic"))
    out = out.localCheckpoint(eager=True)
    for s in ests:
        s.unpersist()
    return out


def effective_diameter(
    edges: DataFrame,
    q: float = 0.9,
    radius: int = 8,
    k: int = 16,
    partitions: Optional[int] = None,
) -> DataFrame:
    """Interpolated effective diameter at quantile ``q`` (ANF's canonical
    read-off — Palmer et al. KDD'02 §4.1): the smallest (fractional)
    radius r such that N(r) ≥ q·N(radius), linearly interpolated between
    the two bracketing integer radii:

        eff = (r−1) + (q·N(R) − N(r−1)) / (N(r) − N(r−1))

    computed from the :func:`neighborhood_function` curve (the quantized
    ``total_micro`` values, so the interpolation arithmetic is
    engine-identical).  Returns ONE row: (eff_diameter double, r long,
    frac double) where r is the bracketing integer radius and frac its
    curve value.  If N(0) already meets the target (degenerate graphs),
    eff_diameter = 0.

    Cost: the NF sketch loop itself — one SpMV-shaped shuffle per radius;
    the read-off folds a ≤ radius+1-row relation.
    """
    curve = neighborhood_function(edges, radius=radius, k=k,
                                  partitions=partitions)
    total = curve.filter(F.col("r") == radius).select(
        F.col("total_micro").alias("_tm"))
    w = curve.crossJoin(F.broadcast(total))
    # prev derives from the (checkpointed) curve, NOT from w — deriving it
    # from w would plant the 1-row cross join twice in the plan
    prev = curve.select((F.col("r") + 1).alias("r"),
                        F.col("total_micro").alias("_prev"))
    hit = (
        w.join(prev, "r", "left")
        .filter(F.col("total_micro").cast("double")
                >= F.lit(q) * F.col("_tm"))
        .orderBy("r").limit(1)
        .select(
            "r", "frac",
            F.when(F.col("r") == 0, F.lit(0.0))
            .otherwise(
                (F.col("r") - 1)
                + (F.lit(q) * F.col("_tm")
                   - F.col("_prev").cast("double"))
                / (F.col("total_micro") - F.col("_prev")).cast("double"))
            .alias("_eff"))
    )
    out = hit.select(F.round("_eff", 6).alias("eff_diameter"), "r", "frac")
    curve.unpersist()
    return out
