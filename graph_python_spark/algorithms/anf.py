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

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from graph_python_spark.operators.blocks import simple, vertex_ids
from graph_python_spark.plans.iterate import (fixpoint, iterative,
                                              loop_shuffle_width, materialize,
                                              release)


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


def _grow(e: DataFrame, k: int):
    """One radius of ball growth over the source-partitioned edge table
    ``e`` (s, d): sketch(v) ← sketch(v) ∪ ⋃_{v→u} sketch(u), as the step
    of a :func:`fixpoint` loop over the (id, sketch, ...) state; any other
    state columns pass through unchanged."""
    def step(state: DataFrame) -> DataFrame:
        nbr = (
            e.join(state.select(F.col("id").alias("d"), "sketch"), "d")
            .groupBy(F.col("s").alias("id"))
            .agg(F.collect_list("sketch").alias("nbr_sketches"))
        )
        rest = [c for c in state.columns if c not in ("id", "sketch")]
        return (
            state.join(nbr, "id", "left")
            .select(
                "id",
                _merge_sketches(
                    F.concat(F.array(F.col("sketch")),
                             F.coalesce(F.col("nbr_sketches"),
                                        F.array().cast("array<array<long>>"))),
                    k).alias("sketch"),
                *rest)
        )
    return step


def _estimate(k: int):
    """Per-vertex ball-size estimate from a KMV sketch: the exact size
    below k members, else (k−1)/U(kth digest)."""
    kth_frac = (F.element_at("sketch", k).cast("double")
                / F.lit(float(16 ** 15)))
    n_exact = F.size("sketch")
    return (F.when(n_exact < k, n_exact.cast("double"))
            .otherwise(F.lit(float(k - 1)) / kth_frac))


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

    The result reads the last pinned sketch state.
    """
    e = edges.select(F.col("i").alias("s"), F.col("j").alias("d")).distinct()
    verts = vertex_ids(e, "s", "d")
    n_verts = verts.count()

    with loop_shuffle_width(edges.sparkSession, n_verts) as width:
        # edges partitioned by source once; every round's join reuses it
        e = materialize(e.repartition(partitions or width, "s"))
        state, _ = fixpoint(
            materialize(verts.select("id", F.array(_digest64()).alias("sketch"))),
            _grow(e, k), radius)
    release(e)
    return state.select(
        "id", F.size("sketch").cast("long").alias("n_exact"),
        F.round(_estimate(k), 6).alias("est_reach"))


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
    k-means centroid update uses.  Each round's total is observed on the
    round's own pin, so the totals cost no job of their own; the result
    is the (radius + 1)-row curve built from them.
    """
    e = edges.select(F.col("i").alias("s"), F.col("j").alias("d")).distinct()
    verts = vertex_ids(e, "s", "d")
    n_verts = verts.count()

    total = F.sum(F.round(_estimate(k) * 1e6, 0).cast("long")).alias("t")
    observed: list[Observation] = []

    def step(state: DataFrame) -> DataFrame:
        # the round's total is read off its own pin: no extra job
        observed.append(Observation())
        return grow(state).observe(observed[-1], total)

    with loop_shuffle_width(edges.sparkSession, n_verts) as width:
        e = materialize(e.repartition(partitions or width, "s"))
        grow = _grow(e, k)
        state = materialize(
            verts.select("id", F.array(_digest64()).alias("sketch")))
        totals = [state.agg(total).first()["t"]]
        state, _ = fixpoint(state, step, radius)
        totals += [o.get["t"] for o in observed]
    release(state, e)

    return (
        edges.sparkSession.createDataFrame(
            list(enumerate(totals)), "r long, total_micro long")
        .select("r", "total_micro",
                F.round(F.col("total_micro").cast("double")
                        / F.lit(totals[-1]), 6).alias("frac"))
    )


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

    Digests are ``_digest64``, the first 15 hex chars of md5(id) as
    int64 (60 bits), not 33-byte hex strings: at 4M vertices the
    per-round sketch exchange drops ~5× (16·8B longs vs 16·33B strings)
    and the merge sorts machine ints, while lexicographic order of the
    fixed-width lowercase-hex prefix equals numeric order, so the SQL
    replay stays exact (prefix collisions fold identically in both
    engines).

    Scale shape: identical to :func:`anf_sketches` — one edge ⋈ state
    shuffle per radius over a pinned source-partitioned edge table,
    O(V·k) state; the running estimate and harmonic sum ride in the
    pinned state as two doubles per vertex, so the result reads only the
    last pin.  No reference counterpart (python-graphblas has no
    sketches); this is the scale path the exact
    ``algorithms/centrality.harmonic_sampled`` cannot take past a few
    thousand sources.
    """
    src, dst = ("j", "i") if reverse else ("i", "j")
    e = simple(edges, src, dst).toDF("s", "d")
    verts = vertex_ids(e, "s", "d")
    n_verts = verts.count()

    with loop_shuffle_width(edges.sparkSession, n_verts) as width:
        e = materialize(e.repartition(partitions or width, "s"))
        grow = _grow(e, k)
        r = 0

        def step(state: DataFrame) -> DataFrame:
            # left-associated Δ/r accumulation — the oracle mirrors this
            # exact expression tree, so the double arithmetic is
            # engine-bit-identical
            nonlocal r
            r += 1
            est = _estimate(k)
            return grow(state).select(
                "id", "sketch", est.alias("est"),
                (F.col("h") + (est - F.col("est")) / F.lit(float(r))).alias("h"))

        state, _ = fixpoint(
            materialize(
                verts.select("id", F.array(_digest64()).alias("sketch"))
                .select("id", "sketch", _estimate(k).alias("est"),
                        F.lit(0.0).alias("h"))),
            step, radius)
    release(e)
    return state.select("id", F.round("h", 6).alias("harmonic"))


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
    return hit.select(F.round("_eff", 6).alias("eff_diameter"), "r", "frac")
