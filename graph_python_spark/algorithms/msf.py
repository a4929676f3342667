"""Minimum spanning forest — distributed Borůvka.

GraphBLAS formulation (LAGraph msf; SURVEY §2.8's semiring family): each
round every component selects its minimum-weight outgoing edge (a min_second
style reduction over the component-relabeled edge set), the selected edges
join the forest, and the touched components contract via pointer jumping —
exactly the FastSV hook/shortcut kernels reused on the component graph.
Components at least halve per round, so rounds <= log2(V).

Determinism: ties are broken by a composite scalar key
``wkey = w * 2^42 + u * 2^21 + v`` over the canonicalized (u < v) edge —
unique per edge, so the MSF is the unique minimum forest under the induced
total order and any engine replays it bit-identically.  The 2^21 packing
bounds vertex ids at ~2M and weights at ~2^21; for larger universes swap in
a wider packing or a (w, u, v) struct-min (Spark-side only).

With unique weights the per-round component pseudo-forest ``c -> other(c)``
has ONLY 2-cycles (the globally minimal edge of each merged cluster is
chosen from both ends — the classic Borůvka invariant), so hooking breaks
each mutual pair toward the smaller label and pointer jumping over the
resulting forest converges in O(log cluster-diameter) inner steps.

Spark shape: component labels live ON the edge state (no O(V) vertex->label
map is ever built or joined).  Each round the cross-component edge state is
min-reduced per component, relabeled through the O(#touched-components)
parent map (small — broadcastable once components start merging), and
CONTRACTED: parallel edges between the same component pair coalesce to
their minimum-key edge, so the state shrinks geometrically like the
component count.  Min-per-component is invariant under that coalescing
(min of mins), so the forest is unchanged — it is the unique MSF under the
total order either way, which is also why the unrolled SQL oracle may
relabel from the original edge set and still match.  All state is pinned
per round (localCheckpoint) and released on return.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graph_python_spark.plans.iterate import (fixpoint, iterative,
                                              loop_shuffle_width, materialize,
                                              release)

PACK_V = 1 << 21   # vertex-id bound for the composite key
PACK_W = 1 << 42


def _canonical(edges: DataFrame) -> DataFrame:
    """Undirected canonical edge set (u < v) with the composite key; parallel
    (u, v) duplicates collapse to the minimum-key edge."""
    u = F.least("i", "j")
    v = F.greatest("i", "j")
    e = (
        edges.filter(F.col("i") != F.col("j"))
        .select(u.alias("u"), v.alias("v"), F.col("w").cast("long").alias("w"))
        .withColumn("wkey", F.col("w") * F.lit(PACK_W)
                    + F.col("u") * F.lit(PACK_V) + F.col("v"))
    )
    # within a (u, v) group the key order IS the weight order, so min(w)
    # pairs with min(wkey) — w is carried through exactly (never recovered
    # by dividing the key back, which would round through a double)
    return (
        e.groupBy("u", "v")
        .agg(F.min("wkey").alias("wkey"), F.min("w").alias("w"))
        .select("u", "v", "w", "wkey")
    )


@iterative
def boruvka_msf(
    edges: DataFrame,
    max_rounds: int = 16,
    partitions: Optional[int] = None,
) -> tuple[DataFrame, int]:
    """Minimum spanning forest of the undirected weighted graph under
    ``edges`` (long columns i, j, w > 0; direction ignored, self-loops
    dropped, parallel edges collapsed to the smallest composite key).

    Returns ``(forest(u, v, w), rounds)``: the unique MSF under the
    composite total order (V - #components edges) and the number of
    Borůvka rounds executed (including the final empty round).
    """
    spark = edges.sparkSession
    canon = _canonical(edges)
    if partitions is not None:
        canon = canon.repartition(partitions, "u")
    # edge state carries its own component labels; initially label = vertex
    est = materialize(canon.select(
        "u", "v", "w", "wkey",
        F.col("u").alias("cu"), F.col("v").alias("cv")))
    n_edges = est.count()
    forest_parts: list[DataFrame] = []
    rounds = 0
    with loop_shuffle_width(spark, max(n_edges, 1)):
        for _ in range(max_rounds):
            rounds += 1
            if est.isEmpty():
                break
            # minimum outgoing edge per component (both directions)
            both = est.select(F.col("cu").alias("c"), "wkey", "u", "v", "w",
                              "cu", "cv") \
                .unionByName(est.select(F.col("cv").alias("c"), "wkey", "u", "v",
                                        "w", "cu", "cv"))
            me = materialize(
                both.groupBy("c").agg(
                    F.min_by(F.struct("u", "v", "w", "wkey", "cu", "cv"),
                             F.col("wkey")).alias("_e"))
                .select("c", F.col("_e.u").alias("u"), F.col("_e.v").alias("v"),
                        F.col("_e.w").alias("w"), F.col("_e.wkey").alias("wkey"),
                        F.col("_e.cu").alias("cu"), F.col("_e.cv").alias("cv"))
            )
            chosen = materialize(me.select("u", "v", "w").distinct())
            forest_parts.append(chosen)
            # hook: parent(c) = component at the other end; a mutual pair
            # (the unique-weight 2-cycle) breaks toward the smaller label
            pairs = me.select(
                "c", F.when(F.col("c") == F.col("cu"), F.col("cv"))
                .otherwise(F.col("cu")).alias("o"))
            mutual = pairs.alias("a").join(
                pairs.alias("b"),
                (F.col("a.o") == F.col("b.c")) & (F.col("b.o") == F.col("a.c")),
                "left_semi")
            parent = materialize(
                pairs.join(mutual.select(F.col("c").alias("_mc")),
                           pairs["c"] == F.col("_mc"), "left_outer")
                .select("c", F.when(F.col("_mc").isNotNull(),
                                    F.least("c", "o"))
                        .otherwise(F.col("o")).alias("p"))
            )
            # pointer jumping to roots (forest after 2-cycle break); the
            # _chg flag rides in the pinned state, so convergence costs
            # no probe job.  The round bound only has to pass log2 of the
            # forest depth, which never exceeds the vertex count.
            parent, _ = fixpoint(
                parent, _jump, n_edges + 1, changed=F.max("_chg"))
            # contract: relabel the edge state through the parent map
            # (every label in est chose an edge, so parent covers them all),
            # drop intra-component edges, and coalesce parallel edges per
            # component pair to their min-key edge — the state shrinks with
            # the component count
            pa = parent.select(F.col("c").alias("cu"), F.col("p").alias("_pu"))
            pb = parent.select(F.col("c").alias("cv"), F.col("p").alias("_pv"))
            relabeled = (
                est.join(pa, "cu", "left_outer")
                .join(pb, "cv", "left_outer")
                .select("u", "v", "w", "wkey",
                        F.coalesce("_pu", "cu").alias("cu"),
                        F.coalesce("_pv", "cv").alias("cv"))
                .filter(F.col("cu") != F.col("cv"))
            )
            est_next = materialize(
                relabeled.groupBy(
                    F.least("cu", "cv").alias("cu"),
                    F.greatest("cu", "cv").alias("cv"))
                .agg(F.min_by(F.struct("u", "v", "w", "wkey"),
                              F.col("wkey")).alias("_e"))
                .select(F.col("_e.u").alias("u"), F.col("_e.v").alias("v"),
                        F.col("_e.w").alias("w"),
                        F.col("_e.wkey").alias("wkey"), "cu", "cv")
            )
            release(est, me, parent)
            est = est_next

    if forest_parts:
        allf = forest_parts[0]
        for p in forest_parts[1:]:
            allf = allf.unionByName(p)
        forest = materialize(allf.select("u", "v", "w").distinct())
    else:
        forest = spark.createDataFrame([], "u long, v long, w long")
    release(*forest_parts, est)
    return forest, rounds


def _jump(parent: DataFrame) -> DataFrame:
    """One pointer-jumping step p(c) ← p(p(c)) over (c, p), with a
    ``_chg`` flag for the rows whose pointer moved."""
    gp = F.coalesce("gp", "p")
    return (
        parent.select("c", "p")
        .join(parent.select(F.col("c").alias("p"), F.col("p").alias("gp")),
              "p", "left_outer")
        .select("c", gp.alias("p"), (gp != F.col("p")).alias("_chg"))
    )
