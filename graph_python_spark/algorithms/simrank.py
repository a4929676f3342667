"""SimRank vertex-pair similarity (Jeh & Widom, KDD 2002).

s(a, a) = 1;  s(a, b) = C / (|I(a)||I(b)|) · Σ_{i∈I(a), j∈I(b)} s(i, j)
where I(v) is the in-neighbor set — "two pages are similar if they are
referenced by similar pages", the canonical link-graph similarity measure.

GraphBLAS formulation: one SimRank sweep is S' = C·D⁻¹(Aᵀ S A)D⁻¹ with the
diagonal pinned to 1 — two mxm applications per iteration (the reference
expresses exactly this shape with ``A.T.mxm(S).mxm(A)`` over plus_times,
``graphblas/core/matrix.py`` mxm + ewise machinery).

Spark shape: S_k is kept SPARSE as unordered off-diagonal pairs (u < v, s).
Splitting S = I + S_off makes the sweep two relational pieces:

  - diagonal term  Σ_{i∈I(a)∩I(b)} 1  = common in-neighbor counts — the
    same directed wedge self-join as co-citation (vertexsim.py), computed
    ONCE and reused every iteration (it is loop-invariant);
  - off-diagonal term Σ s_k(i, j)·[i→a]·[j→b] — symmetrize the score pairs
    then join out-edges of BOTH endpoints and re-aggregate on (a, b).

Scale notes (100 TB): the score relation only ever holds pairs reachable
by co-ancestry, and every iteration multiplies scores by C/(|I(a)||I(b)|)
≤ C < 1, so mass decays geometrically; ``eps`` prunes sub-threshold pairs
from EVERY iterate (including s₁, whose unsieved expansion through the
double edge join is the pair-volume blowup), bounding the pair relation
between iterations.  Sieved scores are a LOWER BOUND of exact — they lose
only contributions flowing through pruned sub-eps pairs (standard
threshold-sieved SimRank).  ``max_indegree`` prunes the wedge
fan-out THROUGH mega-in-degree hubs exactly as vertexsim.jaccard does —
a hub contributes 1/|I|² ≈ 0 score anyway.  Both default off = exact,
which is what the DuckDB-oracled query runs at test scale.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graph_python_spark.operators.blocks import mirror, simple


def simrank(
    edges: DataFrame,
    iters: int = 2,
    c: float = 0.8,
    eps: float = 0.0,
    max_indegree: Optional[int] = None,
) -> DataFrame:
    """Sparse SimRank after ``iters`` sweeps from S₀ = I over the directed
    simple graph under ``edges`` (long columns src, dst; self-loops and
    duplicate arcs dropped).  Returns the off-diagonal upper triangle
    (u < v) as (u, v, score double); pairs never touched stay implicit 0,
    the diagonal stays implicit 1.
    """
    e = simple(edges.select(F.col("src").cast("long"), F.col("dst").cast("long")),
               "src", "dst")
    ind = e.groupBy(F.col("dst").alias("id")).agg(F.count("*").alias("ind"))
    if max_indegree is not None:
        keep = ind.filter(F.col("ind") <= max_indegree).select("id")
        e = e.join(keep.withColumnRenamed("id", "dst"), "dst")
    e = e.cache()

    # Loop-invariant diagonal contribution: common in-neighbor counts
    # (co-citation wedge), and the per-pair damping factor.
    cc = (
        e.alias("a")
        .join(e.alias("b"),
              (F.col("a.src") == F.col("b.src")) & (F.col("a.dst") < F.col("b.dst")))
        .groupBy(F.col("a.dst").alias("u"), F.col("b.dst").alias("v"))
        .agg(F.count("*").cast("double").alias("cnt"))
    )
    ia = ind.select(F.col("id").alias("u"), F.col("ind").alias("ind_u"))
    ib = ind.select(F.col("id").alias("v"), F.col("ind").alias("ind_v"))
    cc = cc.join(ia, "u").join(ib, "v").cache()

    s = cc.select(
        "u", "v",
        (F.lit(c) * F.col("cnt") / (F.col("ind_u") * F.col("ind_v"))).alias("score"),
    )
    if eps > 0.0:
        # sieve EVERY iterate, including s1: the next sweep expands the
        # score relation by ~avg_outdeg² through the double edge join, so
        # an unsieved s1 is exactly the pair-volume blowup eps exists to
        # bound (measured: 5.7M-edge Zipf fixture spilled the disk dry
        # from s1's expansion before this filter was hoisted).
        s = s.filter(F.col("score") >= eps)
    for _ in range(iters - 1):
        sym = mirror(s.select(F.col("u").alias("i"), F.col("v").alias("j"), "score"))
        t = (
            sym.join(e.select(F.col("src").alias("i"), F.col("dst").alias("a")), "i")
            .join(e.select(F.col("src").alias("j"), F.col("dst").alias("b")), "j")
            .filter(F.col("a") < F.col("b"))
            .groupBy(F.col("a").alias("u"), F.col("b").alias("v"))
            .agg(F.sum("score").alias("t"))
        )
        s = (
            cc.select("u", "v", "cnt", "ind_u", "ind_v")
            .join(t, ["u", "v"], "full_outer")
            .join(ia.withColumnRenamed("ind_u", "_iu"), "u")
            .join(ib.withColumnRenamed("ind_v", "_iv"), "v")
            .select(
                "u", "v",
                (F.lit(c)
                 * (F.coalesce(F.col("cnt"), F.lit(0.0)) + F.coalesce(F.col("t"), F.lit(0.0)))
                 / (F.col("_iu") * F.col("_iv"))).alias("score"),
            )
        )
        if eps > 0.0:
            s = s.filter(F.col("score") >= eps)
    return s
