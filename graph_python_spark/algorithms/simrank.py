"""SimRank vertex-pair similarity (Jeh & Widom, KDD 2002).

s(a, a) = 1;  s(a, b) = C / (|I(a)||I(b)|) · Σ_{i∈I(a), j∈I(b)} s(i, j)
where I(v) is the in-neighbor set — "two pages are similar if they are
referenced by similar pages", the canonical link-graph similarity measure.

GraphBLAS formulation: one SimRank sweep is S' = C·D⁻¹(Aᵀ S A)D⁻¹ with the
diagonal pinned to 1 — two mxm applications per iteration (the reference
expresses exactly this shape with ``A.T.mxm(S).mxm(A)`` over plus_times,
``graphblas/core/matrix.py`` mxm + ewise machinery).

Spark shape: S_k is kept SPARSE as unordered off-diagonal pairs (u < v, s),
and S = I + S_off.  A sweep is one join-aggregate over the pair relation
(the SpGEMM-as-join-aggregate plan of the PODS 2020 paper in PAPERS.md):

  1. pairs = mirror(S_off) ∪ {(i, i, 1)}: the score pairs in both orders
     plus one identity row per vertex.  The identity rows ARE the
     diagonal term — their expansion is the co-citation count — so no
     co-citation relation is built or outer-joined;
  2. pairs ⋈ out(i), explode x ∈ out(i), repartition to hash(x) at the
     session width: the sweep's one wide exchange, moving the
     half-expanded rows (1.46M on the sf0.01 customer graph).  The
     identity rows need no join: (i, i, 1) ⋈ out(i) is the adjacency row
     of i itself;
  3. ⋈ out(j), explode y ∈ out(j), keep x < y, ``groupBy(x, y).sum``:
     the rows are already hash(x)-partitioned, so the aggregate runs in
     the stage that makes the products, with no second exchange;
  4. scale by C/(|I(x)||I(y)|) and apply the ``eps`` sieve.

out(v) comes from the cached ``operators/blocks.adjacency_table`` (exact
with hub chunks: a chunk row explodes a disjoint slice).  When it is
small enough the planner broadcasts it into the joins on i and j, and
the cached in-degree frame into the scaling joins, and a sweep plans
exactly one exchange.  When they do not broadcast, the join on i
shuffles the score pairs to hash(i), the join on j shuffles the
half-expanded rows again to hash(j) (the adjacency side is already
hash(s)-partitioned, so it does not move), the aggregate shuffles on
(x, y) and each in-degree join shuffles once more: the same result with
more exchanges, one of them the hash(x) repartition no later operator
uses.  The repartition is explicit because AQE would otherwise coalesce
the small pair relation into one partition and run the ~100× expansion
as a single task.

Every sweep but the last is cached, not pinned: ``mirror`` reads it
twice, in the next sweep's one job, and a pin would run a job of its
own (~1 s more per cold call on the sf0.01 customer graph, 4 vCPUs).
The returned relation is lazy: it reads the cached adjacency table, the
cached in-degree frame and, for ``iters`` ≥ 2, the cached earlier
sweeps; they stay in storage as long as the result may be read.

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

from graph_python_spark.operators.blocks import adjacency_table, mirror, simple


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
    the diagonal stays implicit 1.  ``iters`` = 0 is S₀ itself: no rows.
    """
    spark = edges.sparkSession
    if iters <= 0:
        return spark.createDataFrame([], "u long, v long, score double")
    e = simple(edges.select(F.col("src").cast("long"), F.col("dst").cast("long")),
               "src", "dst")
    ind = e.groupBy(F.col("dst").alias("id")).agg(F.count("*").alias("ind")).cache()
    if max_indegree is not None:
        keep = ind.filter(F.col("ind") <= max_indegree).select(F.col("id").alias("dst"))
        e = e.join(keep, "dst")
    adj = adjacency_table(e, "src", "dst")
    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    out_i = adj.select(F.col("s").alias("i"), F.col("ds").alias("xs"))
    out_j = adj.select(F.col("s").alias("j"), F.col("ds").alias("ys"))
    ind_x = ind.select(F.col("id").alias("x"), F.col("ind").alias("ind_x"))
    ind_y = ind.select(F.col("id").alias("y"), F.col("ind").alias("ind_y"))
    # the identity rows (i, i, 1) joined to out(i) are the adjacency rows
    # themselves: j = i, x ∈ out(i) (a hub's chunk rows explode disjoint
    # slices, so each x comes out once)
    ident = adj.select(F.col("s").alias("j"), F.explode("ds").alias("x"),
                       F.lit(1.0).alias("score"))

    def sweep(s: Optional[DataFrame]) -> DataFrame:
        half = ident
        if s is not None:
            pairs = mirror(s.select(F.col("u").alias("i"), F.col("v").alias("j"), "score"))
            half = half.unionByName(pairs.join(out_i, "i").select(
                "j", F.explode("xs").alias("x"), "score"))
        t = (half.repartition(width, "x")
             .join(out_j, "j")
             .select("x", F.explode("ys").alias("y"), "score")
             .filter(F.col("x") < F.col("y"))
             .groupBy("x", "y").agg(F.sum("score").alias("t")))
        new = t.join(ind_x, "x").join(ind_y, "y").select(
            F.col("x").alias("u"), F.col("y").alias("v"),
            (F.lit(c) * F.col("t") / (F.col("ind_x") * F.col("ind_y"))).alias("score"))
        # sieve EVERY iterate, including s1: the next sweep expands the
        # score relation by ~avg_outdeg² through the double edge join, so
        # an unsieved s1 is exactly the pair-volume blowup eps exists to
        # bound (measured: 5.7M-edge Zipf fixture spilled the disk dry
        # from s1's expansion before this filter was hoisted).
        return new.filter(F.col("score") >= eps) if eps > 0.0 else new

    s = None
    for _ in range(iters - 1):
        s = sweep(s).cache()
    return sweep(s)
