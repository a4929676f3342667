"""TrustRank and spam-mass estimation (Gyongyi, Garcia-Molina, Pedersen:
"Combating Web Spam with TrustRank", VLDB 2004; "Link Spam Detection Based
on Mass Estimation", VLDB 2006).

TrustRank is PageRank with the teleport vector restricted to a hand-audited
trusted seed set: trust flows out of the good core along links, so pages
reachable only through spam farms score near zero.  Spam mass compares full
PageRank against a core-biased PageRank PR' whose teleport mass lands only
on the trusted pages (weight 1/n each, NOT renormalized to 1/|S|):
PR' <= PR component-wise (same linear recursion, smaller teleport vector),
and

    SM(v) = (PR(v) - PR'(v)) / PR(v)   in [0, 1)

is the fraction of v's rank that does NOT flow from the good core — the
standard link-spam indicator (SM near 1 = rank manufactured by spam).

GraphBLAS shape: the same semiring SpMV loop as pagerank_3f — the reference
computes pagerank as iterated ``A.T.mxv(r)`` over plus_times with a scalar
teleport fold (graphblas.algorithms pagerank / ``core/matrix.py`` mxv);
TrustRank only swaps the uniform teleport vector for a sparse one, i.e. the
ewise_add of the SpMV result with a masked constant vector.

Spark shape: ``centrality._seeded_pagerank``, the loop ``ppr_fixed`` runs
too — the out-degree normalization and damping fold into the transition
relation ONCE ((i, j, t = d/deg) built by one groupBy + one src-key join,
then pinned); each iteration is one src-key join + one dst-key partial
aggregation, both sparse over the reachable support.  pagerank_3f dangling convention
throughout (dangling mass drops; no redistribution), so DuckDB unrolls the
recursion exactly.  At 100 TB the trusted core is tiny (human-audited), so
the TrustRank support grows one hop per iteration from the seeds — the
state relation starts at |S| rows, not |V|.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.blocks import vertex_ids
from .centrality import _seeded_pagerank
from .pagerank import pagerank_fixed


def trustrank_fixed(
    edges: DataFrame,
    trusted: DataFrame,
    iterations: int = 20,
    damping: float = 0.85,
    partitions: Optional[int] = None,
) -> DataFrame:
    """TrustRank after exactly ``iterations`` steps: PageRank with teleport
    uniform over the ``trusted`` seed set (column id).  Returns the sparse
    (id, score) support — seeds plus everything within ``iterations`` hops
    of the good core; every absent vertex has score exactly 0 (that is the
    spam signal)."""
    n_seeds = trusted.count()
    if n_seeds == 0:
        return edges.sparkSession.createDataFrame([], "id long, score double")
    return _seeded_pagerank(edges, trusted, n_seeds, iterations, damping,
                           partitions)


def spam_mass(
    edges: DataFrame,
    trusted: DataFrame,
    iterations: int = 20,
    damping: float = 0.85,
    partitions: Optional[int] = None,
) -> DataFrame:
    """Relative spam mass per vertex: (id, pr, core_pr, spam_mass) where
    ``pr`` is pagerank_3f after ``iterations`` steps, ``core_pr`` the
    core-biased variant (teleport 1/n only on ``trusted``), and
    ``spam_mass = (pr - core_pr) / pr``.  Both recursions share the
    transition structure and iteration count, so the subtraction is
    exact in the VLDB'06 sense.  One vertex-keyed left join combines
    them; vertices unreached by the core keep core_pr = 0 and
    spam_mass = 1 - teleport'/pr exactly."""
    verts = vertex_ids(edges)
    n = verts.count()
    if n == 0:
        return edges.sparkSession.createDataFrame(
            [], "id long, pr double, core_pr double, spam_mass double")
    pr = pagerank_fixed(edges, damping=damping, iterations=iterations,
                        partitions=partitions)
    core = _seeded_pagerank(edges, trusted, n, iterations, damping,
                           partitions)
    return (
        pr.withColumnRenamed("score", "pr")
        .join(core.withColumnRenamed("score", "core_pr"), "id", "left_outer")
        .select(
            "id", "pr",
            F.coalesce(F.col("core_pr"), F.lit(0.0)).alias("core_pr"),
            ((F.col("pr") - F.coalesce(F.col("core_pr"), F.lit(0.0)))
             / F.col("pr")).alias("spam_mass"),
        )
    )
