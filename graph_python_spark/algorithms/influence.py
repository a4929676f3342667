"""Monte-Carlo influence spread under the Independent Cascade model
(Kempe, Kleinberg, Tardos: "Maximizing the Spread of Influence through a
Social Network", KDD 2003).

IC semantics: every directed edge (i, j) is "live" with probability p,
independently; the influence of a seed set is E[#vertices reachable from
the seeds over live edges].  The standard estimator runs s independent
live-edge samples and averages the reach — the evaluation primitive of
influence maximization / seeding studies on link graphs.

GraphBLAS shape: each sample's reach is iterated BFS over a masked
adjacency — ``v.vxm(A_live, any_pair)`` with accumulation, the reference's
BFS recipe (graphblas.algorithms bfs) over a filtered matrix.

Spark shape — TWO batching decisions that matter at 100 TB:

  * The s samples never materialize s edge tables.  Liveness is a
    DETERMINISTIC affine-mod coin u(i, j, t) computed ON THE JOINED ROWS
    of each frontier expansion (same two-round affine-mod-prime contract
    as pipeline/sampling._unit_hash — exact BIGINT math in any engine, so
    the DuckDB oracle replays every coin bit-for-bit).  The edge relation
    is pinned once and read once per round, not once per sample.
  * All s BFS runs advance in ONE vertex state keyed (sample, id) — the
    landmark_distances / ppr_batch multi-source batching — so s samples
    cost one BFS's shuffle count.

The state is ``(sample, id, _new)``, O(s x reached) rows, and a round is
one ``frontier_fixpoint`` step: the ``_new`` frontier joins the edges
once (coin filter, dedup, partial-aggregated before the exchange) and
the reached pairs the state lacks merge in by one full outer join.  The
loop stops after ``rounds`` rounds or on the first round that reaches no
new pair, read off the pin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..pipeline.sampling import _MOD, _P1
from ..operators.blocks import simple
from ..plans.iterate import (frontier_fixpoint, loop_shuffle_width,
                             materialize, release)


def _edge_coin(i, j, t, salt: int):
    """u(i, j, t) in (0, 1]: chained affine rounds mod _MOD, one per mixed
    component plus the final wrap round (every intermediate < 1e15, exact
    in int64 on Spark and DuckDB alike)."""
    h1 = (i * _P1 + F.lit(salt)) % _MOD
    h2 = (h1 * _P1 + j) % _MOD
    h3 = (h2 * _P1 + t) % _MOD
    h4 = (h3 * _P1 + F.lit(99991)) % _MOD
    return (h4 + 1).cast("double") / F.lit(float(_MOD))


def influence_spread(
    edges: DataFrame,
    seeds: DataFrame,
    p: float = 0.2,
    samples: int = 8,
    rounds: int = 4,
    salt: int = 101,
) -> DataFrame:
    """Reach of ``seeds`` (column id) after ``rounds`` IC expansion rounds
    in each of ``samples`` deterministic live-edge samples over the
    directed simple graph under ``edges`` (long columns i, j).

    Returns one row per sample: (sample, reached) with reached counting
    the seeds themselves plus everything cascaded to within ``rounds``
    hops.  Mean over the sample column is the influence estimate;
    deterministic in (p, samples, rounds, salt), so a fixed SQL unroll
    oracles it exactly.
    """
    spark = edges.sparkSession
    e = simple(edges.select(F.col("i").cast("long"), F.col("j").cast("long")))
    e = materialize(e.repartition(
        int(spark.conf.get("spark.sql.shuffle.partitions")), "i"))

    def expand(frontier: DataFrame) -> DataFrame:
        return (
            frontier.join(e, frontier["id"] == e["i"])
            .filter(_edge_coin(F.col("i"), F.col("j"), F.col("sample"),
                               salt) <= F.lit(p))
            .select("sample", F.col("j").alias("id"))
            .distinct()
        )

    t = (spark.range(samples)
         .select(F.col("id").cast("long").alias("sample")))
    start = (
        seeds.select(F.col("id").cast("long").alias("id")).distinct()
        .crossJoin(F.broadcast(t))
        .select("sample", "id")
    )
    with loop_shuffle_width(spark, max(e.count(), 1)):
        reached, _ = frontier_fixpoint(start, expand, ["sample", "id"],
                                       rounds)
    release(e)
    return (
        reached.groupBy("sample")
        .agg(F.count("*").cast("long").alias("reached"))
    )
