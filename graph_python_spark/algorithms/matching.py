"""Maximal matching — deterministic greedy (Luby on the line graph).

Each round, an alive edge joins the matching iff its priority is the
strict minimum among all alive edges sharing either endpoint (a local
minimum of the conflict graph); matched endpoints leave, killing their
incident edges.  Priority(i, j, round) is md5 of the canonical pair key
plus the round — unique strings, so no tie-break is needed and the result
is a pure function of the graph (fixed-unroll SQL oracles replay it
exactly; rounds past the fixpoint see an empty edge set and are
identity).  A constant number of rounds removes a constant fraction of
edges in expectation (Israeli–Itai), so a small fixed unroll matches
almost everything — but maximality is only GUARANTEED at the fixpoint.
Run with ``rounds`` high enough for your graph, or verify with
``residual_alive_edges`` (one anti-join; 0 rows == maximal), which the
bench-scale pytest enforces.

Spark shape: the iterated state is the SHRINKING alive-edge relation.
Per round: one aggregate per endpoint (min priority via groupBy over the
endpoint-exploded relation), two broadcast-eligible joins back to the
edges, then an anti-join of the edge state against the matched-vertex
delta.  No windows, no collect; everything partitions on vertex/pair
keys.

Reference parity: matching is not in python-graphblas (its scope is
kernels — SURVEY.md §2.8); this is the LAGraph-style composition of the
same select/mask primitives, included for the link-graph workload
(content pairing, dedup conflict resolution).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graph_python_spark.operators.blocks import undirected, vertex_ids
from graph_python_spark.plans.iterate import release


def maximal_matching(edges: DataFrame, rounds: int = 4) -> DataFrame:
    """Greedy maximal matching over the undirected simple graph under
    ``edges`` (long columns i, j; direction/duplicates ignored).

    Returns matched edges (a, b, round) with a < b and ``round`` the
    1-based round that selected the edge.  No two returned edges share a
    vertex (pytest-enforced), and after convergence no alive edge
    remains (maximality on the fixpoint).
    """
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    alive = undirected(edges).localCheckpoint(eager=True)
    matched_parts = []
    for r in range(1, rounds + 1):
        pri = F.md5(F.concat_ws(":", F.col("a"), F.col("b"), F.lit(r)))
        e = alive.withColumn("_p", pri)
        # min priority per endpoint over the endpoint-exploded relation
        byv = (
            e.select(F.col("a").alias("v"), "_p")
            .unionByName(e.select(F.col("b").alias("v"), "_p"))
            .groupBy("v")
            .agg(F.min("_p").alias("_mn"))
        )
        wins = (
            e.join(byv.select(F.col("v").alias("a"), F.col("_mn").alias("_ma")), "a")
            .join(byv.select(F.col("v").alias("b"), F.col("_mn").alias("_mb")), "b")
            .filter((F.col("_p") == F.col("_ma")) & (F.col("_p") == F.col("_mb")))
            .select("a", "b")
            .localCheckpoint(eager=True)
        )
        matched_parts.append(wins.select("a", "b", F.lit(r).cast("long").alias("round")))
        dead = (
            wins.select(F.col("a").alias("v"))
            .unionByName(wins.select(F.col("b").alias("v")))
        )
        nxt = (
            alive.join(dead.select(F.col("v").alias("a")), "a", "left_anti")
            .join(dead.select(F.col("v").alias("b")), "b", "left_anti")
            .select("a", "b")
            .localCheckpoint(eager=True)
        )
        release(alive)
        alive = nxt
    release(alive)
    out = matched_parts[0]
    for p in matched_parts[1:]:
        out = out.unionByName(p)
    return out


def residual_alive_edges(edges: DataFrame, matched: DataFrame) -> DataFrame:
    """Edges of the input graph with BOTH endpoints unmatched by
    ``matched`` (a maximal_matching result).  A maximal matching leaves
    zero such edges — use ``residual_alive_edges(e, m).count() == 0`` to
    confirm the round budget reached the fixpoint."""
    used = vertex_ids(matched, "a", "b")
    return (
        undirected(edges)
        .join(used.select(F.col("id").alias("a")), "a", "left_anti")
        .join(used.select(F.col("id").alias("b")), "b", "left_anti")
    )


def weighted_matching(edges: DataFrame, rounds: int = 6,
                      weight: str = "v") -> DataFrame:
    """Distributed greedy WEIGHTED matching — the dominant-edge /
    locally-heaviest-edge algorithm (Preis STACS'99; Manne &
    Bisseling's parallel form): each round, an alive edge joins the
    matching iff it is the strict maximum at BOTH endpoints under the
    total order (weight desc, a asc, b asc); matched endpoints leave.
    The fixpoint is a ½-approximation of the maximum-weight matching —
    the standard distributed guarantee.

    Multi-edges collapse to their max weight first (dup_op=max), so the
    order is total and the result is a pure function of the input (the
    fixed-unroll SQL oracle replays it; rounds past the fixpoint are
    identity).  Returns (a, b, w, round) with a < b; no two rows share a
    vertex.

    Spark shape: identical to :func:`maximal_matching` — per round one
    endpoint-keyed argmax aggregate (map-side partials over the
    endpoint-exploded relation), two joins back, one anti-join shrink of
    the alive state.  The struct-max aggregate carries (w, -a, -b) so
    the per-endpoint argmax needs no window.
    """
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    alive = (
        edges.select(
            F.least(F.col("i"), F.col("j")).alias("a"),
            F.greatest(F.col("i"), F.col("j")).alias("b"),
            F.col(weight).cast("double").alias("w"))
        .filter(F.col("a") != F.col("b"))
        .groupBy("a", "b").agg(F.max("w").alias("w"))
        .localCheckpoint(eager=True)
    )
    matched_parts = []
    for r in range(1, rounds + 1):
        # best incident edge per endpoint under (w desc, a asc, b asc):
        # struct max over (w, -a, -b) — no window, pure partial agg
        key = F.struct(F.col("w"), (-F.col("a")).alias("_na"),
                       (-F.col("b")).alias("_nb"))
        byv = (
            alive.select(F.col("a").alias("v"), key.alias("_k"))
            .unionByName(alive.select(F.col("b").alias("v"), key.alias("_k")))
            .groupBy("v").agg(F.max("_k").alias("_mx"))
        )
        wins = (
            alive.withColumn("_k", key)
            .join(byv.select(F.col("v").alias("a"), F.col("_mx").alias("_xa")), "a")
            .join(byv.select(F.col("v").alias("b"), F.col("_mx").alias("_xb")), "b")
            .filter((F.col("_k") == F.col("_xa")) & (F.col("_k") == F.col("_xb")))
            .select("a", "b", "w")
            .localCheckpoint(eager=True)
        )
        matched_parts.append(
            wins.select("a", "b", "w", F.lit(r).cast("long").alias("round")))
        dead = (wins.select(F.col("a").alias("v"))
                .unionByName(wins.select(F.col("b").alias("v"))))
        nxt = (
            alive.join(dead.select(F.col("v").alias("a")), "a", "left_anti")
            .join(dead.select(F.col("v").alias("b")), "b", "left_anti")
            .select("a", "b", "w")
            .localCheckpoint(eager=True)
        )
        release(alive)
        alive = nxt
    release(alive)
    out = matched_parts[0]
    for p in matched_parts[1:]:
        out = out.unionByName(p)
    return out
