"""Graph views and the adjacency table: how an edge list becomes the graph
an algorithm means.

Every undirected or simple graph an algorithm runs on is one of five
whole-relation views of the edge list, each the reference op named in
brackets (PAPER.md §1.1 and the triangle-count recipe):

* :func:`vertex_ids` — the edge support ``i ∪ j`` [row and column
  indices of A];
* :func:`mirror` — ``A ∪ Aᵀ``, other columns carried along [``A.T`` is a
  column swap, like ``MatrixFrame.T``];
* :func:`simple` — directed, self-loops and duplicate arcs dropped
  [``select.offdiag``, deduped];
* :func:`symmetric` — ``offdiag(A ∪ Aᵀ)`` deduped, hash(s)-partitioned;
* :func:`undirected` — one ``a < b`` row per undirected edge
  [``select.triu(1)``].

Weighted callers keep their own duplicate-collapsing aggregate (sum, max
or min, each by its own rule) and may take only the orientation step
from :func:`mirror`.

The sixth view is the cached adjacency: :func:`adjacency_table` groups
any of them into one src-partitioned row per vertex holding its sorted
neighbor array, with hub rows segmented so no array cell grows past
``max_chunk`` entries.  The PageRank, connected-components and
label-propagation loops probe it.  It dedupes itself, so no view is
``distinct``-ed before it.  Semirings are not evaluated here: every
semiring, built-in or registered, runs as JVM Column expressions through
``MatrixFrame.mxv/vxm/mxm``.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def vertex_ids(edges: DataFrame, src: str = "i", dst: str = "j") -> DataFrame:
    """Every vertex that is an endpoint of an edge, as ``(id)``.  One
    shuffle (the distinct)."""
    return (edges.select(F.col(src).alias("id"))
            .unionByName(edges.select(F.col(dst).alias("id")))
            .distinct())


def mirror(edges: DataFrame, src: str = "i", dst: str = "j") -> DataFrame:
    """``A ∪ Aᵀ``: every row plus its reverse, with the column names and any
    other columns kept (the reverse carries the row's values, as
    ``MatrixFrame.T`` carries ``v``).  No shuffle and no dedupe: a
    self-loop and a pair given in both directions each come out twice."""
    swap = {src: F.col(dst).alias(src), dst: F.col(src).alias(dst)}
    return edges.unionByName(
        edges.select(*[swap.get(c, F.col(c)) for c in edges.columns]))


def simple(edges: DataFrame, src: str = "i", dst: str = "j") -> DataFrame:
    """The directed simple graph: ``(src, dst)`` under the given names,
    self-loops and duplicate arcs dropped.  One shuffle."""
    return (edges.select(src, dst)
            .filter(F.col(src) != F.col(dst))
            .distinct())


def symmetric(edges: DataFrame, src: str = "i", dst: str = "j",
              partitions: Optional[int] = None) -> DataFrame:
    """The undirected simple graph with both directions as ``(s, d)``:
    ``offdiag(A ∪ Aᵀ)``, deduped.  One shuffle: hash(s) at ``partitions``
    (default: the session's shuffle width) co-locates every (s, d)
    duplicate, so the dropDuplicates after it needs no second exchange,
    and the result comes out hash(s)-partitioned for a degree groupBy or
    an s-keyed join."""
    width = partitions or int(edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    fwd = edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
    return (mirror(fwd, "s", "d")
            .filter(F.col("s") != F.col("d"))
            .repartition(width, "s")
            .dropDuplicates(["s", "d"]))


def undirected(edges: DataFrame, src: str = "i", dst: str = "j") -> DataFrame:
    """The undirected simple graph with one row per edge as ``(a, b)``,
    ``a < b``: ``triu(A ∪ Aᵀ, 1)``, deduped.  One shuffle."""
    return (
        edges.select(F.least(src, dst).alias("a"), F.greatest(src, dst).alias("b"))
        .filter(F.col("a") < F.col("b"))
        .distinct()
    )


def _segments(grouped: DataFrame, max_chunk: int) -> DataFrame:
    """Hub segmentation of one-row-per-vertex adjacency rows: a vertex with
    ``deg`` entries becomes ⌈deg/max_chunk⌉ rows, each holding a disjoint
    ``max_chunk``-bounded slice of ``ds``; the other columns (the TOTAL
    ``deg`` among them) repeat on every chunk row so consumers never need a
    second pass.  Projection + generate only: the input's hash(s)
    partitioning survives."""
    chunks = F.sequence(F.lit(0), F.expr(f"CAST((deg - 1) div {max_chunk} AS INT)"))
    lo = F.col("_k") * max_chunk + 1
    return (
        grouped.withColumn("_k", F.explode(chunks))
        .withColumn("ds", F.slice("ds", lo, max_chunk))
        .drop("_k")
    )


def adjacency_table(edges: DataFrame, src: str = "s", dst: str = "d",
                    partitions: Optional[int] = None,
                    max_chunk: int = 4_000_000) -> DataFrame:
    """Group an edge list into cached, deduplicated adjacency rows
    ``(s, ds: array<long>, deg: long)`` hash-partitioned by s into
    ``partitions`` (default: the session's shuffle width) — the
    per-partition CSR block of the north star, built ONCE per job.

    Hub rows are SEGMENTED: a vertex with degree above ``max_chunk`` emits
    ⌈deg/max_chunk⌉ rows, each carrying a bounded ``ds`` slice plus the
    vertex's TOTAL degree in ``deg``.  On power-law graphs a 10⁸-degree hub
    would otherwise be a single ~800 MB array cell; chunking bounds every
    cell at max_chunk×8 B, and downstream explode+⊕ consumers are
    associative so the split is exact (chunks are disjoint slices of the
    sorted, deduped neighbor list).

    This is the loop-invariant operand of every iterative sweep: the
    per-iteration join then probes O(V) adjacency rows instead of O(E) edge
    rows, and the O(E) fan-out happens inline via ``explode`` in the same
    whole-stage-codegen span as the partial aggregation that follows.
    Measured 4× over the edge-join loop at 57M edges (BASELINE.md).  Per-row
    arrays are bounded by max degree; a hub row's explode is one task's
    sequential scan, and the downstream partial agg caps shuffle volume at
    O(distinct dst per partition).

    Build strategy: one hash(s) shuffle, then ``array_sort(collect_set(d))``
    per s in the JVM — no Python worker in the job, and the aggregate runs
    on the already-partitioned rows, so the cached plan advertises
    hash(s) partitioning and a loop joining it at the same width needs no
    exchange on the adjacency side.  ``ds`` comes out sorted + deduped.
    Measured on 4 vCPUs against a per-vertex numpy walk over Arrow batches
    (``mapInPandas``): a cold ``pagerank.prepare_graph`` (vertex set plus
    this table) on a 100k-vertex / 570k-edge Zipf graph took 5.1 s against
    7.6 s; the build alone took 2.5–3.0 s against 7.0–7.6 s warm at 1M
    vertices / 5.7M edges.
    """
    # the build's one shuffle: hash(s) at an explicit width (AQE never
    # coalesces a numbered repartition, so the cached table keeps it)
    width = partitions or int(edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    grouped = (
        edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
        .repartition(width, "s").groupBy("s")
        .agg(F.array_sort(F.collect_set("d")).alias("ds"))
        .withColumn("deg", F.size("ds").cast("long"))
    )
    return _segments(grouped, max_chunk).cache()
