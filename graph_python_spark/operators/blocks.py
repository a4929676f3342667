"""Blocked-CSR kernels + skew salting — the Arrow/vectorized execution path.

North-star architecture: "PageRank as iterated semiring SpMV (plus_times
over block-diagonal CSR shards held in vectorized pandas/Arrow UDFs) ...
with explicit salted repartitioning for power-law degree skew".

Two kernel families:

  * ``spmv_blocked``  — the generic-semiring SpMV: edges ⋈ vector (one
    equi-join), then the ⊕-reduction runs INSIDE ``applyInPandas`` over row
    blocks: each Python worker receives one Arrow batch per block, builds a
    CSR-style (sorted-row, reduceat-segmented) representation in numpy, and
    reduces with the semiring's ufunc.  Zero per-row Python — everything is
    numpy ufunc calls over Arrow-backed arrays.  This is the path for
    semirings whose ⊕ is NOT a built-in Spark aggregate (custom monoids
    registered via ``semiring.register``).
  * ``spmv_salted``   — for built-in ⊕ under power-law dst skew: a two-stage
    combine, groupBy(dst, salt) partial ⊕ then groupBy(dst) final ⊕.  ⊕
    associativity makes the split exact; the salt spreads a hub vertex's
    in-edges over ``n_salts`` reducers.  AQE's skew-join handling does not
    apply inside iterative loops with a fixed plan, so the salting is
    explicit (SURVEY.md §4.3 item 3).

Block assignment is ``i % n_blocks`` (hash-like for dense ids) — the same
block id doubles as the shuffle key, so a block forms exactly one pandas
group.  At 100 TB, n_blocks tracks executor count × a small factor; each
block's CSR shard is bounded by maxRecordsPerBatch and fits executor memory.
"""

from __future__ import annotations

from typing import Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graph_python_spark.functions.semiring import Semiring
from graph_python_spark.operators.vector import VectorFrame


def _segment_reduce(keys: np.ndarray, vals: np.ndarray, np_add) -> tuple[np.ndarray, np.ndarray]:
    """CSR-style segmented ⊕-reduction: sort by key, reduceat over segment
    starts.  Pure numpy — the vectorized heart of the blocked kernel."""
    order = np.argsort(keys, kind="stable")
    k = keys[order]
    v = vals[order]
    starts = np.flatnonzero(np.r_[True, k[1:] != k[:-1]])
    reduced = np_add.reduceat(v, starts)
    return k[starts], reduced


def spmv_blocked(edges: DataFrame, x: VectorFrame, op: Semiring,
                 n_blocks: int = 32) -> VectorFrame:
    """y = A·x with the ⊕-reduction in Arrow-batched numpy per row block.

    edges: (i, j, v); x: VectorFrame over j. Result exact for any semiring
    whose np_add is an associative ufunc (plus/min/max/...).
    """
    if op.np_add is None or op.np_mul is None:
        raise ValueError(f"semiring {op.name} lacks numpy kernels (np_add/np_mul)")
    np_add, np_mul = op.np_add, op.np_mul

    xdf = x.df.select(F.col("i").alias("_xj"), F.col("v").alias("_xv"))
    ex = (
        edges.join(xdf, edges["j"] == xdf["_xj"])
        .select(F.col("i"), F.col("v").alias("_ev"), F.col("_xv"))
        .withColumn("_blk", F.pmod(F.col("i"), F.lit(n_blocks)))
    )

    def reduce_block(pdf: pd.DataFrame) -> pd.DataFrame:
        ii = pdf["i"].to_numpy()
        prod = np_mul(pdf["_ev"].to_numpy(dtype=np.float64),
                      pdf["_xv"].to_numpy(dtype=np.float64))
        keys, vals = _segment_reduce(ii, np.asarray(prod, dtype=np.float64), np_add)
        return pd.DataFrame({"i": keys, "v": vals})

    out = ex.groupBy("_blk").applyInPandas(reduce_block, "i long, v double")
    return VectorFrame(out, x._size)


def spmv_salted(edges: DataFrame, x: VectorFrame, op: Semiring,
                n_salts: int = 16) -> VectorFrame:
    """y = Aᵀ-push SpMV (aggregate by dst) with two-stage salted ⊕.

    Stage 1 spreads each dst's incoming products across n_salts partial
    reducers (salt = hash of src — deterministic, no RNG); stage 2 merges
    partials.  Exact because ⊕ is associative.
    """
    xdf = x.df.select(F.col("i").alias("_xi"), F.col("v").alias("_xv"))
    prods = (
        edges.join(xdf, edges["i"] == xdf["_xi"])
        .select(F.col("j"), op.mul(F.col("v"), F.col("_xv")).alias("_m"),
                F.pmod(F.xxhash64(F.col("i")), F.lit(n_salts)).alias("_salt"))
    )
    partial = prods.groupBy("j", "_salt").agg(op.add_agg(F.col("_m")).alias("_p"))
    out = (
        partial.groupBy(F.col("j").alias("i"))
        .agg(op.add_agg(F.col("_p")).alias("v"))
    )
    return VectorFrame(out, None)


def _segments(grouped: DataFrame, max_chunk: int, arrays: tuple[str, ...]) -> DataFrame:
    """Hub segmentation of one-row-per-vertex adjacency rows: a vertex with
    ``deg`` entries becomes ⌈deg/max_chunk⌉ rows, each holding a disjoint
    ``max_chunk``-bounded slice of every array in ``arrays``; the other
    columns (the TOTAL ``deg`` among them) repeat on every chunk row so
    consumers never need a second pass.  Projection + generate only: the
    input's hash(s) partitioning survives."""
    chunks = F.sequence(F.lit(0), F.expr(f"CAST((deg - 1) div {max_chunk} AS INT)"))
    lo = F.col("_k") * max_chunk + 1
    return (
        grouped.withColumn("_k", F.explode(chunks))
        .withColumns({a: F.slice(a, lo, max_chunk) for a in arrays})
        .drop("_k")
    )


def _by_src(edges: DataFrame, partitions: Optional[int]) -> DataFrame:
    """The build's one shuffle: hash(s) at an explicit width (AQE never
    coalesces a numbered repartition, so the cached table keeps it)."""
    width = partitions or int(edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return edges.repartition(width, "s")


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
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
    grouped = (
        _by_src(e, partitions).groupBy("s")
        .agg(F.array_sort(F.collect_set("d")).alias("ds"))
        .withColumn("deg", F.size("ds").cast("long"))
    )
    return _segments(grouped, max_chunk, ("ds",)).cache()


def weighted_adjacency_table(edges: DataFrame, src: str = "s",
                             dst: str = "d", wcol: str = "w",
                             partitions: Optional[int] = None,
                             max_chunk: int = 4_000_000) -> DataFrame:
    """Weighted twin of :func:`adjacency_table`: cached rows
    ``(s, ds: array<long>, ws: array<double>, deg: long, tw: double)``
    hash-partitioned by s, with ``ds``/``ws`` aligned (sorted by d,
    duplicate (s, d) weights plus-combined — ``Matrix.build`` dup_op=plus,
    reference graphblas/core/matrix.py:643-698), ``deg`` the TOTAL distinct
    out-degree and ``tw`` the TOTAL out-weight on every chunk row.

    Same single hash(s) shuffle and hub segmentation as the unweighted
    table; both groupBys (first (s, d) to sum duplicates, then s to collect
    the sorted (d, w) structs) run on the hash(s)-partitioned rows.
    """
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("d"),
                     F.col(wcol).cast("double").alias("w"))
    cells = F.array_sort(F.collect_list(F.struct("d", "w")))
    grouped = (
        _by_src(e, partitions).groupBy("s", "d").agg(F.sum("w").alias("w"))
        .groupBy("s").agg(cells.alias("_c"))
        .select("s",
                F.transform("_c", lambda c: c["d"]).alias("ds"),
                F.transform("_c", lambda c: c["w"]).alias("ws"))
        .withColumn("deg", F.size("ds").cast("long"))
        .withColumn("tw", F.aggregate("ws", F.lit(0.0), lambda acc, x: acc + x))
    )
    return _segments(grouped, max_chunk, ("ds", "ws")).cache()


def degree_skew_stats(edges: DataFrame, key: str = "j") -> dict:
    """Skew diagnostics: max/mean degree and the top-degree share —
    drives the decision to slot spmv_salted into a loop."""
    deg = edges.groupBy(key).agg(F.count("*").alias("d"))
    row = deg.agg(
        F.max("d").alias("max_d"),
        F.avg("d").alias("mean_d"),
        F.sum("d").alias("total"),
    ).first()
    return {
        "max_degree": row["max_d"],
        "mean_degree": float(row["mean_d"]),
        "max_share": row["max_d"] / row["total"],
        "skew_ratio": row["max_d"] / max(row["mean_d"], 1e-12),
    }


def blocked_csr_shards(edges: DataFrame, n_blocks: int = 32) -> DataFrame:
    """Materialize per-block CSR state (the checkpointable representation):
    one row per (block, row i) holding the column/value arrays sorted by j —
    i.e. a CSR row shard. This is what IterationState persists per partition.
    """
    return (
        edges.withColumn("_blk", F.pmod(F.col("i"), F.lit(n_blocks)))
        .groupBy("_blk", "i")
        .agg(
            F.array_sort(F.collect_list(F.struct("j", "v"))).alias("_cells"),
        )
        .select(
            F.col("_blk").alias("block"),
            "i",
            F.transform(F.col("_cells"), lambda c: c["j"]).alias("cols"),
            F.transform(F.col("_cells"), lambda c: c["v"]).alias("vals"),
        )
    )
