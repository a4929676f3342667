"""Degree-ordered vertex relabeling (WebGraph-style ID compression prep).

Web-graph frameworks (BV/WebGraph, GBBS) renumber vertices by descending
degree before storage: hubs get small contiguous IDs, which (a) makes
gap-encoded adjacency lists compress dramatically and (b) co-locates the
hot vertices in the same partitions/cache lines.  The reference's analogue
is the permutation output of ``ss.sort`` (ss/vector.py:1562-1622) applied
to the degree vector; here the ranking itself must be distributed.

Spark shape: degrees via one groupBy, then the two-phase global rank used
by the ss.sort kernel (operators/vector.py:_global_ranked) — range-
repartition on (deg DESC, id ASC), rank locally per partition in parallel,
add O(P) per-partition offsets (the only ordering window runs on the
partition-count-sized offset relation, never the data).  No global
single-task sort at any scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from graph_python_spark.operators.blocks import symmetric, undirected


def degree_relabel(edges: DataFrame) -> DataFrame:
    """(id, new_id, deg): dense new IDs 0..n-1 by (deg DESC, id ASC) over
    the undirected degree of the simple graph under ``edges`` (long
    columns src, dst; both endpoints count, self-loops dropped)."""
    sym = symmetric(edges.select(F.col("src").cast("long"),
                                 F.col("dst").cast("long")), "src", "dst")
    deg = sym.groupBy(F.col("s").alias("id")).agg(F.count("*").alias("deg"))
    order = [F.col("deg").desc(), F.col("id").asc()]
    rp = deg.repartitionByRange(*order).withColumn("_pid", F.spark_partition_id())
    counts = rp.groupBy("_pid").agg(F.count("*").alias("_cnt"))
    woff = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "_pid", F.coalesce(F.sum("_cnt").over(woff), F.lit(0)).alias("_off"))
    wloc = Window.partitionBy("_pid").orderBy(*order)
    return (
        rp.join(F.broadcast(offsets), "_pid")
        .select("id",
                (F.row_number().over(wloc) + F.col("_off") - 1).alias("new_id"),
                "deg")
    )


def relabel_locality(edges: DataFrame, mapping: DataFrame) -> DataFrame:
    """One-row report of the relabeling's edge locality: mean |Δid| over
    the undirected simple edges (one a < b row per edge) under the
    ORIGINAL ids vs the NEW ids
    (small mean gap = good cache/partition locality, the quantity
    gap-encoded adjacency compresses).  Two broadcast-free id-keyed joins;
    the mapping is the only relation touched twice."""
    und = undirected(edges.select(F.col("src").cast("long"),
                                  F.col("dst").cast("long")), "src", "dst")
    ma = mapping.select(F.col("id").alias("a"), F.col("new_id").alias("ns"))
    mb = mapping.select(F.col("id").alias("b"), F.col("new_id").alias("nd"))
    return (
        und.join(ma, "a").join(mb, "b")
        .agg(
            F.round(F.avg(F.abs(F.col("a") - F.col("b"))), 6).alias("mean_gap_old"),
            F.round(F.avg(F.abs(F.col("ns") - F.col("nd"))), 6).alias("mean_gap_new"),
            F.count("*").cast("long").alias("n_edges"),
        )
    )
