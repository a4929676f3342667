"""Spectral gap of the normalized adjacency — deflated power iteration.

|λ₂| of P = D^{-1/2} A D^{-1/2} (undirected simple graph) controls
mixing time, conductance (Cheeger), and community structure: gap
1 − |λ₂| near 0 means bottlenecked/clustered, near 1 means
expander-like.  The dominant eigenpair of P is known in closed form
(λ₁ = 1, v₁ ∝ √deg on a connected graph), so the second eigenvalue is
reachable by POWER ITERATION WITH DEFLATION — project v₁ out of the
iterate each step and the iteration converges to the second-largest
|eigenvalue|; no Lanczos, no d×d matrix, state is one (id, x) vector.

Engine-parity contract (the PCA/k-means discipline): every reduction is
quantized to integer nano-units before the sum (BIGINT, order-
independent); the per-step scalars (deflation coefficient, norm) are
plain doubles computed with the same expression tree the unrolled
DuckDB oracle uses.

Scale shape: y = P x is the one pinned ``fixpoint`` state.  A round
folds both scalars off the PINNED y in-plan (off a lazy y the SpMV
would rerun per scalar) and runs ONE edge ⋈ x SpMV exchange over the
pinned source-partitioned symmetric relation (the PageRank plan); x is
O(V) thin rows.  Only the last norm is read on the driver.

Reference parity: python-graphblas expresses the same SpMV chain via
mxv over plus_times (reference graphblas/core/matrix.py mxv); the
deflation/Rayleigh loop is the composition layer the reference leaves
to the user (its docs' power-iteration examples stop at λ₁).
"""

from __future__ import annotations

import math
from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from graph_python_spark.operators.blocks import symmetric
from graph_python_spark.plans.iterate import (fixpoint, iterative,
                                              loop_shuffle_width, materialize,
                                              release)


def _q9(col):
    """Nano-quantized order-independent sum, as double."""
    return F.sum(F.round(col * 1e9, 0).cast("long")) / F.lit(1e9)


@iterative
def spectral_gap(
    edges: DataFrame,
    iterations: int = 8,
    partitions: Optional[int] = None,
) -> DataFrame:
    """Estimate |λ₂| of the symmetric normalized adjacency of the
    undirected simple graph under ``edges`` (i, j) by ``iterations``
    deflated power steps.  Returns ONE row:
    (n_vertices, iterations, lambda2_abs, spectral_gap) with
    lambda2_abs the final Rayleigh-norm estimate rounded 1e-6 and
    spectral_gap = round(1 − lambda2_abs, 6).

    The estimate converges from above at rate (|λ₃|/|λ₂|)^t; with a
    deterministic md5-seeded start vector the whole run is a pure
    function of the input (the DuckDB oracle unrolls the identical
    steps).  On a DISCONNECTED graph λ₂ = 1 and the gap is 0 — the
    correct answer (two components never mix).
    """
    both = symmetric(edges)
    deg = both.groupBy(F.col("s").alias("id")).agg(
        F.count(F.lit(1)).alias("_d"))
    spark = edges.sparkSession
    n_verts = deg.count()
    if n_verts == 0:
        # edgeless input: the 1-row folds below would aggregate empty
        # relations to NULL and float(None) raises — return the defined
        # degenerate answer instead (no second eigenvalue, gap 1)
        return spark.createDataFrame(
            [(0, iterations, 0.0, 1.0)],
            "n_vertices long, iterations long, lambda2_abs double, "
            "spectral_gap double")
    m2 = int(both.count())          # Σ deg = 2E, exact
    s2e = math.sqrt(float(m2))

    digest = (F.conv(F.substring(F.md5(F.col("id").cast("string")), 1, 15),
                     16, 10).cast("long").cast("double")
              / F.lit(float(16 ** 15)))

    def deflated(y: DataFrame) -> tuple[DataFrame, Column]:
        """The one-row (c, ‖z‖²) with c = ⟨v₁, y⟩, and the Column
        z = y − c·v₁ over y ⋈ that row (c is folded once)."""
        z = F.col("_y") - F.col("_c") * F.col("_v1")
        c = y.agg(_q9(F.col("_v1") * F.col("_y")).alias("_c"))
        return (y.crossJoin(c)
                .agg(F.max("_c").alias("_c"), _q9(z * z).alias("_n2"))), z

    with loop_shuffle_width(spark, max(n_verts, 1)) as width:
        e = materialize(both.repartition(partitions or width, "d"))
        base = materialize(deg.select(
            "id", "_d",
            (F.sqrt(F.col("_d").cast("double")) / F.lit(s2e)).alias("_v1")))

        def step(state: DataFrame) -> DataFrame:
            x = state
            if "_y" in state.columns:
                # the last pinned y, deflated and normalized (0 once its
                # norm is 0, which zeroes y and stops the loop)
                scalars, z = deflated(state)
                x = state.crossJoin(scalars).select(
                    "id", "_d",
                    F.when(F.col("_n2") > 0, z / F.sqrt(F.col("_n2")))
                    .otherwise(F.lit(0.0)).alias("_x"))
            # y = P x: one SpMV exchange; inner contribution quantized
            # (hash x: its size estimate grows every round)
            contrib = (
                e.join(x.select(F.col("id").alias("d"), "_x",
                                F.col("_d").alias("_dd")).hint("shuffle_hash"),
                       "d")
                .groupBy(F.col("s").alias("id"))
                .agg(_q9(F.col("_x")
                         / F.sqrt(F.col("_dd").cast("double"))).alias("_s"))
            )
            return (base.join(contrib, "id", "left")
                    .select("id", "_d", "_v1",
                            (F.coalesce("_s", F.lit(0.0))
                             / F.sqrt(F.col("_d").cast("double"))).alias("_y")))

        y, done = fixpoint(base.select("id", "_d", (digest - 0.5).alias("_x")),
                           step, iterations, changed=F.max(F.col("_y") != 0))
        nrm2 = float(deflated(y)[0].first()["_n2"]) if done else 0.0
        release(y, base, e)
    lam = math.sqrt(nrm2) if nrm2 > 0 else 0.0
    return spark.createDataFrame(
        [(n_verts, iterations, round(lam, 6),
          round(1.0 - lam, 6))],
        "n_vertices long, iterations long, lambda2_abs double, "
        "spectral_gap double")
